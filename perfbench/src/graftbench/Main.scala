package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import com.sun.management.GarbageCollectionNotificationInfo

/** State shared by a workload run: the session, the tracer, the work
  * directory, and the operation and failure tallies.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val counters: Option[SparkCounters], val work: String,
                val seed: Long, val seconds: Int, val cores: Int,
                val startupS: Double) {
  val wall0: Long = System.nanoTime()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Set-up repetitions: the first timed operation would have started
    * this much later had set-up run once at its median cost.
    */
  val setupReps = mutable.ArrayBuffer[Double]()
  /** The gated metrics every workload reports (BENCHMARK.json end_to_end). */
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific end-to-end metrics, kept in the record only. */
  val detail = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, Any]()
  private var dirs = 0

  def traced: Boolean = tracer.traced

  /** A path under the work directory no earlier call returned. */
  def fresh(name: String): String = { dirs += 1; s"$work/${name}_$dirs" }

  /** Run one checked operation; an exception or a false check fails it. */
  def checked(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      false
    }
    if (!ok) {
      failed += 1
      if (failures.length < 20 && !failures.lastOption.exists(_.startsWith(what)))
        failures += s"$what: wrong answer"
    }
  }

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def detail(name: String, value: Double, unit: String): Unit = detail(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Write documents as `files` parquet files of `dir/documents.parquet`. */
  def writeDocs(docs: Array[Doc], dir: String, files: Int): Unit = {
    val rows = docs.toSeq.map(d => Row(d.id, d.text, "en", d.source, d.nChars))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, files)),
        Ctx.DocSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** A new corpus directory whose files are hard links to `src`'s: the
    * program sees a corpus it has never memoized, at no copy cost.
    */
  def linkCorpus(src: String): String = {
    val dst = fresh("corpus")
    Ctx.linkTree(Paths.get(src), Paths.get(dst))
    dst
  }

  /** Run a frame to completion without collecting it. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Ctx {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def linkTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }

  /** Bytes of the data files under `dir` (checksum and marker files skipped). */
  def dataBytes(dir: String): Long = dataFiles(dir).map(Files.size).sum

  def dataFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --record FILE`. Prints the result as the last stdout line
  * and writes the full record (metrics, spans, counters) to FILE.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "index_build" -> IndexBuild.run,
    "search_serve" -> SearchServe.run,
    "dedup_curate" -> DedupCurate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = new File(opt("work")).getAbsolutePath
    val started = ProcessHandle.current().info().startInstant().get().toEpochMilli
    HeapWatch.install()

    val spark = session(workload, work, cores)
    val startupS = (System.currentTimeMillis() - started) / 1e3

    val traced = opt("trace") == "1"
    val ctx = new Ctx(spark, new Tracer(traced),
      if (traced) Some(new SparkCounters(spark)) else None,
      work, opt("seed").toLong, opt("seconds").toInt, cores, startupS)
    ctx.notes("startup_s") = startupS
    try run(ctx) catch { case e: Throwable =>
      ctx.attempted += 1; ctx.failed += 1
      ctx.failures += s"workload aborted: $e"
      e.printStackTrace()
    }
    ctx.notes("wall_s") = (System.nanoTime() - ctx.wall0) / 1e9 + startupS
    // JIT compilation and collection over the whole run: the JVM's own
    // load on the cores the workload shares with it
    ctx.notes("jit_s") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    ctx.notes("gc_s") = gcSeconds
    ctx.e2e("peak_rss_mb", peakRssMb, "MB")
    if (traced) {
      ctx.layer("jvm.heap_peak_mb", HeapWatch.peakMb, "MB")
      ctx.layer("jvm.live_heap_mb", HeapWatch.liveMb, "MB")
      val reported = ctx.perLayer.toMap
      ctx.perLayer.clear()
      Common.PerLayer.foreach { case (n, u) => ctx.perLayer(n) = reported.getOrElse(n, (0.0, u)) }
    }

    val correct = ctx.failed == 0 && ctx.attempted > 0
    val metrics = asJson(if (traced) ctx.perLayer else ctx.endToEnd)
    val record = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> traced, "cores" -> cores, "correct" -> correct,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "ops_failed_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "failures" -> ctx.failures, "notes" -> ctx.notes,
      "end_to_end" -> asJson(ctx.endToEnd), "detail" -> asJson(ctx.detail),
      "per_layer" -> asJson(ctx.perLayer),
      "spans" -> ctx.tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run_id" -> s.runId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    Files.write(Paths.get(opt("record")), Json.render(record).getBytes("UTF-8"))
    spark.stop()
    println(Json.render(Map("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The session every run uses: local mode on `cores` threads, graft's
    * SQL extensions on, every scratch and spill path under `work`.
    */
  def session(name: String, work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def asJson(m: scala.collection.Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  /** CPU time this process has used, all threads, less the time the JIT
    * compiler threads have spent compiling, in ms.
    */
  def workCpuMs: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6 -
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}

/** Heap high-water marks from the collector's reports: the most heap in
  * use at any moment (just before a collection, or now), and the most
  * left in use after a collection (the live set, plus old-generation
  * garbage a young collection leaves).
  */
object HeapWatch {
  private val peak, live = new AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private def used(pools: java.util.Map[String, MemoryUsage]): Long =
    pools.asScala.collect { case (n, u) if heapPools(n) => u.getUsed }.sum

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          peak.accumulateAndGet(used(gc.getMemoryUsageBeforeGc), (a, b) => math.max(a, b))
          live.accumulateAndGet(used(gc.getMemoryUsageAfterGc), (a, b) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def peakMb: Double =
    math.max(peak.get, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  def liveMb: Double = live.get / 1048576.0
}
