package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Indexer
import graft.sources.Tables
import graft.streaming.StreamingIndexer

/** The timed operations of one run. A traced run traces every one of
  * them; its tracing overhead is its op_p50_ms minus that of the untraced
  * run of the same workload and seed (compare.py reports it).
  */
final class Ops(ctx: Ctx) {
  val walls = mutable.ArrayBuffer[Double]()
  private val cpuMs = mutable.ArrayBuffer[Double]()
  /** Counter deltas of each traced operation, GC time included. */
  val deltas = mutable.ArrayBuffer[Map[String, Long]]()
  private val deadline = System.nanoTime() + ctx.seconds * 1000000000L

  def running(minOps: Int): Boolean =
    System.nanoTime() < deadline || walls.length < minOps

  def run[T](kind: String)(body: => T): (T, Double) = {
    val n = walls.length
    val before = if (ctx.traced) snapshot() else Map.empty[String, Long]
    val cpu0 = Main.workCpuMs
    val (r, s) = ctx.tracer.operation(s"$kind-$n") {
      ctx.tracer.span(s"bench.$kind")(ctx.time(body))
    }
    cpuMs += Main.workCpuMs - cpu0
    walls += s
    if (ctx.traced) {
      val after = snapshot()
      deltas += after.map { case (k, v) => k -> (v - before(k)) }
    }
    (r, s)
  }

  private def snapshot(): Map[String, Long] =
    ctx.counters.get.snapshot() + ("gc_ms" -> (Main.gcSeconds * 1000).toLong)

  /** The medians of the timed operations' wall time and of the CPU time
    * the process spent on them (all threads, JIT compilation left out: it
    * is warm-up, not the program's work). Only the CPU time is gated: on
    * a shared host, CPU steal moves wall times between runs by more than
    * any bound a regression gate could use, and CPU time not.
    */
  def finish(): Unit = {
    ctx.detail("op_p50_ms", Stats.median(walls.toSeq) * 1e3, "ms")
    ctx.e2e("cpu_ms_per_op", Stats.median(cpuMs.toSeq), "ms")
    ctx.notes("ops") = walls.length
    ctx.notes("op_ms") = walls.map(_ * 1e3).toSeq
    report()
  }

  /** Engine counters per traced operation. */
  private def report(): Unit = if (ctx.traced && deltas.nonEmpty) {
    def per(k: String) = deltas.map(_(k)).sum.toDouble / deltas.length
    val mb = 1048576.0
    ctx.layer("spark.jobs", per("jobs"), "count")
    ctx.layer("spark.stages", per("stages"), "count")
    ctx.layer("spark.tasks", per("tasks"), "count")
    ctx.layer("spark.task_s", per("run_ms") / 1e3, "s")
    ctx.layer("spark.cpu_s", per("cpu_ns") / 1e9, "s")
    ctx.layer("spark.slot_busy_frac",
      deltas.map(_("run_ms")).sum / 1e3 / (walls.sum * ctx.cores), "fraction")
    ctx.layer("spark.shuffle_write_mb", per("shuffle_write") / mb, "MB")
    ctx.layer("spark.shuffle_read_mb", per("shuffle_read") / mb, "MB")
    ctx.layer("spark.spill_mb", per("spill") / mb, "MB")
    ctx.layer("spark.input_mb", per("input") / mb, "MB")
    ctx.layer("spark.output_mb", per("output") / mb, "MB")
    ctx.layer("jvm.gc_s", per("gc_ms") / 1e3, "s")
  }
}

/** Set-up and layer probes shared by the workloads. */
object Common {
  /** Run `unit` `reps` times, recording each as a set-up repetition;
    * returns the last result.
    */
  def setupReps[T](ctx: Ctx, reps: Int)(unit: => T): T =
    (1 to reps).map { _ =>
      val (r, s) = ctx.time(unit)
      ctx.setupReps += s
      r
    }.last

  /** setup_s: process start to the first timed operation, with the
    * repeated set-up unit counted once at its median cost.
    */
  def markSetupDone(ctx: Ctx): Unit = {
    val sinceStart = ctx.startupS + (System.nanoTime() - ctx.wall0) / 1e9
    val s = sinceStart - ctx.setupReps.sum + Stats.median(ctx.setupReps.toSeq)
    ctx.e2e("setup_s", s, "s")
    ctx.notes("setup_rep_s") = ctx.setupReps.toSeq
  }

  /** Order-free check of a whole index against the model: per term
    * (df, Σtf, Σ doc_id·tf, Σ doc_id²), and every row in the letter
    * partition of its term.
    */
  def indexMatches(ctx: Ctx, indexPath: String, model: Model): Boolean = {
    val got = ctx.spark.read.parquet(indexPath)
      .groupBy("term").agg(count(lit(1)), sum("tf"),
        sum(col("doc_id") * col("tf")), sum(col("doc_id") * col("doc_id")),
        sum(when(col("first_letter") === substring(col("term"), 1, 1), 0).otherwise(1)))
      .collect()
    got.length == model.indexFingerprint.size && got.forall { r =>
      r.getLong(5) == 0 && model.indexFingerprint.get(r.getString(0)).contains(
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
  }

  /** Traced runs only: time one call into each write-path layer on a
    * fresh copy of the workload's corpus, so every workload reports the
    * same layer metrics over its own input.
    */
  def probes(ctx: Ctx, corpusDir: String, deltaDir: String, model: Model): Unit =
    if (ctx.traced) ctx.tracer.operation("probes") {
      val t = ctx.tracer
      val dir = ctx.linkCorpus(corpusDir)
      val (_, scan) = ctx.time(t.span("sources.documents")(ctx.drain(Tables.documents(ctx.spark, dir))))
      ctx.layer("sources.scan_s", scan, "s")
      val text = ctx.spark.read.parquet(s"$dir/documents.parquet").select("text").cache()
      text.count()
      val (_, tok) = ctx.time(t.span("functions.explodedTokens")(
        ctx.drain(text.select(TextFunctions.explodedTokens(col("text"))))))
      ctx.layer("functions.tokenize_s", tok, "s")
      ctx.layer("functions.tokens_per_s", model.totalTokens / tok, "1/s")
      // tokens in their own projection, as the dedup path shingles them
      val (_, sh) = ctx.time(t.span("functions.shinglesOfTokens")(ctx.drain(
        text.select(TextFunctions.tokens(col("text")).as("ts"))
          .select(explode(TextFunctions.shinglesOfTokens(col("ts"), 3))))))
      ctx.layer("functions.shingle_s", sh, "s")
      text.unpersist(true)
      val (_, post) = ctx.time(t.span("indexer.postings")(ctx.drain(Indexer.postings(ctx.spark, dir))))
      ctx.layer("indexer.postings_s", post, "s")
      val idx = ctx.fresh("probe_index")
      val (_, write) = ctx.time(t.span("indexer.writeIndex")(Indexer.writeIndex(ctx.spark, dir, idx)))
      ctx.layer("indexer.write_s", write, "s")
      ctx.layer("indexer.index_files", Ctx.dataFiles(idx).length.toDouble, "count")
      val (_, up) = ctx.time(t.span("indexer.upsertIntoIndex")(
        Indexer.upsertIntoIndex(ctx.spark, idx, ctx.spark.read.parquet(deltaDir))))
      ctx.layer("indexer.upsert_s", up, "s")
      // the same delta file once more, landed in a directory the
      // maintenance stream watches
      val watch = ctx.fresh("probe_watch")
      Files.createDirectories(Paths.get(watch))
      val q = t.span("streaming.startIndexMaintenance")(
        StreamingIndexer.startIndexMaintenance(ctx.spark, watch, idx))
      try {
        q.processAllAvailable()
        Files.createLink(Paths.get(watch, "delta.parquet"), Ctx.dataFiles(deltaDir).head)
        t.span("streaming.processAllAvailable")(q.processAllAvailable())
        val ps = q.recentProgress.filter(_.numInputRows > 0)
        def ms(key: String) = ps.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.doubleValue)).sum
        ctx.layer("streaming.batches", ps.length.toDouble, "count")
        ctx.layer("streaming.batch_ms", ms("triggerExecution"), "ms")
        ctx.layer("streaming.add_batch_ms", ms("addBatch"), "ms")
        ctx.layer("streaming.planning_ms", ms("queryPlanning"), "ms")
      } finally q.stop()
    }

  val Layers = Seq("bench", "sources", "functions", "indexer", "streaming",
    "materialized_index", "index_queries", "dedup", "spark")

  /** Every per-layer metric a traced run reports, with its unit. A
    * workload that does not exercise a layer reports it as 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "functions.tokenize_s" -> "s",
    "functions.tokens_per_s" -> "1/s", "functions.shingle_s" -> "s",
    "indexer.postings_s" -> "s", "indexer.write_s" -> "s",
    "indexer.index_files" -> "count", "indexer.upsert_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "materialized_index.ensure_s" -> "s",
    "materialized_index.ensure_positional_s" -> "s",
    "serve.plan_ms" -> "ms", "serve.exec_ms" -> "ms",
    "serve.jobs_per_query" -> "count", "serve.stages_per_query" -> "count",
    "serve.tasks_per_query" -> "count") ++
    SearchServe.Kinds.flatMap(k => Seq(s"plans.files_read.$k" -> "count",
      s"plans.partitions_read.$k" -> "count",
      s"plans.rows_scanned_per_row_returned.$k" -> "ratio")) ++ Seq(
    "index_queries.bm25_shuffle_mb" -> "MB",
    "dedup.shingles_s" -> "s", "dedup.labels_s" -> "s", "dedup.curate_s" -> "s",
    "dedup.candidates" -> "count", "dedup.pairs" -> "count",
    "dedup.pair_yield" -> "ratio", "dedup.clusters" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.slot_busy_frac" -> "fraction",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "jvm.live_heap_mb" -> "MB") ++
    Layers.map(l => s"$l.self_s" -> "s")

  /** Self time of every layer the benchmark's spans name. */
  def selfTimes(ctx: Ctx): Unit = if (ctx.traced) {
    val self = ctx.tracer.selfSeconds
    Layers.foreach(l => ctx.layer(s"$l.self_s", self.getOrElse(l, 0.0), "s"))
  }
}
