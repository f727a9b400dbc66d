package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer made from the benchmark's own code. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** The spans of a traced run, kept in memory and written out when the
  * run ends. With tracing off `span` is a plain call and keeps nothing.
  */
final class Tracer(val traced: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var runId = ""
  private var nextId = 0

  /** Spans opened inside `body` share `id` as their run id. */
  def operation[T](id: String)(body: => T): T = {
    val prev = runId
    runId = id
    try body finally runId = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, runId, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: a span's duration minus what its children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.layer).view.mapValues(ss =>
      ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }
}

/** Spark engine counters from the public listener APIs. */
final class SparkCounters(spark: SparkSession) {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
    spill, input, output = new AtomicLong(0L)
  /** (output path, rows written, wall ns) of every parquet write. */
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
      }
      ()
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Plans.nodes(qe.executedPlan).foreach {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            writes.add((i.outputPath.toString,
              w.metrics.get("numOutputRows").map(_.value).getOrElse(0L), ns))
            ()
          case _ =>
        }
        case _ =>
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Every counter, after the listener bus has delivered all events. */
  def snapshot(): Map[String, Long] = {
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill" -> spill, "input" -> input,
      "output" -> output).view.mapValues(_.get).toMap
  }
}

/** Executed-plan facts read from a finished query's SQL metrics. */
object Plans {
  /** Every node of an executed plan, through AQE stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  final case class ScanFacts(files: Long, partitions: Long, rows: Long)

  /** Files, partitions and rows read by the file scans of a collected frame. */
  def scans(df: DataFrame): ScanFacts = {
    val ms = nodes(df.queryExecution.executedPlan).map(_.metrics)
      .filter(_.contains("numFiles"))
    def sum(k: String) = ms.flatMap(_.get(k)).map(_.value).sum
    ScanFacts(sum("numFiles"), sum("numPartitions"), sum("numOutputRows"))
  }

  /** Analysis + optimization + planning time of a frame's query, in ms. */
  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.collect {
      case (k, p) if k != "parsing" => p.durationMs
    }.sum.toDouble
}
