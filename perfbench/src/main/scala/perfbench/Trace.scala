package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, PerfbenchPlans, QueryExecution}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-request execution counters gathered from the listener bus. */
final case class Exec(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                      runMs: Double = 0, cpuMs: Double = 0, schedMs: Double = 0,
                      skew: Double = 1.0, shuffleWrite: Double = 0,
                      shuffleRead: Double = 0, spill: Double = 0, peakMemMb: Double = 0)

/** Per-request scan and top-k counters read from executed plans. */
final case class Scan(files: Double = 0, bytes: Double = 0, rows: Double = 0,
                      partitions: Double = 0, scoredPairs: Double = 0) {
  def +(o: Scan): Scan = Scan(files + o.files, bytes + o.bytes, rows + o.rows,
    partitions + o.partitions, scoredPairs + o.scoredPairs)
}

final case class Span(id: Int, parent: Int, req: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class Req(id: Int, kind: String, exec: Exec, scan: Scan, results: Long)

/** Spans and counters of the traced run. With `on = false` every method
  * is a pass-through, so the timed run carries no tracing work at all.
  *
  * A request is one client-visible call (a search, a write, a batch
  * query, a pipeline stage). Spans nest inside it around each call into
  * a layer; after the request the tracer waits for the listener bus to
  * drain and attributes every job, stage, task and finished query
  * execution that arrived to that request. */
final class Trace(spark: SparkSession, val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  val reqs = ArrayBuffer[Req]()
  private var nextSpan = 1
  private var nextReq = 0
  private var stack: List[Int] = Nil
  private var curReq = 0

  private val lis = new ExecListener
  private val qes = new QeListener
  if (on) {
    spark.sparkContext.addSparkListener(lis)
    spark.listenerManager.register(qes)
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Run `f` as one request; `results` counts the rows it returned. */
  def request[T](kind: String)(f: => T)(results: T => Long): T =
    if (!on) f
    else {
      drain(); lis.take(); qes.take()
      nextReq += 1
      curReq = nextReq
      val out = span(kind)(f)
      drain()
      val scan = qes.take().map(Trace.scanOf).foldLeft(Scan())(_ + _)
      reqs += Req(curReq, kind, lis.take(), scan, results(out))
      curReq = 0
      out
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, curReq, name, t0, System.nanoTime())
      }
    }

  // The two actions below are the only ones the workloads time, so no
  // timed action is a count() that lets the optimizer prune columns.

  /** Collect a top-k frame: the forced planning phases become their own
    * spans in the traced run, then the action runs. Fails the run when a
    * row comes back narrower than the frame's schema. */
  def collect(df: DataFrame): Array[Row] = {
    force(df)
    val rows = span("exec")(df.collect())
    val width = df.schema.length
    if (rows.exists(_.length != width))
      throw new IllegalStateException(s"timed collect returned fewer than $width columns")
    rows
  }

  /** Materialize every output column of a batch frame through the noop
    * sink. The sink still re-plans the frame inside the action. */
  def noop(df: DataFrame): Unit = {
    force(df)
    span("exec")(df.write.format("noop").mode("overwrite").save())
  }

  private def force(df: DataFrame): Unit = if (on) {
    span("plan.optimize")(df.queryExecution.optimizedPlan)
    span("plan.physical")(df.queryExecution.executedPlan)
  }

  /** Self time per span name: duration minus the time its children cover. */
  def selfMs: Map[String, Double] = {
    val child = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s => s.ms - child.getOrElse(s.id, 0.0)).sum).toMap
  }

  def spansOf(name: String): Seq[Double] = spans.filter(_.name == name).map(_.ms).toSeq

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(lis)
    spark.listenerManager.unregister(qes)
  }
}

object Trace {
  private def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** Scan and scored-pair counts of one finished query execution. The
    * scored pairs are the rows leaving the `!isnan(similarity)` test
    * every store search applies right after scoring, whether it stays a
    * filter or becomes the condition of the query-batch join. */
  def scanOf(qe: QueryExecution): Scan =
    PerfbenchPlans.nodes(qe.executedPlan).map {
      case s: FileSourceScanExec =>
        Scan(metric(s, "numFiles"), metric(s, "filesSize"), metric(s, "numOutputRows"),
          metric(s, "numPartitions"))
      case f: FilterExec if f.condition.sql.contains("isnan") =>
        Scan(scoredPairs = metric(f, "numOutputRows"))
      case j: BaseJoinExec if j.condition.exists(_.sql.contains("isnan")) =>
        Scan(scoredPairs = metric(j, "numOutputRows"))
      case _ => Scan()
    }.foldLeft(Scan())(_ + _)
}

/** Job, stage and task counters since the last `take()`. */
private final class ExecListener extends SparkListener {
  private var jobs = 0
  private var stages = 0
  private var tasks = 0
  private var runMs, cpuMs, schedMs, shW, shR, spill, peak = 0.0
  private val taskMs = scala.collection.mutable.HashMap[Int, ArrayBuffer[Double]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    taskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += info.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuMs += m.executorCpuTime / 1e6
      schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory / 1048576.0)
    }
  }

  def take(): Exec = synchronized {
    val skews = taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    val e = Exec(jobs, stages, tasks, runMs, cpuMs, schedMs,
      if (skews.isEmpty) 1.0 else skews.max, shW, shR, spill, peak)
    jobs = 0; stages = 0; tasks = 0
    runMs = 0; cpuMs = 0; schedMs = 0; shW = 0; shR = 0; spill = 0; peak = 0
    taskMs.clear()
    e
  }
}

/** Query executions finished since the last `take()`. */
private final class QeListener extends QueryExecutionListener {
  private val done = ArrayBuffer[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { done += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized {
    val out = done.toSeq; done.clear(); out
  }
}
