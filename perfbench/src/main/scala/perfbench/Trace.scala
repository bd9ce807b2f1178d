package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.{DataSourceScanExec, FileSourceScanExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` groups every span of one benchmark operation;
  * `parent` is the enclosing span (0 for an op's root span). Times are
  * nanoseconds on the `System.nanoTime` clock. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Long, end: Long)

/** Spans and counters of the traced run.
  *
  * With tracing off every call is a pass-through: no listener is attached
  * and nothing is recorded, so the end-to-end numbers measure the program
  * alone. With tracing on, the benchmark wraps each call into a module in
  * a span (`layer` = module name) and attaches a SparkListener and a
  * QueryExecutionListener; Spark jobs become child spans of the benchmark
  * call that was open when they ran. Everything stays in memory until the
  * run ends. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0
  /** Per-op counters, summed by name. */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private[perfbench] var listener: ExecListener = _
  /** Catalog table name → partition count, for the partition-read ratio. */
  var partitionsPresent: String => Long = _ => 0L
  // epoch-ms → nanoTime offset, for the listener's millisecond stamps
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def epochMsToNano(ms: Long): Long = ms * 1000000L + nanoAtEpoch

  def install(spark: SparkSession): Unit = if (on) {
    listener = new ExecListener(this)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.queries)
  }

  def count(name: String, v: Double): Unit =
    if (on) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  /** Start a new operation: later spans carry its id. */
  def beginOp(): Unit = op += 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
      }
    }

  /** Wait for the listener bus, then turn the jobs it saw into child
    * spans of the innermost benchmark span that contains each job. */
  def drain(spark: SparkSession): Unit = if (on) {
    org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
    val jobs = listener.takeJobs()
    val opSpans = spans.filter(_.op == op)
    opSpans.find(_.parent == 0).foreach { root =>
      jobs.foreach { case (jobId, s0, e0) =>
        // clipped to the op, parented to the deepest span holding its start
        val s = math.max(root.start, math.min(root.end, epochMsToNano(s0)))
        val e = math.max(s, math.min(root.end, epochMsToNano(e0)))
        val holder = opSpans.filter(sp => sp.start <= s && s <= sp.end)
          .minBy(sp => sp.end - sp.start)
        spans += Span(nextId, holder.id, op, "spark.exec", s"job $jobId", s, e)
        nextId += 1
      }
    }
  }

  def jsonSpans: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  /** Length of the union of `[start, end)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every layer in one op: a span's duration minus the part
    * its children cover, with children clipped to their parent. Spark jobs
    * of one parent may run concurrently; they count as the union of their
    * intervals. So the layer self times of an op add up to its wall time. */
  def selfTimes(opSpans: Seq[Span]): Map[String, Long] = {
    def clip(c: Span, p: Span) = (math.max(c.start, p.start), math.min(c.end, p.end))
    val kids = opSpans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    opSpans.filter(_.layer != "spark.exec").foreach { s =>
      val ch = kids.getOrElse(s.id, Nil).map(clip(_, s)).filter { case (a, b) => b > a }
      out(s.layer) += (s.end - s.start) - unionNs(ch)
      out("spark.exec") += unionNs(kids.getOrElse(s.id, Nil)
        .filter(_.layer == "spark.exec").map(clip(_, s)).filter { case (a, b) => b > a })
    }
    out.toMap
  }

  /** Physical-plan shape after execution: exchanges, scans, and for scans
    * of partitioned catalog tables the partitions read vs. present
    * (`present` maps a table name to its partition count). */
  def planShape(qe: QueryExecution,
      present: String => Long): (Int, Int, Long, Long) = {
    var exchanges = 0; var scans = 0; var partsRead = 0L; var partsAll = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case e: Exchange => exchanges += 1; e.children.foreach(walk)
        case f: FileSourceScanExec =>
          scans += 1
          val all = f.tableIdentifier.map(t => present(t.table)).getOrElse(0L)
          if (all > 0) {
            partsAll += all
            partsRead += f.metrics.get("numPartitions").map(_.value).getOrElse(all)
          }
        case _: DataSourceScanExec | _: BatchScanExec => scans += 1
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    (exchanges, scans, partsRead, partsAll)
  }
}

/** The traced run's Spark listener: job intervals become spans, task
  * metrics become `spark.exec.*` counters, and every query execution's
  * planning phases become `spark.plan.*` counters. */
final class ExecListener(t: Tracer) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  def takeJobs(): Seq[(Int, Long, Long)] = synchronized {
    val out = jobs.toList; jobs.clear(); out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    t.count("spark.exec.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    t.count("spark.exec.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val mb = 1.0 / (1 << 20)
    t.count("spark.exec.tasks", 1)
    if (!e.taskInfo.successful) t.count("spark.exec.task_failures", 1)
    stageSubmit.get(e.stageId).foreach(s =>
      t.count("spark.exec.task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    Option(e.taskMetrics).foreach { m =>
      t.count("spark.exec.task_cpu_s", m.executorCpuTime / 1e9)
      t.count("spark.exec.task_run_s", m.executorRunTime / 1e3)
      t.count("spark.exec.gc_s", m.jvmGCTime / 1e3)
      t.count("spark.exec.input_mb", m.inputMetrics.bytesRead * mb)
      t.count("spark.exec.output_mb", m.outputMetrics.bytesWritten * mb)
      t.count("spark.exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten * mb)
      t.count("spark.exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead * mb)
      t.count("spark.exec.spill_mb", m.diskBytesSpilled * mb)
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      ExecListener.this.synchronized { recordPlanning(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Catalyst phase times and executed-plan shape of one query
    * execution. */
  def recordPlanning(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def sec(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    t.count("spark.plan.analysis_s", sec("analysis"))
    t.count("spark.plan.optimizer_s", sec("optimization"))
    t.count("spark.plan.physical_s", sec("planning"))
    val (ex, sc, read, present) = Tracer.planShape(qe, t.partitionsPresent)
    t.count("spark.plan.exchanges", ex)
    t.count("spark.plan.scans", sc)
    t.count("io.partitions_read", read)
    t.count("io.partitions_present", present)
  }
}
