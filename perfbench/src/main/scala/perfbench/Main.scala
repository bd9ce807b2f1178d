package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => str(other.toString)
  }
}

/** Latency statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile with at least 10 samples above it, as
    * (value, percentile, sample count); with 10 samples or fewer, the
    * maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.length
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** The closed loop: one client thread issues the next operation only when
  * the previous one has returned. Each op is timed until its result is
  * fully materialized; ops run before `record = true` are warm-up and are
  * not counted. */
final class Harness(val spark: SparkSession, val tr: Tracer) {
  var record = false
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Named quantities the workloads report (counts, bytes, ratios). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  def sample(kind: String, seconds: Double): Unit =
    if (record) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  def samplesOf(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** One operation: a root span, its wall time, and failure accounting. */
  def op(kind: String)(body: => Unit): Unit = {
    if (record) attempted += 1
    tr.beginOp()
    val t0 = System.nanoTime()
    val ok =
      try { tr.span("op", kind)(body); true }
      catch {
        case e: Throwable =>
          if (!record) throw e
          failed += 1
          errors += s"$kind: $e"
          System.err.println(s"[perfbench] $kind failed: $e")
          e.getStackTrace.take(6).foreach(f => System.err.println(s"[perfbench]   at $f"))
          false
      }
    if (ok) sample(kind, (System.nanoTime() - t0) / 1e9)
    tr.drain(spark)
  }

  /** A timed step inside an op, sampled under `kind` and traced as a span
    * of `layer`. */
  def step[T](kind: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tr.span(layer, kind)(body)
    sample(kind, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** A call into one module: a span of `layer`, its time added to the
    * per-layer `counter`. */
  def call[T](layer: String, name: String, counter: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tr.span(layer, name)(body)
    finally tr.count(counter, (System.nanoTime() - t0) / 1e9)
  }

  /** Materialize a frame the way graft.Bench does: every output column
    * produced, nothing collected. Planning is forced first so it shows as
    * its own span. */
  def materialize(df: org.apache.spark.sql.DataFrame): Long = {
    tr.span("spark.plan", "executedPlan")(df.queryExecution.executedPlan)
    tr.span("spark.run", "toRdd.count")(df.queryExecution.toRdd.count())
  }
}

/** A workload: fixtures, warm-up, the measured closed loop, and the
  * correctness outputs. */
trait Workload {
  /** Build every fixture under `root`. */
  def fixture(root: String): Unit
  /** Ops run before measurement, not counted. */
  def warmup(): Unit
  /** One iteration of the closed loop (one or more ops). */
  def step(): Unit
  /** The workload's headline op kind and its own named metrics. */
  def headlineKind: String
  /** Latencies of the workload's incremental commits (a MERGE, a
    * streaming micro-batch). */
  def commitSamples: Seq[Double]
  def namedMetrics(): Unit
  /** Trace-only gauges read after the loop (table state, index state). */
  def traceGauges(): Unit = ()
  /** Write the outputs the correctness check compares (parquet under
    * `checkDir/<name>/`) and return name → DuckDB oracle SQL. */
  def checkOutputs(checkDir: String): Map[String, String]
  /** Extra facts for the Python-side checks. */
  def checkFacts: Map[String, Any] = Map.empty
}

object Main {
  def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val input = Paths.get(arg(args, "input")).toAbsolutePath.toString
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val t0EpochMs = arg(args, "t0-ms").toLong
    val seed = arg(args, "seed").toLong

    val tr = new Tracer(trace)
    val sessionT0 = System.nanoTime()
    val spark = graft.session.GraftSession.builder("local[4]", Some(4), "perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expr.AthenaBucketHash.register(spark)
    graft.plans.TopKPerKey.install(spark)
    tr.install(spark)
    val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
    val preS = (System.currentTimeMillis() - t0EpochMs) / 1e3

    val h = new Harness(spark, tr)
    val w: Workload = workload match {
      case "athena_query" => new AthenaQuery(h, input, seed)
      case "lake_merge" => new LakeMerge(h, input, seed)
      case "curate_dedup" => new CurateDedup(h, input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tf = System.nanoTime()
    w.fixture(work.resolve("fixture").toString)
    val fixtureS = (System.nanoTime() - tf) / 1e9
    val tw = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = preS + fixtureS + warmupS

    // measured closed loop
    tr.spans.clear(); tr.counters.clear()
    val gc0 = gcSeconds()
    h.record = true
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) w.step()
    val measuredS = (System.nanoTime() - loopT0) / 1e9
    h.record = false
    val gcS = gcSeconds() - gc0
    val rssMb = vmHwmMb()

    val head = h.samplesOf(w.headlineKind)
    val (tailV, tailP, tailN) = Stats.tail(head)
    h.named("op_tail_s") = (tailV, "s")
    w.namedMetrics()
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (Stats.median(head), "s"),
      "commit_p50_s" -> (Stats.median(w.commitSamples), "s"),
      "peak_rss_mb" -> (rssMb, "MB"))

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val breakdown = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      w.traceGauges()
      val all = tr.spans.toSeq
      val ops = all.filter(s => s.parent == 0 && s.layer == "op")
      val nOps = ops.size.max(1)
      val byOp = all.groupBy(_.op)
      // per op type: layer self times + the unattributed remainder (the
      // root span's own self time) = the op's wall time
      ops.groupBy(_.name).foreach { case (kind, roots) =>
        val layers = mutable.LinkedHashMap.empty[String, Double]
        var wall = 0.0
        roots.foreach { r =>
          wall += (r.end - r.start) / 1e9
          Tracer.selfTimes(byOp(r.op)).foreach { case (l, ns) =>
            layers(l) = layers.getOrElse(l, 0.0) + ns / 1e9
          }
        }
        val unattributed = layers.remove("op").getOrElse(0.0)
        val attributed = layers.values.sum
        breakdown(kind) = Map(
          "ops" -> roots.size, "wall_s" -> wall,
          "layer_self_s" -> layers.toMap, "unattributed_s" -> unattributed,
          "sum_over_wall" -> (if (wall > 0) (attributed + unattributed) / wall else 1.0))
      }
      // op wall time not covered by any Spark job
      val driverS = ops.map { r =>
        val jobs = byOp(r.op).filter(_.layer == "spark.exec")
          .map(j => (math.max(j.start, r.start), math.min(j.end, r.end)))
          .filter { case (a, b) => b > a }
        (r.end - r.start) - Tracer.unionNs(jobs)
      }.sum / 1e9
      val selfAll = ops.flatMap(r => Tracer.selfTimes(byOp(r.op)).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      tr.counters("spark.exec.driver_s") = driverS
      tr.counters("sql.front_s") = selfAll.getOrElse("sql", 0L) / 1e9
      tr.counters("jvm.gc_s") = gcS
      PerLayer.names.foreach { case (name, unit, kind) =>
        val v = kind match {
          case PerLayer.PerOp => tr.counters.getOrElse(name, 0.0) / nOps
          case PerLayer.Gauge => tr.counters.getOrElse(name, 0.0)
        }
        perLayer(name) = (v, unit)
      }
      perLayer("session.start_s") = (sessionStartS, "s")
      perLayer("setup.fixture_s") = (fixtureS, "s")
      perLayer("jvm.heap_peak_mb") = (heapPeakMb(), "MB")
      perLayer("trace.op_self_s") = (selfAll.getOrElse("op", 0L) / 1e9 / nOps, "s")
      Files.writeString(work.resolve("spans.json"), tr.jsonSpans)
    }

    val checkDir = work.resolve("check")
    val oracle = try w.checkOutputs(checkDir.toString) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] correctness outputs failed: $e")
        h.errors += s"check: $e"
        h.failed += 1
        Map.empty[String, String]
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> h.attempted, "failed" -> h.failed,
      "errors" -> h.errors.take(20).toSeq,
      "measured_s" -> measuredS,
      "setup" -> Map("pre_s" -> preS, "session_start_s" -> sessionStartS,
        "fixture_s" -> fixtureS, "warmup_s" -> warmupS),
      "tail" -> Map("kind" -> w.headlineKind, "percentile" -> tailP, "samples" -> tailN),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> h.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> h.samples.map { case (k, v) => k -> v.toSeq },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "breakdown" -> breakdown,
      "oracle" -> oracle,
      "facts" -> w.checkFacts)
    Files.writeString(work.resolve("jvm_result.json"), Json(result))
    spark.stop()
  }
}
