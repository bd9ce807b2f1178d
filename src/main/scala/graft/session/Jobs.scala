package graft.session

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Driver-side job overlap and task parallelism. */
private[graft] object Jobs {

  /** `df` round-robined over the session's default parallelism when a
    * batch frame arrives in fewer partitions than that — a one-file
    * corpus (one row group, so one task) ahead of a CPU-bound per-row
    * stage such as MinHash signatures, which would otherwise run on one
    * core. Any other frame passes through unchanged: one that already
    * has enough partitions, a streaming frame, and one whose partition
    * count only a job could tell (a plan with an exchange, a cached
    * relation or a subquery). Not for use inside a micro-batch, whose
    * frame is small and whose plan a repartition would reshape. */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val n = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.executedPlan
    // execute() of a narrow plan only builds its RDD
    val narrow = !plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange | _: InMemoryTableScanExec =>
        true
      case p => p.subqueries.nonEmpty
    }
    if (narrow && plan.execute().getNumPartitions < n) df.repartition(n)
    else df
  }

  /** `a` started on a second thread at once; [[Started.join]] waits
    * for it and returns its value or rethrows its failure. */
  def start[A](a: => A): Started[A] = {
    val f = new java.util.concurrent.FutureTask[A](() => a)
    val t = new Thread(f, "graft-concurrently")
    t.setDaemon(true)
    t.start()
    new Started(f)
  }

  final class Started[A] private[Jobs] (
      f: java.util.concurrent.FutureTask[A]) {
    def join(): A =
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  /** Run `a` on the calling thread and `b` on a second thread at the
    * same time — two independent Spark jobs, so the smaller one fills
    * the larger one's task tail instead of the two running end to end.
    * Both always finish before this returns, even when one fails, so
    * no write outlives the call; then `a`'s failure, else `b`'s, is
    * rethrown. */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val sb = start(b)
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    val rb = try Right(sb.join()) catch { case e: Throwable => Left(e) }
    (ra.fold(throw _, identity), rb.fold(throw _, identity))
  }
}
