package graft.sql

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Asynchronous query-execution control — the
  * `athena.start_query_execution / wait_query / stop_query_execution /
  * get_query_execution` surface (`athena/_executions.py:34-273`) on
  * Spark's job-group machinery: each execution runs in its own job group
  * so it can be cancelled mid-flight, and status is tracked through the
  * returned handle.
  */
object Executions {

  sealed trait State
  case object Running extends State
  case object Succeeded extends State
  case object Failed extends State
  case object Cancelled extends State

  final case class QueryExecution(
      id: String,
      sql: String,
      future: Future[DataFrame],
      private[Executions] val spark: SparkSession) {
    def state: State = Executions.stateOf(id)
    def error: Option[Throwable] = Option(Executions.errors.get(id))
  }

  private val states = new ConcurrentHashMap[String, State]()
  private val errors = new ConcurrentHashMap[String, Throwable]()
  private val sqls = new ConcurrentHashMap[String, String]()
  private val results = new ConcurrentHashMap[String, DataFrame]()
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool { r =>
        val t = new Thread(r, "graft-query-exec"); t.setDaemon(true); t
      })
  /** Submit a statement asynchronously; rows are materialized inside
    * the future so cancellation interrupts real work. Routes through
    * [[SqlEngine.executeSql]]: Athena's `start_query_execution`
    * accepts ANY statement — SELECT, table DML, CTAS/UNLOAD, DDL — and
    * that is exactly how the reference issues its generated MERGE /
    * MSCK / ALTER statements (`athena/_executions.py:34`,
    * `_write_iceberg.py:200-215`). */
  def startQueryExecution(spark: SparkSession, sql: String,
      params: Map[String, Any] = Map.empty,
      tables: Map[String, String] = Map.empty): QueryExecution = {
    val id = UUID.randomUUID().toString
    states.put(id, Running)
    sqls.put(id, sql)
    val fut = Future {
      spark.sparkContext.setJobGroup(id, sql, interruptOnCancel = true)
      try {
        val df = SqlEngine.executeSql(spark, sql, params, tables)
        // Execute within the job group WITHOUT materializing rows on the
        // driver: walk the executed RDD and discard partitions executor-
        // side. The caller gets the lazy DataFrame back (re-running it is
        // planned work, not a driver-memory copy of the result set).
        df.queryExecution.toRdd.foreach(_ => ())
        // result frame first: a concurrent getQueryResults that sees
        // Succeeded must find the frame already registered
        results.put(id, df)
        states.put(id, Succeeded)
        df
      } catch {
        case e: Throwable =>
          if (states.get(id) != Cancelled) { states.put(id, Failed); errors.put(id, e) }
          throw e
      } finally spark.sparkContext.clearJobGroup()
    }
    QueryExecution(id, sql, fut, spark)
  }

  /** `athena.get_query_results(query_execution_id)` — the result frame
    * of a FINISHED execution, looked up by id (the reference re-reads
    * the execution's output location; here the lazy plan re-runs —
    * planned work, no driver-side result copy). Raises on an unknown
    * id or an unfinished/failed execution, as the service does. */
  def getQueryResults(id: String): DataFrame =
    stateOf(id) match {
      case Succeeded => results.get(id)
      case Running => throw new IllegalStateException(
        s"query $id is still running")
      case s => throw new IllegalStateException(
        s"query $id did not succeed: $s" +
          Option(errors.get(id)).map(e => s" (${e.getMessage})").getOrElse(""))
    }

  /** `athena.batch_get_query_execution` — known ids resolve to their
    * execution records; unknown ids come back in the UNPROCESSED list,
    * exactly the reference's split return. */
  def batchGetQueryExecution(ids: Seq[String])
      : (Seq[Map[String, String]], Seq[String]) = {
    val (known, unknown) = ids.partition(sqls.containsKey)
    (known.map(getQueryExecution), unknown)
  }

  /** Block until the execution finishes; returns the DataFrame on
    * success (`wait_query`). */
  def waitQuery(q: QueryExecution,
      atMost: Duration = Duration.Inf): DataFrame =
    scala.concurrent.Await.result(q.future, atMost)

  /** Cancel a running execution (`stop_query_execution`) — interrupts
    * the job group's running tasks. */
  def stopQueryExecution(q: QueryExecution): Unit = {
    states.put(q.id, Cancelled)
    q.spark.sparkContext.cancelJobGroup(q.id)
  }

  def stateOf(id: String): State =
    Option(states.get(id)).getOrElse(Failed)

  /** `get_query_execution` — metadata of one execution. */
  def getQueryExecution(id: String): Map[String, String] = Map(
    "QueryExecutionId" -> id,
    "Query" -> Option(sqls.get(id)).getOrElse(""),
    "State" -> stateOf(id).toString)

  /** `list_query_executions` / `get_query_executions` — ids (most queries
    * first come from here, then batch into [[getQueryExecution]]). */
  def listQueryExecutions(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    sqls.keySet().asScala.toSeq.sorted
  }
}
