package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan}
import scala.jdk.CollectionConverters._

/** The arbitrary-SQL query surface with the reference's safety envelope
  * (§3.3): SELECT-only enforcement, row cap with `max_rows_reached`
  * (`organization.rb:23,146-164` — 1000 rows default, readonly role).
  *
  * The reference delegates safety to a Postgres readonly role; a single-user
  * Spark session has no such backstop, so the guard inspects the PARSED plan
  * before analysis: any command node (DDL/DML/SET/...) or insert is rejected.
  * Plan-level, not regex-level — CTEs, subqueries, EXPLAIN tricks all resolve
  * to plan nodes.
  */
object ReadonlyGuard {

  final case class QueryResult(df: DataFrame, maxRowsReached: Boolean) {
    def headers: Seq[String] = df.columns.toSeq
  }

  final class RejectedSql(msg: String) extends RuntimeException(msg)

  val DefaultMaxRows = 1000

  private def offendingNode(plan: LogicalPlan): Option[String] = {
    val bad = plan.collectFirst {
      case c: Command => c.nodeName
      case i: InsertIntoStatement => i.nodeName
    }
    bad.orElse {
      // catch parsed-but-not-yet-Command statements (CreateTableStatement etc.)
      plan.collectFirst {
        case n if n.nodeName.endsWith("Statement") &&
          !n.nodeName.startsWith("Select") => n.nodeName
      }
    }
  }

  /** Parse and reject non-read-only SQL without executing anything. */
  def validate(spark: SparkSession, sql: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    offendingNode(parsed).foreach { node =>
      throw new RejectedSql(
        s"only read-only queries are allowed; rejected plan node: $node")
    }
  }

  final class ScanBudgetExceeded(msg: String) extends RuntimeException(msg)

  /** Estimated bytes the query would SCAN: the sum over every file scan
    * in the PHYSICAL plan of its statically-pruned file listing
    * (`FileSourceScanExec.selectedPartitions.totalFileSize`) — partition
    * pruning for path-based reads happens at physical planning, not in
    * the optimizer, so a query that prunes to one partition is charged
    * one partition's bytes while the estimate still executes nothing
    * (the listing is a driver-side directory walk). Subquery-held plans
    * are walked explicitly (`subqueriesAll`) — a tree walk alone never
    * crosses a `PlanExpression`, so a scalar subquery over a huge table
    * would otherwise scan for free. Conservative by design: dynamic
    * (runtime) pruning is not credited, a CTE scanned once but
    * referenced twice counts per reference, and column pruning is not
    * prorated — the estimate upper-bounds file bytes on the scan path.
    * Non-file leaves (in-memory relations, local tables) charge zero:
    * the budget bounds file IO, which is what costs at warehouse scale. */
  def estimatedScanBytes(df: DataFrame): BigInt = {
    // subqueries surface as LOGICAL plans on the optimized tree
    // (PlanExpression.plan); each is planned separately (ofRows — no
    // execution) so its own file listings become visible. The physical
    // subqueriesAll would cast those logical plans to SparkPlan and CCE.
    val opt = df.queryExecution.optimizedPlan
    val spark = df.sparkSession
    (df.queryExecution.sparkPlan +:
      opt.subqueriesAll.map(sub =>
        org.apache.spark.sql.GraftColumnBridge.ofRows(spark, sub)
          .queryExecution.sparkPlan))
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          BigInt(f.selectedPartitions.totalFileSize)
      }).sum
  }

  /** Run with a SCAN budget as well as the row cap — the data-volume
    * analog of the row cap: at warehouse scale the expensive mistake is
    * not returning too many rows, it is scanning 100 TB to return 10.
    * Rejection happens BEFORE execution (plan statistics only), so a
    * refused query costs a parse + analyze, never a cluster scan. A
    * dashboard tier would pair this with the row cap, the timeout, and
    * the connection gate (QueryGate) as the serving envelope. */
  def runBudgeted(spark: SparkSession, sql: String, maxScanBytes: Long,
                  maxRows: Int = DefaultMaxRows): QueryResult = {
    validate(spark, sql)
    val df = spark.sql(sql)
    val est = estimatedScanBytes(df)
    if (est > BigInt(maxScanBytes))
      throw new ScanBudgetExceeded(
        s"query would scan ~$est bytes (budget $maxScanBytes); " +
          "narrow the partition/column footprint or raise the budget")
    cappedCollect(spark, df, maxRows)(collect => collect())._1
  }

  /** Parse, reject non-queries, run with a row cap. Mirrors
    * `execute_readonly_query_with_help`: returns the capped rows plus whether
    * the cap was hit. */
  def run(spark: SparkSession, sql: String,
          maxRows: Int = DefaultMaxRows): QueryResult = {
    validate(spark, sql)
    cappedCollect(spark, spark.sql(sql), maxRows)(collect => collect())._1
  }

  /** Cap an already-validated frame to the row budget — the serving leg
    * of cached runs ([[SavedQueries.runCached]]), where the frame is a
    * parquet read of a previously-guarded query's result. */
  def cap(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
          maxRows: Int = DefaultMaxRows): QueryResult =
    cappedCollect(spark, df, maxRows)(collect => collect())._1

  // (row count is threaded out of cappedCollect so the metered path does
  // not pay an extra Spark job to re-count rows it already holds)

  /** The shared cap-collect-rewrap: fetch maxRows+1 (the sentinel that
    * distinguishes "exactly maxRows" from "truncated"), rewrap the kept
    * rows as a DataFrame. The rewrap is a `LocalRelation` over the rows
    * already held, so collecting it runs no job. `wrap` receives the one
    * real collect so the metered path can put its listener around that
    * exact execution. */
  private def cappedCollect[A](spark: SparkSession,
                               df: org.apache.spark.sql.DataFrame, maxRows: Int)(
      wrap: (() => Array[org.apache.spark.sql.Row]) => A): (QueryResult, Long, A) = {
    var capped: Array[org.apache.spark.sql.Row] = null
    val wrapped = wrap(() => { capped = df.limit(maxRows + 1).collect(); capped })
    require(capped != null, "wrap must invoke the collect")
    val reached = capped.length > maxRows
    val rows = if (reached) capped.take(maxRows) else capped
    (QueryResult(spark.createDataFrame(rows.toSeq.asJava, df.schema), reached),
      rows.length.toLong, wrapped)
  }

  /** [[run]] plus per-query execution cost ([[QueryMetrics]]) — what a
    * shared deployment charges back per org: the admission gate is where
    * every query passes, so it is where attribution belongs. The listener
    * wraps the ACTUAL capped collect — one execution, metered as served —
    * rather than a side count() whose column-pruned plan could read far
    * fewer bytes than the query the caller gets back. */
  def runMetered(spark: SparkSession, sql: String,
                 maxRows: Int = DefaultMaxRows): (QueryResult, QueryMetrics.Metrics) = {
    validate(spark, sql)
    val (result, nRows, (_, m0)) = cappedCollect(spark, spark.sql(sql), maxRows)(
      collect => QueryMetrics.measureAction(spark)(collect()))
    (result, m0.copy(resultRows = nRows))
  }

  /** A failed query mapped to an actionable hint, mirroring the reference's
    * error helper (`organization.rb:171-191`: UndefinedTable -> "Run
    * `webhookdb db tables`", InsufficientPrivilege -> "must be read-only"). */
  final case class QueryError(kind: String, message: String, hint: String)

  val DefaultTimeoutMs: Long = 15000 // readonly statement_timeout, db_builder.rb:66

  /** `run` with the reference's full help envelope: error->hint mapping and
    * the 15 s statement timeout (enforced by cancelling the query's job
    * group — the Spark analog of the readonly role's statement_timeout). */
  def runWithHelp(spark: SparkSession, sql: String,
                  maxRows: Int = DefaultMaxRows,
                  timeoutMs: Long = DefaultTimeoutMs): Either[QueryError, QueryResult] = {
    val group = s"readonly-${java.util.UUID.randomUUID()}"
    val timer = new java.util.Timer("readonly-timeout", true)
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.setJobGroup(group, sql.take(120), interruptOnCancel = true)
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = {
        timedOut.set(true)
        spark.sparkContext.cancelJobGroup(group)
      }
    }, timeoutMs)
    try Right(run(spark, sql, maxRows))
    catch {
      case e: RejectedSql =>
        Left(QueryError("rejected", e.getMessage,
          "Queries must be read-only SELECTs; writes and DDL are not allowed."))
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null && e.getCondition.startsWith("TABLE_OR_VIEW_NOT_FOUND") =>
        Left(QueryError("undefined_table", e.getMessage,
          "Run `db tables` to see the tables in your namespace."))
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null && e.getCondition.startsWith("UNRESOLVED_COLUMN") =>
        Left(QueryError("undefined_column", e.getMessage,
          "Check the column list with `db tables` / DESCRIBE; names are case-sensitive as stored."))
      case e: Exception if timedOut.get() =>
        Left(QueryError("timeout",
          s"query exceeded the ${timeoutMs / 1000} s readonly statement timeout",
          "Narrow the query (add filters or LIMIT); the readonly surface caps statement time."))
    } finally {
      timer.cancel()
      spark.sparkContext.clearJobGroup()
    }
  }

  val DefaultMaxConcurrent = 50 // readonly role connection limit, db_builder.rb:62,131

  /** The per-org readonly connection cap: at most `limit` queries in flight
    * through one org's SQL surface. The reference enforces this with a PG
    * role connection limit; here it is an admission gate in front of
    * [[runWithHelp]] — over-limit calls get a hint, they do not queue (a
    * queued query would still hold the caller's request slot, which is the
    * resource the reference's limit protects). */
  final class QueryGate(limit: Int = DefaultMaxConcurrent) {
    private val slots = new java.util.concurrent.Semaphore(limit)

    def inFlight: Int = limit - slots.availablePermits()

    /** Admission: run `f` holding one slot, or reject without queueing. */
    def withSlot[A](f: => Either[QueryError, A]): Either[QueryError, A] =
      if (!slots.tryAcquire())
        Left(QueryError("too_many_connections",
          s"the readonly surface allows $limit concurrent queries",
          "Wait for running queries to finish or reduce client concurrency."))
      else try f finally slots.release()

    def run(spark: SparkSession, sql: String,
            maxRows: Int = DefaultMaxRows,
            timeoutMs: Long = DefaultTimeoutMs): Either[QueryError, QueryResult] =
      withSlot(runWithHelp(spark, sql, maxRows, timeoutMs))
  }
}
