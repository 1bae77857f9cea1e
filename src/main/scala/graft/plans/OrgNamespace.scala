package graft.plans

import graft.operators.ParquetLayout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation

/** Tenancy layer (§2.10, `organization/db_builder.rb:95-215`): every org gets
  * its own catalog database (`database+user` isolation mode re-expressed as a
  * Spark namespace), all SQL-surface queries run WITH that namespace current,
  * and the guard rejects any table reference that escapes it — the catalog
  * analog of the reference's per-org Postgres database + readonly role.
  *
  * The reference also rolls per-org credentials (`db_builder.rb:326-356`);
  * in a single-process Spark session there are no users, so the enforcement
  * point is the plan inspection in [[runReadonly]]: it is the only door to
  * the SQL surface, exactly as the readonly connection string was in the
  * reference.
  */
object OrgNamespace {

  final class CrossOrgAccess(msg: String) extends RuntimeException(msg)

  private def q(ident: String): String = {
    require(ident.matches("[A-Za-z_][A-Za-z0-9_]{0,62}"), s"invalid identifier: $ident")
    ident
  }

  /** `org_<key>` — the catalog database for one org (`db_builder.rb:95-114`). */
  def dbName(orgKey: String): String = s"org_${q(orgKey)}"

  /** Provision the org's namespace (idempotent). */
  def provision(spark: SparkSession, orgKey: String): String = {
    val db = dbName(orgKey)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    db
  }

  /** Drop an org's namespace and everything in it (org teardown). */
  def drop(spark: SparkSession, orgKey: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS ${dbName(orgKey)} CASCADE")

  /** Publish a replica table into the org's namespace, in the replica
    * layout ([[ParquetLayout.writer]]). */
  def registerTable(spark: SparkSession, orgKey: String, table: String,
                    df: DataFrame): Unit =
    ParquetLayout.writer(df).mode("overwrite")
      .saveAsTable(s"${dbName(orgKey)}.${q(table)}")

  /** The org's session: shares the catalog but owns its SessionState, so
    * the current-database scoping can't race other tenants on the same
    * SparkSession — the Spark analog of the reference's per-org connection
    * (`db_builder.rb:116-215`). */
  def orgSession(spark: SparkSession, orgKey: String): SparkSession = {
    val s = spark.newSession()
    s.catalog.setCurrentDatabase(dbName(orgKey))
    s
  }

  /** K6 — a saved view inside the org namespace (`saved_view.rb:20-52`):
    * the SQL must itself pass the readonly guard and stay in-namespace. */
  def createView(spark: SparkSession, orgKey: String, view: String,
                 sql: String): Unit = {
    validateNamespace(spark, orgKey, sql)
    ReadonlyGuard.validate(spark, sql)
    orgSession(spark, orgKey)
      .sql(s"CREATE OR REPLACE VIEW ${dbName(orgKey)}.${q(view)} AS $sql")
  }

  /** §2.10 — move a table between org namespaces (the reference's
    * `ALTER TABLE ... SET SCHEMA` replication migration,
    * `db_builder.rb:402-429`). */
  def migrateTable(spark: SparkSession, fromOrg: String, toOrg: String,
                   table: String): Unit = {
    provision(spark, toOrg)
    spark.sql(s"CREATE TABLE ${dbName(toOrg)}.${q(table)} AS " +
      s"SELECT * FROM ${dbName(fromOrg)}.${q(table)}")
    spark.sql(s"DROP TABLE ${dbName(fromOrg)}.${q(table)}")
  }

  /** Reject references that escape the org's namespace: unqualified names
    * resolve inside it (current database), qualified ones must name it.
    * Inspects the PARSED plan — qualified sneak-paths in CTEs and scalar
    * subqueries are plan nodes, not strings. The traversal is explicit
    * because `collect` skips `innerChildren` (where `UnresolvedWith` hides
    * its CTE definitions) and expression-held subquery plans. */
  def validateNamespace(spark: SparkSession, orgKey: String, sql: String): Unit = {
    val db = dbName(orgKey).toLowerCase
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val relations = scala.collection.mutable.Buffer.empty[Seq[String]]
    def visit(node: Any): Unit = node match {
      case qp: org.apache.spark.sql.catalyst.plans.QueryPlan[_] =>
        qp match {
          case u: UnresolvedRelation => relations += u.multipartIdentifier
          case _ =>
        }
        qp.children.foreach(visit)
        qp.innerChildren.foreach(visit)
        qp.expressions.foreach(_.foreach {
          case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
            visit(pe.plan)
          case _ => ()
        })
      case _ => ()
    }
    visit(parsed)
    relations.foreach { parts =>
      val ok = parts.map(_.toLowerCase) match {
        case Seq(_) => true // resolves in the org's current database (or CTE)
        case Seq(d, _) => d == db
        case Seq(cat, d, _) => cat == "spark_catalog" && d == db
        case _ => false
      }
      if (!ok)
        throw new CrossOrgAccess(
          s"table reference escapes org namespace $db: ${parts.mkString(".")}")
    }
  }

  /** §3.3 scoped to the org: the SQL surface entry point — namespace check,
    * SELECT-only guard, row cap, all inside the org's own session. */
  def runReadonly(spark: SparkSession, orgKey: String, sql: String,
                  maxRows: Int = ReadonlyGuard.DefaultMaxRows): ReadonlyGuard.QueryResult = {
    validateNamespace(spark, orgKey, sql)
    ReadonlyGuard.run(orgSession(spark, orgKey), sql, maxRows)
  }

  /** `db tables` listing for an org (`api/db.rb:76-88`). Session temp views
    * are excluded — `listTables` returns them for any database, but they
    * are not org data. */
  def tables(spark: SparkSession, orgKey: String): Seq[String] =
    spark.catalog.listTables(dbName(orgKey)).collect()
      .filter(!_.isTemporary).map(_.name).toSeq
}
