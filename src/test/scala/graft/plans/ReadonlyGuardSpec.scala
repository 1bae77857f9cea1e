package graft.plans

import graft.SparkSpec

/** §3.3 SQL surface: SELECT-only enforcement at plan level + row cap. */
class ReadonlyGuardSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): Unit =
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .createOrReplaceTempView("guard_t")

  test("select passes, rows and headers returned") {
    setup()
    val r = ReadonlyGuard.run(spark, "SELECT id, v FROM guard_t ORDER BY id")
    assert(r.headers == Seq("id", "v"))
    assert(r.df.count() == 3)
    assert(!r.maxRowsReached)
  }

  test("row cap truncates and reports max_rows_reached") {
    setup()
    val r = ReadonlyGuard.run(spark, "SELECT id FROM guard_t", maxRows = 2)
    assert(r.df.count() == 2)
    assert(r.maxRowsReached)
  }

  test("writes and DDL are rejected at plan level") {
    setup()
    for (bad <- Seq(
      "DROP TABLE guard_t",
      "CREATE TABLE nope (id INT) USING parquet",
      "INSERT INTO guard_t VALUES (9, 'x')",
      "CREATE OR REPLACE VIEW v AS SELECT 1",
      "SET spark.sql.shuffle.partitions=1",
      "TRUNCATE TABLE guard_t"))
      assertThrows[ReadonlyGuard.RejectedSql](ReadonlyGuard.run(spark, bad))
  }

  test("CTEs and subqueries still pass") {
    setup()
    val r = ReadonlyGuard.run(spark,
      "WITH x AS (SELECT id FROM guard_t WHERE id > 1) SELECT count(*) AS n FROM x")
    assert(r.df.collect()(0).getLong(0) == 2)
  }

  test("saved queries validate on save and run capped; views are validated") {
    setup()
    val sq = new SavedQueries(spark)
    sq.save("q1", "SELECT id FROM guard_t")
    assert(sq.run("q1").df.count() == 3)
    assertThrows[ReadonlyGuard.RejectedSql](sq.save("evil", "DROP TABLE guard_t"))
    sq.createOrReplaceView("my_view", "SELECT id * 2 AS id2 FROM guard_t")
    assert(sq.runView("my_view").count() == 3)
    assertThrows[IllegalArgumentException](
      sq.createOrReplaceView("bad name!", "SELECT 1"))
    assert(sq.listTables().contains("my_view")) // the `db tables` surface
    // lineage audit without execution: the saved query's output column
    // resolves through the temp view and toDF rename to the PHYSICAL
    // origin (the local relation's tuple field), not the alias
    val lin = sq.lineage("q1")
    assert(lin("id") ==
      Set(ColumnLineage.SourceColumn("localrelation", "_1")))
  }

  test("public-token run path only sees queries marked public") {
    setup()
    val sq = new SavedQueries(spark)
    sq.save("priv", "SELECT id FROM guard_t")
    sq.save("pub", "SELECT id FROM guard_t", isPublic = true)
    assert(sq.runPublic("pub").df.count() == 3)
    // private ids are invisible through the public path, not "forbidden"
    assertThrows[NoSuchElementException](sq.runPublic("priv"))
    sq.setPublic("priv", isPublic = true)
    assert(sq.runPublic("priv").df.count() == 3)
    sq.setPublic("pub", isPublic = false)
    assertThrows[NoSuchElementException](sq.runPublic("pub"))
  }

  test("metered run returns the rows and their attributed cost") {
    setup()
    val (res, m) = ReadonlyGuard.runMetered(spark, "SELECT * FROM guard_t", maxRows = 2)
    assert(res.maxRowsReached)
    assert(res.df.count() == 2)
    assert(m.resultRows == 2) // cost is the served execution — capped rows
    assert(m.wallMs >= 0)
    assertThrows[ReadonlyGuard.RejectedSql](
      ReadonlyGuard.runMetered(spark, "DROP TABLE guard_t"))
  }

  test("scan budget refuses oversized reads BEFORE execution, prunes count") {
    val root = java.nio.file.Files.createTempDirectory("scanbudget").toString
    import spark.implicits._
    // partitioned table: two partitions of ~100 KB each
    (1 to 1000).map(i => (i.toLong, i % 2, "x" * 200)).toDF("id", "p", "payload")
      .write.mode("overwrite").partitionBy("p").parquet(root)
    spark.read.parquet(root).createOrReplaceTempView("budget_t")
    val full = ReadonlyGuard.estimatedScanBytes(
      spark.sql("SELECT * FROM budget_t"))
    assert(full > 0)
    // whole-table read over a budget below the table size: refused
    // (budget = 3/4 of the table — above either single partition, below
    // both: the partitions are near- but not exactly equal-sized)
    intercept[ReadonlyGuard.ScanBudgetExceeded] {
      ReadonlyGuard.runBudgeted(spark, "SELECT id FROM budget_t",
        maxScanBytes = (full * 3 / 4).toLong)
    }
    // the same budget passes once partition pruning halves the footprint
    val pruned = ReadonlyGuard.runBudgeted(spark,
      "SELECT id FROM budget_t WHERE p = 0",
      maxScanBytes = (full * 3 / 4).toLong, maxRows = 2000)
    assert(pruned.df.count() == 500)
    // a scalar subquery's scan is charged too (collectLeaves alone
    // never crosses a PlanExpression)
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("budget_tiny")
    intercept[ReadonlyGuard.ScanBudgetExceeded] {
      ReadonlyGuard.runBudgeted(spark,
        "SELECT id FROM budget_tiny WHERE id <= (SELECT count(*) FROM budget_t)",
        maxScanBytes = (full * 3 / 4).toLong)
    }
  }

  test("metered cost is the served collect, not a pruned side count") {
    // a side count() gets a column-pruned plan that can read ~zero bytes for
    // a projection-heavy query; metering the actual collect must charge the
    // real scan. Parquet-backed so inputMetrics.bytesRead is populated.
    val dir = java.nio.file.Files.createTempDirectory("metered").toString
    import spark.implicits._
    (1 to 1000).map(i => (i.toLong, "x" * 200)).toDF("id", "payload")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("metered_t")
    val (res, m) = ReadonlyGuard.runMetered(
      spark, "SELECT id, payload FROM metered_t", maxRows = 2000)
    assert(res.df.count() == 1000)
    assert(m.resultRows == 1000)
    assert(m.inputBytes > 10000,
      s"served collect must charge the real payload scan, got ${m.inputBytes}B")
  }

  test("the guarded result holds its rows: collecting it runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("guard-local").toString
    import spark.implicits._
    (1 to 50).map(i => (i.toLong, s"v$i", BigDecimal(i) / 4, new java.sql.Timestamp(i * 1000L)))
      .toDF("id", "v", "amt", "ts").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("guard_local_t")
    val sql = "SELECT id, v, amt, ts FROM guard_local_t WHERE id > 10"
    val direct = spark.sql(sql)
    val (res, _) = ReadonlyGuard.runMetered(spark, sql, maxRows = 30)
    assert(res.maxRowsReached)
    assert(res.df.schema == direct.schema)
    val (rows, m) = QueryMetrics.measureAction(spark)(res.df.collect())
    assert(m.jobs == 0, QueryMetrics.render(m))
    assert(rows.length == 30)
    assert(rows.toSet.subsetOf(direct.collect().toSet))
    val whole = ReadonlyGuard.run(spark, sql)
    assert(whole.df.collect().sortBy(_.getLong(0)).toSeq ==
      direct.collect().sortBy(_.getLong(0)).toSeq)
  }
}
