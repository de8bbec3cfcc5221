package graft

import java.nio.file.Files

import graft.engine.{LakeSql, LakeTable}

/** Pins the [[LakeSql]] statement router — the parser-edge contracts
  * the sql_* write keys' oracles cannot see: string literals are
  * opaque to clause splitting and time-travel rewriting, unsupported
  * forms error loudly instead of silently computing something else, a
  * session reads its own writes, and the one-row reports tell the
  * truth about what a statement touched.
  */
class SqlDmlSpec extends SparkTestBase {
  import spark.implicits._

  private def sess(): LakeSql.Session =
    new LakeSql.Session(spark,
      Files.createTempDirectory("graft_lakesql").toString)

  test("full verb walk: CTAS, INSERT, DELETE, UPDATE, MERGE, OPTIMIZE, VACUUM, SELECT") {
    val s = sess()
    Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
      .createOrReplaceTempView("sqldml_src")
    s.exec("CREATE TABLE t AS SELECT k, v FROM sqldml_src")
    s.exec("INSERT INTO t SELECT k + 10 AS k, v FROM sqldml_src")
    val del = s.exec("DELETE FROM t WHERE k = 11").head()
    assert(del.getAs[String]("verb") == "delete")
    assert(del.getAs[Long]("rows_deleted") == 1L)
    val upd = s.exec("UPDATE t SET v = concat(v, '!') WHERE k >= 10").head()
    assert(upd.getAs[Long]("rows_updated") == 2L)
    s.exec("MERGE INTO t AS a USING (SELECT 2 AS k, 'Z' AS v " +
      "UNION ALL SELECT 99 AS k, 'n' AS v) AS b ON a.k = b.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    s.exec("OPTIMIZE t CLUSTER BY (k) BUCKETS 2")
    s.exec("VACUUM t")
    val got = s.exec("SELECT k, v FROM t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(0L -> "a", 1L -> "b", 2L -> "Z",
      10L -> "a!", 12L -> "c!", 99L -> "n"))
  }

  test("SET splitter survives function commas and literal separators") {
    val s = sess()
    s.exec("CREATE TABLE u AS SELECT 1 AS k, 'x' AS v, 0 AS n")
    s.exec("UPDATE u SET v = concat(v, ', WHERE (a;b)'), n = n + 2 WHERE k = 1")
    val r = s.exec("SELECT v, n FROM u").as[(String, Int)].head()
    assert(r == ("x, WHERE (a;b)", 2))
  }

  test("script splitting keeps semicolons inside literals") {
    val s = sess()
    val out = s.script(
      "CREATE TABLE w AS SELECT 'a;b' AS v; SELECT v FROM w")
    assert(out.as[String].head() == "a;b")
  }

  test("time travel: VERSION AS OF pins snapshots; quoted phrase untouched") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT 1 AS k")
    s.exec("INSERT INTO t SELECT 2 AS k")
    s.exec("DELETE FROM t WHERE k = 1")
    val counts = s.exec(
      """SELECT 'v0' AS snap, count(*) AS n FROM t VERSION AS OF 0
        |UNION ALL SELECT 'v1' AS snap, count(*) AS n FROM t VERSION AS OF 1
        |UNION ALL SELECT 'v2' AS snap, count(*) AS n FROM t
        |ORDER BY snap""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(counts == Seq("v0" -> 1L, "v1" -> 2L, "v2" -> 1L))
    // inside a string literal the phrase is data, not syntax
    val lit = s.exec("SELECT 't VERSION AS OF 0' AS phrase FROM t")
      .as[String].head()
    assert(lit == "t VERSION AS OF 0")
  }

  test("a session reads its own writes between statements") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT 5 AS k")
    s.exec("INSERT INTO t SELECT k * 2 AS k FROM t") // reads post-CTAS
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 2L)
  }

  test("unsupported and malformed statements error loudly") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT 1 AS k, 'x' AS v")
    intercept[RuntimeException](s.exec("DROP TABLE t"))
    intercept[RuntimeException](s.exec("DELETE FROM nosuch WHERE k = 1"))
    intercept[IllegalArgumentException](
      s.exec("CREATE TABLE t AS SELECT 2 AS k")) // duplicate name
    intercept[IllegalArgumentException](s.exec(
      "MERGE INTO t USING (SELECT 1 AS k, 'y' AS v) s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE")) // non-upsert-all WHEN form
    intercept[IllegalArgumentException](s.exec(
      "MERGE INTO t USING (SELECT 1 AS a, 'y' AS v) s ON t.k = s.a"))
    intercept[IllegalArgumentException](
      s.exec("UPDATE t SET v = 'a', v = 'b' WHERE k = 1"))
    intercept[RuntimeException](
      s.exec("SELECT * FROM nosuch VERSION AS OF 0"))
  }

  test("DELETE keeps NULL-condition rows through the SQL path") {
    val s = sess()
    Seq(Some("x"), None, Some("y")).toDF("v")
      .selectExpr("monotonically_increasing_id() AS k", "v")
      .createOrReplaceTempView("sqldml_nulls")
    s.exec("CREATE TABLE t AS SELECT k, v FROM sqldml_nulls")
    s.exec("DELETE FROM t WHERE v = 'x'")
    // the NULL-v row survives: NULL predicate rows are not deleted
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 2L)
  }

  test("derived pruning: SQL DELETE/UPDATE prune clustered directories from WHERE alone") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 99)) AS k")
    s.exec("OPTIMIZE t CLUSTER BY (k) BUCKETS 4")
    val del = s.exec("DELETE FROM t WHERE k < 10").head()
    assert(del.getAs[Int]("active_dirs") == 4)
    assert(del.getAs[Int]("candidate_dirs") < 4) // pruned, no hint given
    assert(del.getAs[Long]("rows_deleted") == 10L)
    val upd = s.exec("UPDATE t SET k = k + 1000 WHERE k >= 90").head()
    assert(upd.getAs[Int]("candidate_dirs") < upd.getAs[Int]("active_dirs"))
    assert(s.exec("SELECT count(*) AS n FROM t WHERE k >= 1000")
      .as[Long].head() == 10L)
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 90L)
  }

  test("derived pruning is kind-gated: numeric literal never prunes string stats") {
    val s = sess()
    // lexicographic stats on v: min '25', max '9' — comparing the
    // numeric literal against them would wrongly prune; the kind gate
    // must keep every directory and the delete must see all rows
    s.exec("CREATE TABLE t AS SELECT explode(array('9', '25', '7', '31')) AS v")
    s.exec("OPTIMIZE t CLUSTER BY (v) BUCKETS 2")
    val del = s.exec("DELETE FROM t WHERE v < 100").head()
    assert(del.getAs[Int]("candidate_dirs") ==
      del.getAs[Int]("active_dirs")) // nothing pruned
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 0L)
    // an emptied table is still a table: SELECT sees the empty
    // relation and INSERT brings it back
    s.exec("INSERT INTO t SELECT 'z' AS v")
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 1L)
  }

  test("derived pruning handles IN lists and string equality") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 99)) AS k")
    s.exec("OPTIMIZE t CLUSTER BY (k) BUCKETS 4")
    val del = s.exec("DELETE FROM t WHERE k IN (1, 3, 5)").head()
    assert(del.getAs[Int]("candidate_dirs") < 4)
    assert(del.getAs[Long]("rows_deleted") == 3L)
  }

  test("CREATE/REFRESH MATERIALIZED VIEW: serve, go stale on DML, serve again") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString.stripPrefix("file:"))
          case _ => Seq.empty
        }
      }.flatten.toSet
    val s = sess()
    try {
      s.exec("CREATE TABLE t AS SELECT id AS k, " +
        "CAST(id % 4 AS STRING) AS grp FROM range(100)")
      s.exec("CREATE MATERIALIZED VIEW t_sum AS SELECT grp, " +
        "count(*) AS c, sum(k) AS s FROM t GROUP BY grp")
      val q1 = s.exec("SELECT grp, sum(k) AS s FROM t GROUP BY grp ORDER BY grp")
      assert(scanned(q1).forall(_.contains("__mv_t_sum")))
      assert(q1.as[(String, Long)].collect().toSeq ==
        Seq("0" -> 1200L, "1" -> 1225L, "2" -> 1250L, "3" -> 1275L))
      // DML makes the MV stale: the rewrite must DECLINE, not serve old
      s.exec("DELETE FROM t WHERE k >= 50")
      val q2 = s.exec("SELECT grp, sum(k) AS s FROM t GROUP BY grp ORDER BY grp")
      assert(!scanned(q2).exists(_.contains("__mv_t_sum")))
      assert(q2.as[(String, Long)].collect().toSeq ==
        Seq("0" -> 312L, "1" -> 325L, "2" -> 288L, "3" -> 300L))
      // REFRESH rebuilds from the current snapshot: served again
      s.exec("REFRESH MATERIALIZED VIEW t_sum")
      val q3 = s.exec("SELECT grp, sum(k) AS s FROM t GROUP BY grp ORDER BY grp")
      assert(scanned(q3).forall(_.contains("__mv_t_sum")))
      assert(q3.as[(String, Long)].collect().toSeq ==
        q2.as[(String, Long)].collect().toSeq)
      // a malformed MV spec errors loudly
      intercept[RuntimeException](s.exec(
        "CREATE MATERIALIZED VIEW bad AS SELECT grp, avg(k) AS a " +
          "FROM t GROUP BY grp"))
    } finally graft.engine.Mv.clear()
  }

  test("CREATE MATERIALIZED VIEW with a derived group key serves time buckets") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString.stripPrefix("file:"))
          case _ => Seq.empty
        }
      }.flatten.toSet
    val s = sess()
    try {
      s.exec("CREATE TABLE t AS SELECT timestampadd(HOUR, CAST(id AS INT), " +
        "timestamp'2024-03-01 00:00:00') AS ts, id AS x FROM range(60)")
      s.exec("CREATE MATERIALIZED VIEW t_day AS SELECT " +
        "date_trunc('DAY', ts) AS day, count(*) AS c, sum(x) AS s " +
        "FROM t GROUP BY date_trunc('DAY', ts)")
      val q = s.exec("SELECT date_trunc('DAY', ts) AS day, sum(x) AS sx " +
        "FROM t GROUP BY date_trunc('DAY', ts) ORDER BY day")
      assert(scanned(q).forall(_.contains("__mv_t_day")),
        s"time-bucket SQL should serve from the MV, got ${scanned(q)}")
      assert(q.as[(java.sql.Timestamp, Long)].collect().toSeq.map(_._2) ==
        Seq(276L, 852L, 642L))
      // GROUP BY <alias> spelling registers the same spec
      s.exec("CREATE MATERIALIZED VIEW t_day2 AS SELECT " +
        "date_trunc('DAY', ts) AS day, sum(x) AS s FROM t GROUP BY day")
      // a non-aliased group expression errors loudly
      intercept[RuntimeException](s.exec(
        "CREATE MATERIALIZED VIEW bad2 AS SELECT count(*) AS c FROM t " +
          "GROUP BY date_trunc('WEEK', ts)"))
    } finally graft.engine.Mv.clear()
  }

  test("report: vacuum after optimize reclaims the superseded directories") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 99)) AS k")
    s.exec("OPTIMIZE t CLUSTER BY (k) BUCKETS 4")
    val vac = s.exec("VACUUM t").head()
    assert(vac.getAs[Int]("removed_dirs") >= 1)
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 100L)
    // the optimized layout carries stats: a range read prunes
    val root = s.tableRoot("t")
    val pruned = LakeTable.rangeDirs(spark, root,
      Seq(("k", "0", "10")))
    val all = LakeTable.rangeDirs(spark, root, Nil)
    assert(pruned.size < all.size)
  }

  test("derived pruning: DATE literals prune date-clustered directories") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT CAST(date_add(DATE '2020-01-01', " +
      "CAST(id AS INT)) AS DATE) AS d, id AS x FROM range(400)")
    s.exec("OPTIMIZE t CLUSTER BY (d) BUCKETS 4")
    val del = s.exec("DELETE FROM t WHERE d < DATE '2020-02-01'").head()
    assert(del.getAs[Int]("active_dirs") == 4)
    assert(del.getAs[Int]("candidate_dirs") < 4,
      "ISO string-kind interval from the DATE literal should prune")
    assert(del.getAs[Long]("rows_deleted") == 31L)
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 369L)
    // a plain STRING literal against the DATE column coerces to DATE
    // row-level; its unguarded lexicographic interval must NOT prune
    // the temporal ("ts"-kind) stats — only delete correctly
    val del2 = s.exec("DELETE FROM t WHERE d < '2020-03-01'").head()
    assert(del2.getAs[Int]("candidate_dirs") ==
      del2.getAs[Int]("active_dirs"),
      "a string literal must not prune a temporal column's stats")
    assert(del2.getAs[Long]("rows_deleted") == 29L) // Feb 2020
  }

  test("derived pruning: TIMESTAMP literals prune; exotic-year stats keep") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT timestampadd(HOUR, CAST(id AS INT), " +
      "timestamp'2024-01-01 00:00:00') AS ts, id AS x FROM range(400)")
    s.exec("OPTIMIZE t CLUSTER BY (ts) BUCKETS 4")
    val del = s.exec(
      "DELETE FROM t WHERE ts < TIMESTAMP '2024-01-02 00:00:00'").head()
    assert(del.getAs[Int]("active_dirs") == 4)
    assert(del.getAs[Int]("candidate_dirs") < 4,
      "the timestamp literal should derive a guarded string interval")
    assert(del.getAs[Long]("rows_deleted") == 24L)
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 376L)
    // a table whose stats carry EXOTIC years must not prune: the
    // rendering sorts out of chronological order there
    val s2 = sess()
    s2.exec("CREATE TABLE w AS SELECT timestampadd(YEAR, " +
      "CAST(id * 3000 AS INT), timestamp'2024-01-01 00:00:00') AS ts, " +
      "id AS x FROM range(4)") // years 2024, 5024, 8024, 11024
    s2.exec("OPTIMIZE w CLUSTER BY (ts) BUCKETS 2")
    val del2 = s2.exec(
      "DELETE FROM w WHERE ts < TIMESTAMP '5000-01-01 00:00:00'").head()
    assert(del2.getAs[Int]("candidate_dirs") ==
      del2.getAs[Int]("active_dirs"),
      "exotic-year stats must keep every directory")
    assert(del2.getAs[Long]("rows_deleted") == 1L)
  }

  test("derived pruning: OR-of-bounded-ranges prunes by the union interval") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 399)) AS k")
    s.exec("OPTIMIZE t CLUSTER BY (k) BUCKETS 8")
    val del = s.exec(
      "DELETE FROM t WHERE (k BETWEEN 10 AND 20) OR (k BETWEEN 90 AND 95)")
      .head()
    assert(del.getAs[Int]("active_dirs") == 8)
    assert(del.getAs[Int]("candidate_dirs") < 8,
      "the union interval [10, 95] should prune high-key buckets")
    assert(del.getAs[Long]("rows_deleted") == 17L)
    // the gap (21..89) SURVIVED — union interval is scan pruning only
    assert(s.exec("SELECT count(*) AS n FROM t WHERE k BETWEEN 21 AND 89")
      .as[Long].head() == 69L)
    // one-sided OR branches derive nothing: every directory scans and
    // the delete still lands exactly
    val del2 = s.exec("DELETE FROM t WHERE k < 5 OR k >= 395").head()
    assert(del2.getAs[Int]("candidate_dirs") ==
      del2.getAs[Int]("active_dirs"))
    assert(del2.getAs[Long]("rows_deleted") == 10L)
  }

  test("scanner: semicolons and keywords in comments and double-quoted literals are opaque") {
    val s = sess()
    Seq((0L, "x;y"), (1L, "b")).toDF("k", "v")
      .createOrReplaceTempView("sqldml_scan_src")
    // double-quoted string with ';' and a line comment with ';' — one
    // script, three real statements
    val out = s.script(
      """CREATE TABLE t AS SELECT k, v FROM sqldml_scan_src;
        |-- a comment; DELETE FROM t WHERE k = 0; stays a comment
        |DELETE FROM t WHERE v = "x;y";
        |/* block; comment; too */
        |SELECT k, v FROM t ORDER BY k""".stripMargin)
    assert(out.as[(Long, String)].collect().toSeq == Seq(1L -> "b"))
    // backslash escape inside a single-quoted literal stays opaque
    s.exec("INSERT INTO t SELECT 7 AS k, 'it\\';s' AS v")
    assert(s.exec("SELECT count(*) AS n FROM t WHERE k = 7")
      .as[Long].head() == 1L)
  }

  test("attached tables with live MOR tombstones SELECT without resurrecting doomed rows") {
    import graft.engine.LakeDml
    val root = Files.createTempDirectory("graft_sql_mor").toString + "/t"
    LakeTable.append(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v"),
      root)
    LakeDml.deleteByKeysMor(spark, root, "k", Seq(1L).toDF("k"))
    val s = sess()
    s.attach("t", root)
    assert(s.exec("SELECT k FROM t ORDER BY k").as[Long].collect().toSeq ==
      Seq(0L, 2L), "SQL reads must subtract live equality-delete files")
    // time travel BEFORE the tombstone still sees the row (the eqdel
    // commit is not live at v0)
    assert(s.exec("SELECT count(*) AS n FROM t VERSION AS OF 0")
      .as[Long].head() == 3L)
  }

  test("cross-granularity pruning: DATE literal vs TIMESTAMP stats keeps midnight rows") {
    // Midnight timestamps are the daily-load default. 'ts <= DATE d'
    // coerces d to midnight row-level, but d renders WITHOUT a time
    // part — lexicographically '2024-01-03' < '2024-01-03 00:00:00',
    // so an unharmonized compare would prune the directory holding
    // exactly-midnight rows and those rows would silently survive the
    // DELETE (r17 ADVICE high). The midnight normalization keeps it.
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT timestampadd(HOUR, " +
      "CAST(id AS INT), timestamp'2024-01-01 00:00:00') AS ts, " +
      "id AS x FROM range(192)") // 8 days, hourly
    s.exec("OPTIMIZE t CLUSTER BY (ts) BUCKETS 4")
    val del = s.exec("DELETE FROM t WHERE ts <= DATE '2024-01-03'").head()
    assert(del.getAs[Int]("active_dirs") == 4)
    assert(del.getAs[Int]("candidate_dirs") < 4,
      "the date bound should still prune the high-timestamp buckets")
    // hours 0..48 inclusive — the exact-midnight row at id=48 must go
    assert(del.getAs[Long]("rows_deleted") == 49L)
    assert(s.exec("SELECT min(x) AS m FROM t").as[Long].head() == 49L)
    // symmetric: a TIMESTAMP midnight literal against a DATE column's
    // date-rendered stats must not false-prune the boundary day
    val s2 = sess()
    s2.exec("CREATE TABLE u AS SELECT CAST(date_add(DATE '2020-01-01', " +
      "CAST(id AS INT)) AS DATE) AS d, id AS x FROM range(64)")
    s2.exec("OPTIMIZE u CLUSTER BY (d) BUCKETS 4")
    val del2 = s2.exec(
      "DELETE FROM u WHERE d >= TIMESTAMP '2020-02-18 00:00:00'").head()
    assert(del2.getAs[Int]("candidate_dirs") < 4,
      "the timestamp bound should still prune the low-date buckets")
    assert(del2.getAs[Long]("rows_deleted") == 16L) // days 48..63
    assert(s2.exec("SELECT max(x) AS m FROM u").as[Long].head() == 47L)
  }

  test("temporal literals never prune legacy/plain STRING-kind stats") {
    // A STRING column may hold NON-CANONICAL date spellings
    // ('2020-1-2' passes a year guard but sorts lexicographically
    // after '2020-01-02' while being chronologically equal); row-level
    // the column coerces to the temporal type, so raw-string pruning
    // would skip matching rows. tsGuard preds now apply to "ts" stats
    // ONLY — string-kind stats keep every directory (r17 ADVICE med).
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT concat('2020-1-', " +
      "CAST(id + 1 AS STRING)) AS ds, id AS x FROM range(20)")
    s.exec("OPTIMIZE t CLUSTER BY (ds) BUCKETS 4")
    val del = s.exec("DELETE FROM t WHERE ds <= DATE '2020-01-02'").head()
    assert(del.getAs[Int]("candidate_dirs") ==
      del.getAs[Int]("active_dirs"),
      "a temporal literal must not prune string-kind stats")
    assert(del.getAs[Long]("rows_deleted") == 2L) // 2020-1-1, 2020-1-2
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 18L)
  }

  test("scanner: NESTED leading block comments strip before verb routing") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 9)) AS k")
    // depth-2 comment glued in front of the verb: the old non-nesting
    // regex left 'c */ DELETE …' residue and misrouted the statement
    val del = s.exec(
      "/* a /* b */ c */ DELETE FROM t WHERE k >= 8").head()
    assert(del.getAs[String]("verb") == "delete")
    assert(del.getAs[Long]("rows_deleted") == 2L)
    // hint blocks survive (never stripped), nested or not
    assert(s.exec("/* note /* inner */ done */ SELECT /*+ COALESCE(1) */ " +
      "count(*) AS n FROM t").as[Long].head() == 8L)
  }

  test("DESCRIBE HISTORY and ANALYZE read the commit log") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 99)) AS k")
    s.exec("INSERT INTO t SELECT explode(sequence(100, 149)) AS k")
    s.exec("DELETE FROM t WHERE k >= 140")
    s.exec("OPTIMIZE t CLUSTER BY (k) BUCKETS 2")
    val h = s.exec("DESCRIBE HISTORY t").orderBy("version").collect()
    assert(h.length == 4, s"expected 4 commits, got ${h.length}")
    // the CTAS and INSERT versions carry their footer row counts
    assert(h(0).getAs[Long]("rows_added") == 100L)
    assert(h(1).getAs[Long]("rows_added") == 50L)
    // the OPTIMIZE rewrite both adds and removes directories
    assert(h(3).getAs[Int]("dirs_added") == 2 &&
           h(3).getAs[Int]("dirs_removed") >= 1)
    // ANALYZE: the logged table-level count equals the actual count
    val a = s.exec("ANALYZE t").head()
    assert(a.getAs[Int]("active_dirs") == 2)
    assert(a.getAs[Long]("row_count") == 140L,
      "logged row count must track CTAS + INSERT - DELETE through OPTIMIZE")
    assert(s.exec("SELECT count(*) AS n FROM t").as[Long].head() == 140L)
    assert(a.getAs[Int]("live_tombstones") == 0)
  }

  test("duplicate CREATE MATERIALIZED VIEW is rejected loudly") {
    val s = sess()
    s.exec("CREATE TABLE t AS SELECT explode(sequence(0, 9)) AS k")
    s.exec("CREATE MATERIALIZED VIEW mv_dup AS " +
      "SELECT k, count(*) AS cnt FROM t GROUP BY k")
    val e = intercept[RuntimeException] {
      s.exec("CREATE MATERIALIZED VIEW mv_dup AS " +
        "SELECT k, count(*) AS cnt FROM t GROUP BY k")
    }
    assert(e.getMessage.contains("already exists"))
    graft.engine.Mv.clear()
  }

  private def lakeOf(ks: Seq[Long]): String = {
    val root = Files.createTempDirectory("graft_lakesql_view").toString
    LakeTable.append(ks.toDF("k"), root)
    root
  }

  private def keys(s: LakeSql.Session): Seq[Long] =
    s.exec("SELECT k FROM t ORDER BY k").as[Long].collect().toSeq

  test("attach re-pointing a name at a same-version root re-registers its view") {
    // both roots sit at version 0: a view cache keyed on the name and
    // version alone would keep serving the first root
    val (a, b) = (lakeOf(Seq(1L, 2L)), lakeOf(Seq(7L)))
    val s = sess().attach("t", a)
    assert(keys(s) == Seq(1L, 2L))
    s.attach("t", b)
    assert(keys(s) == Seq(7L), "attach kept serving the old root's view")
  }

  test("two sessions on one SparkSession never read each other's views") {
    val (a, b) = (lakeOf(Seq(1L, 2L)), lakeOf(Seq(7L)))
    val s1 = sess().attach("t", a)
    val s2 = sess().attach("t", b)
    assert(keys(s1) == Seq(1L, 2L))
    assert(keys(s2) == Seq(7L))
    // s2 replaced the shared temp view "t"; s1's table is unchanged,
    // so only the catalog check can see that its view is gone
    assert(keys(s1) == Seq(1L, 2L), "session read another session's view")
    assert(keys(s2) == Seq(7L))
  }
}
