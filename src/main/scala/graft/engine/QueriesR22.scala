package graft.engine

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-16 keys: the SQL WRITE surface ([[LakeSql]]) — DDL and DML
  * statements as TEXT against versioned lake tables. The read-side
  * sql_* keys proved `spark.sql` SELECTs hash-match DuckDB; these
  * prove the statements a lakehouse user actually types to CHANGE
  * data (CTAS, INSERT, DELETE, UPDATE, MERGE, OPTIMIZE, VACUUM, and
  * time-travel SELECT) route through the engine's transactional
  * machinery and land on the same end state DuckDB computes from the
  * raw corpus in one query.
  *
  * Every key runs a small SQL SCRIPT: fixture statements build a lake
  * table under a content-addressed cache root (so verify + bench
  * sessions pay the writes once), and the key's output is the script's
  * final SELECT over the post-DML snapshot — which the oracle
  * reconstructs relationally. The statement ROUTING is what's new
  * under test here; the routed machinery (LakeDml/LakeTable) is
  * already oracle- and spec-gated by the lake_* keys. SqlDmlSpec pins
  * the parser edges the oracle cannot see (literals opaque to clause
  * splitting, loud errors on unsupported forms, reports telling the
  * truth about pruning).
  *
  * Determinism (§2.3): scripts are pure functions of the corpus;
  * outputs ordered by a total key.
  */
object QueriesR22 {
  import Tables._

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Build the script's WRITE statements once under a cached root,
    * then run `finalSql` against the attached tables per call. The
    * cache key folds the corpus content hash AND the script text, so
    * editing a fixture statement rebuilds the tree. */
  private def runCached(s: SparkSession, d: String, name: String,
                        tableNames: Seq[String], buildScript: String,
                        finalSql: String): DataFrame = {
    graft.Sql.register(s, d)
    def hash = ArtifactCache.artifactHash(
      orders(s, d).select("o_orderkey", "o_orderstatus", "o_custkey"))
      .take(16) + md5(buildScript).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture(name), d)(
      Seq(orders(s, d).select("o_orderkey", "o_orderstatus",
                              "o_custkey")))(hash) { r =>
      new LakeSql.Session(s, r).script(buildScript)
    }.dir
    val sess = new LakeSql.Session(s, root)
    tableNames.foreach(t => sess.attach(t, s"$root/$t"))
    sess.exec(finalSql)
  }

  /** CTAS + INSERT INTO as SQL text: the table is born from one
    * SELECT and extended by another; the output is the union the two
    * commits produced. */
  def sqlCtasInsert(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_ctas", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_custkey AS cust
        |  FROM orders WHERE o_orderkey < 20000;
        |INSERT INTO ords
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_custkey AS cust
        |  FROM orders WHERE o_orderkey >= 20000""".stripMargin,
      "SELECT key, status, cust FROM ords ORDER BY key")

  /** DELETE FROM .. WHERE as SQL text over the CTAS'd lake: SQL NULL
    * semantics ride the routed [[LakeDml.deleteWhere]]. */
  def sqlDeleteWhere(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_delete", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_custkey AS cust FROM orders;
        |DELETE FROM ords WHERE status = 'O' AND key % 7 = 3""".stripMargin,
      "SELECT key, status, cust FROM ords ORDER BY key")

  /** UPDATE .. SET with expression right-hand sides and a compound
    * WHERE; the SET list crosses a function call with a comma inside
    * (concat), which only a literal-aware splitter survives. */
  def sqlUpdateSet(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_update", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_custkey AS cust FROM orders;
        |UPDATE ords
        |  SET cust = cust + 500000, status = concat(status, '_u')
        |  WHERE status = 'P' AND key % 5 = 1""".stripMargin,
      "SELECT key, status, cust FROM ords ORDER BY key")

  /** MERGE INTO .. USING (subquery) as SQL text: the canonical
    * upsert-all pair over a derived source (returned low-key orders
    * flip to 'R'; shifted keys insert as new rows). */
  def sqlMergeUsing(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_merge", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status
        |  FROM orders;
        |MERGE INTO ords AS t USING (
        |    SELECT DISTINCT l_orderkey AS key, 'R' AS status
        |    FROM lineitem
        |    WHERE l_returnflag = 'R' AND l_orderkey < 30000
        |    UNION ALL
        |    SELECT DISTINCT l_orderkey + 200000000 AS key, 'Z' AS status
        |    FROM lineitem
        |    WHERE l_returnflag = 'R' AND l_orderkey < 3000
        |  ) AS src ON t.key = src.key
        |  WHEN MATCHED THEN UPDATE SET *
        |  WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      "SELECT key, status FROM ords ORDER BY key")

  /** Time travel as SQL text: three versions (CTAS, INSERT, DELETE),
    * each summarized via `VERSION AS OF` pinned-snapshot reads in ONE
    * final statement — proving snapshots stay addressable after later
    * DML, from SQL alone. */
  def sqlTimeTravel(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_tt", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status
        |  FROM orders WHERE o_orderkey < 20000;
        |INSERT INTO ords
        |  SELECT o_orderkey AS key, o_orderstatus AS status
        |  FROM orders WHERE o_orderkey >= 20000;
        |DELETE FROM ords WHERE key % 11 = 5""".stripMargin,
      """SELECT 'v0' AS snap, count(*) AS n,
        |       sum(key) AS key_sum FROM ords VERSION AS OF 0
        |UNION ALL
        |SELECT 'v1' AS snap, count(*) AS n,
        |       sum(key) AS key_sum FROM ords VERSION AS OF 1
        |UNION ALL
        |SELECT 'v2' AS snap, count(*) AS n, sum(key) AS key_sum FROM ords
        |ORDER BY snap""".stripMargin)

  /** Materialized-view rollup rewrite ([[Mv]]): a per-(status,
    * priority) summary with (cnt, sum/min/max of custkey) partials is
    * registered over the raw orders scan, and the key's query — a
    * plain DataFrame aggregate BY STATUS ONLY over the BASE table —
    * is answered by the optimizer from the summary via partial
    * rollup (COUNT→SUM(cnt), SUM→SUM(sum), MAX→MAX(max)). The oracle
    * recomputes from raw orders, so a rewrite that altered ANY value
    * hash-fails; MvRewriteSpec gates that the rewrite actually FIRES
    * (the optimized plan scans the MV files, not the base) and
    * declines non-derivable shapes. */
  def mvRewriteRollup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = orders(s, d)
    def hash = ArtifactCache.artifactHash(
      base.select("o_orderstatus", "o_orderpriority", "o_custkey"))
      .take(16)
    val gcols = Seq("o_orderstatus", "o_orderpriority")
    val acols = Seq("o_custkey")
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders"), d)(Seq(base))(
      hash) { r =>
      Mv.register(s, "orders_mv", base, gcols, acols, r)
    }.dir
    Mv.register(s, "orders_mv", base, gcols, acols, root)
    base.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("cust_sum"),
           max("o_custkey").as("cust_max"))
      .orderBy("o_orderstatus")
  }

  /** The MV under INGEST: the base is a lake table that GROWS (batch
    * 0 = low orderkeys, then the rest appends), and the summary is
    * maintained by [[Mv.refresh]] — an O(groups) partial fold (cnt/sum
    * additive, min/max monotone under inserts, HLL unions), never a
    * base rescan. The key's aggregate over the CURRENT base snapshot
    * is served from the refreshed MV (MvRewriteSpec gates the plan);
    * the oracle recomputes from ALL raw orders, so a fold that lost
    * or double-counted any delta row hash-fails. */
  def mvRewriteIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val all = orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_custkey")
    val gcols = Seq("o_orderpriority")
    val acols = Seq("o_custkey")
    def reg(r: String): Unit =
      Mv.register(s, "orders_mv_inc", LakeTable.read(s, s"$r/base"),
        gcols, acols, s"$r/mv", hllCols = acols)
    def hash = ArtifactCache.artifactHash(all).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_inc"), d)(Seq(all))(
      hash) { r =>
      val delta = all.filter(col("o_orderkey") >= 20000)
      LakeTable.append(all.filter(col("o_orderkey") < 20000), s"$r/base")
      reg(r)
      LakeTable.append(delta, s"$r/base")
      Mv.refresh(s, "orders_mv_inc", LakeTable.read(s, s"$r/base"), delta)
    }.dir
    // (re-)register against the cached tree's final paths — on a
    // build, the in-flight registration pointed at the scratch dir
    reg(root)
    LakeTable.read(s, s"$root/base")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("cust_sum"),
           min("o_custkey").as("cust_min"))
      .orderBy("o_orderpriority")
  }

  /** Time-bucket MV (the classic dashboard summary): the MV groups by
    * a DERIVED expression — month buckets over the order date — and
    * the rewrite matches the query's grouping expression by normal
    * form (inlined through the optimizer's pulled-out grouping
    * aliases, column refs renamed to file-column identity,
    * canonicalized). The bucketing is spelling-exact by contract; a
    * different granularity declines. Oracle recomputes the buckets
    * from raw orders in DuckDB. */
  def mvRewriteTimebucket(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val all = orders(s, d).select(col("o_orderdate").as("od"),
                                  col("o_custkey").as("cust"))
    val monExpr = "CAST(date_trunc('MONTH', od) AS DATE)"
    def hash = ArtifactCache.artifactHash(all).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_month"), d)(Seq(all))(
      hash) { r =>
      LakeTable.append(all, s"$r/base")
      Mv.register(s, "orders_mv_month", LakeTable.read(s, s"$r/base"),
        Nil, Seq("cust"), s"$r/mv", groupExprs = Seq(("mon", monExpr)))
    }.dir
    Mv.register(s, "orders_mv_month", LakeTable.read(s, s"$root/base"),
      Nil, Seq("cust"), s"$root/mv", groupExprs = Seq(("mon", monExpr)))
    LakeTable.read(s, s"$root/base")
      .groupBy(expr(monExpr).as("mon"))
      .agg(count(lit(1)).as("n"), sum("cust").as("cust_sum"),
           max("cust").as("cust_max"))
      .orderBy("mon")
  }

  /** Star-schema MV (v1): the base is orders ⋈ customer (inner equi
    * join), summarized per market segment; the rewrite matches a
    * query's aggregate child against the registered join by
    * WHOLE-SUBTREE normal form (projects transparent, relations
    * identified by input-file fingerprint, filters and join
    * conditions as normalized canonical expressions) — so the classic
    * "revenue by segment" dashboard aggregate over the raw join is
    * answered from an O(segments) summary. Any structural difference
    * (join key, join type, an extra filter) declines. */
  def mvRewriteStarjoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def joined = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
    def hash = ArtifactCache.artifactHash(
      joined.select("c_mktsegment", "o_orderkey")).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_star"), d)(Seq(joined))(
      hash) { r =>
      Mv.register(s, "orders_mv_star", joined,
        Seq("c_mktsegment"), Seq("o_orderkey"), r)
    }.dir
    Mv.register(s, "orders_mv_star", joined,
      Seq("c_mktsegment"), Seq("o_orderkey"), root)
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
           max("o_orderkey").as("key_max"))
      .orderBy("c_mktsegment")
  }

  /** The full SQL MV loop in one session: CTAS a lake table, CREATE
    * MATERIALIZED VIEW (spec derived from the parsed SELECT), grow the
    * base with INSERT — at which point the staleness guard stops the
    * rewrite rather than serve the old summary — REFRESH, and run a
    * final aggregate that is once again answered from the MV.
    * Deliberately UNCACHED (fresh scratch per call): the statement
    * flow IS what's under test, and a cache hit would skip the
    * registration the rewrite needs. The oracle recomputes the final
    * SELECT from raw orders; SqlDmlSpec gates the serve/decline/serve
    * plan sequence. */
  def sqlCreateMv(s: SparkSession, d: String): DataFrame = {
    graft.Sql.register(s, d)
    val sess = new LakeSql.Session(s,
      java.nio.file.Files.createTempDirectory("graft_sqlmv").toString)
    sess.script(
      """CREATE TABLE ordsmv AS
        |  SELECT o_orderkey AS key, o_orderstatus AS st,
        |         o_custkey AS cust
        |  FROM orders WHERE o_orderkey < 20000;
        |CREATE MATERIALIZED VIEW ords_summary AS
        |  SELECT st, count(*) AS cnt, sum(cust) AS sum_cust,
        |         min(cust) AS min_cust, max(cust) AS max_cust
        |  FROM ordsmv GROUP BY st;
        |INSERT INTO ordsmv
        |  SELECT o_orderkey AS key, o_orderstatus AS st,
        |         o_custkey AS cust
        |  FROM orders WHERE o_orderkey >= 20000;
        |REFRESH MATERIALIZED VIEW ords_summary;
        |SELECT st, count(*) AS n, sum(cust) AS cust_sum,
        |       max(cust) AS cust_max
        |FROM ordsmv GROUP BY st ORDER BY st""".stripMargin)
  }

  /** OPTIMIZE + VACUUM as SQL text: re-cluster on key, reclaim the
    * pre-optimize directories, and prove the content is untouched —
    * the maintenance verbs are metadata/layout operations, never data
    * operations. */
  def sqlOptimizeVacuum(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_optvac", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_custkey AS cust FROM orders;
        |OPTIMIZE ords CLUSTER BY (key) BUCKETS 8;
        |VACUUM ords""".stripMargin,
      "SELECT key, status, cust FROM ords ORDER BY key")
}
