package graft.engine

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 keys: the r16 verdict's ranked serving/pruning gaps,
  * closed under the oracle gate.
  *
  *   - MV filter CONTAINMENT (`mv_rewrite_extra_where`): the classic
  *     dashboard case — the registered star-join rollup plus one
  *     extra WHERE on a group column — is served from the summary
  *     with the extra predicate re-applied over it (r16 verdict #1).
  *   - MV spelling BRIDGES (`mv_rewrite_datebridge`): an MV bucketed
  *     by `CAST(ts AS DATE)` serves a query bucketing by
  *     `date_trunc('DAY', ts)` through a compensating cast — the two
  *     spellings are value-equal per row in the pinned UTC session
  *     (r16 verdict #3).
  *   - Predicate-carrying MOR read (`lake_mor_pruned`): the
  *     tombstone-subtracting read prunes its DATA-side scan from the
  *     commit log's per-directory stats before applying the row-level
  *     predicate; tombstones always subtract in full (r16 verdict #2).
  *   - Prune derivation widened (`sql_delete_dates`,
  *     `sql_delete_or_ranges`): DATE literals derive ISO/string-kind
  *     intervals (the exact ordering date stats were recorded under)
  *     and OR-of-bounded-ranges derives the per-branch interval UNION
  *     (r16 verdict #4).
  *
  * The oracle proves WHAT each key computed; MvRewriteSpec /
  * LakeDmlSpec / SqlDmlSpec prove HOW (the rewrite fired, the scan
  * pruned, the report told the truth). Determinism (§2.3): pure
  * functions of the corpus, outputs ordered by a total key.
  */
object QueriesR23 {
  import Tables._

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Same cached-script shape as the sql_* keys: build the table once
    * per (corpus, script) content hash, run `finalSql` per call. */
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

  /** Filter containment over the star-join MV: the SAME registered
    * shape as mv_rewrite_starjoin (orders ⋈ customer, per-segment
    * rollup) queried with an EXTRA WHERE on the group column. The
    * rewrite serves the summary and re-applies the predicate over it
    * — groups are whole under a group-column filter, so the answer is
    * exact; the oracle recomputes from the raw filtered join.
    * MvRewriteSpec gates that the plan scans ONLY the MV (and that an
    * extra filter on an AGGREGATED column still declines). */
  def mvRewriteExtraWhere(s: SparkSession, d: String): DataFrame = {
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
    joined.filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
           max("o_orderkey").as("key_max"))
      .orderBy("c_mktsegment")
  }

  /** Spelling bridge: the MV buckets by `CAST(od AS DATE)` while the
    * query buckets by `date_trunc('DAY', od)` — value-equal per row
    * (the day bucket IS the date, and the session timezone is pinned
    * UTC), so the rewrite serves the summary through a compensating
    * date→timestamp cast over the stored key. The oracle recomputes
    * the timestamp-typed buckets from raw orders. */
  def mvRewriteDatebridge(s: SparkSession, d: String): DataFrame = {
    val all = orders(s, d).select(col("o_orderdate").as("od"),
                                  col("o_custkey").as("cust"))
    def hash = ArtifactCache.artifactHash(all).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_day"), d)(Seq(all))(
      hash) { r =>
      LakeTable.append(all, s"$r/base")
      Mv.register(s, "orders_mv_day", LakeTable.read(s, s"$r/base"),
        Nil, Seq("cust"), s"$r/mv",
        groupExprs = Seq(("d", "CAST(od AS DATE)")))
    }.dir
    Mv.register(s, "orders_mv_day", LakeTable.read(s, s"$root/base"),
      Nil, Seq("cust"), s"$root/mv",
      groupExprs = Seq(("d", "CAST(od AS DATE)")))
    LakeTable.read(s, s"$root/base")
      .groupBy(expr("date_trunc('DAY', od)").as("day"))
      .agg(count(lit(1)).as("n"), sum("cust").as("cust_sum"),
           max("cust").as("cust_max"))
      .orderBy("day")
  }

  /** Predicate-carrying MOR read over the shared tombstone fixture
    * (same cache tree as lake_delete_mor): only directories whose
    * logged [min, max] on `key` intersect the range are scanned, the
    * predicate applies row-level, and the live tombstones subtract in
    * full. Equivalent to `readMor(...).where(...)` with strictly less
    * I/O — LakeDmlSpec asserts the scan-path subset. */
  def lakeMorPruned(s: SparkSession, d: String): DataFrame = {
    val root = QueriesR21.morFixture(s, d, "lake_del_mor",
      applyThem = false)
    // range chosen inside every tier's key domain (sf0.001 tops out
    // near 1500) so the key returns rows at all scale factors
    LakeDml.readMorWhere(s, root,
        col("key") >= 256L && col("key") < 1024L)
      .orderBy("key")
  }

  /** Range IMPLICATION containment: the MV summarizes the
    * `o_custkey < 1000` slice of orders per customer; the query asks
    * for `o_custkey < 500` — not a verbatim conjunct match, but the
    * tighter range IMPLIES the slice (single-column interval
    * containment over identical types), and the extra conjunct sits
    * on the group column, so the summary serves with the sub-range
    * re-applied over it. The partition-limited-MV dashboard case
    * (summary over recent data, queries over a sub-window). */
  def mvRewriteImpliedRange(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select("o_custkey", "o_orderkey")
    def sliced = base.filter(col("o_custkey") < 1000L)
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_slice"), d)(Seq(base))(
      hash) { r =>
      Mv.register(s, "orders_mv_slice", sliced,
        Seq("o_custkey"), Seq("o_orderkey"), r)
    }.dir
    Mv.register(s, "orders_mv_slice", sliced,
      Seq("o_custkey"), Seq("o_orderkey"), root)
    base.filter(col("o_custkey") < 500L)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
           max("o_orderkey").as("key_max"))
      .orderBy("o_custkey")
  }

  /** Incremental maintenance of a STAR-JOIN MV: the fact side is a
    * lake table that GROWS (append-only), the dimension is static,
    * and the summary is maintained by [[Mv.refresh]] with the delta
    * JOIN (Δfact ⋈ dim = Δ(fact ⋈ dim) when the dim is unchanged —
    * the classic delta-join identity) — an O(groups) partial fold,
    * never a join recompute. The final per-segment aggregate over the
    * CURRENT join is served from the refreshed summary by
    * whole-subtree normal-form matching; the oracle recomputes from
    * ALL raw rows, so a fold that lost or double-counted any delta
    * row hash-fails. */
  def mvRewriteStarIncremental(s: SparkSession, d: String): DataFrame = {
    val fact = orders(s, d).select("o_orderkey", "o_custkey")
    def joined(r: String) = LakeTable.read(s, s"$r/fact")
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
    val gcols = Seq("c_mktsegment")
    val acols = Seq("o_orderkey")
    def reg(r: String): Unit =
      Mv.register(s, "orders_mv_star_inc", joined(r), gcols, acols,
        s"$r/mv")
    def hash = ArtifactCache.artifactHash(fact).take(16) +
      ArtifactCache.artifactHash(
        customer(s, d).select("c_custkey", "c_mktsegment")).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_star_inc"), d)(
      Seq(fact, customer(s, d)))(hash) { r =>
      val delta = fact.filter(col("o_orderkey") >= 7500)
      LakeTable.append(fact.filter(col("o_orderkey") < 7500), s"$r/fact")
      reg(r)
      LakeTable.append(delta, s"$r/fact")
      Mv.refresh(s, "orders_mv_star_inc", joined(r),
        delta.join(customer(s, d), col("o_custkey") === col("c_custkey")))
    }.dir
    reg(root)
    joined(root).groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
           max("o_orderkey").as("key_max"))
      .orderBy("c_mktsegment")
  }

  /** DATE-literal prune derivation through the SQL DML path: the
    * table clusters on a DATE column (ISO string stats, lexicographic
    * = chronological), and the DELETE's `od < DATE '1996-01-01'`
    * derives a string-kind interval that prunes the high-date
    * directories from the scan. SqlDmlSpec asserts candidate_dirs <
    * active_dirs; this key gates the END STATE against DuckDB. */
  def sqlDeleteDates(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_deldate", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, CAST(o_orderdate AS DATE) AS od,
        |         o_orderstatus AS status FROM orders;
        |OPTIMIZE ords CLUSTER BY (od) BUCKETS 8;
        |DELETE FROM ords WHERE od < DATE '1996-01-01'""".stripMargin,
      "SELECT key, od, status FROM ords ORDER BY key")

  /** TIMESTAMP-literal prune derivation: the literal renders through
    * Spark's OWN cast-to-string (the identical code path the stats
    * writer used), so the guarded lexicographic comparison is sound —
    * the DELETE's bound prunes the low-date clustered directories.
    * The column is TIMESTAMP_NTZ straight from parquet, the common
    * lakehouse shape. */
  def sqlDeleteTimestamps(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_delts", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderdate AS ots,
        |         o_orderstatus AS status FROM orders;
        |OPTIMIZE ords CLUSTER BY (ots) BUCKETS 8;
        |DELETE FROM ords
        |  WHERE ots >= TIMESTAMP_NTZ '1999-01-01 00:00:00'""".stripMargin,
      "SELECT key, ots, status FROM ords ORDER BY key")

  /** OR-of-ranges prune derivation: two bounded key ranges under OR
    * derive the UNION interval [1000, 12500], pruning the clustered
    * directories outside it. Rows in the gap survive the row-level
    * predicate (the union is an over-approximation — prunes less,
    * never wrong). */
  def sqlDeleteOrRanges(s: SparkSession, d: String): DataFrame =
    runCached(s, d, "sqlw_delor", Seq("ords"),
      """CREATE TABLE ords AS
        |  SELECT o_orderkey AS key, o_orderstatus AS status
        |  FROM orders;
        |OPTIMIZE ords CLUSTER BY (key) BUCKETS 8;
        |DELETE FROM ords
        |  WHERE (key BETWEEN 1000 AND 2000)
        |     OR (key BETWEEN 12000 AND 12500)""".stripMargin,
      "SELECT key, status FROM ords ORDER BY key")
}
