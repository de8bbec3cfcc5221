package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18 keys: the r17 verdict's ranked serving gaps, closed under
  * the oracle gate.
  *
  *   - Join-SUBSET MV matching (`mv_rewrite_join_subset`): a query
  *     joining a STRICT SUBSET of a registered star MV's tables is
  *     served when every dropped dimension is FK-non-filtering — a
  *     bare leaf joined on equi keys that is UNIQUE on them and
  *     MATCHES every fact-side key (both verified at register time,
  *     memoized per file set), carries no filters, and feeds no other
  *     join. The drop then preserves fact-row multiplicity exactly,
  *     so the summary's partials serve the reduced join (r17 verdict
  *     #1 — the last common dashboard shape that declined).
  *   - Cross-spelling range implication (`mv_rewrite_implied_cast`):
  *     a filtered-slice MV whose bound is spelled over the raw
  *     TIMESTAMP column serves a query bounding `CAST(col AS DATE)` —
  *     the cast comparison is normalized onto the column's own
  *     domain at its midnight instants, where interval containment
  *     is decidable (r17 verdict #4).
  *   - Integral AVG rollup (`mv_rewrite_avg_int`): AVG over an
  *     integral column is served as SUM(sum partials) / SUM(count
  *     partials) — both legs exact longs, the division the only
  *     floating step, so the rollup is exact wherever the direct
  *     aggregate is. Fractional AVG still declines (addition order
  *     matters there) — MvRewriteSpec pins the decline (r17 verdict
  *     #7).
  *
  * The oracle proves WHAT each key computed; MvRewriteSpec proves HOW
  * (the rewrite fired / declined). Determinism (§2.3): pure functions
  * of the corpus, outputs ordered by a total key.
  */
object QueriesR24 {
  import Tables._

  /** The star MV joins orders ⋈ customer ⋈ nation; the QUERY joins
    * only orders ⋈ customer. nation is a verified FK-non-filtering
    * dimension (unique on n_nationkey, every c_nationkey matches,
    * no filters, no other join uses its columns), so dropping it
    * preserves row multiplicity and the summary serves the reduced
    * join. The oracle recomputes from the raw SUBSET join — a drop
    * that lost or duplicated any fact row would hash-fail. */
  def mvRewriteJoinSubset(s: SparkSession, d: String): DataFrame = {
    def full = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
    def hash = ArtifactCache.artifactHash(
      full.select("c_mktsegment", "o_orderkey")).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_star3"), d)(Seq(full))(
      hash) { r =>
      Mv.register(s, "orders_mv_star3", full,
        Seq("c_mktsegment"), Seq("o_orderkey"), r)
    }.dir
    Mv.register(s, "orders_mv_star3", full,
      Seq("c_mktsegment"), Seq("o_orderkey"), root)
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
           max("o_orderkey").as("key_max"))
      .orderBy("c_mktsegment")
  }

  /** Cross-spelling implication: the MV summarizes the slice bounded
    * on the raw TIMESTAMP_NTZ column (`od < TIMESTAMP_NTZ
    * '1997-01-01 00:00:00'`); the query bounds the column's DATE
    * image (`CAST(od AS DATE) <= DATE '1996-06-15'`). The cast
    * comparison normalizes onto od's own domain at the literal's
    * midnight boundary (`od < '1996-06-16 00:00:00'`), where interval
    * containment proves the implication; the sub-bound re-applies
    * over the summary (od is the group key). The oracle recomputes
    * from raw orders in the QUERY's spelling. */
  def mvRewriteImpliedCast(s: SparkSession, d: String): DataFrame = {
    // raw column names throughout: the matcher resolves aliases back
    // to FILE columns, so registered groupCols must be file columns
    val base = orders(s, d).select("o_orderdate", "o_orderkey")
    def sliced = base.filter(
      col("o_orderdate") < expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_castslice"), d)(
      Seq(base))(hash) { r =>
      Mv.register(s, "orders_mv_castslice", sliced,
        Seq("o_orderdate"), Seq("o_orderkey"), r)
    }.dir
    Mv.register(s, "orders_mv_castslice", sliced,
      Seq("o_orderdate"), Seq("o_orderkey"), root)
    base.filter(expr("CAST(o_orderdate AS DATE) <= DATE '1996-06-15'"))
      .groupBy(col("o_orderdate").as("od"))
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
           max("o_orderkey").as("key_max"))
      .orderBy("od")
  }

  /** Integral AVG rollup: `avg(o_orderkey)` over the base is served
    * from the summary as Σ(per-group exact long sums) / Σ(counts) —
    * exact wherever the direct aggregate is (all running sums below
    * 2^53). Fractional AVG still declines (order-sensitive addition);
    * MvRewriteSpec pins the decline. The oracle recomputes the
    * average raw — both engines divide exact integer sums, so the
    * doubles hash bit-equal. */
  def mvRewriteAvgInt(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select("o_orderstatus", "o_orderkey")
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_avg"), d)(Seq(base))(
      hash) { r =>
      Mv.register(s, "orders_mv_avg", base,
        Seq("o_orderstatus"), Seq("o_orderkey"), r)
    }.dir
    Mv.register(s, "orders_mv_avg", base,
      Seq("o_orderstatus"), Seq("o_orderkey"), root)
    base.groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"), avg("o_orderkey").as("key_avg"),
           max("o_orderkey").as("key_max"))
      .orderBy("status")
  }

  /** Aggregates over GROUP columns served from the summary — the
    * flagship dashboard DISTINCT: the summary holds exactly one row
    * per (status, custkey) combination, so `count(DISTINCT
    * o_custkey)` per status re-counts summary rows EXACTLY (no
    * sketch), min/max of the customer key read the summary keys, the
    * null-aware count weighs each combination by its cnt partial,
    * and the plain rollup algebra serves the order-key sum beside
    * them. Oracle recomputes everything raw. */
  def mvRewriteCountDistinct(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d)
      .select("o_orderstatus", "o_custkey", "o_orderkey")
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_cd"), d)(Seq(base))(
      hash) { r =>
      Mv.register(s, "orders_mv_cd", base,
        Seq("o_orderstatus", "o_custkey"), Seq("o_orderkey"), r)
    }.dir
    Mv.register(s, "orders_mv_cd", base,
      Seq("o_orderstatus", "o_custkey"), Seq("o_orderkey"), root)
    base.groupBy(col("o_orderstatus").as("status"))
      .agg(countDistinct("o_custkey").as("custs"),
           count(col("o_custkey")).as("n_cust"),
           min("o_custkey").as("cust_min"),
           max("o_custkey").as("cust_max"),
           sum("o_custkey").as("cust_sum"),
           sum("o_orderkey").as("key_sum"))
      .orderBy("status")
  }

  /** Tombstone-KEY-pruned MOR read (r17 verdict #5): two equality-
    * delete files cover disjoint key ranges ([1, 256) and [768,
    * 1024) — inside every tier's key domain); the read's `key < 512`
    * derives an interval that skips the high tombstone file entirely
    * (its recorded [min, max] cannot intersect), while the low one
    * subtracts in full. LakeDmlSpec asserts the delete-file scan is
    * a strict subset AND that the result equals the unpruned
    * `readMor(...).where(...)`; this key gates the END STATE against
    * DuckDB. */
  def lakeMorTombstonePruned(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"))
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_mor_keyprune"), d)(
      Seq(base))(hash) { r =>
      LakeTable.append(base, r)
      LakeTable.rewriteClustered(LakeTable.read(s, r), r, "key", 8)
      LakeDml.deleteByKeysMor(s, r, "key",
        LakeTable.read(s, r).filter(col("key") < 256L).select("key"))
      LakeDml.deleteByKeysMor(s, r, "key",
        LakeTable.read(s, r)
          .filter(col("key") >= 768L && col("key") < 1024L).select("key"))
    }.dir
    LakeDml.readMorWhere(s, root, col("key") < 512L).orderBy("key")
  }
}
