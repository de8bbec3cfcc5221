package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19 keys: the r18 verdict's ranked serving/statistics gaps,
  * closed under the oracle gate.
  *
  *   - DECIMAL AVG rollup (`mv_rewrite_avg_decimal`): AVG over a
  *     decimal column is served exactly from the summary's decimal
  *     sum leg and count leg — decimal addition is exact and
  *     order-free, so unlike fractional doubles there is no rounding
  *     order to preserve; the division replicates Average's own
  *     (sum at Decimal(p+10, s), legacy divide, cast to the result
  *     type). The oracle avoids cross-engine decimal-arithmetic
  *     differences by comparing integer MICROS/CENTS derived from
  *     exact integer arithmetic on both sides.
  *
  * The oracle proves WHAT each key computed; MvRewriteSpec proves HOW
  * (the rewrite fired / declined). Determinism (§2.3): pure functions
  * of the corpus, outputs ordered by a total key.
  */
object QueriesR25 {
  import Tables._

  /** Disjunctive filter containment (r18 verdict #2): the MV
    * summarizes the priority slice IN ('1-URGENT','2-HIGH',
    * '3-MEDIUM'); the query's `priority = '1-URGENT' OR priority =
    * '2-HIGH'` is not a verbatim conjunct match, but every OR branch
    * pins the column inside the base IN-set (exact SET containment —
    * never interval hulls, whose gaps would serve missing rows), so
    * the summary serves with the OR re-applied over the group column.
    * The oracle recomputes raw in the query's own OR spelling. */
  def mvRewriteOrFilters(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select("o_orderpriority", "o_orderstatus",
                                   "o_custkey")
    def sliced = base.filter(col("o_orderpriority").isin(
      "1-URGENT", "2-HIGH", "3-MEDIUM"))
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_prio"), d)(Seq(base))(
      hash) { r =>
      Mv.register(s, "orders_mv_prio", sliced,
        Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey"), r)
    }.dir
    Mv.register(s, "orders_mv_prio", sliced,
      Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey"), root)
    base.filter(col("o_orderpriority") === "1-URGENT" ||
                col("o_orderpriority") === "2-HIGH")
      .groupBy(col("o_orderpriority").as("prio"),
               col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("cust_sum"),
           max("o_custkey").as("cust_max"))
      .orderBy("prio", "status")
  }

  /** LEFT-join star MV (r18 verdict #7): the MV summarizes orders
    * LEFT-joined to a dimension covering only EVEN customer keys, so
    * unmatched orders survive with a NULL segment — the outer-join
    * shape inner-star serving could not express. The form renders
    * NESTED (outer joins don't commute with inner legs), matching is
    * exact-structure, and subset drops never cross the outer leg.
    * The oracle recomputes the left join raw, null-extension
    * included. */
  def mvRewriteLeftStar(s: SparkSession, d: String): DataFrame = {
    val fact = orders(s, d).select("o_orderkey", "o_custkey",
                                   "o_orderstatus")
    def hash = ArtifactCache.artifactHash(fact).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_leftstar"), d)(
      Seq(fact))(hash) { r =>
      customer(s, d).select("c_custkey", "c_mktsegment")
        .filter(col("c_custkey") % 2 === 0)
        .write.parquet(s"$r/dim")
      val dim = s.read.parquet(s"$r/dim")
      Mv.register(s, "orders_mv_leftstar",
        fact.join(dim, col("o_custkey") === col("c_custkey"), "left"),
        Seq("o_orderstatus", "c_mktsegment"), Seq("o_orderkey"), s"$r/mv")
    }.dir
    val dim = s.read.parquet(s"$root/dim")
    def base =
      fact.join(dim, col("o_custkey") === col("c_custkey"), "left")
    Mv.register(s, "orders_mv_leftstar", base,
      Seq("o_orderstatus", "c_mktsegment"), Seq("o_orderkey"), s"$root/mv")
    base.groupBy(col("o_orderstatus").as("status"),
                 col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      .orderBy("status", "segment")
  }

  /** Cost-informed filtered join (r18 verdict #1): two lake tables
    * carrying ANALYZEd column statistics (min/max + HLL NDV + null
    * counts in the commit log), queried under CBO with a selective
    * filter on the fact side. The statistics let FilterEstimation
    * shrink the fact's cardinality BEFORE planning — at 100 TB this
    * is what turns "shuffle both sides, let AQE repair it" into a
    * planned broadcast of the filtered side (LakeStatsSpec pins the
    * SMJ→BHJ plan flip with AQE off; this key gates the END STATE
    * against DuckDB — statistics must change the plan, never the
    * answer). The plan materializes inside the conf window (a
    * Dataset's query execution is lazy; touching executedPlan pins
    * the CBO-planned physical plan before the confs restore). */
  def lakeCboFilteredJoin(s: SparkSession, d: String): DataFrame = {
    val fact = orders(s, d).select("o_orderkey", "o_custkey",
                                   "o_orderpriority")
    val dim = customer(s, d).select("c_custkey", "c_mktsegment")
    def hash = ArtifactCache.artifactHash(fact).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_cbo_join"), d)(Seq(fact))(
      hash) { r =>
      LakeTable.append(fact, s"$r/fact")
      LakeTable.append(dim, s"$r/dim")
      LakeStats.analyze(s, s"$r/fact")
      LakeStats.analyze(s, s"$r/dim")
    }.dir
    val saved = Seq("spark.sql.cbo.enabled",
                    "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val q = LakeTable.read(s, s"$root/fact")
        .filter(col("o_orderpriority") === "1-URGENT")
        .join(LakeTable.read(s, s"$root/dim"),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
        .orderBy("segment")
      q.queryExecution.executedPlan // plan under CBO, now
      q
    } finally saved.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }

  /** Decimal AVG rollup: a price column built EXACTLY from integer
    * parts of o_orderkey (string-assembled, so both engines derive
    * bit-identical DECIMAL(12,2) values with no double rounding),
    * staged once as a lake table; the MV summarizes per status. The
    * query's avg/sum/max are exposed as integer micros/cents (exact
    * casts of integer-valued decimals), so the DuckDB compare is
    * integer-exact — a rollup whose division rounded at a different
    * digit than the direct aggregate would miss by one micro. */
  def mvRewriteAvgDecimal(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(
      col("o_orderstatus").as("status"),
      expr("CAST(CONCAT(CAST(o_orderkey % 1000 AS STRING), '.', " +
           "LPAD(CAST(o_orderkey % 100 AS STRING), 2, '0')) " +
           "AS DECIMAL(12,2))").as("v"))
    def hash = ArtifactCache.artifactHash(base).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("mv_orders_decavg"), d)(Seq(base))(
      hash) { r =>
      LakeTable.append(base, s"$r/base")
      Mv.register(s, "orders_mv_decavg", LakeTable.read(s, s"$r/base"),
        Seq("status"), Seq("v"), s"$r/mv")
    }.dir
    Mv.register(s, "orders_mv_decavg", LakeTable.read(s, s"$root/base"),
      Seq("status"), Seq("v"), s"$root/mv")
    LakeTable.read(s, s"$root/base")
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
           (avg("v") * lit(1000000)).cast("long").as("avg_micros"),
           (sum("v") * lit(100)).cast("long").as("sum_cents"),
           (max("v") * lit(100)).cast("long").as("max_cents"))
      .orderBy("status")
  }
}
