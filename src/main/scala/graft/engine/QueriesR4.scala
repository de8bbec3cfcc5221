package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 coverage wave: correlated subqueries — the one SQL planning
  * surface (scalar-subquery decorrelation, EXISTS/NOT EXISTS
  * predicate-subquery rewrite) the registry had not exercised. Both
  * keys go through `spark.sql` deliberately: the DSL has no scalar
  * subquery, and the point is to prove Catalyst's
  * RewriteCorrelatedScalarSubquery / RewritePredicateSubquery produce
  * the decorrelated join plans (PlanSpec asserts no per-row subplan
  * survives).
  */
object QueriesR4 {
  import Tables._

  /** TPC-H Q17 shape — "small-quantity" revenue: lineitems whose
    * quantity is below 0.2× the part's average quantity, revenue per
    * brand. The threshold is the classic correlated SCALAR subquery;
    * Catalyst decorrelates it into one aggregate over lineitem grouped
    * by l_partkey joined back to the probe side — at 100 TB that is
    * one map-side-combined agg + one shuffle join, never a per-row
    * rescan.
    *
    * Cross-engine exactness (§2.3): `q < 0.2*avg(q)` is restated as
    * `q * 5 * count < sum` — quantities are integral doubles (1..50),
    * so every term is an exact integer-valued double in ANY evaluation
    * order; the strict `<` can never sit on an engine-dependent
    * boundary, where `0.2*avg` (a rounded division) could. Two scalar
    * subqueries over the same correlated group also exercise
    * MergeScalarSubqueries. Revenue uses the repo's decimal-accumulator
    * idiom (4-decimal grid exact, order-proof). */
  def q17SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("q17_lineitem")
    part(s, d).createOrReplaceTempView("q17_part")
    s.sql("""
      SELECT p.p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_small,
             CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
                           AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM q17_lineitem l JOIN q17_part p ON l.l_partkey = p.p_partkey
      WHERE p.p_size <= 10
        AND l.l_quantity * 5.0 *
              (SELECT COUNT(*) FROM q17_lineitem l2
               WHERE l2.l_partkey = l.l_partkey)
            < (SELECT SUM(l2.l_quantity) FROM q17_lineitem l2
               WHERE l2.l_partkey = l.l_partkey)
      GROUP BY p.p_brand
      ORDER BY p.p_brand""")
  }

  /** TPC-H Q21 shape — per supplier, lineitems that shipped LAST among
    * multi-supplier finished orders: a correlated EXISTS (another
    * supplier participated) AND a correlated NOT EXISTS (no other
    * supplier shipped strictly later). Catalyst rewrites the pair into
    * a left-semi and a left-anti join on l_orderkey with the
    * inequality as residual condition — both hash-joinable on the
    * order key at any scale (PlanSpec asserts no nested loop).
    * Deterministic: shipdate comparisons only; ties on max shipdate
    * qualify in both engines; (numwait DESC, s_name) is a total order
    * because s_name is unique. */
  def q21LastShipper(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r19 optimization (guide §2.4 "remove shuffles outright", §3):
    // the EXISTS/NOT EXISTS spelling decorrelated into a LeftSemi +
    // LeftAnti pair that scanned lineitem THREE times and built two
    // broadcasts of the FULL table keyed on l_orderkey (at 100 TB an
    // order-keyed lineitem broadcast is impossible; here it was 60% of
    // the key). Both subqueries only ask per-order questions, so ONE
    // exchange of (orderkey, suppkey, shipdate) answers everything:
    //   EXISTS(other supplier)      ⇔ nsupp(order) ≥ 2
    //   NOT EXISTS(other supplier shipped LATER than l1)
    //                               ⇔ othermax(order, supp) ≤ l1.date
    // where othermax = max shipdate over the order's OTHER suppliers,
    // derived from per-(order, supplier) maxima: m1 = top supplier-max
    // in the order, cnt1 = suppliers achieving m1, m2 = next distinct
    // supplier-max; othermax = m1 unless THIS supplier is the unique
    // m1-holder (then m2). NULL care mirrors SQL exactly even though
    // the fixture's shipdate is non-null: a NULL l1.date qualifies
    // (l3.date > NULL is never true), a NULL othermax qualifies, and
    // all-NULL supplier maxima leave smax NULL (treated as < m1 —
    // correct, since that supplier can't be the unique m1 holder).
    // Everything downstream of the single repartition(l_orderkey)
    // stays in that partitioning: the (o,s,date)-grain collapse, the
    // (o,s) maxima, the order-window, and the (o,s) join back are all
    // clustered by a superset-key of l_orderkey. Oracle-verified
    // byte-identical (sf0.01 + sf0.1 + 7-partition probe).
    // r20 refinements (guide §2.3, §2.4 — verdict r19 #3):
    //  - The finished-orders filter moves BEFORE the pinned
    //    repartition: the per-order stats of an F order are computed
    //    from that order's lineitems alone, so dropping non-F orders'
    //    rows up front changes nothing downstream while roughly
    //    halving the bytes through the one lineitem exchange (and the
    //    trailing orders join disappears — it only re-applied the
    //    same filter).
    //  - The m1/cnt1/m2 window TRIO (two stacked Window nodes — the
    //    second pass re-read the first's output to resolve "max over
    //    the order's OTHER suppliers") collapses into ONE window pass
    //    ordered by (smax, suppkey): othermax = greatest(max before
    //    current row, max after current row) — by definition the max
    //    over the other rows of the order; `greatest` skips NULLs
    //    exactly like the max aggregates did, so the NULL cases carry
    //    over (all-NULL others → NULL othermax, which qualifies).
    //    nsupp rides the same (partition, order) spec with a
    //    full-partition frame, so all three land in one Window exec;
    //    the added per-order sort is bounded by suppliers-per-order.
    val o = orders(s, d).filter(col("o_orderstatus") === "F")
      .select("o_orderkey")
    // LEFT SEMI, not inner: same rows (o_orderkey is unique), but an
    // inner join's size-only estimate MULTIPLIES the sides, which
    // pushed the downstream g3 leg past the broadcast threshold and
    // re-shuffled the lc⋈g3 join on (o,s); the semi join keeps the
    // left side's estimate, so the aggregated g3 leg broadcasts as in
    // r19.
    val l = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
                   col("l_orderkey"))
    val lc = l.groupBy("l_orderkey", "l_suppkey", "l_shipdate")
      .agg(count(lit(1)).as("c"))
    val g = lc.groupBy("l_orderkey", "l_suppkey")
      .agg(max("l_shipdate").as("smax"))
    val wo = Window.partitionBy("l_orderkey")
      .orderBy(col("smax").asc_nulls_first, col("l_suppkey"))
    val g3 = g
      .withColumn("nsupp", count(lit(1)).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("othermax", greatest(
        max("smax").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
        max("smax").over(wo.rowsBetween(1, Window.unboundedFollowing))))
      .select("l_orderkey", "l_suppkey", "nsupp", "othermax")
    val qual = lc.join(g3, Seq("l_orderkey", "l_suppkey"))
      .filter(col("nsupp") >= 2 &&
        (col("l_shipdate").isNull || col("othermax").isNull ||
         col("othermax") <= col("l_shipdate")))
    val sup = supplier(s, d).select("s_suppkey", "s_name")
    qual
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(sum("c").cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  /** TPC-H Q22 shape — "idle rich customers": positive-balance
    * customers above the average positive balance with no urgent order,
    * grouped by a derived country code. Exercises the UNCORRELATED
    * scalar subquery — the complement of q17's correlated form: the
    * threshold aggregate runs ONCE (plan shows a reused one-row
    * subquery, never a per-row rescan) and the NOT EXISTS is an anti
    * join. `bal > avg(bal)` is restated as `bal * cnt > sum` on exact
    * DECIMAL(12,2) cents (§2.3: avg is a rounded division whose engine
    * disagreement could flip the strict comparison; products and sums
    * of exact decimals cannot). */
  def q22IdleBalance(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("q22_customer")
    orders(s, d).createOrReplaceTempView("q22_orders")
    s.sql("""
      SELECT c_custkey % 10 AS cc,
             CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      FROM q22_customer c
      WHERE c_acctbal > 0.0
        AND CAST(c_acctbal AS DECIMAL(12,2)) *
              (SELECT COUNT(*) FROM q22_customer WHERE c_acctbal > 0.0)
            > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2)))
               FROM q22_customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM q22_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_custkey % 10
      ORDER BY cc""")
  }

  /** Training-sequence packing (GPT-style): per source stream, the
    * token streams of consecutive documents are concatenated and cut
    * into fixed 512-token context windows; each document reports its
    * absolute token offset and the first/last sequence it lands in
    * (documents span window boundaries — the standard packing that
    * wastes zero tokens). The running offset is a windowed cumulative
    * sum PARTITIONED BY source: each shard packs independently and in
    * parallel, which is how a sharded corpus packs at 100 TB — a
    * single global order would serialize the scan (the repo's
    * events_watermark_late lesson). Integer arithmetic end-to-end. */
  def docsPackSequences(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    documents(s, d)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("running", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
              (col("running") - col("n_tokens")).as("start_pos"),
              ((col("running") - col("n_tokens")) / 512).cast("long")
                .as("seq_first"),
              ((col("running") - 1) / 512).cast("long").as("seq_last"))
      .orderBy("doc_id")
  }

  /** PageRank over the supplier↔customer transaction graph (edges =
    * distinct trading pairs from lineitem⋈orders, both directions so
    * the bipartite graph is walkable): 3 unrolled power iterations,
    * damping 0.85, each iteration's rank rounded to 6 dp — the same
    * cross-engine determinism contract as Ops.kmeansCodebook (the
    * 5e-7 rounding margin absorbs sum-order ulp noise). Spark-first
    * shape: the iteration is a join + aggregate pair, unrolled — no
    * driver loop, no collect; at 100 TB each iteration is one shuffle
    * on the node id, and the edge list would be pre-partitioned by
    * src so the join reuses one exchange. Customer nodes are offset by
    * 1_000_000 to share one id space with suppliers. */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sup"),
              (col("o_custkey") + 1000000L).as("cust"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("cust").as("dst"))
      .union(pairs.select(col("cust").as("src"), col("sup").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // The (edge × source-degree) list feeds every unrolled iteration;
    // without pinning, Catalyst re-derives the lineitem⋈orders +
    // distinct + degree subtree per reference (measured 2.7 s vs ~1 s
    // at sf0.1). The graph IS a derived table a deployment persists —
    // so it goes through the content-hash artifact cache (P6): first
    // caller pays the derivation, everyone after scans parquet; the
    // artifact invalidates iff lineitem/orders or this plan change.
    // Pre-joining outdeg also removes a per-iteration join — each
    // iteration is then ONE join with the tiny rank frame (AQE
    // broadcasts it) + one map-side-combined aggregate. At 100 TB the
    // artifact becomes an edge table bucketed by src and the
    // per-iteration shuffle reuses its layout.
    lazy val withDeg = edges.join(deg, "src")
    val edgesW = ArtifactCache.materialize(s, Artifacts.cacheRoot,
      "pagerank_edges_v1", d)(Seq(withDeg))(
      ArtifactCache.artifactHash(withDeg))(withDeg)
    // node list re-derived from the ARTIFACT (outdeg is constant per
    // src), so the expensive base subtree is never referenced again
    val nodes = edgesW.groupBy(col("src").as("node_id"))
      .agg(min("outdeg").as("outdeg"))
    // r0 = 1.0 for every node; one iteration = scatter r/outdeg along
    // edges, gather by target, damp, round.
    def step(r: DataFrame): DataFrame =
      edgesW
        .join(r.withColumnRenamed("node_id", "src"), "src")
        .groupBy(col("dst").as("node_id"))
        .agg(round(lit(0.15) + lit(0.85) * sum(col("rank") / col("outdeg")), 6)
          .as("rank"))
    // Iteration 1 folds the constant r0 = 1.0 (r20, guide §2.4): the
    // join with the all-ones rank frame attaches a literal to every
    // edge (every src IS a node by the bidirectional union), so r1
    // aggregates straight off the edge artifact — same float math
    // (sum(1.0/outdeg) ≡ sum(rank/outdeg) with rank = 1.0), one join
    // and one artifact scan fewer in the plan.
    val r1 = edgesW.groupBy(col("dst").as("node_id"))
      .agg(round(lit(0.15) + lit(0.85) * sum(lit(1.0) / col("outdeg")), 6)
        .as("rank"))
    val r3 = step(step(r1))
    nodes.join(r3, "node_id")
      .select(col("node_id"), col("outdeg").as("degree"), col("rank"))
      .orderBy("node_id")
  }

  /** MERGE INTO / upsert semantics (SCD-1), Spark-first: without a
    * table format carrying MERGE, the operation IS a full-outer join
    * on the key with per-column coalesce — matched rows take the
    * update's values, unmatched-source rows insert, unmatched-target
    * rows carry over, and an `action` column records which branch
    * fired (the audit column a CDC pipeline emits). Updates here are
    * derived from the data (orders with returned lineitems flip to
    * status 'R'; synthetic new orders arrive under offset keys), so
    * the key is fully deterministic with integer/string columns only.
    * At 100 TB both sides shuffle once on the merge key — identical to
    * what Delta/Iceberg do under MERGE minus the transaction log. */
  def mergeUpsertScd1(s: SparkSession, d: String): DataFrame = {
    val target = orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
    val returned = lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_returned"))
    val inserts = returned
      .filter(col("l_orderkey") % 50 === 0)
      .select((col("l_orderkey") + 100000000L).as("key"),
              lit("N").as("new_status"), col("n_returned"))
    val updates = returned
      .select(col("l_orderkey").as("key"), lit("R").as("new_status"),
              col("n_returned"))
      .union(inserts)
    target.select(col("o_orderkey").as("key"), col("o_orderstatus"),
                  col("o_custkey"))
      .join(updates, Seq("key"), "full_outer")
      .select(
        col("key"),
        coalesce(col("new_status"), col("o_orderstatus")).as("status"),
        coalesce(col("n_returned"), lit(0L)).as("n_returned"),
        when(col("new_status").isNull, "keep")
          .when(col("o_orderstatus").isNull, "insert")
          .otherwise("update").as("action"))
      .orderBy("key")
  }
}
