package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 coverage wave: reshaping operators (pivot/unpivot),
  * order statistics, argmin/argmax aggregation, deterministic
  * sampling, string similarity, PII redaction, time-series gap fill,
  * and int8 embedding quantization.
  *
  * Scale notes:
  *  - Every key is a single-pass groupBy / join shape — one shuffle on
  *    its natural key, no driver-side loops, partition-count-agnostic.
  *  - `sample_hash_deterministic` is the 100 TB sampling primitive:
  *    hash-mod sampling is reproducible across runs/engines and
  *    pushes down to a plain filter (no reservoir state, no rand()).
  *  - `emb_quantize_int8` is the storage-side scale lever for vector
  *    corpora: 4× smaller vectors before any index build; the
  *    per-vector scale survives as a column so dequantization stays
  *    exact to 1/254 of the max coordinate.
  */
object QueriesR2 {
  import Tables._

  /** Exact interpolated percentiles (Spark `percentile` ≡ ANSI
    * percentile_cont ≡ DuckDB quantile_cont) per return flag. */
  def aggPercentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("p25_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("med_price"))
      .orderBy("l_returnflag")

  /** argmax/argmin + filtered count + boolean aggregates. The max_by
    * score is made UNIQUE by composing exact cents with the order key
    * (both < 2^63), because max_by/arg_max tie-breaking is undefined on
    * both engines (§2.3 determinism). */
  def aggArgminmax(s: SparkSession, d: String): DataFrame = {
    val score = "CAST(round(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey"
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        expr(s"max_by(o_orderkey, $score)").as("top_order"),
        expr(s"min_by(o_orderkey, $score)").as("bottom_order"),
        expr("count_if(o_orderstatus = 'F')").as("n_f"),
        expr("bool_or(o_totalprice > 400000.0)").as("any_big"),
        expr("bool_and(o_totalprice > 1000.0)").as("all_over_1k"))
      .orderBy("o_orderpriority")
  }

  /** Wide pivot: order counts per priority × status. Pivot values are
    * pinned explicitly (never inferred — inference adds a scan and can
    * reorder columns run-to-run). */
  def pivotStatusMatrix(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("f_cnt"),
        coalesce(col("O"), lit(0L)).as("o_cnt"),
        coalesce(col("P"), lit(0L)).as("p_cnt"))
      .orderBy("o_orderpriority")

  /** Long unpivot (melt) of three derived balance metrics. The derived
    * values use only exact double ops (×2, negate) so both engines
    * hold bit-identical doubles. */
  def unpivotBalanceMetrics(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_custkey"),
        col("c_acctbal").as("bal"),
        (col("c_acctbal") * 2).as("bal_2x"),
        (-col("c_acctbal")).as("bal_neg"))
      .unpivot(
        Array(col("c_custkey")),
        Array(col("bal"), col("bal_2x"), col("bal_neg")),
        "metric", "val")
      .orderBy("c_custkey", "metric")

  /** Deterministic ~12.5% sample: first hex digit of md5(key) ∈ {0,1}.
    * Hash-mod sampling (vs TABLESAMPLE/rand()) is reproducible across
    * engines, runs, and partitionings, and evaluates scan-side inside
    * whole-stage codegen before any shuffle — the sampling primitive
    * that still works on a 100 TB scan. Decimal accumulator for the
    * big-group sum (addition-order noise, §2.3). */
  def sampleHashDeterministic(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1)
        .isin("0", "1"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"),
           sum(col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").as("sampled_total"))
      .orderBy("o_orderstatus")

  /** Edit-distance string similarity over part-name pairs (the fuzzy
    * join primitive). Normalized distance is a quotient → no round-tie
    * risk (§2.3). At scale the cross join is bounded by a blocking key
    * (here: the key range filter stands in for a length/prefix block). */
  def fnStringSimilarity(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).select("p_partkey", "p_name").filter(col("p_partkey") <= 60)
    p.as("a").join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
      .select(
        col("a.p_partkey").as("id1"), col("b.p_partkey").as("id2"),
        levenshtein(col("a.p_name"), col("b.p_name")).as("lev"),
        round(levenshtein(col("a.p_name"), col("b.p_name")).cast("double") /
          greatest(length(col("a.p_name")), length(col("b.p_name")))
            .cast("double"), 6).as("lev_norm"))
      .orderBy("id1", "id2")
  }

  /** PII-style redaction: digit runs → <NUM>, the stopword 'the' →
    * <W>; emits redaction counts + a prefix proving the rewrite ran.
    * regexp_replace is all-occurrences on both engines (DuckDB needs
    * the 'g' flag — pinned in the oracle). */
  def docsPiiRedact(s: SparkSession, d: String): DataFrame = {
    val red = regexp_replace(
      regexp_replace(col("text"), "[0-9]{2,}", "<NUM>"),
      "\\bthe\\b", "<W>")
    documents(s, d)
      .select(col("doc_id"),
        substring(red, 1, 60).as("red_prefix"),
        length(red).as("red_len"),
        size(expr("regexp_extract_all(text, '\\\\bthe\\\\b', 0)")).as("n_the"))
      .orderBy("doc_id")
  }

  /** Time-series gap fill: one row per customer-day across each
    * customer's active span, zero-filled — sequence()+explode is the
    * Spark-native densification (generates rows executor-side; never a
    * driver loop). */
  def tsGapFill(s: SparkSession, d: String): DataFrame =
    Ops.gapFill(
      orders(s, d).filter(col("o_custkey") < 20)
        .select(col("o_custkey"),
                date_trunc("DAY", col("o_orderdate")).as("day")),
      "o_custkey", "day", "1 DAY", "n_orders")
      .orderBy("o_custkey", "day")

  /** Trigonometric/inverse-trig matrix (completes fn_math's function
    * families): all transcendental outputs, so cross-engine midpoint
    * ties are unreachable (§2.3); inputs derived from keys, bounded
    * into each function's domain. */
  def fnTrig(s: SparkSession, d: String): DataFrame =
    customer(s, d).selectExpr(
      "c_custkey",
      "round(sin(c_acctbal / 1000), 6) AS sn",
      "round(cos(c_acctbal / 1000), 6) AS cs",
      "round(tan(c_custkey % 7 + 0.1), 6) AS tn",
      // CAST to DOUBLE: a bare `/ 19.0` is DECIMAL division in Spark
      // (literal 19.0 = DECIMAL(3,1)) whose 6-digit quotient feeds
      // asin a truncated input — DuckDB divides as doubles.
      "round(asin(CAST(c_custkey % 19 AS DOUBLE) / CAST(19.0 AS DOUBLE)), 6) AS asn",
      "round(acos(CAST(c_custkey % 19 AS DOUBLE) / CAST(19.0 AS DOUBLE)), 6) AS acs",
      "round(atan(c_acctbal / 1000), 6) AS atn",
      "round(atan2(c_acctbal, c_custkey + 1.0), 6) AS at2",
      "round(degrees(c_acctbal / 1000), 6) AS dg",
      "round(radians(CAST(c_custkey % 360 AS DOUBLE)), 6) AS rd",
      "round(sinh(c_acctbal / 10000), 6) AS snh",
      "round(cosh(c_acctbal / 10000), 6) AS csh",
      "round(tanh(c_acctbal / 10000), 6) AS tnh")
      .orderBy("c_custkey")

  /** Weighted statistics per group: weighted mean and weighted
    * variance, plus the weight mass — the reweighting primitive for
    * importance-sampled corpora. Every sum runs over EXACT decimals
    * (qty 2dp × price 2dp products), so both engines divide identical
    * doubles and the rounding is deterministic (double sums of w·x²
    * at ~1e17 would leave the 6th decimal to addition order). */
  def aggWeightedStats(s: SparkSession, d: String): DataFrame = {
    val w   = "CAST(l_quantity AS DECIMAL(6,2))"
    val wx  = s"$w * CAST(l_extendedprice AS DECIMAL(12,2))"
    val wxx = s"$w * (CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)))"
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr(s"CAST(sum($w) AS DOUBLE)").as("w_mass"),
        expr(s"round(CAST(sum($wx) AS DOUBLE) / CAST(sum($w) AS DOUBLE), 6)")
          .as("w_mean"),
        expr(s"round(CAST(sum($wxx) AS DOUBLE) / CAST(sum($w) AS DOUBLE) - " +
             s"pow(CAST(sum($wx) AS DOUBLE) / CAST(sum($w) AS DOUBLE), 2), 4)")
          .as("w_var"))
      .orderBy("l_returnflag")
  }

  /** Bitwise function matrix over the event key space (segment masks,
    * bloom-ish bit tricks — the ops a feature-hashing pipeline leans
    * on). Integer-only in and out → no FP hazards at all. */
  def fnBitwise(s: SparkSession, d: String): DataFrame =
    events(s, d).selectExpr(
      "event_id",
      "event_id & user_id AS band",
      "event_id | user_id AS bor",
      "event_id ^ user_id AS bxor",
      "~event_id AS bnot",
      "shiftleft(user_id, 3) AS shl",
      "shiftright(event_id, 2) AS shr",
      "bit_count(event_id) AS bc",
      "event_id % 8 AS bucket")
      .orderBy("event_id")

  /** IGNORE NULLS window matrix: running last non-null, global 2nd
    * non-null, next non-null — the gap-bridging primitives for sparse
    * sensor/feature columns. Null seeding is deterministic (key mod). */
  def windowIgnoreNulls(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .selectExpr("o_custkey", "o_orderkey",
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v")
      .selectExpr(
        "o_custkey", "o_orderkey", "v",
        """last_value(v) IGNORE NULLS OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_last""",
        """nth_value(v, 2) IGNORE NULLS OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_nn""",
        """lead(v) IGNORE NULLS OVER
           (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_nn""")
      .orderBy("o_custkey", "o_orderkey")

  /** Stratified deterministic sample: exactly ≤100 rows PER STRATUM,
    * picked by md5-hash order (reproducible across engines and
    * partitionings; no rand()). The per-group row_number is the
    * bounded-sample primitive — at 100 TB it map-side-limits each
    * stratum before anything wide. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    Ops.stratifiedSample(orders(s, d), "o_orderstatus", "o_orderkey", 100)
      .select("o_orderstatus", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderstatus", "rn")

  /** Shannon entropy of each document's token distribution (unigram
    * H = −Σ p ln p, 6dp): the information-density signal a quality
    * filter ranks on (spam/boilerplate → low H). Entropy terms are
    * quotients and logs — no round-tie risk (§2.3). */
  def docsEntropy(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .withColumn("n", sum("c").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_unique"),
           min("n").as("n_tokens"),
           round(expr(
             "-sum((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)))"), 6)
             .as("entropy"))
      .orderBy("doc_id")
  }

  /** Funnel analysis: per user, the earliest signup → first click
    * after it → first purchase after that, plus the stage reached —
    * the conversion primitive. Every stage timestamp is a min() over a
    * time-filtered set, so ties in ts are harmless (min of equal
    * values) and the result is deterministic. */
  def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val a = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t_signup"))
    val b = e.filter(col("event_type") === "click").as("c")
      .join(a, Seq("user_id"))
      .filter(col("ts") >= col("t_signup"))
      .groupBy("user_id", "t_signup").agg(min("ts").as("t_click"))
    val c3 = e.filter(col("event_type") === "purchase").as("p")
      .join(b, Seq("user_id"))
      .filter(col("ts") >= col("t_click"))
      .groupBy("user_id", "t_signup", "t_click")
      .agg(min("ts").as("t_purchase"))
    a.join(b.select("user_id", "t_click"), Seq("user_id"), "left")
      .join(c3.select("user_id", "t_purchase"), Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"),
        col("t_purchase"),
        (when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .otherwise(1)).cast("int").as("stage"))
      .orderBy("user_id")
  }

  /** Cohort retention matrix: users grouped by signup week (their
    * first event), activity counted per whole-week offset — the
    * engagement table every product pipeline derives. Two aggregations
    * and a join, all on the user key. */
  def eventsRetention(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("user_id"), date_trunc("WEEK", col("ts")).as("week"))
    val cohort = e.groupBy("user_id").agg(min("week").as("cohort_week"))
    e.join(cohort, "user_id")
      .withColumn("week_offset",
        expr("CAST(datediff(week, cohort_week) DIV 7 AS INT)"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Z-score anomaly flags: events whose value sits more than 3
    * standard deviations from their type's mean. Stats computed in one
    * pass (window over type), threshold applied to the ROUNDED z so
    * cross-engine ulp noise in avg/stddev can't flip a flag at the
    * boundary. */
  def eventsAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    events(s, d)
      .withColumn("mu", avg("value").over(w))
      .withColumn("sd", stddev_samp("value").over(w))
      .withColumn("z", round((col("value") - col("mu")) / col("sd"), 4))
      .filter(abs(col("z")) > 3.0)
      .select("event_id", "event_type", "value", "z")
      .orderBy("event_id")
  }

  /** Fixed-width histogram of document lengths (21 buckets, last one
    * open-ended). Fixed bucket bounds — not data-derived min/max — so
    * the key is one aggregation pass with no pre-scan. */
  def aggHistogram(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(least(floor(col("n_chars") / 100.0), lit(20.0))
        .cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"))
      .orderBy("bucket")

  /** ANN quality evaluation: recall@3 of the IVF index against exact
    * brute-force kNN, reported as the distribution of per-vector hit
    * counts (0..3). The measurement every ANN deployment needs before
    * trusting nprobe — and it composes two engine operators (annIvf +
    * knnBruteForce) in one plan. */
  def embIvfRecall(s: SparkSession, d: String): DataFrame = {
    // Both inputs come from the shared vector artifacts: the ANN list
    // as-is, the ground truth as the top-3 prefix of the k=5 artifact
    // (bounded top-k under a fixed order rule is prefix-closed).
    // The report itself is a derived artifact (an eval report IS the
    // thing a deployment persists next to the index it grades), keyed
    // on the same corpus fingerprint as both upstream artifacts —
    // which, with the fixed hyperparameters in the name, pins the
    // whole derivation.
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    ArtifactCache.materialize(
      s, Artifacts.cacheRoot, "ivf_recall_v1_top3_np4_c16i3", d)(Seq(e))(
      ArtifactCache.artifactHash(e)) {
      val ann = Artifacts.annIvfTop3(s, d)
        .select("vec_id", "neighbor_id")
      val exact = Artifacts.knnTop5(s, d)
        .filter(col("rk") <= 3)
        .select("vec_id", "neighbor_id")
      val hits = exact.join(ann, Seq("vec_id", "neighbor_id"), "left_semi")
        .groupBy("vec_id").agg(count(lit(1)).as("m"))
      exact.select("vec_id").distinct()
        .join(hits, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("m"), lit(0L)).as("matched"))
        .groupBy("matched")
        .agg(count(lit(1)).as("n_vecs"))
    }.orderBy("matched")
  }

  /** Random-hyperplane LSH ANN — the third similarity-search strategy
    * after brute force (exact) and IVF (codebook cells): 8 hyperplanes
    * whose coefficients are md5-derived (engine-portable, §2.3-3, same
    * trick as SimHash), sign bits pack into a 256-way bucket id, and
    * the exact top-3 is taken WITHIN each bucket. Candidate cost drops
    * from n² to Σ n_b² ≈ n²/256; planes are constants so the signature
    * is one narrow aggregation. Dots are rounded to 6dp before the
    * sign test so cross-engine sum-order noise can't flip a bit. */
  def embAnnLsh(s: SparkSession, d: String): DataFrame = {
    Exprs.register(s); TopK.register(s)
    val pe = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("j"),
              col("col").cast("double").as("x"))
    val planes = s.range(0, 8).select(col("id").as("p"))
      .crossJoin(s.range(1, 65).select(col("id").as("j")))
      .select(col("p"), col("j"), expr(
        "(CAST(CAST(conv(substring(md5(concat(p, '_', j)), 1, 8), 16, 10) AS BIGINT) % 2001 AS DOUBLE) - 1000.0) / 1000.0")
        .as("h"))
    val dots = pe.join(broadcast(planes), Seq("j"))
      .groupBy("vec_id", "p")
      .agg(round(sum(col("h") * col("x")), 6).as("dot"))
    val sig = dots.groupBy("vec_id")
      .agg(sum(expr(
        "CASE WHEN dot > 0 THEN CAST(shiftleft(1, CAST(p AS INT)) AS BIGINT) ELSE 0L END"))
        .as("bucket"))
    // Hot-bucket cap, same posture as Ops.minhashNearDupFrom: a
    // degenerate sign-bucket (near-identical embeddings) would make
    // the in-bucket verification O(n_b²). Membership per bucket is
    // capped at 4096 by deterministic hash order via the bounded
    // TopKByScore aggregate. The cap guards SKEW at the current
    // geometry (8 planes → 256 buckets, healthy bucket ≈ n/256): it is
    // 100× the expected bucket at this corpus size, so recall is
    // untouched unless a bucket is pathological. The geometry itself
    // is the scale knob — unlike minhash (16 bands per doc), each
    // vector lives in exactly ONE bucket, so at larger n the plane
    // count must grow ~log2(n/target_bucket) to keep healthy buckets
    // under the cap; capping is not a substitute for re-sizing nbits.
    val cappedSig = sig.groupBy("bucket")
      .agg(expr("topk_by_score(cast(xxhash64('bcap', vec_id) as double)," +
        " vec_id, 4096)").as("keep"))
      .select(col("bucket"), explode(col("keep.id")).as("vec_id"))
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val withSig = e.join(cappedSig, "vec_id")
    withSig.as("a").join(withSig.as("b"),
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
              col("b.vec_id").as("neighbor_id"),
              round(expr("cosine_sim(a.embedding, b.embedding)"), 6)
                .as("cos_sim"))
      .groupBy("vec_id")
      .agg(expr("topk_by_score(cos_sim, neighbor_id, 3)").as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
              col("col.score").as("cos_sim"), (col("pos") + 1).as("rk"))
      .orderBy("vec_id", "rk")
  }

  /** Symmetric int8 quantization per embedding: scale = max|x|/127,
    * q_i = round(x_i/scale). Outputs the scale plus two exact integer
    * digests (position-weighted dot, L1) — the checkable essence
    * without array-typed output columns. Identical IEEE expression
    * order on both engines → identical doubles into round(), and
    * round-half behavior agrees on identical doubles (§2.3). */
  def embQuantizeInt8(s: SparkSession, d: String): DataFrame =
    Ops.quantizeInt8(embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"),
        // Array-native digests: the earlier posexplode spelling blew
        // each vector into 64 rows and shuffled them back into a
        // hash aggregate — 64× the rows over the wire for two sums the
        // row already holds. transform's (element, index) lambda +
        // aggregate keep both digests in-row: zero shuffles, the whole
        // key is a narrow projection + the final sort.
        expr("aggregate(transform(q, (x, i) -> CAST(x AS BIGINT) * (i + 1))," +
          " 0L, (a, x) -> a + x)").as("qdot"),
        expr("aggregate(q, 0L, (a, x) -> a + abs(CAST(x AS BIGINT)))").as("l1"))
      .orderBy("vec_id")
}
