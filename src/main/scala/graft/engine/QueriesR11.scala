package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 keys: three training-data-pipeline operators that each add
  * a scale recipe the registry did not yet demonstrate —
  * cluster-scoped semantic dedup (SemDeDup), inverted-index sparse
  * similarity (doc-doc top-k without a dense n² pass), and CCNet-style
  * perplexity bucketing. §2.3 determinism rules throughout.
  */
object QueriesR11 {
  import Tables._

  /** Absolute per-term posting cap for docs_sparse_sim_topk's
    * candidate index (impact-ordered prefix filtering). Chosen above
    * every surviving posting list at the test SFs (max 402 at
    * sf0.01, 250 at sf0.1) so truncation is a no-op locally and the
    * key's oracle hash is unchanged; at 100 TB it is the bound that
    * keeps candidate emissions ≤ cap/2 per posting — linear in
    * corpus size. 512 × 16 B = 8 KB of TopK heap state per term,
    * safely under the ObjectHashAggregate fallback budget
    * documented in TopK.register. */
  private[graft] val SparseSimPostingCap = 512

  /** SemDeDup-style cluster-scoped embedding dedup: assign every
    * vector to its nearest trained coarse centroid (the SAME
    * 16×3-iteration k-means artifact the IVF keys share —
    * `Cache.ivfCodebook`), then kill within each cell only: a vector
    * is a duplicate iff an EARLIER-id vector in its cell has rounded
    * cosine > 0.45 (`dup_of` = the smallest such id; kept otherwise).
    *
    * Scale shape (the reason this exists next to `emb_dedup_cosine`):
    * the candidate surface is Σ|cell|², not n² — cell count grows
    * with the corpus (train k ∝ n/target_cell on a deterministic
    * hash-sample) so cell size stays bounded, and the per-cell
    * self-join shuffles each vector ONCE on its cell id. The codebook
    * is a broadcast-sized artifact; assignment is one map-side
    * cross-join pass with a bounded top-1 aggregate (no n×k shuffle).
    * The earlier-id kill rule needs no iterative closure, so the
    * whole pass is two shuffles end-to-end regardless of corpus
    * size. */
  def embSemdedup(s: SparkSession, d: String): DataFrame = {
    Exprs.register(s); TopK.register(s)
    val e = embeddings(s, d).select("vec_id", "embedding")
    val cent = Artifacts.ivfCodebook(s, d)
    // argmax assignment, same tie rule as annIvf: (score DESC, cid ASC)
    val asg = e.crossJoin(broadcast(cent))
      .select(col("vec_id"),
              round(expr("cosine_sim(embedding, cemb)"), 6).as("cs"),
              col("cid"))
      .groupBy("vec_id")
      .agg(expr("topk_by_score(cs, cid, 1)").as("t"))
      .select(col("vec_id"), expr("t[0].id").as("cid"))
    val cells = e.join(asg, "vec_id")
    val dup = cells.as("a").join(cells.as("b"),
        col("a.cid") === col("b.cid") &&
        col("b.vec_id") < col("a.vec_id"))
      .filter(round(expr("cosine_sim(a.embedding, b.embedding)"), 6)
        > lit(0.45))
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(min(col("b.vec_id")).as("dup_of"))
    cells.select("vec_id", "cid")
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
              col("dup_of").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** Doc-doc cosine top-3 over tf-idf vectors via an INVERTED-INDEX
    * join — the sparse-similarity recipe: pairs meet only through
    * terms they share, so the candidate surface is Σ df(term)², never
    * the dense n². Ubiquitous terms (df·10 > n, the stopword mass
    * that would dominate fan-out while carrying near-zero idf) are
    * pruned from the index, and — the r8-verdict scale fix — the
    * CANDIDATE index is impact-ordered prefix-filtered to an ABSOLUTE
    * per-term posting cap: only each term's top-B postings by weight
    * (TopKByScore: mergeable bounded heap, map-side partials — never
    * a per-term sort) generate pairs, so candidate emissions are ≤
    * B/2 per posting — LINEAR in corpus size by construction, where
    * the relative df·10 ≤ n prune alone still admitted (n/10)² pairs
    * per surviving term. Candidates are then re-scored EXACTLY
    * against the FULL posting lists (pair ⋈ postings on doc ids, one
    * hash join per side), so truncation affects only which pairs are
    * considered, never a reported score. B = 512 exceeds every
    * surviving posting list at the test SFs (max 402 at sf0.01), so
    * the output is bit-identical to the uncapped spelling there and
    * the DuckDB oracle is unchanged; SparseSimBoundSpec pins the
    * emission bound.
    *
    * Exactness (§2.3): weights are rounded to 6dp; every pairwise
    * product (dot terms, norm terms) is rounded to the 1e-9 grid and
    * summed as DECIMAL(28,9) — order-proof accumulators, the
    * docs_lm_score precedent — so no sum depends on shuffle order.
    * Ranks are computed over the ROUNDED similarity with doc-id
    * tie-breaks. */
  /** The pruned tf-idf posting index (doc_id, term, wt) feeding
    * docs_sparse_sim_topk — exposed for SparseSimBoundSpec. */
  private[graft] def sparseSimWeights(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df falls out of tf for free: tf has exactly one row per distinct
    // (doc, term), so rows-per-term IS the document frequency — no
    // second tokenization pass over the corpus
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n"))
    tf.join(dfq, "term").crossJoin(broadcast(n))
      .filter(col("df") * 10 <= col("n"))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 6)
          .as("wt"))
  }

  /** Candidate pairs from the cap-truncated index: each term
    * contributes pairs only among its top-`cap` postings by (weight
    * DESC, doc_id ASC), so emissions are ≤ cap/2 × postings — the
    * linearity bound SparseSimBoundSpec pins. */
  private[graft] def sparseSimCandidates(w: DataFrame, cap: Int): DataFrame = {
    TopK.register(w.sparkSession)
    val wcand = w.groupBy("term")
      .agg(expr(s"topk_by_score(wt, doc_id, $cap)").as("post"))
      .select(col("term"), explode(col("post")).as("p"))
      .select(col("term"), col("p.id").as("doc_id"))
    wcand.as("a").join(wcand.as("b"),
        col("a.term") === col("b.term") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  def docsSparseSimTopk(s: SparkSession, d: String): DataFrame = {
    // the posting index is a P6 artifact: built once per (corpus ×
    // derivation), then every consumer below scans the pruned parquet
    // instead of re-tokenizing the corpus (4 consumers in this plan)
    val w = Artifacts.sparsePostings(s, d)
    val norms = w
      .withColumn("t2",
        expr("CAST(round(wt * wt, 9) AS DECIMAL(28,9))"))
      .groupBy("doc_id")
      .agg(sqrt(sum("t2").cast("double")).as("nrm"))
    val cand = sparseSimCandidates(w, SparseSimPostingCap)
    // exact re-score: candidate pairs join their FULL posting lists —
    // shared terms contribute the same 1e-9-grid products as the
    // uncapped index join would
    val dot = cand
      .join(w.select(col("doc_id").as("id1"), col("term"),
                     col("wt").as("wta")), Seq("id1"))
      .join(w.select(col("doc_id").as("id2"), col("term"),
                     col("wt").as("wtb")), Seq("id2", "term"))
      .select(col("id1"), col("id2"),
        expr("CAST(round(wta * wtb, 9) AS DECIMAL(28,9))").as("p"))
      .groupBy("id1", "id2")
      .agg(sum("p").cast("double").as("dt"))
    val sim = dot
      .join(norms.select(col("doc_id").as("id1"), col("nrm").as("n1")), "id1")
      .join(norms.select(col("doc_id").as("id2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
              round(col("dt") / (col("n1") * col("n2")), 6).as("cos"))
    val sym = sim.select(col("id1").as("doc_id"), col("id2").as("sim_doc"),
                         col("cos"))
      .unionAll(sim.select(col("id2").as("doc_id"), col("id1").as("sim_doc"),
                           col("cos")))
    val rw = Window.partitionBy("doc_id")
      .orderBy(col("cos").desc, col("sim_doc"))
    sym.withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= 3)
      .orderBy("doc_id", "rk")
  }

  /** Per-user exponential smoothing of the event value stream — the
    * time-series feature every metrics/telemetry pipeline derives.
    * Semantics: a TRUNCATED exponentially-weighted mean with α = 0.5
    * over the 32 most recent events (per user, ordered by (ts,
    * event_id)): y_i = Σ_k 2⁻ᵏ·x_{i−k} / (2 − 2^(1−m)) over the m =
    * min(i, 32) available lags. Contributions beyond lag 32 are below
    * 2⁻³² ≈ 2e-10 — noise under the 6dp output grid — so truncation
    * is the DEFINITION here, not an approximation shortcut.
    *
    * Determinism (§2.3): weights are exact powers of two (α = 0.5 is
    * chosen so no libm pow parity is ever in play), every term is
    * quantized to the 1e-9 grid and summed as an exact INTEGER count
    * of 1e-9 units (≤ ~1.2e12 — order-proof, overflow-proof), and the
    * denominator is the closed form 2 − 2^(1−m), again exact. A
    * window-function spelling would hang the result on each engine's
    * frame-accumulation FP order; this one cannot differ.
    *
    * BOTH quantizations (term → 1e-9, result → 1e-6) are spelled as
    * `floor(x·10^s + 0.5)` — pure IEEE ops that every engine executes
    * bit-identically on identical inputs — NOT as the engine's
    * `round()`: library round semantics differ at half-up boundaries
    * (Spark rounds the double's shortest decimal string HALF_UP,
    * DuckDB rounds the scaled double), and the round-13 sf0.1 sweep
    * caught a real term landing on a 9dp boundary (event 92303's
    * user: one term off by 1e-9 pushed the quotient across a 6dp
    * boundary — the only hash divergence in 255 keys × 91k rows).
    * Values are nonnegative (fixture min 0.0), so floor(x+0.5) is
    * exactly half-away-from-zero.
    *
    * Scale shape (r20 respelling — guide §2.4, verdict r19 #7): ONE
    * user-partitioned sliding window (rows [-31, 0]) collects each
    * event's ≤32 predecessors; the 1e-9-grid terms are computed
    * ROW-LOCALLY over that bounded array and folded as exact
    * integers. The previous explode(sequence(0,31)) spelling shipped
    * 32× the event stream through a second (user, target-index)
    * exchange and joined it back — 3 exchanges and a join for what is
    * a 32-wide sliding window; now: 1 exchange, 0 joins. Per-term
    * arithmetic is UNCHANGED (k = size(vals)-1-j is the same lag the
    * exploded spelling computed as ti − i; terms are integers, so the
    * fold order cannot show — the frame-accumulation-FP-order hazard
    * the note above bans does not apply to an integer fold), and m =
    * window size ≡ the old per-ti count. State per key is the
    * 32-value frame; skew = hottest user.
    *
    * Precondition: `events.value` is non-null (FixtureShapeSpec pins
    * it at every tier). `collect_list` drops NULLs, so a null value
    * would shift every later lag and shrink m: the fold cannot give
    * SUM's null semantics, and it has no null arm. */
  def eventsEwma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-31, Window.currentRow)
    events(s, d).select("event_id", "user_id", "ts", "value")
      .withColumn("vals", collect_list("value").over(w))
      .withColumn("num_u", expr(
        "aggregate(" +
          "transform(vals, (v, j) -> " +
          // exact 1e-9-unit integer: floor of the IEEE-scaled double
          "FLOOR(v * pow(2.0, -(size(vals) - 1 - j)) * 1000000000.0 " +
          "+ 0.5)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("m", size(col("vals")).cast("long"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value"), col("m"),
        (floor((col("num_u").cast("double") / lit(1e9) /
            (lit(2.0) - pow(lit(2.0), lit(1.0) - col("m")))) *
          lit(1e6) + lit(0.5)) / lit(1e6)).as("ewma"))
      .orderBy("event_id")
  }

  /** Incremental aggregate refresh — the materialized-rollup
    * maintenance contract: the historical slice and the delta slice
    * aggregate INDEPENDENTLY to partial states (count / decimal sum /
    * min / max — all mergeable), and the refresh is a group-merge of
    * the two partial tables; derived metrics (avg) come off the merged
    * state as a final quotient. The key pins the merge algebra: the
    * merged result must hash-equal the oracle's one-shot aggregate
    * over the whole table.
    *
    * Scale shape: at 100 TB the base partial is a persisted artifact
    * keyed on its slice fingerprint; each refresh scans ONLY the delta
    * and merges two rollup-sized tables — never re-reads history.
    * DECIMAL accumulators make the merge order-proof (§2.3). */
  def aggIncrementalRefresh(s: SparkSession, d: String): DataFrame = {
    val split = lit("1997-01-01").cast("timestamp")
    def partial(df: DataFrame): DataFrame = df
      .groupBy(year(col("o_orderdate")).as("o_year"),
               col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"),
           min("o_totalprice").as("mn"),
           max("o_totalprice").as("mx"))
    val o = orders(s, d)
    // the two slices must PARTITION the table: a bare </>= pair drops
    // NULL-dated rows from both sides while the one-shot oracle keeps
    // them, silently breaking the merge ≡ one-shot proof — nulls ride
    // with the delta
    val base  = partial(o.filter(col("o_orderdate") < split))
    val delta = partial(o.filter(
      col("o_orderdate").isNull || col("o_orderdate") >= split))
    base.unionByName(delta)
      .groupBy("o_year", "o_orderstatus")
      .agg(sum("cnt").as("n_orders"),
           sum("tot").as("tot2"),
           min("mn").as("min_price"),
           max("mx").as("max_price"))
      .select(col("o_year"), col("o_orderstatus"), col("n_orders"),
        col("tot2").cast("double").as("total_price"),
        round(col("tot2").cast("double") / col("n_orders"), 6)
          .as("avg_price"),
        col("min_price"), col("max_price"))
      // nulls-last pins row order to DuckDB's ASC default: a null
      // o_orderdate (the case the merge algebra handles) yields a
      // null o_year group, which Spark would otherwise sort FIRST and
      // the oracle LAST — a hash mismatch on row order alone
      .orderBy(col("o_year").asc_nulls_last,
               col("o_orderstatus").asc_nulls_last)
  }

  /** Column-profile drift between two table slices — the train/serve
    * skew detector every feature pipeline runs: mean, stddev, null
    * rate, distinct count, min, max of o_totalprice profiled on the
    * pre-/post-split slices, emitted as tidy (metric, val_a, val_b,
    * drift) rows. Moments come from EXACT decimal sums (2dp values →
    * 4dp squares, both exact), so both engines derive stddev from
    * bit-identical doubles with the same IEEE op sequence — no
    * accumulator-order dependence anywhere (§2.3).
    *
    * Scale shape: one pass per slice (a single groupBy on the slice
    * tag), constant-size output; at 100 TB the slices are partitions
    * and the profile is a map-side-combined aggregate. */
  def dqProfileDrift(s: SparkSession, d: String): DataFrame = {
    val split = lit("1997-07-01").cast("timestamp")
    // ONE pass over the table: conditional aggregates compute both
    // slices' profiles side by side — filtering a per-slice groupBy
    // into two branches would re-run the whole scan+aggregate per
    // branch, doubling the dominant cost at the documented scale
    val inA = col("o_orderdate") < split
    // null-safe complement: a NULL date lands in slice b (the old
    // otherwise("b") semantics), not in neither slice
    val inB = !coalesce(inA, lit(false))
    def sliced(cond: org.apache.spark.sql.Column, suffix: String) = Seq(
      count(when(cond, lit(1))).cast("double").as("n" + suffix),
      sum(when(cond, col("o_totalprice").cast("decimal(18,2)")))
        .cast("double").as("sm" + suffix),
      sum(when(cond, col("o_totalprice").cast("decimal(18,2)") *
                     col("o_totalprice").cast("decimal(18,2)")))
        .cast("double").as("ss" + suffix),
      sum(when(cond && col("o_totalprice").isNull, 1L).otherwise(0L))
        .cast("double").as("n_null" + suffix),
      min(when(cond, col("o_totalprice"))).as("mn" + suffix),
      max(when(cond, col("o_totalprice"))).as("mx" + suffix))
    val cols = sliced(inA, "") ++ sliced(inB, "_b")
    // r19 optimization (guide §2.3/§4): TWO countDistincts in the same
    // aggregate forced an Expand(×3) — every order row was replicated
    // three times through the 14-expression hash aggregate (measured
    // 1.0 s of the key's 1.16 s at sf0.1). The distinct counts now ride
    // their own two-level aggregate (distinct values per slice flag,
    // then a count — both map-side combined, no row replication) and
    // rejoin the one-row moments frame by cross join. Same exact
    // counts: countDistinct(when(cond, v)) counts distinct non-null v
    // among cond rows ≡ count(v where slice-flag) over the per-value
    // bool_or of cond. At 100 TB the moments pass streams once with
    // map-side partials and the distinct pass shuffles only
    // per-partition distinct values — strictly fewer bytes than the
    // Expand plan shuffled for the same legs.
    val moments = orders(s, d).agg(cols.head, cols.tail: _*)
    val nd = orders(s, d)
      .select(col("o_totalprice").as("tp"), inA.as("a"), inB.as("b"))
      .groupBy("tp").agg(max("a").as("ha"), max("b").as("hb"))
      .agg(count(when(col("ha"), col("tp"))).cast("double").as("nd"),
           count(when(col("hb"), col("tp"))).cast("double").as("nd_b"))
    moments.crossJoin(nd)
      .selectExpr(
        """stack(6,
          |'mean',   round(sm / n, 6),  round(sm_b / n_b, 6),
          |'stddev', round(sqrt((ss - (sm / n) * sm) / n), 6),
          |          round(sqrt((ss_b - (sm_b / n_b) * sm_b) / n_b), 6),
          |'null_rate', round(n_null / n, 6), round(n_null_b / n_b, 6),
          |'n_distinct', nd, nd_b,
          |'min', mn, mn_b,
          |'max', mx, mx_b) AS (metric, val_a, val_b)""".stripMargin)
      .selectExpr("metric", "val_a", "val_b",
        // nullif: a zero baseline (e.g. null_rate on a null-free
        // column) yields NULL drift, not a division error
        "round(abs(val_b - val_a) / nullif(abs(val_a), 0.0), 6) AS drift")
      .orderBy("metric")
  }

  /** Small-files compaction — the table-maintenance op every lakehouse
    * schedules: a fragmented layout (64 shard files here; in
    * production, the residue of streaming micro-batch commits) is
    * rewritten into target-sized files, and the key RETURNS a content
    * checksum frame (row count, key sum, decimal value sum, min/max
    * md5) computed from the COMPACTED layout — hash-matched against
    * the oracle's direct scan of the source table, so the rewrite is
    * proven lossless, not assumed. File counts are asserted in
    * PipelineSpec (an engine fact no SQL oracle can see).
    *
    * Scale shape: compaction is a read + write with NO shuffle —
    * `coalesce` only merges split assignments — so the cost is one
    * pass over the fragment bytes; at 100 TB it runs per-partition
    * (compact yesterday's directory, not the table) and commits via
    * atomic directory swap exactly like the zorder layout artifacts.
    * The fragmented input is staged once per run (scratch-dir
    * existence probe), so repeated calls measure compaction, not
    * staging. */
  def maintenanceCompact(s: SparkSession, d: String): DataFrame = {
    // scratch keyed on the DATASET too: a per-JVM "compact" dir would
    // hand a second scale factor the first one's staged fragments
    val tmp = RunScratch.dir(
      "compact_" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    val small = s"$tmp/small"
    val compacted = s"$tmp/compacted"
    val done = new java.io.File(s"$small/_SUCCESS")
    if (!done.exists())
      orders(s, d).repartition(64).write.mode("overwrite").parquet(small)
    s.read.parquet(small).coalesce(2)
      .write.mode("overwrite").parquet(compacted)
    s.read.parquet(compacted)
      .agg(count(lit(1)).as("n_rows"),
           sum("o_orderkey").as("key_sum"),
           sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
             .as("total_price"),
           min(md5(col("o_orderkey").cast("string"))).as("md5_min"),
           max(md5(col("o_orderkey").cast("string"))).as("md5_max"))
  }

  /** Spatial radius join by 2-D grid binning — the geo generalization
    * of `Ops.rangeJoinBinned`: suppliers and customers carry synthetic
    * deterministic lat/lon (the udf_scalar_haversine convention), and
    * "within 1000 km" pairs meet through an EQUI join on a (lat-cell,
    * lon-cell) grid — the smaller side replicated into its 3×3
    * neighborhood, the bigger side mapped once, exact haversine as the
    * residual filter. Coverage proof: within the |lat| ≤ 45 band a
    * 1000 km pair spans ≤ 9.0° of latitude (cell 10°) and ≤ 12.8° of
    * longitude (cell 15°, at the cos 45° worst case), so ±1 cells
    * suffice. Longitude WRAPS: cells live on the shifted [0°, 360°)
    * circle with 360/15 = 24 cells and replicas take pmod 24, so an
    * antimeridian-crossing pair (lon −179 vs +179 — 2° apart
    * physically, 358° apart numerically) still meets; 24 > 3 keeps
    * the three replicas distinct, so each qualifying pair meets in
    * exactly ONE cell (the customer's own) and no dedup pass is
    * needed. The band restriction is the
    * documented production boundary — poleward of it lon-degrees
    * compress past any fixed grid and the recipe switches to a
    * coarser polar scheme.
    *
    * Scale shape: the cross product never exists — candidates are
    * 9×|smaller side| replicas equi-joined and hash-partitioned by
    * cell; skew = the densest cell. Haversine runs as codegen'd SQL
    * trig (same spelling as the oracle — parity proven by
    * udf_scalar_haversine), rounded before the radius comparison so
    * the join membership itself is grid-stable (§2.3). */
  def joinSpatialGrid(s: SparkSession, d: String): DataFrame = {
    val dist =
      "round(2 * 6371.0 * asin(sqrt(" +
        "pow(sin((c_lat - s_lat) * pi() / 180 / 2), 2) + " +
        "cos(s_lat * pi() / 180) * cos(c_lat * pi() / 180) * " +
        "pow(sin((c_lon - s_lon) * pi() / 180 / 2), 2))), 4)"
    val cust = customer(s, d)
      .select(col("c_custkey"),
        ((col("c_custkey") % 180).cast("double") - 90 + 0.5).as("c_lat"),
        (((col("c_custkey") * 7) % 360).cast("double") - 180 + 0.5).as("c_lon"))
      .filter(abs(col("c_lat")) <= 45)
      .withColumn("glat", expr("CAST(floor(c_lat / 10.0) AS BIGINT)"))
      .withColumn("glon", expr("CAST(floor((c_lon + 180.0) / 15.0) AS BIGINT)"))
    val supp = supplier(s, d)
      .select(col("s_suppkey"),
        (((col("s_suppkey") * 13) % 180).cast("double") - 90 + 0.5).as("s_lat"),
        (((col("s_suppkey") * 29) % 360).cast("double") - 180 + 0.5).as("s_lon"))
      .filter(abs(col("s_lat")) <= 45)
      .withColumn("di", explode(expr("sequence(-1, 1)")))
      .withColumn("dj", explode(expr("sequence(-1, 1)")))
      .withColumn("glat", expr("CAST(floor(s_lat / 10.0) AS BIGINT)") + col("di"))
      .withColumn("glon",
        pmod(expr("CAST(floor((s_lon + 180.0) / 15.0) AS BIGINT)") + col("dj"),
             lit(24L)))
      .drop("di", "dj")
    supp.join(cust, Seq("glat", "glon"))
      .withColumn("dist_km", expr(dist))
      .filter(col("dist_km") <= 1000.0)
      .select("s_suppkey", "c_custkey", "dist_km")
      .orderBy("s_suppkey", "c_custkey")
  }

  /** Skip-gram co-occurrence with PMI — the statistic embedding
    * pipelines precompute (word2vec negative-sampling tables, PMI
    * matrices for SVD embeddings): token pairs within a ±2 window
    * counted per unordered pair, PMI = ln(c_xy·N² / (P·c_x·c_y)),
    * noise-floored at c_xy ≥ 5, global top-50 by (rounded PMI, pair).
    *
    * Scale shape: the pair join keys on doc_id, so its fan-out is
    * bounded by document length (window × tokens per doc), never the
    * corpus; the count tables are one map-side-combined shuffle each;
    * the two scalar totals broadcast. At 100 TB the position join
    * becomes the banded (doc, pos div B) equi join — same recipe as
    * rangeJoinBinned — and the top-50 is a bounded TopK. Determinism
    * (§2.3): counts are exact integers, the PMI expression is ONE
    * identical double op-sequence on both engines, ranking is over
    * the ROUNDED value with full pair tie-break. */
  def docsPmiCooccur(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "w")
    // (r19 note: a row-local flatten spelling — nested
    // transform/slice over the token array, no self-join — was
    // measured and REJECTED: nested higher-order string lambdas ran
    // 2× slower than this join at sf0.1; see OPTIMIZATION_r19.md)
    val pairs = tok.as("a").join(tok.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") &&
        col("b.pos") <= col("a.pos") + 2)
      .select(least(col("a.w"), col("b.w")).as("w1"),
              greatest(col("a.w"), col("b.w")).as("w2"))
    val cxy = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val cx = tok.groupBy("w").agg(count(lit(1)).as("c_x"))
    // n_pair = Σ c_xy — derived from the aggregated frame, so the pair
    // explode runs once behind cxy's reused exchange instead of twice
    // (counting the raw pair stream re-ran the whole flatten)
    val totals = tok.agg(count(lit(1)).as("n_tok"))
      .crossJoin(cxy.agg(sum("c_xy").as("n_pair")))
    cxy
      .join(cx.select(col("w").as("w1"), col("c_x").as("c1")), "w1")
      .join(cx.select(col("w").as("w2"), col("c_x").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .filter(col("c_xy") >= 5)
      .select(col("w1"), col("w2"), col("c_xy"),
        round(expr(
          "ln((CAST(c_xy AS DOUBLE) * n_tok * n_tok) / " +
            "(CAST(n_pair AS DOUBLE) * c1 * c2))"), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Dynamic partition overwrite — the lakehouse write-path contract
    * `sink_partitioned` doesn't cover: a corrected batch for ONE
    * partition (status F, prices restated ×2) is written with
    * `partitionOverwriteMode=dynamic`, which must replace exactly the
    * partitions present in the batch and leave every other partition's
    * files untouched. The read-back aggregate hash-matches an oracle
    * that restates F from the source table — so wiping the untouched
    * partitions (static-overwrite semantics) or appending instead of
    * replacing both break the hash.
    *
    * Scale shape: this is THE idiom for backfilling one day out of a
    * 100 TB date-partitioned table — the job writes the corrected
    * day and the commit touches one directory; everything else is
    * never read or rewritten. Restatement ×2 is exact on the 2dp
    * DECIMAL grid (§2.3). */
  def sinkPartitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val tmp = RunScratch.dir("dpo_orders")
    val o = orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice",
          (col("o_totalprice").cast("decimal(18,2)") * 2).cast("double"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.read.parquet(tmp)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
           sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
             .as("total"))
      .orderBy("o_orderstatus")
  }

  /** Matryoshka truncation audit — the dimension-budget table a
    * deployment reads before serving truncated embeddings (the MRL
    * recipe: store 64 dims, serve a prefix): for each prefix budget
    * k ∈ {8,16,32,64}, per-vector energy retention ‖x[:k]‖/‖x‖ —
    * which IS cos(x, zero-padded x[:k]) — aggregated to mean and
    * worst-case per k.
    *
    * Determinism (§2.3): the per-vector norms fold the array in index
    * order on both engines (the cosinePair precedent), the per-vector
    * retention is rounded to 6dp, and the corpus mean accumulates the
    * 1e-9-grid DECIMAL of those rounded values — order-proof. Scale
    * shape: one narrow scan of the vector column, map-side everything,
    * a 4-row output; at 100 TB this is a single pass with a constant
    * aggregate state. */
  def embMatryoshkaEval(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select("vec_id", "embedding")
    val perVec = e.select(
      explode(expr(
        "transform(array(8, 16, 32, 64), k -> struct(k AS dims, " +
          "round(sqrt(aggregate(slice(embedding, 1, k), 0D, " +
          "(acc, x) -> acc + CAST(x AS DOUBLE) * x)) / " +
          "sqrt(aggregate(embedding, 0D, " +
          "(acc, x) -> acc + CAST(x AS DOUBLE) * x)), 6) AS ret))"))
        .as("r"))
      .select(col("r.dims").as("dims"), col("r.ret").as("ret"))
    perVec
      .groupBy("dims")
      .agg(
        round(sum(expr("CAST(round(ret, 9) AS DECIMAL(28,9))"))
          .cast("double") / count(lit(1)), 6).as("avg_retention"),
        min("ret").as("min_retention"))
      .orderBy("dims")
  }

  /** Gzipped raw-text ingestion — the missing source format after
    * parquet/json/csv/orc, and the one LLM corpora actually arrive
    * on (CommonCrawl WET shards are exactly this: one gzip stream of
    * newline-delimited text per shard). The corpus round-trips
    * through a one-file gzip .txt (newlines flattened so the
    * line↔document mapping is exact) and the read-back is checksummed
    * against the source table through the oracle.
    *
    * Scale note the operator models honestly: gzip is NOT splittable
    * — one stream = one task — so at 100 TB parallelism comes from
    * shard COUNT (thousands of WET files), not intra-file splits;
    * re-compress to zstd/bgzip or explode the shard count before
    * expecting intra-file parallelism. */
  def scanTextGzip(s: SparkSession, d: String): DataFrame = {
    val tmp = RunScratch.dir(
      "textgz_" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    val flat = regexp_replace(col("text"), "[\\r\\n]", " ")
    if (!new java.io.File(s"$tmp/_SUCCESS").exists())
      documents(s, d).select(flat.as("value"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "gzip").text(tmp)
    s.read.text(tmp)
      .agg(count(lit(1)).as("n_lines"),
           sum(length(col("value"))).as("total_chars"),
           min(md5(col("value"))).as("md5_min"),
           max(md5(col("value"))).as("md5_max"))
  }

  /** Corrupt-tolerant JSON ingestion — the PERMISSIVE-mode contract a
    * web-scale crawl feed needs: a JSONL shard with seven planted
    * malformed lines reads under
    * `columnNameOfCorruptRecord=_corrupt_record`, good rows parse,
    * bad rows land whole in the corrupt column, and the key returns
    * (n_good, n_corrupt, chars_good) — hash-matched against an oracle
    * that knows the construction, so silently DROPPING bad rows
    * (FAILFAST would throw; DROPMALFORMED would under-count) or
    * mis-parsing good ones both break the match.
    *
    * Scale note: PERMISSIVE is the only mode that lets a 100 TB
    * ingest quarantine garbage rows for audit instead of either
    * crashing the job or silently shrinking the corpus. */
  def scanJsonCorrupt(s: SparkSession, d: String): DataFrame = {
    val tmp = RunScratch.dir(
      "jsoncorrupt_" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    if (!new java.io.File(s"$tmp/_SUCCESS").exists()) {
      val good = documents(s, d)
        .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
          .as("value"))
      val bad = s.range(7)
        .select(concat(lit("{\"doc_id\": #broken"), col("id")).as("value"))
      good.unionAll(bad).coalesce(1).write.mode("overwrite").text(tmp)
    }
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .agg(
        count(when(col("_corrupt_record").isNull, lit(1))).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("n_chars")))
          .as("chars_good"))
  }

  /** Exact per-group mode with a PINNED tie rule (highest count,
    * then smallest value) — engines' built-in mode()/any-mode
    * functions tie-break arbitrarily, so the portable spelling is
    * count → rank → rn=1. Two map-side-combined shuffles; the rank
    * window partitions by group, so at 100 TB the cost is the
    * (group, value) aggregate, never a global sort. */
  def aggModeExact(s: SparkSession, d: String): DataFrame = {
    val counts = lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("cnt").desc, col("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
              col("cnt").as("mode_count"))
      .orderBy("l_returnflag")
  }

  /** Sentence segmentation — the text-pipeline precursor to chunking
    * (`docs_chunk_windows` slices token windows; this slices MEANING
    * units): split on sentence-final punctuation runs, drop empty
    * fragments, emit (doc_id, sent_idx, n_tokens, sentence md5) rows
    * plus keep the doc-level sentence count derivable by the
    * consumer. Pure map-side explode — zero shuffles before the
    * output sort. */
  def docsSentenceSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        posexplode(expr(
          "filter(transform(split(text, '[.!?]+\\\\s*'), t -> trim(t)), " +
            "t -> t != '')")))
      .select(col("doc_id"), col("pos").as("sent_idx"),
        size(split(col("col"), " ")).as("n_tokens"),
        md5(col("col")).as("sent_md5"))
      .orderBy("doc_id", "sent_idx")

  /** Top principal component by THREE unrolled power iterations — the
    * PCA-whitening precursor an embedding pipeline runs before
    * quantization: v ← normalize(Σᵢ xᵢ(xᵢ·v)), seeded from vector 0
    * normalized (deterministic sign and start). Every step is pinned
    * by the kmeans-oracle discipline: per-vector scores rounded to
    * 6dp, per-dim accumulation on the 1e-9 DECIMAL grid (order-proof
    * across partitions), the 64-dim reduce collected in dim order and
    * folded index-wise for the norm, components rounded to 6dp.
    *
    * Scale shape: each iteration is ONE corpus pass — broadcast the
    * 64-double vector, map-side score + explode, one shuffle on the
    * 64 dims — so cost is 3 scans regardless of corpus size; the
    * driver only ever holds 64 doubles. */
  def embPcaPower(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x"))
    def normalize(wf: DataFrame): DataFrame = wf.select(expr(
      "transform(w, y -> round(y / sqrt(aggregate(w, 0D, " +
        "(acc, z) -> acc + z * z)), 6)) AS v"))
    var v = normalize(e.filter(col("vec_id") === 0).select(col("x").as("w")))
      .localCheckpoint(true)
    for (_ <- 1 to 3) {
      val w = e.crossJoin(broadcast(v))
        .withColumn("sc", round(expr(
          "aggregate(zip_with(x, v, (a, b) -> a * b), 0D, " +
            "(acc, y) -> acc + y)"), 6))
        .select(col("sc"), posexplode(col("x")))
        .select(col("pos").as("j"),
          expr("CAST(round(col * sc, 9) AS DECIMAL(28,9))").as("t"))
        .groupBy("j").agg(sum("t").cast("double").as("wj"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(j, wj))), p -> p.wj)")
          .as("w"))
      v = normalize(w).localCheckpoint(true)
    }
    v.select(posexplode(col("v")))
      .select(col("pos").as("dim"), col("col").as("loading"))
      .orderBy("dim")
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus-trained unigram LM (EXACTLY the docs_lm_score derivation —
    * add-one smoothing, 1e-9-grid DECIMAL accumulator), then split
    * each language into head/middle/tail thirds by ascending
    * cross-entropy (head = closest to the corpus distribution — the
    * slice CCNet keeps for training; tail = the noise candidate).
    * Buckets are EXACT ntile(3) semantics per language over the
    * ROUNDED score with doc-id tie-break (engine-stable edges), but
    * computed DISTRIBUTED (r8 verdict #3): a per-language ntile
    * window would sort each language's entire corpus in ONE task —
    * at 100 TB "en" is a single-executor sort. Instead the rank is
    * derived scale-safely: range-repartition on the full sort key
    * (lang, score, doc_id) so every task sorts only its slice, take
    * local row numbers within each (lang, slice) group, then add
    * per-slice offsets computed from the slice COUNT table — a
    * #langs × #partitions METADATA-sized frame whose own windows are
    * bounded by cluster width, never by corpus size — broadcast-joined
    * back. Exact order statistics at every tie and remainder boundary
    * (a quantile-sketch threshold would misbucket ties straddling a
    * tercile edge), so the spelling is bit-identical to the oracle's
    * ntile at any SF, not just where a sketch happens to be exact.
    *
    * Scale shape: the model is the token vocabulary (bounded,
    * broadcast); scoring is one shuffle on the token and one on
    * doc_id; ranking is one range exchange + one bounded-group local
    * sort; no single task ever holds a whole language. */
  def docsPerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    // r20 measured-and-rejected (guide §1.1, verdict r19 #7): two
    // attempts to make the unigram-model branch share the scoring
    // branch's explode both LOST to this spelling at sf0.1 —
    // (a) model = re-agg of the (doc, t) frame: Catalyst planned the
    // docTok subtree twice without exchange reuse (per-branch pruning)
    // and the extra aggregation level cost +0.13 s (0.77 → 0.90);
    // (b) model count attached as a t-partitioned window over docTok:
    // the per-term sort/buffer cost +0.9 s (0.77 → 1.68) and a bare-t
    // window partition is stopword-sized at scale where the SMJ
    // streams. The two-aggregation original stands.
    val tok = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val model = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val nv = model.agg(sum("c").cast("double").as("n_total"),
                       count(lit(1)).cast("double").as("v_vocab"))
    val docTok = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("c_doc"))
    val scored = docTok
      .join(model, "t")
      .crossJoin(broadcast(nv))
      .withColumn("term",
        expr("CAST(round(-c_doc * ln((c + 1) / (n_total + v_vocab)), 9) " +
             "AS DECIMAL(28,9))"))
      .groupBy("doc_id")
      .agg(sum("c_doc").as("n_tokens"), sum("term").as("h_sum"))
      .select(col("doc_id"),
        round(col("h_sum").cast("double") / col("n_tokens").cast("double"), 6)
          .as("cross_entropy"))
    val langed = documents(s, d).select("doc_id", "lang")
      .join(scored, "doc_id")
    // distributed exact rank, factored as Ops.exactGroupRank (this
    // key's original inline spelling, r8 verdict #3): range partitions
    // of the full sort key + slice-local row numbers + the metadata
    // offset frame — never a per-lang global sort. exactNtile is the
    // same n = 3q + r boundary arithmetic as the original b1/b2.
    Ops.exactNtile(
        Ops.exactGroupRank(langed, Seq("lang"),
          Seq(col("cross_entropy"), col("doc_id"))),
        tiles = 3, "tile")
      .select(col("doc_id"), col("lang"), col("cross_entropy"),
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }
}
