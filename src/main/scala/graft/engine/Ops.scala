package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's public operator DSL: composable, parameterized
  * `DataFrame => DataFrame` operators. The declared query keys
  * (Queries*.scala) are thin instantiations of these.
  *
  * Design rules (SURVEY.md §7.1): plain Column expressions only (keeps
  * Catalyst pushdown/pruning alive), no Dataset[T] in the operator
  * layer, no driver-side DATA loops (the driver never iterates rows;
  * the two sanctioned exceptions are plan-level iteration in
  * connectedComponents — a loop over distributed jobs, not rows — and
  * the one-block collect in `oneBlock`, the small-corpus fast path of
  * the exact vector kernels; multi-block corpora stay entirely
  * executor-side), every operator shuffle-partition-agnostic.
  * Each operator documents its 100 TB posture.
  */
object Ops {

  /** Size-gated broadcast hint: applies `broadcast(df)` only when the
    * OPTIMIZER'S size estimate for `sizeOf` (typically the raw scan
    * feeding df, whose stats come from file sizes — not a join's
    * conservative product estimate) is under `maxBytes`. This is the
    * scale-safe spelling of a broadcast hint on a side that GROWS
    * with the dataset: at test SF the hint fires (and fixes AQE's
    * small-data demotion, which declines SMJ→BHJ conversion when the
    * build side's shuffle partitions are mostly empty); at 100 TB the
    * estimate exceeds the gate, no hint is emitted, and the join
    * degrades to a shuffle join instead of a forced driver OOM.
    * Bounded dims (nation/region) don't need this — hint those
    * directly. */
  def broadcastIfSmall(df: DataFrame, sizeOf: DataFrame,
                       maxBytes: Long = 64L << 20): DataFrame =
    if (sizeOf.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes)
      broadcast(df)
    else df

  /** Exact dedup by content hash: one shuffle on md5(payload).
    * At 100 TB: identical shape, hash-partitioned; survivors policy =
    * min(id) keeps it deterministic. */
  def exactDedup(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.groupBy(md5(col(payloadCol)).as("h"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word-shingle stream per row: (id, shingle) pairs, WITH
    * duplicates (a shingle repeated inside one document appears once
    * per occurrence). Consumers that need the SET semantics either
    * call [[shingles]] or aggregate with set-valued functions
    * (collect_set / min), both of which are duplicate-proof. */
  private[engine] def shinglesRaw(df: DataFrame, idCol: String,
                                  textCol: String, n: Int): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("tokens"))
      .filter(size(col("tokens")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(tokens) - ${n - 1}), i -> array_join(slice(tokens, i, $n), ' '))"))
        .as("shingle"))

  /** Word-shingle set per row: (id, shingle) pairs, deduped. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, n).distinct()

  /** MinHash-LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * Scale path: candidates come ONLY from LSH band buckets (never the
    * O(n²) cross product); verification materializes shingle arrays
    * only for candidate rows. Band parameters control recall at the
    * threshold: P(candidate) = 1 − (1 − J^rows)^bands. Engine-salted
    * xxhash64 stays internal (§2.3-3). At 100 TB add bucket-size caps
    * or salting for degenerate buckets (mass-duplicated documents). */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 5, numHashes: Int = 32,
                     rowsPerBand: Int = 2,
                     threshold: Double = 0.8,
                     maxBucket: Int = 256): DataFrame =
    minhashNearDupFrom(shingles(df, idCol, textCol, shingleSize), idCol,
                       numHashes, rowsPerBand, threshold, maxBucket)

  /** The LSH band index (band, bh, id) for an (id, shingle) set —
    * the PERSISTABLE half of MinHash dedup: a deployment materializes
    * this for its existing corpus and incremental batches probe it
    * (see minhashNearDupIncremental) without re-hashing the corpus.
    * Includes the hot-bucket cap (documented below). */
  def lshBandIndex(sh: DataFrame, idCol: String,
                   numHashes: Int = 32, rowsPerBand: Int = 2,
                   maxBucket: Int = 256): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val numBands = numHashes / rowsPerBand
    TopK.register(sh.sparkSession)

    val mhAggs = (0 until numHashes)
      .map(k => min(xxhash64(lit(k), col("shingle"))).as(s"mh$k"))
    val mh = sh.groupBy(idCol).agg(mhAggs.head, mhAggs.tail: _*)

    val bandStructs = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${rowsPerBand * b + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    val banded = mh
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))

    // Hot-bucket cap (the 100 TB degenerate case): one band bucket
    // holding n_b members — mass-duplicated boilerplate — would emit
    // n_b² candidate pairs. Membership per (band, bh) is capped at
    // `maxBucket`, keeping a deterministic hash-order sample (score =
    // salted xxhash64 of the id, ties by id — engine-stable, no RNG).
    // Members dropped from one band's bucket still pair through their
    // other bands; only pathological buckets lose candidates, which is
    // the standard LSH trade (cap² pairs still link the duplicates
    // transitively for the CC/resolve stages).
    //
    // Two enforcement paths by id type: integral ids ride the bounded
    // TopKByScore aggregate (≤ maxBucket×16 B state per bucket,
    // map-side partials — never a per-bucket sort); TopKByScore
    // carries (double, long), so any other id type (string URLs, …)
    // falls back to a row_number window — its own deterministic
    // hash-order sample, costlier on a degenerate bucket (one task
    // sorts it) but correct for arbitrary ids instead of silently
    // null-casting them away.
    val integralId = sh.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val capped =
      if (maxBucket <= 0) banded
      else if (integralId)
        banded
          .groupBy("band", "bh")
          .agg(expr(s"topk_by_score(cast(xxhash64('bcap', `$idCol`) as double)," +
            s" cast(`$idCol` as bigint), $maxBucket)").as("keep"))
          .select(col("band"), col("bh"), explode(col("keep.id")).as(idCol))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bh")
          // same order rule as the TopK path: hash DESC, id ASC
          .orderBy(xxhash64(lit("bcap"), col(idCol)).desc, col(idCol).asc)
        banded
          .withColumn("_bcap_rn", row_number().over(w))
          .filter(col("_bcap_rn") <= maxBucket)
          .select(col("band"), col("bh"), col(idCol))
      }
    capped
  }

  /** Exact-Jaccard verification of candidate pairs: shingle ARRAYS
    * materialize only for ids appearing in some candidate (the scale
    * contract — at high dedup rates candidates are a sliver of the
    * corpus, so the semi-join keeps the collect_list aggregate — the
    * only O(doc_size) state in the pipeline — off 90%+ of documents).
    * `cand` must expose `leftId`/`rightId`; extra columns pass
    * through. */
  private def jaccardVerify(cand: DataFrame, sh: DataFrame, idCol: String,
                            leftId: String, rightId: String,
                            threshold: Double): DataFrame = {
    val candIds = cand.select(col(leftId).as(idCol))
      .union(cand.select(col(rightId).as(idCol)))
      .distinct()
    // collect_set, not collect_list (r20, §2.4): the SET semantics
    // make verification duplicate-proof, so callers may feed the raw
    // shingle stream and skip its standalone distinct exchange — one
    // exchange (set-agg) instead of two (distinct, then list-agg).
    // For already-distinct inputs this is the identical sorted array.
    val shArr = sh.join(candIds, Seq(idCol), "left_semi")
      .groupBy(idCol)
      .agg(array_sort(collect_set("shingle")).as("shs"))
      .withColumn("sz", size(col("shs")).cast("long"))
    cand.as("c")
      .join(shArr.as("s1"), col(s"c.$leftId") === col(s"s1.$idCol"))
      .join(shArr.as("s2"), col(s"c.$rightId") === col(s"s2.$idCol"))
      .withColumn("i", size(array_intersect(col("s1.shs"), col("s2.shs")))
        .cast("double"))
      .withColumn("jaccard",
        round(col("i") / (col("s1.sz") + col("s2.sz") - col("i")), 6))
      .filter(col("i") / (col("s1.sz") + col("s2.sz") - col("i")) >= threshold)
      // drop the index-side id copies so callers whose pair columns
      // REUSE idCol's name (doc_id) stay unambiguous
      .drop(col(s"s1.$idCol")).drop(col(s"s2.$idCol"))
  }

  /** MinHash-LSH near-dup over an arbitrary (id, shingle) set — the
    * shingle source decides the granularity (word n-grams, char
    * n-grams, …). */
  def minhashNearDupFrom(sh: DataFrame, idCol: String,
                         numHashes: Int = 32, rowsPerBand: Int = 2,
                         threshold: Double = 0.8,
                         maxBucket: Int = 256): DataFrame = {
    val capped = lshBandIndex(sh, idCol, numHashes, rowsPerBand, maxBucket)
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
    jaccardVerify(cand, sh, idCol, "id1", "id2", threshold)
      .select("id1", "id2", "jaccard")
  }

  /** INCREMENTAL near-dup — the production ingestion shape: a new
    * DELTA batch dedups against (a) the persisted band index of the
    * EXISTING corpus and (b) itself, without ever re-hashing the
    * base. Emits one row per (delta doc, matched doc) pair at or
    * above the threshold: `match_src` = "base" for a base partner,
    * "delta" for an EARLIER-id partner within the batch (the same
    * earlier-wins survivor rule as docs_dedup_resolve).
    *
    * At 100 TB: `baseBands` is the artifact (O(corpus) rows but tiny
    * per row, hash-partitioned on (band, bh)); the delta hashes only
    * its own shingles (cost ∝ batch, not corpus); candidate
    * verification touches base shingles only for matched candidates
    * (the semi-join contract of jaccardVerify — re-shingling a
    * handful of base docs, never the corpus). */
  def minhashNearDupIncremental(baseBands: DataFrame, baseDocs: DataFrame,
                                deltaDocs: DataFrame, idCol: String,
                                textCol: String, shingleSize: Int = 5,
                                numHashes: Int = 32, rowsPerBand: Int = 2,
                                threshold: Double = 0.8,
                                maxBucket: Int = 256,
                                memoKey: Option[String] = None): DataFrame = {
    lazy val deltaSh = shingles(deltaDocs, idCol, textCol, shingleSize)
    lazy val db = lshBandIndex(deltaSh, idCol, numHashes, rowsPerBand, maxBucket)
    lazy val candBase = db.as("a").join(baseBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col(s"a.$idCol").as("doc_id"), col(s"b.$idCol").as("match_id"),
              lit("base").as("match_src"))
    lazy val candDelta = db.as("a").join(db.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") > col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_id"), col(s"b.$idCol").as("match_id"),
              lit("delta").as("match_src"))
    // Materialize the candidate list ONCE as a P6 ARTIFACT: it feeds
    // five consumers (pair output, two candIds unions, both verify
    // joins), each of which would otherwise re-run the delta-hash +
    // index-probe subtree, and it is fully determined by (base index
    // × delta batch × hyperparameters) — all visible in the plan the
    // content hash covers. The parquet round trip also gives the
    // consumers a clean scan with no stale partitioning claims
    // (localCheckpoint under AQE reports the pre-coalesce
    // partitioning and dies downstream with "Can't zip RDDs with
    // unequal numbers of partitions"). Candidates are the sliver the
    // LSH exists to produce, so the write is small; at 100 TB this is
    // the candidate list a dedup pass persists between its generate
    // and verify stages anyway — and the artifact keying is what
    // makes REPEATED sessions over an unchanged batch (the r9-verdict
    // #6 steady state) skip straight to verification instead of
    // re-hashing the delta every run.
    // memoKey (r19 optimization): callers whose (base index × delta)
    // is identified by a stable key (the batch-query keys pass the
    // data dir) watch the candidate frame's inputs and ride the hit
    // memo — the wide delta-minhash plan (lazy vals above) is never
    // even ANALYZED on a fresh hit; the streaming ingest passes None
    // (its base frames carry checkpoint-backed exclusion joins that no
    // input listing can see), so it watches nothing and keeps the
    // per-call derivation.
    lazy val allCand = candBase.unionByName(candDelta).distinct()
    val cand = ArtifactCache.materialize(baseDocs.sparkSession,
      Artifacts.cacheRoot, "neardup_incr_cand_v1", memoKey.getOrElse(""))(
      if (memoKey.isDefined) Seq(allCand) else Nil)(
      ArtifactCache.artifactHash(allCand))(allCand)
    // Verification shingles come from DOCS pruned to candidate ids
    // BEFORE the explode — the semi join sits on the raw (id, text)
    // rows, so the base corpus is never re-shingled wholesale; only
    // matched candidates pay the O(doc_size) pass. (jaccardVerify's
    // internal semi-join is then a no-op, kept for its other caller.)
    val candIds = cand.select(col("doc_id").as(idCol))
      .union(cand.select(col("match_id").as(idCol)))
      .distinct()
    // RAW shingle stream (r20): jaccardVerify's set-aggregation is
    // duplicate-proof, so the per-(id, shingle) distinct exchange the
    // `shingles` spelling paid here is pure overhead — one fewer
    // exchange in the verification leg.
    val verifySh = shinglesRaw(
      baseDocs.unionByName(deltaDocs).join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, shingleSize)
    jaccardVerify(cand, verifySh, idCol, "doc_id", "match_id", threshold)
      .select("doc_id", "match_id", "match_src", "jaccard")
  }

  /** Hard cap on what one comparison block of (id, vector, norm) rows
    * may weigh. 256 MB ≈ a comfortable broadcast / per-task array at
    * executor defaults. Corpora at or under one block take the
    * broadcast fast path; anything larger is handled entirely
    * executor-side (blocked cogroup below) — vectors never cross the
    * driver on the multi-block path. */
  private val DefaultBlockBytes: Long = 256L << 20

  /** Precomputing the L2 norm at block build removes a d-length loop
    * from EVERY pair scan — half the inner-loop flops of the naive
    * formulation. */
  private def l2(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Sizes the corpus with one tiny agg job (count + max dim) and
    * returns the block count at `maxBlockBytes` per block. The scalar
    * that reaches the driver is two numbers, never vector data. */
  private def numVecBlocks(e: org.apache.spark.sql.Dataset[(Long, Array[Float])],
                           maxBlockBytes: Long): Int = {
    val row = e.toDF("id", "v")
      .agg(count(lit(1)), coalesce(max(size(col("v"))), lit(0)))
      .head()
    val bytes = row.getLong(0) * (64L + 4L * row.getInt(1))
    math.max(1L, (bytes + maxBlockBytes - 1) / maxBlockBytes).toInt
  }

  /** Replicates Spark's `round(x, 6)` (BigDecimal HALF_UP over the
    * double's canonical decimal repr) so scan-side rounding is
    * bit-identical to the expression the oracles were matched against. */
  private[engine] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Small-corpus fast path ONLY: collects the (sub-256 MB) corpus as
    * one broadcastable block. This is the single sanctioned
    * driver-side data hop in the vector kernels; multi-block corpora
    * go through the executor-side blocked cogroup instead. Sorted by
    * id for deterministic scan order. */
  private def oneBlock(e: org.apache.spark.sql.Dataset[(Long, Array[Float])])
      : Array[(Long, Array[Float], Double)] =
    e.collect().map { case (id, v) => (id, v, l2(v)) }.sortBy(_._1)

  /** Primitive-loop scan of one vector against a comparison block,
    * emitting pairs at/above the cosine threshold. `diag` = both roles
    * are the SAME block: emit only oid > id so each unordered pair
    * appears once; off-diagonal blocks are disjoint, so every cross
    * pair is emitted, id-ordered. round6 moves a value by at most
    * 5e-7: anything below threshold − 5e-7 can't pass after rounding,
    * so the BigDecimal path runs only for near-threshold pairs. */
  private def cosScan(id: Long, v: Array[Float],
                      mat: Array[(Long, Array[Float], Double)],
                      threshold: Double, diag: Boolean)
      : Iterator[(Long, Long, Double)] = {
    val n = v.length
    val normV = l2(v)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    var j = 0
    while (j < mat.length) {
      val (oid, w, normW) = mat(j)
      if (!diag || oid > id) {
        var dot = 0.0; var i = 0
        val m = math.min(n, w.length)
        while (i < m) { dot += v(i).toDouble * w(i).toDouble; i += 1 }
        val raw = dot / (normV * normW)
        if (raw >= threshold - 5e-7) {
          val score = round6(raw)
          if (score >= threshold)
            out += (if (oid > id) (id, oid, score) else (oid, id, score))
        }
      }
      j += 1
    }
    out.iterator
  }

  /** Bounded top-k scan of one vector against a comparison block under
    * (score DESC, id ASC) — insertion-sorted, order-independent (the
    * top-k under a strict total order is unique whatever the scan
    * order). Once the list is full, round6's ±5e-7 bound means
    * anything below topS(k−1) − 5e-7 can't displace the kth entry, so
    * BigDecimal rounding runs only for contenders. */
  private def knnScan(id: Long, v: Array[Float],
                      mat: Array[(Long, Array[Float], Double)], k: Int)
      : Iterator[(Long, Long, Double, Int)] = {
    val n = v.length
    val normV = l2(v)
    val topS = new Array[Double](k)
    val topI = new Array[Long](k)
    var filled = 0
    var j = 0
    while (j < mat.length) {
      val (oid, w, normW) = mat(j)
      if (oid != id) {
        var dot = 0.0; var i = 0
        val m = math.min(n, w.length)
        while (i < m) { dot += v(i).toDouble * w(i).toDouble; i += 1 }
        val raw = dot / (normV * normW)
        if (filled < k || raw >= topS(k - 1) - 5e-7) {
          val score = round6(raw)
          if (filled < k || score > topS(k - 1) ||
              (score == topS(k - 1) && oid < topI(k - 1))) {
            var p = math.min(filled, k - 1)
            while (p > 0 && (score > topS(p - 1) ||
                   (score == topS(p - 1) && oid < topI(p - 1)))) {
              topS(p) = topS(p - 1); topI(p) = topI(p - 1); p -= 1
            }
            topS(p) = score; topI(p) = oid
            if (filled < k) filled += 1
          }
        }
      }
      j += 1
    }
    Iterator.range(0, filled).map(r => (id, topI(r), topS(r), r + 1))
  }

  /** All embedding pairs at or above a cosine threshold — exact, no
    * n²-row join materialization ever (a pair join through a
    * non-codegen nested loop measured 13 s vs sub-second at sf0.1).
    *
    * ≤ 1 block: the corpus is broadcast once and each partition
    * streams through the primitive scan — one pass, fully lazy.
    *
    * Multi-block (the 100 TB shape): a bucketed block×block self-join
    * that never routes vector data through the driver. Each vector is
    * assigned a block id executor-side (id mod nB); block b ships to
    * the unordered block-pair keys (b, j≥b) as the streamed side and
    * (i≤b, b) as the materialized side; a cogroup per block pair runs
    * the same primitive kernel with ONE block held in memory per task.
    * Every unordered vector pair lands in exactly one block-pair key
    * (the diagonal dedups with oid > id), so each pair is emitted
    * once. Shuffle volume is corpus × (nB+1) — inherent to exact
    * all-pairs; the production paths at scale are the IVF/LSH/PQ keys,
    * with this kernel as their exact ground truth. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double,
                  maxBlockBytes: Long = DefaultBlockBytes): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val nB = numVecBlocks(e, maxBlockBytes)
    if (nB <= 1) {
      val bc = s.sparkContext.broadcast(oneBlock(e))
      e.flatMap { case (id, v) =>
        cosScan(id, v, bc.value, threshold, diag = true)
      }.toDF("id1", "id2", "cos_sim")
    } else {
      val nBL = nB.toLong // Long keys: nB² overflows Int past ~46k blocks
      val left = e.flatMap { case (id, v) =>
        val b = Math.floorMod(id, nBL)
        Iterator.range(b.toInt, nB).map(j => (b * nBL + j, id, v))
      }
      val right = e.flatMap { case (id, v) =>
        val b = Math.floorMod(id, nBL)
        Iterator.range(0, b.toInt + 1).map(i => (i * nBL + b, id, v))
      }
      left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) {
        case (key, ls, rs) =>
          val diag = (key / nBL) == (key % nBL)
          val mat = rs.map { case (_, oid, w) => (oid, w, l2(w)) }.toArray
          ls.flatMap { case (_, id, v) =>
            cosScan(id, v, mat, threshold, diag)
          }
      }.toDF("id1", "id2", "cos_sim")
    }
  }

  /** Exact top-k cosine neighbors per vector — block formulation: the
    * comparison set is scanned one block at a time with a bounded
    * per-vector top-k (no n²-row join materialization, no pair-row
    * shuffle; output is n×k rows directly).
    *
    * ≤ 1 block: broadcast the corpus once (exactly a broadcast-hash-
    * join build side) and stream each partition through the kernel —
    * one lazy pass, final ranks straight from the scan.
    *
    * Multi-block (the 100 TB shape): executor-side block×block
    * cogroup. Vectors get a block id (id mod nB) executor-side; every
    * (scanning block i, scanned block j) ordered pair is a cogroup key
    * — block i streams while block j is the one in-memory array per
    * task — so each vector scans every block exactly once and no
    * vector data crosses the driver. The per-block bounded top-k
    * partials (n×k×nB rows) are merged with one exact (score DESC, id
    * ASC) row_number pass: a globally-top-k neighbor is necessarily
    * top-k within its own block, so the merge is exact. The
    * join+TopKByScore formulation is kept live in annIvf where cells
    * are joined rather than scanned. */
  def knnBruteForce(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int,
                    maxBlockBytes: Long = DefaultBlockBytes): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val nB = numVecBlocks(e, maxBlockBytes)
    if (nB <= 1) {
      val bc = s.sparkContext.broadcast(oneBlock(e))
      e.flatMap { case (id, v) => knnScan(id, v, bc.value, k) }
        .toDF("vec_id", "neighbor_id", "cos_sim", "rk")
    } else {
      val nBL = nB.toLong
      val left = e.flatMap { case (id, v) =>
        val b = Math.floorMod(id, nBL)
        Iterator.range(0, nB).map(j => (b * nBL + j, id, v))
      }
      val right = e.flatMap { case (id, v) =>
        val b = Math.floorMod(id, nBL)
        Iterator.range(0, nB).map(i => (i * nBL + b, id, v))
      }
      val partials = left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) {
        case (_, ls, rs) =>
          val mat = rs.map { case (_, oid, w) => (oid, w, l2(w)) }.toArray
          ls.flatMap { case (_, id, v) => knnScan(id, v, mat, k) }
      }.toDF("vec_id", "neighbor_id", "cos_sim", "rk")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      partials
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
    }
  }

  /** Query-set top-k against a SEPARATE corpus — the cross-set twin
    * of knnBruteForce (retrieval, label propagation, hold-out
    * evaluation: neighbors come only from `corpus`, never from the
    * query set itself). Same kernel, same (cos DESC, id ASC) total
    * order, same block discipline:
    *
    * ≤ 1 corpus block: the corpus broadcasts once and queries stream
    * through the primitive scan — no shuffle at all.
    *
    * Multi-block (the 100 TB corpus shape): queries replicate to each
    * corpus block (shuffle volume = queries × nB — queries are the
    * small side in retrieval, so this is the cheap replication), each
    * cogroup task holds ONE corpus block, partial top-k per block,
    * and a per-query window merges nB·k partial rows to the global
    * top-k. Vector data never touches the driver on this path.
    *
    * A corpus row sharing the query's id is skipped (knnScan's
    * oid ≠ id self-guard) — the hold-out contract: a query never
    * retrieves itself even if it also appears in the corpus. */
  def knnCross(query: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, k: Int,
               maxBlockBytes: Long = DefaultBlockBytes): DataFrame = {
    val s = query.sparkSession
    import s.implicits._
    val q = query.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val c = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val nB = numVecBlocks(c, maxBlockBytes)
    if (nB <= 1) {
      val bc = s.sparkContext.broadcast(oneBlock(c))
      q.flatMap { case (id, v) => knnScan(id, v, bc.value, k) }
        .toDF("vec_id", "neighbor_id", "cos_sim", "rk")
    } else {
      val nBL = nB.toLong
      val left = q.flatMap { case (id, v) =>
        Iterator.range(0, nB).map(j => (j.toLong, id, v))
      }
      val right = c.map { case (id, v) => (Math.floorMod(id, nBL), id, v) }
      val partials = left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) {
        case (_, ls, rs) =>
          val mat = rs.map { case (_, oid, w) => (oid, w, l2(w)) }.toArray
          ls.flatMap { case (_, id, v) => knnScan(id, v, mat, k) }
      }.toDF("vec_id", "neighbor_id", "cos_sim", "rk")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      partials
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
    }
  }

  /** IVF-style ANN: every vector is INDEXED under its nearest coarse
    * centroid (broadcast codebook); a query probes its `nprobe`
    * closest cells and takes the exact top-k within them. O(n·C +
    * nprobe·n²/C) work; nprobe is the recall/cost knob (single-probe
    * recall collapses on unclustered data — measured 19% vs ~60% at
    * nprobe=4 on the random test embeddings). The codebook stays
    * broadcastable at any corpus size. */
  def annIvf(emb: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val s = emb.sparkSession
    Exprs.register(s); TopK.register(s)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val cent = centroids.select(col("cid"), col("cemb"))
    // ONE codebook scan serves both roles: the nprobe-sized ranked cell
    // list is the probe set, and its rank-1 element is the index cell
    // (topk_by_score orders (score DESC, id ASC), so rank 1 ≡ the
    // argmax assignment with the same tie rule).
    val ranked = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
              round(expr("cosine_sim(embedding, cemb)"), 6).as("cs"))
      .groupBy("vec_id")
      .agg(expr(s"topk_by_score(cs, cid, $nprobe)").as("t"))
      .select(col("vec_id"), posexplode(col("t")))
      .select(col("vec_id"), col("pos"), col("col.id").as("cell_id"))
    val index = e.join(ranked.filter(col("pos") === 0).drop("pos"), "vec_id")
    val probes = e.join(ranked.drop("pos"), "vec_id")
    probes.as("a").join(index.as("b"),
        col("a.cell_id") === col("b.cell_id") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
              col("b.vec_id").as("neighbor_id"),
              round(expr("cosine_sim(a.embedding, b.embedding)"), 6)
                .as("cos_sim"))
      .groupBy("vec_id")
      .agg(expr(s"topk_by_score(cos_sim, neighbor_id, $k)").as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
              col("col.score").as("cos_sim"), (col("pos") + 1).as("rk"))
  }

  /** Pure range join (|left − right| ≤ radius with NO equi key) by
    * bucket binning — the 100 TB recipe for range predicates that
    * would otherwise demand a nested-loop cross product: both sides
    * bin their value by `binWidth`; the left row is replicated into
    * its bin and both neighbors (sufficient coverage iff binWidth ≥
    * radius, which is required), the join becomes an ordinary
    * shuffled/broadcast EQUI join on the bin, and the exact range
    * predicate filters the ~3× candidate surplus. Each qualifying
    * pair matches in exactly one bin (the right row's), so no dedup
    * pass is needed. Skew = the hottest bin; widen binWidth or
    * pre-aggregate per value (see join_range_binned) to bound it. */
  def rangeJoinBinned(left: DataFrame, leftVal: String,
                      right: DataFrame, rightVal: String,
                      radius: Long, binWidth: Long): DataFrame = {
    require(binWidth >= radius && radius >= 0,
      s"need binWidth >= radius >= 0, got binWidth=$binWidth radius=$radius")
    // "_bin" is this operator's working column: a caller frame already
    // carrying one would silently collide (withColumn REPLACES it and
    // the using-column join would key on the wrong thing).
    require(!left.columns.contains("_bin") && !right.columns.contains("_bin"),
      "rangeJoinBinned reserves the column name \"_bin\"; rename it on the input")
    val lb = left.withColumn("_bin",
      explode(array(expr(s"$leftVal div $binWidth") - 1,
                    expr(s"$leftVal div $binWidth"),
                    expr(s"$leftVal div $binWidth") + 1)))
    val rb = right.withColumn("_bin", expr(s"$rightVal div $binWidth"))
    lb.join(rb, "_bin")
      .filter(abs(col(leftVal) - col(rightVal)) <= radius)
      .drop("_bin")
  }

  /** Deterministic seeded k-means codebook for IVF indexing: `k`
    * centroids trained with a FIXED number of Lloyd iterations, every
    * arithmetic step pinned so two engines (or two partitionings)
    * produce bit-identical codebooks (§2.3):
    *  - init: the k vectors with the smallest (md5(id), id) sort key —
    *    a deterministic pseudo-random spread, never rand()/sample();
    *  - assignment: argmax of cosine rounded to 6dp, ties to the
    *    lowest cid (TopK's (score DESC, id ASC) rule);
    *  - update: per-dimension mean rounded to 6dp (double); the 5e-7
    *    rounding margin absorbs sum-order ulp noise across engines and
    *    partitionings;
    *  - empty cluster: keeps its previous centroid.
    * Each iteration is one broadcast cross-join pass (map-side bounded
    * topk_by_score — no n×k shuffle) + one per-dim aggregate over
    * (cid, dim). At 100 TB you'd train on a deterministic hash-sample
    * (sampleHashDeterministic) instead of the full corpus and raise
    * `iters`; the fixed-iteration structure is what keeps the artifact
    * reproducible. Output: (cid long, cemb array<double>). */
  def kmeansCodebook(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int = 16, iters: Int = 3): DataFrame = {
    val s = emb.sparkSession
    Exprs.register(s); TopK.register(s)
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    // Seed pick WITHOUT a global sort: the k ids with the smallest
    // (md5-prefix, id) are selected by a bounded TopK aggregate
    // (map-side partial, O(k) state per partition — safe even if a
    // caller hands the full 100 TB corpus instead of a training
    // sample), then only those k rows are ranked by the full
    // (md5, id) order for cid assignment — a k-row window, not a
    // corpus-wide one. The 13-hex (52-bit, double-exact) score prefix
    // selects the same set as the full digest unless two candidates
    // collide in 52 bits AND straddle the k boundary (~1e-7 at 50k
    // rows); ranking always uses the full digest. CONTRACT: idCol
    // must be bigint-valued (topk_by_score carries long ids — a
    // non-numeric id would null out under the implicit cast); the
    // cid < k cap below keeps the codebook at k rows even if a
    // caller passes duplicate ids.
    require(e.schema("vec_id").dataType == org.apache.spark.sql.types.LongType,
      s"kmeansCodebook requires a bigint id column, got " +
        e.schema("vec_id").dataType.simpleString)
    val seedIds = e
      .select(col("vec_id"), expr(
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 13), 16, 10) " +
          "AS DOUBLE)").as("h"))
      .agg(expr(s"topk_by_score(-h, vec_id, $k)").as("t"))
      .select(explode(col("t")).as("sd"))
      .select(col("sd.id").as("vec_id"))
    val sw = Window.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    var cent = e.join(broadcast(seedIds), "vec_id")
      .withColumn("cid", (row_number().over(sw) - 1).cast("long"))
      .filter(col("cid") < k)
      .select(col("cid"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cemb"))
      .localCheckpoint(true) // tiny; keeps iteration plans constant-size
    for (_ <- 1 to iters) {
      val argmax = e.crossJoin(broadcast(cent))
        .select(col("vec_id"),
                round(expr("cosine_sim(embedding, cemb)"), 6).as("cs"),
                col("cid"))
        .groupBy("vec_id")
        .agg(expr("topk_by_score(cs, cid, 1)").as("t"))
        .select(col("vec_id"), expr("t[0].id").as("cid"))
      val newCent = e.join(argmax, "vec_id")
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy("cid", "pos")
        .agg(round(avg(col("col").cast("double")), 6).as("m"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), v -> v.m)")
          .as("cemb2"))
      cent = cent.join(newCent, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cemb2"), col("cemb")).as("cemb"))
        .localCheckpoint(true)
    }
    cent
  }

  /** Deterministic stratified sample: at most `n` rows per stratum,
    * picked by md5-hash order of `keyCol` (reproducible across engines,
    * runs, and partitionings — never rand()/TABLESAMPLE). Adds an `rn`
    * column (1..n within stratum). One shuffle on the stratum key; the
    * per-group row_number map-side-limits each stratum before anything
    * wide at 100 TB.
    *
    * `keyCol` must be unique within each stratum (like the lineitem
    * total-order convention): duplicate key values tie the whole
    * (md5(key), key) sort order, and tied rows may be picked/ranked
    * differently across engines or partitionings. Pass a rowid-like
    * column, or extend the orderBy with enough columns to break ties. */
  def stratifiedSample(df: DataFrame, stratCol: String, keyCol: String,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(stratCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Time-series gap fill: densifies each key's [min, max] time span to
    * one row per `step`, zero-filling `countName` where no input rows
    * exist. sequence()+explode generates rows executor-side (never a
    * driver loop); spans are per-key so skew = widest single span. */
  def gapFill(df: DataFrame, keyCol: String, timeCol: String,
              step: String, countName: String): DataFrame = {
    val o = df.select(col(keyCol), col(timeCol))
    val spans = o.groupBy(keyCol)
      .agg(min(timeCol).as("_d0"), max(timeCol).as("_d1"))
    val slots = spans.select(col(keyCol),
      explode(expr(s"sequence(_d0, _d1, INTERVAL $step)")).as(timeCol))
    val cnts = o.groupBy(keyCol, timeCol).agg(count(lit(1)).as("_n"))
    slots.join(cnts, Seq(keyCol, timeCol), "left")
      .select(col(keyCol), col(timeCol),
              coalesce(col("_n"), lit(0L)).as(countName))
  }

  /** Symmetric int8 quantization: per-vector scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [−127, 127]. Output (id, scale, q);
    * dequantization error ≤ scale/2 per coordinate. The 4× storage
    * lever before any vector index build at 100 TB. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).as("_v"),
        (greatest(
          expr("array_max(transform(_v, x -> abs(CAST(x AS DOUBLE))))"),
          lit(1e-9)) / 127.0).as("scale"))
      .select(col(idCol), col("scale"),
        expr("transform(_v, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT))")
          .as("q"))

  /** Connected components by min-label propagation with pointer
    * jumping: every node starts as its own label; each round takes the
    * min label over itself and its neighbors, then short-circuits one
    * pointer hop (label := label(label)) — so label information travels
    * ~2^r hops after r rounds and the loop converges in O(log diameter)
    * rounds instead of O(diameter). Deterministic regardless of
    * partitioning (min is order-free).
    *
    * Each round is exactly ONE Spark action: the convergence measure
    * (Σ label, strictly decreasing until the fixpoint because labels
    * only ever shrink) rides the round's own materialization via
    * `Dataset.observe` — no separate scalar-aggregate job per round
    * (that second action per round was the measured docs_dedup_cc
    * bench cost). localCheckpoint truncates lineage so plans stay
    * constant-size across iterations — the iterative-join recipe for
    * graph steps at 100 TB. Loops to the fixpoint; `maxIter` is a hard
    * safety bound and hitting it without convergence fails loudly
    * rather than returning partially-propagated labels.
    * Output: (n, label). */
  /** Exact GLOBAL dense rank under a strict total order, computed
    * DISTRIBUTED — the reusable core of the perplexity-buckets
    * respelling (r8 verdict #3): a bare `row_number() OVER (ORDER BY
    * …)` sorts the whole frame in ONE task, which is the scale-killer
    * the plan gate bans. Instead: range-repartition on the full sort
    * key (each task sorts only its slice), take slice-local row
    * numbers, and add per-slice offsets from the slice-count table —
    * a ≤ #partitions-row METADATA frame whose own windows are bounded
    * by cluster width, never by data size — broadcast back. Exact at
    * every boundary (a sketch threshold would misrank ties), provided
    * `orderCols` is a strict total order (append a unique id).
    *
    * Output: the input columns + `rnk` (1-based global rank) +
    * `n_total`. One range exchange + one bounded local sort. */
  def exactGlobalRank(df: DataFrame, orderCols: Seq[Column]): DataFrame =
    exactGroupRank(df, Nil, orderCols)

  /** Per-GROUP variant of the distributed exact rank: `rnk` restarts
    * at 1 inside each `partCols` group and `n_total` is the group
    * size — `row_number() OVER (PARTITION BY partCols ORDER BY
    * orderCols)` semantics without ever sorting a whole group in one
    * task (the r8 verdict-#3 finding: at 100 TB one group can be most
    * of the corpus). Range partitions of the FULL (group, order) key
    * mean same-group rows across slices are already ordered, so
    * slice-local row numbers + per-(group, slice) offsets from the
    * ≤ #groups × #slices METADATA frame reconstruct the exact group
    * rank; the metadata frame's own windows partition by group over
    * ≤ #slices rows (cluster width). With `partCols` empty this is
    * the global rank and the offset windows are the documented
    * global-window allowlist case. */
  def exactGroupRank(df: DataFrame, partCols: Seq[String],
                     orderCols: Seq[Column]): DataFrame = {
    val pc = partCols.map(col)
    val sliced = df.repartitionByRange(pc ++ orderCols: _*)
      .withColumn("slice", spark_partition_id())
    val local = sliced.withColumn("lrk", row_number().over(
      Window.partitionBy(pc :+ col("slice"): _*).orderBy(orderCols: _*)))
    val cw = Window.partitionBy(pc: _*).orderBy("slice")
    val offs = local.groupBy(pc :+ col("slice"): _*)
      .agg(count(lit(1)).as("c"))
      .select(pc ++ Seq(col("slice"),
        (sum("c").over(cw) - col("c")).as("off"),
        sum("c").over(Window.partitionBy(pc: _*)).as("n_total")): _*)
    local.join(broadcast(offs), partCols :+ "slice")
      .withColumn("rnk", col("lrk") + col("off"))
      .drop("slice", "lrk", "off")
  }

  /** Exact ntile(t) from an `exactGlobalRank` frame: n = tq + r gives
    * the first r tiles q+1 rows; the tile is the first boundary ≥
    * rank — bit-identical to the window ntile at any data size. */
  def exactNtile(ranked: DataFrame, tiles: Int, outCol: String): DataFrame = {
    val q = (col("n_total") / tiles).cast("long")
    val r = col("n_total") % tiles
    val tile = (1 to tiles).foldLeft(when(lit(false), 0)) { (acc, t) =>
      acc.when(col("rnk") <= q * t + least(r, lit(t.toLong)), t)
    }
    ranked.withColumn(outCol, tile.cast("int"))
      .drop("rnk", "n_total")
  }

  /** Distributed exact RUNNING SUM of `valCol` under a strict total
    * order — the prefix-sum sibling of `exactGroupRank` (same
    * range-partition + slice-offset machinery, with per-slice SUMS
    * instead of counts in the metadata frame): `sum(val) OVER
    * (PARTITION BY partCols ORDER BY orderCols ROWS UNBOUNDED
    * PRECEDING)` semantics without a single-task sort. This is the
    * scale-safe spelling of sweep-line algorithms (interval
    * concurrency, balance ledgers, inventory levels), where the
    * naive global cumsum is the canonical scale-killer.
    * Output: input columns + `prefix_sum`. */
  def exactPrefixSum(df: DataFrame, partCols: Seq[String],
                     orderCols: Seq[Column], valCol: String): DataFrame = {
    val pc = partCols.map(col)
    val sliced = df.repartitionByRange(pc ++ orderCols: _*)
      .withColumn("slice", spark_partition_id())
    val local = sliced.withColumn("lps", sum(valCol).over(
      Window.partitionBy(pc :+ col("slice"): _*).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cw = Window.partitionBy(pc: _*).orderBy("slice")
    val offs = local.groupBy(pc :+ col("slice"): _*)
      .agg(sum(valCol).as("c"))
      .select(pc ++ Seq(col("slice"),
        (sum("c").over(cw) - col("c")).as("off")): _*)
    local.join(broadcast(offs), partCols :+ "slice")
      .withColumn("prefix_sum", col("lps") + col("off"))
      .drop("slice", "lps", "off")
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    // Materialize the edge list ONCE: without this every iteration
    // re-evaluates the (possibly expensive) upstream pipeline that
    // produced `pairs` — measured 13 s → sub-second on the LSH pair
    // graph at sf0.1.
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .localCheckpoint(true)
    // Seed = the first min-propagation round FUSED into the node-set
    // build (r19 optimization round, guide §2.4 "remove shuffles
    // outright"): label₀(n) = min(n, min neighbor). The identity seed
    // spent one shuffle on distinct() and then the loop's whole first
    // round (propagate join + union-aggregate + pointer jump +
    // checkpoint action) computing exactly this frame — same node set
    // (groupBy u over the bidirected edges ≡ distinct u), same
    // monotone-decreasing label lattice, same unique fixpoint (the
    // component min), so results are byte-identical while star-shaped
    // graphs (the dedup norm) converge one full round earlier:
    // docs_dedup_cc 1.69 s → 0.9 s construction at sf0.1.
    // The Σ-label convergence probe rides an Observation on the seed's
    // own checkpoint action instead of a separate agg job.
    val seedObs = org.apache.spark.sql.Observation("cc_seed")
    var labels = edges.groupBy(col("u"))
      .agg(min("v").as("mv"))
      .select(col("u").as("n"), least(col("u"), col("mv")).as("label"))
      .observe(seedObs, sum("label").as("s"), count(lit(1)).as("c"))
      .localCheckpoint(true)
    // Empty graph: no rounds to run, and the Σ-label probe would read
    // a null sum — return the (empty) identity labeling directly. The
    // node count rides the same Observation as the sum (fired by the
    // checkpoint action), so the probe costs no extra job.
    if (seedObs.get("c").asInstanceOf[Long] == 0L) return labels
    var prevSum = seedObs.get("s").asInstanceOf[Long]
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val prop = edges.as("e").join(labels.as("l"), col("e.v") === col("l.n"))
        .select(col("e.u").as("n"), col("l.label").as("label"))
      // LAZY checkpoint before the self-join below: (a) the plan
      // barrier (LogicalRDD) sidesteps a Catalyst constraint-rewrite
      // crash when self-joining a Union-derived aggregate, and (b) the
      // implied cache computes m1 once for both join sides — all still
      // within the round's single action.
      val m1 = labels.unionByName(prop)
        .groupBy("n").agg(min("label").as("label"))
        .localCheckpoint(false)
      // Pointer jump: labels are node ids, so m1 maps every label too;
      // relabeling through m1 itself doubles the propagation distance.
      // (Left join: the min label is always a node present in m1, but
      // coalesce keeps the step total if that invariant ever changes.)
      val jumped = m1.as("x")
        .join(m1.as("y"), col("x.label") === col("y.n"), "left")
        .select(col("x.n").as("n"),
                coalesce(col("y.label"), col("x.label")).as("label"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$i")
      val cp = jumped.observe(obs, sum("label").as("s"))
        .localCheckpoint(true) // the round's ONE action; fires the observe
      val s = obs.get("s").asInstanceOf[Long]
      // Rebuild from the checkpointed rows: a checkpoint's LogicalRDD
      // keeps "origin constraints" whose attribute ids go stale once
      // the self-join above re-aliases them (DeduplicateRelations), and
      // next round's Union crashes rewriting those dangling constraints.
      // createDataFrame yields a constraint-free leaf over the same
      // materialized RDD.
      labels = pairs.sparkSession.createDataFrame(cp.rdd, cp.schema)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter " +
          "rounds; raise maxIter (rounds needed ≈ log2 of the largest " +
          "component diameter)")
    labels
  }

  /** Gap-based sessionization (gaps-and-islands): one shuffle on the
    * key; windows are per-key so skew = hottest single key. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 orderTiebreak: String, gap: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(orderTiebreak))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
             col(tsCol) > col("prev_ts") + expr(s"INTERVAL $gap"), 1)
          .otherwise(0))
      .withColumn("session_id", sum("is_new").over(run))
      .drop("prev_ts", "is_new")
  }

  /** Complex-event pattern match with negation —
    * `PATTERN (start (^neg)* end)` per key, "most recent start"
    * semantics: every `endType` row matches the key's latest
    * `startType` row strictly before it in (time, id) sequence order,
    * provided no `negType` row sits between them and the time span is
    * within `maxSpanMicros`. The MATCH_RECOGNIZE / Flink-CEP shape,
    * respelled relationally: sequence-number the stream per key, carry
    * two RUNNING maxima over the strictly-preceding frame (last start
    * position, last neg position) — the negation is a comparison of
    * two monotone counters, not a backtracking scan — then one
    * equi-join on (key, rn) fetches the matched start's identity.
    *
    * Determinism: integers and timestamps only; the sequence order
    * carries the unique `idCol` tiebreak.
    *
    * Scale: the three windows share one per-key sort (identical
    * partitioning + ordering → a single window stage, bounded by the
    * hottest key); the fetch join shuffles on (key, rn). No per-key
    * arrays, no driver hops.
    * Output: (keyCol, start_id, end_id, t_start, t_end, n_between). */
  def cepMatch(df: DataFrame, keyCol: String, idCol: String, tsCol: String,
               typeCol: String, startType: String, endType: String,
               negType: String, maxSpanMicros: Long): DataFrame = {
    val seq = df
      .select(col(keyCol), col(idCol), col(tsCol), col(typeCol))
      .withColumn("rn", row_number().over(
        Window.partitionBy(keyCol).orderBy(tsCol, idCol)))
    val wPrev = Window.partitionBy(keyCol).orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = seq
      .withColumn("ls",
        max(when(col(typeCol) === startType, col("rn"))).over(wPrev))
      .withColumn("le",
        max(when(col(typeCol) === negType, col("rn"))).over(wPrev))
    marked.as("p")
      .filter(col(s"p.$typeCol") === endType &&
        col("p.ls").isNotNull &&
        (col("p.le").isNull || col("p.le") < col("p.ls")))
      .join(seq.as("s"),
        col(s"p.$keyCol") === col(s"s.$keyCol") &&
          col("p.ls") === col("s.rn"))
      .filter(unix_micros(col(s"p.$tsCol")) - unix_micros(col(s"s.$tsCol"))
        <= maxSpanMicros)
      .select(col(s"p.$keyCol"),
              col(s"s.$idCol").as("start_id"),
              col(s"p.$idCol").as("end_id"),
              col(s"s.$tsCol").as("t_start"),
              col(s"p.$tsCol").as("t_end"),
              (col("p.rn") - col("s.rn") - 1).cast("long").as("n_between"))
  }

  /** As-of join (latest right row at or before each left row's time),
    * union-tag window formulation: O(n log n) per key, no per-row
    * probing; right side pre-deduped to one row per (key, time) with
    * max(valueCol) so tie semantics are pinned. `leftId` must be a
    * real column (deterministic — never monotonically_increasing_id,
    * which is partition-layout-dependent).
    * Output columns: (leftId, leftKey, leftTime, matchedName). */
  def asofJoin(left: DataFrame, leftId: String, leftKey: String,
               leftTime: String,
               right: DataFrame, rightKey: String, rightTime: String,
               rightVal: String, matchedName: String): DataFrame = {
    val r = right
      .groupBy(col(rightKey).as("_k"), col(rightTime).as("_t"))
      .agg(max(rightVal).as("_v"))
      .select(col("_k"), col("_t"), lit(null).cast("long").as("_lid"),
              col("_v"), lit(0).as("_is_l"))
    val l = left
      .select(col(leftKey).as("_k"), col(leftTime).as("_t"),
              col(leftId).as("_lid"),
              lit(null).cast("long").as("_v"), lit(1).as("_is_l"))
    val w = Window.partitionBy("_k")
      .orderBy(col("_t"), col("_is_l"), coalesce(col("_v"), lit(-1L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("_matched", last(col("_v"), ignoreNulls = true).over(w))
      .filter(col("_is_l") === 1)
      .select(col("_lid").as(leftId), col("_k").as(leftKey),
              col("_t").as(leftTime), col("_matched").as(matchedName))
  }

  /** As-of join, directional variants with a tolerance — the rest of
    * the time-series join surface next to [[asofJoin]] (backward),
    * interval join, and resample/interp. Same union-tag window
    * formulation (one shuffle on the key, O(n log n) per key, never a
    * per-row probe):
    *  - backward candidate = latest right row with rt <= lt (ties at
    *    equal time match, gap 0);
    *  - forward candidate  = earliest right row with rt > lt
    *    (STRICTLY after, so an equal-time row is never counted twice);
    *  - `direction` picks one, or "nearest" takes the smaller gap with
    *    ties to backward (the pandas merge_asof convention);
    *  - a candidate with gap > `toleranceSec` is discarded (null
    *    match), pandas' `tolerance=`.
    * Both candidates ride ONE window partitioning: the preceding and
    * following frames share the (_t, _is_l) sort, so the plan is one
    * exchange + one sort + two window passes. Right side pre-deduped
    * to one row per (key, time) with max(valueCol) — tie semantics
    * pinned (§2.3). Output: (leftId, leftKey, leftTime, matchedName,
    * gapSecName) where gap is signed (negative = matched forward). */
  def asofJoinDirectional(left: DataFrame, leftId: String, leftKey: String,
                          leftTime: String,
                          right: DataFrame, rightKey: String,
                          rightTime: String, rightVal: String,
                          matchedName: String, gapSecName: String,
                          direction: String,
                          toleranceSec: Long = Long.MaxValue): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown asof direction: $direction")
    val r = right
      .groupBy(col(rightKey).as("_k"), col(rightTime).as("_t"))
      .agg(max(rightVal).as("_v"))
      .select(col("_k"), col("_t"), lit(null).cast("long").as("_lid"),
              col("_v"), lit(0).as("_is_l"))
    val l = left
      .select(col(leftKey).as("_k"), col(leftTime).as("_t"),
              col(leftId).as("_lid"),
              lit(null).cast("long").as("_v"), lit(1).as("_is_l"))
    // At equal _t right rows (_is_l=0) sort BEFORE left rows, so the
    // preceding frame (…, currentRow) includes them (gap-0 backward
    // match) and the following frame (1, …) excludes them (forward is
    // strictly-after). One sort serves both frames.
    val w = Window.partitionBy("_k")
      .orderBy(col("_t"), col("_is_l"), coalesce(col("_v"), lit(-1L)))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(1, Window.unboundedFollowing)
    val tagged = r.unionByName(l)
      .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(wPrev))
      .withColumn("_pt", last(when(col("_v").isNotNull, col("_t")),
                              ignoreNulls = true).over(wPrev))
      .withColumn("_nv", first(col("_v"), ignoreNulls = true).over(wNext))
      .withColumn("_nt", first(when(col("_v").isNotNull, col("_t")),
                               ignoreNulls = true).over(wNext))
      .filter(col("_is_l") === 1)
      .withColumn("_gb", col("_t").cast("long") - col("_pt").cast("long"))
      .withColumn("_gf", col("_nt").cast("long") - col("_t").cast("long"))
      // tolerance gate, then direction pick over the surviving gaps
      .withColumn("_okb", col("_pv").isNotNull && col("_gb") <= toleranceSec)
      .withColumn("_okf", col("_nv").isNotNull && col("_gf") <= toleranceSec)
    val useBack = direction match {
      case "backward" => col("_okb")
      case "forward"  => lit(false)
      case "nearest"  =>
        col("_okb") && (!col("_okf") || col("_gb") <= col("_gf"))
    }
    val useFwd = direction match {
      case "backward" => lit(false)
      case "forward"  => col("_okf")
      case "nearest"  => col("_okf") && !useBack
    }
    tagged
      .withColumn("_m", when(useBack, col("_pv"))
        .when(useFwd, col("_nv")))
      .withColumn("_g", when(useBack, col("_gb"))
        .when(useFwd, -col("_gf")).cast("long"))
      .select(col("_lid").as(leftId), col("_k").as(leftKey),
              col("_t").as(leftTime), col("_m").as(matchedName),
              col("_g").as(gapSecName))
  }

  // ---- Product quantization (m 8-dim subspaces × 16 centroids) ----

  /** Unrolled per-subspace squared L2 between two 64-float array
    * columns at subspace `m` (a column named "m" must be in scope):
    * eight codegen'd multiply-adds, left-associated so the fold order
    * is pinned (matches DuckDB's sequential list_sum — §2.3). An
    * interpreted `aggregate(zip_with(...))` HOF here cost ~4 s over a
    * 50k-vector store; this form runs inside WholeStageCodegen. */
  def pqSubDist(a: String, b: String, dims: Int = 8): String =
    (1 to dims).map { i =>
      val t = s"(CAST(element_at($a, m*$dims + $i) AS DOUBLE) - " +
              s"CAST(element_at($b, m*$dims + $i) AS DOUBLE))"
      s"$t * $t"
    }.mkString(" + ")

  /** The deterministic 16-entry codebook sample × 8 subspaces: the 16
    * md5-least vectors (seeded-sample initialization; kmeansCodebook
    * is the trained upgrade), kept as whole 64-float rows — the
    * unrolled distance indexes into the right subspace window. 128
    * rows; always broadcast by callers. */
  def pqCodebook(emb: DataFrame, idCol: String, vecCol: String,
                 m: Int = 8, k: Int = 16): DataFrame = {
    val s = emb.sparkSession
    val sub = s.range(0, m).select(col("id").cast("int").as("m"))
    emb
      .withColumn("_h", md5(col(idCol).cast("string")))
      .orderBy("_h", idCol).limit(k)
      .select(col(vecCol).as("cemb"),
        (row_number().over(Window.orderBy("_h", idCol)) - 1).as("cid"))
      .crossJoin(sub)
  }

  /** PQ-encode the store: per (vector, subspace), the id of the
    * nearest codebook centroid (tie → lowest cid, via min(struct)).
    * One broadcast-join pass over the store — at 100 TB the store
    * streams through once and the output (the PQ INDEX: 8 codes =
    * 4 bytes/vector) is the artifact a deployment persists
    * (Artifacts.pqCodes). */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               m: Int = 8, k: Int = 16): DataFrame = {
    val cb = pqCodebook(emb, idCol, vecCol, m, k)
    val s = emb.sparkSession
    val sub = s.range(0, m).select(col("id").cast("int").as("m"))
    emb.select(col(idCol), col(vecCol).as("vemb")).crossJoin(sub)
      .join(broadcast(cb), "m")
      .withColumn("dist", expr(pqSubDist("vemb", "cemb")))
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("code"))
  }
}
