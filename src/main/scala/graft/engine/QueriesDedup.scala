package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The rest of the dedup family (the build brief's full list: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine — the first
  * two live in Ops/QueriesDocs).
  *
  * Scale notes:
  *  - SimHash is the constant-size-signature dedup: one 64-bit
  *    signature per doc (4×16-bit bands here), candidates = band
  *    equality join, verification = popcount on signatures only —
  *    the cheapest near-dup at 100 TB (no shingle sets survive the
  *    signature stage).
  *  - Signatures are built from md5-derived bits (NOT Spark's salted
  *    hash()) so they are portable and oracle-checkable (§2.3-3).
  *  - Count-weighted: with a small vocabulary, distinct-token sets are
  *    nearly identical across docs and unweighted SimHash stops
  *    discriminating (measured: weighted → 12/1866 candidate pairs
  *    pass hamming ≤ 3; unweighted → everything collides).
  */
object QueriesDedup {
  import Tables._

  /** SimHash near-dup: 64-bit count-weighted signature over token
    * md5 bits, 4×16-bit LSH bands, hamming ≤ 3 verification. The
    * signature is built by the one-pass SimHashAgg aggregate (see its
    * scaladoc — the relational spelling costs ~10M intermediate rows);
    * the DuckDB oracle keeps the relational spelling and the
    * signatures match bit-for-bit. */
  def docsDedupSimhash(s: SparkSession, d: String): DataFrame = {
    SimHashAgg.register(s) // also tunes the ObjectHashAggregate fallback (bounded)
    val tok = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
    val sig = tok
      .withColumn("bands", expr(
        """array(
          |  CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT),
          |  CAST(conv(substring(md5(t), 5, 4), 16, 10) AS INT),
          |  CAST(conv(substring(md5(t), 9, 4), 16, 10) AS INT),
          |  CAST(conv(substring(md5(t), 13, 4), 16, 10) AS INT))""".stripMargin))
      .groupBy("doc_id")
      .agg(expr("simhash_bands(bands, cnt)").as("sig"))
    // r19 optimization (guide §2.4): the band rows CARRY the full
    // signature through the self-join, so the verification needs no
    // sig re-joins — the signature aggregate used to feed THREE
    // consumers (band explode + both verification join sides), and
    // the per-token ObjectHashAggregate above the reused token
    // exchange re-ran per consumer. Two consumers (the self-join's
    // two sides) remain; the extra join payload is 4 longs/row on a
    // banded candidate sliver. Dedup moves AFTER the hamming filter
    // (collapsing only survivors): a pair sharing k bands appears k
    // times with identical signatures, so the hamming value is
    // identical per copy and DISTINCT on the final projection yields
    // exactly the old result.
    val bv = sig.select(col("doc_id"), col("sig"), posexplode(col("sig")))
      .select(col("doc_id"), col("sig"), col("pos").as("j"),
              col("col").as("bv"))
    // hamming_dist: codegen'd primitive long loop over the signature
    // arrays (Exprs.HammingDistExpr) — one expression node per pair
    // instead of four element_at + xor + bit_count chains.
    Exprs.register(s)
    bv.as("a")
      .join(bv.as("b"),
        col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("hamming_dist(a.sig, b.sig)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("id1", "id2")
  }

  /** Character 12-gram Jaccard near-dup over stride-4 sampled grams
    * (winnowing-style sampling: every-4th-position grams keep near-dup
    * Jaccard intact — same 25 pairs as dense grams on the fixtures —
    * while cutting the gram set 4×). Candidates come from MinHash-LSH
    * over the gram set, verification is exact Jaccard on candidates
    * only: a shared-gram self-join explodes quadratically in bucket
    * size (measured 31 s at sf0.1 vs ~2 s this way). */
  def docsDedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val n = 12
    val g = documents(s, d)
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${n - 1}, 4), i -> substring(text, i, $n))"))
        .as("shingle"))
      .distinct()
    // Same P6 artifact treatment as the word-shingle pair list
    // (Artifacts.nearDupPairs): the char-gram LSH pipeline materializes
    // once per (plan × corpus fingerprint).
    lazy val pairs = Ops.minhashNearDupFrom(g, "doc_id", threshold = 0.8)
    ArtifactCache.materialize(s, Artifacts.cacheRoot,
      "ngram_jaccard_pairs", d)(Seq(pairs))(ArtifactCache.artifactHash(pairs))(
      pairs)
      .orderBy("id1", "id2")
  }

  /** Dedup RESOLUTION: the survivor set after greedy min-id policy —
    * a doc is dropped iff it near-dups (MinHash-LSH verified Jaccard
    * ≥ 0.8) some LOWER doc_id. One-hop greedy, not transitive closure
    * (connected components needs iteration; at scale that's an
    * iterative join loop or a graph library — the greedy policy is the
    * single-pass, deterministic variant both engines can express).
    * The anti-join IS the delete: survivors stream through without
    * materializing the dropped set anywhere. Oracle uses exact O(n²)
    * Jaccard pairs; equality with the LSH candidate set is the same
    * verified property as docs_dedup_near / docs_dedup_cc. */
  def docsDedupResolve(s: SparkSession, d: String): DataFrame = {
    val drops = Artifacts.nearDupPairs(s, d)
      .select(col("id2").as("doc_id")).distinct()
    documents(s, d)
      .join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Dedup CLUSTERING: exact connected components over the verified
    * near-dup pair graph (min-label propagation, Ops.connectedComponents)
    * — the transitive completion of docs_dedup_resolve's one-hop
    * policy: every doc in a near-dup component maps to the component's
    * min doc_id. The oracle computes the same thing with a recursive
    * CTE over the exact-Jaccard pairs — the comparison holds because
    * at the 16-band/2-row LSH config, candidate recall at J ≥ 0.8 is
    * 1 − (1 − J²)^16 ≥ 0.9999, and the driver gate verifies the pair
    * sets are in fact identical on these fixtures (docs_dedup_near). */
  def docsDedupCc(s: SparkSession, d: String): DataFrame = {
    val pairs = Artifacts.nearDupPairs(s, d)
      .select("id1", "id2")
    Ops.connectedComponents(pairs, "id1", "id2")
      .select(col("n").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup: unordered pairs above a similarity
    * threshold (the semantic-near-dup primitive; brute-force pairs
    * here, LSH/IVF-bucketed at scale per Ops.annIvf). Threshold is
    * applied to the ROUNDED similarity on both engines. */
  def embDedupCosine(s: SparkSession, d: String): DataFrame =
    Ops.cosinePairs(embeddings(s, d), "vec_id", "embedding",
                    threshold = 0.45)
      .orderBy("id1", "id2")
}
