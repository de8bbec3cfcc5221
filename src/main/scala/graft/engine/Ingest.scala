package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming training-data ingest: documents arrive in microbatches,
  * each batch near-dup-checks against the ACCEPTED corpus so far and
  * lands exactly-once in a lake.
  *
  * This is the 100 TB ingestion posture the batch `docs_dedup_*` keys
  * point at, assembled end-to-end:
  *
  *  - The dedup state is NOT in the streaming state store — it is the
  *    persisted LSH band index of the accepted corpus (a lake table,
  *    O(corpus) tiny rows), probed per batch via
  *    [[Ops.minhashNearDupIncremental]]. Batch cost is O(batch) hash
  *    work + an index probe; the corpus is never re-shingled (only
  *    matched candidates pay the verify pass — the semi-join
  *    contract).
  *  - Three lake tables under one root, all committed with the SAME
  *    (appId, batchId) idempotence token ([[LakeTable.appendTxn]]):
  *    `docs` (accepted documents), `bands` (their LSH band index
  *    rows), `rejects` (the audit log: every ≥-threshold pair that
  *    doomed a document — production dedup without a why-was-this
  *    -dropped record is undebuggable).
  *  - Crash consistency by RECOMPUTATION DETERMINISM, not cross-table
  *    atomicity: the three commits are not atomic as a group, but a
  *    re-delivered batch recomputes the exact same accept/reject
  *    verdicts under EVERY partial-commit state, because both base
  *    frames exclude the batch's own doc_ids (anti-join) — a batch
  *    whose docs/bands landed before the crash cannot self-match on
  *    re-delivery. Whichever tables already committed no-op
  *    (appendTxn replays as None); the missing ones commit the
  *    identical content. Single writer per root (one appId), as with
  *    any Structured-Streaming sink.
  *
  * Survivor rule (deterministic): a document is REJECTED iff it has a
  * verified match at `threshold`+ against (a) any accepted corpus
  * document, or (b) any EARLIER-doc_id document in its own batch
  * (docs_dedup_resolve's earlier-wins rule; the earlier partner's own
  * fate does not re-admit the later doc — the standard greedy chain
  * treatment, transitive chains collapse to their earliest member).
  */
object Ingest {

  /** Periodic lake maintenance for the ingest tables — the policy
    * that keeps a long-running ingest from dying of its own commit
    * cadence: every microbatch appends one tiny commit (plus a
    * commit JSON) per table, and at production batch counts that is
    * the classic small-file / long-log killer. Every `everyBatches`
    * batches, each table gets the documented maintenance
    * composition, in the contract order:
    *
    *   1. compact (optional): one atomic [[LakeTable.rewrite]] folds
    *      the accumulated per-batch directories into a single
    *      directory (at 100 TB a deployment swaps this step for
    *      [[LakeTable.rewriteClustered]] on its probe key — e.g.
    *      (band, bh) for the band index — or a partial small-file
    *      compaction; the policy object is where that plugs in);
    *   2. checkpoint: fold the commit log into one snapshot —
    *      the (appId, batchId) idempotence map folds WITH it, so
    *      late re-deliveries still no-op after the JSONs are gone
    *      (IngestSpec's maintenance case pins this);
    *   3. vacuum at the latest version (reclaims the pre-compaction
    *      data directories) — before pruneLog, per the
    *      [[LakeTable.pruneLog]] ordering contract;
    *   4. pruneLog: drop commit JSONs below the checkpoint;
    *   5. pruneCheckpoints: keep the newest `keepCheckpoints`.
    *
    * Net effect: data directories, commit JSONs, and checkpoint
    * files are all O(everyBatches) regardless of how many batches
    * ever ran (IngestMaintenanceSpec measures it over 50 batches).
    * Explicit trade: time travel below the newest maintenance point
    * is gone (vacuum + pruneLog) — the ingest lake is an operational
    * corpus, not an archive. Default OFF: pass a policy to opt in. */
  case class IngestMaintenance(everyBatches: Int = 32,
                               compact: Boolean = true,
                               keepCheckpoints: Int = 2,
                               clusterBuckets: Int = 8,
                               refreshCodebook: Boolean = false,
                               refreshSkew: Double = 4.0,
                               refreshMinFit: Double = 0.0) {
    require(everyBatches >= 1, s"everyBatches must be >= 1")
    require(keepCheckpoints >= 1, s"keepCheckpoints must be >= 1")
    require(clusterBuckets >= 1, s"clusterBuckets must be >= 1")
    require(refreshSkew > 1.0, s"refreshSkew must be > 1.0")
    require(refreshMinFit < 1.0, s"refreshMinFit must be < 1.0")
    private[engine] def due(batchId: Long): Boolean =
      (batchId + 1) % everyBatches == 0
  }

  /** One maintenance pass over `roots` (see [[IngestMaintenance]]).
    * Idempotent in content: a crash between steps leaves every table
    * readable (each step is its own atomic commit or a pure file
    * delete), and a re-delivered batch that re-triggers the pass
    * just re-folds the same content. Tables that have no commits yet
    * are skipped; the empty-content guard (a rejects table whose
    * every commit was empty has versions but no data) skips the
    * compaction step, never the log maintenance. */
  private[graft] def maintain(spark: org.apache.spark.sql.SparkSession,
                              roots: Seq[String],
                              m: IngestMaintenance,
                              cluster: Map[String, String] = Map.empty)
      : Unit =
    roots.foreach { root =>
      if (LakeTable.latestVersion(spark, root).isDefined) {
        if (m.compact && LakeTable.activeDirs(spark, root).size > 1)
          cluster.get(root) match {
            // CLUSTERED compaction: the table re-lands range-
            // partitioned on its probe key with per-directory
            // [min, max] stats in the commit log — so a stats-pruned
            // read (LakeTable.readRange) opens only the directories
            // whose range intersects the probe, the serving-side IO
            // contract (knnProbe's pruneByStats path).
            case Some(colName) =>
              LakeTable.rewriteClustered(LakeTable.read(spark, root),
                root, colName, m.clusterBuckets)
            case None =>
              LakeTable.rewrite(LakeTable.read(spark, root), root)
          }
        LakeTable.checkpoint(spark, root)
        LakeTable.vacuum(spark, root,
          LakeTable.latestVersion(spark, root).get)
        LakeTable.pruneLog(spark, root)
        LakeTable.pruneCheckpoints(spark, root, m.keepCheckpoints)
        ()
      }
    }

  def docsRoot(root: String): String = s"$root/docs"
  def bandsRoot(root: String): String = s"$root/bands"
  def rejectsRoot(root: String): String = s"$root/rejects"
  def filteredRoot(root: String): String = s"$root/filtered"

  /** GDPR forget for the document leg: delete the named doc_ids from
    * the docs lake, their rows from the LSH band index (so no future
    * batch can match against a forgotten document), and every audit
    * pair naming them from the rejects lake. Each table's delete is
    * a [[LakeDml]] copy-on-write commit under the ("forget",
    * `txnBatch`) idempotence token — a re-delivered request no-ops
    * exactly like a re-delivered ingest batch. Membership sidecars
    * are backfilled first ([[LakeDml.bloomAll]]): per-batch ingest
    * directories each span the whole id range, so only membership
    * can prune them (and a maintenance compaction drops sidecars
    * with the directories it replaces — the backfill is the
    * self-healing step). `ids` is a bounded request list, not a
    * scan. */
  def forgetDocs(spark: org.apache.spark.sql.SparkSession, root: String,
                 ids: Seq[Long], txnBatch: Long = 0L): Unit = {
    if (ids.isEmpty) return
    val txn = Some(("forget", txnBatch))
    LakeDml.bloomAll(spark, docsRoot(root), "doc_id")
    LakeDml.bloomAll(spark, bandsRoot(root), "doc_id")
    LakeDml.deleteByKeys(spark, docsRoot(root), "doc_id", ids, txn)
    LakeDml.deleteByKeys(spark, bandsRoot(root), "doc_id", ids, txn)
    LakeDml.deleteWhere(spark, rejectsRoot(root),
      col("doc_id").isin(ids: _*) || col("match_id").isin(ids: _*),
      txn = txn)
    ()
  }

  /** GDPR forget for the vector leg: the named vec_ids leave the
    * vecs lake and every vrejects audit pair naming them. The
    * codebook is untouched by design — a k-centroid aggregate is a
    * model artifact, not personal rows. Same token discipline as
    * [[forgetDocs]]. */
  def forgetVecs(spark: org.apache.spark.sql.SparkSession, root: String,
                 ids: Seq[Long], txnBatch: Long = 0L): Unit = {
    if (ids.isEmpty) return
    val txn = Some(("forget", txnBatch))
    LakeDml.bloomAll(spark, vecsRoot(root), "vec_id")
    LakeDml.deleteByKeys(spark, vecsRoot(root), "vec_id", ids, txn)
    LakeDml.deleteWhere(spark, vrejectsRoot(root),
      col("vec_id").isin(ids: _*) || col("dup_of").isin(ids: _*),
      txn = txn)
    ()
  }

  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bh", LongType)))

  private val filteredSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("reason", StringType)))

  private val rejectsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("match_id", LongType),
    StructField("match_src", StringType), StructField("jaccard", DoubleType)))

  /** Representative document quality rule (the drain's default):
    * too-short documents, audited with their reason. Named HERE so
    * production wiring and the specs share one definition. */
  def tooShortRule(minChars: Int): DataFrame => DataFrame =
    d => d.filter(col("n_chars") < minChars)
      .select(col("doc_id"), lit("too_short").as("reason"))

  /** Representative vector quality rule: degenerate first-8-dims L2
    * mass (the emb_norm_filter family). */
  def lowPrefixMassRule(minMass: Double): DataFrame => DataFrame =
    d => d.filter(expr(
        "sqrt(aggregate(slice(embedding, 1, 8), CAST(0.0 AS DOUBLE)," +
          s" (a, x) -> a + CAST(x AS DOUBLE) * x)) < $minMass"))
      .select(col("vec_id"), lit("low_prefix_mass").as("reason"))

  private def emptyFrame(spark: org.apache.spark.sql.SparkSession,
                         schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Lake read that tolerates a missing table AND a table whose every
    * commit was empty (a rejects table after clean batches has
    * versions but no data directories — LakeTable.read refuses those
    * by design). */
  private[graft] def readOrEmpty(spark: org.apache.spark.sql.SparkSession,
                                 root: String, schema: StructType,
                                 asOf: Option[Long] = None): DataFrame =
    if (LakeTable.latestVersion(spark, root).isDefined &&
        LakeTable.activeDirs(spark, root, asOf).nonEmpty)
      LakeTable.read(spark, root, asOf)
    else emptyFrame(spark, schema)

  /** Processes one microbatch: quality-filter (optional), dedup
    * against the accepted corpus + earlier in-batch docs, then commit
    * (docs, bands, rejects, filtered) with the (appId, batchId)
    * token. Safe to call again with the same batchId after any
    * partial failure — see the determinism note above.
    *
    * `filter`, when given, maps the staged batch to (doc_id, reason)
    * rows naming the documents to EXCLUDE before dedup — the
    * production ingest gate's first stage (length/language/quality
    * rules), audited to its own lake table. Filtered documents never
    * enter the band index, so they can never doom a later near-dup
    * of themselves. The function must be deterministic in the batch
    * content (pure Column logic qualifies) — it re-runs on
    * re-delivery and its verdicts must replay identically, the same
    * contract as the dedup stage.
    *
    * Survivor identity across batches is arrival-order-dependent by
    * construction (streaming greedy dedup): if X lands a batch
    * before its near-dup Y, X survives regardless of id order —
    * base-wins beats earlier-id-wins. The corpus always keeps
    * exactly one representative per duplicate chain; WHICH one
    * depends on arrival, as in any incremental dedup. */
  def ingestBatch(batch: DataFrame, root: String, appId: String,
                  batchId: Long, threshold: Double = 0.8,
                  shingleSize: Int = 5, numHashes: Int = 32,
                  rowsPerBand: Int = 2, maxBucket: Int = 256,
                  filter: Option[DataFrame => DataFrame] = None,
                  maintenance: Option[IngestMaintenance] = None)
      : Unit = {
    val spark = batch.sparkSession
    def maintainNow(): Unit = maintenance
      .filter(_.due(batchId))
      .foreach(m => maintain(spark,
        Seq(docsRoot(root), bandsRoot(root), rejectsRoot(root),
            filteredRoot(root)), m))
    // Land the batch to a staging parquet and reprocess FROM FILES.
    // Two reasons, both load-bearing: (1) a foreachBatch frame is
    // stream-internal (no inputFiles) — the candidate artifact cache
    // inside minhashNearDupIncremental keys on plan × input-file
    // fingerprints, and an in-memory batch would either be refused
    // (first batch: loud artifactHash require) or, worse, hash
    // identically across DIFFERENT batches once the lake inputs make
    // inputFiles non-empty — a silent cross-batch cache collision;
    // (2) the batch plan executes exactly once (the stage write) —
    // the dedup, both index probes, and all three commits re-read
    // the staged files instead of re-running the stream source. A
    // re-delivery re-stages (overwrite), changing the staging mtime
    // and thus the artifact key: recompute, deterministically, never
    // a stale-cache read. The staging dir is dropped after the
    // commits; a crash before that leaves it for the re-delivery's
    // overwrite (the CdcStream staging pattern).
    val stagingDir = s"$root/staging/batch-$batchId"
    batch.write.mode("overwrite").parquet(stagingDir)
    val delta = spark.read.parquet(stagingDir)
    if (delta.isEmpty) {
      // Advance the txn high-water mark without paying the corpus
      // reads, the LSH probe, or an artifact write (the emb leg's
      // guard, mirrored).
      LakeTable.appendTxn(emptyFrame(spark, delta.schema),
        docsRoot(root), appId, batchId)
      LakeTable.appendTxn(emptyFrame(spark, bandSchema),
        bandsRoot(root), appId, batchId)
      LakeTable.appendTxn(emptyFrame(spark, rejectsSchema),
        rejectsRoot(root), appId, batchId)
      LakeTable.appendTxn(emptyFrame(spark, filteredSchema),
        filteredRoot(root), appId, batchId)
      dropStaging(spark, stagingDir)
      maintainNow()
      return
    }
    val flagged = filter
      .map(f => f(delta).select(col("doc_id"), col("reason"))
        .localCheckpoint())
      .getOrElse(emptyFrame(spark, filteredSchema))
    val surviving = delta
      .join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
    val batchIds = delta.select("doc_id")
    // Exclude the batch's own ids from BOTH base frames: after a
    // partial commit + re-delivery, the lake may already hold this
    // batch's docs and/or bands, and probing them would self-match
    // every document into the reject pile. With the exclusion, the
    // recompute is identical no matter which commits landed.
    val baseDocs = readOrEmpty(spark, docsRoot(root), delta.schema)
      .join(batchIds, Seq("doc_id"), "left_anti")
    val baseBands = readOrEmpty(spark, bandsRoot(root), bandSchema)
      .join(batchIds, Seq("doc_id"), "left_anti")
    val pairs = Ops.minhashNearDupIncremental(
        baseBands, baseDocs.select("doc_id", "text"),
        surviving.select("doc_id", "text"), "doc_id", "text",
        shingleSize, numHashes, rowsPerBand, threshold, maxBucket)
      .select(col("doc_id"), col("match_id"), col("match_src"),
              col("jaccard"))
    val rejects = pairs.localCheckpoint()       // 3 consumers, tiny
    val accepted = surviving
      .join(rejects.select("doc_id"), Seq("doc_id"), "left_anti")
    val acceptedBands = Ops.lshBandIndex(
        Ops.shingles(accepted, "doc_id", "text", shingleSize),
        "doc_id", numHashes, rowsPerBand, maxBucket)
      .select("doc_id", "band", "bh")
    LakeTable.appendTxn(accepted, docsRoot(root), appId, batchId)
    LakeTable.appendTxn(acceptedBands, bandsRoot(root), appId, batchId)
    LakeTable.appendTxn(rejects, rejectsRoot(root), appId, batchId)
    LakeTable.appendTxn(flagged, filteredRoot(root), appId, batchId)
    dropStaging(spark, stagingDir)
    maintainNow()
  }

  // ---------------------------------------------------------------
  // Embedding ingest — the same posture for the vector modality
  // ---------------------------------------------------------------

  def vecsRoot(root: String): String = s"$root/vecs"
  def vrejectsRoot(root: String): String = s"$root/vrejects"
  def vfilteredRoot(root: String): String = s"$root/vfiltered"
  def codebookRoot(root: String): String = s"$root/codebook"

  private val vfilteredSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("reason", StringType)))

  private val vrejectsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("dup_of", LongType),
    StructField("cos", DoubleType), StructField("match_src", StringType)))

  private def vecsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("cell_id", LongType),
    StructField("cb_ver", LongType)))

  private def dropStaging(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)                          // best-effort cleanup
  }

  /** Streaming SemDeDup ingest for embeddings — [[ingestBatch]]'s
    * posture on the vector modality (QueriesR11.embSemdedup's
    * cell-scoped kill rule, made incremental):
    *
    *  - The coarse k-means codebook trains ONCE, on the first batch,
    *    deterministically (Ops.kmeansCodebook: hash-sampled seeds,
    *    fixed iterations) and is FROZEN as its own lake table — the
    *    emb_ann_incremental contract: later batches assign to the
    *    frozen cells, cost ∝ batch × k, never corpus, no retraining.
    *  - A delta vector is rejected iff some same-cell partner — an
    *    accepted corpus vector (match_src "base") or an earlier-id
    *    vector of its own batch ("delta") — has rounded cosine
    *    STRICTLY above `dupCos` (embSemdedup's rule). The candidate
    *    surface is Σ|cell ∩ batch|·|cell|, never n².
    *  - Accepted vectors persist WITH their cell id (the frozen
    *    codebook makes it immutable), so future batches probe the
    *    index by an equi-join on cell_id — no corpus re-assignment.
    *  - Same crash contract as the document leg: staging-first,
    *    batch-id anti-joins on the base, three appendTxn commits
    *    under one token (codebook first on batch 0 — it must exist
    *    before any vecs commit), identical verdicts under every
    *    partial-commit replay. */
  def ingestEmbBatch(batch: DataFrame, root: String, appId: String,
                     batchId: Long, dupCos: Double = 0.45,
                     k: Int = 16,
                     filter: Option[DataFrame => DataFrame] = None,
                     maintenance: Option[IngestMaintenance] = None)
      : Unit = {
    val spark = batch.sparkSession
    Exprs.register(spark); TopK.register(spark)
    def maintainNow(): Unit = maintenance
      .filter(_.due(batchId))
      .foreach { m =>
        // Codebook refresh runs FIRST (when armed and drifted), so
        // the clustered compaction below lands on the NEW cell ids —
        // the refreshed serving layout in one maintenance pass.
        if (m.refreshCodebook &&
            codebookDrifted(spark, root, m.refreshSkew, m.refreshMinFit))
          refreshCodebook(spark, root, m.clusterBuckets)
        maintain(spark,
          // codebook included for uniformity: beyond its newest
          // version's checkpoint the pass no-ops on it. NOTE vacuum
          // reclaims pre-refresh codebook versions like any other
          // pre-maintenance state — the documented time-travel trade.
          Seq(vecsRoot(root), vrejectsRoot(root), vfilteredRoot(root),
              codebookRoot(root)), m,
          // the vecs table compacts CLUSTERED on its probe key:
          // between refreshes cell_id is immutable (frozen codebook),
          // so the cluster never rots and every maintenance pass
          // re-establishes the serving layout knnProbe's pruned path
          // reads
          cluster = Map(vecsRoot(root) -> "cell_id"))
      }
    val stagingDir = s"$root/staging/emb-batch-$batchId"
    batch.write.mode("overwrite").parquet(stagingDir)
    val staged = spark.read.parquet(stagingDir)
    // Quality gate first, over the FULL staged frame (same contract
    // as the document leg — a rule may reference any staged column):
    // a deterministic (vec_id, reason) rule; filtered vectors never
    // shape the codebook, never enter a cell, never doom a neighbor.
    val flagged =
      if (staged.isEmpty) emptyFrame(spark, vfilteredSchema)
      else filter
        .map(f => f(staged).select(col("vec_id"), col("reason"))
          .localCheckpoint())
        .getOrElse(emptyFrame(spark, vfilteredSchema))
    val surviving = staged.select("vec_id", "embedding")
      .join(flagged.select("vec_id"), Seq("vec_id"), "left_anti")
    // Degenerate vectors — null or zero-length embeddings — can
    // neither shape a codebook nor score a cosine: they would
    // otherwise land in the corpus with a null cell_id, unaudited
    // and unprobeable junk. Route them to the vfiltered audit table
    // with their own reason (a second post-assignment net below
    // catches anything whose every cell cosine is null). Training
    // and dedup see only `clean`.
    val clean = surviving
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val preDegen = surviving
      .join(clean.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit("degenerate_embedding").as("reason"))
    val trainable =
      LakeTable.latestVersion(spark, codebookRoot(root)).isDefined ||
      !clean.isEmpty
    if (staged.isEmpty || !trainable) {
      // Advance the txn high-water mark without touching the corpus —
      // and never train (or commit) a codebook from nothing: an
      // all-filtered/degenerate (or empty) batch before any codebook
      // exists audits its verdicts and leaves training to the first
      // batch with clean survivors. (A committed EMPTY codebook would
      // wedge the root forever: every later batch would skip
      // retraining on latestVersion.isDefined and then crash reading
      // a data-less table.)
      LakeTable.appendTxn(emptyFrame(spark, vecsSchema),
        vecsRoot(root), appId, batchId)
      LakeTable.appendTxn(emptyFrame(spark, vrejectsSchema),
        vrejectsRoot(root), appId, batchId)
      LakeTable.appendTxn(flagged.unionByName(preDegen),
        vfilteredRoot(root), appId, batchId)
      dropStaging(spark, stagingDir)
      maintainNow()
      return
    }
    if (LakeTable.latestVersion(spark, codebookRoot(root)).isEmpty)
      LakeTable.appendTxn(
        Ops.kmeansCodebook(clean, "vec_id", "embedding", k),
        codebookRoot(root), appId, batchId)
    // PAIRED codebook read: the batch assigns with the codebook
    // VERSION the current corpus's cells were assigned under (the
    // uniform cb_ver every vecs row carries), NOT blindly with the
    // latest codebook version — so a crash between a refresh's
    // codebook rewrite and its vecs re-cluster leaves the next batch
    // consistent with the corpus (old cells, old codebook) rather
    // than mixing new-codebook cells into an old-cell index. An
    // empty corpus pairs with the just-trained latest version.
    val cbVer = currentCbVer(spark, root).getOrElse(
      LakeTable.latestVersion(spark, codebookRoot(root)).get)
    val cent = LakeTable.read(spark, codebookRoot(root), Some(cbVer))
      .select("cid", "cemb")
    // argmax cell assignment — embSemdedup/annIvf's exact tie rule
    val asg = clean.crossJoin(broadcast(cent))
      .select(col("vec_id"),
              round(expr("cosine_sim(embedding, cemb)"), 6).as("cs"),
              col("cid"))
      .groupBy("vec_id")
      .agg(expr("topk_by_score(cs, cid, 1)").as("t"))
      .select(col("vec_id"), expr("t[0].id").as("cell_id"))
    val cells0 = clean.join(asg, "vec_id")
    val postDegen = cells0.filter(col("cell_id").isNull)
      .select(col("vec_id"), lit("degenerate_embedding").as("reason"))
    val degenerate = preDegen.unionByName(postDegen).localCheckpoint()
    val cells = cells0.filter(col("cell_id").isNotNull)
    val batchIds = staged.select("vec_id")
    val baseVecs = readOrEmpty(spark, vecsRoot(root), vecsSchema)
      .join(batchIds, Seq("vec_id"), "left_anti")
    def cos(a: String, b: String) =
      round(expr(s"cosine_sim($a.embedding, $b.embedding)"), 6)
    val candBase = cells.as("a")
      .join(baseVecs.as("b"), col("a.cell_id") === col("b.cell_id"))
      .filter(cos("a", "b") > lit(dupCos))
      .select(col("a.vec_id").as("vec_id"),
              col("b.vec_id").as("dup_of"),
              cos("a", "b").as("cos"), lit("base").as("match_src"))
    val candDelta = cells.as("a")
      .join(cells.as("b"), col("a.cell_id") === col("b.cell_id") &&
                           col("b.vec_id") < col("a.vec_id"))
      .filter(cos("a", "b") > lit(dupCos))
      .select(col("a.vec_id").as("vec_id"),
              col("b.vec_id").as("dup_of"),
              cos("a", "b").as("cos"), lit("delta").as("match_src"))
    val rejects = candBase.unionByName(candDelta).localCheckpoint()
    val accepted = cells
      .join(rejects.select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "cell_id")
      .withColumn("cb_ver", lit(cbVer))
    LakeTable.appendTxn(accepted, vecsRoot(root), appId, batchId)
    LakeTable.appendTxn(rejects, vrejectsRoot(root), appId, batchId)
    LakeTable.appendTxn(flagged.unionByName(degenerate),
      vfilteredRoot(root), appId, batchId)
    dropStaging(spark, stagingDir)
    maintainNow()
  }

  /** The codebook VERSION the vecs snapshot's cells were assigned
    * under. Every accepted row carries it (`cb_ver`) and it is
    * uniform at any committed snapshot — appends always pair with the
    * corpus's current version and a refresh rewrites every row in one
    * atomic commit — so reading ONE row suffices (a single parquet
    * footer + page, never a corpus scan). None when the corpus is
    * empty (or the snapshot predates any accept). */
  private[graft] def currentCbVer(spark: org.apache.spark.sql.SparkSession,
                                  root: String,
                                  asOf: Option[Long] = None): Option[Long] =
    if (LakeTable.latestVersion(spark, vecsRoot(root)).isDefined &&
        LakeTable.activeDirs(spark, vecsRoot(root), asOf).nonEmpty)
      LakeTable.read(spark, vecsRoot(root), asOf).select("cb_ver")
        .limit(1).collect().headOption.map(_.getLong(0))
    else None

  /** Drift trigger for the codebook refresh — drift rots the frozen
    * codebook along TWO distinct axes, so the trigger watches both:
    *
    *  - PILE-UP (cell-size skew): a new concentrated mode lands
    *    inside one frozen cell, which outgrows the rest; in-cell
    *    exact scoring keeps recall, but probe IO stops being
    *    ∝ probed cells (one cell ≈ the corpus) — the serving-layout
    *    contract rots. Fires when max(cellCount) > skew × mean.
    *  - SCATTER (assignment-fit decay): new modes ORTHOGONAL to every
    *    frozen centroid spread across cells on noise argmax; a true
    *    neighborhood splits over more cells than any nprobe covers
    *    and recall itself rots, while cell sizes stay balanced (skew
    *    is blind to it). Fires when the mean cosine of vectors to
    *    their assigned centroid drops below `minFit`. OPT-IN
    *    (default 0.0 = off): absolute fit is a property of the
    *    embedding distribution — a genuinely unclustered corpus sits
    *    low forever and a retrain cannot raise what the data lacks,
    *    so an uncalibrated floor would refresh every maintenance
    *    pass without converging. Calibrate minFit per corpus (e.g.
    *    the post-initial-training fit minus a margin) before arming;
    *    the skew axis needs no calibration and stays on whenever
    *    refreshCodebook is.
    *
    * Cost: one groupBy-count on (cell_id) plus one broadcast-join
    * cosine pass over the corpus — O(corpus × dim) at maintenance
    * cadence, no shuffle of vector data. Deterministic in the
    * committed corpus (up to double-sum ordering noise at the
    * thresholds themselves), so a re-delivered trigger recomputes
    * the same verdict; the oracle-gated replay key uses a FORCED
    * refresh precisely so no hash ever hangs on a threshold. */
  private[graft] def codebookDrifted(
      spark: org.apache.spark.sql.SparkSession, root: String,
      skew: Double, minFit: Double = 0.0): Boolean = {
    if (LakeTable.latestVersion(spark, vecsRoot(root)).isEmpty ||
        LakeTable.activeDirs(spark, vecsRoot(root)).isEmpty) return false
    val k = LakeTable.read(spark, codebookRoot(root)).count()
    if (k <= 1) return false
    val vecs = LakeTable.read(spark, vecsRoot(root))
    val r = vecs.groupBy("cell_id").count()
      .agg(max("count").as("mx"), sum("count").as("n")).collect()(0)
    val skewed =
      !r.isNullAt(0) && r.getLong(0) * k > skew * r.getLong(1)
    lazy val fit = {
      Exprs.register(spark); TopK.register(spark)
      val cbVer = currentCbVer(spark, root)
      val cent = LakeTable.read(spark, codebookRoot(root), cbVer)
        .select(col("cid").as("cell_id"), col("cemb"))
      vecs.join(broadcast(cent), Seq("cell_id"))
        .agg(avg(round(expr("cosine_sim(embedding, cemb)"), 6)))
        .collect()(0)
    }
    skewed || (minFit > 0.0 && !fit.isNullAt(0) &&
               fit.getDouble(0) < minFit)
  }

  /** Codebook REFRESH — the maintenance step that keeps IVF recall
    * from rotting under distribution drift (the frozen batch-0
    * codebook is exactly right for determinism and exactly wrong
    * forever): retrain k-means over the CURRENT accepted corpus (same
    * deterministic kernel as batch-0 training, same k), then land the
    * new serving state as two commits whose CONSISTENCY does not
    * depend on their atomicity as a pair:
    *
    *   1. [[LakeTable.rewrite]] the codebook table with the new
    *      centroids → version `cv`;
    *   2. re-assign every corpus vector to its argmax new cell and
    *      [[LakeTable.rewriteClustered]] the vecs table on the new
    *      cell_id — ONE atomic commit carrying data, clustering, AND
    *      the `cb_ver = cv` pairing column, so any reader of any vecs
    *      snapshot (pinned or latest) always resolves the codebook
    *      VERSION its cells were assigned under ([[currentCbVer]]).
    *      A mixed index is unrepresentable: the pairing travels
    *      INSIDE the atomically-swapped table rather than between
    *      two tables' "latest" pointers.
    *
    * Crash between 1 and 2: vecs still carry the old cb_ver, probes
    * and the next batch keep reading the old codebook version — the
    * dangling new version is unreferenced junk until a re-triggered
    * refresh (deterministic on the same corpus) supersedes it.
    * Acceptance verdicts are NOT revisited: dedup history is an
    * audit log of decisions taken under the codebook of their day.
    * A reassigned vector whose every new-centroid cosine is null
    * (cannot happen for vectors that earned a cell at accept time,
    * kept total anyway) parks in sentinel cell -1, which no probe
    * ranks. */
  private[graft] def refreshCodebook(
      spark: org.apache.spark.sql.SparkSession, root: String,
      buckets: Int): Long = {
    Exprs.register(spark); TopK.register(spark)
    val vecs = LakeTable.read(spark, vecsRoot(root))
      .select("vec_id", "embedding")
    val k = LakeTable.read(spark, codebookRoot(root)).count().toInt
    val cb = Ops.kmeansCodebook(vecs, "vec_id", "embedding", k)
    val cv = LakeTable.rewrite(cb, codebookRoot(root))
    val cent = LakeTable.read(spark, codebookRoot(root), Some(cv))
      .select("cid", "cemb")
    val asg = vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"),
              round(expr("cosine_sim(embedding, cemb)"), 6).as("cs"),
              col("cid"))
      .groupBy("vec_id")
      .agg(expr("topk_by_score(cs, cid, 1)").as("t"))
      .select(col("vec_id"), expr("t[0].id").as("cell_id"))
    val reassigned = vecs.join(asg, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
              coalesce(col("cell_id"), lit(-1L)).as("cell_id"),
              lit(cv).as("cb_ver"))
    LakeTable.rewriteClustered(reassigned, vecsRoot(root), "cell_id",
      buckets)
    cv
  }

  /** kNN probe over the INGESTED vector corpus — the read half of the
    * ingest→serve loop: queries (qid, embedding) rank the frozen
    * codebook's cells (annIvf's exact conventions: cosine rounded
    * 6 dp, topk (score DESC, id ASC)), probe their top `nprobe`
    * cells against the STORED cell assignment (no corpus
    * re-assignment, ever — the frozen codebook made cell_id immutable
    * at accept time), and score candidates exactly. Returns
    * (qid, neighbor_id, cos_sim, rk).
    *
    * Scale shape: the codebook broadcasts; the query→cell ranking is
    * one map-side bounded-heap pass (cost ∝ queries × k_cells); the
    * candidate join touches only probed cells — at 100 TB the vecs
    * table is written partitioned/bucketed by cell_id so that join
    * prunes to nprobe partitions per query batch, and the final
    * top-k is the bounded TopKByScore heap (n_queries × k rows out,
    * map-side partials — no global sort).
    *
    * `asOf` pins the VECS snapshot (lake version) the probe serves
    * from — the production read-while-ingesting contract: a serving
    * fleet answers every query of a session from ONE consistent
    * corpus version while the ingest keeps committing, and a pinned
    * probe replays identically forever (until vacuum reclaims the
    * version). The codebook needs no pin: it is frozen after its
    * single training commit by contract.
    *
    * `pruneByStats` turns the corpus scan into the SERVING-layout
    * read: the probed cell set (≤ codebook size — one bounded
    * METADATA collect, never vector data) drives per-cell
    * [[LakeTable.readRange]] reads, so only the data directories
    * whose logged cell_id range intersects a probed cell are opened
    * — probe IO ∝ probed cells once maintenance has clustered the
    * table (directories without stats are read conservatively, so
    * not-yet-compacted trailing commits stay correct). Identical
    * results either way (IngestMaintenanceSpec pins equality and the
    * file-count reduction). */
  def knnProbe(spark: org.apache.spark.sql.SparkSession, root: String,
               queries: DataFrame, k: Int, nprobe: Int = 4,
               asOf: Option[Long] = None,
               pruneByStats: Boolean = false): DataFrame = {
    Exprs.register(spark); TopK.register(spark)
    val hasData = LakeTable.latestVersion(spark, vecsRoot(root)).isDefined &&
      LakeTable.activeDirs(spark, vecsRoot(root), asOf).nonEmpty
    // PAIRED codebook read (the refresh-consistency contract): rank
    // cells with the codebook VERSION the served vecs snapshot's
    // cells were assigned under — cb_ver rides inside the vecs rows,
    // so a probe racing a refresh sees (old codebook, old cells) or
    // (new codebook, new cells), never a mix, pinned or not.
    // readOrEmpty, not read: a root whose ingest has started but not
    // yet accepted a vector (all batches filtered/duplicate/empty)
    // must answer with zero neighbors, not throw.
    val cbVer = if (hasData) currentCbVer(spark, root, asOf) else None
    val cent = readOrEmpty(spark, codebookRoot(root), StructType(Seq(
        StructField("cid", LongType),
        StructField("cemb", ArrayType(DoubleType)))), asOf = cbVer)
      .select("cid", "cemb")
    val q = queries.select(col("qid"), col("embedding").as("qemb"))
    val qcells = q.crossJoin(broadcast(cent))
      .select(col("qid"), col("cid"),
              round(expr("cosine_sim(qemb, cemb)"), 6).as("cs"))
      .groupBy("qid")
      .agg(expr(s"topk_by_score(cs, cid, $nprobe)").as("t"))
      .select(col("qid"), explode(col("t")).as("p"))
      .select(col("qid"), col("p.id").as("cell_id"))
    val vecs =
      if (!pruneByStats || !hasData)
        readOrEmpty(spark, vecsRoot(root), vecsSchema, asOf)
      else {
        // A degenerate/zero-norm query embedding yields null cosines
        // and can surface a null cell id from topk_by_score; the
        // unpruned path tolerates it (the join just matches nothing),
        // so the pruned path must too — drop nulls before getLong.
        val probed = qcells.select("cell_id")
          .filter(col("cell_id").isNotNull).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        if (probed.isEmpty) emptyFrame(spark, vecsSchema)
        else probed.map(c => LakeTable.readRange(spark, vecsRoot(root),
            Seq(("cell_id", c.toString, c.toString)), asOf)
            .select("vec_id", "embedding", "cell_id"))
          .reduce(_ unionByName _)
      }
    q.join(qcells, "qid")
      .join(vecs, "cell_id")
      .select(col("qid"), col("vec_id"),
              round(expr("cosine_sim(qemb, embedding)"), 6).as("cos_sim"))
      .groupBy("qid")
      .agg(expr(s"topk_by_score(cos_sim, vec_id, $k)").as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("neighbor_id"),
              col("col.score").as("cos_sim"), (col("pos") + 1).as("rk"))
  }
}
