package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Ingest, LakeTable}
import graft.engine.Ingest.IngestMaintenance

/** The ingest maintenance policy (VERDICT r14 #2): every N batches
  * the ingest lake tables get compact → checkpoint → vacuum →
  * pruneLog → pruneCheckpoints, so data directories, commit JSONs,
  * and checkpoint files stay O(N) however many batches ever ran —
  * while every read and every verdict stays EXACTLY what the
  * unmaintained run produces. The long schedule runs 50 batches
  * (data-bearing and empty mixed — the log grows per COMMIT, which
  * is precisely what the policy bounds) with maintenance every 8.
  */
class IngestMaintenanceSpec extends SparkTestBase {

  private def docs(): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def rowsOf(root: String): Set[Seq[Any]] =
    Ingest.readOrEmpty(spark, root,
        new org.apache.spark.sql.types.StructType().add("doc_id", "long"))
      .collect().map(_.toSeq).toSet

  /** Files the maintenance exists to bound, per table root:
    * (commit JSONs, checkpoint files, active data directories). */
  private def footprint(root: String): (Int, Int, Int) = {
    val dir = new java.io.File(s"$root/_graft_log")
    // skip Hadoop's hidden .crc siblings — they track the visible
    // files 1:1 and would double every count
    val names =
      if (dir.isDirectory)
        dir.listFiles().map(_.getName).toSeq.filterNot(_.startsWith("."))
      else Nil
    (names.count(n => n.endsWith(".json") && !n.contains("checkpoint")),
     names.count(_.contains("checkpoint")),
     LakeTable.activeDirs(spark, root).size)
  }

  test("50-batch ingest with maintenance every 8: file counts stay bounded, content stays exact, late re-delivery still no-ops") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_policy").toString
    val all = docs().localCheckpoint()
    val policy = IngestMaintenance(everyBatches = 8, keepCheckpoints = 2)
    // Batch b carries data iff b % 5 == 0 (10 data batches cover all
    // docs via doc_id % 10 == b/5); the other 40 are empty — real
    // streams idle, and the empty path still commits its 4 txn
    // markers per batch, which is exactly the log growth at stake.
    def batchOf(b: Int): DataFrame =
      if (b % 5 == 0) all.filter(col("doc_id") % 10 === b / 5)
      else all.filter(lit(false))
    val mx = s"$base/mx"
    val ref = s"$base/ref"
    for (b <- 0 until 50) {
      Ingest.ingestBatch(batchOf(b), mx, "t", b.toLong,
        maintenance = Some(policy))
      Ingest.ingestBatch(batchOf(b), ref, "t", b.toLong)
    }
    val subs = Seq(Ingest.docsRoot _, Ingest.bandsRoot _,
                   Ingest.rejectsRoot _, Ingest.filteredRoot _)
    // 1. bounded: since the last maintenance fires at batch 47, at
    // most everyBatches-1 commits (plus the checkpointed one) can
    // have accumulated on top of the compacted state.
    for (sub <- subs) {
      val (jsons, cps, dirs) = footprint(sub(mx))
      assert(jsons <= policy.everyBatches + 1,
        s"${sub(mx)}: $jsons commit JSONs — log not bounded")
      assert(cps <= policy.keepCheckpoints,
        s"${sub(mx)}: $cps checkpoints — retention not bounded")
      assert(dirs <= policy.everyBatches + 1,
        s"${sub(mx)}: $dirs active data dirs — compaction not bounded")
      // and the policy genuinely did something: the unmaintained twin
      // carries one commit JSON per batch
      val (refJsons, _, _) = footprint(sub(ref))
      assert(refJsons == 50,
        s"${sub(ref)}: expected 50 unmaintained commits, got $refJsons")
    }
    // 2. exact: every table's content equals the unmaintained run's.
    for (sub <- subs) {
      val (m, r) = (rowsOf(sub(mx)), rowsOf(sub(ref)))
      assert(m == r, s"maintained run diverged at ${sub(mx)}: " +
        s"mx-only=${(m -- r).take(3)}, ref-only=${(r -- m).take(3)}")
    }
    // 3. the txn map survived six maintenance passes: a pathologically
    // late re-delivery of the FIRST data batch must no-op even though
    // its commit JSONs are long pruned.
    val before = subs.map(sub => rowsOf(sub(mx)))
    Ingest.ingestBatch(batchOf(0), mx, "t", 0L,
      maintenance = Some(policy))
    assert(subs.map(sub => rowsOf(sub(mx))) == before,
      "late re-delivery of a pruned batch changed table content")
  }

  test("embedding leg: maintenance bounds the vector tables and preserves verdicts") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_eingest_policy").toString
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val policy = IngestMaintenance(everyBatches = 4, keepCheckpoints = 1)
    def batchOf(b: Int): DataFrame = all.filter(col("vec_id") % 12 === b)
    val mx = s"$base/mx"
    val ref = s"$base/ref"
    for (b <- 0 until 12) {
      Ingest.ingestEmbBatch(batchOf(b), mx, "t", b.toLong,
        maintenance = Some(policy))
      Ingest.ingestEmbBatch(batchOf(b), ref, "t", b.toLong)
    }
    val subs = Seq(Ingest.vecsRoot _, Ingest.vrejectsRoot _,
                   Ingest.vfilteredRoot _, Ingest.codebookRoot _)
    for (sub <- subs) {
      val (jsons, cps, dirs) = footprint(sub(mx))
      assert(jsons <= policy.everyBatches + 1,
        s"${sub(mx)}: $jsons commit JSONs — log not bounded")
      assert(cps <= policy.keepCheckpoints,
        s"${sub(mx)}: $cps checkpoints")
      // the vecs table compacts CLUSTERED into clusterBuckets range
      // directories (the serving layout) — still O(policy), just a
      // different constant than the single-dir plain compaction
      val dirBound =
        if (sub(mx) == Ingest.vecsRoot(mx))
          policy.clusterBuckets + policy.everyBatches
        else policy.everyBatches + 1
      assert(dirs <= dirBound,
        s"${sub(mx)}: $dirs active data dirs (bound $dirBound)")
      val (m, r) = (rowsOf(sub(mx)), rowsOf(sub(ref)))
      assert(m == r, s"maintained emb run diverged at ${sub(mx)}")
    }
    // The compaction CLUSTERED the vecs table on cell_id with logged
    // [min, max] stats — the serving layout: a single-cell
    // stats-pruned read opens strictly fewer files than the full
    // table, and the pruned probe path answers IDENTICALLY to the
    // plain join path.
    val vroot = Ingest.vecsRoot(mx)
    val someCell = LakeTable.read(spark, vroot)
      .select("cell_id").limit(1).collect()(0).getLong(0)
    val prunedFiles = LakeTable.readRange(spark, vroot,
      Seq(("cell_id", someCell.toString, someCell.toString)))
      .inputFiles.length
    val allFiles = LakeTable.read(spark, vroot).inputFiles.length
    assert(prunedFiles < allFiles,
      s"single-cell read opened $prunedFiles of $allFiles files — " +
        "clustered compaction produced no stats pruning")
    val q = all.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    def probeRows(prune: Boolean): Set[Seq[Any]] =
      Ingest.knnProbe(spark, mx, q, k = 3, nprobe = 2,
          pruneByStats = prune)
        .collect().map(_.toSeq).toSet
    assert(probeRows(prune = true) == probeRows(prune = false),
      "pruned probe diverged from the plain join path")
  }

  test("codebook refresh: pinned probes never see a mixed index; pruned serving survives the refresh") {
    // The refresh-consistency contract (VERDICT r15 #1): the
    // codebook⇄cells pairing travels INSIDE the vecs rows (cb_ver),
    // so a probe pinned to a pre-refresh vecs snapshot keeps
    // resolving the pre-refresh codebook VERSION — byte-identical
    // answers before and after the refresh commits — while an
    // unpinned probe serves the refreshed index. No ordering of the
    // two refresh commits can produce (new codebook, old cells) or
    // (old codebook, new cells).
    val root = java.nio.file.Files
      .createTempDirectory("graft_refresh_pin").toString
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    for (b <- 0L to 2L)
      Ingest.ingestEmbBatch(all.filter(col("vec_id") % 3 === b),
        root, "t", b, dupCos = 1.0, k = 8)
    val preVecsVer = LakeTable
      .latestVersion(spark, Ingest.vecsRoot(root)).get
    val preCbVer = LakeTable
      .latestVersion(spark, Ingest.codebookRoot(root)).get
    val q = all.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    def probeRows(asOf: Option[Long], prune: Boolean = false)
        : Set[Seq[Any]] =
      Ingest.knnProbe(spark, root, q, k = 3, nprobe = 2, asOf = asOf,
          pruneByStats = prune)
        .collect().map(_.toSeq).toSet
    val prePinned = probeRows(Some(preVecsVer))
    val preLatest = probeRows(None)
    assert(prePinned == preLatest,
      "pinned == latest must hold before any refresh")
    val cv = Ingest.refreshCodebook(spark, root, buckets = 4)
    assert(cv > preCbVer, s"refresh did not advance the codebook: $cv")
    // Pinned probe: identical answers across the refresh — it reads
    // the OLD vecs snapshot AND (via its cb_ver) the OLD codebook.
    assert(probeRows(Some(preVecsVer)) == prePinned,
      "pre-refresh pinned probe changed across the refresh — " +
        "mixed index (new codebook against old cells?)")
    // Unpinned probe: serves the refreshed pairing, same corpus, and
    // the re-clustered layout still answers pruned == plain.
    val post = probeRows(None)
    assert(post.map(_.head).map(_.asInstanceOf[Long]) ==
           prePinned.map(_.head).map(_.asInstanceOf[Long]),
      "refresh changed the query id set")
    assert(probeRows(None, prune = true) == post,
      "post-refresh pruned probe diverged from the plain join path")
    // And the refreshed vecs rows all carry the new codebook version.
    val vers = LakeTable.read(spark, Ingest.vecsRoot(root))
      .select("cb_ver").distinct().collect().map(_.getLong(0)).toSeq
    assert(vers == Seq(cv), s"cb_ver not uniformly $cv: $vers")
  }
}
