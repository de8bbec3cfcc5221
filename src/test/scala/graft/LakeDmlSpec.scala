package graft

import java.nio.file.Files

import graft.engine.{LakeDml, LakeTable}

import org.apache.spark.sql.functions._

/** Pins the SURGICAL half of the round-16 DML keys — the oracle
  * proves the post-DML content; this suite proves how little was
  * touched to get there, plus the contracts the content hash cannot
  * see: clean directories survive BY REFERENCE (same directory
  * names), bloom sidecars prune directories that provably lack the
  * keys (and never prune ones that have them — no false negatives),
  * SQL NULL delete semantics, pre-DML time travel, txn idempotence
  * under re-delivery, and vacuum reclaiming sidecars with their
  * directories.
  */
class LakeDmlSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_dml_$tag").toString

  /** Two stats-carrying directories: keys [0,9] and [100,109]. */
  private def twoDirTable(root: String): Unit = {
    LakeTable.append(
      (0L to 9L).map(k => (k, s"v$k")).toDF("k", "v") unionByName
        (100L to 109L).map(k => (k, s"v$k")).toDF("k", "v"), root)
    LakeTable.rewriteClustered(LakeTable.read(spark, root), root, "k", 2)
  }

  test("deleteWhere rewrites only dirty directories; clean ones survive by reference") {
    val root = freshRoot("cow")
    twoDirTable(root)
    val before = LakeTable.activeDirs(spark, root)
    assert(before.size == 2)
    val rep = LakeDml.deleteWhere(spark, root,
      col("k") % 2 === 0 && col("k") < 50,
      prunePreds = Seq(("k", "0", "49")))
    // the high directory was pruned from the scan entirely…
    assert(rep.candidateDirs == 1 && rep.activeDirs == 2)
    // …and the low one was rewritten; exactly 5 rows died
    assert(rep.rewrittenDirs == 1 && rep.removedDirs == 1)
    assert(rep.rowsDeleted == 5)
    val after = LakeTable.activeDirs(spark, root)
    // the untouched directory is the SAME directory, not a copy
    assert(after.contains(before(1)))
    assert(!after.contains(before(0)))
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq ==
      (Seq(1L, 3L, 5L, 7L, 9L) ++ (100L to 109L)))
    // pre-delete snapshot still time-travels
    assert(LakeTable.read(spark, root, Some(rep.version.get - 1))
      .count() == 20)
  }

  test("stats false positive: a candidate with no matching rows is NOT rewritten") {
    val root = freshRoot("fp")
    twoDirTable(root)
    val before = LakeTable.activeDirs(spark, root)
    // hint range covers the low dir, but the predicate matches nothing
    val rep = LakeDml.deleteWhere(spark, root,
      col("k") === 42L, prunePreds = Seq(("k", "0", "49")))
    assert(rep.candidateDirs == 1 && rep.rewrittenDirs == 0 &&
           rep.rowsDeleted == 0)
    assert(rep.version.isEmpty, "a no-op delete must not commit")
    assert(LakeTable.activeDirs(spark, root) == before)
  }

  test("DELETE null semantics: NULL-predicate rows survive (SQL WHERE, not !filter)") {
    val root = freshRoot("nulls")
    LakeTable.append(
      Seq((1L, Some("a")), (2L, None), (3L, Some("x")))
        .toDF("k", "v"), root)
    val rep = LakeDml.deleteWhere(spark, root, col("v") === "a")
    assert(rep.rowsDeleted == 1)
    // row 2's predicate is NULL — deleted iff TRUE, so it survives
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("a fully-deleted directory is removed without a replacement") {
    val root = freshRoot("empty")
    twoDirTable(root)
    val rep = LakeDml.deleteWhere(spark, root, col("k") < 50,
      prunePreds = Seq(("k", "0", "49")))
    assert(rep.rowsDeleted == 10 && rep.removedDirs == 1 &&
           rep.rewrittenDirs == 0)
    assert(LakeTable.activeDirs(spark, root).size == 1)
    assert(LakeTable.read(spark, root).count() == 10)
  }

  test("bloom sidecars prune clean directories and never prune dirty ones") {
    val root = freshRoot("bloom")
    // four hash-scattered batches: every directory spans the whole
    // key range, so [min, max] stats are blind — only membership
    // can tell the directories apart
    val all = (0L until 400L).map(k => (k, s"v$k"))
    for (b <- 0 until 4)
      LakeDml.appendWithBloom(
        all.filter(_._1 % 4 == b).toDF("k", "v"), root, "k")
    assert(LakeTable.activeDirs(spark, root).size == 4)
    // keys from batch 2 only (k % 4 == 2)
    val rep = LakeDml.deleteByKeys(spark, root, "k",
      Seq(2L, 102L, 202L, 302L))
    assert(rep.rowsDeleted == 4, "no false negatives: every key found")
    assert(rep.candidateDirs < rep.activeDirs,
      s"bloom must prune some of the 4 directories " +
        s"(candidates=${rep.candidateDirs})")
    assert(rep.rewrittenDirs == 1,
      "only the directory holding the keys is rewritten")
    assert(LakeTable.read(spark, root).count() == 396)
    // the rewritten directory got a fresh sidecar: a second delete
    // against the new layout still prunes and still finds its keys
    val rep2 = LakeDml.deleteByKeys(spark, root, "k", Seq(6L, 106L))
    assert(rep2.rowsDeleted == 2 && rep2.candidateDirs < rep2.activeDirs)
  }

  test("merge rewrites only directories holding matched keys; inserts land as one new dir") {
    val root = freshRoot("merge")
    twoDirTable(root)
    val before = LakeTable.activeDirs(spark, root)
    val updates = Seq((3L, "UP"), (7L, "UP"), (500L, "NEW"))
      .toDF("k", "v")
    val rep = LakeDml.mergeInto(spark, root, updates, "k")
    assert(rep.rewrittenDirs == 1 && rep.removedDirs == 1 &&
           rep.rowsInserted == 1)
    val after = LakeTable.activeDirs(spark, root)
    assert(after.contains(before(1)), "the high dir survives by reference")
    val rows = LakeTable.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(rows(3L) == "UP" && rows(7L) == "UP" && rows(500L) == "NEW")
    assert(rows(1L) == "v1" && rows(100L) == "v100")
    assert(rows.size == 21)
  }

  test("merge insert-only: no dirty directories, one insert directory, one commit") {
    val root = freshRoot("insonly")
    twoDirTable(root)
    val rep = LakeDml.mergeInto(spark, root,
      Seq((700L, "NEW")).toDF("k", "v"), "k")
    assert(rep.rewrittenDirs == 0 && rep.removedDirs == 0 &&
           rep.rowsInserted == 1)
    assert(LakeTable.read(spark, root).count() == 21)
  }

  test("txn tokens make DML re-delivery a no-op") {
    val root = freshRoot("txn")
    twoDirTable(root)
    val rep = LakeDml.deleteWhere(spark, root, col("k") === 3L,
      txn = Some(("app", 7L)))
    assert(rep.rowsDeleted == 1 && rep.version.nonEmpty)
    val v = LakeTable.latestVersion(spark, root)
    // re-delivery: same (appId, batchId) — nothing happens
    val rep2 = LakeDml.deleteWhere(spark, root, col("k") === 5L,
      txn = Some(("app", 7L)))
    assert(rep2.version.isEmpty)
    assert(LakeTable.latestVersion(spark, root) == v)
    assert(LakeTable.read(spark, root).filter(col("k") === 5L).count() == 1)
    // a LATER batch under the same app proceeds
    val rep3 = LakeDml.mergeInto(spark, root,
      Seq((5L, "UP")).toDF("k", "v"), "k", txn = Some(("app", 8L)))
    assert(rep3.version.nonEmpty)
  }

  test("vacuum reclaims a removed directory's bloom sidecars") {
    val root = freshRoot("vac")
    LakeDml.appendWithBloom(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "k")
    val dir0 = LakeTable.activeDirs(spark, root).head
    val side0 = LakeDml.bloomPath(root, dir0, "k")
    val fs = side0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(side0))
    val rep = LakeDml.deleteByKeys(spark, root, "k", Seq(1L))
    assert(rep.rowsDeleted == 1)
    LakeTable.vacuum(spark, root, rep.version.get)
    assert(!fs.exists(side0), "vacuumed directory's sidecar must go with it")
    // the live replacement's sidecar survives and still prunes
    val dir1 = LakeTable.activeDirs(spark, root).head
    assert(fs.exists(LakeDml.bloomPath(root, dir1, "k")))
  }

  test("MOR delete: O(1) tombstone commit, no data directory touched; readMor subtracts") {
    val root = freshRoot("mor")
    twoDirTable(root)
    val before = LakeTable.activeDirs(spark, root)
    val v = LakeDml.deleteByKeysMor(spark, root, "k",
      Seq(3L, 103L).toDF("k"))
    assert(v.nonEmpty)
    // data directories untouched — the tombstone is its own file
    assert(LakeTable.activeDirs(spark, root) == before)
    assert(LakeDml.readMor(spark, root).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L to 9L) ++ (100L to 109L)).filterNot(Set(3L, 103L)))
    // the plain read deliberately does NOT see tombstones
    assert(LakeTable.read(spark, root).count() == 20)
    // time travel: the pre-delete MOR view still has the rows
    assert(LakeDml.readMor(spark, root, Some(v.get - 1)).count() == 20)
  }

  test("MOR tombstones mask re-inserted keys until applied (forget outlives the row)") {
    val root = freshRoot("mormask")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    LakeDml.deleteByKeysMor(spark, root, "k", Seq(2L).toDF("k"))
    LakeTable.append(Seq((2L, "b2")).toDF("k", "v"), root)
    // the ban outlives the row: the re-inserted key stays invisible
    assert(LakeDml.readMor(spark, root).select("k").as[Long]
      .collect().toSeq == Seq(1L))
    // applying deletes materializes the ban and lifts it
    LakeDml.applyDeletes(spark, root)
    assert(LakeDml.readMor(spark, root).count() == 1)
    LakeTable.append(Seq((2L, "b3")).toDF("k", "v"), root)
    assert(LakeDml.readMor(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("applyDeletes: bloom-pruned compaction; readMor == read after; vacuum reclaims applied tombstones") {
    val root = freshRoot("morapply")
    val all = (0L until 400L).map(k => (k, s"v$k"))
    for (b <- 0 until 4)
      LakeDml.appendWithBloom(
        all.filter(_._1 % 4 == b).toDF("k", "v"), root, "k")
    LakeDml.deleteByKeysMor(spark, root, "k",
      Seq(2L, 102L, 202L).toDF("k"))
    val rep = LakeDml.applyDeletes(spark, root)
    assert(rep.rowsDeleted == 3)
    assert(rep.candidateDirs < rep.activeDirs,
      "bloom must prune directories without the doomed keys")
    assert(rep.rewrittenDirs == 1)
    assert(LakeDml.readMor(spark, root).count() == 397)
    assert(LakeTable.read(spark, root).count() == 397,
      "after apply, the plain read agrees — tombstones cleared")
    // a second apply is a no-op (no live tombstones)
    val rep2 = LakeDml.applyDeletes(spark, root)
    assert(rep2.version.isEmpty && rep2.rewrittenDirs == 0)
    // vacuum at the apply version reclaims the applied tombstone file
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reclaimed = LakeTable.vacuum(spark, root, rep.version.get)
    assert(reclaimed.exists(_.startsWith("eqdel-")),
      s"applied tombstone must be reclaimable, got $reclaimed")
  }

  test("vacuum never reclaims a LIVE tombstone (deleted rows must not resurrect)") {
    val root = freshRoot("morvac")
    twoDirTable(root)
    val v = LakeDml.deleteByKeysMor(spark, root, "k", Seq(5L).toDF("k"))
    val reclaimed = LakeTable.vacuum(spark, root, v.get)
    assert(!reclaimed.exists(_.startsWith("eqdel-")),
      "live tombstone reclaimed — rows would resurrect")
    assert(LakeDml.readMor(spark, root).count() == 19)
  }

  test("MOR tombstone state survives a log checkpoint") {
    val root = freshRoot("morckpt")
    twoDirTable(root)
    LakeDml.deleteByKeysMor(spark, root, "k", Seq(7L).toDF("k"))
    LakeTable.checkpoint(spark, root)
    LakeTable.pruneLog(spark, root)
    // the folded checkpoint must carry the live tombstone
    assert(LakeDml.readMor(spark, root).count() == 19)
  }

  test("updateWhere: NULL rows untouched, row count preserved, only dirty dirs rewritten") {
    val root = freshRoot("upd")
    // low dir: k 0..9 (k=0 carries a NULL v; 1..4 'a'; 5..9 'b');
    // high dir: k 100..109, all 'a' — outside the predicate's range
    val low = (0L to 9L).map(k =>
      (k, if (k == 0L) None
          else if (k <= 4L) Some("a") else Some("b"), k * 10L))
    val high = (100L to 109L).map(k => (k, Some("a"), k))
    LakeTable.append((low ++ high).toDF("k", "v", "n"), root)
    LakeTable.rewriteClustered(LakeTable.read(spark, root), root, "k", 2)
    val before = LakeTable.activeDirs(spark, root)
    // the hint is IMPLIED by the predicate (the rangeDirs contract)
    val rep = LakeDml.updateWhere(spark, root,
      col("v") === "a" && col("k") < 50,
      Map("v" -> lit("Z"), "n" -> (col("n") * 2)),
      prunePreds = Seq(("k", "0", "49")))
    assert(rep.rowsUpdated == 4 && rep.rowsDeleted == 0)
    assert(rep.candidateDirs == 1 && rep.rewrittenDirs == 1,
      "the high directory must be pruned and untouched")
    assert(LakeTable.activeDirs(spark, root).contains(before(1)))
    val rows = LakeTable.read(spark, root)
      .as[(Long, Option[String], Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert((1L to 4L).forall(k => rows(k) == ((Some("Z"), k * 20L))),
      s"updated rows wrong: $rows")
    assert(rows(0L) == ((None, 0L)), "NULL-predicate row must not update")
    assert(rows(5L) == ((Some("b"), 50L)), "non-matching row must not update")
    assert(rows(100L) == ((Some("a"), 100L)), "pruned row must not update")
    assert(rows.size == 20, "UPDATE must preserve row count")
  }

  test("DML on a schema-evolved table: per-directory schemas survive the rewrite") {
    val root = freshRoot("evolve")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // additive evolution: a later append carries an extra column
    LakeTable.append(Seq((3L, "c", 30L), (4L, "d", 40L))
      .toDF("k", "v", "extra"), root)
    assert(LakeTable.read(spark, root).columns.toSeq ==
      Seq("k", "v", "extra"))
    // delete one row from EACH schema generation
    val rep = LakeDml.deleteWhere(spark, root,
      col("k") === 1L || col("k") === 4L)
    assert(rep.rowsDeleted == 2 && rep.rewrittenDirs == 2)
    val out = LakeTable.read(spark, root).orderBy("k")
    assert(out.columns.toSeq == Seq("k", "v", "extra"),
      "the additive-union read must survive the rewrite")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1),
       if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq == Seq((2L, "b", None), (3L, "c", Some(30L))),
      s"got ${rows.toSeq}")
  }

  test("file-grain stats survive a copy-on-write delete (z-order pruning must not rot)") {
    val root = freshRoot("fstats")
    LakeTable.append(
      (0L until 200L).map(k => (k, k % 37, s"v$k")).toDF("a", "b", "v"),
      root)
    LakeTable.rewriteClusteredN(LakeTable.read(spark, root), root,
      Seq("a", "b"), buckets = 2, filesPerDir = 2)
    def fileStatDirs = graft.engine.LakeTable
      .replayState(spark, root, None).fileStats.keySet
    val activeBefore = LakeTable.activeDirs(spark, root).toSet
    assert(activeBefore.subsetOf(fileStatDirs),
      "precondition: the clustered layout records per-file stats")
    val rep = LakeDml.deleteWhere(spark, root, col("a") < 10,
      prunePreds = Seq(("a", "0", "9")))
    assert(rep.rowsDeleted == 10 && rep.rewrittenDirs >= 1)
    // every rewritten directory carries per-file stats again
    val activeAfter = LakeTable.activeDirs(spark, root).toSet
    assert(activeAfter.subsetOf(fileStatDirs),
      s"rewritten dirs lost file stats: ${activeAfter -- fileStatDirs}")
    // and file-grain pruning still works through the new layout
    val (whole, files) = LakeTable.rangeFiles(spark, root,
      Seq(("a", "50", "60")))
    assert(whole.isEmpty && files.nonEmpty,
      "post-delete reads must still prune at file grain")
  }

  test("concurrent writers: conflict-retry converges with no lost deletes, no orphans") {
    val root = freshRoot("race")
    LakeTable.append(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v"), root)
    def retrying(cond: org.apache.spark.sql.Column): Unit = {
      var done = false
      while (!done) {
        try { LakeDml.deleteWhere(spark, root, cond); done = true }
        catch { case _: LakeTable.CommitConflictException => () }
      }
    }
    val t1 = new Thread(() => retrying(col("k") === 11L))
    val t2 = new Thread(() => retrying(col("k") === 77L))
    t1.start(); t2.start(); t1.join(30000); t2.join(30000)
    val ks = LakeTable.read(spark, root).select("k").as[Long]
      .collect().toSet
    assert(!ks.contains(11L) && !ks.contains(77L) && ks.size == 98,
      "both deletes must land under optimistic retry")
    // no orphan data directories: everything on disk is referenced
    // by some committed version (conflict losers must clean up)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("data-")).toSet
    val referenced = LakeTable.versions(spark, root)
      .flatMap(v => LakeTable.activeDirs(spark, root, Some(v))).toSet
    assert(onDisk == referenced,
      s"orphans on disk: ${onDisk -- referenced}")
  }

  test("bloomAll backfills sidecars idempotently") {
    val root = freshRoot("backfill")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), root)
    LakeTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(LakeDml.bloomAll(spark, root, "k") == 2)
    assert(LakeDml.bloomAll(spark, root, "k") == 0, "second pass: nothing to do")
  }

  test("readMorWhere prunes the data-side scan and still subtracts tombstones") {
    val root = freshRoot("morwhere")
    twoDirTable(root) // stats-carrying dirs: keys [0,9] and [100,109]
    // tombstone keys in BOTH ranges — the subtraction must not be
    // affected by data-side pruning
    LakeDml.deleteByKeysMor(spark, root, "k",
      Seq(3L, 103L).toDF("k"))
    val pruned = LakeDml.readMorWhere(spark, root, col("k") < 50L)
    val full = LakeDml.readMor(spark, root).where(col("k") < 50L)
    assert(pruned.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
    assert(pruned.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (0L to 9L).filterNot(_ == 3L))
    // the data-side scan read strictly fewer files (one directory of
    // two; tombstone files ride along but the high-key dir is gone)
    val scannedData = pruned.inputFiles.filterNot(_.contains("eqdel")).toSet
    val fullData = full.inputFiles.filterNot(_.contains("eqdel")).toSet
    assert(scannedData.subsetOf(fullData) && scannedData.size < fullData.size,
      s"pruned scan should read fewer data files: ${scannedData.size} vs ${fullData.size}")
    // a predicate that derives nothing still answers correctly
    val nd = LakeDml.readMorWhere(spark, root, col("k") % 2L === 0L)
    assert(nd.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(0L, 2L, 4L, 6L, 8L, 100L, 102L, 104L, 106L, 108L))
  }

  test("readMorWhere skips tombstone files wholly outside the key interval") {
    val root = freshRoot("morkeyprune")
    twoDirTable(root) // keys [0,9] and [100,109]
    // two tombstone files with DISJOINT recorded key ranges
    LakeDml.deleteByKeysMor(spark, root, "k", Seq(3L, 5L).toDF("k"))
    LakeDml.deleteByKeysMor(spark, root, "k", Seq(103L, 105L).toDF("k"))
    val pruned = LakeDml.readMorWhere(spark, root, col("k") < 50L)
    // full-subtraction correctness control: identical rows either way
    val full = LakeDml.readMor(spark, root).where(col("k") < 50L)
    assert(pruned.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
    assert(pruned.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      (0L to 9L).filterNot(Seq(3L, 5L).contains))
    // delete-file scan is a STRICT subset of the live tombstones: the
    // [103, 105] file cannot intersect k < 50 and is skipped
    val delScanned = pruned.inputFiles.filter(_.contains("eqdel")).toSet
    val delFull = full.inputFiles.filter(_.contains("eqdel")).toSet
    assert(delFull.size == 2 || delFull.size > delScanned.size)
    assert(delScanned.nonEmpty && delScanned.size < delFull.size,
      s"expected fewer delete files scanned: ${delScanned.size} vs ${delFull.size}")
    // masking tombstones inside the interval are NEVER skipped, and a
    // read whose interval covers both ranges scans both
    val wide = LakeDml.readMorWhere(spark, root, col("k") >= 0L)
    assert(wide.inputFiles.count(_.contains("eqdel")) >= delFull.size)
    assert(wide.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      ((0L to 9L) ++ (100L to 109L)).filterNot(
        Seq(3L, 5L, 103L, 105L).contains))
    // a fully-pruned key group drops its anti-join: only data files
    val none = LakeDml.readMorWhere(spark, root,
      col("k") >= 20L && col("k") < 90L)
    assert(none.inputFiles.forall(!_.contains("eqdel")))
    assert(none.count() == 0L)
    // tombstone ranges survive a checkpoint round-trip
    LakeTable.checkpoint(spark, root)
    val cp = LakeDml.readMorWhere(spark, root, col("k") < 50L)
    assert(cp.inputFiles.count(_.contains("eqdel")) == delScanned.size)
    assert(cp.orderBy("k").collect().toSeq ==
      pruned.orderBy("k").collect().toSeq)
  }

  test("readMorWhere prunes at FILE grain inside z-layout directories") {
    val root = freshRoot("morfiles")
    // v tracks k, so the z-order on (k, v) is monotone in k and the
    // per-file [min, max] ranges are contiguous — deterministic grain
    LakeTable.append((0L to 199L).map(k => (k, k)).toDF("k", "v"), root)
    // 2 directories × 4 files, per-file [min, max] on (k, v) in the log
    LakeTable.rewriteClusteredN(LakeTable.read(spark, root), root,
      Seq("k", "v"), 2, filesPerDir = 4)
    LakeDml.deleteByKeysMor(spark, root, "k", Seq(10L, 150L).toDF("k"))
    val tight = LakeDml.readMorWhere(spark, root,
      col("k") >= 0L && col("k") < 20L)
    assert(tight.as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      ((0L to 19L).filterNot(_ == 10L)))
    val tightFiles = tight.inputFiles.filterNot(_.contains("eqdel")).toSet
    val allFiles = LakeDml.readMor(spark, root)
      .inputFiles.filterNot(_.contains("eqdel")).toSet
    assert(tightFiles.size < allFiles.size / 2,
      s"file-grain pruning should beat directory grain: " +
        s"${tightFiles.size} of ${allFiles.size}")
  }

  test("derivePrunePreds: DATE literals, OR-of-ranges, and the non-derivable shapes") {
    def derive(cond: String): Seq[LakeDml.DerivedPred] =
      LakeDml.derivePrunePreds(
        spark.sessionState.sqlParser.parseExpression(cond))
    // DATE literal → ISO string-kind interval, temporal-guarded
    assert(derive("d < DATE '1996-01-01'") ==
      Seq(LakeDml.DerivedPred("d", None, Some("1996-01-01"),
        numeric = false, tsGuard = true)))
    assert(derive("d = DATE '2020-02-29'") ==
      Seq(LakeDml.DerivedPred("d", Some("2020-02-29"), Some("2020-02-29"),
        numeric = false, tsGuard = true)))
    // TIMESTAMP literals render through Spark's own cast-to-string
    // (identical to the stats writer's rendering), temporal-guarded
    assert(derive("ts < TIMESTAMP '1996-01-01 00:00:00'") ==
      Seq(LakeDml.DerivedPred("ts", None, Some("1996-01-01 00:00:00"),
        numeric = false, tsGuard = true)))
    assert(derive("ts >= TIMESTAMP_NTZ '1996-06-15 12:30:45.5'") ==
      Seq(LakeDml.DerivedPred("ts", Some("1996-06-15 12:30:45.5"), None,
        numeric = false, tsGuard = true)))
    // exotic years render outside the 4-digit form — derive nothing
    // (lexicographic order is not chronological there)
    val y10kMicros = java.time.LocalDateTime.of(10000, 1, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    val exotic = org.apache.spark.sql.catalyst.expressions.LessThan(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("ts"),
      org.apache.spark.sql.catalyst.expressions.Literal(
        y10kMicros, org.apache.spark.sql.types.TimestampNTZType))
    assert(LakeDml.derivePrunePreds(exotic).isEmpty)
    // OR of bounded ranges → the union interval
    assert(derive("(k >= 10 AND k <= 20) OR (k >= 90 AND k <= 95)") ==
      Seq(LakeDml.DerivedPred("k", Some("10"), Some("95"), numeric = true)))
    // OR of equalities unions too; numeric ordering, not lexicographic
    assert(derive("k = 9 OR k = 25") ==
      Seq(LakeDml.DerivedPred("k", Some("9"), Some("25"), numeric = true)))
    // one-sided OR branches derive nothing (the union is unbounded)
    assert(derive("k < 5 OR k > 10").isEmpty)
    // different columns per branch derive nothing
    assert(derive("a = 1 OR b = 2").isEmpty)
    // a derivable conjunct NEXT TO an OR still derives
    assert(derive("s = 'x' AND (k BETWEEN 1 AND 3 OR k BETWEEN 7 AND 9)")
      .toSet == Set(
        LakeDml.DerivedPred("s", Some("x"), Some("x"), numeric = false),
        LakeDml.DerivedPred("k", Some("1"), Some("9"), numeric = true)))
  }

  test("derivePrunePreds: a user function SHADOWING an operator name derives nothing") {
    def derive(cond: String): Seq[LakeDml.DerivedPred] =
      LakeDml.derivePrunePreds(
        spark.sessionState.sqlParser.parseExpression(cond))
    // backtick-callable UDF named 'between' with NON-between semantics:
    // unwrapping it to the operator would derive a prune interval the
    // UDF does not honor (r17 ADVICE low) — it must stay opaque
    spark.udf.register("between",
      (k: Long, a: Long, b: Long) => k > a + b)
    try {
      assert(derive("`between`(k, 1, 3)").isEmpty,
        "a shadowed operator name must not unwrap")
      // unshadowed operators in the SAME condition still derive
      assert(derive("`between`(k, 1, 3) AND j >= 5") ==
        Seq(LakeDml.DerivedPred("j", Some("5"), None, numeric = true)))
    } finally {
      // RESTORE the builtin binding rather than drop the name:
      // `between` IS a Spark 4 builtin, the session registry is a
      // clone of the builtin layer, and udf.register overrode the
      // clone's entry — dropFunction would remove the name from the
      // session entirely (no fallback to system.builtin), so every
      // later real BETWEEN in this shared session failed to resolve
      // (bit SqlDmlSpec whenever this suite ran first in the JVM)
      import org.apache.spark.sql.catalyst.FunctionIdentifier
      import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      val fi = FunctionIdentifier("between")
      spark.sessionState.functionRegistry.dropFunction(fi)
      for {
        info <- FunctionRegistry.builtin.lookupFunction(fi)
        builder <- FunctionRegistry.builtin.lookupFunctionBuilder(fi)
      } spark.sessionState.functionRegistry.registerFunction(
        fi, info, builder)
    }
    // with the shadow dropped, the parser-emitted conjuncts derive
    // again (BETWEEN splits to two one-sided bounds at the top level)
    assert(derive("k BETWEEN 1 AND 3").toSet == Set(
      LakeDml.DerivedPred("k", Some("1"), None, numeric = true),
      LakeDml.DerivedPred("k", None, Some("3"), numeric = true)))
  }
}
