package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.engine.LakeTable

import org.apache.spark.sql.functions._

/** Pins the lake table's transactional protocol — the pieces the two
  * oracle keys (lake_time_travel / lake_merge_upsert) exercise but
  * cannot assert directly: the single-winner commit race, log-replay
  * snapshot isolation, the atomic rewrite swap, and vacuum's
  * retained-version safety.
  */
class LakeTableSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_lake_$tag").toString

  test("append / time travel / rewrite replay the log correctly") {
    val root = freshRoot("replay")
    val v0 = LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val v1 = LakeTable.append(Seq((3L, "c")).toDF("k", "v"), root)
    assert((v0, v1) == (0L, 1L))
    assert(LakeTable.read(spark, root).count() == 3)
    assert(LakeTable.read(spark, root, Some(0L)).count() == 2)
    // rewrite atomically swaps the whole file set in one commit
    val v2 = LakeTable.rewrite(
      LakeTable.read(spark, root).filter($"k" =!= 2L), root)
    assert(v2 == 2L)
    assert(LakeTable.activeDirs(spark, root).size == 1,
      "rewrite must leave exactly the new directory active")
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    // old versions still replay
    assert(LakeTable.read(spark, root, Some(1L)).count() == 3)
    // a version that never existed fails loudly
    assertThrows[IllegalArgumentException] {
      LakeTable.read(spark, root, Some(9L))
    }
  }

  test("log checkpoint: reads touch O(1) log files; time travel and txn state unchanged") {
    // VERDICT r12 #6: at 10^5 commits the per-read log walk is the
    // bottleneck — a checkpoint folds commits 0..N into one snapshot
    // file so a read loads 1 checkpoint + only the commits after it.
    val root = freshRoot("ckpt")
    val n = 25
    (0 until n).foreach { i =>
      LakeTable.appendWithStats(
        Seq((i.toLong, f"v$i%03d")).toDF("k", "v"), root, "v")
    }
    // one rewrite + a txn commit so the checkpoint must carry
    // removes, stats, and the txn high-water mark
    LakeTable.rewriteTxn(LakeTable.read(spark, root).filter($"k" =!= 3L),
      root, "ckpt_app", 7L)
    val preRead = LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    val preAsOf10 = LakeTable.read(spark, root, Some(10L)).count()
    val ckptV = LakeTable.checkpoint(spark, root)
    assert(ckptV == n.toLong, s"checkpoint at $ckptV, wanted $n")
    // two more commits after the checkpoint
    LakeTable.appendWithStats(Seq((100L, "z01")).toDF("k", "v"), root, "v")
    LakeTable.appendWithStats(Seq((101L, "z02")).toDF("k", "v"), root, "v")
    LakeTable.logFilesRead.set(0L)
    val got = LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    val touched = LakeTable.logFilesRead.get()
    assert(got == (preRead ++ Seq(100L, 101L)).sorted, s"content drifted: $got")
    // O(1): 1 checkpoint + the 2 post-checkpoint commits + the log
    // listings — NOT the 28 commit files a full replay would open
    assert(touched <= 4, s"read touched $touched log files after checkpoint")
    // time travel to a PRE-checkpoint version still replays exactly
    assert(LakeTable.read(spark, root, Some(10L)).count() == preAsOf10)
    // range pruning works from checkpoint state (stats survived the fold)
    LakeTable.logFilesRead.set(0L)
    // survivors = the 2 stat'd post-checkpoint dirs + the rewrite dir
    // (committed without stats, so it must ALWAYS survive pruning)
    val pruned = LakeTable.rangeDirs(spark, root, Seq(("v", "z01", "z02")))
    assert(LakeTable.logFilesRead.get() <= 4,
      s"rangeDirs touched ${LakeTable.logFilesRead.get()} log files")
    assert(pruned.size == 3 && LakeTable.activeDirs(spark, root).size == 3,
      s"stats lost in checkpoint: $pruned")
    assert(LakeTable.rangeDirs(spark, root, Seq(("v", "z99", "z99"))).size == 1,
      "pre-checkpoint stats must still prune the post-checkpoint dirs")
    // txn high-water mark survived the fold: replaying batch 7 is a no-op
    assert(LakeTable.rewriteTxn(LakeTable.read(spark, root), root,
      "ckpt_app", 7L).isEmpty)
    // maybeCheckpoint: 2 commits since checkpoint < every=10 → no-op,
    // then forced at every=2 → writes at the latest version
    assert(LakeTable.maybeCheckpoint(spark, root, every = 10).isEmpty)
    assert(LakeTable.maybeCheckpoint(spark, root, every = 2)
      .contains(n.toLong + 2))
    // retention: keep=1 drops the older checkpoint; reads (incl. a
    // pre-checkpoint time travel that now has NO usable checkpoint)
    // fall back correctly — commits are the truth
    assert(LakeTable.pruneCheckpoints(spark, root, keep = 1)
      == Seq(n.toLong))
    assert(LakeTable.read(spark, root).count() == got.size)
    assert(LakeTable.read(spark, root, Some(10L)).count() == preAsOf10)
  }

  test("pruneLog: commits below the checkpoint go; reads, stats, and txn marks survive on the fold") {
    val root = freshRoot("logprune")
    (0 until 6).foreach { i =>
      LakeTable.appendWithStats(
        Seq((i.toLong, f"v$i%03d")).toDF("k", "v"), root, "v")
    }
    LakeTable.appendTxn(Seq((100L, "t00")).toDF("k", "v"), root, "pl_app", 3L)
    val cv = LakeTable.checkpoint(spark, root) // version 6
    LakeTable.appendWithStats(Seq((101L, "z01")).toDF("k", "v"), root, "v")
    val expect = ((0L until 6L) ++ Seq(100L, 101L)).sorted
    assert(cv == 6L, s"fixture drifted: checkpoint at $cv")
    val pruned = LakeTable.pruneLog(spark, root)
    assert(pruned == (0L until 6L), s"unexpected prune set $pruned")
    // reads at latest and at the checkpoint version still serve
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == expect)
    assert(LakeTable.read(spark, root, Some(cv)).count() == expect.size - 1)
    // time travel below the checkpoint now fails loudly
    assertThrows[IllegalArgumentException] {
      LakeTable.read(spark, root, Some(2L))
    }
    // the txn high-water mark rode the checkpoint: a re-delivery no-ops
    assert(LakeTable.appendTxn(Seq((999L, "dup")).toDF("k", "v"),
      root, "pl_app", 3L).isEmpty)
    // stats survived: range pruning still cuts to the matching dir
    // (+ the unstat'd txn dir, which must always survive)
    val dirs = LakeTable.rangeDirs(spark, root, Seq(("v", "v003", "v004")))
    assert(dirs.size == 3, s"stats lost after pruneLog: $dirs")
  }

  test("corrupt checkpoint degrades to replay (older checkpoint, then commits) — reads never fail") {
    val root = freshRoot("ckptcorrupt")
    (0 until 5).foreach { i =>
      LakeTable.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), root)
    }
    val cvA = LakeTable.checkpoint(spark, root) // good, version 4
    (5 until 7).foreach { i =>
      LakeTable.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), root)
    }
    val cvB = LakeTable.checkpoint(spark, root) // version 6 — to be torn
    val ckptB = java.nio.file.Paths.get(
      s"$root/_graft_log/" + f"$cvB%010d.checkpoint.json")
    java.nio.file.Files.write(ckptB, "{torn".getBytes("UTF-8"))
    LakeTable.logFilesRead.set(0L)
    assert(LakeTable.read(spark, root).select("k")
      .as[Long].collect().sorted.toSeq == (0L until 7L),
      "read through a torn checkpoint must fall back, not fail")
    // fallback cost: torn B + good A + the 2 commits after A
    assert(LakeTable.logFilesRead.get() <= 4,
      s"fallback touched ${LakeTable.logFilesRead.get()} log files")
    // with EVERY checkpoint torn, the full JSON replay still serves
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$root/_graft_log/" + f"$cvA%010d.checkpoint.json"),
      "{also torn".getBytes("UTF-8"))
    assert(LakeTable.read(spark, root).count() == 7)
  }

  test("commit race: exactly one writer of a version wins") {
    val root = freshRoot("race")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), root)
    // both writers resolved the same snapshot and race version 1
    val c1 = LakeTable.Commit(1L, Seq("data-x"), Seq.empty)
    val c2 = LakeTable.Commit(1L, Seq("data-y"), Seq.empty)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val results = Await.result(
      Future.sequence(Seq(c1, c2).map(c => Future {
        try { LakeTable.writeCommit(spark, root, c); Right(c.adds.head) }
        catch { case e: LakeTable.CommitConflictException => Left(e) }
      })), Duration.Inf).toList
    assert(results.count(_.isRight) == 1,
      s"expected exactly one winner, got $results")
    assert(results.count(_.isLeft) == 1,
      s"expected exactly one CommitConflictException, got $results")
    // the losing writer's re-resolve sees the winner's commit
    assert(LakeTable.latestVersion(spark, root).contains(1L))
  }

  test("vacuum deletes only what no retained version references") {
    val root = freshRoot("vacuum")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), root)
    LakeTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    LakeTable.rewrite(LakeTable.read(spark, root), root) // v2 compaction
    // retaining from v0 keeps everything: v0/v1 still reference the
    // original directories
    assert(LakeTable.vacuum(spark, root, retainFrom = 0L).isEmpty)
    assert(LakeTable.read(spark, root, Some(0L)).count() == 1)
    // retaining only v2 deletes the two pre-compaction directories
    val deleted = LakeTable.vacuum(spark, root, retainFrom = 2L)
    assert(deleted.size == 2, s"expected 2 vacuumed dirs, got $deleted")
    // latest still reads; the vacuumed snapshot is gone — the
    // documented time-travel trade
    assert(LakeTable.read(spark, root).count() == 2)
    assertThrows[Exception] {
      LakeTable.read(spark, root, Some(0L)).count()
    }
  }

  test("appendTxn: re-delivered batches are no-ops; empty batches advance the mark") {
    val root = freshRoot("txn")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(LakeTable.appendTxn(b0, root, "app", 0L).isDefined)
    // a foreachBatch re-delivery after failure: same batchId → no-op
    assert(LakeTable.appendTxn(b0, root, "app", 0L).isEmpty)
    assert(LakeTable.read(spark, root).count() == 2,
      "re-delivered batch duplicated rows")
    // an EMPTY batch still commits, so the high-water mark advances
    // exactly once per batch and a restart never re-asks for it
    assert(LakeTable.appendTxn(b0.limit(0), root, "app", 1L).isDefined)
    assert(LakeTable.lastTxn(spark, root, "app").contains(1L))
    assert(LakeTable.read(spark, root).count() == 2)
    // a different appId has its own txn line
    assert(LakeTable.lastTxn(spark, root, "other").isEmpty)
    assert(LakeTable.appendTxn(Seq((9L, "z")).toDF("k", "v"),
      root, "other", 0L).isDefined)
    assert(LakeTable.read(spark, root).count() == 3)
    // stale batchId below the mark: also a no-op
    assert(LakeTable.appendTxn(b0, root, "app", 0L).isEmpty)
  }

  test("data skipping: range reads prune directories from the log alone") {
    val root = freshRoot("skip")
    // three directories with disjoint key ranges, zero-padded so the
    // lexicographic stat comparison is numeric
    for (lo <- Seq(0, 100, 200)) {
      LakeTable.appendWithStats(
        (lo until lo + 100).map(i => (f"$i%05d", i.toLong)).toDF("k", "v"),
        root, "k")
    }
    assert(LakeTable.activeDirs(spark, root).size == 3)
    // a range inside the middle directory keeps exactly one dir
    val pruned = LakeTable.rangeDirs(spark, root, Seq(("k", "00150", "00160")))
    assert(pruned.size == 1, s"expected 1 surviving dir, got $pruned")
    val got = LakeTable.readRange(spark, root, Seq(("k", "00150", "00160")))
      .count()
    assert(got == 11, s"range read returned $got rows (want 11)")
    // a range spanning two directories keeps two
    assert(LakeTable.rangeDirs(spark, root, Seq(("k", "00090", "00110"))).size == 2)
    // stats are an optimization, never a filter: a dir committed
    // WITHOUT stats always survives pruning
    LakeTable.append(Seq(("99999", 9L)).toDF("k", "v"), root)
    assert(LakeTable.rangeDirs(spark, root, Seq(("k", "00150", "00160"))).size == 2,
      "stats-less directory was skipped — stats must never filter")
    // an empty intersection returns an empty frame with the schema
    val none = LakeTable.readRange(spark, root, Seq(("k", "55500", "55600")))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
  }

  test("appendPartitioned: one commit, one leaf per partition value, all stat'd") {
    val root = freshRoot("part")
    val df = Seq(("a", "00001", 1L), ("a", "00003", 2L),
                 ("b", "00105", 3L), ("c", "00210", 4L))
      .toDF("g", "k", "v")
    val v = LakeTable.appendPartitioned(df, root, "g", "k")
    assert(v == 0L)
    val active = LakeTable.activeDirs(spark, root)
    assert(active.size == 3 && active.forall(_.contains("g=")),
      s"expected one leaf per partition value, got $active")
    // every leaf carries stats: a point range keeps exactly one dir
    assert(LakeTable.rangeDirs(spark, root, Seq(("k", "00105", "00105"))).size == 1)
    // the partition column is directory metadata, not row data
    assert(LakeTable.read(spark, root).columns.toSeq.sorted ==
      Seq("k", "v"))
    assert(LakeTable.read(spark, root).count() == 4)
  }

  test("clustered rewrite makes an unprunable table range-prunable") {
    val root = freshRoot("cluster")
    // two stats-less appends whose key ranges interleave: nothing
    // can be pruned (stats-less dirs always survive)
    LakeTable.append(
      (0 until 100 by 2).map(i => (f"$i%05d", i.toLong)).toDF("k", "v"), root)
    LakeTable.append(
      (1 until 100 by 2).map(i => (f"$i%05d", i.toLong)).toDF("k", "v"), root)
    assert(LakeTable.rangeDirs(spark, root, Seq(("k", "00010", "00019"))).size == 2,
      "stats-less appends must all survive pruning")
    // one atomic clustered rewrite: 4 contiguous ranges with stats
    LakeTable.rewriteClustered(LakeTable.read(spark, root), root, "k", 4)
    val active = LakeTable.activeDirs(spark, root)
    assert(active.size >= 2 && active.forall(_.contains("__bucket=")),
      s"expected bucket leaves, got $active")
    val pruned = LakeTable.rangeDirs(spark, root, Seq(("k", "00010", "00019")))
    assert(pruned.size < active.size,
      s"clustering did not enable pruning: $pruned of $active")
    // content is unchanged by layout: same rows, and the range read
    // returns exactly the rows in range
    assert(LakeTable.read(spark, root).count() == 100)
    assert(LakeTable.readRange(spark, root, Seq(("k", "00010", "00019")))
      .count() == 10)
  }

  test("2-D clustered rewrite prunes on BOTH dimensions") {
    val root = freshRoot("z2d")
    // a 32x32 (a, b) grid landed in two arrival-order appends:
    // nothing prunable on either column
    val grid = for (a <- 0 until 32; b <- 0 until 32)
      yield (a.toLong, b.toLong, (a * 32 + b).toLong)
    LakeTable.append(grid.filter(_._3 % 2 == 0).toDF("a", "b", "v"), root)
    LakeTable.append(grid.filter(_._3 % 2 == 1).toDF("a", "b", "v"), root)
    LakeTable.rewriteClusteredN(LakeTable.read(spark, root), root,
      Seq("a", "b"), 16)
    val active = LakeTable.activeDirs(spark, root)
    assert(active.size >= 4 && active.forall(_.contains("__bucket=")),
      s"expected bucket leaves, got $active")
    // a narrow range on EITHER dimension alone prunes directories —
    // the property no 1-D sort offers (a sort on `a` cannot prune a
    // b-only predicate; the Morton layout prunes both)
    val onlyA = LakeTable.rangeDirs(spark, root, Seq(("a", "0", "3")))
    val onlyB = LakeTable.rangeDirs(spark, root, Seq(("b", "0", "3")))
    assert(onlyA.size < active.size,
      s"a-only predicate kept all ${active.size} dirs")
    assert(onlyB.size < active.size,
      s"b-only predicate kept all ${active.size} dirs")
    // both predicates together prune to the intersection or fewer
    val both = LakeTable.rangeDirs(spark, root,
      Seq(("a", "0", "3"), ("b", "0", "3")))
    assert(both.size <= math.min(onlyA.size, onlyB.size))
    // skipping changes what is scanned, never what is returned
    assert(LakeTable.readRange(spark, root,
      Seq(("a", "0", "3"), ("b", "0", "3"))).count() == 16)
    assert(LakeTable.read(spark, root).count() == 1024)
    // numeric stat comparison: unpadded integer bounds work (the "9"
    // vs "10" lexicographic trap)
    assert(LakeTable.readRange(spark, root,
      Seq(("a", "9", "10"))).count() == 64)
  }

  test("k-column clustered rewrite: a 3-D box prunes FILES inside surviving directories") {
    val root = freshRoot("zn")
    // a 16x16x16 integer cube in one arrival-order append
    val cube = spark.range(4096).select(
      ($"id" % 16).as("a"), expr("(id DIV 16) % 16").as("b"),
      expr("(id DIV 256) % 16").as("c"), $"id".as("v"))
    LakeTable.append(cube, root)
    LakeTable.rewriteClusteredN(LakeTable.read(spark, root), root,
      Seq("a", "b", "c"), 8, filesPerDir = 4)
    val preds = Seq(("a", "0", "3"), ("b", "0", "3"), ("c", "0", "3"))
    val survivingDirs = LakeTable.rangeDirs(spark, root, preds)
    val (whole, files) = LakeTable.rangeFiles(spark, root, preds)
    assert(whole.isEmpty,
      s"every leaf carries file stats, none should scan whole: $whole")
    // file-grain beats directory-grain: strictly FEWER files survive
    // than the surviving directories hold
    val filesInSurvivors = survivingDirs.map { d =>
      new java.io.File(s"$root/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }.sum
    assert(files.nonEmpty && files.size < filesInSurvivors,
      s"per-file stats skipped nothing: ${files.size} of " +
        s"$filesInSurvivors files in ${survivingDirs.size} dirs")
    // skipping changes what is scanned, never what is returned
    val got = LakeTable.readRange(spark, root, preds)
    assert(got.count() == 4 * 4 * 4, s"got ${got.count()} rows")
    assert(LakeTable.read(spark, root).count() == 4096)
  }

  test("string-typed digit stats never prune numerically (the lexicographic min/max trap)") {
    val root = freshRoot("strstat")
    // a STRING column whose values sort differently under the two
    // orderings: lexicographic min/max of {"100", "25"} is
    // (min="100", max="25") — numeric comparison against those bounds
    // would falsely prune the file holding "25" for [23, 27]
    val rows = (0 until 64).map(i =>
      (if (i % 2 == 0) "100" else "25", (i % 8).toLong, i.toLong))
    LakeTable.append(rows.toDF("s", "b", "v"), root)
    LakeTable.rewriteClusteredN(LakeTable.read(spark, root), root,
      Seq("s", "b"), 2, filesPerDir = 2)
    val preds = Seq(("s", "23", "27"))
    // ground truth: the row-level lexicographic filter over a full scan
    val want = LakeTable.read(spark, root)
      .filter($"s".cast("string").between("23", "27")).count()
    assert(want == 32, s"fixture broke: expected the 32 '25'-rows, got $want")
    assert(LakeTable.readRange(spark, root, preds).count() == want,
      "dir-grain skipping changed the result for string-kind stats")
    assert(LakeTable.readRange(spark, root, preds).count() == want,
      "file-grain skipping changed the result for string-kind stats")
  }

  test("IVM with signed deltas: a delete pulls SUM down; MIN needs the re-scan fallback") {
    import graft.engine.QueriesR16
    def dec(rows: Seq[(Long, String, Double)]) =
      rows.toDF("key", "status", "p")
        .select($"key", $"status",
          $"p".cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(18, 2)).as("price"))
    val before = dec(Seq((1L, "x", 10.00), (2L, "x", 5.00),
                         (3L, "x", 7.00), (4L, "y", 1.00)))
    // delete key 2 (the CURRENT MIN of x — the non-self-maintainable
    // case), update key 3 down to 6.00, insert key 5
    val after = dec(Seq((1L, "x", 10.00), (3L, "x", 6.00),
                        (4L, "y", 1.00), (5L, "x", 2.50)))
    val got = QueriesR16.ivmSumRefresh(before, after)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(4))).toSeq
    // x: n 3→3 (−1 delete +1 insert), sum 22.00→18.50 (the delete
    // genuinely pulled it down), min 5.00→2.50 — a stale v0 min would
    // read 5.00 for a row that no longer exists
    assert(got == Seq(("x", 3L, 18.50, 2.50), ("y", 1L, 1.00, 1.00)),
      s"got $got")
    // the full recompute over `after` agrees — IVM ≡ recompute
    val full = after.groupBy("status")
      .agg(count(lit(1)).as("n"), sum("price").cast("double").as("s"),
           min("price").cast("double").as("m"))
      .orderBy("status")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == full, s"IVM $got != recompute $full")
  }

  test("property: IVM feed + refresh match a reference model on random null-keyed histories") {
    // Model-based armor for the r13 null-key overhaul: random
    // before/after snapshots (keys churn; statuses drawn from
    // {x, y, NULL}; prices from a small grid) must produce (1) an
    // O(churn) feed whose per-key classification equals the reference
    // model's, and (2) a refresh equal to a full recompute over
    // `after` — null group included, exactly once.
    import graft.engine.QueriesR16
    var seed = 0x9e3779b97f4a7c15L
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    def dec(rows: Seq[(Long, Option[String], Double)]) =
      rows.toDF("key", "status", "p")
        .select($"key", $"status",
          $"p".cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(18, 2)).as("price"))
    val statuses = Vector(Some("x"), Some("y"), None)
    for (trial <- 0 until 4) {
      def snap(keys: Seq[Long]): Map[Long, (Option[String], Double)] =
        keys.map(k => k -> (statuses(nxt(3)),
                            (nxt(40) + 1) * 0.25)).toMap
      val beforeM = snap(0L until 30L)
      // churn: drop ~1/4 of keys, add fresh ones, re-roll ~1/3
      val afterM = beforeM.filter(_ => nxt(4) > 0)
        .map { case (k, v) => k -> (if (nxt(3) == 0)
          (statuses(nxt(3)), (nxt(40) + 1) * 0.25) else v) } ++
        snap(30L until 30L + nxt(6))
      val before = dec(beforeM.toSeq.map { case (k, (s, p)) => (k, s, p) })
      val after = dec(afterM.toSeq.map { case (k, (s, p)) => (k, s, p) })
      // (1) the feed equals the model's classification
      val feed = QueriesR16.ivmSumFeed(before, after).collect()
        .map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
      val model = (beforeM.keySet ++ afterM.keySet).toSeq.flatMap { k =>
        (beforeM.get(k), afterM.get(k)) match {
          case (None, Some(_)) => Seq(k -> "insert")
          case (Some(_), None) => Seq(k -> "delete")
          case (Some(o), Some(n)) if o != n =>
            Seq(k -> "update_postimage", k -> "update_preimage")
          case _ => Seq.empty
        }
      }.sorted
      assert(feed == model,
        s"trial $trial: feed ${feed.take(6)}... != model ${model.take(6)}...")
      // (2) refresh == full recompute over `after`
      val got = QueriesR16.ivmSumRefresh(before, after)
        .collect()
        .map(r => (Option(r.getString(0)), r.getLong(1),
                   BigDecimal(r.getDouble(2)).setScale(2,
                     BigDecimal.RoundingMode.HALF_UP),
                   BigDecimal(r.getDouble(4)).setScale(2,
                     BigDecimal.RoundingMode.HALF_UP))).toSet
      val want = afterM.values.groupBy(_._1).map { case (s, vs) =>
        val ps = vs.map(_._2).toSeq
        (s, ps.size.toLong,
         BigDecimal(ps.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP),
         BigDecimal(ps.min).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      }.toSet
      assert(got == want,
        s"trial $trial: view ${got.toSeq.sortBy(_.toString)} != " +
          s"recompute ${want.toSeq.sortBy(_.toString)}")
    }
  }

  test("deletion-aware MIN: a NULL-status group survives an extremal delete elsewhere (r12 advice)") {
    // The null-safety fix pinned: with `touched` non-empty, the old
    // bare !isin evaluated to NULL for a NULL group key and silently
    // dropped that group from the MIN view while SUM/COUNT kept it.
    import graft.engine.QueriesR16
    def dec(rows: Seq[(Long, Option[String], Double)]) =
      rows.toDF("key", "status", "p")
        .select($"key", $"status",
          $"p".cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(18, 2)).as("price"))
    val before = dec(Seq((1L, Some("x"), 10.00), (2L, Some("x"), 5.00),
                         (3L, None, 7.00), (4L, None, 3.00)))
    // delete x's minimum → x re-scans; the NULL group is untouched
    // and must stay in the view with its min intact
    val after = dec(Seq((1L, Some("x"), 10.00), (3L, None, 7.00),
                        (4L, None, 3.00)))
    val feed = QueriesR16.ivmSumFeed(before, after)
    // the feed is O(churn) even with null statuses: unchanged
    // null-status rows must NOT read as absent (presence is a flag,
    // not the status column's nullability)
    val feedRows = feed.collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(feedRows == Seq((2L, "delete")),
      s"spurious feed entries for unchanged null-status rows: $feedRows")
    val (minV, scanned) = QueriesR16.ivmMinMaintain(before, after, feed)
    assert(scanned() == Set(Some("x")), s"got ${scanned()}")
    val got = minV.orderBy($"status".asc_nulls_first).collect()
      .map(r => (Option(r.getString(0)),
                 r.getDecimal(1).doubleValue())).toSeq
    assert(got == Seq((None, 3.00), (Some("x"), 10.00)),
      s"NULL group dropped, duplicated, or wrong: $got")
    // a delete INSIDE the null group hitting its minimum must mark
    // the null group touched and re-scan it (the old equi-join could
    // never pair a null removal with its group's extremum → stale min)
    val afterNullHit = dec(Seq((1L, Some("x"), 10.00),
                               (2L, Some("x"), 5.00), (3L, None, 7.00)))
    val feedNull = QueriesR16.ivmSumFeed(before, afterNullHit)
    val (minNull, scannedNull) =
      QueriesR16.ivmMinMaintain(before, afterNullHit, feedNull)
    assert(scannedNull() == Set(None), s"got ${scannedNull()}")
    val gotNull = minNull.orderBy($"status".asc_nulls_first).collect()
      .map(r => (Option(r.getString(0)),
                 r.getDecimal(1).doubleValue())).toSeq
    assert(gotNull == Seq((None, 7.00), (Some("x"), 5.00)),
      s"stale or duplicated null-group min: $gotNull")
    // the SUM/AVG/MIN refresh carries exactly ONE null-group row with
    // the right state (the old USING merge forked it into two)
    val view = QueriesR16.ivmSumRefresh(before, afterNullHit)
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2),
                 r.getDouble(4))).toSeq
    assert(view == Seq((None, 1L, 7.00, 7.00), (Some("x"), 2L, 15.00, 5.00)),
      s"null-group view row wrong: $view")
  }

  test("deletion-aware MIN: non-extremal delete skips the re-scan; extremal delete triggers it") {
    import graft.engine.QueriesR16
    def dec(rows: Seq[(Long, String, Double)]) =
      rows.toDF("key", "status", "p")
        .select($"key", $"status",
          $"p".cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(18, 2)).as("price"))
    val before = dec(Seq((1L, "x", 10.00), (2L, "x", 5.00),
                         (3L, "x", 7.00), (4L, "y", 1.00)))
    // NON-extremal churn in x: delete 10.00 (min is 5.00), insert
    // 6.00 — MIN stays maintainable, no group may re-scan
    val afterSafe = dec(Seq((2L, "x", 5.00), (3L, "x", 7.00),
                            (4L, "y", 1.00), (5L, "x", 6.00)))
    val (minSafe, scannedSafe) = QueriesR16.ivmMinMaintain(
      before, afterSafe, QueriesR16.ivmSumFeed(before, afterSafe))
    assert(scannedSafe().isEmpty,
      s"non-extremal delete re-scanned groups ${scannedSafe()}")
    val gotSafe = minSafe.orderBy("status").collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue())).toSeq
    assert(gotSafe == Seq(("x", 5.00), ("y", 1.00)), s"got $gotSafe")
    // EXTREMAL delete: key 2 (x's min) goes — exactly x re-scans, y
    // stays incremental; an insert BELOW the old min (2.50) must also
    // come through
    val afterHit = dec(Seq((1L, "x", 10.00), (3L, "x", 7.00),
                           (4L, "y", 1.00), (5L, "x", 2.50)))
    val (minHit, scannedHit) = QueriesR16.ivmMinMaintain(
      before, afterHit, QueriesR16.ivmSumFeed(before, afterHit))
    assert(scannedHit() == Set(Some("x")),
      s"extremal delete should re-scan exactly x, got ${scannedHit()}")
    val gotHit = minHit.orderBy("status").collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue())).toSeq
    assert(gotHit == Seq(("x", 2.50), ("y", 1.00)), s"got $gotHit")
    // an update whose PRE-image is the extremum also triggers (update
    // = delete + insert for MIN purposes)
    val afterUpd = dec(Seq((1L, "x", 10.00), (2L, "x", 8.00),
                           (3L, "x", 7.00), (4L, "y", 1.00)))
    val (minUpd, scannedUpd) = QueriesR16.ivmMinMaintain(
      before, afterUpd, QueriesR16.ivmSumFeed(before, afterUpd))
    assert(scannedUpd() == Set(Some("x")), s"got ${scannedUpd()}")
    val gotUpd = minUpd.orderBy("status").collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue())).toSeq
    assert(gotUpd == Seq(("x", 7.00), ("y", 1.00)), s"got $gotUpd")
    // MAX is the mirror image: deleting x's 10.00 (the max) triggers
    // exactly x's re-scan; the SAME change is non-extremal for MAX
    // when it only touches the min side
    val afterMaxHit = dec(Seq((2L, "x", 5.00), (3L, "x", 7.00),
                              (4L, "y", 1.00)))
    val (maxHit, scannedMaxHit) = QueriesR16.ivmMaxMaintain(
      before, afterMaxHit, QueriesR16.ivmSumFeed(before, afterMaxHit))
    assert(scannedMaxHit() == Set(Some("x")), s"got ${scannedMaxHit()}")
    val gotMaxHit = maxHit.orderBy("status").collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue())).toSeq
    assert(gotMaxHit == Seq(("x", 7.00), ("y", 1.00)), s"got $gotMaxHit")
    // deleting the MIN (key 2, 5.00) is non-extremal for MAX: no
    // re-scan, max stays incremental (insert 12.00 lifts it)
    val afterMaxSafe = dec(Seq((1L, "x", 10.00), (3L, "x", 7.00),
                               (4L, "y", 1.00), (5L, "x", 12.00)))
    val (maxSafe, scannedMaxSafe) = QueriesR16.ivmMaxMaintain(
      before, afterMaxSafe, QueriesR16.ivmSumFeed(before, afterMaxSafe))
    assert(scannedMaxSafe().isEmpty, s"got ${scannedMaxSafe()}")
    val gotMaxSafe = maxSafe.orderBy("status").collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue())).toSeq
    assert(gotMaxSafe == Seq(("x", 12.00), ("y", 1.00)), s"got $gotMaxSafe")
  }

  test("vacuum retention contract: retained pinned readers survive, older ones fail loudly") {
    val root = freshRoot("vacrace")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root) // v0
    LakeTable.rewrite(
      LakeTable.read(spark, root).filter($"k" === 1L), root)         // v1
    LakeTable.append(Seq((3L, "c")).toDF("k", "v"), root)            // v2
    // both readers RESOLVE their snapshots (log replay → directory
    // list) BEFORE the vacuum — the concurrent-reader shape
    val pinnedRetained = LakeTable.read(spark, root, Some(1L))
    val pinnedDoomed = LakeTable.read(spark, root, Some(0L))
    val deleted = LakeTable.vacuum(spark, root, retainFrom = 1L)
    assert(deleted.size == 1, s"expected v0's directory gone, got $deleted")
    // a reader of a RETAINED version always succeeds after the vacuum
    assert(pinnedRetained.count() == 1)
    assert(LakeTable.read(spark, root).count() == 2)
    // a reader pinned BELOW retainFrom fails loudly at scan time —
    // the documented trade, never silent partial data
    assertThrows[Exception] { pinnedDoomed.count() }
  }

  test("concurrent appenders + a checkpointer: exactly-once survives live checkpointing") {
    // The ingest-at-scale interleaving: several distinct streaming
    // writers (appendTxn retry machinery) racing version numbers WHILE
    // a maintenance thread checkpoints the moving log. Checkpoints of
    // a given version are byte-identical folds of immutable commits,
    // so the overwrite race is benign; the replayed table must hold
    // every writer's every batch exactly once, and a post-hoc
    // checkpointed read must equal the pure-JSON replay.
    val root = freshRoot("ckptrace")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writers = 3
    val batches = 4
    val work = (0 until writers).map { w =>
      Future {
        (0 until batches).foreach { b =>
          val rows = Seq((w * 100L + b, s"w$w-b$b")).toDF("k", "v")
          LakeTable.appendTxn(rows, root, s"app$w", b.toLong)
        }
      }
    } :+ Future {
      (0 until 6).foreach { _ =>
        try LakeTable.maybeCheckpoint(spark, root, every = 2)
        catch { case _: IllegalArgumentException => () } // empty log yet
        Thread.sleep(30)
      }
    }
    Await.result(Future.sequence(work), Duration.Inf)
    val expect = (for (w <- 0 until writers; b <- 0 until batches)
      yield w * 100L + b).sorted
    val got = LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(got == expect, s"lost/duplicated rows: got $got")
    // every writer's high-water mark survived whatever fold raced it
    (0 until writers).foreach { w =>
      assert(LakeTable.lastTxn(spark, root, s"app$w")
        .contains(batches.toLong - 1))
    }
    // a fresh checkpoint now, then the checkpointed read must equal
    // the model exactly
    LakeTable.checkpoint(spark, root)
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == expect)
  }

  test("appendTxn race: the losing writer leaves no orphaned data directory") {
    val root = freshRoot("txnrace")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // two writers deliver the SAME (appId, batchId) concurrently —
    // the foreachBatch re-delivery race; exactly one commits
    val results = Await.result(
      Future.sequence((1 to 2).map(_ => Future {
        LakeTable.appendTxn(df, root, "app", 0L)
      })), Duration.Inf)
    assert(results.flatten.size == 1,
      s"expected exactly one commit, got $results")
    assert(LakeTable.read(spark, root).count() == 2)
    // whatever the interleaving, no unreferenced data directory
    // survives (the r10 ADVICE leak: a lost race used to orphan its
    // already-written directory forever)
    val onDisk = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("data-")).toSet
    val referenced = LakeTable.activeDirs(spark, root).toSet
    assert(onDisk == referenced,
      s"orphaned data dirs: ${onDisk -- referenced}")
  }

  test("rewriteTxn race: same-token writers commit once, no orphans") {
    val root = freshRoot("rwtxnrace")
    LakeTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val newContent = Seq((1L, "a"), (3L, "c")).toDF("k", "v")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // two maintained-view writers re-deliver the SAME (appId, batchId)
    // — the foreachBatch replay race on the REWRITE path: exactly one
    // version lands; the loser either no-ops on the txn check or loses
    // the commit race, rechecks, and returns None without an orphan
    val results = Await.result(
      Future.sequence((1 to 2).map(_ => Future {
        LakeTable.rewriteTxn(newContent, root, "view", 7L)
      })), Duration.Inf)
    assert(results.flatten.size == 1,
      s"expected exactly one rewrite commit, got $results")
    assert(LakeTable.read(spark, root).collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
    assert(LakeTable.lastTxn(spark, root, "view").contains(7L))
    // no unreferenced data directory survives the race: exactly the
    // original append dir (historical, pre-vacuum) and the ONE
    // winning rewrite dir — the loser's already-written copy is gone
    val onDisk = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("data-")).toSet
    assert(onDisk.size == 2, s"expected 2 data dirs, got $onDisk")
    val active = LakeTable.activeDirs(spark, root).toSet
    assert(active.subsetOf(onDisk), s"active $active missing from disk")
    // a later re-delivery of the same batch is still a no-op
    assert(LakeTable.rewriteTxn(newContent, root, "view", 7L).isEmpty)
  }

  test("readSince: incremental consumption covers exactly the new commits") {
    val root = freshRoot("since")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), root) // v0
    LakeTable.append(Seq((2L, "b")).toDF("k", "v"), root) // v1
    val mark = LakeTable.latestVersion(spark, root).get
    // nothing new yet
    assert(LakeTable.readSince(spark, root, mark).isEmpty)
    LakeTable.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), root) // v2
    LakeTable.append(Seq((5L, "e")).toDF("k", "v"), root)            // v3
    val inc = LakeTable.readSince(spark, root, mark).get
    assert(inc.select("k").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 5L), "increment must be exactly the new commits' rows")
    // increment + snapshot-at-mark == full snapshot
    assert(inc.count() + LakeTable.read(spark, root, Some(mark)).count()
      == LakeTable.read(spark, root).count())
    // a rewrite inside the range rewrote history: loud failure
    LakeTable.rewrite(LakeTable.read(spark, root), root) // v4
    val e = intercept[IllegalArgumentException] {
      LakeTable.readSince(spark, root, mark)
    }
    assert(e.getMessage.contains("re-seed"), e.getMessage)
    // consuming from AFTER the rewrite works again
    assert(LakeTable.readSince(spark, root, 4L).isEmpty)
  }

  test("corrupt commit log fails loudly with the table's own error") {
    val root = freshRoot("corrupt")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), root)
    LakeTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    // tear the second commit's log file
    val log = java.nio.file.Paths.get(root, "_graft_log",
      "0000000001.json")
    java.nio.file.Files.write(log,
      "{\"version\": 1, \"add\": [".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      LakeTable.read(spark, root).count()
    }
    assert(e.getMessage.contains("corrupt commit log"),
      s"wrong failure surface: ${e.getMessage}")
    // versions BEFORE the torn commit still replay
    assert(LakeTable.read(spark, root, Some(0L)).count() == 1)
  }

  test("property: random append/rewrite histories replay like the reference model") {
    // model-based check of the log-replay semantics: an in-memory
    // reference (the row multiset after each operation) must agree
    // with the table's replay at EVERY version, for random operation
    // sequences. Deterministic LCG seeds — reproducible.
    var seed = 0x6a09e667f3bcc909L
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    for (trial <- 0 until 3) {
      val root = freshRoot(s"prop$trial")
      var model = Vector.empty[Vector[Long]] // row multiset per version
      var next = 0L
      for (_ <- 0 until 8) {
        // a checkpoint at a random point must be invisible to every
        // replay below — pure acceleration, never truth (r13 addition)
        if (model.nonEmpty && nxt(3) == 0) LakeTable.checkpoint(spark, root)
        val op = nxt(3)
        if (op < 2 || model.isEmpty) {
          // append a random batch of fresh keys
          val n = 1 + nxt(4)
          val rows = (0 until n).map(_ => { next += 1; next }).toVector
          LakeTable.append(rows.map(k => (k, s"v$k")).toDF("k", "v"), root)
          model = model :+ (model.lastOption.getOrElse(Vector.empty) ++ rows)
        } else {
          // rewrite: keep a random subset of the current content
          val cur = model.last
          val kept = cur.filter(_ => nxt(2) == 0)
          LakeTable.rewrite(
            if (kept.isEmpty) Seq.empty[(Long, String)].toDF("k", "v")
            else kept.map(k => (k, s"v$k")).toDF("k", "v"), root)
          model = model :+ kept
        }
      }
      // every version's replay equals the model at that version
      for (v <- model.indices) {
        val got =
          if (model(v).isEmpty) Vector.empty
          else LakeTable.read(spark, root, Some(v.toLong))
            .select("k").as[Long].collect().toVector.sorted
        assert(got == model(v).sorted,
          s"trial $trial version $v: replay $got != model ${model(v).sorted}")
      }
    }
  }

  test("property: random histories with maintenance read exact or fail loudly, never partial") {
    // The retention-guard property (r14): random append/rewrite/
    // checkpoint histories interleaved with the FULL maintenance
    // composite (checkpoint → vacuum → pruneLog → pruneCheckpoints)
    // must leave every surviving version replaying EXACTLY its model
    // and every retired version failing loudly — and after tearing
    // every checkpoint, a pruned log must fail the contiguity guard
    // on every read rather than return a partial active set.
    var seed = 0x243f6a8885a308d3L
    def nxt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    for (trial <- 0 until 3) {
      val root = freshRoot(s"mprop$trial")
      var model = Vector.empty[Vector[Long]]
      var floor = 0 // lowest surviving version after maintenance
      var next = 0L
      for (_ <- 0 until 10) {
        if (model.nonEmpty && nxt(4) == 0) LakeTable.checkpoint(spark, root)
        val op = nxt(4)
        if (op == 3 && model.size - 1 > floor) {
          // maintenance composite in the documented order, retiring
          // everything below the current latest
          val latest = model.size - 1
          LakeTable.checkpoint(spark, root)
          LakeTable.vacuum(spark, root, retainFrom = latest.toLong)
          LakeTable.pruneLog(spark, root)
          LakeTable.pruneCheckpoints(spark, root, keep = 1)
          floor = latest
        } else if (op < 2 || model.isEmpty) {
          val n = 1 + nxt(4)
          val rows = (0 until n).map(_ => { next += 1; next }).toVector
          LakeTable.append(rows.map(k => (k, s"v$k")).toDF("k", "v"), root)
          model = model :+ (model.lastOption.getOrElse(Vector.empty) ++ rows)
        } else {
          val kept = model.last.filter(_ => nxt(2) == 0)
          LakeTable.rewrite(
            if (kept.isEmpty) Seq.empty[(Long, String)].toDF("k", "v")
            else kept.map(k => (k, s"v$k")).toDF("k", "v"), root)
          model = model :+ kept
        }
      }
      for (v <- model.indices) {
        if (v < floor) {
          // retired: the version is GONE and says so — never stale rows
          assertThrows[IllegalArgumentException] {
            LakeTable.read(spark, root, Some(v.toLong))
          }
        } else if (model(v).nonEmpty) {
          val got = LakeTable.read(spark, root, Some(v.toLong))
            .select("k").as[Long].collect().toVector.sorted
          assert(got == model(v).sorted,
            s"trial $trial version $v (floor $floor): " +
              s"replay $got != model ${model(v).sorted}")
        }
      }
      // terminal corruption: tear EVERY checkpoint file
      val logDir = new java.io.File(s"$root/_graft_log")
      logDir.listFiles().filter(_.getName.endsWith(".checkpoint.json"))
        .foreach(f => java.nio.file.Files.write(f.toPath,
          "{torn".getBytes("UTF-8")))
      if (floor > 0) {
        // pruned log + no loadable checkpoint: EVERY read must hit
        // the contiguity guard, loudly
        val e = intercept[IllegalArgumentException] {
          LakeTable.read(spark, root).count()
        }
        assert(e.getMessage.contains("pruned below"),
          s"trial $trial: wrong guard message: ${e.getMessage}")
      } else if (model.nonEmpty && model.last.nonEmpty) {
        // never pruned: commits are intact from v0, torn checkpoints
        // degrade to full replay and the read stays exact
        assert(LakeTable.read(spark, root).select("k").as[Long]
          .collect().toVector.sorted == model.last.sorted,
          s"trial $trial: torn-checkpoint full replay diverged")
      }
    }
  }

  test("snapshot isolation: a reader's resolved version is immune to later commits") {
    val root = freshRoot("iso")
    LakeTable.append(Seq((1L, "a")).toDF("k", "v"), root)
    val resolved = LakeTable.latestVersion(spark, root).get
    val before = LakeTable.activeDirs(spark, root, Some(resolved))
    LakeTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    LakeTable.rewrite(Seq((9L, "z")).toDF("k", "v"), root)
    // replaying the resolved version yields the same file set
    assert(LakeTable.activeDirs(spark, root, Some(resolved)) == before)
    assert(LakeTable.read(spark, root, Some(resolved))
      .select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("retention end-to-end: checkpoint → vacuum → pruneLog → pruneCheckpoints keeps reads exact or loudly failing") {
    // VERDICT r13 #7: the full documented maintenance order on one
    // table while readers time-travel — above retention stays EXACT
    // (not just non-empty), below retention fails cleanly, and no
    // interleaving returns a half-read.
    val root = freshRoot("retention")
    (0 until 4).foreach { i =>                                 // v0..v3
      LakeTable.append(Seq((i.toLong, s"a$i")).toDF("k", "v"), root)
    }
    // v4: compaction rewrite dropping k=0 — creates vacuum garbage
    LakeTable.rewrite(
      LakeTable.read(spark, root).filter($"k" =!= 0L), root)
    (5 until 8).foreach { i =>                                 // v5..v7
      LakeTable.append(Seq((i.toLong, s"b$i")).toDF("k", "v"), root)
    }
    val atV6 = LakeTable.read(spark, root, Some(6L))
      .select("k").as[Long].collect().sorted.toSeq
    val atLatest = LakeTable.read(spark, root)
      .select("k").as[Long].collect().sorted.toSeq
    val cv = LakeTable.checkpoint(spark, root)                 // v7
    assert(cv == 7L, s"fixture drifted: checkpoint at $cv")
    // documented order: vacuum BEFORE pruneLog (reclaim reads the
    // commits it is about to delete)
    val vacuumed = LakeTable.vacuum(spark, root, retainFrom = 4L)
    assert(vacuumed.size == 4, s"pre-compaction dirs not reclaimed: $vacuumed")
    val prunedLog = LakeTable.pruneLog(spark, root)
    assert(prunedLog == (0L until 7L), s"unexpected prune set $prunedLog")
    val prunedCkpts = LakeTable.pruneCheckpoints(spark, root, keep = 1)
    assert(prunedCkpts.isEmpty, "only checkpoint must survive keep=1")
    // above retention: exact, not merely readable
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == atLatest)
    assert(LakeTable.read(spark, root, Some(7L)).select("k").as[Long]
      .collect().sorted.toSeq == atLatest)
    // below retention: the version is GONE and the read fails before
    // producing any rows — never a partial result
    assertThrows[IllegalArgumentException] {
      LakeTable.read(spark, root, Some(6L))
    }
    assert(atV6.nonEmpty && atV6 != atLatest,
      "fixture must actually distinguish v6 from latest")
    // and the table keeps working: a fresh commit reads back exactly
    LakeTable.append(Seq((99L, "post")).toDF("k", "v"), root)  // v8
    assert(LakeTable.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == (atLatest :+ 99L).sorted)
  }

  test("pruned-log contiguity guard: a truncated replay fails loudly, never an incomplete active set") {
    // The r13 ADVICE high finding: after pruneLog, if the base
    // checkpoint is torn AND every older fallback is gone, folding
    // the surviving commit suffix over emptyState silently loses the
    // pre-checkpoint adds. The guard must turn that into a loud
    // failure naming the gap.
    val root = freshRoot("contiguity")
    (0 until 5).foreach { i =>                                 // v0..v4
      LakeTable.append(Seq((i.toLong, s"a$i")).toDF("k", "v"), root)
    }
    LakeTable.checkpoint(spark, root)                          // cp v4
    (5 until 7).foreach { i =>                                 // v5, v6
      LakeTable.append(Seq((i.toLong, s"b$i")).toDF("k", "v"), root)
    }
    val cv = LakeTable.checkpoint(spark, root)                 // cp v6
    assert(LakeTable.pruneLog(spark, root) == (0L until 6L))
    // simulate the disaster: newest checkpoint torn, older one gone
    // (pre-guard pruneCheckpoints, or external deletion)
    val logDir = s"$root/_graft_log"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(logDir, f"$cv%010d.checkpoint.json"),
      "{torn".getBytes("UTF-8"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(logDir, f"${4L}%010d.checkpoint.json"))
    val e = intercept[IllegalArgumentException] {
      LakeTable.read(spark, root).count()
    }
    assert(e.getMessage.contains("pruned below"),
      s"guard fired with the wrong message: ${e.getMessage}")
  }

  test("pruneCheckpoints never deletes the floor checkpoint of a pruned log") {
    // The companion guard: once pruneLog has run, the newest
    // checkpoint at-or-below the lowest surviving commit is the sole
    // loadable base for time travel into [floor, nextCheckpoint) and
    // the only fallback if the newest checkpoint tears — keep=1 must
    // not claim it.
    val root = freshRoot("ckptfloor")
    (0 until 5).foreach { i =>                                 // v0..v4
      LakeTable.append(Seq((i.toLong, s"a$i")).toDF("k", "v"), root)
    }
    LakeTable.checkpoint(spark, root)                          // cp v4
    LakeTable.pruneLog(spark, root)                            // drop v0..v3
    (5 until 7).foreach { i =>                                 // v5, v6
      LakeTable.append(Seq((i.toLong, s"b$i")).toDF("k", "v"), root)
    }
    LakeTable.checkpoint(spark, root)                          // cp v6
    val victims = LakeTable.pruneCheckpoints(spark, root, keep = 1)
    assert(victims.isEmpty,
      s"keep=1 deleted the floor checkpoint: $victims")
    // the floor still serves time travel below the newest checkpoint
    assert(LakeTable.read(spark, root, Some(5L)).count() == 6)
    // once a LATER pruneLog raises the commit floor past v4, the old
    // floor checkpoint becomes a legitimate victim
    assert(LakeTable.pruneLog(spark, root) == Seq(4L, 5L))
    assert(LakeTable.pruneCheckpoints(spark, root, keep = 1) == Seq(4L))
    assert(LakeTable.read(spark, root).count() == 7)
  }

  test("golden log format: a pre-colStats commit and checkpoint replay, and stats-only dirs never prune") {
    // On-disk compatibility: one checkpoint (v1, over a log pruned
    // below it) and one commit (v2) spelled exactly as earlier
    // writers spelled them, every field kind present — including the
    // retired single-column `stats` map, which readers now ignore.
    val root = freshRoot("golden")
    val stage = freshRoot("golden_stage")
    // one parquet file per data dir, at a fixed name the filestats cite
    def land(dir: String, ks: Range): Unit = {
      val tmp = s"$stage/$dir"
      ks.map(_.toLong).toDF("k").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val d = new java.io.File(s"$root/$dir")
      d.mkdirs()
      Files.move(part.toPath, new java.io.File(d, "part-0.parquet").toPath)
    }
    land("data-a", 0 until 10)  // legacy stats only (checkpoint)
    land("data-b", 10 until 20)
    land("data-c", 20 until 30) // removed by v2
    land("data-d", 30 until 40)
    land("data-e", 40 until 50) // legacy stats only (commit)
    val log = java.nio.file.Paths.get(root, "_graft_log")
    Files.createDirectories(log)
    def put(name: String, json: String): Unit =
      Files.writeString(log.resolve(name), json)
    put("0000000001.json",
      """{"version":1,"add":[],"remove":[],"txnApp":"app1","txnBatch":4}""")
    put("0000000001.checkpoint.json", """{"version":1,
      |"active":["data-a","data-b","data-c"],
      |"stats":{"data-a":{"min":"0","max":"9"}},
      |"colstats":{"data-b":{"k":{"min":"10","max":"19"}},"data-c":{"k":{"min":"20","max":"29"}}},
      |"colkinds":{"k":"num"},
      |"filestats":{"data-b":[{"f":"part-0.parquet","cols":{"k":{"min":"10","max":"19"}}}]},
      |"txns":{"app1":4},
      |"eqdels":[{"d":"eqdel-a","k":"k"}],
      |"eqstats":{"eqdel-a":{"min":"5","max":"5","kd":"num"}},
      |"rowcounts":{"data-a":10,"data-b":10,"data-c":10},
      |"colmeta":{"data-b":{"k":{"ndv":"AAAA","nulls":0}}}}""".stripMargin)
    put("0000000002.json", """{"version":2,
      |"add":["data-d","data-e"],"remove":["data-c"],
      |"txnApp":"app1","txnBatch":5,
      |"stats":{"data-d":{"min":"30","max":"39"},"data-e":{"min":"40","max":"49"}},
      |"colstats":{"data-d":{"k":{"min":"30","max":"39"}}},
      |"colkinds":{"k":"num"},
      |"filestats":{"data-d":[{"f":"part-0.parquet","cols":{"k":{"min":"30","max":"39"}}}]},
      |"eqadd":[{"d":"eqdel-b","k":"k"}],
      |"eqstats":{"eqdel-b":{"min":"7","max":"7","kd":"num"}},
      |"rowcounts":{"data-d":10},
      |"colmeta":{"data-d":{"k":{"ndv":"BBBB","nulls":0}}}}""".stripMargin)

    val st = LakeTable.replayState(spark, root)
    assert(st.version == 2L)
    assert(st.active == Seq("data-a", "data-b", "data-d", "data-e"))
    assert(st.txns == Map("app1" -> 5L))
    assert(st.colStats == Map("data-b" -> Map("k" -> ("10", "19")),
                              "data-d" -> Map("k" -> ("30", "39"))))
    assert(st.colKinds == Map("k" -> "num"))
    assert(st.fileStats == Map(
      "data-b" -> Seq(("part-0.parquet", Map("k" -> ("10", "19")))),
      "data-d" -> Seq(("part-0.parquet", Map("k" -> ("30", "39"))))))
    assert(st.eqdels == Seq("eqdel-a" -> "k", "eqdel-b" -> "k"))
    assert(st.eqdelStats == Map("eqdel-a" -> ("5", "5", "num"),
                                "eqdel-b" -> ("7", "7", "num")))
    assert(st.rowCounts == Map("data-a" -> 10L, "data-b" -> 10L, "data-d" -> 10L))
    assert(st.colMeta == Map("data-b" -> Map("k" -> ("AAAA", 0L)),
                             "data-d" -> Map("k" -> ("BBBB", 0L))))
    assert(LakeTable.history(spark, root) == Seq(
      (1L, 0, 0, 0, 0, Some("app1"), None),
      (2L, 2, 1, 1, 0, Some("app1"), Some(10L))))
    assert(LakeTable.read(spark, root).count() == 40)
    assert(LakeTable.read(spark, root, Some(1L)).count() == 30)

    // the `stats`-only dirs are un-stat'd: they survive every prune,
    // even ranges their legacy bounds exclude
    val legacy = Seq("data-a", "data-e")
    for (preds <- Seq(Seq(("k", "10", "12")), Seq(("k", "100", "200")),
                      Seq(("k", "0", "9"), ("k", "30", "31")))) {
      assert(legacy.forall(LakeTable.rangeDirs(spark, root, preds).contains),
        s"a stats-only dir was pruned by $preds")
      val (whole, _) = LakeTable.rangeFiles(spark, root, preds)
      assert(legacy.forall(whole.contains), s"rangeFiles lost one for $preds")
      val scanned = LakeTable.readRange(spark, root, preds).inputFiles
      assert(legacy.forall(d => scanned.exists(_.contains(s"/$d/"))),
        s"readRange skipped a stats-only dir for $preds")
    }
    assert(LakeTable.rangeDirs(spark, root, Seq(("k", "10", "12"))) ==
      Seq("data-a", "data-b", "data-e"))
    assert(LakeTable.rangeFiles(spark, root, Seq(("k", "10", "12"))) ==
      (Seq("data-a", "data-e"), Seq("data-b/part-0.parquet")))
    assert(LakeTable.readRange(spark, root, Seq(("k", "10", "12"))).count() == 3)
    assert(LakeTable.readRange(spark, root, Seq(("k", "40", "41"))).count() == 2)

    // today's writers keep the field names: a fresh checkpoint of
    // this state spells exactly the old names and replays identically
    LakeTable.checkpoint(spark, root)
    val written = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(log.resolve("0000000002.checkpoint.json").toFile)
    assert(written.fieldNames().asScala.toSet == Set("version", "active",
      "colstats", "colkinds", "filestats", "txns", "eqdels", "eqstats",
      "rowcounts", "colmeta"))
    assert(LakeTable.replayState(spark, root) == st)
  }
}
