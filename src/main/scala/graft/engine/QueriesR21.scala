package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 keys: surgical row-level DML on the lake
  * ([[LakeDml]] — copy-on-write DELETE/MERGE at directory
  * granularity, bloom-sidecar point pruning) plus the GDPR
  * forget-propagation pass over the streaming-ingest tables.
  *
  * Why these exist: `lake_merge_upsert` proved the read-modify-write
  * TRANSACTION, but its rewrite is O(table) — the 100 TB posture is
  * O(affected directories). Each key here runs the real DML path
  * against a lake fixture and emits the post-DML snapshot, so the
  * DuckDB oracle (which computes the same end state from the raw
  * corpus in one query) hash-gates the entire prune → touch-dirty →
  * atomic-commit pipeline. The companion LakeDmlSpec asserts the
  * SURGICAL half (clean directories survive BY REFERENCE, bloom
  * pruning skips provably-clean directories) — the oracle proves
  * WHAT was computed, the spec proves HOW MUCH was touched.
  *
  * Determinism (§2.3): integers and strings only; every fixture
  * mutation is a pure function of the corpus; output ordered by a
  * total key.
  */
object QueriesR21 {
  import Tables._

  /** DELETE WHERE over a clustered orders lake: status 'F' rows
    * below key 8192. The fixture clusters on key (8 range buckets
    * with logged [min, max]), so the range hint prunes the scan to
    * the low-key directories and the rewrite touches only those that
    * actually hold matches — the copy-on-write shape. Output: the
    * post-delete snapshot. */
  def lakeDeleteSurgical(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"))
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_del_cow"), d)(Seq(base))(
        ArtifactCache.artifactHash(base)) { r =>
      LakeTable.append(base, r)
      LakeTable.rewriteClustered(LakeTable.read(s, r), r, "key", 8)
      LakeDml.deleteWhere(s, r,
        col("status") === "F" && col("key") < 8192,
        prunePreds = Seq(("key", "0", "8191")))
    }.dir
    LakeTable.read(s, root).orderBy("key")
  }

  /** Point DELETE through bloom sidecars: the documents table lands
    * in four hash-scattered batches (every batch spans the whole
    * doc_id range, so [min, max] stats prune NOTHING — the adversary
    * case for range skipping), each with a membership sidecar; a
    * bounded forget-list of specific doc_ids then deletes via
    * [[LakeDml.deleteByKeys]], where only the sidecars can exclude
    * directories. Output: the surviving snapshot. */
  def lakeDeleteBloom(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_del_bloom"), d)(Seq(docs))(
        ArtifactCache.artifactHash(docs)) { r =>
      for (b <- 0 to 3)
        LakeDml.appendWithBloom(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(4)) === b), r,
          "doc_id")
      // the forget list: a bounded, deterministic request set
      val forgotten = docs.filter(col("doc_id") % 97 === 13)
        .orderBy("doc_id").limit(5).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      if (forgotten.nonEmpty)
        LakeDml.deleteByKeys(s, r, "doc_id", forgotten)
    }.dir
    LakeTable.read(s, root).orderBy("doc_id")
  }

  /** Copy-on-write MERGE (SCD-1 upsert) over the clustered orders
    * lake: updates confined to keys [16384, 32768) — returned orders
    * flip to status 'R', every 50th key in the range also inserts a
    * +10^8 'N' row. The updates' key bounds prune the candidate set
    * to the intersecting directories; only directories holding a
    * matched key are rewritten; inserts land as one new directory;
    * one atomic commit. Output: the post-merge snapshot. */
  def lakeMergeSurgical(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"))
    val ret = lineitem(s, d)
      .filter(col("l_returnflag") === "R" &&
              col("l_orderkey") >= 16384 && col("l_orderkey") < 32768)
      .select(col("l_orderkey")).distinct()
    val updates = ret
      .select(col("l_orderkey").as("key"), lit("R").as("status"))
      .union(ret.filter(col("l_orderkey") % 50 === 0)
        .select((col("l_orderkey") + 100000000L).as("key"),
                lit("N").as("status")))
    def hash = ArtifactCache.artifactHash(base).take(16) +
      ArtifactCache.artifactHash(updates).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_merge_cow"), d)(
      Seq(base, updates))(hash) { r =>
      LakeTable.append(base, r)
      LakeTable.rewriteClustered(LakeTable.read(s, r), r, "key", 8)
      LakeDml.mergeInto(s, r, updates, "key")
    }.dir
    LakeTable.read(s, root).orderBy("key")
  }

  /** Merge-on-read DELETE: two tombstone batches land as equality-
    * delete files — O(delete list) commits, ZERO data directories
    * touched — and the output is the [[LakeDml.readMor]] view (data
    * minus live tombstones, one broadcast anti-join per tombstone
    * column). The deleted-key sets are full DataFrames (status 'P'
    * orders; returned orderkeys), never collected — the scalable
    * half of the DML pair. */
  def lakeDeleteMor(s: SparkSession, d: String): DataFrame = {
    val root = morFixture(s, d, "lake_del_mor", applyThem = false)
    LakeDml.readMor(s, root).orderBy("key")
  }

  /** The same tombstones COMPACTED: [[LakeDml.applyDeletes]]
    * materializes them into the data (bloom/stats-pruned candidates,
    * only dirty directories rewritten, tombstones cleared — one
    * atomic commit) and the output is the PLAIN snapshot read. The
    * oracle is byte-identical to lake_delete_mor's: the MOR view and
    * the post-compaction table are the same relation, which is the
    * whole contract. */
  def lakeDeleteMorCompacted(s: SparkSession, d: String): DataFrame = {
    val root = morFixture(s, d, "lake_del_morc", applyThem = true)
    LakeTable.read(s, root).orderBy("key")
  }

  private[engine] def morFixture(s: SparkSession, d: String, name: String,
                         applyThem: Boolean): String = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"))
    val li = lineitem(s, d)
    def hash = ArtifactCache.artifactHash(base).take(16) +
      ArtifactCache.artifactHash(li).take(16)
    ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture(name), d)(Seq(base, li))(hash) { r =>
      LakeTable.append(base, r)
      LakeTable.rewriteClustered(LakeTable.read(s, r), r, "key", 8)
      LakeDml.bloomAll(s, r, "key")
      LakeDml.deleteByKeysMor(s, r, "key",
        LakeTable.read(s, r).filter(col("status") === "P")
          .select(col("key")))
      LakeDml.deleteByKeysMor(s, r, "key",
        li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("key")).distinct())
      if (applyThem) LakeDml.applyDeletes(s, r)
    }.dir
  }

  /** UPDATE WHERE over the clustered orders lake — the third DML
    * verb: 'P'-status rows below key 8192 flip to 'X' and take a
    * derived value column; every other row passes through
    * byte-identical. Range-hint pruning and dirty-only rewrites, the
    * deleteWhere shape. Output: the post-update snapshot. */
  def lakeUpdateSurgical(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"),
                                   col("o_custkey").as("cust"))
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_upd_cow"), d)(Seq(base))(
        ArtifactCache.artifactHash(base)) { r =>
      LakeTable.append(base, r)
      LakeTable.rewriteClustered(LakeTable.read(s, r), r, "key", 8)
      LakeDml.updateWhere(s, r,
        col("status") === "P" && col("key") < 8192,
        Map("status" -> lit("X"),
            "cust" -> (col("cust") + 1000000L)),
        prunePreds = Seq(("key", "0", "8191")))
    }.dir
    LakeTable.read(s, root).orderBy("key")
  }

  /** CDC over the surgical-DML path: a downstream incremental
    * consumer reads the row-level delta across a MERGE + DELETE
    * sequence exactly as it would across whole-table rewrites — the
    * change feed is a pure function of two snapshots, so the
    * commit's GRANULARITY (which directories were touched) is
    * invisible to it, which is the composition this key pins. The
    * feed spans v1 (the clustered base) → latest (after
    * lake_merge_surgical's updates and lake_delete_surgical's
    * predicate delete) and is O(churn): unchanged rows never
    * appear. All three change classes are populated (the update and
    * delete key ranges are disjoint by construction, so no row is
    * both). */
  def lakeChangeFeedDml(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"))
    val ret = lineitem(s, d)
      .filter(col("l_returnflag") === "R" &&
              col("l_orderkey") >= 16384 && col("l_orderkey") < 32768)
      .select(col("l_orderkey")).distinct()
    val updates = ret
      .select(col("l_orderkey").as("key"), lit("R").as("status"))
      .union(ret.filter(col("l_orderkey") % 50 === 0)
        .select((col("l_orderkey") + 100000000L).as("key"),
                lit("N").as("status")))
    def hash = ArtifactCache.artifactHash(base).take(16) +
      ArtifactCache.artifactHash(updates).take(16)
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_cdf_dml"), d)(
      Seq(base, updates))(hash) { r =>
      LakeTable.append(base, r)
      LakeTable.rewriteClustered(LakeTable.read(s, r), r, "key", 8)
      LakeDml.mergeInto(s, r, updates, "key")
      LakeDml.deleteWhere(s, r,
        col("status") === "F" && col("key") < 8192,
        prunePreds = Seq(("key", "0", "8191")))
    }.dir
    QueriesR15.changeFeedFrame(s, root, 1L,
      LakeTable.latestVersion(s, root).get)
  }

  private val forgotten =
    scala.collection.mutable.Map.empty[String, String]

  /** GDPR forget-propagation over the streaming-ingest tables: the
    * 3-batch document ingest replays into its own root, then a
    * deterministic forget request (accepted doc_ids ≡ 7 mod 10)
    * deletes the named documents from the docs lake, their rows from
    * the LSH band index (so no future batch can match against a
    * forgotten document), and every audit pair NAMING them from the
    * rejects lake — each table's delete riding an idempotent
    * ("forget", 0) txn token, so a re-delivered request no-ops
    * exactly like a re-delivered ingest batch. Output: the fate
    * projection over the post-forget tables; the oracle replays the
    * full ingest from first principles and applies the same purge.
    *
    * Scale shape: the forget list is bounded metadata (a request,
    * not a scan); each delete is copy-on-write over the directories
    * that actually hold the named rows ([[LakeDml.bloomAll]]
    * backfills membership sidecars first — the ingest's per-batch
    * directories each span the whole id range, so only membership
    * can prune them). */
  def ingestForget(s: SparkSession, d: String): DataFrame = {
    val root = forgotten.synchronized {
      forgotten.getOrElseUpdate(d, {
        val r = RunScratch.dir("ingest_forget")
        val docs = documents(s, d)
        for (b <- 0L to 2L)
          Ingest.ingestBatch(docs.filter(col("doc_id") % 3 === b),
            r, "forget_replay", b,
            filter = Some(Ingest.tooShortRule(100)))
        val ids = LakeTable.read(s, Ingest.docsRoot(r))
          .filter(col("doc_id") % 10 === 7)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        Ingest.forgetDocs(s, r, ids)
        r
      })
    }
    QueriesR19.fateProjection(s, root)
  }

  /** The embedding-leg forget — same contract as [[ingestForget]]
    * over the vector ingest: a request list (accepted vec_ids ≡ 3
    * mod 10) deletes the named vectors from the vecs lake and every
    * audit pair naming them from vrejects, each under an idempotent
    * ("forget", 0) token. vec_ids are hash-uniform across the
    * per-batch directories (and across cell-clustered ones after
    * maintenance), so [[LakeDml.bloomAll]]-backfilled membership
    * sidecars do the pruning. The CODEBOOK is untouched by design:
    * it is a k-centroid aggregate, not personal rows — the standard
    * model-artifact posture for right-to-be-forgotten. */
  def ingestForgetEmb(s: SparkSession, d: String): DataFrame = {
    val root = forgotten.synchronized {
      forgotten.getOrElseUpdate(s"emb:$d", {
        val r = RunScratch.dir("ingest_forget_emb")
        val emb = embeddings(s, d).select("vec_id", "embedding")
        for (b <- 0L to 2L)
          Ingest.ingestEmbBatch(emb.filter(col("vec_id") % 3 === b),
            r, "forget_emb_replay", b, dupCos = 0.45, k = 16,
            filter = Some(QueriesR19.lowMassGate))
        val ids = LakeTable.read(s, Ingest.vecsRoot(r))
          .filter(col("vec_id") % 10 === 3)
          .select("vec_id").collect().map(_.getLong(0)).toSeq
        Ingest.forgetVecs(s, r, ids)
        r
      })
    }
    QueriesR19.embFateProjection(s, root)
  }
}
