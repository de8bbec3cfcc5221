package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 keys: the lake commit-log CHECKPOINT read path as a
  * first-class, oracle-checked operator (VERDICT r12 #6 — the
  * LakeTableSpec case proves the O(1)-log-files mechanism; this key
  * puts the checkpointed read's CONTENT under the DuckDB hash gate
  * every round).
  */
object QueriesR18 {
  import Tables._

  /** Checkpointed commit-log replay: a 14-commit table (12 appends →
    * CHECKPOINT at version 11 → 2 more appends) read back at a
    * PRE-checkpoint version (5 — pure JSON replay, the time-travel
    * path the checkpoint must never disturb) and at LATEST (13 —
    * loads the checkpoint + only the 2 commits after it). The
    * fixture is a P6 artifact: the transaction machinery runs once
    * per corpus, then every invocation times the two read paths.
    *
    * Scale shape: this is the 10^5-commit answer — reads fold ONE
    * checkpoint plus the post-checkpoint suffix instead of walking
    * every commit JSON; the checkpoint file is O(active dirs + stats)
    * metadata, never data. Oracle re-derives each version's content
    * from orders directly (version 5 = keys ≡ 0..5 mod 14, version
    * 13 = all keys). */
  def lakeLogCheckpoint(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey").as("key"),
                                   col("o_orderstatus").as("status"))
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_ckpt_v1"), d)(Seq(base))(
      ArtifactCache.artifactHash(base)) { r =>
      (0 until 12).foreach { i =>
        LakeTable.append(base.filter(col("key") % 14 === i), r)
      }
      val cv = LakeTable.checkpoint(s, r)
      require(cv == 11L, s"fixture drifted: checkpoint at $cv, wanted 11")
      LakeTable.append(base.filter(col("key") % 14 === 12), r)
      LakeTable.append(base.filter(col("key") % 14 === 13), r)
    }.dir
    Seq(5L, 13L)
      .map(v => LakeTable.read(s, root, Some(v))
        .groupBy("status")
        .agg(count(lit(1)).as("n"))
        .select(lit(v).cast("long").as("version"), col("status"), col("n")))
      .reduce(_.unionByName(_))
      .orderBy("version", "status")
  }
}
