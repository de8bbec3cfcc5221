package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{LakeDml, LakeTable}

/** Measures the central LakeDml claim: row-level DML cost is
  * ∝ AFFECTED DATA, not table size. The table grows 1× → 4× → 16×
  * and a fixed 8-key point delete is timed at each tier, in four
  * postures:
  *
  *   - `cow_bloom`: copy-on-write deleteByKeys on a HASH-SCATTERED
  *     layout (16 appendWithBloom batches — every directory spans
  *     the whole key range, so [min,max] stats cannot prune; the
  *     membership sidecars do). Expected: flat-ish — candidates are
  *     the few directories actually holding the keys; the rewrite
  *     touches only those (their SIZE grows with the tier, so a
  *     gentle rise is honest, but never ∝ table count × tier).
  *   - `cow_nobloom`: the same delete with the sidecars removed —
  *     the scan degrades to ALL directories (the hit-count pass goes
  *     ∝ table), isolating exactly what the blooms buy.
  *   - `mor_tombstone`: merge-on-read delete — writes one tombstone
  *     file and commits. Expected: CONSTANT (O(delete list), zero
  *     data directories touched) — the write-side floor.
  *   - `full_rewrite`: the naive baseline every lakehouse DML exists
  *     to avoid — filter + whole-table rewrite commit. Expected:
  *     ∝ table.
  *
  * Each tier builds fresh tables (builds untimed); deletes are timed
  * once per posture per tier (a delete mutates its table — repeats
  * would time a different state). Numbers land in SCALE.md's lake
  * section.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.BenchDml
  * Prints one JSON line:
  *   {"metric":"dml_delete_sec","tiers":{"<rows>":{posture:sec,…}}}
  */
object BenchDml {

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `base` replicated `k`× with disjoint key spaces. */
  private def scaled(base: DataFrame, k: Int): DataFrame =
    base.crossJoin(
        base.sparkSession.range(k.toLong).select(col("id").as("__rep")))
      .select((col("key") + col("__rep") * 1000000000L).as("key"),
              col("status"))

  /** 16 hash-scattered batches, each with a key-column sidecar. */
  private def buildScattered(df: DataFrame, root: String): Unit = {
    for (b <- 0 until 16)
      LakeDml.appendWithBloom(
        df.filter(pmod(xxhash64(col("key")), lit(16)) === b), root, "key")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionHygiene.session(cpus)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_benchdml").toString
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("key"),
              col("o_orderstatus").as("status"))
    // 8 scattered point keys, present at every tier (replica 0)
    val keys: Seq[Any] = base.filter(col("key") % 997 === 3)
      .orderBy("key").limit(8).select("key")
      .collect().map(_.getLong(0)).toSeq
    require(keys.size == 8, s"want 8 probe keys, got ${keys.size}")
    // 8 CO-LOCATED keys (one hash bucket = one landing directory):
    // isolates what the membership sidecars buy — candidates collapse
    // to ~1 of 16 directories, so both the hit scan and the rewrite
    // touch one directory regardless of tier
    val coKeys: Seq[Any] = base
      .filter(pmod(xxhash64(col("key")), lit(16)) === 3)
      .orderBy("key").limit(8).select("key")
      .collect().map(_.getLong(0)).toSeq
    require(coKeys.size == 8, s"want 8 co-located keys, got ${coKeys.size}")
    val tiers = Seq(1, 4, 16)
    val results = tiers.map { k =>
      val df = scaled(base, k).localCheckpoint()
      val rows = df.count()
      // fresh tables per posture — a delete mutates its table
      val rBloom = s"$scratch/bloom_$k"
      val rNoBloom = s"$scratch/nobloom_$k"
      val rMor = s"$scratch/mor_$k"
      val rFull = s"$scratch/full_$k"
      buildScattered(df, rBloom)
      buildScattered(df, rNoBloom)
      // strip the sidecars from the no-bloom table
      val f = new org.apache.hadoop.fs.Path(rNoBloom)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(rNoBloom,
        "_graft_log/blooms"), true)
      buildScattered(df, rMor)
      buildScattered(df, rFull)
      val cowBloom = time {
        LakeDml.deleteByKeys(spark, rBloom, "key", keys)
      }
      // co-located probe runs on the same (now-mutated) bloom table —
      // its keys are disjoint from the scattered probe's by filter
      val cowCo = time {
        LakeDml.deleteByKeys(spark, rBloom, "key", coKeys)
      }
      val cowNoBloom = time {
        LakeDml.deleteByKeys(spark, rNoBloom, "key", keys)
      }
      val mor = time {
        LakeDml.deleteByKeysMor(spark, rMor, "key",
          base.filter(col("key") % 997 === 3).limit(8).select("key"))
      }
      val full = time {
        LakeTable.rewrite(
          LakeTable.read(spark, rFull)
            .filter(!col("key").isin(keys: _*)), rFull)
      }
      System.err.println(
        f"[benchdml] rows=$rows%9d cow_bloom=$cowBloom%.3f " +
          f"cow_colocated=$cowCo%.3f " +
          f"cow_nobloom=$cowNoBloom%.3f mor=$mor%.3f full=$full%.3f")
      rows -> Map("cow_bloom" -> cowBloom, "cow_colocated" -> cowCo,
                  "cow_nobloom" -> cowNoBloom,
                  "mor_tombstone" -> mor, "full_rewrite" -> full)
    }
    val js = results.map { case (rows, m) =>
      s""""$rows":{${m.toSeq.sortBy(_._1).map { case (k, v) =>
        f""""$k":$v%.3f""" }.mkString(",")}}"""
    }.mkString(",")
    println(s"""{"metric":"dml_delete_sec","tiers":{$js}}""")
    spark.stop()
  }
}
