package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Ingest

/** Measures the central Ingest claim (VERDICT r14 #6): per-batch
  * ingest cost is ∝ BATCH, not corpus — the accepted corpus grows
  * 1× → 10× → 100× and a fixed-size probe batch is timed at each
  * tier. Until now the claim was argued from plan shape (the batch
  * hashes only itself; the corpus is probed through its persisted
  * band index); this harness prints the measured curve for
  * SCALE.md §J.
  *
  * Corpus growth uses salted variants of the sf documents table:
  * every token of variant v carries a `_v<v>` suffix, so variants
  * share no shingles across v (the corpus grows ~linearly, no
  * cross-variant rejects) while keeping each variant's internal
  * near-dup structure (every tier still exercises real rejects).
  * Probe batches are 100 fresh salted docs (new ids, new salt per
  * probe), timed around the full ingestBatch call — staging, probe,
  * verify, and all four lake commits included. Maintenance runs
  * every 4 batches, so the timed probes at the 100× tier hit a
  * COMPACTED index, the production posture.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.BenchIngest
  * Prints one JSON line:
  *   {"metric":"ingest_probe_sec","tiers":{"<corpus rows>":sec,…}}
  */
object BenchIngest {

  private def salted(docs: DataFrame, v: Long): DataFrame =
    docs.select(
      (col("doc_id") + lit(v * 1000000L)).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => concat(w, lit(s"_v$v"))), " ").as("text"),
      col("n_chars"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionHygiene.session(cpus)
    val root = java.nio.file.Files
      .createTempDirectory("graft_bench_ingest").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "n_chars").localCheckpoint()
    val n = docs.count()
    val policy = Some(Ingest.IngestMaintenance(everyBatches = 4))
    var batchId = -1L
    def ingest(b: DataFrame): Unit = {
      batchId += 1
      Ingest.ingestBatch(b, root, "bench", batchId, maintenance = policy)
    }
    /** Median of 3 timed fresh probe batches (100 docs each). */
    def timeProbe(tier: String): Double = {
      val times = (0 until 3).map { p =>
        val probe = salted(docs.filter(col("doc_id") < 100),
          v = 500000L + batchId * 100L + p)
        val t0 = System.nanoTime()
        ingest(probe)
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    val tiers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def corpusRows(): Long =
      engine.LakeTable.read(spark, Ingest.docsRoot(root)).count()

    ingest(salted(docs, 0))                       // 1× tier
    tiers += s"${corpusRows()}" -> timeProbe("1x")
    for (g <- 0 until 3)                          // +9 variants → 10×
      ingest((1 to 3).map(i => salted(docs, g * 3 + i + 0L))
        .reduce(_ unionByName _))
    tiers += s"${corpusRows()}" -> timeProbe("10x")
    for (g <- 0 until 10)                         // +90 variants → 100×
      ingest((1 to 9).map(i => salted(docs, 10L + g * 9 + i - 1))
        .reduce(_ unionByName _))
    tiers += s"${corpusRows()}" -> timeProbe("100x")

    val js = tiers.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"ingest_probe_sec","sf_dir":"$sfDir",""" +
      s""""base_docs":$n,"probe_docs":100,"tiers":$js}""")
    spark.stop()
  }
}
