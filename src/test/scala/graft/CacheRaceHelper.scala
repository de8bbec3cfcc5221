package graft

import org.apache.spark.sql.SparkSession

/** Second-JVM side of CacheRaceSpec: materializes the SAME keyed
  * artifacts into the SAME cache root as the spec's JVM, concurrently.
  * Prints one line per key: `key=<name> rows=<n>`; exit 0 on success.
  * Keys are processed in REVERSE order so the two processes meet in
  * the middle of the key list with live write/rename races. */
object CacheRaceHelper {

  /** Deterministic artifact content for key i — both JVMs must compute
    * (and therefore read back) exactly this. */
  def frame(spark: SparkSession, i: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(0, 500)
      .select(col("id"), (col("id") * (i + 1)).as("v"))
  }

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val nKeys = args(1).toInt
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (i <- (nKeys - 1) to 0 by -1) {
        val df = graft.engine.ArtifactCache.materialize(
          spark, root, s"race$i", "")(Nil)(f"racehash$i%02d")(frame(spark, i))
        println(s"key=race$i rows=${df.count()}")
      }
    } finally spark.stop()
  }
}
