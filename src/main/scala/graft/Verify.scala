package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [key ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional key filter (args 3+) for fast single-key iteration;
    // unknown names fail loudly (the Bench SPARK_GRAFT_BENCH_KEYS rule)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionHygiene.session(cpus)
    new java.io.File(outDir).mkdirs()
    var keyIdx = 0
    var written = List.empty[String]
    var failed = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      keyIdx += 1
      SessionHygiene.step(spark, keyIdx)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        written ::= name
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name ->
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
    }
    def q(s: String): String = JsonOut.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Coverage tripwire (round-7 postmortem): a key that throws used to
    // leave a silent hole in the correctness output — 25 keys went
    // missing and the round still reported rc=0. The manifest makes the
    // expected-vs-written count a first-class artifact, and a non-empty
    // `failed` map names each hole with its error.
    val manifest =
      s"""{"registry_size": ${SparkEntry.queries.size},""" +
      s""" "attempted": $keyIdx,""" +
      s""" "written": ${written.size},""" +
      s""" "failed": ${failed.reverse
             .map { case (k, m) => s"${q(k)}: ${q(m)}" }
             .mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), manifest)
    // Loud but not fatal: rc stays 0 so the driver's DuckDB compare
    // still grades the keys that DID run — one flaky key must cost one
    // key, not the round.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/$keyIdx keys FAILED " +
        s"(see $outDir/_manifest.json): ${failed.reverse.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
