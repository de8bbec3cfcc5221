package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan-audit dump: writes every registry key's FORMATTED physical
  * plan to a text file — the shell-driveable counterpart of
  * PlanSpec/PlanGateSpec (those assert shapes; this hands the full
  * plans to a human or a diff). AQE is disabled for the dump so the
  * concrete operator tree is visible instead of
  * AdaptiveSparkPlan(isFinalPlan=false) placeholders — the shapes
  * PlanSpec pins (pushdown, join strategy, partitioning) are decided
  * before AQE's runtime re-optimization.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [key ...]
  *   writes <outDir>/<key>.txt and an _index.txt with per-key
  *   one-line operator tallies (scans/exchanges/joins/windows) —
  *   grep fodder for "which keys shuffle twice".
  *
  * Note: keys with driver-side plan iteration (pca_power, logreg,
  * connected components, bpe_train) RUN their training jobs while the
  * plan is constructed — a dump over all keys costs about one Verify
  * pass. */
object Explain {

  /** Dumps the selected keys' formatted plans; returns
    * (written, failed) counts. Callable from tests with the shared
    * session — AQE is toggled off and restored here. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Set[String] = Set.empty): (Int, Int) = {
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    val aqePrior = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val index = new StringBuilder
      var written = 0
      var failed = 0
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
          try {
            val qe = fn(spark, sfDir).queryExecution
            val formatted = qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/$name.txt"), formatted)
            val p = qe.executedPlan
            def n(pred: String => Boolean) =
              p.collect { case op if pred(op.nodeName) => op }.size
            index.append(f"$name%-28s scans=${n(_.contains("Scan"))}%-3d " +
              f"exchanges=${n(_.contains("Exchange"))}%-3d " +
              f"joins=${n(_.contains("Join"))}%-3d " +
              f"windows=${n(_.contains("Window"))}%-3d " +
              f"aggs=${n(_.contains("Aggregate"))}%d\n")
            written += 1
          } catch { case e: Throwable =>
            failed += 1
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
        }
      Files.writeString(Paths.get(s"$outDir/_index.txt"), index.toString)
      (written, failed)
    } finally aqePrior match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None    => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <outDir> [key ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionHygiene.session(cpus)
    val (written, failed) = run(spark, sfDir, outDir, args.drop(2).toSet)
    println(s"""{"explained": $written, "failed": $failed,""" +
      s""" "out": ${JsonOut.str(outDir)}}""")
    spark.stop()
  }
}
