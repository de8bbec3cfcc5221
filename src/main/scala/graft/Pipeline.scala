package graft

import org.apache.spark.sql.SparkSession

import graft.engine.PipelineConfig

/** CLI entry point for config-declared pipelines — the shell-driveable
  * face of `engine.PipelineConfig` (SURVEY.md §2.1-P10 / §3.1 Entry 1:
  * the reference's `run <config.json>` orchestration surface,
  * re-expressed over the registry + ArtifactCache). `graft.Stream` is
  * the streaming twin; this is the batch-DAG one.
  *
  * Usage: runMain graft.Pipeline [--plan] <config.json> [sfDir] [outDir]
  *   reads  the JSON stage DAG from <config.json>
  *   runs   each stage in declaration order (query keys against
  *          <sfDir>; SQL stages over earlier stages' temp views;
  *          "cache": true stages through ArtifactCache)
  *   writes <outDir>/<stage>.parquet per stage + <outDir>/_run.json
  *          (per-stage kind / wave / cache-hit / rows / ms)
  *   prints ONE JSON line {"pipeline_stages":{name:rows,…},"out":dir}
  *   --plan: DRY RUN — prints the stage DAG (wave levels) with
  *          cache-hit status (content-hash probe, no data read) and
  *          writes nothing
  *
  * An example config lives at tools/example_pipeline.json.
  */
object Pipeline {

  private def readConfig(configPath: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(configPath)),
    java.nio.charset.StandardCharsets.UTF_8)

  /** Runs a config file's pipeline and writes every stage to parquet
    * plus a per-stage run manifest (`<outDir>/_run.json`: kind,
    * cache-hit status, rows, wall ms — the pipetree run report);
    * returns stage row counts. Callable from tests and from main. */
  def runFile(spark: SparkSession, configPath: String, sfDir: String,
              outDir: String): Map[String, Long] = {
    val report = PipelineConfig.runReport(spark, sfDir,
      PipelineConfig.parse(readConfig(configPath)))
    val entries = report.map { r =>
      val t0 = System.nanoTime()
      r.df.write.mode("overwrite").parquet(s"$outDir/${r.name}")
      val rows = spark.read.parquet(s"$outDir/${r.name}").count()
      val ms = r.ms + (System.nanoTime() - t0) / 1000000L
      val hit = r.cacheHit.map(h => s""""cache_hit":$h,""").getOrElse("")
      (r.name, rows,
       s"""{"name":${JsonOut.str(r.name)},"kind":"${r.kind}",""" +
         s""""wave":${r.wave},"cache":${r.cache},$hit""" +
         s""""rows":$rows,"ms":$ms}""")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/_run.json"),
      entries.map(_._3).mkString("[", ",", "]"))
    entries.map(e => e._1 -> e._2).toMap
  }

  /** Dry run: prints the stage plan (kind, cache status) without
    * materializing anything — the `--plan` surface. */
  def planFile(spark: SparkSession, configPath: String,
               sfDir: String): Seq[PipelineConfig.StageRun] =
    PipelineConfig.plan(spark, sfDir,
      PipelineConfig.parse(readConfig(configPath)))

  def main(args: Array[String]): Unit = {
    val flags = args.takeWhile(_.startsWith("--")).toSet
    val usage =
      "usage: runMain graft.Pipeline [--plan] <config.json> [sfDir] [outDir]"
    // unknown flags fail loudly: a typo'd --plan WRITING everything
    // it was asked to dry-run is the opposite of intent
    val unknownFlags = flags - "--plan"
    require(unknownFlags.isEmpty,
      s"unknown flag(s) ${unknownFlags.mkString(", ")}; $usage")
    val dryRun = flags("--plan")
    val rest = args.dropWhile(_.startsWith("--"))
    require(rest.nonEmpty, usage)
    val configPath = rest(0)
    val sfDir = rest.lift(1).getOrElse("/root/testdata/sf0.001")
    val outDir = rest.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_pipeline_out").toString)
    val spark = SessionHygiene.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    if (dryRun) {
      val js = planFile(spark, configPath, sfDir).map { r =>
        val hit = r.cacheHit.map(h => s""","cache_hit":$h""").getOrElse("")
        s"""{"name":${JsonOut.str(r.name)},"kind":"${r.kind}",""" +
          s""""wave":${r.wave},"cache":${r.cache}$hit}"""
      }.mkString("[", ",", "]")
      println(s"""{"pipeline_plan":$js}""")
    } else {
      val counts = runFile(spark, configPath, sfDir, outDir)
      val js = counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${JsonOut.str(k)}:$v" }.mkString("{", ",", "}")
      println(s"""{"pipeline_stages":$js,"out":${JsonOut.str(outDir)}}""")
    }
    spark.stop()
  }
}
