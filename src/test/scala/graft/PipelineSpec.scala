package graft

import java.nio.file.Files

import graft.engine.{ArtifactCache, PipelineConfig}

/** P6/P10 parity tests: content-addressed caching skips recompute;
  * JSON pipelines chain stages through temp views.
  */
class PipelineSpec extends SparkTestBase {

  test("artifact cache: second materialize is a hit, changed plan is a miss") {
    val root = Files.createTempDirectory("graft_cache_test").toString
    def isCached(d: org.apache.spark.sql.DataFrame) = ArtifactCache.lookup(
      spark, root, "q1", ArtifactCache.artifactHash(d)).isDefined
    val df = graft.engine.QueriesCore.q1PricingSummary(spark, sfDir)
    assert(!isCached(df))
    val out1 = ArtifactCache.materialize(spark, root, "q1", "")(Nil)(
      ArtifactCache.artifactHash(df))(df)
    assert(isCached(df))
    // equivalent plan built fresh → same hash (canonicalization works)
    val df2 = graft.engine.QueriesCore.q1PricingSummary(spark, sfDir)
    assert(isCached(df2))
    // different computation → different hash
    val other = graft.engine.QueriesCore.distinctExact(spark, sfDir)
    assert(!isCached(other))
    assert(out1.count() == df.count())
  }

  test("materializeKeyed heals an artifact dir left without _SUCCESS") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cache_heal").toString
    val hash = "deadbeef"
    // corpse from a killed run: dir with a junk file, no _SUCCESS
    val corpse = new java.io.File(s"$root/thing-$hash")
    corpse.mkdirs()
    Files.writeString(corpse.toPath.resolve("part-junk.parquet"), "junk")
    val got = ArtifactCache.materialize(spark, root, "thing", "")(Nil)(hash)(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(got.count() == 2) // fresh data, not the corpse
    assert(new java.io.File(corpse, "_SUCCESS").exists())
    assert(!corpse.toPath.resolve("part-junk.parquet").toFile.exists())
    // and the cached read-back path serves the healed artifact
    val again = ArtifactCache.materialize(spark, root, "thing", "")(Nil)(hash)(
      sys.error("must not recompute on hit"))
    assert(again.count() == 2)
  }

  test("json pipeline: query stage + sql stage over it + cached stage") {
    val root = Files.createTempDirectory("graft_pipe_test").toString
    val json =
      s"""{"cacheRoot": "$root",
         | "stages": [
         |   {"name": "pricing", "query": "q1_pricing_summary"},
         |   {"name": "heavy", "sql":
         |     "SELECT l_returnflag, sum_qty FROM pricing WHERE count_order > 100",
         |    "cache": true}
         | ]}""".stripMargin
    val r1 = PipelineConfig.runJson(spark, sfDir, json)
    assert(r1("pricing").count() > 0)
    val heavyRows = r1("heavy").count()
    assert(heavyRows > 0)
    // rerun: cached stage must resolve to the same artifact (hit path)
    val r2 = PipelineConfig.runJson(spark, sfDir, json)
    assert(r2("heavy").count() == heavyRows)
    assert(r2("heavy").inputFiles.toSet == r1("heavy").inputFiles.toSet)
  }

  test("pipeline config validation rejects bad stages") {
    intercept[IllegalArgumentException] {
      PipelineConfig.parse("""{"stages": [{"name": "x"}]}""")
    }
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        """{"stages": [{"name": "x", "query": "a", "sql": "b"}]}""")
    }
  }

  test("Ops.asofJoin generic operator matches expectations on a toy case") {
    import spark.implicits._
    val left = Seq((100L, 1L, "2024-01-01 10:00:00"),
                   (101L, 1L, "2024-01-01 12:00:00"),
                   (102L, 2L, "2024-01-01 09:00:00"))
      .toDF("id", "k", "t_s")
      .selectExpr("id", "k", "CAST(t_s AS TIMESTAMP) AS t")
    val right = Seq((1L, "2024-01-01 10:00:00", 7L),
                    (1L, "2024-01-01 11:00:00", 8L),
                    (2L, "2024-01-01 09:30:00", 9L))
      .toDF("k", "t_s", "v")
      .selectExpr("k", "CAST(t_s AS TIMESTAMP) AS t", "v")
    val got = graft.engine.Ops
      .asofJoin(left, "id", "k", "t", right, "k", "t", "v", "m")
      .orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.toString)))
    // id=100 matches the equal-time order (inclusive <=); id=102 has no
    // order at or before 09:00 → null
    assert(got.toSeq == Seq((100L, Some("7")), (101L, Some("8")),
                            (102L, None)))
  }

  test("maintenance_compact shrinks the file count and preserves content") {
    // the oracle hash-match pins content; the FILE facts — the whole
    // point of compaction — are engine-side and asserted here
    val out = graft.engine.QueriesR11.maintenanceCompact(spark, sfDir)
      .collect()(0)
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val root = graft.engine.RunScratch.dir(
      "compact_" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_"))
    val nSmall = parquetFiles(s"$root/small")
    val nCompact = parquetFiles(s"$root/compacted")
    assert(nSmall == 64, s"staged fragment layout has $nSmall files")
    assert(nCompact <= 2, s"compaction left $nCompact files")
    assert(out.getAs[Long]("n_rows") == 1500L) // sf0.001 orders
  }

  test("graft.Pipeline CLI surface runs the example config end-to-end") {
    // the shell-driveable P10 entry: the SAME example config the repo
    // documents, through Pipeline.runFile (what main wraps), writing
    // every stage to parquet and counting the read-back
    val outDir = Files.createTempDirectory("graft_pipeline_spec").toString
    val counts = Pipeline.runFile(
      spark, "tools/example_pipeline.json", sfDir, outDir)
    assert(counts.keySet ==
      Set("pricing", "dedup", "quality", "rules", "survivors",
          "curated", "big_groups", "summary"))
    assert(counts("pricing") > 0 && counts("dedup") > 0)
    // the curation arm: trained quality scores AND the gopher rule
    // ledger joined onto dedup survivors — a real subset of them
    assert(counts("curated") > 0 && counts("curated") <= counts("survivors"))
    assert(counts("rules") > 0 && counts("curated") <= counts("rules"))
    // the SQL stages really consumed the earlier stages' temp views
    val summary = spark.read.parquet(s"$outDir/summary").collect()(0)
    assert(summary.getAs[Long]("n_unique_docs") == counts("dedup"))
    assert(summary.getAs[Long]("n_big_groups") == counts("big_groups"))
    assert(summary.getAs[Long]("n_curated") == counts("curated"))
    // and each stage landed as a readable parquet directory
    for (st <- counts.keys)
      assert(new java.io.File(s"$outDir/$st").isDirectory, s"$st not written")
    // the run manifest names every stage with rows + timing
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/_run.json"))
    for (st <- counts.keys)
      assert(manifest.contains(s""""name":"$st""""), s"$st not in _run.json")
    assert(manifest.contains(""""rows":""") && manifest.contains(""""ms":"""))
    // stages report in declaration order, with their DAG waves
    assert(manifest.indexOf("\"name\":\"pricing\"") <
           manifest.indexOf("\"name\":\"summary\""))
    assert(manifest.contains(""""wave":2"""))
  }

  test("stage DAG waves: query stages level 0, SQL stages after their refs") {
    val p = PipelineConfig.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("tools/example_pipeline.json")))
    val lvl = PipelineConfig.waves(p)
    // query stages read only base tables
    assert(lvl("pricing") == 0 && lvl("dedup") == 0 &&
           lvl("quality") == 0 && lvl("rules") == 0 &&
           lvl("survivors") == 0)
    // curated references survivors + quality (wave 0) → 1;
    // big_groups references pricing → 1;
    // summary references dedup (0), big_groups (1), curated (1) → 2
    assert(lvl("curated") == 1, s"curated at ${lvl("curated")}")
    assert(lvl("big_groups") == 1)
    assert(lvl("summary") == 2, s"summary at ${lvl("summary")}")
  }

  test("cached SQL stage with qualified refs hashes via the analyzed plan") {
    // regression: artifactHash canonicalized queryExecution.logical,
    // which for a spark.sql frame is the raw PARSED tree — any
    // qualified column reference crashed canonicalization
    // (UnresolvedAttribute.qualifier). The analyzed plan resolves
    // first; this pipeline failed before the fix.
    val root = Files.createTempDirectory("graft_pipe_qualref").toString
    val json =
      s"""{"cacheRoot": ${'"'}$root${'"'}, "stages": [
         |  {"name": "a_regions", "query": "scan_project_filter"},
         |  {"name": "joined",
         |   "sql": "SELECT a.n_a FROM (SELECT count(*) AS n_a FROM a_regions) a",
         |   "cache": true}
         |]}""".stripMargin
    val report = PipelineConfig.runReport(spark, sfDir,
      PipelineConfig.parse(json))
    assert(report.last.cacheHit.contains(false))
    assert(report.last.df.collect()(0).getLong(0) > 0)
    val again = PipelineConfig.runReport(spark, sfDir,
      PipelineConfig.parse(json))
    assert(again.last.cacheHit.contains(true), "SQL-stage artifact not reused")
  }

  test("--plan dry run reports cache-hit status without writing output") {
    // after the e2e run above populated the artifact cache, a dry-run
    // plan must see the cached stages as hits — and write NOTHING
    val report = Pipeline.planFile(
      spark, "tools/example_pipeline.json", sfDir)
    assert(report.map(_.name) ==
      Seq("pricing", "dedup", "quality", "rules", "survivors",
          "curated", "big_groups", "summary"))
    val byName = report.map(r => r.name -> r).toMap
    assert(byName("pricing").kind == "query" && !byName("pricing").cache)
    assert(byName("summary").kind == "sql")
    // cached stages: the prior test's run materialized them, so the
    // content-hash probe reports a hit (same inputs, same plan)
    assert(byName("dedup").cacheHit.contains(true),
      s"dedup artifact not seen as cached: ${byName("dedup")}")
    assert(byName("survivors").cacheHit.contains(true))
    assert(byName("big_groups").cacheHit.isEmpty, "uncached stage got a probe")
  }

  test("waves: SQL view references resolve case-insensitively") {
    // Spark resolves temp-view names case-insensitively, so 'FROM
    // Pricing' depends on stage "pricing" — a case-sensitive match
    // placed such a stage in wave 0, ahead of its dependency (r9
    // advice)
    val p = PipelineConfig.parse(
      """{"stages": [
        |  {"name": "pricing", "query": "q1_pricing_summary"},
        |  {"name": "Top", "sql": "SELECT * FROM Pricing LIMIT 1"},
        |  {"name": "again", "sql": "SELECT * FROM TOP"}
        |]}""".stripMargin)
    val lvl = PipelineConfig.waves(p)
    assert(lvl("pricing") == 0)
    assert(lvl("Top") == 1, s"'FROM Pricing' not seen as a dep: $lvl")
    assert(lvl("again") == 2, s"'FROM TOP' not seen as a dep: $lvl")
    // and stage names that differ only by case are rejected outright:
    // they would shadow each other's view
    assertThrows[IllegalArgumentException] {
      PipelineConfig.parse(
        """{"stages": [
          |  {"name": "a", "query": "q1_pricing_summary"},
          |  {"name": "A", "query": "q1_pricing_summary"}
          |]}""".stripMargin)
    }
  }

  test("plan: chained cached SQL stages report hits (artifact-frame views)") {
    // r9 advice: plan() used to register each stage's UNmaterialized
    // base frame as the view, so a cached SQL stage downstream of
    // another cached stage hashed a different analyzed plan in the
    // dry run than in the real run (which registers the artifact's
    // parquet frame) — a false miss even when the artifact exists
    val root = java.nio.file.Files
      .createTempDirectory("graft_chain_cache").toString
    val json =
      s"""{"cacheRoot": ${JsonOut.str(root)},
        | "stages": [
        |  {"name": "base_c", "query": "q1_pricing_summary",
        |   "cache": true},
        |  {"name": "mid_c", "sql": "SELECT * FROM base_c WHERE sum_qty > 0",
        |   "cache": true},
        |  {"name": "top_c", "sql": "SELECT count(*) AS n FROM mid_c",
        |   "cache": true}
        |]}""".stripMargin
    val p = PipelineConfig.parse(json)
    PipelineConfig.runReport(spark, sfDir, p) // populates all three
    val planned = PipelineConfig.plan(spark, sfDir, p)
    val misses = planned.filter(_.cacheHit.contains(false)).map(_.name)
    assert(misses.isEmpty,
      s"chained cached stages report false misses in --plan: $misses")
  }

  test("a cached stage with no file inputs runs uncached and reports misses") {
    // docs_quality_logreg trains by driver iteration over checkpointed
    // frames: nothing in its plan names a file, so no content hash
    // exists. The stage must still run, write its output, report
    // cache_hit false on every run, and leave --plan working.
    val dir = Files.createTempDirectory("graft_pipe_nofiles")
    val root = dir.resolve("cache").toString
    val config = dir.resolve("pipeline.json")
    Files.writeString(config,
      s"""{"cacheRoot": ${JsonOut.str(root)},
         | "stages": [{"name": "quality", "query": "docs_quality_logreg",
         |             "cache": true}]}""".stripMargin)
    for (run <- 1 to 2) {
      val out = dir.resolve(s"out$run").toString
      val counts = Pipeline.runFile(spark, config.toString, sfDir, out)
      assert(counts("quality") > 0, s"run $run wrote no rows")
      val manifest = Files.readString(dir.resolve(s"out$run/_run.json"))
      assert(manifest.contains(""""cache":true,"cache_hit":false"""),
        s"run $run manifest: $manifest")
    }
    val planned = Pipeline.planFile(spark, config.toString, sfDir)
    assert(planned.map(r => r.name -> r.cacheHit) ==
      Seq("quality" -> Some(false)))
    assert(!new java.io.File(root).exists(),
      "an unhashable stage wrote into the cache root")
  }
}
