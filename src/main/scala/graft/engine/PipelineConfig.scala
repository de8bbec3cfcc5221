package graft.engine

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSON pipeline DAG loader + runner — the Spark re-expression of the
  * reference's config-declared pipelines (SURVEY.md §2.1-P10:
  * config.py/pipeline.py stage DAGs) and its arbiter semantics
  * (§2.1-P8): stages run in declaration order, each result registered
  * as a temp view for downstream SQL stages; `"cache": true` routes
  * the stage through ArtifactCache, so an unchanged stage is loaded,
  * not recomputed — pipetree's stale-detection on Spark.
  *
  * Config shape:
  * {
  *   "cacheRoot": "/tmp/graft_cache",          // optional
  *   "stages": [
  *     {"name": "base",  "query": "q1_pricing_summary"},
  *     {"name": "top",   "sql": "SELECT * FROM base WHERE sum_qty > 10",
  *      "cache": true}
  *   ]
  * }
  * A stage has exactly one of:
  *  - "query": a declared key from Registry.queries (runs on `sfDir`);
  *  - "sql":   Spark SQL over previously declared stage names.
  */
object PipelineConfig {

  case class Stage(name: String, query: Option[String], sql: Option[String],
                   cache: Boolean)
  case class Pipeline(cacheRoot: Option[String], stages: Seq[Stage])

  def parse(json: String): Pipeline = {
    val root: JsonNode = new ObjectMapper().readTree(json)
    val stages = root.path("stages").elements().asScala.map { n =>
      val q = Option(n.get("query")).map(_.asText())
      val sql = Option(n.get("sql")).map(_.asText())
      require(q.isDefined ^ sql.isDefined,
        s"stage ${n.path("name").asText()} needs exactly one of query|sql")
      Stage(n.path("name").asText(), q, sql,
            Option(n.get("cache")).exists(_.asBoolean()))
    }.toSeq
    require(stages.nonEmpty, "pipeline has no stages")
    // case-INSENSITIVE uniqueness: temp views live in Spark's
    // case-insensitive namespace, so stages "Top" and "top" would
    // silently shadow each other's registered view
    require(stages.map(_.name.toLowerCase).distinct.size == stages.size,
      "duplicate stage names (stage names are case-insensitive: they " +
        "become Spark temp views)")
    Pipeline(Option(root.get("cacheRoot")).map(_.asText()), stages)
  }

  /** One executed (or planned) stage: `cacheHit` is Some(hit) for
    * "cache": true stages — whether the artifact already existed
    * BEFORE this run, always false for a stage with no file inputs to
    * hash — and None for uncached ones; `ms` covers stage
    * construction + (for cached stages) materialization; `wave` is
    * the stage's DAG level (see `waves`). */
  case class StageRun(name: String, kind: String, cache: Boolean,
                      cacheHit: Option[Boolean], ms: Long, wave: Int,
                      df: DataFrame)

  /** The stage DAG's levels. A SQL stage depends on every EARLIER
    * stage whose name appears as a whole word in its SQL text (the
    * temp-view reference — declaration order already forbids forward
    * references); query stages read only the base tables and sit at
    * wave 0. A stage's wave = 1 + max(dependency waves). Stages in
    * one wave are mutually independent by construction — the
    * pipetree DAG surface made explicit (`_run.json` and `--plan`
    * report it). */
  def waves(pipeline: Pipeline): Map[String, Int] = {
    val level = scala.collection.mutable.LinkedHashMap[String, Int]()
    pipeline.stages.foreach { st =>
      val deps = st.sql match {
        case Some(sql) =>
          // case-insensitive match: Spark resolves temp-view names
          // case-insensitively, so 'FROM Pricing' depends on stage
          // "pricing"
          val words =
            sql.split("[^A-Za-z0-9_]+").map(_.toLowerCase).toSet
          level.keys.filter(k => words.contains(k.toLowerCase)).toSeq
        case None => Seq.empty
      }
      level(st.name) =
        if (deps.isEmpty) 0 else deps.map(level).max + 1
    }
    level.toMap
  }

  private def stageBase(spark: SparkSession, sfDir: String,
                        st: Stage): DataFrame = (st.query, st.sql) match {
    case (Some(q), _) =>
      Registry.queries.getOrElse(q,
        throw new IllegalArgumentException(s"unknown query key: $q"))
        .apply(spark, sfDir)
    case (_, Some(sql)) => spark.sql(sql)
    case _ => throw new IllegalStateException("unreachable")
  }

  private def rootOf(pipeline: Pipeline): String =
    pipeline.cacheRoot.getOrElse(
      System.getProperty("java.io.tmpdir") + "/graft_artifacts")

  /** The content hash of a `"cache": true` stage, or None when its
    * frame has no file inputs (checkpoint-backed training loops,
    * in-memory relations): the plan string cannot capture such data,
    * so the stage runs and writes uncached and says so on stderr. */
  private def cacheHash(st: Stage, base: DataFrame): Option[String] =
    if (!st.cache) None
    else if (base.inputFiles.isEmpty) {
      System.err.println(s"[pipeline] WARN stage '${st.name}': " +
        "\"cache\": true ignored, its frame has no file inputs to " +
        "hash; running it uncached")
      None
    } else Some(ArtifactCache.artifactHash(base))

  private def runStage(spark: SparkSession, sfDir: String,
                       pipeline: Pipeline, st: Stage,
                       wave: Int): StageRun = {
    val t0 = System.nanoTime()
    val base = stageBase(spark, sfDir, st)
    val cached = cacheHash(st, base).map { h =>
      ArtifactCache.directory(spark, rootOf(pipeline), st.name, "")(Nil)(h)(
        base.write.mode("overwrite").parquet(_))
    }
    val df = cached.fold(base)(a => spark.read.parquet(a.dir))
    val hit = if (st.cache) Some(cached.exists(!_.built)) else None
    df.createOrReplaceTempView(st.name)
    StageRun(st.name, if (st.query.isDefined) "query" else "sql",
             st.cache, hit, (System.nanoTime() - t0) / 1000000L, wave, df)
  }

  /** Runs the pipeline with per-stage instrumentation (the pipetree
    * run-report shape: what ran, what the cache already had, how
    * long each stage took). Sequential, declaration order. */
  def runReport(spark: SparkSession, sfDir: String,
                pipeline: Pipeline): Seq[StageRun] = {
    val lvl = waves(pipeline)
    pipeline.stages.map(st =>
      runStage(spark, sfDir, pipeline, st, lvl(st.name)))
  }

  /** Runs the pipeline; returns every stage's DataFrame by name. */
  def run(spark: SparkSession, sfDir: String,
          pipeline: Pipeline): Map[String, DataFrame] =
    runReport(spark, sfDir, pipeline).map(r => r.name -> r.df).toMap

  /** DRY RUN — the pipetree `--plan` surface: walks the stage DAG,
    * registers each stage's LAZY view (so downstream SQL resolves),
    * and reports per stage what WOULD run: kind, cache flag, and
    * whether the artifact cache already holds it (content hash over
    * plan × input fingerprints — no data is read to answer). Nothing
    * materializes and no output is written. Caveat: stage
    * CONSTRUCTION itself runs training jobs for driver-iterative
    * keys (logreg / pca_power / bpe_train / connected components) —
    * those keys' plans embed trained literals by design. */
  def plan(spark: SparkSession, sfDir: String,
           pipeline: Pipeline): Seq[StageRun] = {
    val lvl = waves(pipeline)
    pipeline.stages.map { st =>
      val t0 = System.nanoTime()
      val base = stageBase(spark, sfDir, st)
      val dir = cacheHash(st, base).flatMap(
        ArtifactCache.lookup(spark, rootOf(pipeline), st.name, _))
      val hit = if (st.cache) Some(dir.isDefined) else None
      // For an already-cached stage, register the ARTIFACT's parquet
      // frame as the view — what runStage registers — so a cached SQL
      // stage downstream of another cached stage hashes the same
      // analyzed plan in the dry run as in the real run (a base-frame
      // view made chained cached stages report false misses). Reading
      // the artifact back only opens the parquet footer.
      val view = dir.fold(base)(spark.read.parquet(_))
      view.createOrReplaceTempView(st.name)
      StageRun(st.name, if (st.query.isDefined) "query" else "sql",
               st.cache, hit, (System.nanoTime() - t0) / 1000000L,
               lvl(st.name), view)
    }
  }

  def runJson(spark: SparkSession, sfDir: String,
              json: String): Map[String, DataFrame] =
    run(spark, sfDir, parse(json))
}
