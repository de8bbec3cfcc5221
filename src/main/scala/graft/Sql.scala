package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Bf, Cms, Exprs, Hll, NGrams, Qsk, SimHashAgg,
  Tables, Theta, TopK, Udfs}

/** The SQL front door (r11 verdict #8): any external user's first
  * question is "where do I type SQL" — this registers the ten corpus
  * tables as temp views under their plain names plus the engine's
  * whole function surface (scalar UDF, typed UDAF, generator UDTF,
  * native Catalyst expressions, sketch aggregates, bounded top-k),
  * then hands the text to `spark.sql`. Everything else — Catalyst
  * optimization, pushdown, AQE — is stock: the SQL path and the
  * DataFrame path compile to the same plans, which the sql_* registry
  * keys prove by oracle hash against DuckDB.
  *
  * Usage: `graft.Sql.run(spark, sfDir, "SELECT ...")`, or from a
  * shell: `runMain graft.Sql <sfDir> "<query>"`.
  */
object Sql {

  /** Registers the corpus views + the engine function surface;
    * idempotent, cheap (views are lazy plans). */
  def register(spark: SparkSession, sfDir: String): Unit = {
    Tables.region(spark, sfDir).createOrReplaceTempView("region")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")
    // guard like Register.once: spark.udf.register on an existing
    // name WARNs "replaced a previously registered function" per call
    val fr = spark.sessionState.functionRegistry
    def missing(n: String) =
      !fr.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    if (missing("haversine_km"))
      spark.udf.register("haversine_km",
        Udfs.haversineKm(_: Double, _: Double, _: Double, _: Double))
    if (missing("geomean"))
      spark.udf.register("geomean", Udfs.geoMeanUdaf)
    Exprs.register(spark)     // cosine_sim, hamming_dist, nfc_normalize,
                              // zorder2, zordern
    TopK.register(spark)      // topk_by_score
    NGrams.register(spark)    // the native generator UDTF
    Hll.register(spark)       // HLL sketch aggregates
    SimHashAgg.register(spark)
    Qsk.register(spark)       // quantile sketch family
    Bf.register(spark)        // bloom family
    Theta.register(spark)     // theta set-operation family
    Cms.register(spark)       // count-min family
  }

  /** [[register]] plus the engine's MAJOR ARTIFACTS as views — the
    * full SQL surface (r15 verdict #4: a user-facing engine is mostly
    * typed at in SQL; today's views cover the raw corpus, these add
    * what the engine COMPUTES). First call pays the artifact
    * materializations (near-dup pair list; the deterministic 3-batch
    * ingest replays — shared with the ingest_* keys, so within one
    * session the work happens once); later calls re-register lazy
    * plans over the same artifacts.
    *
    *   neardup_pairs(id1, id2, jaccard)   — MinHash-LSH pair list
    *   ingested_docs / ingest_bands / ingest_rejects / ingest_filtered
    *       — the document-ingest lake (accepted corpus, its LSH band
    *         index, the audit log, the quality-gate log)
    *   ingested_vecs / ingest_vrejects / ingest_vfiltered /
    *   ingest_codebook — the embedding-ingest lake */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    register(spark, sfDir)
    engine.Artifacts.nearDupPairs(spark, sfDir)
      .createOrReplaceTempView("neardup_pairs")
    val droot = engine.QueriesR19.ensureDocsIngest(spark, sfDir)
    engine.LakeTable.read(spark, engine.Ingest.docsRoot(droot))
      .createOrReplaceTempView("ingested_docs")
    engine.LakeTable.read(spark, engine.Ingest.bandsRoot(droot))
      .createOrReplaceTempView("ingest_bands")
    engine.LakeTable.read(spark, engine.Ingest.rejectsRoot(droot))
      .createOrReplaceTempView("ingest_rejects")
    engine.LakeTable.read(spark, engine.Ingest.filteredRoot(droot))
      .createOrReplaceTempView("ingest_filtered")
    val eroot = engine.QueriesR19.ensureEmbIngest(spark, sfDir)
    engine.LakeTable.read(spark, engine.Ingest.vecsRoot(eroot))
      .createOrReplaceTempView("ingested_vecs")
    engine.LakeTable.read(spark, engine.Ingest.vrejectsRoot(eroot))
      .createOrReplaceTempView("ingest_vrejects")
    engine.LakeTable.read(spark, engine.Ingest.vfilteredRoot(eroot))
      .createOrReplaceTempView("ingest_vfiltered")
    engine.LakeTable.read(spark, engine.Ingest.codebookRoot(eroot))
      .createOrReplaceTempView("ingest_codebook")
  }

  /** One SQL text over the registered corpus. */
  def run(spark: SparkSession, sfDir: String, sqlText: String): DataFrame = {
    register(spark, sfDir)
    spark.sql(sqlText)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Sql <sfDir> <query>")
    val spark =
      SessionHygiene.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    run(spark, args(0), args(1)).show(100, truncate = false)
    spark.stop()
  }
}
