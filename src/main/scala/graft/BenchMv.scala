package graft

import org.apache.spark.sql.functions._

import graft.engine.{ArtifactCache, Artifacts, Mv, Tables}

/** Measures the MV rollup rewrite's claim: the SAME user query (a
  * q1-shaped aggregate over lineitem), first against the raw table,
  * then served from a registered summary — no query changes, the
  * optimizer swaps the scan. Prints one JSON line:
  *   {"metric":"mv_rewrite","raw_sec":…,"mv_sec":…,"speedup":…,…}
  *
  * The speedup at bench scale UNDERSTATES the target-scale claim:
  * raw cost is ∝ table (100 TB at deployment), MV cost is ∝ groups —
  * the measured ratio grows linearly with scale factor, which is why
  * raw_rows/mv_rows are printed alongside the times.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.BenchMv
  */
object BenchMv {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = SessionHygiene.session("32")

    val base = Tables.lineitem(spark, sfDir)
    def query() = base.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
           max("l_quantity").as("max_qty"))
    def time(): Double = {
      val t0 = System.nanoTime()
      query().collect()
      (System.nanoTime() - t0) / 1e9
    }

    query().collect() // warmup (codegen, file listing)
    val raw = median(Seq.fill(5)(time()))
    val rawRows = base.count()

    val hash = ArtifactCache.artifactHash(
      base.select("l_returnflag", "l_linestatus", "l_quantity")).take(16)
    val gcols = Seq("l_returnflag", "l_linestatus")
    val root = ArtifactCache.directory(spark, Artifacts.cacheRoot,
      Artifacts.lakeFixture("mv_lineitem_bench"), sfDir)(Nil)(hash) { r =>
      Mv.register(spark, "li_bench", base, gcols, Seq("l_quantity"), r)
    }.dir
    Mv.register(spark, "li_bench", base, gcols, Seq("l_quantity"), root)
    query().collect() // warmup the rewritten plan
    val mv = median(Seq.fill(5)(time()))
    val mvRows = graft.engine.LakeTable.read(spark, root).count()

    // honesty check: the served plan must actually scan the MV
    val served = query().queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten.forall(_.contains("mv_lineitem_bench"))
    require(served, "BenchMv: the rewrite did not fire — timing would lie")

    println(f"""{"metric":"mv_rewrite","raw_sec":$raw%.4f,"mv_sec":$mv%.4f,"speedup":${raw / mv}%.1f,"raw_rows":$rawRows,"mv_rows":$mvRows,"sf_dir":"$sfDir"}""")
    spark.stop()
  }
}
