package graft

/** Round-19 optimization diagnostic: split a key's wall time into
  * (a) frame CONSTRUCTION (the `fn(spark, sfDir)` call — registry
  * closures may run driver-side work: artifact ensures, view
  * registration, lake-log replay, iterative training loops),
  * (b) PLANNING (forcing `queryExecution.executedPlan` — analysis +
  * optimization + physical planning; with AQE on this is the initial
  * plan only), and (c) EXECUTION (`.count()` on the planned frame).
  * The guide (§1) says find where the time actually goes before
  * touching anything; at sf0.1 the inputs are 0.3–11 MB, so a key
  * whose time is (a)+(b) is an orchestration problem, not a data
  * problem, and needs a different fix than a shuffle-shaped one.
  *
  * Methodology matches Bench (warmup, then median of repeats of the
  * FULL construct+plan+count cycle, with the phases timed inside each
  * cycle), same env contract (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS).
  * Usage: runMain graft.BenchSplit key1,key2,... */
object BenchSplit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS").map(_.toInt).getOrElse(3)
    val spark = SessionHygiene.session(cpus)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.ERROR)
    val keys: Seq[String] =
      if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Bench.gatedKeys
    val unknown = keys.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    var keyIdx = 0
    println(f"${"key"}%-28s ${"constr"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s   (medians over $repeats)")
    keys.foreach { name =>
      val fn = SparkEntry.queries(name)
      keyIdx += 1
      SessionHygiene.step(spark, keyIdx)
      try { fn(spark, sfDir).count() } catch { case _: Throwable => } // warmup
      val triples = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimize+plan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      def med(xs: Seq[Double]): Double = {
        val st = xs.sorted; val n = st.size
        if (n % 2 == 1) st(n / 2) else (st(n / 2 - 1) + st(n / 2)) / 2.0
      }
      val (c, p, e) = (med(triples.map(_._1)), med(triples.map(_._2)), med(triples.map(_._3)))
      println(f"$name%-28s $c%8.3f $p%8.3f $e%8.3f ${c + p + e}%8.3f")
    }
    spark.stop()
  }
}
