package graft

/** Diagnostic harness for the full-session per-key floor (round-5
  * verdict #4: the driver tail showed +26% on 45 unchanged keys while
  * focused runs reproduced round-4 numbers — a session-accumulation
  * effect, not plan regressions). After every registry key this runs
  * three CONSTANT probes and prints a CSV row:
  *   - probe_job:  an empty 1-partition RDD job — pure scheduler +
  *     listener-bus floor, no SQL layer at all;
  *   - probe_sql:  sum over range(1e6) — analyzer + codegen-cache +
  *     whole-stage pipeline floor (identical plan every time, so a
  *     healthy codegen cache makes it constant);
  *   - gc_ms:      cumulative JVM GC time delta across the key+probes.
  * If probe_job grows with key index the rent is scheduler/listener
  * bookkeeping; if only probe_sql grows it is SQL-layer state; if
  * neither grows but keys still inflate, the cost is inside the keys'
  * own work (heap pressure visible via gc_ms). Not part of the driver
  * contract — a builder-side tool.
  */
object BenchFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionHygiene.session(cpus)

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def heapMb: Long = {
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val sc = spark.sparkContext
    println("idx,key,key_sec,probe_job_sec,probe_sql_sec,gc_ms,heap_mb")
    var keyIdx = 0
    var gcPrev = gcMs
    SparkEntry.queries.foreach { case (name, fn) =>
      keyIdx += 1
      SessionHygiene.step(spark, keyIdx)
      val tKey = time { try fn(spark, sfDir).count() catch { case _: Throwable => } }
      val tJob = time { sc.parallelize(Seq(1), 1).count() }
      val tSql = time { spark.range(1000000L).selectExpr("sum(id)").collect() }
      val gcNow = gcMs
      println(s"$keyIdx,$name,$tKey,$tJob,$tSql,${gcNow - gcPrev},$heapMb")
      gcPrev = gcNow
    }
    spark.stop()
  }
}
