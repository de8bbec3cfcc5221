package graft

import scala.sys.process._

/** Two-JVM artifact-cache race (r8 verdict task #7): the
  * scratch-then-rename install claim (Cache.scala) exercised across
  * REAL process boundaries, not threads — a second JVM (own
  * SparkSession, own FS handles) materializes the same keyed
  * artifacts into the same root while this JVM does, in opposite key
  * order so the two meet mid-list with live write/rename races. The
  * contract: every key converges to ONE complete artifact (exactly
  * one dir, with _SUCCESS, correct full content), both processes read
  * back the same rows, and no .inflight scratch corpse survives.
  */
class CacheRaceSpec extends SparkTestBase {

  private val nKeys = 6

  test("concurrent materialize from two JVMs yields one consistent artifact per key") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cache_race").toString
    // forked test JVM → java.class.path IS the full test classpath
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.CacheRaceHelper", root, nKeys.toString)
    val outBuf = new StringBuilder
    val proc = Process(cmd).run(
      ProcessLogger(l => outBuf.synchronized { outBuf ++= l += '\n' }, _ => ()))
    // race from THIS JVM in forward key order while the helper runs
    // backward — the overlap lands mid-list
    val mine = (0 until nKeys).map { i =>
      val df = graft.engine.ArtifactCache.materialize(
        spark, root, s"race$i", "")(Nil)(f"racehash$i%02d")(
        CacheRaceHelper.frame(spark, i))
      i -> df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
    assert(proc.exitValue() == 0,
      s"helper JVM failed:\n${outBuf.synchronized(outBuf.toString)}")
    val helperRows = outBuf.synchronized(outBuf.toString).linesIterator
      .collect { case l if l.startsWith("key=race") =>
        val Array(k, r) = l.split(" ")
        k.drop(4) -> r.drop(5).toLong
      }.toMap
    for (i <- 0 until nKeys) {
      val expected = CacheRaceHelper.frame(spark, i)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // my read-back is complete and correct (not a partial install)
      assert(mine(i) == expected, s"race$i: this JVM read wrong content")
      // the other JVM read the same row count
      assert(helperRows(s"race$i") == expected.size.toLong,
        s"race$i: helper JVM read ${helperRows(s"race$i")} rows")
      // exactly ONE installed artifact dir for the key, with _SUCCESS
      val dirs = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith(s"race$i-"))
      assert(dirs.length == 1, s"race$i: ${dirs.length} artifact dirs")
      assert(new java.io.File(dirs(0), "_SUCCESS").exists(),
        s"race$i: winning artifact lacks _SUCCESS")
    }
    // no scratch corpses: every loser discarded its in-flight copy
    val inflight = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith(".inflight-"))
    assert(inflight.isEmpty,
      s"leftover scratch dirs: ${inflight.map(_.getName).mkString(",")}")
  }
}
