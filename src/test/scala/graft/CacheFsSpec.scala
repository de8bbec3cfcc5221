package graft

import java.net.URI

import org.apache.spark.sql.functions._

import graft.engine.ArtifactCache

/** A Hadoop FileSystem registered purely BY CONFIGURATION
  * (`fs.graftfs.impl`), delegating to the raw local FS — the test
  * double for "point cacheRoot at s3a://… and nothing else changes".
  * Must be a top-level class: Hadoop instantiates it reflectively by
  * conf-supplied class name. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** Pins the ArtifactCache's Hadoop-FS abstraction claim (SURVEY
  * §2.1-P7, r8 verdict missing #2): every cache operation — existence
  * probe, scratch write, rename install, read-back, hit-path skip —
  * resolves its FileSystem from the PATH'S SCHEME via the Hadoop
  * conf, so a cacheRoot on any conf-registered store (s3a://, hdfs://)
  * works without code changes. Proven here with a scheme that does
  * not exist until the conf registers it.
  */
class CacheFsSpec extends SparkTestBase {

  test("cache round-trips through a conf-registered non-default FileSystem") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    // RawLocalFileSystem resolves relative to cwd; use an absolute path
    val local = java.nio.file.Files
      .createTempDirectory("graft_fs_abstraction").toString
    val root = s"graftfs://$local"
    val df = spark.read
      .parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name")
    val hash = "fsabstraction01"
    var computed = 0
    val out1 = ArtifactCache.materialize(spark, root, "fsprobe", "")(Nil)(hash) {
      computed += 1; df
    }
    assert(computed == 1, "first call must compute")
    assert(out1.count() == 25)
    // the artifact physically landed on the delegated local store
    val physical = new java.io.File(s"$local/fsprobe-$hash")
    assert(physical.isDirectory, s"artifact not written under $physical")
    assert(new java.io.File(physical, "_SUCCESS").exists())
    // hit path: compute must NOT be evaluated; read-back serves the
    // scheme-addressed artifact
    val out2 = ArtifactCache.materialize(spark, root, "fsprobe", "")(Nil)(hash) {
      computed += 1; df
    }
    assert(computed == 1, "second call recomputed despite a cached artifact")
    assert(out2.count() == 25)
    // and the read-back plan genuinely scans through the graftfs:// URI
    assert(out2.inputFiles.nonEmpty &&
           out2.inputFiles.forall(_.startsWith("graftfs://")),
      s"read-back did not route through the registered scheme: " +
        out2.inputFiles.take(2).mkString(","))
  }

  test("artifactHash fingerprints inputs through the FS API (file: scheme explicit)") {
    // the dependency-hash half of the claim: leaf fingerprints resolve
    // through Path.getFileSystem, so an explicitly schemed file: input
    // hashes identically to the bare-path spelling of the same data
    val bare = spark.read.parquet(s"$sfDir/region.parquet")
    val schemed = spark.read.parquet(s"file:$sfDir/region.parquet")
    assert(ArtifactCache.artifactHash(bare) ==
           ArtifactCache.artifactHash(schemed),
      "same bytes behind two path spellings produced different hashes")
  }
}
