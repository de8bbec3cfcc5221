package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.engine.{ArtifactCache, Artifacts, LakeTable, Tables}

/** Pins the round-19 metadata-memo optimizations: the artifact
  * cache's hit memo, the Tables schema memo, and the LakeTable
  * merged-schema memo. The contract under test in every case: a memo
  * NEVER survives an input change — touching a file, adding a file, or
  * rewriting a table re-derives everything — and a memo hit returns
  * frames whose DATA equals the slow path's. Also pinned here: the
  * memo's call-site key, its refusal to memoize an empty watch set,
  * and the age sweep over lake fixture trees.
  */
class CacheMemoSpec extends SparkTestBase {

  private def writeTable(dir: String, n: Int): Unit =
    spark.range(n).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** A plan-hashed artifact: the producing frame is its own watch set
    * and its canonical plan is the hash. */
  private def planHashed(root: String, name: String, in: String)(
      produce: => DataFrame): DataFrame = {
    lazy val df = produce
    ArtifactCache.materialize(spark, root, name, in)(Seq(df))(
      ArtifactCache.artifactHash(df))(df)
  }

  test("materializeLazy: hit path skips the producing frame entirely") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_root").toString
    val in = java.nio.file.Files
      .createTempDirectory("graft_memo_in").toString + "/t.parquet"
    writeTable(in, 10)
    var built = 0
    def call() = planHashed(root, "memo_probe", in) {
      built += 1
      spark.read.parquet(in).groupBy().agg(sum("v").as("sv"))
    }
    assert(call().head().getLong(0) == 90L)
    assert(built == 1)
    // hit: the producing-frame thunk must not be evaluated at all
    assert(call().head().getLong(0) == 90L)
    assert(built == 1, "hit path re-built the producing frame")
  }

  test("materializeLazy: an input rewrite invalidates the memo AND the artifact") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_root2").toString
    val in = java.nio.file.Files
      .createTempDirectory("graft_memo_in2").toString + "/t.parquet"
    writeTable(in, 10)
    var built = 0
    def call() = planHashed(root, "memo_probe2", in) {
      built += 1
      spark.read.parquet(in).groupBy().agg(sum("v").as("sv"))
    }
    assert(call().head().getLong(0) == 90L && built == 1)
    writeTable(in, 11) // new content → new listing fingerprint + new hash
    assert(call().head().getLong(0) == 110L,
      "memo served a stale artifact after the input changed")
    assert(built == 2, "input change did not re-build the producing frame")
    // and the refreshed artifact is itself memo-served afterwards
    assert(call().head().getLong(0) == 110L && built == 2)
  }

  test("materializeLazy: a semantics-bearing conf change re-derives") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_root3").toString
    val in = java.nio.file.Files
      .createTempDirectory("graft_memo_in3").toString + "/t.parquet"
    writeTable(in, 5)
    var built = 0
    def call() = planHashed(root, "memo_probe3", in) {
      built += 1
      spark.read.parquet(in).groupBy().agg(count(lit(1)).as("c"))
    }
    call(); assert(built == 1)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      call()
      assert(built == 2, "conf change did not invalidate the memo")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("materializeLazyKeyed: hit skips produce AND hash; logic-tag change regenerates") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_rootk").toString
    val in = java.nio.file.Files
      .createTempDirectory("graft_memo_ink").toString + "/t.parquet"
    writeTable(in, 10)
    var built = 0
    var hashed = 0
    var tag = "L1"
    def call() = ArtifactCache.materialize(spark, root, "memo_probek", in)(
      Seq(spark.read.parquet(in)))({ hashed += 1; s"h-$tag" }) {
      built += 1
      spark.read.parquet(in).groupBy().agg(sum("v").as("sv"))
    }
    assert(call().head().getLong(0) == 90L && built == 1 && hashed == 1)
    // hit: neither the hash thunk nor the producing frame evaluates
    assert(call().head().getLong(0) == 90L)
    assert(built == 1 && hashed == 1, "hit path re-derived hash or frame")
    // a changed logic tag (codec edit) regenerates even though the
    // memo'd input listing is unchanged — the memo only short-circuits
    // when the caller-visible world is unchanged, so flush it the way
    // a new JVM would arrive: with no memo but a live artifact dir.
    tag = "L2"
    ArtifactCache.clearHitMemo()
    assert(call().head().getLong(0) == 90L)
    assert(hashed == 2, "fresh JVM path did not re-evaluate the hash")
    assert(built == 2, "changed logic tag served the stale artifact")
  }

  test("LakeFixtures.cachedLazy: hit skips hash+build; source rewrite re-derives") {
    val in = java.nio.file.Files
      .createTempDirectory("graft_fix_in").toString + "/t.parquet"
    writeTable(in, 10)
    var hashed = 0
    var built = 0
    def src() = spark.read.parquet(in)
    def call() = ArtifactCache.directory(spark, Artifacts.cacheRoot,
      "memo_fixture_probe", in)(Seq(src()))({ hashed += 1
        ArtifactCache.artifactHash(src()) }) { r =>
      built += 1
      LakeTable.append(src().selectExpr("id AS k", "v"), r)
    }.dir
    val r1 = call()
    assert(hashed == 1 && built == 1)
    assert(LakeTable.read(spark, r1).count() == 10)
    // hit: neither the hash nor the build evaluates, same root returns
    assert(call() == r1)
    assert(hashed == 1 && built == 1, "hit path re-derived or re-built")
    // source rewrite: listing changes → full derivation → NEW tree
    writeTable(in, 12)
    val r2 = call()
    assert(hashed == 2, "source rewrite did not re-derive the hash")
    assert(built == 2 && r2 != r1,
      "source rewrite served the stale fixture tree")
    assert(LakeTable.read(spark, r2).count() == 12)
  }

  test("call sites sharing (name, inputsKey) keep their own artifacts") {
    // the memo key carries the call site: two sites that share a name
    // and an inputs key but hash differently (mv_star's two fixture
    // builders do) must each get — and keep getting — their own dir
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_sites").toString
    val in = java.nio.file.Files
      .createTempDirectory("graft_memo_sites_in").toString + "/t.parquet"
    writeTable(in, 4)
    def src = spark.read.parquet(in)
    def siteA() = ArtifactCache.materialize(spark, root, "shared", in)(
      Seq(src))("hashA")(src.selectExpr("id", "'A' AS site"))
    def siteB() = ArtifactCache.materialize(spark, root, "shared", in)(
      Seq(src))("hashB")(src.selectExpr("id", "'B' AS site"))
    def sites(df: DataFrame) =
      df.select("site").distinct().collect().map(_.getString(0)).toSeq
    for (_ <- 1 to 2) {
      assert(sites(siteA()) == Seq("A"), "site A served another artifact")
      assert(sites(siteB()) == Seq("B"), "site B served site A's memo entry")
    }
    assert(new java.io.File(root).list().filter(_.startsWith("shared-"))
      .sorted.toSeq == Seq("shared-hashA", "shared-hashB"))
  }

  test("an empty watch set is never memoized: the hash derives every call") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_nowatch").toString
    var hashed = 0
    var built = 0
    def call() = ArtifactCache.materialize(spark, root, "nowatch", "k")(Nil)(
      { hashed += 1; "h0" }) { built += 1; spark.range(3).toDF("id") }
    for (_ <- 1 to 3) assert(call().count() == 3)
    assert(hashed == 3, "an unwatched call served a memoized hash")
    assert(built == 1, "a complete artifact was rebuilt")
  }

  test("lake fixture trees age out: a hit refreshes _SUCCESS, a later miss sweeps a stale one") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_memo_sweep").toString
    val in = java.nio.file.Files
      .createTempDirectory("graft_memo_sweep_in").toString + "/t.parquet"
    writeTable(in, 10)
    def src() = spark.read.parquet(in)
    def fixture() = ArtifactCache.directory(spark, root,
      Artifacts.lakeFixture("sweep_probe"), in)(Seq(src()))(
      ArtifactCache.artifactHash(src())) { r =>
      LakeTable.append(src().selectExpr("id AS k", "v"), r)
    }
    val tree = fixture()
    assert(tree.built)
    val marker = new java.io.File(tree.dir, "_SUCCESS")
    assert(marker.isFile, "a lake fixture tree must carry _SUCCESS")
    val eightDaysAgo = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    assert(marker.setLastModified(eightDaysAgo))
    // hit: same tree, and the LRU clock moves to now
    val hit = fixture()
    assert(!hit.built && hit.dir == tree.dir)
    assert(marker.lastModified() > eightDaysAgo + 24L * 3600 * 1000,
      "a hit did not refresh the tree's _SUCCESS")
    // left unused for 8 days: the next miss in the root collects it
    assert(marker.setLastModified(eightDaysAgo))
    ArtifactCache.directory(spark, root, "other", "")(Nil)("h1")(
      spark.range(1).write.parquet(_))
    assert(!new java.io.File(tree.dir).exists(),
      "a stale lake fixture tree survived the miss path's sweep")
    // and the memo notices the vanished tree: rebuilt, readable
    val again = fixture()
    assert(again.built && again.dir == tree.dir)
    assert(LakeTable.read(spark, again.dir).count() == 10)
  }

  test("Tables schema memo: a rewritten table re-infers its schema") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tmemo").toString
    spark.range(3).selectExpr("id AS n_nationkey", "'x' AS n_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val s1 = Tables.nation(spark, dir).schema
    assert(s1.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    // rewrite with a WIDER schema: a stale schema memo would hide the
    // new column (or crash the scan)
    Thread.sleep(5) // ensure a distinct mtime on coarse-grained filesystems
    spark.range(3)
      .selectExpr("id AS n_nationkey", "'y' AS n_name", "id AS extra")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val df2 = Tables.nation(spark, dir)
    assert(df2.schema.fieldNames.contains("extra"),
      "schema memo served a stale schema after the table was rewritten")
    assert(df2.count() == 3)
  }

  test("LakeTable read memo: DML after a memoized read is visible") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lmemo").toString
    LakeTable.append(spark.range(4).selectExpr("id AS k", "id AS v"), root)
    assert(LakeTable.read(spark, root).count() == 4)
    assert(LakeTable.read(spark, root).count() == 4) // memo hit
    LakeTable.append(spark.range(4, 6).selectExpr("id AS k", "id AS v"), root)
    assert(LakeTable.read(spark, root).count() == 6,
      "read memo hid an appended version")
    // schema evolution across versions still merges
    LakeTable.append(
      spark.range(6, 7).selectExpr("id AS k", "id AS v", "id AS w"), root)
    val merged = LakeTable.read(spark, root)
    assert(merged.schema.fieldNames.contains("w"))
    assert(merged.count() == 7)
    assert(merged.where(col("w").isNotNull).count() == 1)
  }
}
