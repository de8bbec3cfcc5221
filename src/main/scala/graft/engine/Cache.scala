package graft.engine

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-addressed artifact materialization — the Spark re-expression
  * of the reference's ONE real computed semantic (pipetree's
  * specific/dependency/parameter hash caching; SURVEY.md §2.1-P6,
  * §4.1): a stage rerun is skipped iff the hash of (computation ×
  * inputs) is unchanged.
  *
  * Hash composition ([[artifactHash]]):
  *  - "specific hash"   → the canonicalized logical plan (normalizes
  *    alias ids/ordering, so equivalent plans share a hash);
  *  - "dependency hash" → the leaf input files' (path, length,
  *    modification time) fingerprint, via the Hadoop FS API — works
  *    unchanged against any Hadoop-compatible store (local now,
  *    s3a/hdfs by config, matching pipetree's Local/S3 backends).
  * Callers whose producing frame has no stable plan hash (checkpoint-
  * backed training loops, typed lambdas) pass their own: the input
  * frame's hash plus a version in the name or a logic tag.
  *
  * ONE install protocol serves every artifact, parquet frame or
  * directory tree (lake fixtures, shard folders):
  *  - an artifact lives at `<root>/<name>-<hash>` and is complete iff
  *    it holds `_SUCCESS`;
  *  - a miss builds into `<root>/.inflight-<name>-<hash>-<nanos>`,
  *    marks `_SUCCESS`, heals a marker-less corpse at the target, then
  *    renames into place — or discards its copy when a concurrent
  *    winner got there first, so readers never see a half-written
  *    artifact; a miss also runs [[sweepStale]];
  *  - a hit refreshes `_SUCCESS`'s mtime (the LRU clock the sweep
  *    reads).
  * One in-JVM hit memo sits in front of it: see [[directory]].
  *
  * At 100 TB: the existence probe is one FS metadata call, and
  * re-listing leaf files costs one listing per input table — never a
  * data read.
  */
object ArtifactCache {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Stable content hash of a DataFrame's computation + inputs.
    *
    * DELIBERATELY NOT `Dataset.semanticHash`: that hashes the
    * canonicalized tree's `hashCode`, which folds in
    * `Class.hashCode()` of non-case-class nodes (e.g.
    * `ParquetFileFormat` inside `HadoopFsRelation`) — a value that
    * changes every JVM launch. Measured in round 3: one unchanged
    * embeddings input produced SEVEN distinct artifact hashes across
    * one driver session's JVMs, so artifacts were recomputed by every
    * phase instead of reused. The canonicalized plan STRING is
    * JVM-stable (verified: identical across processes while
    * semanticHash differed), so the hash is built from it plus the
    * full schema JSON. Spark truncates long field lists in plan
    * strings (`spark.sql.debug.maxToStringFields`, default 25), which
    * could collide wide plans differing only in truncated regions —
    * the conf is raised around the render so nothing truncates. */
  def artifactHash(df: DataFrame): String = {
    val spark = df.sparkSession
    val key = "spark.sql.debug.maxToStringFields"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "100000")
    // ANALYZED, not `.logical`: for a spark.sql frame the logical plan
    // is the raw parsed tree, and canonicalizing it crashes on any
    // qualified column reference (UnresolvedAttribute.qualifier) — a
    // cached SQL pipeline stage like `SELECT a.x FROM (...) a` hit
    // this. The analyzed plan is fully resolved and its canonicalized
    // string is JVM-stable the same way (exprIds normalized).
    val planPart =
      try df.schema.json + "\n" +
        df.queryExecution.analyzed.canonicalized.toString
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    val conf = spark.sparkContext.hadoopConfiguration
    // A plan with NO file inputs (LocalRelation, range, memory stream)
    // prints only its schema in the canonicalized string — two
    // different in-memory datasets would collide on one hash and the
    // second caller would silently read the first's artifact. Refuse
    // rather than be subtly wrong; such frames have nothing worth
    // caching anyway.
    require(df.inputFiles.nonEmpty,
      "artifactHash requires file-backed inputs (the plan string does " +
        "not capture in-memory data); pass an explicit content hash " +
        "instead")
    val inputPart = df.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }.mkString("\n")
    // Semantics-bearing session confs the plan string does NOT capture:
    // year()/date_trunc()/to_timestamp() results depend on the session
    // time zone, and ANSI mode changes cast/overflow behavior. Without
    // these, one run from a non-UTC session would poison a shared
    // artifact (e.g. the year(l_shipdate)-partitioned DPP layout) for
    // every UTC consumer. Folding them in makes a differently-configured
    // session create a DIFFERENT artifact instead of corrupting this one.
    md5hex(planPart + "\n--confs--\n" + confFp(spark) +
      "\n--inputs--\n" + inputPart)
  }

  /** Hex digest of raw bytes — the public face of [[md5hex]] for
    * logic-tag probes (a fixture encoder's output on a fixed probe
    * image, folded into a keyed artifact's hash so editing the codec
    * regenerates the artifact instead of serving stale blobs). */
  def bytesTag(bs: Array[Byte]*): String = {
    val md = MessageDigest.getInstance("MD5")
    bs.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private def confFp(spark: SparkSession): String =
    Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled")
      .map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")
      .mkString("\n")

  /** Session confs that change what a parquet FOOTER infers as — the
    * key every schema memo must carry (r19 ADVICE: Tables keyed only
    * on nanosAsLong; LakeTable on nothing). One shared list so the
    * memos cannot drift apart. */
  private[engine] def parquetInferConfFp(spark: SparkSession): String =
    Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.caseSensitive")
      .map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")
      .mkString("\n")

  /** Parquet face: the artifact's frame, read back from its directory
    * on a hit and a miss alike (so downstream consumers scan the
    * materialized parquet either way). `produce` is evaluated only
    * when the artifact must be built; see [[directory]] for
    * `inputsKey`, `watch` and `hash`. Callers that need their own
    * writer (partitionBy, parquet writer options) use [[directory]]. */
  def materialize(spark: SparkSession, root: String, name: String,
                  inputsKey: String)(watch: => Seq[DataFrame])(
                  hash: => String)(produce: => DataFrame): DataFrame =
    spark.read.parquet(directory(spark, root, name, inputsKey)(watch)(hash)(
      produce.write.mode("overwrite").parquet(_)).dir)

  /** The `--plan` probe: the complete artifact directory for
    * (name, hash) if one exists. Reads no data and builds nothing. */
  def lookup(spark: SparkSession, root: String, name: String,
             hash: String): Option[String] = {
    val dir = artifactDir(root, name, hash)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, "_SUCCESS"))) Some(dir.toString) else None
  }

  /** An artifact directory and whether this call built it (a miss). */
  case class Installed(dir: String, built: Boolean)

  private def artifactDir(root: String, name: String, hash: String): Path =
    new Path(s"$root/$name-$hash")

  // ------------------------------------------------------------------
  // The hit memo (round-19 optimization: artifact-consumer keys spent
  // 0.6–1.3 s of DRIVER time per call re-deriving an unchanged content
  // hash — rebuilding the producing frame, walking `inputFiles`,
  // re-rendering the canonical plan — only to find the same directory
  // as last time).
  //
  // It stores METADATA ONLY — (watched directories, their listing
  // fingerprint, the semantics-bearing conf fingerprint, the artifact
  // dir) — never rows. Every call re-verifies freshness from the
  // filesystem: it re-lists the watched directories and compares. ANY
  // difference — file added, removed, resized, touched, directory
  // restructured — or a changed conf, or a vanished _SUCCESS, falls
  // back to the full derivation (watch → hash → probe/build). A false
  // MISS only costs speed; a false HIT would need an input mutation
  // invisible to every watched listing — not a thing on the
  // local/posix and Hadoop-compatible stores this engine targets.
  // ------------------------------------------------------------------
  private case class HitMemo(watchDirs: Seq[String], listingFp: String,
                             confFp: String, dir: String)
  private val hitMemo =
    new java.util.concurrent.ConcurrentHashMap[String, HitMemo]()

  /** Test seam: drops every memoized hit so a suite can simulate a
    * fresh JVM (the memo is in-process state; producing CODE cannot
    * change under a live memo, so only tests need this). */
  private[graft] def clearHitMemo(): Unit = hitMemo.clear()

  /** The hit memos assume a bounded set of (root, name, inputs) per
    * JVM; a long-lived driver cycling through unbounded roots (every
    * asOf dir set, say) would otherwise accumulate entries forever
    * (r19 ADVICE). The cap is far above any real session's working
    * set, so eviction is a full reset — entries are metadata-only and
    * rebuild on the next call. */
  private[engine] val MemoCap = 8192
  private[engine] def capMemo(m: java.util.concurrent.ConcurrentHashMap[_, _])
      : Unit =
    if (m.size > MemoCap) m.clear()

  /** Directory face, and the one install routine behind every face:
    * `build(dir)` writes the whole artifact tree into the scratch
    * directory it is handed — a lake table with its own `_graft_log`,
    * a folder of stable-named shard files, a parquet write with a
    * custom writer. Everything inside must be root-relative, so the
    * install rename is semantics-free.
    *
    *  - `inputsKey` must uniquely determine the producing computation
    *    GIVEN the name and the call site within this JVM (callers pass
    *    the data directory);
    *  - `watch` names the frames whose input files fingerprint
    *    freshness; an EMPTY watch set has no freshness check, so such
    *    a call is never memoized and derives its hash every time
    *    (checkpoint-backed frames, explicit-hash callers);
    *  - `hash` is the content hash, evaluated only on a memo miss.
    * The memo key carries the call site ([[callerTag]]), so two sites
    * sharing (name, inputsKey) never serve each other's entry. */
  def directory(spark: SparkSession, root: String, name: String,
                inputsKey: String)(watch: => Seq[DataFrame])(
                hash: => String)(build: String => Unit): Installed = {
    val key = s"$root|$name|$inputsKey|${callerTag()}"
    val conf = spark.sparkContext.hadoopConfiguration
    val cf = confFp(spark)
    val m = hitMemo.get(key)
    if (m != null && m.confFp == cf &&
        listingFp(spark, m.watchDirs) == m.listingFp) {
      val success = new Path(m.dir, "_SUCCESS")
      val fs = success.getFileSystem(conf)
      if (fs.exists(success)) {
        touch(fs, success)
        return Installed(m.dir, built = false)
      }
    }
    // Fingerprint the inputs BEFORE deriving or building: if a writer
    // lands between this snapshot and a later hit check, the compare
    // fails and the full path re-runs — stale-open races only ever
    // cause recomputation, never a stale serve.
    val dirs = watchDirs(watch.flatMap(_.inputFiles.toSeq))
    val fp = listingFp(spark, dirs)
    val h = hash
    val dir = artifactDir(root, name, h)
    val fs = dir.getFileSystem(conf)
    val success = new Path(dir, "_SUCCESS")
    val built = !fs.exists(success)
    if (!built) touch(fs, success)
    else {
      sweepStale(fs, new Path(root))
      val scratch = new Path(
        s"$root/.inflight-$name-$h-${System.nanoTime()}")
      build(scratch.toString)
      fs.create(new Path(scratch, "_SUCCESS"), true).close()
      // Self-heal: an artifact dir WITHOUT _SUCCESS is a corpse from a
      // killed run — serving its partial files would be silently
      // wrong forever. Remove it before installing the fresh copy.
      if (fs.exists(dir) && !fs.exists(success)) fs.delete(dir, true)
      // Install unless a concurrent winner appeared. Checking exists(dir)
      // (not just _SUCCESS) also avoids the local-FS rename fallback that
      // would "succeed" by nesting scratch INSIDE an existing dir. The
      // remaining TOCTOU window can only nest a dot-prefixed dir that
      // parquet readers ignore and the next call's heal branch removes.
      if (fs.exists(dir) || !fs.rename(scratch, dir))
        fs.delete(scratch, true)
    }
    if (dirs.nonEmpty) {
      capMemo(hitMemo)
      hitMemo.put(key, HitMemo(dirs, fp, cf, dir.toString))
    }
    Installed(dir.toString, built)
  }

  /** First stack frame outside this file — folds the CALL SITE into
    * the memo key, so two call sites that (wrongly or deliberately)
    * share (name, inputsKey) but build different artifacts can never
    * serve each other's memoized dir: each site derives fully once —
    * where the content hash keeps them distinct — and hits only its
    * own entry thereafter (r19 ADVICE on the hit path's missing hash
    * check). ~µs per call, in-JVM only. */
  private def callerTag(): String =
    new Throwable().getStackTrace
      .find(e => e.getFileName != null && e.getFileName != "Cache.scala")
      .map(e => s"${e.getFileName}:${e.getLineNumber}")
      .getOrElse("unknown")

  /** Directories whose listings fingerprint the inputs: every leaf
    * file's parent and grandparent, PLUS every ancestor up to the
    * common root of the leaf set (r19 ADVICE: parent+grandparent
    * alone misses a partition branch added ≥3 levels above a leaf —
    * e.g. a new `y=2021/` under a `y=/m=/d=` table whose leaves sit
    * three deep; the table root's own listing is what sees it). The
    * walk stops at the COMMON ancestor, never the filesystem root, so
    * unrelated trees (artifact cache vs. data dir) don't drag `/`
    * into the watch set; inputs that share no meaningful root (< 2
    * path components in common) contribute only their parent +
    * grandparent. */
  private def watchDirs(files: Seq[String]): Seq[String] = {
    val parents = files.map(f => new Path(f).getParent).filter(_ != null)
    val base = parents ++ parents.map(_.getParent).filter(_ != null)
    val comps = parents.distinct.map(_.toString.split('/').toSeq)
    val ancestors =
      if (comps.size < 2) Nil
      else {
        val common = comps.reduce((a, b) =>
          a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1))
        // "file:", "" and the first real component: require ≥ 2 real
        // components (e.g. /root/testdata) before walking anything
        val minDepth = common.size
        if (common.count(_.nonEmpty) < 2) Nil
        else parents.flatMap { p =>
          val buf = scala.collection.mutable.ListBuffer[Path]()
          var cur = p.getParent
          while (cur != null &&
                 cur.toString.split('/').length >= minDepth) {
            buf += cur
            cur = cur.getParent
          }
          buf
        }
      }
    (base ++ ancestors).map(_.toString).distinct.sorted
  }

  /** One FS listing per watched directory: every child's (name,
    * length, mtime, isDir). Missing dir renders as "absent" —
    * compares unequal to any live listing, forcing the full path.
    *
    * Two deliberate exclusions, both LRU-clock artifacts of this very
    * cache (an artifact dir is often the INPUT of another artifact —
    * phash pairs read the phash table; incremental-dedup candidates
    * read the band index — and a fingerprint that sees the upstream
    * read's own bookkeeping would self-invalidate every call):
    *  - `_SUCCESS` fingerprints by PRESENCE only: its mtime is the
    *    LRU touch; its existence matters (half-written artifact
    *    detection), and the data content it guards is covered by the
    *    sibling files' entries.
    *  - the directory's own mtime is folded in only via the child
    *    list: posix updates it on entry create/delete, which the
    *    sorted child list already captures, while `setTimes` on a
    *    child does not touch it. */
  private def listingFp(spark: SparkSession, dirs: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map { ds =>
      val p = new Path(ds)
      val fs = p.getFileSystem(conf)
      try {
        val kids = fs.listStatus(p).map { st =>
          val n = st.getPath.getName
          if (n == "_SUCCESS" || n == "._SUCCESS.crc") s"$n:present"
          else s"$n:${st.getLen}:${st.getModificationTime}:${st.isDirectory}"
        }.sorted.mkString(",")
        s"$ds[$kids]"
      } catch { case _: Exception => s"$ds@absent" }
    }.mkString("\n")
  }

  private def isLocalFs(p: Path): Boolean = {
    val scheme = p.toUri.getScheme
    scheme == null || scheme == "file"
  }

  /** LRU touch: _SUCCESS's mtime records last USE, so the age sweep
    * only collects artifacts nothing has read in 7 days. Local-FS
    * only, matching the sweep's own guard (see [[sweepStale]]). */
  private def touch(fs: org.apache.hadoop.fs.FileSystem,
                    success: Path): Unit =
    if (isLocalFs(success))
      try fs.setTimes(success, System.currentTimeMillis(), -1)
      catch { case _: Exception => () }

  /** Best-effort GC, run only on the (already expensive) miss path:
    * `.inflight-*` scratch dirs older than 6 h (crashed builds, lost
    * rename races) and completed artifacts — parquet dirs and lake
    * trees alike — whose _SUCCESS hasn't been touched in 7 days
    * (orphans from superseded input/code hashes — hits refresh the
    * mtime, so anything this old is unreachable by any live hash or
    * genuinely unused).
    *
    * The age sweep is LOCAL-FS ONLY: object stores (s3a) treat
    * `setTimes` as a no-op, so the LRU touch never lands there and the
    * sweep would collect artifacts that are read hourly. Shared-store
    * deployments expire the cache with storage lifecycle rules
    * instead. (A 7-days-unused artifact being lazily scanned by a
    * concurrent local JVM at the moment of deletion is the accepted
    * residual race — the reader retries from a cache miss.) */
  private def sweepStale(fs: org.apache.hadoop.fs.FileSystem,
                         root: Path): Unit =
    try {
      if (fs.exists(root)) {
        val now = System.currentTimeMillis()
        val inflightCutoff = now - 6L * 3600 * 1000
        val artifactCutoff = now - 7L * 24 * 3600 * 1000
        val local = isLocalFs(root)
        fs.listStatus(root).foreach { st =>
          val name = st.getPath.getName
          try {
            if (name.startsWith(".inflight-")) {
              if (st.getModificationTime < inflightCutoff)
                fs.delete(st.getPath, true)
            } else if (local && st.isDirectory) {
              val succ = new Path(st.getPath, "_SUCCESS")
              if (fs.exists(succ) &&
                  fs.getFileStatus(succ).getModificationTime < artifactCutoff)
                fs.delete(st.getPath, true)
            }
          } catch { case _: Exception => () }
        }
      }
    } catch { case _: Exception => () }
}

/** Engine-internal artifacts routed through [[ArtifactCache]] — P6
  * (content-hash stale-skip) applied to the engine's own hot spots —
  * plus the naming rule for the cached lake fixtures.
  */
object Artifacts {
  /** Default artifact root. Per-hash subdirectories make concurrent
    * runs collide only on identical (plan × inputs), where the atomic
    * install rename resolves the race. Overridable via the
    * `graft.cache.root` system property or `GRAFT_CACHE_ROOT` env var
    * (cold benchmarking isolates itself with a fresh root instead of
    * wiping the shared one; a deployment points it at its artifact
    * store). */
  def cacheRoot: String =
    sys.props.get("graft.cache.root")
      .orElse(sys.env.get("GRAFT_CACHE_ROOT"))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft_artifact_cache")

  /** Artifact name of a cached lake-table fixture — P6 applied to the
    * lake/MV keys' multi-version fixture tables (r10 verdict #3):
    * building one (appends + merge/rewrite commits) is deterministic in
    * (source content × build spec), so the first invocation pays the
    * transaction machinery once through [[ArtifactCache.directory]] and
    * every later invocation replays the commit log only. The suffix is
    * LakeTable's log-format version, bumped whenever the LOG FORMAT or
    * layout semantics change (r11 ADVICE #3: content hashes cannot see
    * the producing code) — fmt4 records every writer's stats in the
    * kind-aware colStats form (older trees carry only the retired
    * single-column stats map, which no reader prunes with). */
  def lakeFixture(name: String): String = s"$name-fmt4"

  /** The verified near-dup pair list (id1, id2, jaccard) for the
    * documents table — the shared upstream of docs_dedup_near /
    * _resolve / _cc, which would otherwise each re-run the full
    * shingle→minhash→LSH→verify pipeline. First consumer pays the
    * compute and writes the artifact; later consumers (same inputs,
    * same pipeline) scan ~25 parquet rows. At 100 TB this is exactly
    * the artifact a dedup pass would persist between pipeline stages:
    * the pair list is tiny relative to the corpus, and the content
    * hash re-runs the pipeline iff the corpus or the pipeline
    * changed. */
  def nearDupPairs(s: SparkSession, dataDir: String): DataFrame = {
    lazy val pairs =
      Ops.minhashNearDup(Tables.documents(s, dataDir), "doc_id", "text")
    ArtifactCache.materialize(s, cacheRoot, "neardup_pairs", dataDir)(
      Seq(pairs))(ArtifactCache.artifactHash(pairs))(pairs)
  }

  /** The LSH band index (band, bh, doc_id) of the BASE corpus slice
    * (doc_id ≢ 0 mod 3) — the persisted half of incremental dedup:
    * built once per corpus fingerprint, then every delta batch probes
    * it without re-hashing the base (docs_dedup_incremental). At
    * 100 TB this is the index a daily-ingest dedup keeps warm;
    * O(corpus) rows but 24 bytes each, hash-partitioned on the
    * (band, bh) probe key. */
  def baseBandIndex(s: SparkSession, dataDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    lazy val bands = Ops.lshBandIndex(
      Ops.shingles(
        Tables.documents(s, dataDir).filter(!(col("doc_id") % 3 === 0)),
        "doc_id", "text", 5),
      "doc_id")
    ArtifactCache.materialize(s, cacheRoot, "neardup_base_bands_v1",
      dataDir)(Seq(bands))(ArtifactCache.artifactHash(bands))(bands)
  }

  /** The pruned tf-idf posting index (doc_id, term, wt) for the
    * documents table — the materialized INVERTED INDEX. The
    * sparse-similarity key consumes it four ways (norms, capped
    * candidate index, both re-score sides); without the artifact each
    * consumer re-tokenizes the corpus (measured: the tokenize+tf pass
    * dominates the key at 2.2 s of its 2.2–4 s total). At 100 TB this
    * is exactly the index artifact an IR pipeline persists between
    * build and query: corpus-scale but heavily pruned, rebuilt iff
    * the corpus or the derivation changed (content hash). */
  def sparsePostings(s: SparkSession, dataDir: String): DataFrame = {
    lazy val postings = QueriesR11.sparseSimWeights(s, dataDir)
    ArtifactCache.materialize(s, cacheRoot, "sparse_postings_v1", dataDir)(
      Seq(postings))(ArtifactCache.artifactHash(postings))(postings)
  }

  /** An embeddings-derived artifact keyed on the INPUT frame's hash:
    * the producing frames below are checkpoint-backed or stream
    * driver-broadcast blocks, so their own plans have no stable hash.
    * The name carries the hyperparameters and a version, bumped
    * whenever the producing algorithm changes. */
  private def fromEmbeddings(s: SparkSession, dataDir: String, name: String,
                             e: DataFrame)(produce: => DataFrame): DataFrame =
    ArtifactCache.materialize(s, cacheRoot, name, dataDir)(Seq(e))(
      ArtifactCache.artifactHash(e))(produce)

  private def embeddings(s: SparkSession, dataDir: String): DataFrame =
    Tables.embeddings(s, dataDir).select("vec_id", "embedding")

  /** The trained IVF codebook (Ops.kmeansCodebook) for the embeddings
    * table — a model artifact: trained once per (input fingerprint ×
    * hyperparameters), then reused by every index/probe/eval key
    * (emb_ann_ivf, emb_ivf_recall). This is exactly how a 100 TB
    * deployment treats a codebook: a tiny persisted artifact,
    * retrained only when the corpus or the hyperparameters change. */
  def ivfCodebook(s: SparkSession, dataDir: String, k: Int = 16,
                  iters: Int = 3): DataFrame = {
    val e = embeddings(s, dataDir)
    fromEmbeddings(s, dataDir, s"ivf_codebook_v1_k${k}_i$iters", e)(
      Ops.kmeansCodebook(e, "vec_id", "embedding", k, iters))
  }

  /** The IVF codebook trained on the BASE corpus slice only
    * (vec_id ≢ 0 mod 7) — the incremental-ingest story's frozen
    * model (emb_ann_incremental): delta vectors are assigned to
    * these cells WITHOUT retraining, exactly how a production index
    * absorbs a daily batch (retrains are scheduled, not per-ingest). */
  def ivfCodebookBase(s: SparkSession, dataDir: String, k: Int = 16,
                      iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = embeddings(s, dataDir).filter(!(col("vec_id") % 7 === 0))
    fromEmbeddings(s, dataDir, s"ivf_codebook_base7_v1_k${k}_i$iters", e)(
      Ops.kmeansCodebook(e, "vec_id", "embedding", k, iters))
  }

  /** Exact top-5 cosine neighbors for the embeddings table — the
    * ground-truth artifact: `emb_knn_bruteforce` serves it directly and
    * `emb_ivf_recall` reads its top-3 prefix (a bounded top-k under a
    * fixed order rule is prefix-closed, so the k=5 list's first 3 rows
    * ARE the k=3 result). */
  def knnTop5(s: SparkSession, dataDir: String): DataFrame = {
    val e = embeddings(s, dataDir)
    fromEmbeddings(s, dataDir, "knn_top5_v1", e)(
      Ops.knnBruteForce(e, "vec_id", "embedding", k = 5))
  }

  /** The PQ index (Ops.pqEncode: 8 subspaces × 16 centroids → 8
    * four-bit codes per vector) for the embeddings table — the
    * compressed-store artifact an ADC search scans instead of the
    * floats. Encode once per corpus, reuse across every query. */
  def pqCodes(s: SparkSession, dataDir: String): DataFrame = {
    val e = embeddings(s, dataDir)
    fromEmbeddings(s, dataDir, "pq_codes_v1_m8_k16", e)(
      Ops.pqEncode(e, "vec_id", "embedding"))
  }

  /** The IVF ANN result (k=3, nprobe=4, trained 16×3 codebook) —
    * shared by `emb_ann_ivf` and `emb_ivf_recall`. */
  def annIvfTop3(s: SparkSession, dataDir: String): DataFrame = {
    val e = embeddings(s, dataDir)
    fromEmbeddings(s, dataDir, "ann_ivf_v1_k3_np4_c16i3", e)(
      Ops.annIvf(e, "vec_id", "embedding", ivfCodebook(s, dataDir),
                 k = 3, nprobe = 4))
  }
}
