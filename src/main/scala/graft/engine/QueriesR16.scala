package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 keys: the 2-D Z-order lake read path (r10 verdict #5),
  * incremental view maintenance extended to SUM/AVG with signed
  * deltas plus the documented MIN re-scan fallback (#4), and the
  * 4:2:0 YCbCr color leg of the JPEG decode family (#6) — all under
  * the §2.3 determinism discipline.
  */
object QueriesR16 {
  import Tables._

  // ---------------------------------------------------------------
  // lake_zorder_2d
  // ---------------------------------------------------------------

  /** Two-predicate data skipping through a 2-D Z-ordered layout — the
    * read path OPTIMIZE ZORDER exists for, which no 1-D sort can
    * serve: orders land in four arrival-order appends (every
    * directory spans the full (date, custkey) plane — nothing
    * prunable), then one `rewriteClusteredN` commit lays the content
    * on the Morton-interleaved (o_orderdate, o_custkey) curve into 16
    * directories whose per-directory [min, max] on BOTH columns goes
    * into the commit log. The (two-year date) × (custkey prefix)
    * range read then prunes directories on both dimensions from the
    * log alone (LakeTableSpec asserts both single-dimension prunes);
    * this key proves the CONTENT through the oracle — skipping
    * changes what is scanned, never what is returned.
    *
    * Determinism (§2.3): integers, date strings, and one exact
    * DECIMAL sum cast to double at the end.
    *
    * Scale shape: the clustering is one range exchange on the Morton
    * code (no global sort) + one grouped stats pass; the fixture
    * table is a P6 artifact (built once per corpus hash), so the key
    * times the pruned read. At 100 TB this is the nightly maintenance
    * job that makes BOTH the date slice and the tenant slice metadata
    * operations. */
  def lakeZorder2d(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d)
      .select(col("o_orderkey").as("key"),
              col("o_orderdate").cast("date").cast("string").as("odate"),
              col("o_custkey").as("custkey"),
              round(col("o_totalprice"), 2)
                .cast(DecimalType(18, 2)).as("price"))
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_z2d_v1"), d)(Seq(base))(
      ArtifactCache.artifactHash(base)) { r =>
      (0 until 4).foreach(p =>
        LakeTable.append(base.filter(col("key") % 4 === p), r))
      LakeTable.rewriteClusteredN(LakeTable.read(s, r), r,
        Seq("odate", "custkey"), 16)
    }.dir
    LakeTable.readRange(s, root,
        Seq(("odate", "1994-01-01", "1995-12-31"),
            ("custkey", "1", "750")))
      .groupBy(substring(col("odate"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           sum("price").cast("double").as("revenue"))
      .orderBy("month")
  }

  // ---------------------------------------------------------------
  // lake_ivm_sumavg
  // ---------------------------------------------------------------

  /** The row-level v0→v1 delta with PRICE carried through pre/post
    * images — the change feed a SUM-maintaining consumer needs
    * (changeFeedFrame's shape, widened to the value column). Emits
    * (key, status, price, change_type); unchanged rows vanish
    * (explode(NULL)), so the feed stays O(churn). */
  private[graft] def ivmSumFeed(before: DataFrame,
                                after: DataFrame): DataFrame = {
    // Presence is a dedicated flag, never the status column's
    // nullability: a PRESENT row with a NULL status used to read as
    // "absent" and emit a spurious insert every refresh (r13 audit of
    // the r12 null-key advice). Change detection is null-safe (<=>)
    // for the same reason: a null→'x' status flip must fire the
    // pre/post pair, and null→null must not.
    val b = before.select(col("key"), col("status").as("old_status"),
                          col("price").as("old_price"),
                          lit(true).as("old_present"))
    val a = after.select(col("key"), col("status").as("new_status"),
                         col("price").as("new_price"),
                         lit(true).as("new_present"))
    b.join(a, Seq("key"), "full_outer")
      .select(col("key"), explode(expr(
        """CASE
          |  WHEN old_present IS NULL THEN array(struct(
          |    new_status AS status, new_price AS price,
          |    'insert' AS change_type))
          |  WHEN new_present IS NULL THEN array(struct(
          |    old_status AS status, old_price AS price,
          |    'delete' AS change_type))
          |  WHEN NOT (old_status <=> new_status)
          |    OR NOT (old_price <=> new_price)
          |  THEN array(
          |    struct(old_status AS status, old_price AS price,
          |           'update_preimage' AS change_type),
          |    struct(new_status AS status, new_price AS price,
          |           'update_postimage' AS change_type))
          |  ELSE NULL
          |END""".stripMargin)).as("c"))
      .select(col("key"), col("c.status").as("status"),
              col("c.price").as("price"),
              col("c.change_type").as("change_type"))
  }

  /** Deletion-aware MIN maintenance (r11 verdict #6): MIN is
    * self-maintainable under inserts (new min = least(old min, min of
    * inserted values)) but NOT under deletes — UNLESS the delete
    * provably misses the current extremum. The view manager therefore
    * inspects the feed's removal images (deletes + update pre-images)
    * per group: a group whose removals are all STRICTLY ABOVE its
    * current min keeps the incremental path; only groups where a
    * removal touches the extremum (price ≤ current min — ties are
    * conservative: an equal-valued survivor may exist, but proving it
    * needs data) are re-scanned, and the re-scan is FILTERED to those
    * groups. The touched-group set is O(|groups|) driver-side
    * metadata (the same posture as the lake log's stats collects).
    * Returns (per-group min frame, a LAZY readout of the re-scanned
    * group set — NULL group key as None) so tests — and an operator's
    * monitoring — can assert the re-scan really was skipped without
    * the refresh path paying the readout job (r19: the eager collect
    * + checkpoint ran one full feed computation per CALL at frame
    * CONSTRUCTION time, even for callers that discard the set). */
  private[graft] def ivmMinMaintain(before: DataFrame, after: DataFrame,
      feed: DataFrame): (DataFrame, () => Set[Option[String]]) =
    ivmExtremumMaintain(before, after, feed, isMin = true)

  /** The same maintenance for MAX (a removal at price ≥ the current
    * maximum is what destroys information); both directions share one
    * implementation with the comparison and combiner flipped. */
  private[graft] def ivmMaxMaintain(before: DataFrame, after: DataFrame,
      feed: DataFrame): (DataFrame, () => Set[Option[String]]) =
    ivmExtremumMaintain(before, after, feed, isMin = false)

  /** NULL group keys are first-class throughout (the r12 advice, made
    * systematic in r13): SQL GROUP BY puts null-status rows in one
    * real group, so every join here is NULL-SAFE (`<=>` — a plain
    * equi-join silently unpairs the null group: it duplicated in the
    * old full-outer merge and could never be marked touched, leaving
    * a stale extremum after a null-group delete). `touched` carries
    * the null group as None. */
  private def ivmExtremumMaintain(before: DataFrame, after: DataFrame,
      feed: DataFrame, isMin: Boolean): (DataFrame, () => Set[Option[String]]) = {
    val aggFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (isMin) min else max
    val outCol = if (isMin) "min_price" else "max_price"
    val ext0 = before.groupBy("status").agg(aggFn(col("price")).as("ext0"))
    val removals = feed
      .filter(col("change_type").isin("delete", "update_preimage"))
    // The touched-group frame: groups where a removal hit the current
    // extremum. Aggregated-tiny (≤ |groups| rows), so AQE broadcasts
    // every join against it below.
    val touchedDf = removals
      .join(ext0.select(col("status").as("e_status"), col("ext0")),
            col("status") <=> col("e_status"))
      .filter(if (isMin) col("price") <= col("ext0")
              else col("price") >= col("ext0"))
      .select("status").distinct()
    // Driver-side ONLY as the monitoring/test return value (bounded
    // by |groups| — and a 100 TB deployment with pathological group
    // cardinality would swap this readout for a count), and LAZY
    // (r19): the eager collect forced one full feed computation per
    // call at construction time; callers that discard the set (the
    // refresh path) now pay nothing. The PLAN below never embeds the
    // set: filtering is a null-safe anti/semi join against touchedDf
    // (the r13-verdict anti-join spelling, now the only spelling), so
    // group cardinality can never inflate the plan into a giant
    // literal isin list.
    val touched: () => Set[Option[String]] = () => touchedDf
      .collect().map(r => Option(r.getString(0))).toSet
    val insExt = feed
      .filter(col("change_type").isin("insert", "update_postimage"))
      .groupBy("status").agg(aggFn(col("price")).as("ext_new"))
    val tJoin = touchedDf.select(col("status").as("t_status"))
    // untouched groups: combine(old extremum, inserted extremum) —
    // no data scan; the anti join (null-safe, so the None group pairs
    // with its row) drops exactly the touched groups
    val incremental = ext0.select(col("status").as("s0"), col("ext0"))
      .join(insExt.select(col("status").as("s1"), col("ext_new")),
            col("s0") <=> col("s1"), "full_outer")
      .select(coalesce(col("s0"), col("s1")).as("status"),
        (if (isMin) least(col("ext0"), col("ext_new"))
         else greatest(col("ext0"), col("ext_new"))).as(outCol))
      .join(tJoin, col("status") <=> col("t_status"), "left_anti")
    // The rescan leg rides the plan UNCONDITIONALLY (r19): when no
    // removal hit an extremum, touchedDf is empty and the semi join
    // yields zero groups — AQE's empty-relation propagation collapses
    // the leg at runtime, so the untouched case still never re-scans
    // `after`; the old driver-side `if (touched.isEmpty)` bought the
    // same skip at the price of an eager job per call.
    val rescan = after
      .join(tJoin, col("status") <=> col("t_status"), "left_semi")
      .groupBy("status").agg(aggFn(col("price")).as(outCol))
    (incremental.unionByName(rescan), touched)
  }

  /** SUM/AVG-maintaining IVM refresh from the feed (r10 verdict #4):
    * per status, count and SUM(price) update from signed deltas
    * (+1/+price for insert and update_postimage, −1/−price for
    * delete and update_preimage) — a delete genuinely pulls the sum
    * DOWN, the case a count-only IVM never exercises. AVG derives as
    * sum/count at read-out (never maintained directly — the textbook
    * self-maintainability result: AVG is not self-maintainable, its
    * components are).
    *
    * MIN maintains through [[ivmMinMaintain]] — incremental for every
    * group whose removals miss the current extremum, re-scan (filtered
    * to the touched groups) only where a delete/pre-image hits it
    * (LakeTableSpec pins the stale-min trap, the skip, and the
    * trigger). */
  private[graft] def ivmSumRefresh(before: DataFrame,
                                   after: DataFrame): DataFrame = {
    val baseAgg = before.groupBy("status")
      .agg(count(lit(1)).as("n0"), sum("price").as("sum0"))
    val feed = ivmSumFeed(before, after)
    val deltas = feed
      .select(col("status"),
        when(col("change_type").isin("insert", "update_postimage"),
             lit(1L)).otherwise(lit(-1L)).as("w"),
        when(col("change_type").isin("insert", "update_postimage"),
             col("price")).otherwise(-col("price")).as("dp"))
      .groupBy("status").agg(sum("w").as("dn"), sum("dp").as("dsum"))
    val (minScan, _) = ivmMinMaintain(before, after, feed)
    // merges are NULL-SAFE on the group key: a plain USING join
    // unpairs a null-status group (it appeared twice — once from each
    // side — and the MIN column never attached to it)
    baseAgg.select(col("status").as("sb"), col("n0"), col("sum0"))
      .join(deltas.select(col("status").as("sd"), col("dn"), col("dsum")),
            col("sb") <=> col("sd"), "full_outer")
      .select(coalesce(col("sb"), col("sd")).as("status"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"),
        (coalesce(col("sum0"), lit(0).cast(DecimalType(18, 2))) +
         coalesce(col("dsum"), lit(0).cast(DecimalType(18, 2))))
          .as("sum_dec"))
      .filter(col("n") > 0)
      .join(minScan.select(col("status").as("sm"), col("min_price")),
            col("status") <=> col("sm"), "left")
      .select(col("status"), col("n"),
        col("sum_dec").cast("double").as("sum_price"),
        round(col("sum_dec").cast("double") / col("n"), 6)
          .as("avg_price"),
        col("min_price").cast("double").as("min_price"))
      .orderBy("status")
  }

  /** Incremental maintenance of count + SUM(price) + AVG per status
    * across a merge that UPDATES (returned orders: status→'R', price
    * +100.00), INSERTS (new keys at +1e8, price 50.00), and DELETES
    * (key ≡ 0 mod 97 — the case that forces the maintained sum DOWN,
    * which the r10 count-only IVM never exercised). The refresh
    * consumes the O(churn) change feed and must equal a full
    * recompute over v1 — exactly what the oracle computes, so a wrong
    * delta sign, a missed delete, or a stale-min shortcut breaks the
    * hash. MIN(price) rides the documented re-scan fallback (see
    * [[ivmSumRefresh]]).
    *
    * Determinism (§2.3): DECIMAL(18,2) sums are exact; avg is one
    * IEEE-exact quotient rounded 6 dp; min exact.
    *
    * Scale shape: the fixture is a P6 cached lake table; the timed
    * path is two snapshot aggregates (the v0 one stands in for the
    * PERSISTED materialized view) + the O(churn) feed + a
    * |statuses|-row merge. */
  /** Builds (once per corpus hash — Artifacts.lakeFixture) the two-version
    * table whose v0→v1 merge UPDATES, INSERTS, and DELETES — the
    * fixture lake_ivm_sumavg and lake_change_feed_deletes share.
    * Returns its root; versions are deterministically 0 and 1. */
  private def deletingMergeLakeTable(s: SparkSession, d: String): String = {
    lazy val base = orders(s, d)
      .select(col("o_orderkey").as("key"),
              col("o_orderstatus").as("status"),
              round(col("o_totalprice"), 2)
                .cast(DecimalType(18, 2)).as("price"))
    lazy val returned = lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    // r19: the hit memo keeps the resolved root per (name, data dir) —
    // the per-call hash derivation (two analyzed-plan renders + stat
    // walks) only runs when the source tables' listings change
    ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_ivmsum_v1"), d)(Seq(base, returned))(
      ArtifactCache.artifactHash(base).take(16) +
        ArtifactCache.artifactHash(returned).take(16)) { r =>
      LakeTable.append(base, r)
      val upd = returned.select(col("l_orderkey").as("key"),
                                lit(true).as("is_ret"))
      val merged = LakeTable.read(s, r)
        .join(upd, Seq("key"), "left")
        .filter(col("key") % 97 =!= 0) // deletes (win over updates)
        .select(col("key"),
          when(col("is_ret").isNotNull, "R").otherwise(col("status"))
            .as("status"),
          when(col("is_ret").isNotNull,
               (col("price") + lit(100.00)).cast(DecimalType(18, 2)))
            .otherwise(col("price")).as("price"))
        .unionByName(returned.filter(col("l_orderkey") % 50 === 0)
          .select((col("l_orderkey") + 100000000L).as("key"),
                  lit("N").as("status"),
                  lit(50.00).cast(DecimalType(18, 2)).as("price")))
      LakeTable.rewrite(merged, r)
    }.dir
  }

  def lakeIvmSumavg(s: SparkSession, d: String): DataFrame = {
    val root = deletingMergeLakeTable(s, d)
    ivmSumRefresh(LakeTable.read(s, root, Some(0L)),
                  LakeTable.read(s, root, Some(1L)))
  }

  /** The CDC feed with the DELETE branch actually exercised —
    * lake_change_feed's fixture is a pure upsert (its delete arm is
    * proven only by shape), so this key emits the widened
    * (key, status, price, change_type) delta across the deleting
    * merge: `delete` rows carry the vanished row's final image,
    * pre/post image pairs fire on a status OR price change, and
    * unchanged rows do not appear (O(churn), the CDC contract). The
    * oracle re-derives the classification from the merge model
    * directly, so a missed delete or a misclassified price-only
    * update breaks the hash.
    *
    * Determinism (§2.3): integers, strings, DECIMAL(18,2) prices cast
    * to double at output; (key, change_type) is a unique total order.
    *
    * Scale shape: one full-outer join of two snapshot reads on the
    * key + the array/explode fan-out — no second pass over either
    * side; the fixture build is P6-amortized. */
  def lakeChangeFeedDeletes(s: SparkSession, d: String): DataFrame = {
    val root = deletingMergeLakeTable(s, d)
    ivmSumFeed(LakeTable.read(s, root, Some(0L)),
               LakeTable.read(s, root, Some(1L)))
      .select(col("key"), col("status"),
              col("price").cast("double").as("price"),
              col("change_type"))
      .orderBy("key", "change_type")
  }

  // ---------------------------------------------------------------
  // multimodal_decode_jpeg_color
  // ---------------------------------------------------------------

  /** The deterministic per-document 4:2:0 color JPEG encode feeding
    * multimodal_decode_jpeg_color (the docJpegBlobs posture, in
    * color): 1–2 × 1–2 MCUs of 16×16; each 8×8 LUMA block is uniform
    * at the even value 2·((doc_id·31 + i·67) mod 128) for luma-raster
    * block index i (even DC divides K.1's Q(0,0)=16 exactly), and
    * each MCU's Cb/Cr block is uniform at 128 + 17·t for
    * t = ((doc_id·5 + j·3) mod 15) − 7 resp. ((doc_id·7 + j·11) mod
    * 15) − 7 over MCU-raster index j (a DC of 8·17t divides K.2's
    * Q(0,0)=17 exactly) — so the lossy codec decodes bit-exactly per
    * plane and the oracle restates every statistic in closed form.
    * Change this arithmetic only in lockstep with the oracle. */
  private[engine] def docJpegColorBlobs(s: SparkSession,
                                        d: String): DataFrame =
    // P6 artifact (r19 optimization, the docPngBlobs posture): the
    // 4:2:0 color encode was the single heaviest per-call fixture
    // synthesis in the registry (3-component Huffman over 16×16 MCUs);
    // blobs are fully determined by the corpus and in production
    // arrive from storage. Logic tag probes both restart arms through
    // the SAME color encoder. Decode stays live per call.
    ArtifactCache.materialize(s, Artifacts.cacheRoot,
      "doc_jpeg_color_blobs_v1", d)(Seq(documents(s, d)))(
      ArtifactCache.artifactHash(documents(s, d).select(col("doc_id"))) +
        "-L" + ArtifactCache.bytesTag(
          Jpeg.encodeColor420(16, 16, (x, y) => 2 * ((x + y) % 128),
            (cx, cy) => 128 + 17 * ((cx + cy) % 15 - 7),
            (cx, cy) => 128 + 17 * ((cx * 3 + cy) % 15 - 7),
            restartInterval = 1),
          Jpeg.encodeColor420(32, 16, (x, y) => 2 * ((x * 3 + y) % 128),
            (cx, cy) => 128 + 17 * ((cx + cy * 5) % 15 - 7),
            (cx, cy) => 128 + 17 * ((cx + cy) % 15 - 7),
            restartInterval = 0))) {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val nmx = (id % 2 + 1).toInt
        val nmy = ((id / 2) % 2 + 1).toInt
        def yVal(i: Int): Int = (2 * ((id * 31 + i * 67) % 128)).toInt
        def cbVal(j: Int): Int = (128 + 17 * (((id * 5 + j * 3) % 15) - 7)).toInt
        def crVal(j: Int): Int = (128 + 17 * (((id * 7 + j * 11) % 15) - 7)).toInt
        val w = nmx * 16
        val h = nmy * 16
        // every 3rd document's stream carries restart markers —
        // framing only, decoded planes (and the oracle) identical
        (id, Jpeg.encodeColor420(w, h,
          (x, y) => yVal((y / 8) * (2 * nmx) + (x / 8)),
          (cx, cy) => cbVal((cy / 8) * nmx + (cx / 8)),
          (cx, cy) => crVal((cy / 8) * nmx + (cx / 8)),
          restartInterval = if (id % 3 == 0) 1 else 0))
      })
      .toDF("doc_id", "blob")
  }

  /** 4:2:0 YCbCr JPEG decode + per-channel statistics — the COLOR leg
    * of the multimodal decode family (r10 verdict #6: "a real crawl
    * corpus is 4:2:0 YCbCr baseline"): every document's 3-component
    * interleaved JFIF blob decodes through the real codec (marker
    * walk, per-component Huffman/quant table selection from the
    * stream, MCU-interleaved scan with per-component DC prediction,
    * dequant, IDCT) into its THREE native-resolution planes (luma
    * full-size, chroma half-size — 4:2:0 stores them that way; no
    * upsampling invents samples), and reduces to per-channel sum /
    * mean / min / max plus position probes (first/last of Y, first
    * Cb, last Cr) that pin the MCU raster and the component
    * interleave order — a swapped Cb/Cr or a transposed MCU walk
    * breaks them while leaving order-free stats intact. The oracle
    * re-derives every number from the closed-form block model without
    * touching a JPEG.
    *
    * Scale shape: mapPartitions over binary blobs (the sanctioned
    * codec exception), one row out per image — embarrassingly
    * parallel, stats never leave the row. */
  def multimodalDecodeJpegColor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docJpegColorBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        val img = Jpeg.decode(blob)
        require(img.planes.length == 3, "color fixture must decode 3 planes")
        def stats(p: Jpeg.Plane): (Long, Int, Int, Int, Int) = {
          val px = p.samples.map(b => (b & 0xff).toLong)
          (px.sum, px.min.toInt, px.max.toInt, px.head.toInt,
           px.last.toInt)
        }
        val (ys, ymin, ymax, yfirst, ylast) = stats(img.planes(0))
        val (cbs, cbmin, cbmax, cbfirst, _) = stats(img.planes(1))
        val (crs, crmin, crmax, _, crlast) = stats(img.planes(2))
        val yLen = img.planes(0).samples.length
        (id, img.width, img.height, img.nUnits,
         ys,
         BigDecimal(ys.toDouble / yLen)
           .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
         ymin, ymax, yfirst, ylast,
         cbs, cbmin, cbmax, cbfirst,
         crs, crmin, crmax, crlast)
      })
      .toDF("doc_id", "width", "height", "n_units",
            "y_sum", "y_mean", "y_min", "y_max", "y_first", "y_last",
            "cb_sum", "cb_min", "cb_max", "cb_first",
            "cr_sum", "cr_min", "cr_max", "cr_last")
      .orderBy("doc_id")
  }
}
