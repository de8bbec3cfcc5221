package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-12 keys: the SQL front door proven by oracle (r11 verdict
  * #8 — the same operators reachable from SQL TEXT, not just the
  * Scala DSL) and the file-grain k-column Z-order read path (#5),
  * all under the §2.3 determinism discipline.
  */
object QueriesR17 {
  import Tables._

  // ---------------------------------------------------------------
  // sql_* — the spark.sql passthrough, graded end-to-end: the text
  // goes through graft.Sql (views + function registry), Catalyst
  // compiles it exactly like the DataFrame DSL, and the DuckDB oracle
  // hash-checks the result. One join, one window, one lateral.
  // ---------------------------------------------------------------

  /** Multiway join + aggregate from SQL text. Determinism: DECIMAL
    * sum cast to double at the end; month boundaries in UTC. */
  def sqlJoinRevenue(s: SparkSession, d: String): DataFrame =
    graft.Sql.run(s, d,
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)

  /** Ranked window from SQL text; (price DESC, orderkey) is a total
    * order so the top-2 cut is deterministic. */
  def sqlWindowTopn(s: SparkSession, d: String): DataFrame =
    graft.Sql.run(s, d,
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders WHERE o_custkey <= 200) t
        |WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin)

  /** Generator (LATERAL VIEW posexplode) from SQL text — the UDTF
    * extension point reached through the SQL surface. */
  def sqlLateralTokens(s: SparkSession, d: String): DataFrame =
    graft.Sql.run(s, d,
      """SELECT doc_id, pos + 1 AS pos, tok
        |FROM documents
        |LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok
        |WHERE doc_id < 50 ORDER BY doc_id, pos""".stripMargin)

  /** The native codegen Expression (CosineSimilarityExpr) invoked
    * from SQL TEXT — proving the Catalyst extension point is
    * reachable through the front door, not just the DSL (graft.Sql
    * registers it in the session's function registry). Same
    * computation as expr_native_cosine. */
  def sqlExprCosine(s: SparkSession, d: String): DataFrame =
    graft.Sql.run(s, d,
      """SELECT a.vec_id AS vec_id,
        |  round(cosine_sim(a.embedding, b.embedding), 6) AS cos_next
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_id""".stripMargin)

  // ---------------------------------------------------------------
  // multimodal_decode_jpeg_progressive
  // ---------------------------------------------------------------

  /** The deterministic per-document PROGRESSIVE JPEG encode (r11
    * verdict #4 — "a real crawl corpus is a meaningful fraction
    * progressive scans"): 1–2 × 1–3 blocks, each uniform at the even
    * value 2·((doc_id·37 + i·71) mod 128) for raster block index i —
    * the docJpegBlobs closed-form model under a six-scan Annex G
    * stream (DC first/refine with successive approximation, two AC
    * spectral bands first/refine). Uniform blocks are DC-only, so the
    * multi-block images drive real EOBn run codes across blocks, and
    * full-precision decode is bit-exact — the oracle restates the
    * model in closed form. JpegSpec's parity tests cover nonzero-AC
    * refinement on general content. */
  private[engine] def docJpegProgressiveBlobs(s: SparkSession,
                                              d: String): DataFrame =
    // P6 artifact (r19 optimization, the docPngBlobs posture): blobs
    // are fully determined by the corpus; the six-scan progressive
    // encode re-ran per call. Logic tag probes both restart arms
    // through the SAME progressive encoder. Decode stays live.
    ArtifactCache.materialize(s, Artifacts.cacheRoot,
      "doc_jpeg_prog_blobs_v1", d)(Seq(documents(s, d)))(
      ArtifactCache.artifactHash(documents(s, d).select(col("doc_id"))) +
        "-L" + ArtifactCache.bytesTag(
          Jpeg.encodeGray8Progressive(16, 8,
            (x, y) => 2 * ((x / 8 + y / 8 * 2) * 7 % 128),
            restartInterval = 1),
          Jpeg.encodeGray8Progressive(8, 24,
            (x, y) => 2 * ((x / 8 + y / 8) * 13 % 128),
            restartInterval = 0))) {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val nbx = (id % 2 + 1).toInt
        val nby = ((id / 2) % 3 + 1).toInt
        def blockVal(i: Int): Int = (2 * ((id * 37 + i * 71) % 128)).toInt
        // every 3rd document's scans carry restart markers — framing
        // only (the baseline-key DRI pattern): decoded planes and the
        // oracle are identical either way
        (id, Jpeg.encodeGray8Progressive(nbx * 8, nby * 8,
          (x, y) => blockVal((y / 8) * nbx + (x / 8)),
          restartInterval = if (id % 3 == 0) 1 else 0))
      })
      .toDF("doc_id", "blob")
  }

  /** Progressive JPEG decode + per-image statistics — the same probe
    * surface as multimodal_decode_jpeg, through the SOF2 scan
    * accumulator (spectral selection + successive approximation)
    * instead of the single baseline scan. Scale shape: mapPartitions
    * over binary blobs (the sanctioned codec exception), one row out
    * per image. */
  def multimodalDecodeJpegProgressive(s: SparkSession,
                                      d: String): DataFrame = {
    import s.implicits._
    docJpegProgressiveBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        val img = Jpeg.decode(blob)
        require(img.planes.length == 1,
          "progressive fixture must decode 1 plane")
        val px = img.planes(0).samples.map(b => (b & 0xff).toLong)
        val sum = px.sum
        (id, img.width, img.height, img.nUnits, sum,
         BigDecimal(sum.toDouble / px.length)
           .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
         px.min.toInt, px.max.toInt, px.count(_ < 64).toLong,
         px.head.toInt, px.last.toInt)
      })
      .toDF("doc_id", "width", "height", "n_blocks", "px_sum",
            "px_mean", "px_min", "px_max", "n_dark",
            "px_first", "px_last")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // docs_html_extract
  // ---------------------------------------------------------------

  /** HTML → text extraction — the step between the crawl and every
    * text operator in this registry (a web corpus arrives as markup):
    * title capture, head/style block removal, comment removal, tag
    * stripping, entity decoding (&lt; &gt; &quot; then &amp; LAST —
    * the classic double-decode pitfall), and whitespace collapse,
    * entirely in native regexp functions inside whole-stage codegen.
    * The fixture wraps each document's text in deterministic markup
    * (title, a style block that must NOT leak into the body text, a
    * comment, entities); the oracle runs the same pipeline through
    * DuckDB's RE2 engine — two regex engines agreeing on the same
    * extraction is the check.
    *
    * Scale shape: row-local projection; no exchange before the
    * output sort. */
  def docsHtmlExtract(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{color:red}</style></head><body><p>"),
      substring(col("text"), 1, 80),
      lit("</p><!-- boilerplate --><p>tail &amp; &lt;tag&gt; "),
      (col("doc_id") % 50).cast("string"),
      lit(" &quot;q&quot;</p></body></html>"))
    documents(s, d)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        regexp_extract(col("html"), "<title>(.*?)</title>", 1).as("title"),
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(col("html"),
              "(?s)<head>.*?</head>", ""),
            "(?s)<!--.*?-->", ""),
            "<[^>]*>", " "),
            "&lt;", "<"),
            "&gt;", ">"),
            "&quot;", "\""),
            "&amp;", "&"),
          "\\s+", " "),
          "^ | $", "").as("body_text"))
      .withColumn("n_body_chars", length(col("body_text")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // docs_dedup_containment / docs_dedup_url
  // ---------------------------------------------------------------

  /** CONTAINMENT near-dup scoring — the asymmetric metric Jaccard
    * misses: a short document quoted inside a long one has
    * |A∩B| / min(|A|,|B|) ≈ 1 while its Jaccard stays small (the
    * excerpt/quotation case every dedup pipeline handles separately).
    * Char-12-gram shingles (stride 4, the docs_dedup_ngram_jaccard
    * space) restricted to DISCRIMINATIVE shingles (document frequency
    * ≤ 64 — the posting-list df-cap discipline: a stop-shingle in
    * thousands of docs carries no containment signal and is what
    * would make the shared-shingle join quadratic); candidate pairs
    * come only from shared kept shingles; containment ≥ 0.6 as the
    * exact integer cross-multiplication 5·|A∩B| ≥ 3·min(|A|,|B|).
    * The oracle recomputes the same capped-space metric from scratch.
    *
    * Scale shape: emissions bounded by Σ_shingle df² ≤ cap·Σ df —
    * linear in the shingle table at fixed cap; sizes and intersections
    * are plain aggregations. */
  /** The distinct char-12-gram (stride 4) shingle frame — exposed for
    * ContainmentBoundSpec's emission-bound math. */
  private[graft] def containmentShingles(s: SparkSession,
                                         d: String): DataFrame = {
    val n = 12
    documents(s, d)
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${n - 1}, 4), " +
          s"i -> substring(text, i, $n))")).as("shingle"))
      .distinct()
  }

  /** The df-capped view of the shingle frame (the candidate space). */
  private[graft] def containmentKept(g: DataFrame, dfCap: Int): DataFrame =
    g.join(
      g.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("shingle"),
      Seq("shingle"))

  def docsDedupContainment(s: SparkSession, d: String): DataFrame = {
    val dfCap = 64
    val g = containmentShingles(s, d)
    // The df-capped shingle table feeds THREE consumers (the size
    // aggregate and both self-join sides) and the df filter itself
    // re-evaluates the extraction — a P6 artifact turns four passes
    // over the explode into one build + tiny parquet scans (the
    // nearDupPairs posture). Deterministic in (corpus, n, stride,
    // cap) — all in the plan hash.
    lazy val capped = containmentKept(g, dfCap)
    val kept = ArtifactCache.materialize(s, Artifacts.cacheRoot,
      s"containment_kept_n12s4df$dfCap", d)(Seq(capped))(
      ArtifactCache.artifactHash(capped))(capped)
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = kept.select(col("doc_id").as("id1"), col("shingle"))
      .join(kept.select(col("doc_id").as("id2"), col("shingle")),
        Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sz.select(col("doc_id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sz.select(col("doc_id").as("id2"), col("sz").as("sz2")), "id2")
      .filter(col("n_shared") * 5 >= least(col("sz1"), col("sz2")) * 3)
      .select(col("id1"), col("id2"), col("n_shared"),
        col("sz1"), col("sz2"),
        round(col("n_shared").cast("double") /
          least(col("sz1"), col("sz2")), 6).as("containment"))
      .orderBy("id1", "id2")
  }

  /** Exact dedup keyed on the CANONICAL URL — the crawl pipeline's
    * first dedup pass (two spellings of one URL are one fetch):
    * normalize (docsUrlNormalize's canonical form), keep the lowest
    * doc_id per canonical URL, report group sizes. Composes the
    * normalization key with the exact-dedup discipline: hash-group on
    * the canonical key, linear. */
  def docsDedupUrl(s: SparkSession, d: String): DataFrame =
    docsUrlNormalize(s, d)
      .groupBy("url_norm")
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_dups"))
      .orderBy("url_norm")

  // ---------------------------------------------------------------
  // docs_url_normalize
  // ---------------------------------------------------------------

  /** URL canonicalization — the crawl-dedup step every web corpus
    * runs before exact dedup (two spellings of one URL are one
    * document): lowercase scheme and host, strip the scheme's
    * default port (keep explicit non-default ports), drop the
    * fragment, drop utm_* tracking parameters, sort the surviving
    * query parameters, and strip a trailing path slash. The messy
    * input URL is synthesized deterministically per document (mixed
    * case, shuffled parameter order, default and non-default ports,
    * fragments), and the whole normalization is NATIVE column
    * functions — parse_url, regexp, array_sort — inside whole-stage
    * codegen; no UDF. The oracle re-derives the same canonical form
    * with DuckDB's regex/list functions — an independent parser.
    *
    * Scale shape: row-local projection, no exchange before the
    * output sort. */
  def docsUrlNormalize(s: SparkSession, d: String): DataFrame = {
    val raw = documents(s, d).select(col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, "HTTP").otherwise("https"),
        lit("://"),
        lit("WWW.Site"), (col("doc_id") % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 3 === 0,
          when(col("doc_id") % 2 === 0, ":80").otherwise(":443"))
          .when(col("doc_id") % 3 === 1, ":8080").otherwise(""),
        lit("/A"), (col("doc_id") % 5).cast("string"), lit("/b"),
        when(col("doc_id") % 4 === 0, "/").otherwise(""),
        lit("?utm_source=feed&q="), (col("doc_id") % 10).cast("string"),
        lit("&a="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 6 === 0, "#frag").otherwise(""))
        .as("url"))
    raw.select(col("doc_id"), col("url"),
        lower(expr("parse_url(url, 'PROTOCOL')")).as("scheme"),
        lower(expr("parse_url(url, 'HOST')")).as("host"),
        regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]*:(\\d+)", 1)
          .as("port"),
        expr("parse_url(url, 'PATH')").as("path0"),
        expr("parse_url(url, 'QUERY')").as("query0"))
      .select(col("doc_id"), col("scheme"), col("host"),
        // keep only a NON-DEFAULT explicit port
        when(col("port") === "" ||
             (col("scheme") === "http" && col("port") === "80") ||
             (col("scheme") === "https" && col("port") === "443"), "")
          .otherwise(concat(lit(":"), col("port"))).as("portseg"),
        when(regexp_replace(col("path0"), "/$", "") === "", "/")
          .otherwise(regexp_replace(col("path0"), "/$", "")).as("path"),
        array_join(array_sort(filter(split(col("query0"), "&"),
          p => !p.startsWith("utm_"))), "&").as("qnorm"))
      .select(col("doc_id"),
        concat(col("scheme"), lit("://"), col("host"), col("portseg"),
          col("path"),
          when(col("qnorm") === "", "").otherwise(
            concat(lit("?"), col("qnorm")))).as("url_norm"),
        col("host"),
        size(filter(split(col("qnorm"), "&"), p => p =!= ""))
          .as("n_params"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // events_holt_trend
  // ---------------------------------------------------------------

  /** Holt double exponential smoothing (level + trend) per user
    * stream — the trend-aware forecasting sibling of events_ewma:
    * s_t = α·v_t + (1−α)(s_{t−1} + b_{t−1}),
    * b_t = β(s_t − s_{t−1}) + (1−β)·b_{t−1}, with α = β = 1/2 so
    * every step is adds and EXACT binary halvings — the Spark
    * recurrence and the oracle's recursive CTE execute the identical
    * IEEE operation sequence and agree bit-for-bit before the final
    * 6-dp round. Reports each user's terminal level, trend, and
    * one-step forecast.
    *
    * Scale shape: per-user sequential fold in mapGroups (the
    * H-family contract — parallel across users, bounded by the
    * hottest user's event count; state is two doubles). */
  def eventsHoltTrend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val sorted = it.toArray.sortBy(r => (r._2.getTime, r._3))
        var lev = sorted.head._4
        var tr = 0.0
        var i = 1
        while (i < sorted.length) {
          val v = sorted(i)._4
          val nl = (v + lev + tr) / 2
          tr = (nl - lev + tr) / 2
          lev = nl
          i += 1
        }
        (uid, sorted.length.toLong, r6(lev), r6(tr), r6(lev + tr))
      }
      .toDF("user_id", "n_events", "level", "trend", "forecast_1")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------
  // graph_bfs_hops
  // ---------------------------------------------------------------

  /** Bounded multi-source BFS over the supplier↔customer bipartite
    * graph (the pagerank/jaccard graph): exact hop distance (≤ 3)
    * from the seed suppliers (s_suppkey ≡ 1 mod 50) to every
    * reachable node — the neighborhood-expansion primitive behind
    * "find everything within k hops of these flagged accounts". The
    * graph is bipartite, so frontiers alternate sides and each hop is
    * ONE equi-join against the edge artifact plus one anti-join
    * exclusion of already-visited nodes (set semantics — no per-path
    * blowup; the frontier is a node SET, never a path list). The
    * oracle walks the same graph with a DuckDB recursive CTE and
    * takes min(dist) — a genuinely independent traversal.
    *
    * Determinism (§2.3): set semantics + (typ, id) total order.
    *
    * Scale shape: k bounded joins over a P6-materialized edge table;
    * each frontier is distinct-deduped before expanding, so hop h
    * costs O(|frontier_h| joined against edges), never O(paths). At
    * 100 TB the edge table would be bucketed by both endpoints; the
    * anti-join exclusions keep frontiers from re-expanding the
    * visited set (the textbook distributed-BFS discipline). */
  def graphBfsHops(s: SparkSession, d: String): DataFrame = {
    lazy val supCust = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sup"), col("o_custkey").as("cust"))
      .distinct()
    val edges = ArtifactCache.materialize(s, Artifacts.cacheRoot,
      "bfs_edges_v1", d)(Seq(supCust))(ArtifactCache.artifactHash(supCust))(
      supCust)
    val s0 = supplier(s, d).filter(col("s_suppkey") % 50 === 1)
      .select(col("s_suppkey").as("id")).distinct()
    val c1 = edges.join(s0, edges("sup") === s0("id"))
      .select(col("cust").as("id")).distinct()
    val s2 = edges.join(c1, edges("cust") === c1("id"))
      .select(col("sup").as("id")).distinct()
      .join(s0, Seq("id"), "left_anti")
    val c3 = edges.join(s2, edges("sup") === s2("id"))
      .select(col("cust").as("id")).distinct()
      .join(c1, Seq("id"), "left_anti")
    s0.select(lit("s").as("typ"), col("id"), lit(0).as("dist"))
      .unionByName(c1.select(lit("c").as("typ"), col("id"),
        lit(1).as("dist")))
      .unionByName(s2.select(lit("s").as("typ"), col("id"),
        lit(2).as("dist")))
      .unionByName(c3.select(lit("c").as("typ"), col("id"),
        lit(3).as("dist")))
      .orderBy("typ", "id")
  }

  // ---------------------------------------------------------------
  // multimodal_decode_gif
  // ---------------------------------------------------------------

  /** GIF87a decode + per-image statistics — the FOURTH image codec
    * leg (PNG chunk walk, JPEG baseline, JPEG progressive, now GIF's
    * variable-width LZW): every document's grayscale-palette GIF
    * decodes through the real marker walk (signature, little-endian
    * descriptors, palette, sub-block defragmentation) and the full
    * LZW machinery (code-width growth, dictionary rebuild, KwKwK),
    * and reduces to dimensions, exact pixel sum / min / max, and the
    * first/last position probes that pin raster order. GIF is
    * lossless, so the oracle restates the pixel model
    * p(i) = (3·doc_id + i) mod 251 in closed form (the PNG posture).
    *
    * Scale shape: mapPartitions over binary blobs (the sanctioned
    * codec exception), one row out per image. */
  /** The deterministic per-document GIF encode feeding
    * multimodal_decode_gif — a P6 artifact (r19 optimization, the
    * docPngBlobs posture): blobs are fully determined by the corpus;
    * the LZW encode re-ran per call. Logic tag probes both interlace
    * arms through the SAME encoder. */
  private[engine] def docGifBlobs(s: SparkSession, d: String): DataFrame =
    ArtifactCache.materialize(s, Artifacts.cacheRoot,
      "doc_gif_blobs_v1", d)(Seq(documents(s, d)))(
      ArtifactCache.artifactHash(
        documents(s, d).select(col("doc_id"), col("n_chars"))) + "-L" +
        ArtifactCache.bytesTag(
          Gif.encodeGray8(7, 9, (x, y) => (x * 11 + y * 3) % 251,
                          interlaced = true),
          Gif.encodeGray8(5, 4, (x, y) => (x + y * 7) % 251,
                          interlaced = false))) {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val w = (nChars % 40 + 1).toInt
        val h = (id % 24 + 1).toInt
        // every 3rd document's stream is INTERLACED (the 4-pass row
        // schedule) — framing only: decoded pixels, and hence the
        // oracle, are identical either way (the JPEG restart-marker
        // pattern), so the key exercises de-interlacing under the
        // same hash match
        (id, Gif.encodeGray8(w, h,
          (x, y) => ((3 * id + y.toLong * w + x) % 251).toInt,
          interlaced = id % 3 == 0))
      })
      .toDF("doc_id", "blob")
  }

  def multimodalDecodeGif(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docGifBlobs(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        val dec = Gif.decodeGray8(blob)
        val px = dec.pixels.map(b => (b & 0xff).toLong)
        (id, dec.width, dec.height, px.sum, px.min.toInt, px.max.toInt,
         px.head.toInt, px.last.toInt)
      })
      .toDF("doc_id", "width", "height", "px_sum", "px_min", "px_max",
            "px_first", "px_last")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // multimodal_audio_fft
  // ---------------------------------------------------------------

  /** WAV → FFT spectral analysis with a CLOSED-FORM oracle: each
    * document's PCM16 blob carries an exactly-representable two-tone
    * signal — x[i] = A1·(−1)^i + A2·q(i) with q the 4-periodic
    * {0,1,0,−1} — whose DFT is nonzero ONLY at bins n/2 (|X| = A1·n)
    * and n/4 (|X| = A2·n/2), both exact integers (the period-2 and
    * period-4 sequences are the only integer-exact sinusoids, which
    * is precisely what makes a lossless spectral oracle possible).
    * The blob round-trips through the real RIFF walk, the samples
    * through the radix-2 FFT, and the key reports the two line
    * magnitudes, the peak bin (fp noise at the zero bins is ~1e-9
    * against integer line spacing ≥ 32 — argmax is deterministic),
    * the DC line (exactly 0: both tones sum to 0 per period), and
    * the exact integer energy Σx² = (n/4)·(4A1² + 2A2²). A2 is
    * forced odd so A2·n/2 ≠ A1·n — no peak ties. The oracle restates
    * every column from (A1, A2, n) without touching a WAV or an FFT.
    *
    * Scale shape: mapPartitions over binary blobs (the sanctioned
    * codec exception), O(n log n) per row, one row out per blob. */
  def multimodalAudioFft(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = 64 << (id % 4).toInt             // 64..512, power of 2
        val a1 = ((id * 7) % 40 + 10).toInt      // 10..49
        val a2 = (2 * ((id * 13) % 40) + 15).toInt // odd, 15..93
        def q(i: Int): Int = (i % 4) match {
          case 1 => 1
          case 3 => -1
          case _ => 0
        }
        def sample(i: Int): Int =
          a1 * (if ((i & 1) == 0) 1 else -1) + a2 * q(i)
        val blob = Wav.encodePcm16(n, sample)
        (id, blob)
      })
      .mapPartitions(_.map { case (id, blob) =>
        val samples = Wav.decodePcm16Samples(blob)
        val n = samples.length
        val mags = Fft.magnitudes(samples)
        var peak = 1
        var k = 2
        while (k < mags.length) {
          if (mags(k) > mags(peak)) peak = k
          k += 1
        }
        var energy = 0L
        var i = 0
        while (i < n) { energy += samples(i).toLong * samples(i); i += 1 }
        (id, n,
         BigDecimal(mags(n / 2)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         BigDecimal(mags(n / 4)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         peak,
         BigDecimal(mags(0)).setScale(4,
           BigDecimal.RoundingMode.HALF_UP).toDouble,
         energy)
      })
      .toDF("doc_id", "n", "mag_half", "mag_quarter", "peak_bin",
            "mag_dc", "energy")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // multimodal_audio_stft
  // ---------------------------------------------------------------

  /** Short-time Fourier transform — framed spectral analysis (the
    * feature extractor a speech/audio training pipeline actually
    * runs): each document's PCM stream is 2–4 consecutive 64-sample
    * frames, each frame an integer-exact two-tone with FRAME-VARYING
    * amplitudes; the key decodes the WAV, windows it (rectangular,
    * hop = frame — the exact-oracle special case), FFTs each frame,
    * and emits one row per (doc, frame) with the two line magnitudes,
    * the peak bin, and the exact frame energy. The oracle restates
    * every number from (doc_id, frame) alone. One input row fans out
    * to nFrames output rows — posexplode over the frame index, the
    * UDTF shape.
    *
    * Scale shape: mapPartitions over blobs; frames never leave their
    * row; output is O(total frames). */
  def multimodalAudioStft(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frameLen = 64
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val nFrames = (id % 3 + 2).toInt
        def a1(f: Int): Int = (((id * 7 + f * 11) % 40) + 10).toInt
        def a2(f: Int): Int = (2 * ((id * 13 + f * 5) % 40) + 15).toInt
        def q(i: Int): Int = (i % 4) match {
          case 1 => 1
          case 3 => -1
          case _ => 0
        }
        val blob = Wav.encodePcm16(nFrames * frameLen, { i =>
          val f = i / frameLen
          val j = i % frameLen
          a1(f) * (if ((j & 1) == 0) 1 else -1) + a2(f) * q(j)
        })
        (id, blob)
      })
      .flatMap { case (id, blob) =>
        val samples = Wav.decodePcm16Samples(blob)
        val nFrames = samples.length / frameLen
        (0 until nFrames).map { f =>
          val frame = java.util.Arrays.copyOfRange(
            samples, f * frameLen, (f + 1) * frameLen)
          val mags = Fft.magnitudes(frame)
          var peak = 1
          var k = 2
          while (k < mags.length) {
            if (mags(k) > mags(peak)) peak = k
            k += 1
          }
          var energy = 0L
          frame.foreach(v => energy += v.toLong * v)
          (id, f,
           BigDecimal(mags(frameLen / 2)).setScale(4,
             BigDecimal.RoundingMode.HALF_UP).toDouble,
           BigDecimal(mags(frameLen / 4)).setScale(4,
             BigDecimal.RoundingMode.HALF_UP).toDouble,
           peak, energy)
        }
      }
      .toDF("doc_id", "frame", "mag_half", "mag_quarter", "peak_bin",
            "energy")
      .orderBy("doc_id", "frame")
  }

  // ---------------------------------------------------------------
  // lake_zorder_files
  // ---------------------------------------------------------------

  /** Three-predicate data skipping at FILE grain through a 3-column
    * Morton layout: orders lands in four arrival-order appends, then
    * one `rewriteClusteredN` commit lays the content on the
    * interleaved (o_orderdate, o_custkey, o_totalprice) curve into 8
    * directories × 4 files, recording [min, max] per FILE for all
    * three columns in the commit log. The 3-D box read then prunes
    * individual files inside surviving directories
    * (LakeTableSpec counts the skipped files); this key proves the
    * CONTENT through the oracle — skipping changes what is scanned,
    * never what is returned.
    *
    * Determinism (§2.3): integers, date strings, one exact DECIMAL
    * sum cast to double at the end.
    *
    * Scale shape: the layout is one range exchange on the Morton code
    * + one grouped stats pass over input_file_name; the fixture is a
    * P6 artifact. At 100 TB per-file bounds are where the real I/O
    * win lives — a surviving directory still skips most of its
    * files for a tight box. */
  def lakeZorderFiles(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d)
      .select(col("o_orderkey").as("key"),
              col("o_orderdate").cast("date").cast("string").as("odate"),
              col("o_custkey").as("custkey"),
              round(col("o_totalprice"), 2)
                .cast(DecimalType(18, 2)).as("price"))
    val root = ArtifactCache.directory(s, Artifacts.cacheRoot,
        Artifacts.lakeFixture("lake_zfiles_v1"), d)(Seq(base))(
      ArtifactCache.artifactHash(base)) { r =>
      (0 until 4).foreach(p =>
        LakeTable.append(base.filter(col("key") % 4 === p), r))
      LakeTable.rewriteClusteredN(LakeTable.read(s, r), r,
        Seq("odate", "custkey", "price"), 8, filesPerDir = 4)
    }.dir
    LakeTable.readRange(s, root,
        Seq(("odate", "1994-01-01", "1995-12-31"),
            ("custkey", "1", "750"),
            ("price", "50000", "150000")))
      .groupBy(substring(col("odate"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           sum("price").cast("double").as("revenue"))
      .orderBy("month")
  }
}
