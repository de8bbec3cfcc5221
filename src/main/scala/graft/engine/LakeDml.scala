package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Surgical row-level DML over [[LakeTable]] — copy-on-write DELETE
  * and MERGE at DIRECTORY granularity, the missing half of the
  * lakehouse write path (`lake_merge_upsert` proved the
  * whole-table-rewrite transaction; this module is what Delta's
  * DELETE/MERGE and Iceberg's copy-on-write actually do at 100 TB,
  * where rewriting the table to remove 0.001% of its rows is not an
  * option):
  *
  *   1. PRUNE — select candidate directories from the commit log
  *      alone: per-column [min, max] stats for range-shaped
  *      predicates ([[LakeTable.rangeDirs]]'s machinery), plus the
  *      per-directory BLOOM sidecars this module adds for
  *      key-membership shapes (a uniform id column spans the whole
  *      [min, max] in EVERY directory, so range stats prune nothing
  *      for a point delete — membership does, with no false
  *      negatives).
  *   2. TOUCH ONLY DIRTY — one distributed pass over the candidates
  *      counts actual matches per directory (a grouped aggregate
  *      keyed by input file); directories whose candidacy was a
  *      stats/bloom false positive are left BY REFERENCE, never
  *      rewritten.
  *   3. ONE ATOMIC COMMIT — rewritten survivors (with their stats
  *      and bloom sidecars recomputed) and the removals of the dirty
  *      directories land in a single commit: a concurrent reader
  *      replays the pre-DML or post-DML file set, never a mix, and
  *      the pre-DML snapshot stays time-travelable until VACUUM.
  *
  * Cost shape: O(log) pruning + one scan over candidate directories
  * + a rewrite of only the directories that actually contain
  * affected rows. At 1000 executors and 10^5 directories, a pruned
  * point delete reads a handful of directories and rewrites fewer.
  *
  * DELETE null semantics are SQL's: a row is deleted iff the
  * predicate is TRUE; FALSE and NULL rows survive (`!(cond <=>
  * true)` — LakeDmlSpec pins the NULL branch).
  *
  * Bloom sidecars are addressed BY CONVENTION, not recorded in the
  * commit: directory `d`'s filter on column `c` lives at
  * `_graft_log/blooms/d/c.bf`, immutable like `d` itself (data
  * directories are never mutated, only added/removed), absent ⇒ the
  * directory is kept (a bloom is an optimization, never a
  * correctness filter — exactly the stats contract). This keeps the
  * commit log tiny (a 32 KB blob per directory would dominate the
  * JSON) and the read lazy: only a key-pruned operation consults
  * sidecars, and only for directories that survived stat pruning.
  * [[LakeTable.vacuum]] reclaims a deleted directory's sidecars with
  * the directory.
  *
  * Concurrency: optimistic, the [[LakeTable]] contract — the commit
  * is computed against snapshot V and written as V+1 with
  * create-exclusive; a racing writer surfaces as
  * [[LakeTable.CommitConflictException]] and the caller re-resolves.
  * Idempotent re-delivery: pass `txn = Some((appId, batchId))` and a
  * replayed batch no-ops exactly like [[LakeTable.appendTxn]]
  * (the GDPR-forget path in [[Ingest]] rides this).
  *
  * Determinism (§2.3): every written row is a pure function of the
  * snapshot content and the arguments; directory processing order is
  * sorted; no timestamps, no randomness beyond the directory-name
  * UUIDs (which never enter row data).
  */
object LakeDml {

  /** What a DML call did — bounded metadata, returned for
    * observability and spec assertions (the "did we REALLY not
    * rewrite the clean directories" question must be answerable
    * without grepping the log). */
  case class DmlReport(version: Option[Long], activeDirs: Int,
                       candidateDirs: Int, rewrittenDirs: Int,
                       removedDirs: Int, rowsDeleted: Long,
                       rowsInserted: Long, rowsUpdated: Long = 0L) {
    def prunedDirs: Int = activeDirs - candidateDirs
  }

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------------
  // Bloom sidecars
  // ------------------------------------------------------------------

  private[graft] def bloomPath(root: String, dir: String,
                               col: String): Path =
    new Path(root, s"_graft_log/blooms/$dir/$col.bf")

  /** Build and persist the membership sidecar for `dir`'s column
    * `keyCol`: one aggregate over the directory's rows, 32 KB out.
    * Items enter the filter as `xxhash64(keyCol)` — the probe side
    * must hash identically (see [[keyHashes]]). */
  def writeBloom(spark: SparkSession, root: String, dir: String,
                 keyCol: String): Unit = {
    Bf.register(spark)
    val blob = spark.read.parquet(s"$root/$dir")
      .select(xxhash64(col(keyCol)).as("__h"))
      .agg(expr("bf_sketch(__h)")).head().getAs[Array[Byte]](0)
    val p = bloomPath(root, dir, keyCol)
    val f = fs(spark, root)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(blob) finally out.close()
  }

  private def readBloom(spark: SparkSession, root: String, dir: String,
                        keyCol: String): Option[Array[Byte]] = {
    val p = bloomPath(root, dir, keyCol)
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  /** Append one batch WITH a membership sidecar on `keyCol` — the
    * landing shape for tables that will take point deletes/merges on
    * a high-cardinality key. The sidecar needs no commit of its own
    * (it is addressed by the immutable directory name and is never a
    * correctness filter), so the append stays one atomic commit. */
  def appendWithBloom(df: DataFrame, root: String,
                      keyCol: String): Long = {
    val spark = df.sparkSession
    val version = LakeTable.append(df, root)
    // the append's single added directory is the newest active entry
    val st = LakeTable.replayState(spark, root, Some(version))
    writeBloom(spark, root, st.active.last, keyCol)
    version
  }

  /** Backfill membership sidecars on `keyCol` for every active
    * directory that lacks one — the OPTIMIZE-style maintenance step
    * that makes an existing table point-prunable. Idempotent;
    * O(active dirs) aggregates, each over one directory. */
  def bloomAll(spark: SparkSession, root: String, keyCol: String): Int = {
    val st = LakeTable.replayState(spark, root, None)
    val f = fs(spark, root)
    val missing = st.active.filterNot(d =>
      f.exists(bloomPath(root, d, keyCol)))
    missing.foreach(d => writeBloom(spark, root, d, keyCol))
    missing.size
  }

  /** The xxhash64 image of literal `keys` under the table's own
    * column type — computed IN Spark so probe and sidecar hash
    * identically (a driver-side reimplementation of xxhash64's Spark
    * seed/width handling is exactly the kind of silent skew this
    * engine refuses). One tiny job; `keys` is bounded by contract. */
  private def keyHashes(spark: SparkSession, root: String,
                        st: LakeTable.LogState, keyCol: String,
                        keys: Seq[Any]): Array[Long] = {
    require(keys.nonEmpty, "deleteByKeys: empty key list")
    require(keys.size <= 100000,
      s"deleteByKeys is the BOUNDED-list path (${keys.size} keys > 100k); " +
        "for unbounded key sets run mergeInto-style via an anti-join rewrite")
    val dt = spark.read.parquet(s"$root/${st.active.head}")
      .schema(keyCol).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyCol, dt)))
    val rows = new java.util.ArrayList[Row](keys.size)
    keys.foreach(k => rows.add(Row(k)))
    spark.createDataFrame(rows, schema)
      .select(xxhash64(col(keyCol)).as("__h"))
      .collect().map(_.getLong(0))
  }

  // ------------------------------------------------------------------
  // DELETE
  // ------------------------------------------------------------------

  /** Copy-on-write DELETE: remove the rows where `cond` IS TRUE,
    * rewriting only the directories that actually contain such rows.
    *
    * `prunePreds` are optional (col, lo, hi) range hints evaluated
    * against the commit log's per-column stats — the caller states
    * where the predicate CAN match and the log prunes the rest
    * (hints are an optimization: a directory the hints exclude is
    * excluded from the scan entirely, so hints must be implied by
    * `cond`, the same contract as [[LakeTable.readRange]]).
    * `candidateFilter` is the bloom hook [[deleteByKeys]] installs.
    */
  // ------------------------------------------------------------------
  // Predicate-derived pruning (the SQL path's stats pushdown)
  // ------------------------------------------------------------------

  /** A directory-pruning interval derived from ONE conjunct of a DML
    * condition. `numeric` records the LITERAL's nature: a derived
    * interval may only be compared against log stats whose declared
    * ordering matches it (numeric literal ↔ "num" kind, string
    * literal ↔ "str" kind). Comparing a numeric literal against
    * lexicographic string stats silently prunes directories whose
    * rows the row-level predicate would match — the r11 ADVICE trap,
    * here made unrepresentable by the kind gate instead of by caller
    * discipline. */
  /** `tsGuard` marks a TEMPORAL-derived interval: its lexicographic
    * soundness holds only for the standard 4-digit-year rendering
    * ("1995-01-01 …"), so [[pruneByDerived]] additionally requires
    * the directory's recorded stats to LOOK like that rendering —
    * exotic years ("+10000-…") sort lexicographically out of
    * chronological order and must keep the directory. */
  case class DerivedPred(col: String, lo: Option[String],
                         hi: Option[String], numeric: Boolean,
                         tsGuard: Boolean = false)

  private val FourDigitYear = "\\d{4}-.*"

  /** Conservative prune intervals from a condition tree (unresolved —
    * what `expr(text)` parses — or resolved): AND conjuncts of the
    * form `col op literal` (both operand orders), `col IN (literals)`,
    * and OR trees whose branches each derive an interval on the same
    * column (the per-branch intervals are UNIONED — `k BETWEEN 1 AND 5
    * OR k BETWEEN 90 AND 95` prunes to [1, 95]). DATE literals derive
    * string-kind intervals in ISO form, which is exactly the
    * lexicographic ordering date stats were recorded under (stats are
    * the `cast(... AS STRING)` of a date — ISO, chronological).
    * Anything else — computed left sides like `k % 7 = 3`, NULL or
    * timestamp literals, OR branches that derive nothing — derives
    * nothing for that conjunct, which is always safe: pruning is an
    * optimization gated by [[pruneByDerived]], never a correctness
    * filter. Strict and non-strict inequalities derive the same closed
    * interval (a boundary-touching directory survives and the
    * row-level predicate decides — conservative by construction). */
  def derivePrunePreds(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[DerivedPred] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, NumericType}
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def attrName(x: Expression): Option[String] = x match {
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // (rendered value, numeric kind, temporal guard). ALLOWLIST, not
    // catch-all: a literal derives an interval only when its rendering
    // is comparable under a stat ordering the log could have recorded.
    // Temporal literals render through Spark's OWN Cast-to-string
    // (driver-side eval of a literal cast — the IDENTICAL code path
    // the stats writer used), so the strings match by construction;
    // lexicographic order on that rendering is chronological only for
    // 4-digit years, hence the guard on both the literal (here) and
    // the stats (predIntersects).
    def litVal(x: Expression): Option[(String, Boolean, Boolean)] = {
      def rendered(v: Any, t: org.apache.spark.sql.types.DataType)
          : Option[(String, Boolean, Boolean)] = {
        val s = Cast(Literal(v, t),
            org.apache.spark.sql.types.StringType,
            Some(org.apache.spark.sql.internal.SQLConf.get
              .sessionLocalTimeZone))
          .eval(null)
        Option(s).map(_.toString).filter(_.matches(FourDigitYear))
          .map((_, false, true))
      }
      x match {
        case Literal(v, t @ DateType) if v != null => rendered(v, t)
        case Literal(v, t @ (org.apache.spark.sql.types.TimestampType |
                             org.apache.spark.sql.types.TimestampNTZType))
            if v != null => rendered(v, t)
        case Literal(v, t) if v != null =>
          t match {
            case _: NumericType =>
              // NaN/Infinity render unparseable — deriving them would
              // crash the interval orderings downstream; derive
              // nothing instead (safe, the documented contract)
              try { BigDecimal(v.toString); Some((v.toString, true, false)) }
              catch { case _: NumberFormatException => None }
            case org.apache.spark.sql.types.StringType =>
              Some((v.toString, false, false))
            case _ => None
          }
        case _ => None
      }
    }
    def strOrd(numeric: Boolean): Ordering[String] =
      if (numeric) Ordering.by((s: String) => BigDecimal(s))
      else Ordering.String
    // Both the SQL parser and the Column DSL deliver comparison
    // operators as UNRESOLVED FUNCTIONS ('between('k, 1, 3),
    // '`<`('k, 50)) — the analyzer would resolve them, but derivation
    // runs pre-analysis. Rewrite the known operator names to their
    // catalyst nodes; anything unrecognized stays opaque (derives
    // nothing — safe). A USER-registered function shadowing one of
    // these names (`between`(c, a, b) via backticks resolves to the
    // UDF, not the operator) must stay opaque too — unwrapping it
    // would derive a prune interval from semantics the UDF does not
    // have (r17 ADVICE): a name whose session registration differs
    // from the builtin (or exists with no builtin at all) is treated
    // as shadowed and derives nothing. NOTE: "between" IS a Spark 4
    // builtin — the session registry clones the builtin layer, so an
    // unshadowed lookup matches the builtin class and derives.
    lazy val shadowedOps: Set[String] = {
      import org.apache.spark.sql.catalyst.FunctionIdentifier
      import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
      org.apache.spark.sql.SparkSession.getActiveSession.map { s =>
        Set("and", "or", "<", "<=", ">", ">=", "=", "==", "in",
            "between").filter { n =>
          val fi = FunctionIdentifier(n)
          val cur = s.sessionState.functionRegistry.lookupFunction(fi)
          val blt = FunctionRegistry.builtin.lookupFunction(fi)
          cur.exists(c => !blt.map(_.getClassName).contains(c.getClassName))
        }
      }.getOrElse(Set.empty)
    }
    def unwrapOps(x: Expression): Expression = x.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if u.nameParts.size == 1 && u.filter.isEmpty && !u.isDistinct &&
             !shadowedOps.contains(u.nameParts.head.toLowerCase) =>
        (u.nameParts.head.toLowerCase, u.arguments) match {
          case ("and", Seq(l, r)) => And(l, r)
          case ("or", Seq(l, r)) => Or(l, r)
          case ("<", Seq(l, r)) => LessThan(l, r)
          case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
          case (">", Seq(l, r)) => GreaterThan(l, r)
          case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
          case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
          case ("in", l +: rest) if rest.nonEmpty => In(l, rest)
          case ("between", Seq(c, lo, hi)) =>
            And(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))
          case _ => u
        }
    }
    // per-column INTERSECTION of one branch's derived preds (a branch
    // `a >= 1 AND a <= 5` folds to [1, 5]); None bounds stay open;
    // the temporal guard is sticky (guarding more only keeps more)
    def perCol(ps: Seq[DerivedPred]): Map[String, DerivedPred] =
      ps.groupBy(p => (p.col, p.numeric)).flatMap {
        case ((c, n), group) =>
          val o = strOrd(n)
          val los = group.flatMap(_.lo)
          val his = group.flatMap(_.hi)
          Some(c -> DerivedPred(c,
            if (los.isEmpty) None else Some(los.max(o)),
            if (his.isEmpty) None else Some(his.min(o)), n,
            group.exists(_.tsGuard)))
      }
    def derive(x: Expression): Seq[DerivedPred] = conjuncts(x).flatMap {
      case Or(l, r) =>
        // each side derives independently (its own conjuncts
        // intersected per column); columns bounded on BOTH sides with
        // the same literal family take the UNION of their intervals
        val lm = perCol(derive(l))
        val rm = perCol(derive(r))
        lm.keySet.intersect(rm.keySet).toSeq.sorted.flatMap { c =>
          val (a, b) = (lm(c), rm(c))
          if (a.numeric != b.numeric) None
          else {
            val o = strOrd(a.numeric)
            val lo = for (x1 <- a.lo; x2 <- b.lo) yield o.min(x1, x2)
            val hi = for (x1 <- a.hi; x2 <- b.hi) yield o.max(x1, x2)
            if (lo.isEmpty && hi.isEmpty) None
            else Some(DerivedPred(c, lo, hi, a.numeric,
                                  a.tsGuard || b.tsGuard))
          }
        }
      case EqualTo(a, b) =>
        (for (c <- attrName(a); (v, n, g) <- litVal(b))
          yield DerivedPred(c, Some(v), Some(v), n, g)).orElse(
         for (c <- attrName(b); (v, n, g) <- litVal(a))
          yield DerivedPred(c, Some(v), Some(v), n, g)).toSeq
      case LessThan(a, b) => boundPred(attrName(a), litVal(b), hiSide = true)
        .orElse(boundPred(attrName(b), litVal(a), hiSide = false)).toSeq
      case LessThanOrEqual(a, b) => boundPred(attrName(a), litVal(b), hiSide = true)
        .orElse(boundPred(attrName(b), litVal(a), hiSide = false)).toSeq
      case GreaterThan(a, b) => boundPred(attrName(a), litVal(b), hiSide = false)
        .orElse(boundPred(attrName(b), litVal(a), hiSide = true)).toSeq
      case GreaterThanOrEqual(a, b) => boundPred(attrName(a), litVal(b), hiSide = false)
        .orElse(boundPred(attrName(b), litVal(a), hiSide = true)).toSeq
      case In(a, vs) if vs.nonEmpty =>
        (for {
          c <- attrName(a)
          lits <- {
            val ls = vs.map(litVal)
            if (ls.forall(_.isDefined)) Some(ls.flatten) else None
          }
          if lits.map(_._2).distinct.size == 1 // one literal family
        } yield {
          val numeric = lits.head._2
          val o = strOrd(numeric)
          DerivedPred(c, Some(lits.map(_._1).min(o)),
                      Some(lits.map(_._1).max(o)), numeric,
                      lits.exists(_._3))
        }).toSeq
      case _ => Seq.empty
    }
    derive(unwrapOps(e))
  }

  private def boundPred(c: Option[String],
                        v: Option[(String, Boolean, Boolean)],
                        hiSide: Boolean): Option[DerivedPred] =
    for (cc <- c; (vv, n, g) <- v) yield
      if (hiSide) DerivedPred(cc, None, Some(vv), n, g)
      else DerivedPred(cc, Some(vv), None, n, g)

  /** Keep only directories whose logged stats can intersect every
    * derived interval — the candidateFilter [[deleteWhere]] /
    * [[updateWhere]] accept, giving SQL-text DML the same commit-log
    * pruning the Scala API gets from explicit prunePreds. A pred
    * applies ONLY when the column's logged kind matches the literal's
    * nature (see [[DerivedPred]]); missing stats, missing kinds,
    * null bounds, or unparseable numerics all keep the directory. */
  def pruneByDerived(spark: SparkSession, root: String,
                     dirs: Seq[String],
                     preds: Seq[DerivedPred]): Seq[String] =
    pruneWithState(LakeTable.replayState(spark, root, None), dirs, preds)

  /** Can `p` intersect the recorded [min, max]? Missing stats, null
    * bounds, kind mismatch, or unparseable numerics all KEEP the data
    * — stats are an optimization, never a correctness filter. */
  private def predIntersects(st: LakeTable.LogState, p: DerivedPred,
                             stats: Option[(String, String)]): Boolean =
    predIntersectsKind(p, st.colKinds.get(p.col), stats)

  /** [[predIntersects]] with the stat kind supplied explicitly — the
    * tombstone-file path carries its kind in the eqdel record itself
    * rather than in the data table's colKinds. */
  private def predIntersectsKind(p: DerivedPred, kindOpt: Option[String],
                                 stats: Option[(String, String)]): Boolean = {
    def num(s: String): Option[BigDecimal] =
      if (s == null) None
      else try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    // a pred applies only under a MATCHING declared ordering: numeric
    // literal ↔ "num"; temporal literal ↔ "ts" ONLY (a legacy "str"
    // log may hold a GENUINE string column whose non-canonical date
    // spellings — '2020-1-2' passes the year guard — coerce to the
    // temporal type row-level while the stats compare as raw strings,
    // a false prune; legacy logs simply never prune, the documented
    // posture — r17 ADVICE); plain string literal ↔ "str" ONLY — a
    // string literal compared against a temporal column coerces to
    // the temporal type row-level, where unguarded lexicographic
    // pruning is the exotic-year trap
    val kindOk = kindOpt.exists { k =>
      if (p.numeric) k == "num"
      else if (p.tsGuard) k == "ts"
      else k == "str"
    }
    !kindOk || (stats match {
      case Some((mn, mx)) if mn != null && mx != null =>
        // temporal intervals are lexicographically sound only against
        // the standard 4-digit-year rendering: exotic-year stats
        // ("+10000-…") sort out of chronological order — keep
        if (p.tsGuard && !(mn.matches(FourDigitYear) &&
                           mx.matches(FourDigitYear))) true
        else if (p.numeric) {
          val loOk = p.lo.forall(l =>
            (num(l), num(mx)) match {
              case (Some(a), Some(b)) => a <= b
              case _ => true
            })
          val hiOk = p.hi.forall(h =>
            (num(mn), num(h)) match {
              case (Some(a), Some(b)) => a <= b
              case _ => true
            })
          loOk && hiOk
        } else if (p.tsGuard) {
          // cross-granularity rendering harmonized to midnight form:
          // a DATE-rendered bound against a TIMESTAMP column's stats
          // (and vice versa) compares at its coerced midnight instant,
          // never at its bare 10-char prefix (LakeTable.tsMidnight)
          import LakeTable.tsMidnight
          p.lo.forall(l => tsMidnight(l) <= tsMidnight(mx)) &&
            p.hi.forall(h => tsMidnight(mn) <= tsMidnight(h))
        } else p.lo.forall(_ <= mx) && p.hi.forall(mn <= _)
      case _ => true
    })
  }

  private def pruneWithState(st: LakeTable.LogState, dirs: Seq[String],
                             preds: Seq[DerivedPred]): Seq[String] = {
    if (preds.isEmpty) return dirs
    dirs.filter(d => preds.forall(p =>
      predIntersects(st, p, st.colStats.get(d).flatMap(_.get(p.col)))))
  }

  /** FILE-grain refinement of [[pruneWithState]]: directory-grain
    * survivors split into (whole directories without per-file stats,
    * individual surviving files inside stat'd directories) — the
    * [[LakeTable.rangeFiles]] posture for derived preds, kind-gated
    * per [[DerivedPred]]. At 100 TB the real I/O win is at file
    * grain: a z-layout directory prunes most of its files for a
    * tight box even when the directory itself must survive. */
  private def pruneFilesWithState(st: LakeTable.LogState,
                                  dirs: Seq[String],
                                  preds: Seq[DerivedPred])
      : (Seq[String], Seq[String]) = {
    val kept = pruneWithState(st, dirs, preds)
    if (preds.isEmpty) return (kept, Seq.empty)
    val (withFiles, whole) = kept.partition(st.fileStats.contains)
    val files = withFiles.flatMap { d =>
      st.fileStats(d).collect {
        case (f, cols) if preds.forall(p =>
          predIntersects(st, p, cols.get(p.col))) => s"$d/$f"
      }
    }
    (whole, files)
  }

  def deleteWhere(spark: SparkSession, root: String, cond: Column,
                  prunePreds: Seq[(String, String, String)] = Nil,
                  candidateFilter: Seq[String] => Seq[String] = identity,
                  txn: Option[(String, Long)] = None): DmlReport = {
    if (txn.exists { case (app, b) =>
          LakeTable.lastTxn(spark, root, app).exists(_ >= b) })
      return DmlReport(None, 0, 0, 0, 0, 0L, 0L) // replayed delivery
    val st = LakeTable.replayState(spark, root, None)
    val candidates =
      candidateFilter(LakeTable.dirsMatching(st, prunePreds)).sorted
    val next = st.version + 1
    if (candidates.isEmpty) {
      // nothing can match; advance the txn high-water mark if asked
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, 0, 0, 0, 0L, 0L)
    }
    // ONE distributed pass over the candidates: per-directory match
    // counts, keyed by input file and folded to directories on the
    // driver (directory names embed a UUID — `indexOf` is exact).
    val hitRows = spark.read.option("mergeSchema", "true")
      .parquet(candidates.map(d => s"$root/$d"): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(count(when(cond, 1)).as("__hits"))
      .collect()
    def dirOf(uri: String): String = {
      val d = candidates.find(uri.contains)
      require(d.isDefined, s"lake dml: scanned file $uri outside candidates")
      d.get
    }
    val perDir = hitRows.groupBy(r => dirOf(r.getString(0))).map {
      case (d, rs) => d -> rs.map(_.getLong(1)).sum
    }
    val dirty = perDir.filter(_._2 > 0).keys.toSeq.sorted
    val deleted = perDir.valuesIterator.sum
    if (dirty.isEmpty) {
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, candidates.size, 0, 0, 0L, 0L)
    }
    // rewrite each dirty directory's survivors; a directory whose
    // every row matched is removed without a replacement
    val (adds, colStats, kinds, fileStats) =
      rewriteSurvivors(spark, root, st, dirty, next,
        df => df.filter(!(cond <=> lit(true))))
    commitCow(spark, root, next, adds, dirty, txn, colStats, kinds,
              fileStats, st)
    DmlReport(Some(next), st.active.size, candidates.size, adds.size,
              dirty.size, deleted, 0L)
  }

  /** Point DELETE by key list — the GDPR / right-to-be-forgotten
    * shape: prune by the keys' [min, max] against the log stats AND
    * by the per-directory bloom sidecars (no false negatives — a
    * directory whose filter rejects every key provably holds none of
    * them), then [[deleteWhere]] over the survivors.
    * `keys` is bounded by contract (≤ 100k literals). */
  def deleteByKeys(spark: SparkSession, root: String, keyCol: String,
                   keys: Seq[Any],
                   txn: Option[(String, Long)] = None): DmlReport = {
    if (txn.exists { case (app, b) =>
          LakeTable.lastTxn(spark, root, app).exists(_ >= b) })
      return DmlReport(None, 0, 0, 0, 0, 0L, 0L) // replayed delivery
    val st = LakeTable.replayState(spark, root, None)
    if (st.active.isEmpty)
      return DmlReport(None, 0, 0, 0, 0, 0L, 0L)
    val hashes = keyHashes(spark, root, st, keyCol, keys)
    val bloomPrune: Seq[String] => Seq[String] = dirs => dirs.filter { d =>
      readBloom(spark, root, d, keyCol) match {
        case Some(blob) => hashes.exists(Bf.contains(blob, _))
        case None => true // no sidecar: keep (never a correctness filter)
      }
    }
    val ks = keys.map(_.toString)
    val pruneRange =
      if (st.colKinds.get(keyCol).contains("num") &&
          ks.forall(s => scala.util.Try(BigDecimal(s)).isSuccess))
        Seq((keyCol, ks.minBy(BigDecimal(_)), ks.maxBy(BigDecimal(_))))
      else Seq((keyCol, ks.min, ks.max))
    deleteWhere(spark, root, col(keyCol).isin(keys: _*),
                pruneRange, bloomPrune, txn)
  }

  // ------------------------------------------------------------------
  // UPDATE
  // ------------------------------------------------------------------

  /** Copy-on-write UPDATE: for rows where `cond` IS TRUE, replace
    * each column in `set` with its expression (evaluated against the
    * row); every other row passes through byte-identical. Same
    * prune → touch-dirty → one-commit shape as [[deleteWhere]]; the
    * rewritten directories keep their row COUNT (updates never add
    * or drop rows), with stats/sidecars recomputed because the
    * updated values may move them. SQL NULL semantics: a NULL
    * predicate row is NOT updated. */
  def updateWhere(spark: SparkSession, root: String, cond: Column,
                  set: Map[String, Column],
                  prunePreds: Seq[(String, String, String)] = Nil,
                  candidateFilter: Seq[String] => Seq[String] = identity,
                  txn: Option[(String, Long)] = None): DmlReport = {
    require(set.nonEmpty, "updateWhere: empty SET clause")
    if (txn.exists { case (app, b) =>
          LakeTable.lastTxn(spark, root, app).exists(_ >= b) })
      return DmlReport(None, 0, 0, 0, 0, 0L, 0L) // replayed delivery
    val st = LakeTable.replayState(spark, root, None)
    val candidates =
      candidateFilter(LakeTable.dirsMatching(st, prunePreds)).sorted
    val next = st.version + 1
    if (candidates.isEmpty) {
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, 0, 0, 0, 0L, 0L)
    }
    val hitRows = spark.read.option("mergeSchema", "true")
      .parquet(candidates.map(d => s"$root/$d"): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(count(when(cond, 1)).as("__hits"))
      .collect()
    val perDir = hitRows.groupBy { r =>
      val uri = r.getString(0)
      candidates.find(uri.contains).getOrElse(
        sys.error(s"lake dml: scanned file $uri outside candidates"))
    }.map { case (d, rs) => d -> rs.map(_.getLong(1)).sum }
    val dirty = perDir.filter(_._2 > 0).keys.toSeq.sorted
    val updated = perDir.valuesIterator.sum
    if (dirty.isEmpty) {
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, candidates.size, 0, 0, 0L, 0L)
    }
    val (adds, colStats, kinds, fileStats) =
      rewriteSurvivors(spark, root, st, dirty, next, { df =>
        val hit = cond <=> lit(true)
        df.select(df.columns.map { c =>
          set.get(c).map(v => when(hit, v).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*)
      })
    commitCow(spark, root, next, adds, dirty, txn, colStats, kinds,
              fileStats, st)
    DmlReport(Some(next), st.active.size, candidates.size, adds.size,
              dirty.size, 0L, 0L, rowsUpdated = updated)
  }

  // ------------------------------------------------------------------
  // MERGE
  // ------------------------------------------------------------------

  /** Copy-on-write MERGE (SCD-1 upsert): for each key in `updates`,
    * overwrite the matching row's non-key columns; keys with no
    * match land as inserts. Only directories that actually contain a
    * matched key are rewritten; inserts land as ONE new directory
    * (with a bloom sidecar when the table carries them); everything
    * commits atomically.
    *
    * `updates` must carry the table's schema (key + payload
    * columns). Pruning: the updates' key [min, max] (one aggregate)
    * against the log stats, then bloom sidecars when the update key
    * set is small enough to collect (`bloomProbeLimit`); a larger
    * update set skips the bloom and relies on stats — the scan cost
    * degrades gracefully, correctness never moves. */
  def mergeInto(spark: SparkSession, root: String, updates: DataFrame,
                keyCol: String, txn: Option[(String, Long)] = None,
                bloomProbeLimit: Int = 65536): DmlReport = {
    if (txn.exists { case (app, b) =>
          LakeTable.lastTxn(spark, root, app).exists(_ >= b) })
      return DmlReport(None, 0, 0, 0, 0, 0L, 0L) // replayed delivery
    val st = LakeTable.replayState(spark, root, None)
    val next = st.version + 1
    val up = updates.localCheckpoint() // several consumers, one plan run
    val payload = up.columns.filterNot(_ == keyCol)
    // key bounds: one 1-row aggregate (numeric and string kinds both
    // record their own ordering's extremes)
    val b = up.agg(min(col(keyCol)).cast("string"),
                   max(col(keyCol)).cast("string")).head()
    val pruneRange =
      if (b.isNullAt(0)) Seq.empty // empty updates
      else Seq((keyCol, b.getString(0), b.getString(1)))
    val statDirs = LakeTable.dirsMatching(st, pruneRange)
    val nUpdates = up.count()
    val candidates = (if (nUpdates > 0 && nUpdates <= bloomProbeLimit) {
      val hashes = up.select(xxhash64(col(keyCol)).as("__h"))
        .distinct().collect().map(_.getLong(0))
      statDirs.filter { d =>
        readBloom(spark, root, d, keyCol) match {
          case Some(blob) => hashes.exists(Bf.contains(blob, _))
          case None => true
        }
      }
    } else statDirs).sorted
    if (nUpdates == 0) {
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, 0, 0, 0, 0L, 0L)
    }
    val upKeys = up.select(col(keyCol)).distinct()
    // dirty dirs: candidates whose rows hit an update key — one pass
    val dirty: Seq[String] = if (candidates.isEmpty) Seq.empty else {
      val hitRows = spark.read.option("mergeSchema", "true")
        .parquet(candidates.map(d => s"$root/$d"): _*)
        .withColumn("__f", input_file_name())
        .join(upKeys, Seq(keyCol), "left_semi")
        .groupBy("__f").count().collect()
      hitRows.map { r =>
        val uri = r.getString(0)
        val d = candidates.find(uri.contains)
        require(d.isDefined, s"lake dml: scanned file $uri outside candidates")
        d.get
      }.distinct.sorted
    }
    // matched keys — exactly the keys present in the dirty dirs
    val matchedKeys =
      if (dirty.isEmpty) upKeys.limit(0)
      else spark.read.option("mergeSchema", "true")
        .parquet(dirty.map(d => s"$root/$d"): _*)
        .select(col(keyCol)).join(upKeys, Seq(keyCol), "left_semi")
        .distinct().localCheckpoint()
    val inserts = up.join(matchedKeys, Seq(keyCol), "left_anti")
      .select(up.columns.map(col): _*)
    val nInserts = inserts.count()
    // rewrite dirty dirs: SCD-1 coalesce against the updates
    val (rewrites, colStats, kinds, fileStats) =
      rewriteSurvivors(spark, root, st, dirty, next, { df =>
        val upAliased = up.select(
          col(keyCol) +: payload.map(c => col(c).as(s"__u_$c")): _*)
        df.join(upAliased, Seq(keyCol), "left")
          .select(col(keyCol) +: payload.map(c =>
            coalesce(col(s"__u_$c"), col(c)).as(c)): _*)
          .select(df.columns.map(col): _*)
      })
    // inserts land as one appended directory (bloom sidecar iff the
    // table already carries them on the key)
    val tableHasBlooms = st.active.exists(d =>
      fs(spark, root).exists(bloomPath(root, d, keyCol)))
    val insertDir =
      if (nInserts == 0) None
      else {
        val dir = LakeTable.newDataDir(next, "-ins")
        inserts.write.mode("errorifexists").parquet(s"$root/$dir")
        Some(dir)
      }
    val insertStats = insertDir.map { dir =>
      val bnd = spark.read.parquet(s"$root/$dir")
        .agg(min(col(keyCol)).cast("string"),
             max(col(keyCol)).cast("string")).head()
      dir -> Map(keyCol -> (bnd.getString(0), bnd.getString(1)))
    }.toMap
    val adds = rewrites ++ insertDir.toSeq
    if (adds.isEmpty && dirty.isEmpty) {
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, candidates.size, 0, 0, 0L, 0L)
    }
    val keyKind = Map(keyCol -> st.colKinds.getOrElse(keyCol,
      LakeTable.statKind(up.schema(keyCol).dataType)))
    commitCow(spark, root, next, adds, dirty, txn,
              colStats ++ insertStats, kinds ++ keyKind, fileStats, st)
    insertDir.filter(_ => tableHasBlooms)
      .foreach(d => writeBloom(spark, root, d, keyCol))
    DmlReport(Some(next), st.active.size, candidates.size, rewrites.size,
              dirty.size, 0L, nInserts)
  }

  // ------------------------------------------------------------------
  // MERGE-ON-READ deletes (equality-delete files)
  // ------------------------------------------------------------------
  //
  // The OTHER half of lakehouse DML, complementing the copy-on-write
  // path above — the Iceberg equality-delete / Delta deletion-vector
  // posture: a delete WRITES a tiny tombstone file naming the doomed
  // keys (one commit, ZERO data directories touched — O(delete list),
  // not O(matching data)), readers subtract the live tombstones with
  // one broadcast anti-join, and a later COMPACTION (applyDeletes)
  // materializes them into the data and clears them in one atomic
  // commit. Write-cheap now, read-rent until compaction — the right
  // trade when deletes are frequent and small (a GDPR request stream)
  // and full copy-on-write per request would churn the table.
  //
  // Tombstone semantics (deliberately simpler than Iceberg's
  // sequence-number scoping): a key named by a LIVE equality-delete
  // file is absent from every MOR read of that snapshot, regardless
  // of when its rows landed — re-inserting a tombstoned key requires
  // applying deletes first. That is exactly the right-to-be-forgotten
  // contract (the ban outlives the row), and it keeps the read path
  // one anti-join instead of a per-file sequence comparison.

  /** Merge-on-read DELETE: write `keys` (any size — it is a DataFrame,
    * never collected) as one equality-delete file and register it in
    * one commit. No data directory is read or written. Readers must
    * use [[readMor]]; [[LakeTable.read]] alone does not see
    * tombstones. Returns the commit version (None = replayed txn). */
  def deleteByKeysMor(spark: SparkSession, root: String, keyCol: String,
                      keys: DataFrame,
                      txn: Option[(String, Long)] = None): Option[Long] = {
    if (txn.exists { case (app, b) =>
          LakeTable.lastTxn(spark, root, app).exists(_ >= b) })
      return None // replayed delivery
    val st = LakeTable.replayState(spark, root, None)
    val next = st.version + 1
    val dir = f"eqdel-v$next%010d-" +
      java.util.UUID.randomUUID().toString.take(8)
    keys.select(col(keyCol)).distinct()
      .write.mode("errorifexists").parquet(s"$root/$dir")
    // record the tombstone file's own key range (same rendering and
    // kind discipline as data stats): a later predicate-carrying MOR
    // read skips delete files wholly outside its key interval. An
    // all-null or empty key set records nothing — the file is then
    // always scanned, the safe posture (a NULL key masks no row
    // anyway: it never equi-matches).
    val bnd = spark.read.parquet(s"$root/$dir")
      .agg(min(col(keyCol)).cast("string"),
           max(col(keyCol)).cast("string")).head()
    val eqStats =
      if (bnd.isNullAt(0) || bnd.isNullAt(1)) Map.empty[String, (String, String, String)]
      else Map(dir -> (bnd.getString(0), bnd.getString(1),
        LakeTable.statKind(keys.schema(keyCol).dataType)))
    try {
      LakeTable.writeCommit(spark, root,
        LakeTable.Commit(next, Seq.empty, Seq.empty, txn,
          eqdelAdds = Seq((dir, keyCol)), eqdelStats = eqStats))
      Some(next)
    } catch {
      case e: LakeTable.CommitConflictException =>
        fs(spark, root).delete(new Path(root, dir), true)
        throw e
    }
  }

  /** Snapshot read MINUS the live tombstones: the data directories'
    * union anti-joined against each key column's equality-delete
    * files (tombstones are tiny — the anti-join broadcasts). With no
    * live tombstones this IS [[LakeTable.read]]. */
  def readMor(spark: SparkSession, root: String,
              asOf: Option[Long] = None): DataFrame = {
    val st = LakeTable.replayState(spark, root, asOf)
    val data = LakeTable.read(spark, root, asOf)
    subtractTombstones(spark, root, st, data)
  }

  /** Predicate-carrying MOR read (r16 verdict #3): the data-side scan
    * is PRUNED by the commit log's per-directory stats through
    * intervals derived from `cond` — the same derivation SQL DML uses
    * — then `cond` applies row-level (and pushes to parquet), and the
    * live tombstones are subtracted as in [[readMor]]. Tombstone
    * files whose OWN recorded key range cannot intersect the derived
    * interval on their key column are skipped (r17 verdict #5): every
    * returned row's key lies inside that interval, so a wholly-
    * outside tombstone masks nothing the read returns. All other
    * tombstones subtract in full. Equivalent to
    * `readMor(...).where(cond)` with strictly less I/O; a condition
    * that derives nothing scans like readMor. */
  def readMorWhere(spark: SparkSession, root: String, cond: Column,
                   asOf: Option[Long] = None): DataFrame = {
    val st = LakeTable.replayState(spark, root, asOf)
    val preds = derivePrunePreds(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .expression(cond))
    val (whole, files) = pruneFilesWithState(st, st.active, preds)
    val paths = whole.map(d => s"$root/$d") ++ files.map(f => s"$root/$f")
    val data =
      if (paths.isEmpty) LakeTable.read(spark, root, asOf).limit(0)
      else spark.read.option("mergeSchema", "true")
        .parquet(paths: _*)
        .where(cond)
    subtractTombstones(spark, root, st, data, preds)
  }

  /** `preds` (derived from the read predicate — empty for plain
    * [[readMor]]) additionally PRUNE the delete-file scan by each
    * tombstone file's own recorded key range: every returned row
    * satisfies the predicate, so its key lies inside the derived
    * interval on the key column — a tombstone file whose [min, max]
    * cannot intersect that interval names no returned row and is
    * safely skipped (r17 verdict #5). Files without recorded stats
    * (pre-r18 logs, all-null key sets) always scan; a fully-pruned
    * key group skips its anti-join entirely. */
  private def subtractTombstones(spark: SparkSession, root: String,
                                 st: LakeTable.LogState,
                                 data: DataFrame,
                                 preds: Seq[DerivedPred] = Nil): DataFrame =
    st.eqdels.groupBy(_._2).toSeq.sortBy(_._1)
      .foldLeft(data) { case (df, (keyCol, files)) =>
      val keyPreds = preds.filter(_.col == keyCol)
      val kept = files.map(_._1).filter(d => st.eqdelStats.get(d) match {
        case Some((mn, mx, kd)) => keyPreds.forall(p =>
          predIntersectsKind(p, Some(kd), Some((mn, mx))))
        case None => true
      })
      if (kept.isEmpty) df
      else {
        val dels = spark.read
          .parquet(kept.map(d => s"$root/$d"): _*)
          .select(col(keyCol)).distinct()
        // size-gated, not unconditional: the tombstone key set is
        // O(delete list), usually tiny but not bounded by construction —
        // past the gate the anti join is AQE's call (shuffle, no OOM)
        df.join(Ops.broadcastIfSmall(dels, dels), Seq(keyCol), "left_anti")
      }
    }

  /** Compaction: materialize every live tombstone into the data and
    * clear them, in ONE atomic commit. Candidate directories prune by
    * stats/bloom exactly like [[deleteByKeys]] (the tombstone keys
    * are read back and, when small enough to collect, probed against
    * the sidecars); only directories actually holding doomed rows are
    * rewritten. After this commit [[readMor]] ≡ [[LakeTable.read]]
    * until the next MOR delete; the cleared tombstone FILES remain on
    * disk for time travel until [[LakeTable.vacuum]]. */
  def applyDeletes(spark: SparkSession, root: String,
                   txn: Option[(String, Long)] = None,
                   bloomProbeLimit: Int = 65536): DmlReport = {
    if (txn.exists { case (app, b) =>
          LakeTable.lastTxn(spark, root, app).exists(_ >= b) })
      return DmlReport(None, 0, 0, 0, 0, 0L, 0L) // replayed delivery
    val st = LakeTable.replayState(spark, root, None)
    val next = st.version + 1
    if (st.eqdels.isEmpty) {
      val v = txn.map { t =>
        LakeTable.writeCommit(spark, root,
          LakeTable.Commit(next, Seq.empty, Seq.empty, Some(t)))
        next
      }
      return DmlReport(v, st.active.size, 0, 0, 0, 0L, 0L)
    }
    val groups = st.eqdels.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (keyCol, files) =>
        keyCol -> spark.read
          .parquet(files.map(_._1).map(d => s"$root/$d"): _*)
          .select(col(keyCol)).distinct().localCheckpoint()
    }
    // candidates: a directory survives if ANY key group may touch it
    // (bloom-consulted per group when the group's keys are few)
    val candidateSets = groups.map { case (keyCol, delKeys) =>
      val n = delKeys.count()
      if (n > 0 && n <= bloomProbeLimit) {
        val hashes = delKeys.select(xxhash64(col(keyCol)).as("__h"))
          .collect().map(_.getLong(0))
        st.active.filter { d =>
          readBloom(spark, root, d, keyCol) match {
            case Some(blob) => hashes.exists(Bf.contains(blob, _))
            case None => true
          }
        }.toSet
      } else st.active.toSet
    }
    val candidates = st.active.filter(d =>
      candidateSets.exists(_.contains(d))).sorted
    // dirty: candidates whose rows hit any group's keys — one pass
    // per group over that group's candidate subset
    val perGroupHits = groups.zip(candidateSets).map {
      case ((keyCol, delKeys), cset) =>
        val cs = candidates.filter(cset.contains)
        if (cs.isEmpty) Seq.empty[(String, Long)]
        else spark.read.option("mergeSchema", "true")
          .parquet(cs.map(d => s"$root/$d"): _*)
          .withColumn("__f", input_file_name())
          .join(broadcast(delKeys), Seq(keyCol), "left_semi")
          .groupBy("__f").count().collect().map { r =>
            val uri = r.getString(0)
            val d = cs.find(uri.contains).getOrElse(
              sys.error(s"lake dml: scanned file $uri outside candidates"))
            (d, r.getLong(1))
          }.toSeq
    }
    val dirty = perGroupHits.flatMap(_.map(_._1)).distinct.sorted
    // rows doomed per group, summed (a row matched by several key
    // groups counts once per group — exact when one key column is in
    // play, which is the standing shape)
    val doomed = perGroupHits.flatMap(_.map(_._2)).sum
    val (adds, colStats, kinds, fileStats) =
      rewriteSurvivors(spark, root, st, dirty, next, { df =>
        groups.foldLeft(df) { case (acc, (keyCol, delKeys)) =>
          if (acc.columns.contains(keyCol))
            acc.join(broadcast(delKeys), Seq(keyCol), "left_anti")
          else acc
        }
      })
    val f = fs(spark, root)
    try {
      LakeTable.writeCommit(spark, root,
        LakeTable.Commit(next, adds, dirty, txn, colStats, kinds, fileStats,
          eqdelRemoves = st.eqdels.map(_._1)))
    } catch {
      case e: LakeTable.CommitConflictException =>
        adds.foreach { d =>
          f.delete(new Path(root, d), true)
          f.delete(new Path(root, s"_graft_log/blooms/$d"), true)
        }
        throw e
    }
    DmlReport(Some(next), st.active.size, candidates.size, adds.size,
              dirty.size, doomed, 0L)
  }

  // ------------------------------------------------------------------
  // shared copy-on-write internals
  // ------------------------------------------------------------------

  /** Rewrite each dirty directory through `transform`, preserving its
    * logged stat columns (recomputed over the survivors), its
    * per-FILE stats when the source directory carried them (a
    * z-ordered table must not lose file-grain pruning to a delete),
    * and its bloom sidecars (rebuilt over the survivors). Returns
    * (added dirs, their colStats, their stat kinds, their
    * fileStats). A directory whose survivors are empty adds
    * nothing — its removal alone tells the story. */
  private def rewriteSurvivors(spark: SparkSession, root: String,
      st: LakeTable.LogState, dirty: Seq[String], next: Long,
      transform: DataFrame => DataFrame)
      : (Seq[String], Map[String, Map[String, (String, String)]],
         Map[String, String],
         Map[String, Seq[(String, Map[String, (String, String)])]]) = {
    val f = fs(spark, root)
    // Dirty directories rewrite CONCURRENTLY (bounded pool): each is
    // an independent (read, transform, write, stat) pipeline over its
    // own immutable input, so wall-clock tracks the LARGEST dirty
    // directory, not the sum — the OPTIMIZE-style parallel-rewrite
    // posture. Spark schedules the concurrent jobs fairly; the
    // results fold on this thread, and adds sort for a deterministic
    // commit order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, dirty.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    case class DirResult(
        add: Option[String],
        colStats: Map[String, Map[String, (String, String)]],
        kinds: Map[String, String],
        fileStats: Map[String, Seq[(String, Map[String, (String, String)])]])
    def rewriteOne(d: String): DirResult = {
      val src = spark.read.parquet(s"$root/$d")
      val survivors = transform(src)
      val newDir = LakeTable.newDataDir(next, "-cow")
      survivors.write.mode("errorifexists").parquet(s"$root/$newDir")
      val written = spark.read.parquet(s"$root/$newDir")
      // ONE read-back aggregate per directory carries everything the
      // replacement needs: emptiness, dir-grain [min,max] for every
      // column the source logged, and the bloom sketch for every
      // sidecar the source carried — per-directory job count is what
      // dominates DML latency on many small directories (BenchDml),
      // so the row-count probe, stats pass, and per-column bloom
      // passes fold into this single job.
      val statCols = st.colStats.getOrElse(d, Map.empty).keys.toSeq.sorted
        .filter(written.columns.contains)
      val bloomDirOld = new Path(root, s"_graft_log/blooms/$d")
      val bloomCols =
        if (!f.exists(bloomDirOld)) Seq.empty[String]
        else f.listStatus(bloomDirOld).toSeq.map(_.getPath.getName)
          .filter(_.endsWith(".bf")).map(_.stripSuffix(".bf"))
          .filter(written.columns.contains).sorted
      if (bloomCols.nonEmpty) Bf.register(spark)
      val aggList = count(lit(1)) +:
        (statCols.flatMap(c =>
           Seq(min(col(c)).cast("string"), max(col(c)).cast("string"))) ++
         bloomCols.map(c =>
           expr(s"bf_sketch(xxhash64(`$c`))")))
      val r = written.agg(aggList.head, aggList.tail: _*).head()
      var addOpt = Option.empty[String]
      var colStatsL = Map.empty[String, Map[String, (String, String)]]
      var kindsL = Map.empty[String, String]
      var fileStatsL =
        Map.empty[String, Seq[(String, Map[String, (String, String)])]]
      if (r.getLong(0) == 0L) {
        // fully-deleted directory: drop the empty replacement
        f.delete(new Path(root, newDir), true)
      } else {
        addOpt = Some(newDir)
        if (statCols.nonEmpty) {
          val cs = statCols.zipWithIndex.flatMap { case (c, i) =>
            (Option(r.getString(1 + 2 * i)),
             Option(r.getString(2 + 2 * i))) match {
              case (Some(mn), Some(mx)) => Some(c -> (mn, mx))
              case _ => None
            }
          }.toMap
          if (cs.nonEmpty) colStatsL += newDir -> cs
          kindsL ++= statCols.map(c => c -> st.colKinds.getOrElse(c,
            LakeTable.statKind(written.schema(c).dataType)))
        }
        bloomCols.zipWithIndex.foreach { case (c, i) =>
          val blob = r.getAs[Array[Byte]](1 + 2 * statCols.size + i)
          val p = bloomPath(root, newDir, c)
          f.mkdirs(p.getParent)
          val out = f.create(p, true)
          try out.write(blob) finally out.close()
        }
        // per-file stats: if the source directory recorded them, the
        // replacement does too — same columns, one grouped aggregate
        // over input_file_name (the rewriteClusteredN posture)
        val fileCols = st.fileStats.get(d)
          .map(_.flatMap(_._2.keys).distinct.sorted
            .filter(written.columns.contains))
          .getOrElse(Seq.empty)
        if (fileCols.nonEmpty) {
          val aggs = fileCols.flatMap(c =>
            Seq(min(col(c)).cast("string"), max(col(c)).cast("string")))
          val perFile = written
            .groupBy(input_file_name().as("__f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect().map { r =>
              val uri = r.getString(0)
              val idx = uri.indexOf(newDir)
              require(idx >= 0, s"lake dml: stats file $uri outside $newDir")
              val file = uri.substring(idx + newDir.length + 1)
              val cs = fileCols.zipWithIndex.flatMap { case (c, i) =>
                (Option(r.getString(1 + 2 * i)),
                 Option(r.getString(2 + 2 * i))) match {
                  case (Some(mn), Some(mx)) => Some(c -> (mn, mx))
                  case _ => None
                }
              }.toMap
              (file, cs)
            }.sortBy(_._1).toSeq
          fileStatsL += newDir -> perFile
          kindsL ++= fileCols.map(c => c -> st.colKinds.getOrElse(c,
            LakeTable.statKind(written.schema(c).dataType)))
        }
      }
      DirResult(addOpt, colStatsL, kindsL, fileStatsL)
    }
    val results =
      try {
        import scala.concurrent.duration.Duration
        import scala.concurrent.{Await, Future}
        Await.result(
          Future.traverse(dirty)(d => Future(rewriteOne(d))),
          Duration.Inf)
      } finally pool.shutdown()
    (results.flatMap(_.add).sorted,
     results.map(_.colStats).fold(Map.empty)(_ ++ _),
     results.map(_.kinds).fold(Map.empty)(_ ++ _),
     results.map(_.fileStats).fold(Map.empty)(_ ++ _))
  }

  /** The single copy-on-write commit: adds + removes + carried
    * stats, with the txn token when re-deliverable. On a conflict
    * the just-written directories are reclaimed before rethrowing
    * (the appendTxn orphan discipline). */
  private def commitCow(spark: SparkSession, root: String, next: Long,
      adds: Seq[String], removes: Seq[String],
      txn: Option[(String, Long)],
      colStats: Map[String, Map[String, (String, String)]],
      kinds: Map[String, String],
      fileStats: Map[String, Seq[(String, Map[String, (String, String)])]],
      st: LakeTable.LogState): Unit = {
    val f = fs(spark, root)
    try {
      LakeTable.writeCommit(spark, root,
        LakeTable.Commit(next, adds, removes, txn, colStats, kinds,
          fileStats))
    } catch {
      case e: LakeTable.CommitConflictException =>
        adds.foreach { d =>
          f.delete(new Path(root, d), true)
          f.delete(new Path(root, s"_graft_log/blooms/$d"), true)
        }
        throw e
    }
  }
}
