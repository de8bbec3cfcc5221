package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL text over LAKE TABLES — the write-side front door. [[graft.Sql]]
  * answers "where do I type a SELECT"; this answers the other half a
  * lakehouse user types all day: DDL and DML statements against
  * versioned tables. A [[Session]] owns a name → lake-root mapping and
  * routes each statement to the engine machinery that already carries
  * the transactional contract:
  *
  *   CREATE TABLE t AS <select>            → [[LakeTable.append]] (CTAS)
  *   INSERT INTO t <select>                → [[LakeTable.append]]
  *   DELETE FROM t WHERE <cond>            → [[LakeDml.deleteWhere]]
  *   UPDATE t SET c = e, ... [WHERE <cond>]→ [[LakeDml.updateWhere]]
  *   MERGE INTO t [AS a] USING (<select>) [AS b]
  *     ON a.k = b.k [WHEN MATCHED THEN UPDATE SET *
  *                   WHEN NOT MATCHED THEN INSERT *]
  *                                         → [[LakeDml.mergeInto]]
  *   OPTIMIZE t CLUSTER BY (c[, ...]) [BUCKETS n]
  *                                         → [[LakeTable.rewriteClustered]]
  *   VACUUM t [RETAIN FROM <version>]      → [[LakeTable.vacuum]]
  *   SELECT ... FROM t [VERSION AS OF v]   → snapshot views + `spark.sql`
  *
  * This is a STATEMENT ROUTER, not a SQL parser: only the statement
  * skeleton is recognized here (verb, table name, clause boundaries);
  * every expression — predicates, SET right-hand sides, subqueries —
  * is handed verbatim to Spark's own parser via `expr()` / `spark.sql`,
  * so the full Catalyst expression grammar comes for free and this file
  * never re-implements one. Clause boundaries are found with a
  * quote/paren-aware scanner, never a bare regex, so a WHERE inside a
  * string literal or a comma inside `map('a', 1)` cannot split a
  * clause (the failure class r12's staging advice taught).
  *
  * Semantics inherited from the routed machinery, not re-decided here:
  * DELETE keeps NULL-condition rows (`!(cond <=> true)` survivors),
  * UPDATE leaves NULL-condition rows untouched, MERGE is the SCD-1
  * upsert-all (the only WHEN form accepted — anything else errors
  * loudly rather than silently computing a different merge), and every
  * write is one atomic commit with copy-on-write directory granularity.
  * Reads see the CURRENT snapshot: views are re-registered from the
  * commit log before every SELECT/subquery, so a session interleaving
  * DML and SELECT always reads its own writes. `VERSION AS OF v`
  * (the Delta/Iceberg time-travel spelling, which Spark's parser does
  * not accept) is rewritten to a pinned snapshot view BEFORE the text
  * reaches `spark.sql`; the rewrite consults the scanner's quote map so
  * the phrase inside a string literal is left alone.
  *
  * At 100 TB nothing here adds cost over the Scala API: routing is
  * driver-side string work on bounded statement text; the executed
  * plans are the identical LakeDml/LakeTable plans the sql_* registry
  * keys hash-gate against DuckDB.
  */
object LakeSql {

  /** One-row execution report for write statements (SELECT returns its
    * result instead). Mirrors [[LakeDml.DmlReport]] so a user — or
    * SqlDmlSpec — can assert surgical behavior (pruned vs rewritten
    * directories) without grepping the commit log. */
  private def report(spark: SparkSession, verb: String, table: String,
                     version: Long, r: LakeDml.DmlReport): DataFrame = {
    import spark.implicits._
    Seq((verb, table, version, r.activeDirs, r.candidateDirs,
         r.rewrittenDirs, r.removedDirs, r.rowsDeleted, r.rowsInserted,
         r.rowsUpdated))
      .toDF("verb", "table_name", "version", "active_dirs",
            "candidate_dirs", "rewritten_dirs", "removed_dirs",
            "rows_deleted", "rows_inserted", "rows_updated")
  }

  private val emptyReport =
    LakeDml.DmlReport(None, 0, 0, 0, 0, 0L, 0L)

  private def isWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** Per-character "opaque to structural decisions" map: single- and
    * double-quoted string literals (doubled-quote AND backslash
    * escapes — Spark's default lexer accepts both), backticked
    * identifiers (`` `` `` is the escape), `--` line comments, and
    * `/* */` block comments. Both the splitter and the time-travel
    * rewrite consult this, so a ';' in a comment or a WHERE inside
    * any literal form cannot split a statement or clause. */
  private def quoteMap(s: String): Array[Boolean] = {
    val in = new Array[Boolean](s.length)
    var i = 0
    var state = 0 // 0=code 1=' 2=" 3=` 4=-- 5=/* */
    var depth = 0 // Spark supports NESTED bracketed comments
    def quoted(i0: Int, quote: Char): Int = {
      // returns the new index; doubled quote and backslash escapes
      val c = s.charAt(i0)
      in(i0) = true
      if (c == '\\' && i0 + 1 < s.length) { in(i0 + 1) = true; i0 + 1 }
      else if (c == quote) {
        if (i0 + 1 < s.length && s.charAt(i0 + 1) == quote) {
          in(i0 + 1) = true; i0 + 1
        } else { state = 0; i0 }
      } else i0
    }
    while (i < s.length) {
      val c = s.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') { in(i) = true; state = 1 }
          else if (c == '"') { in(i) = true; state = 2 }
          else if (c == '`') { in(i) = true; state = 3 }
          else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
            in(i) = true; in(i + 1) = true; i += 1; state = 4
          } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
            in(i) = true; in(i + 1) = true; i += 1; state = 5; depth = 1
          }
        case 1 => i = quoted(i, '\'')
        case 2 => i = quoted(i, '"')
        case 3 => // backtick identifiers have no backslash escape
          in(i) = true
          if (c == '`') {
            if (i + 1 < s.length && s.charAt(i + 1) == '`') {
              in(i + 1) = true; i += 1
            } else state = 0
          }
        case 4 =>
          if (c == '\n') state = 0 else in(i) = true
        case 5 =>
          in(i) = true
          if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
            in(i + 1) = true; i += 1; depth -= 1
            if (depth == 0) state = 0
          } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
            in(i + 1) = true; i += 1; depth += 1
          }
      }
      i += 1
    }
    in
  }

  /** Split on `sep` at paren depth 0, outside string literals. */
  private[engine] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val qm = quoteMap(s)
    val out = mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!qm(i)) {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
      }
      if (!qm(i) && depth == 0 && c == sep) {
        out += cur.result(); cur.clear()
      } else cur += c
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  /** First index of whole-word keyword `kw` (case-insensitive) at
    * paren depth 0 outside string literals, or -1. */
  private[engine] def topLevelKeyword(s: String, kw: String,
                                      from: Int = 0): Int = {
    val qm = quoteMap(s)
    var depth = 0
    var i = 0
    val n = kw.length
    while (i < s.length) {
      val c = s.charAt(i)
      if (!qm(i)) {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (depth == 0 && i >= from &&
                 s.regionMatches(true, i, kw, 0, n) &&
                 (i == 0 || !isWordChar(s.charAt(i - 1))) &&
                 (i + n >= s.length || !isWordChar(s.charAt(i + n))))
          return i
      }
      i += 1
    }
    -1
  }

  final class Session(val spark: SparkSession, val scratchRoot: String) {
    private val roots = mutable.LinkedHashMap[String, String]()
    private val mvBases = mutable.LinkedHashMap[String, String]()
    // MV name → the lake root THIS session materialized it at; REFRESH
    // verifies it against the live registration, so a same-named MV
    // created by another session on the same SparkSession cannot have
    // its artifact rewritten from this session's (different) base
    private val mvRoots = mutable.LinkedHashMap[String, String]()

    /** Derive an [[Mv]] spec from `CREATE MATERIALIZED VIEW`'s SELECT:
      * the statement must be a single-table rollup —
      * `SELECT <group keys and partials> FROM <attached table> GROUP
      * BY <keys>` where every aggregate is count(*) / count / sum /
      * min / max / hll_sketch over a plain column, and every group
      * key is a plain column OR an expression ALIASED in the select
      * list (`date_trunc('DAY', ts) AS day … GROUP BY
      * date_trunc('DAY', ts)` or `GROUP BY day`). Anything else
      * errors loudly: an MV whose shape the rewrite could never serve
      * is a user mistake, not something to accept silently. Returns
      * (base table, plain group cols, rollup cols, hll cols, derived
      * group (alias, sql) pairs). */
    private def parseMvSpec(select: String)
        : (String, Seq[String], Seq[String], Seq[String],
           Seq[(String, String)]) = {
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
        UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation,
        UnresolvedStar}
      import org.apache.spark.sql.catalyst.expressions.{Alias, Expression,
        Literal}
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      def attr(e: Expression): String = e match {
        case u: UnresolvedAttribute => u.nameParts.last.toLowerCase
        case o => sys.error(s"LakeSql MV: expected a plain column, got $o")
      }
      val aggFns = Set("count", "sum", "min", "max", "hll_sketch")
      val acc = mutable.LinkedHashSet[String]()
      val hll = mutable.LinkedHashSet[String]()
      // alias -> unresolved non-aggregate expression (derived group
      // key candidates, resolved against GROUP BY below)
      val exprAliases = mutable.LinkedHashMap[String, Expression]()
      def handleFn(f: UnresolvedFunction): Unit =
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("count", Seq(_: UnresolvedStar)) => ()
          case ("count", Seq(Literal(1, _))) => ()
          case ("sum" | "min" | "max" | "count", Seq(a)) => acc += attr(a)
          case ("hll_sketch", Seq(a)) => hll += attr(a)
          case (n, _) => sys.error(
            s"LakeSql MV: '$n' over these arguments is not in the " +
              "rollup algebra (count(*), count/sum/min/max/hll_sketch " +
              "over a column)")
        }
      def isAggFn(e: Expression): Boolean = e match {
        case f: UnresolvedFunction =>
          aggFns.contains(f.nameParts.last.toLowerCase)
        case _ => false
      }
      spark.sessionState.sqlParser.parsePlan(select) match {
        case Aggregate(ges, aes, rel: UnresolvedRelation, _) =>
          aes.foreach {
            case ua: UnresolvedAlias => ua.child match {
              case f: UnresolvedFunction if isAggFn(f) => handleFn(f)
              case _: UnresolvedAttribute => () // validated via GROUP BY
              case o => sys.error(
                s"LakeSql MV: alias required for select expression $o")
            }
            case al: Alias => al.child match {
              case f: UnresolvedFunction if isAggFn(f) => handleFn(f)
              case a: UnresolvedAttribute => require(
                al.name.equalsIgnoreCase(attr(a)),
                s"LakeSql MV: renaming column ${attr(a)} in an MV is " +
                  "not supported")
              case c => exprAliases(al.name.toLowerCase) = c
            }
            case _: UnresolvedAttribute => ()
            case o => sys.error(s"LakeSql MV: unsupported select item $o")
          }
          val gplain = mutable.LinkedHashSet[String]()
          val gexprs = mutable.LinkedHashMap[String, String]()
          ges.foreach {
            case u: UnresolvedAttribute =>
              val n = u.nameParts.last.toLowerCase
              exprAliases.get(n) match {
                case Some(e) => gexprs(n) = e.sql // GROUP BY <alias>
                case None => gplain += n
              }
            case e =>
              exprAliases.find(_._2.sql == e.sql) match {
                case Some((a, _)) => gexprs(a) = e.sql
                case None => sys.error(
                  s"LakeSql MV: group expression ${e.sql} must appear " +
                    "ALIASED in the select list")
              }
          }
          // every non-group select alias must be a group key
          exprAliases.keys.foreach { a =>
            require(gexprs.contains(a),
              s"LakeSql MV: select expression '$a' is neither an " +
                "aggregate nor a GROUP BY key")
          }
          (rel.multipartIdentifier.last.toLowerCase, gplain.toSeq,
           acc.toSeq, hll.toSeq, gexprs.toSeq)
        case o => sys.error(
          "LakeSql MV: the SELECT must be a single-table GROUP BY " +
            s"rollup, got ${o.getClass.getSimpleName}")
      }
    }

    /** Attach an EXISTING lake table under `name`. */
    def attach(name: String, root: String): this.type = {
      roots(name.toLowerCase) = root
      views -= name.toLowerCase
      this
    }

    def tableRoot(name: String): String =
      roots.getOrElse(name.toLowerCase,
        sys.error(s"LakeSql: unknown lake table '$name' " +
          s"(attached: ${roots.keys.mkString(", ")})"))

    def tables: Seq[String] = roots.keys.toSeq

    /** Current snapshot as a DataFrame, where a table whose rows were
      * ALL deleted still reads as an empty relation (schema borrowed
      * from the last data-bearing version) — `LakeTable.read`'s
      * no-active-data refusal is right for the Scala API, but a SQL
      * session that deletes every row must still be able to SELECT
      * from (and INSERT back into) the table. Reads go through
      * [[LakeDml.readMor]] (identical to a plain read when no
      * equality-delete tombstones are live), so attaching a table
      * that took merge-on-read deletes through the Scala API cannot
      * silently resurrect the doomed rows in SQL. */
    private def snapshot(root: String): Option[DataFrame] = {
      def tryRead(asOf: Option[Long]): Option[DataFrame] =
        try Some(LakeDml.readMor(spark, root, asOf))
        catch { case _: IllegalArgumentException => None }
      tryRead(None).orElse {
        val latest = LakeTable.latestVersion(spark, root).getOrElse(-1L)
        (latest - 1 to 0L by -1).iterator
          .flatMap(v => tryRead(Some(v))).take(1).toSeq.headOption
          .map(_.limit(0))
      }
    }

    /** Re-register every attached table's CURRENT snapshot as a temp
      * view — called before any statement that parses a subquery, so
      * SQL text always reads the session's own committed writes.
      *
      * r20 (§5 driver rent): re-building a snapshot is a full log
      * replay + MOR plan construction per table per STATEMENT, paid
      * even when nothing changed since the last statement. The view is
      * re-registered only when the table's latest committed version
      * differs from the one the live view was built from (one log
      * listing instead of a replay; any write — append, delete,
      * optimize — bumps the version by the commit contract).
      *
      * The skip is safe only while the live view is the one this
      * session built: the record is keyed on (root, version), `attach`
      * drops it, and the catalog must still hold the very relation
      * registered here — another Session on the same SparkSession (or
      * any other writer of the name) replaces it, which forces a
      * rebuild, as the MV ownership check does for REFRESH. */
    private val views = mutable.Map.empty[String, (String, Long,
      org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation)]

    private def refreshViews(): Unit = {
      val catalog = spark.sessionState.catalog
      roots.foreach { case (n, r) =>
        val v = LakeTable.latestVersion(spark, r).getOrElse(-1L)
        val live = views.get(n).exists { case (root, version, rel) =>
          root == r && version == v &&
            catalog.getRawTempView(n).exists(_ eq rel)
        }
        if (!live) snapshot(r).foreach { df =>
          df.createOrReplaceTempView(n)
          catalog.getRawTempView(n).foreach(rel => views(n) = (r, v, rel))
        }
      }
    }

    /** Standard SQL write coercion: incoming rows CAST to the target
      * table's column types by name (an INT literal inserts into a
      * BIGINT column), target column order first; columns the target
      * lacks ride along untouched (additive schema evolution, the
      * lake read path's contract). Without this, `INSERT INTO t
      * SELECT 2 AS k` against a BIGINT k would poison the table with
      * an unmergeable INT directory — a parse-side footgun no SQL
      * user expects. */
    private def alignTo(df: DataFrame, root: String): DataFrame = {
      val tgt = snapshot(root) match {
        case Some(snap) => snap.schema
        case None => return df
      }
      val have = df.columns.toSet
      val casted = tgt.fields.filter(f => have.contains(f.name))
        .map(f => col(f.name).cast(f.dataType))
      val extras = df.columns.filterNot(tgt.fieldNames.contains(_))
        .map(col)
      df.select((casted ++ extras).toIndexedSeq: _*)
    }

    /** Rewrite every `t VERSION AS OF v` phrase to a pinned snapshot
      * view. Phrases inside string literals are untouched; a phrase
      * naming a non-attached table errors loudly (time travel only
      * means something on a versioned table). */
    private def rewriteTimeTravel(sql: String): String = {
      val re = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s+version\\s+as\\s+of\\s+(\\d+)\\b".r
      val qm = quoteMap(sql)
      re.replaceAllIn(sql, m => {
        if (qm(m.start)) scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          val name = m.group(1).toLowerCase
          val v = m.group(2).toLong
          val root = roots.getOrElse(name,
            sys.error(s"LakeSql: VERSION AS OF on '$name', which is " +
              "not an attached lake table"))
          val view = s"${name}__asof_$v"
          LakeDml.readMor(spark, root, Some(v)).createOrReplaceTempView(view)
          view
        }
      })
    }

    private val CreateMvRe =
      "(?is)^create\\s+materialized\\s+view\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+as\\s+(.+)$".r
    private val RefreshMvRe =
      "(?is)^refresh\\s+materialized\\s+view\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    private val CreateRe =
      "(?is)^create\\s+table\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+as\\s+(.+)$".r
    private val InsertRe =
      "(?is)^insert\\s+into\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+(.+)$".r
    private val DeleteRe =
      "(?is)^delete\\s+from\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+where\\s+(.+)$".r
    private val UpdateRe =
      "(?is)^update\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+set\\s+(.+)$".r
    private val MergeRe =
      "(?is)^merge\\s+into\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+as)?(?:\\s+([A-Za-z_][A-Za-z0-9_]*))?\\s+using\\s*(.+)$".r
    private val OptimizeRe =
      "(?is)^optimize\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+cluster\\s+by\\s*\\(([^)]+)\\)(?:\\s+buckets\\s+(\\d+))?\\s*$".r
    private val VacuumRe =
      "(?is)^vacuum\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+retain\\s+from\\s+(\\d+))?\\s*$".r
    private val HistoryRe =
      "(?is)^describe\\s+history\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    private val AnalyzeRe =
      "(?is)^analyze\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    private val AnalyzeComputeRe =
      "(?is)^analyze\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+compute\\s+statistics\\s*$".r
    private val SetItemRe =
      "(?s)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(.+)$".r
    private val OnEqRe =
      "(?s)^\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\.)?([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\.)?([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    private val UpsertAllRe =
      "(?is)^when\\s+matched\\s+then\\s+update\\s+set\\s+\\*\\s+when\\s+not\\s+matched\\s+then\\s+insert\\s+\\*$".r

    /** Statement routing matches on the leading VERB, so comments in
      * front of it (a script's `-- section header` glued to the next
      * statement by the splitter) must be dropped first; the verb
      * regexes then see the statement proper. The body's comments are
      * left in place — Spark's own parser handles them. Optimizer
      * HINT blocks (bracketed comments whose opener is followed by a
      * plus sign) carry semantics — never stripped. */
    private def stripLeadingComments(s: String): String = {
      var t = s
      var changed = true
      while (changed) {
        changed = false
        val u = t.dropWhile(_.isWhitespace)
        if (u.startsWith("--")) {
          val nl = u.indexOf('\n')
          t = if (nl < 0) "" else u.substring(nl + 1)
          changed = true
        } else if (u.startsWith("/*") && !u.startsWith("/*+")) {
          // depth-counting scanner, NOT a regex: Spark's lexer nests
          // bracketed comments ('/* a /* b */ c */' is ONE comment),
          // and the splitter's quoteMap already honors that — a
          // non-nesting strip here would leave 'c */ …' residue and
          // misroute the verb (r17 ADVICE). An unterminated comment
          // is left in place for Spark's own parser to reject.
          var i = 2
          var depth = 1
          while (depth > 0 && i < u.length - 1) {
            if (u.startsWith("/*", i)) { depth += 1; i += 2 }
            else if (u.startsWith("*/", i)) { depth -= 1; i += 2 }
            else i += 1
          }
          if (depth == 0) { t = u.substring(i); changed = true }
          else t = u
        } else t = u
      }
      t.trim
    }

    /** Execute ONE statement. Write verbs return a one-row report;
      * SELECT/WITH returns the query result. */
    def exec(stmt0: String): DataFrame = {
      val stmt = stripLeadingComments(stmt0)
      stmt match {
        case CreateMvRe(name0, select) =>
          val name = name0.toLowerCase
          // a duplicate CREATE around base DML would re-bind the MV to
          // the CURRENT base while keeping the old summary — reject
          // loudly (REFRESH is the verb for "bring it up to date");
          // Mv.register's fingerprint guard additionally rebuilds if a
          // stale root is ever re-registered by a fresh session
          require(!mvBases.contains(name),
            s"LakeSql: materialized view '$name' already exists " +
              "(use REFRESH MATERIALIZED VIEW to update it)")
          val (baseName, gcols, acols, hcols, gexprs) = parseMvSpec(select)
          val broot = tableRoot(baseName)
          refreshViews()
          val baseDf = snapshot(broot).getOrElse(
            sys.error(s"LakeSql: MV base '$baseName' has no data"))
          val mvRoot = s"$scratchRoot/__mv_$name"
          Mv.register(spark, name, baseDf, gcols, acols,
            mvRoot, hcols, gexprs)
          mvBases(name) = baseName
          mvRoots(name) = mvRoot
          report(spark, "create_mv", name, 0L, emptyReport)

        case RefreshMvRe(name0) =>
          val name = name0.toLowerCase
          val baseName = mvBases.getOrElse(name,
            sys.error(s"LakeSql: unknown materialized view '$name'"))
          // ownership check: the live registration must still point at
          // THIS session's artifact — if another session on the same
          // SparkSession re-registered the name, rebuilding here would
          // rewrite THEIR summary from OUR base
          require(Mv.rootOf(spark, name).contains(mvRoots(name)),
            s"LakeSql: materialized view '$name' was re-registered by " +
              "another session on this SparkSession; refusing to " +
              "rebuild its artifact from this session's base")
          refreshViews()
          Mv.rebuild(spark, name, snapshot(tableRoot(baseName)).getOrElse(
            sys.error(s"LakeSql: MV base '$baseName' has no data")))
          report(spark, "refresh_mv", name, 0L, emptyReport)

        case CreateRe(name0, select) =>
          val name = name0.toLowerCase
          require(!roots.contains(name),
            s"LakeSql: table '$name' already exists")
          refreshViews()
          val df = spark.sql(rewriteTimeTravel(select))
          val root = s"$scratchRoot/$name"
          val v = LakeTable.append(df, root)
          roots(name) = root
          report(spark, "create", name, v, emptyReport)

        case InsertRe(name, select) =>
          val root = tableRoot(name)
          refreshViews()
          val df = alignTo(spark.sql(rewriteTimeTravel(select)), root)
          val v = LakeTable.append(df, root)
          report(spark, "insert", name.toLowerCase, v, emptyReport)

        case DeleteRe(name, cond) =>
          val root = tableRoot(name)
          // stats pushdown for free: prune intervals derived from the
          // WHERE conjuncts, kind-gated against the commit log — the
          // SQL path's equivalent of the Scala API's prunePreds hints
          val derived = LakeDml.derivePrunePreds(
            spark.sessionState.sqlParser.parseExpression(cond))
          val r = LakeDml.deleteWhere(spark, root, expr(cond),
            candidateFilter =
              ds => LakeDml.pruneByDerived(spark, root, ds, derived))
          report(spark, "delete", name.toLowerCase, r.version.getOrElse(-1L), r)

        case UpdateRe(name, rest) =>
          val root = tableRoot(name)
          val wIdx = topLevelKeyword(rest, "where")
          val (setPart, condText) =
            if (wIdx < 0) (rest, None)
            else (rest.substring(0, wIdx),
                  Some(rest.substring(wIdx + "where".length)))
          val cond = condText.map(expr).getOrElse(lit(true))
          val set = splitTopLevel(setPart, ',').map {
            case SetItemRe(c, e) => c -> expr(e)
            case bad => sys.error(s"LakeSql: cannot parse SET item '$bad'")
          }
          require(set.map(_._1).distinct.size == set.size,
            "LakeSql: duplicate column in SET clause")
          val derived = condText.map(t => LakeDml.derivePrunePreds(
            spark.sessionState.sqlParser.parseExpression(t)))
            .getOrElse(Seq.empty)
          val r = LakeDml.updateWhere(spark, root, cond, set.toMap,
            candidateFilter =
              ds => LakeDml.pruneByDerived(spark, root, ds, derived))
          report(spark, "update", name.toLowerCase, r.version.getOrElse(-1L), r)

        case MergeRe(name, _, rest0) =>
          val root = tableRoot(name)
          val rest = rest0.trim
          require(rest.startsWith("("),
            "LakeSql: MERGE source must be a parenthesized subquery")
          // find the subquery's matching close paren via the scanner
          val qm = quoteMap(rest)
          var depth = 0; var end = -1; var i = 0
          while (i < rest.length && end < 0) {
            if (!qm(i)) {
              if (rest.charAt(i) == '(') depth += 1
              else if (rest.charAt(i) == ')') {
                depth -= 1; if (depth == 0) end = i
              }
            }
            i += 1
          }
          require(end > 0, "LakeSql: unbalanced parens in MERGE source")
          val sub = rest.substring(1, end)
          val tail = rest.substring(end + 1).trim
          val onIdx = topLevelKeyword(tail, "on")
          require(onIdx >= 0, "LakeSql: MERGE requires an ON clause")
          val whenIdx = topLevelKeyword(tail, "when", onIdx)
          val onCond =
            if (whenIdx < 0) tail.substring(onIdx + 2)
            else tail.substring(onIdx + 2, whenIdx)
          if (whenIdx >= 0) {
            val whenText = tail.substring(whenIdx).trim
            require(UpsertAllRe.pattern.matcher(whenText).matches(),
              "LakeSql: only the upsert-all MERGE form is supported " +
                "(WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN " +
                s"INSERT *); got: $whenText")
          }
          val keyCol = onCond match {
            case OnEqRe(_, l, _, r2) =>
              require(l.equalsIgnoreCase(r2),
                s"LakeSql: MERGE ON must equate the SAME key column " +
                  s"on both sides; got $l = $r2")
              l
            case _ => sys.error(
              s"LakeSql: cannot parse MERGE ON '$onCond' (want " +
                "[alias.]key = [alias.]key)")
          }
          refreshViews()
          val updates = alignTo(spark.sql(rewriteTimeTravel(sub)), root)
          val r = LakeDml.mergeInto(spark, root, updates, keyCol)
          report(spark, "merge", name.toLowerCase, r.version.getOrElse(-1L), r)

        case OptimizeRe(name, colsRaw, bucketsRaw) =>
          val root = tableRoot(name)
          val cols = colsRaw.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val buckets =
            if (bucketsRaw == null) 8 else bucketsRaw.toInt
          val df = LakeTable.read(spark, root)
          val v =
            if (cols.size == 1)
              LakeTable.rewriteClustered(df, root, cols.head, buckets)
            else
              LakeTable.rewriteClusteredN(df, root, cols, buckets)
          report(spark, "optimize", name.toLowerCase, v, emptyReport)

        case HistoryRe(name0) =>
          // the Delta DESCRIBE HISTORY shape: one row per retained
          // commit, straight off the log (metadata plane — O(retained
          // versions) driver IO, no data files touched)
          import spark.implicits._
          val name = name0.toLowerCase
          LakeTable.history(spark, tableRoot(name))
            .map { case (v, a, r, ea, er, app, rows) =>
              (name, v, a, r, ea, er, app.orNull, rows.map(Long.box).orNull)
            }
            .toDF("table_name", "version", "dirs_added", "dirs_removed",
                  "tombstones_added", "tombstones_cleared", "txn_app",
                  "rows_added")
            .withColumn("rows_added", col("rows_added").cast("long"))

        case AnalyzeComputeRe(name0) =>
          // the WRITE verb: compute column statistics (min/max, HLL
          // NDV sketch, null count) for every not-yet-analyzed active
          // directory in one distributed job and commit them; CBO
          // sessions then estimate filter selectivity on this table.
          // Incremental per directory — re-running after appends
          // analyzes only the new directories.
          val name = name0.toLowerCase
          val root = tableRoot(name)
          val analyzed = LakeStats.analyze(spark, root)
          report(spark, "analyze", name,
            LakeTable.latestVersion(spark, root).getOrElse(-1L),
            emptyReport.copy(rewrittenDirs = analyzed))

        case AnalyzeRe(name0) =>
          // table-level statistics from the log alone: the row count
          // is the sum of the active directories' logged counts and
          // is NULL when any is uncounted (partial statistics would
          // lie) — the same completeness rule LakeStats feeds CBO by
          import spark.implicits._
          val name = name0.toLowerCase
          val st = LakeTable.replayState(spark, tableRoot(name), None)
          val rows =
            if (st.active.forall(st.rowCounts.contains))
              Some(st.active.map(st.rowCounts).sum)
            else None
          Seq((name, st.version, st.active.size, st.eqdels.size,
               rows.map(Long.box).orNull))
            .toDF("table_name", "version", "active_dirs",
                  "live_tombstones", "row_count")
            .withColumn("row_count", col("row_count").cast("long"))

        case VacuumRe(name, fromRaw) =>
          val root = tableRoot(name)
          val from =
            if (fromRaw != null) fromRaw.toLong
            else LakeTable.latestVersion(spark, root).getOrElse(
              sys.error(s"LakeSql: VACUUM on empty table '$name'"))
          val doomed = LakeTable.vacuum(spark, root, from)
          report(spark, "vacuum", name.toLowerCase, from,
            emptyReport.copy(removedDirs = doomed.size))

        case sel if sel.nonEmpty &&
            ("(?is)^(select|with)\\b.*".r.pattern.matcher(sel).matches()) =>
          refreshViews()
          spark.sql(rewriteTimeTravel(sel))

        case other => sys.error(
          "LakeSql: unsupported statement (supported: CREATE TABLE AS, " +
            "INSERT INTO, DELETE FROM .. WHERE, UPDATE .. SET, MERGE " +
            "INTO, OPTIMIZE, VACUUM, SELECT/WITH): " +
            other.linesIterator.take(1).mkString)
      }
    }

    /** Execute a ';'-separated script; returns the LAST statement's
      * result (a session's final SELECT, typically). */
    def script(text: String): DataFrame = {
      val stmts = splitTopLevel(text, ';')
        .map(stripLeadingComments).filter(_.nonEmpty)
      require(stmts.nonEmpty, "LakeSql: empty script")
      // SPARK_GRAFT_SQL_TIMING=1: per-statement wall time to stderr —
      // the §1 measure-first hook for statement-flow keys (which
      // statement of a script dominates is invisible to BenchSplit,
      // whose construction phase swallows the whole flow).
      if (!sys.env.get("SPARK_GRAFT_SQL_TIMING").contains("1"))
        stmts.map(exec).last
      else
        stmts.map { st =>
          val t0 = System.nanoTime()
          val r = exec(st)
          System.err.println(
            f"[lakesql] ${(System.nanoTime() - t0) / 1e9}%7.3f  " +
              st.linesIterator.next().take(70))
          r
        }.last
    }
  }
}
