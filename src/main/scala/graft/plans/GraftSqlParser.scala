package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import graft.sources.{MergeClause, TxnTable}

/** Parser extension for the MAINTENANCE statements a lakehouse operator
  * types — the pieces plain Spark SQL has no grammar for (the same seam
  * Delta uses for its VACUUM/OPTIMIZE/DESCRIBE HISTORY):
  *
  *  - `DESCRIBE HISTORY <target>` — the commit log;
  *  - `DESCRIBE DETAIL <target>` — the one-row operational summary
  *    (stats, layout, constraints, protocol) off commit metadata;
  *  - `VACUUM <target> [RETAIN <h> HOURS] [KEEP <n> VERSIONS]` —
  *    age + version-floor retention (union of keep-sets), returns the
  *    reclaimed-file count;
  *  - `OPTIMIZE <target> [TARGET <n> ROWS] [CLUSTER BY (c1, ...)]` —
  *    the incremental small-file bin-pack (default ~1M-row packing),
  *    optionally range-clustered, returns the committed version (or the
  *    unchanged tip on no-op); `OPTIMIZE <target> ZORDER BY (c1, ...)
  *    [INTO <n> FILES]` — the full Z-order relayout;
  *  - `RESTORE TABLE <target> TO VERSION AS OF <n>` /
  *    `TO TIMESTAMP AS OF '<ts>'` — rollback as a new commit
  *    (history stays auditable; the incident-response statement);
  *  - `ANALYZE TABLE <target> COMPUTE STATISTICS [NOSCAN]` —
  *    metadata-only (the log IS the statistics store);
  *  - `CREATE TABLE <dest> CLONE <src> [VERSION AS OF <n>]` — the
  *    zero-copy hard-link clone.
  *
  * `<target>` is a quoted filesystem path (`'/path/to/table'`) or a
  * catalog-qualified name (`graft.ns.t`). A statement whose target is
  * NOT graft-resolvable (single-part name, non-graft catalog, no such
  * table) delegates verbatim to Spark's parser instead of failing at
  * execution — the extension can never capture another catalog's
  * statement. The commands resolve their target through the session
  * `run(session)` hands them, not whichever session is "active".
  * Unlike the read-only table functions, these ARE side-effecting —
  * which is exactly why they are commands (executed when the statement
  * runs, inert under EXPLAIN). */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val Describe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+('[^']+'|[\w.`]+)\s*;?\s*""".r
  private val Detail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+('[^']+'|[\w.`]+)\s*;?\s*""".r
  private val Vacuum =
    ("""(?is)\s*VACUUM\s+('[^']+'|[\w.`]+)""" +
      """(?:\s+RETAIN\s+([0-9.]+)\s+HOURS)?""" +
      """(?:\s+KEEP\s+(\d+)\s+VERSIONS)?(?:\s+(DRY\s+RUN))?\s*;?\s*""").r
  private val Optimize =
    ("""(?is)\s*OPTIMIZE\s+('[^']+'|[\w.`]+)(?:\s+TARGET\s+(\d+)\s+ROWS)?""" +
      """(?:\s+(CLUSTER|ZORDER)\s+BY\s+\(([^)]*)\))?""" +
      """(?:\s+WHERE\s+(.+?))?\s*;?\s*""").r
  private val Zorder =
    ("""(?is)\s*OPTIMIZE\s+('[^']+'|[\w.`]+)\s+ZORDER\s+BY\s+\(([^)]*)\)""" +
      """(?:\s+INTO\s+(\d+)\s+FILES)?\s*;?\s*""").r
  private val RestoreV =
    ("""(?is)\s*RESTORE\s+TABLE\s+('[^']+'|[\w.`]+)\s+TO\s+VERSION\s+AS\s+""" +
      """OF\s+(\d+)\s*;?\s*""").r
  private val RestoreTs =
    ("""(?is)\s*RESTORE\s+TABLE\s+('[^']+'|[\w.`]+)\s+TO\s+TIMESTAMP\s+AS\s+""" +
      """OF\s+'([^']+)'\s*;?\s*""").r
  private val Analyze =
    ("""(?is)\s*ANALYZE\s+TABLE\s+('[^']+'|[\w.`]+)\s+COMPUTE\s+""" +
      """STATISTICS(\s+NOSCAN)?\s*;?\s*""").r
  private val Clone =
    ("""(?is)\s*CREATE\s+TABLE\s+('[^']+'|[\w.`]+)\s+CLONE\s+""" +
      """('[^']+'|[\w.`]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""").r
  private val CopyInto =
    ("""(?is)\s*COPY\s+INTO\s+('[^']+'|[\w.`]+)\s+FROM\s+'([^']+)'""" +
      """(?:\s+FILEFORMAT\s*=\s*(\w+))?(?:\s+(FORCE))?\s*;?\s*""").r
  // --- path-target CREATE/INSERT: the remaining statements a PATH table
  // needs for a full SQL lifecycle without a catalog mount (names keep
  // Spark's own grammar + the GraftSqlRule/catalog lowering)
  // optional `CLUSTER BY (c1, ...)` declares write-time clustering at
  // table birth (the graft.clusterBy property) — every subsequent staged
  // write range-sorts on those columns, so point reads prune from the
  // first append without a separate ALTER. The column list is extracted
  // by BALANCED-PAREN scanning (parseCreateRest), never a greedy regex:
  // `(v DECIMAL(10, 2)) CLUSTER BY (v)` has three closing parens and a
  // regex capture picks the wrong one.
  private val CreatePath =
    ("""(?is)\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?('[^']+')\s*""" +
      """(\(.+?)\s*;?\s*""").r
  // CTAS on a path target: schema derives from the query, lowered onto
  // create + append (two commits, one statement — the bootstrap-with-data
  // twin of CreatePath). IF NOT EXISTS makes a re-run a version-returning
  // no-op; without it a second CREATE fails loudly like the column form.
  private val CreatePathAs =
    ("""(?is)\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?('[^']+')\s+""" +
      """(?:USING\s+`?graft-txn`?\s+)?""" +
      """(?:CLUSTER\s+BY\s+\(([^)]*)\)\s+)?AS\s+""" +
      """(SELECT\s.+|VALUES\s.+|FROM\s.+|TABLE\s.+)""").r
  private val InsertPath =
    ("""(?is)\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?('[^']+')\s+""" +
      """(SELECT\s.+|VALUES\s.+|FROM\s.+|TABLE\s.+)""").r
  // --- DML: lowered onto the native TxnTable entry points, so the SQL
  // front door pays the same SkipExtract candidate-discovery pruning as
  // the API path (the WHERE routes through TxnTable.skipPredsFor)
  private val DeleteFrom =
    ("""(?is)\s*DELETE\s+FROM\s+('[^']+'|[\w.`]+)""" +
      """(?:\s+WHERE\s+(.+?))?\s*;?\s*""").r
  // the SET...WHERE boundary is found by QUOTE/PAREN-AWARE scanning
  // (GraftSqlParser.splitWhere), never a plain regex: `SET v = 'a WHERE b'`
  // must not split inside the literal
  private val UpdateSet =
    ("""(?is)\s*UPDATE\s+('[^']+'|[\w.`]+)\s+SET\s+(.+?)\s*;?\s*""").r
  // MERGE with the FULL WHEN-clause surface: `WHEN MATCHED [AND cond]
  // THEN UPDATE SET */c = expr, ... | DELETE` and `WHEN NOT MATCHED
  // [AND cond] THEN INSERT */(cols) VALUES (exprs)`, clause order
  // semantic (first-true applies). The upsert-all shape lowers onto the
  // tuned native `merge`; everything else onto `mergeWhen`. The source
  // is a view/table name, a parenthesized query, or a quoted PATH (a
  // graft table root or a parquet directory). A tail this grammar cannot
  // parse delegates to Spark (which refuses loudly) rather than silently
  // approximating different semantics.
  private val MergeInto =
    ("""(?is)\s*MERGE\s+INTO\s+('[^']+'|[\w.`]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?""" +
      """\s+USING\s+(.+?)\s*;?\s*""").r
  // --- ALTER TABLE DDL: each variant is a metadata-only log commit on
  // the existing TxnTable primitives
  private val AlterAddCols =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+ADD\s+COLUMNS?\s+""" +
      """\((.+)\)\s*;?\s*""").r
  private val AlterAddIdentity =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+ADD\s+COLUMNS?\s+""" +
      """`?(\w+)`?\s+BIGINT\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY""" +
      """(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+(?:STEP|INCREMENT\s+BY)\s+(-?\d+)\s*\))?\s*;?\s*""").r
  private val AlterAddGenerated =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+ADD\s+COLUMNS?\s+""" +
      """`?(\w+)`?\s+([\w()<>, ]+?)\s+GENERATED\s+ALWAYS\s+AS\s+""" +
      """\((.+)\)\s*;?\s*""").r
  private val AlterAddCol =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+ADD\s+COLUMNS?\s+""" +
      """`?(\w+)`?\s+([\w()<>, ]+?)\s*;?\s*""").r
  private val AlterRenameCol =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+RENAME\s+COLUMN\s+""" +
      """`?(\w+)`?\s+TO\s+`?(\w+)`?\s*;?\s*""").r
  private val AlterDropCol =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+DROP\s+COLUMN\s+""" +
      """`?(\w+)`?\s*;?\s*""").r
  private val AlterSetProps =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+SET\s+TBLPROPERTIES\s+""" +
      """\((.+)\)\s*;?\s*""").r
  private val AlterUnsetProps =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+UNSET\s+TBLPROPERTIES\s+""" +
      """\((.+)\)\s*;?\s*""").r
  private val AlterAddConstraint =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+ADD\s+CONSTRAINT\s+""" +
      """(\w+)\s+CHECK\s+\((.+)\)\s*;?\s*""").r
  private val AlterDropConstraint =
    ("""(?is)\s*ALTER\s+TABLE\s+('[^']+'|[\w.`]+)\s+DROP\s+CONSTRAINT\s+""" +
      """(\w+)\s*;?\s*""").r

  private def target(raw: String): String = {
    val t = raw.trim
    if (t.startsWith("'")) t.substring(1, t.length - 1)
    else t.replace("`", "")
  }

  /** Parse-time gate: a quoted-path target is always ours; a
    * catalog-qualified name is ours only if it resolves to a graft table
    * RIGHT NOW (in the parsing session) — otherwise the statement
    * belongs to someone else's catalog and delegates. The command still
    * re-resolves at run time through its own session. */
  private def graftTarget(raw: String): Option[String] = {
    val t = target(raw)
    if (raw.trim.startsWith("'") || t.contains('/')) Some(t)
    else scala.util.Try(GraftTableFunctions.rootOf(t)).toOption.map(_ => t)
  }

  /** Gate for the DML/DDL statements: intercept PATH targets only —
    * the shape Spark's grammar cannot express at all. Catalog-qualified
    * names keep Spark's own DELETE/UPDATE/MERGE/ALTER grammar, which
    * `GraftSqlRule` + the catalog's `alterTable` already lower onto the
    * same native primitives; one route per target shape, never two
    * competing ones for the same statement. */
  private def pathTarget(raw: String): Option[String] = {
    val t = target(raw)
    if (raw.trim.startsWith("'") || t.contains('/')) Some(t) else None
  }

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case Describe(t) => graftTarget(t)
      .map(GraftHistorySqlCommand(_))
      .getOrElse(delegate.parsePlan(sqlText))
    case Vacuum(t, hours, keep, dry) => graftTarget(t)
      .map(GraftVacuumCommand(_,
        Option(keep).map(_.toInt).getOrElse(1),
        Option(hours).map(_.toDouble).getOrElse(-1.0),
        dryRun = dry != null))
      .getOrElse(delegate.parsePlan(sqlText))
    // full Z-order relayout matches FIRST: with TARGET now optional, the
    // bare `OPTIMIZE t ZORDER BY (a, b)` must keep its full-relayout
    // semantics rather than become an incremental bin-pack
    case Zorder(t, cols, files) => graftTarget(t)
      .map(GraftZorderCommand(_,
        cols.split(',').map(_.trim).filter(_.nonEmpty)
          .map(_.replace("`", "")).toSeq,
        Option(files).map(_.toInt).getOrElse(4)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case Optimize(t, rows, kind, cols, where) => graftTarget(t).map { tt =>
      val cs = Option(cols).toSeq.flatMap(_.split(',')).map(_.trim)
        .filter(_.nonEmpty).map(_.replace("`", ""))
      val zorder = Option(kind).exists(_.equalsIgnoreCase("ZORDER"))
      // Delta-style default when TARGET is omitted: pack small files
      // toward ~1M-row outputs
      GraftOptimizeCommand(tt,
        Option(rows).map(_.toLong).getOrElse(1L << 20),
        if (zorder) Nil else cs, if (zorder) cs else Nil,
        Option(where).map(_.trim).filter(_.nonEmpty)): LogicalPlan
    }.getOrElse(delegate.parsePlan(sqlText))
    case RestoreV(t, v) => graftTarget(t)
      .map(GraftRestoreCommand(_, Some(v.toLong), None): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case RestoreTs(t, ts) => graftTarget(t)
      .map(GraftRestoreCommand(_, None, Some(ts)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case Analyze(t, _) => graftTarget(t)
      .map(GraftAnalyzeCommand(_): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case Detail(t) => graftTarget(t)
      .map(GraftDetailCommand(_): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case Clone(dst, src, ver) => graftTarget(src)
      .map(s => GraftCloneCommand(target(dst), s,
        Option(ver).map(_.toLong).getOrElse(-1L)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case CopyInto(t, src, fmt, force) => graftTarget(t)
      .map(GraftCopyIntoCommand(_, src,
        Option(fmt).map(_.toLowerCase).getOrElse("parquet"),
        force = force != null): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case CreatePathAs(ifNotExists, t, cluster, query) => pathTarget(t)
      .map(GraftPathCtasCommand(_, query.trim, ifNotExists != null,
        GraftSqlParser.clusterCols(cluster)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case CreatePath(ifNotExists, t, rest) => pathTarget(t)
      .flatMap { tt =>
        GraftSqlParser.parseCreateRest(rest).map { case (cols, cluster) =>
          GraftPathCreateCommand(tt, cols, ifNotExists != null,
            cluster): LogicalPlan
        }
      }
      .getOrElse(delegate.parsePlan(sqlText))
    case InsertPath(mode, t, query) => pathTarget(t)
      .map(GraftPathInsertCommand(_, query.trim,
        overwrite = mode.equalsIgnoreCase("OVERWRITE")): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case DeleteFrom(t, where) => pathTarget(t)
      .map(GraftPathDeleteCommand(_,
        Option(where).map(_.trim).filter(_.nonEmpty)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case UpdateSet(t, body) => pathTarget(t)
      .map { tt =>
        val (sets, where) = GraftSqlParser.splitWhere(body)
        GraftPathUpdateCommand(tt, GraftSqlParser.assignments(sets),
          where): LogicalPlan
      }
      .getOrElse(delegate.parsePlan(sqlText))
    case MergeInto(t, tAlias, rest) => pathTarget(t)
      .flatMap { tt =>
        GraftSqlParser.parseMergeTail(rest, Option(tAlias)).map {
          case (srcSpec, keys, clauses, tA, sA) =>
            GraftPathMergeCommand(tt, srcSpec, keys, clauses, tA,
              sA): LogicalPlan
        }
      }
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterAddCols(t, cols) => pathTarget(t)
      .map(GraftAlterCommand(_,
        AlterOp.AddColumns(GraftSqlParser.columnDefs(cols))): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterAddIdentity(t, name, start, step) => pathTarget(t)
      .map(GraftAlterCommand(_, AlterOp.AddIdentity(name,
        Option(start).map(_.toLong).getOrElse(1L),
        Option(step).map(_.toLong).getOrElse(1L))): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterAddGenerated(t, name, ddl, genExpr) => pathTarget(t)
      .map(GraftAlterCommand(_,
        AlterOp.AddGenerated(name, ddl.trim, genExpr.trim)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterAddCol(t, name, ddl) => pathTarget(t)
      .map(GraftAlterCommand(_,
        AlterOp.AddColumns(Seq((name, ddl.trim)))): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterRenameCol(t, from, to) => pathTarget(t)
      .map(GraftAlterCommand(_, AlterOp.RenameColumn(from, to)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterDropCol(t, name) => pathTarget(t)
      .map(GraftAlterCommand(_, AlterOp.DropColumn(name)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterSetProps(t, kvs) => pathTarget(t)
      .map(GraftAlterCommand(_,
        AlterOp.SetProps(GraftSqlParser.propPairs(kvs))): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterUnsetProps(t, ks) => pathTarget(t)
      .map(GraftAlterCommand(_,
        AlterOp.UnsetProps(GraftSqlParser.propKeys(ks))): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterAddConstraint(t, name, check) => pathTarget(t)
      .map(GraftAlterCommand(_,
        AlterOp.AddConstraint(name, check.trim)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    case AlterDropConstraint(t, name) => pathTarget(t)
      .map(GraftAlterCommand(_, AlterOp.DropConstraint(name)): LogicalPlan)
      .getOrElse(delegate.parsePlan(sqlText))
    // QUALIFY last: the statement regexes above never contain a
    // top-level QUALIFY, and a CTAS/INSERT whose inner query carries one
    // re-enters this parser when that query is parsed at run time.
    // A rewrite that fails to PARSE falls back to the original text —
    // the string-level lowering must never break a statement the
    // delegate accepts (a genuine QUALIFY then still fails loudly, on
    // the original, in the delegate's grammar).
    case s => GraftSqlParser.rewriteQualify(s) match {
      case Some(r) =>
        try delegate.parsePlan(r)
        catch {
          case _: org.apache.spark.sql.catalyst.parser.ParseException =>
            delegate.parsePlan(s)
        }
      case None => delegate.parsePlan(s)
    }
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** String-level helpers for the regex-delegating parser: top-level
  * splitting that respects parentheses and single-quoted strings, and
  * the small grammars (assignment lists, ON equi-keys, column defs,
  * property lists) the DML/DDL statements carry. */
object GraftSqlParser {

  /** Split `s` on top-level `sep` — separators inside parens or inside
    * single-quoted strings ('' escapes) don't split. */
  private[plans] def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inStr = false
        }
      } else c match {
        case '\'' => inStr = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case x if x == sep && depth == 0 => out += cur.result(); cur.clear()
        case x => cur += x
      }
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** True iff position `i` opens a span the keyword scanner must skip
    * whole: a single-quoted string ('' escapes), a backtick-quoted
    * identifier (`` escapes), a `--` line comment, or a bracketed
    * comment (which Spark nests). */
  private def spanOpensAt(s: String, i: Int): Boolean = {
    val c = s.charAt(i)
    c == '\'' || c == '`' ||
      (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') ||
      (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*')
  }

  /** Index just past the span opening at `i` (`spanOpensAt` holds).
    * An unterminated span runs to end-of-string — the delegate's own
    * lexer reports that error, not this scanner. */
  private def skipSpan(s: String, i: Int): Int = s.charAt(i) match {
    case q @ ('\'' | '`') =>
      var j = i + 1
      while (j < s.length) {
        if (s.charAt(j) == q) {
          if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2 // doubled escape
          else return j + 1
        } else j += 1
      }
      j
    case '-' => // "--" comment: to (and past) the newline
      val nl = s.indexOf('\n', i)
      if (nl < 0) s.length else nl + 1
    case _ => // "/* ... */", nested per Spark's lexer (hints included)
      var j = i + 2; var d = 1
      while (j < s.length && d > 0) {
        if (s.regionMatches(false, j, "/*", 0, 2)) { d += 1; j += 2 }
        else if (s.regionMatches(false, j, "*/", 0, 2)) { d -= 1; j += 2 }
        else j += 1
      }
      j
  }

  /** First index at/after `from` that is neither whitespace nor inside a
    * comment — the "next token starts here" scanner the DISTINCT / WITH
    * peeks use (quoted spans are NOT skipped: a quote IS a token). */
  private[plans] def skipWsAndComments(s: String, from: Int): Int = {
    var i = from
    var moved = true
    while (moved && i < s.length) {
      moved = false
      while (i < s.length && s.charAt(i).isWhitespace) { i += 1; moved = true }
      if (i < s.length && (s.regionMatches(false, i, "--", 0, 2) ||
          s.regionMatches(false, i, "/*", 0, 2))) {
        i = skipSpan(s, i); moved = true
      }
    }
    i
  }

  /** Index of the first TOP-LEVEL occurrence of keyword `kw` in `s` —
    * case-insensitive, word-bounded, outside parens, single-quoted
    * strings ('' escapes), backtick identifiers, and `--` / bracketed
    * comments. -1 when absent. The scanner every statement splitter here
    * uses, so a keyword inside a string literal, a quoted identifier, a
    * comment, or a subquery can never split the statement. */
  private[plans] def indexOfTop(s: String, kw: String): Int = {
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    var depth = 0; var i = 0
    while (i < s.length) {
      if (spanOpensAt(s, i)) i = skipSpan(s, i)
      else {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ if depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !isWord(s.charAt(i - 1))) &&
              (i + kw.length >= s.length || !isWord(s.charAt(i + kw.length))) =>
            return i
          case _ => ()
        }
        i += 1
      }
    }
    -1
  }

  /** Index of the LAST top-level occurrence of `kw` (same rules as
    * `indexOfTop`). -1 when absent. */
  private[graft] def lastIndexOfTop(s: String, kw: String): Int = {
    var last = -1
    var from = 0
    var i = indexOfTop(s, kw)
    while (i >= 0) {
      last = from + i
      from = last + kw.length
      i = indexOfTop(s.substring(from), kw)
    }
    last
  }

  /** Lower a top-level `QUALIFY <pred>` — the rank-filter clause Spark's
    * grammar lacks — onto window + filter: the predicate (which may
    * itself contain window functions) is computed as a helper column
    * INSIDE the original select (so it sees the same scope the select
    * list does, including non-projected source columns), the outer
    * select filters on it and star-excepts it away, and any trailing
    * ORDER BY / LIMIT move to the outer block:
    * {{{
    *   SELECT <list> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT n]
    *   ⇒ SELECT * EXCEPT (__graft_qualify__) FROM (
    *       SELECT <list>, (<pred>) AS __graft_qualify__ FROM ...
    *     ) WHERE __graft_qualify__ [ORDER BY ...] [LIMIT n]
    * }}}
    * Supported shapes: a plain top-level SELECT, and a WITH-led
    * statement (the CTE prefix — whose bodies are parenthesized and so
    * never top-level — is carried verbatim and the final SELECT is
    * rewritten). Documented refusals (None → the caller delegates and
    * Spark refuses loudly): DISTINCT (a helper column would change its
    * semantics, detected past any leading hint/comment), top-level set
    * operations (QUALIFY would be ambiguous), and a select list already
    * using star-EXCEPT (indistinguishable from a set operation at this
    * level). The LAST top-level QUALIFY is the clause — an earlier bare
    * `qualify` can only be a column alias, whose head has no top-level
    * FROM after it and falls out as None. */
  private[graft] def rewriteQualify(sql: String): Option[String] = {
    if (!sql.toLowerCase.contains("qualify")) return None
    val body = sql.trim.stripSuffix(";")
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    val w0 = skipWsAndComments(body, 0)
    if (body.regionMatches(true, w0, "WITH", 0, 4) &&
        (w0 + 4 >= body.length || !isWord(body.charAt(w0 + 4)))) {
      // WITH-led: the main query is the first TOP-LEVEL SELECT (every
      // CTE body sits inside its parens); rewrite it, keep the prefix
      val si = indexOfTop(body, "SELECT")
      return if (si <= w0) None
      else rewriteQualify(body.drop(si)).map(body.take(si) + _)
    }
    val qi = lastIndexOfTop(body, "QUALIFY")
    if (qi < 0) return None
    val head = body.take(qi).trim
    if (!head.regionMatches(true, 0, "SELECT", 0, 6) || head.length < 7)
      return None
    val di = skipWsAndComments(head, 6)
    if (head.regionMatches(true, di, "DISTINCT", 0, 8) &&
        (di + 8 >= head.length || !isWord(head.charAt(di + 8))))
      return None
    if (Seq("UNION", "INTERSECT", "EXCEPT")
        .exists(indexOfTop(head, _) >= 0)) return None
    val fi = indexOfTop(head, "FROM")
    if (fi < 6) return None
    val selectList = head.substring(6, fi).trim
    val fromRest = head.drop(fi).trim
    if (selectList.isEmpty || fromRest.isEmpty) return None
    val tail = body.drop(qi + "QUALIFY".length)
    val cut = Seq(indexOfTop(tail, "ORDER"), indexOfTop(tail, "LIMIT"))
      .filter(_ >= 0).minOption.getOrElse(tail.length)
    val pred = tail.take(cut).trim
    if (pred.isEmpty) return None
    val post = tail.drop(cut).trim
    Some(s"SELECT * EXCEPT (__graft_qualify__) FROM (SELECT $selectList, " +
      s"($pred) AS __graft_qualify__ $fromRest) WHERE __graft_qualify__" +
      (if (post.isEmpty) "" else s" $post"))
  }

  /** Split a statement body at its top-level WHERE: (before, condition).
    * No top-level WHERE → the whole body, no condition. */
  private[plans] def splitWhere(s: String): (String, Option[String]) =
    indexOfTop(s, "WHERE") match {
      case -1 => (s.trim, None)
      case i => (s.take(i).trim,
        Some(s.drop(i + "WHERE".length).trim).filter(_.nonEmpty))
    }

  /** Segments following each top-level occurrence of `kw`, plus the head
    * before the first one. `splitTopKeyword("WHEN a WHEN b", "WHEN")` →
    * ("", Seq(" a ", " b")). */
  private[plans] def splitTopKeyword(s: String, kw: String)
      : (String, Seq[String]) = {
    val idxs = Iterator.iterate(indexOfTop(s, kw)) { i =>
      val nxt = indexOfTop(s.drop(i + kw.length), kw)
      if (nxt < 0) -1 else i + kw.length + nxt
    }.takeWhile(_ >= 0).toSeq
    if (idxs.isEmpty) (s, Nil)
    else {
      val head = s.take(idxs.head)
      val segs = idxs.zipAll(idxs.drop(1), -1, s.length).map {
        case (a, b) => s.substring(a + kw.length, b)
      }
      (head, segs)
    }
  }

  /** `a = expr, b = expr` → (column, expression SQL) pairs. The LHS is a
    * bare or backticked identifier, so the FIRST top-level '=' splits. */
  private[plans] def assignments(s: String): Seq[(String, String)] =
    splitTop(s, ',').map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"bad SET assignment (expected col = expr): $a")
      (a.take(i).trim.replace("`", ""), a.drop(i + 1).trim)
    }

  /** Everything after `MERGE INTO <target> [alias] USING ` → (source
    * spec, key columns, WHEN clauses, target alias, source alias), or
    * None when the tail is not this grammar (the caller then delegates
    * to Spark, which refuses loudly). The source spec keeps its core
    * form — `name`, `(query)` or `'/path'` — with any alias stripped;
    * missing aliases default to `t` / the bare source name / `s`, so
    * qualified references in clause expressions resolve against the
    * struct scopes `mergeWhen` builds. Known limit, stated plainly: a
    * clause CONDITION containing a top-level `CASE WHEN` cannot be
    * split by this keyword scanner and delegates (parens around the
    * CASE make it parseable). */
  private[plans] def parseMergeTail(rest: String, tAliasOpt: Option[String])
      : Option[(String, Seq[String], Seq[MergeClause], String, String)] = {
    val onIdx = indexOfTop(rest, "ON")
    if (onIdx < 0) return None
    val (srcSpec, sAliasOpt) = parseSourceSpec(rest.take(onIdx)) match {
      case Some(x) => x
      case None => return None
    }
    val afterOn = rest.drop(onIdx + 2)
    val (onCond, clauseSegs) = splitTopKeyword(afterOn, "WHEN")
    if (clauseSegs.isEmpty || onCond.trim.isEmpty) return None
    val clauses = clauseSegs.map(mergeClauseOf)
    if (clauses.exists(_.isEmpty)) return None
    val tA = tAliasOpt.getOrElse("t")
    val sA = sAliasOpt.getOrElse {
      val core = srcSpec.trim
      if (core.startsWith("(") || core.startsWith("'")) "s"
      else core.replace("`", "").split('.').last
    }
    Some((srcSpec, equiKeys(onCond, Some(tA), Some(sA)),
      clauses.flatten, tA, sA))
  }

  /** `name | name [AS] a | (query) [AS] a | '/path' [AS] a` →
    * (core spec, alias). */
  private[plans] def parseSourceSpec(s: String)
      : Option[(String, Option[String])] = {
    val t = s.trim
    if (t.isEmpty) return None
    val coreEnd =
      if (t.startsWith("(")) {
        var depth = 0; var inStr = false; var i = 0; var end = -1
        while (i < t.length && end < 0) {
          val c = t.charAt(i)
          if (inStr) { if (c == '\'') inStr = false }
          else if (c == '\'') inStr = true
          else if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        end
      } else if (t.startsWith("'")) t.indexOf('\'', 1)
      else { val i = t.indexWhere(_.isWhitespace); if (i < 0) t.length - 1 else i - 1 }
    if (coreEnd < 0) return None
    val core = t.take(coreEnd + 1)
    val alias = t.drop(coreEnd + 1).trim.split("\\s+").toSeq
      .filter(_.nonEmpty) match {
      case Seq() => Some(None)
      case Seq(a) if !a.equalsIgnoreCase("AS") =>
        Some(Some(a.replace("`", "")))
      case Seq(as, a) if as.equalsIgnoreCase("AS") =>
        Some(Some(a.replace("`", "")))
      case _ => None
    }
    alias.map(a => (core, a))
  }

  private val MUpd =
    """(?is)\s*MATCHED\s*(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+?)\s*""".r
  private val MDel =
    """(?is)\s*MATCHED\s*(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*""".r
  private val MInsStar =
    ("""(?is)\s*NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+(.+?)\s+)?""" +
      """THEN\s+INSERT\s+\*\s*""").r
  private val MInsCols =
    ("""(?is)\s*NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+(.+?)\s+)?""" +
      """THEN\s+INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*""").r
  private val MBsUpd =
    ("""(?is)\s*NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.+?)\s+)?""" +
      """THEN\s+UPDATE\s+SET\s+(.+?)\s*""").r
  private val MBsDel =
    ("""(?is)\s*NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.+?)\s+)?""" +
      """THEN\s+DELETE\s*""").r

  /** One segment after a top-level WHEN → a MergeClause, or None when
    * it is not a clause this grammar supports. */
  private[plans] def mergeClauseOf(seg: String): Option[MergeClause] =
    seg match {
      // BY SOURCE first: its prefix (`NOT MATCHED BY SOURCE`) must not
      // be eaten by the plain NOT-MATCHED insert patterns
      case MBsDel(cond) =>
        Some(MergeClause.DeleteBySource(Option(cond).map(_.trim)))
      case MBsUpd(cond, body) if body.trim != "*" =>
        // SET * has no meaning without a source row — delegate (loud)
        Some(MergeClause.UpdateBySource(Option(cond).map(_.trim),
          assignments(body.trim)))
      case MDel(cond) =>
        Some(MergeClause.Delete(Option(cond).map(_.trim)))
      case MUpd(cond, body) =>
        val sets =
          if (body.trim == "*") None
          else Some(assignments(body.trim))
        Some(MergeClause.Update(Option(cond).map(_.trim), sets))
      case MInsStar(cond) =>
        Some(MergeClause.Insert(Option(cond).map(_.trim), None))
      case MInsCols(cond, cols, exprs) =>
        val cs = splitTop(cols, ',').map(_.trim.replace("`", ""))
        val es = splitTop(exprs, ',').map(_.trim)
        if (cs.length != es.length || cs.isEmpty) None
        else Some(MergeClause.Insert(Option(cond).map(_.trim), Some(cs.zip(es))))
      case _ => None
    }

  /** MERGE ON condition → key column names: a conjunction of
    * `t.k = s.k` equalities where both sides name the SAME column
    * (the native merge's key contract). When both aliases are known and
    * both sides are qualified, the qualifiers must be exactly the two
    * declared aliases — a condition referencing some third relation is
    * refused with the expectation named. Anything else is refused with
    * the supported shape named. */
  private[plans] def equiKeys(on: String, tAlias: Option[String],
      sAlias: Option[String]): Seq[String] = {
    // a fully-parenthesized condition — `ON (t.k = s.k AND …)` — sheds
    // its outer parens (only when they wrap the WHOLE string: a paren
    // closing early, as in `(a = b) AND (c = d)`, must stay)
    def shed(s: String): String = {
      val t = s.trim
      if (!(t.startsWith("(") && t.endsWith(")"))) t
      else {
        var depth = 0; var wraps = true
        for (i <- 0 until t.length - 1) {
          if (t.charAt(i) == '(') depth += 1
          else if (t.charAt(i) == ')') { depth -= 1; if (depth == 0) wraps = false }
        }
        if (wraps) shed(t.substring(1, t.length - 1)) else t
      }
    }
    shed(splitTop(on, ' ').mkString(" ")) // normalize whitespace
      .split("(?i)\\s+AND\\s+").toSeq.map { eq0 =>
        val eq = shed(eq0)
        val sides = eq.split('=')
        require(sides.length == 2,
          s"MERGE ON supports only equi-key conjunctions (t.k = s.k AND …): $eq")
        def colOf(side: String): String = {
          val p = side.trim.replace("`", "").split('.')
          p(p.length - 1)
        }
        def qualOf(side: String): Option[String] = {
          val p = side.trim.replace("`", "").split('.')
          if (p.length >= 2) Some(p(p.length - 2)) else None
        }
        val (l, r) = (colOf(sides(0)), colOf(sides(1)))
        require(l.equalsIgnoreCase(r),
          s"MERGE ON keys must name the same column on both sides, got $eq")
        // qualifier validation: with both aliases declared, a fully
        // qualified equality must reference exactly those two scopes
        for (tq <- tAlias; sq <- sAlias;
             lq <- qualOf(sides(0)); rq <- qualOf(sides(1))) {
          val got = Set(lq.toLowerCase, rq.toLowerCase)
          require(got == Set(tq.toLowerCase, sq.toLowerCase),
            s"MERGE ON must join the target ($tq) to the source ($sq); " +
              s"got qualifiers ${got.mkString(", ")} in $eq")
        }
        l
      }
  }

  /** `a INT, b DECIMAL(10, 2)` → (name, type DDL) pairs. */
  private[plans] def columnDefs(s: String): Seq[(String, String)] =
    splitTop(s, ',').map { d =>
      val t = d.trim
      val i = t.indexWhere(_.isWhitespace)
      require(i > 0, s"bad column definition (expected name TYPE): $d")
      (t.take(i).replace("`", ""), t.drop(i + 1).trim)
    }

  /** `'k' = 'v', 'k2' = 'v2'` → property map. */
  private[plans] def propPairs(s: String): Map[String, String] =
    splitTop(s, ',').map { kv =>
      val p = splitTop(kv, '=')
      require(p.length == 2, s"bad TBLPROPERTIES entry (expected 'k' = 'v'): $kv")
      (unquote(p(0)), unquote(p(1)))
    }.toMap

  /** `'k', 'k2'` → property key list. */
  private[plans] def propKeys(s: String): Seq[String] =
    splitTop(s, ',').map(unquote)

  /** `c1, c2` of a CLUSTER BY list → column names (empty when absent). */
  private[plans] def clusterCols(s: String): Seq[String] =
    Option(s).toSeq.flatMap(_.split(',')).map(_.trim.replace("`", ""))
      .filter(_.nonEmpty)

  /** Everything after `CREATE TABLE '<path>' ` — `(cols) [USING
    * graft-txn] [CLUSTER BY (c1, ...)]` — with the column list taken by
    * balanced-paren scan (a type like DECIMAL(10, 2) nests parens), or
    * None when the tail is not this grammar. */
  private[plans] def parseCreateRest(rest: String)
      : Option[(Seq[(String, String)], Seq[String])] = {
    val t = rest.trim
    if (!t.startsWith("(")) return None
    var depth = 0; var inStr = false; var end = -1; var i = 0
    while (i < t.length && end < 0) {
      val c = t.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (c == '\'') inStr = true
      else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) end = i }
      i += 1
    }
    if (end <= 0) return None
    val cols = t.substring(1, end)
    val Tail =
      ("""(?is)\s*(?:USING\s+`?graft-txn`?)?""" +
        """\s*(?:CLUSTER\s+BY\s+\(([^)]*)\))?\s*""").r
    t.substring(end + 1) match {
      case Tail(cluster) => Some((columnDefs(cols), clusterCols(cluster)))
      case _ => None
    }
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }
}

/** ALTER TABLE variants, each a metadata-only commit on the matching
  * TxnTable primitive. */
sealed trait AlterOp
object AlterOp {
  case class AddColumns(cols: Seq[(String, String)]) extends AlterOp
  case class AddGenerated(name: String, typeDdl: String, expr: String) extends AlterOp
  case class AddIdentity(name: String, start: Long, step: Long) extends AlterOp
  case class RenameColumn(from: String, to: String) extends AlterOp
  case class DropColumn(name: String) extends AlterOp
  case class SetProps(kv: Map[String, String]) extends AlterOp
  case class UnsetProps(keys: Seq[String]) extends AlterOp
  case class AddConstraint(name: String, check: String) extends AlterOp
  case class DropConstraint(name: String) extends AlterOp
}

/** ALTER TABLE <target> <op> — returns the committed version. The ops
  * lower onto the proven log actions (`addColumns` / `renameColumn` /
  * `dropColumn` / `setProperties` / `addConstraint` / `dropConstraint` /
  * `addGeneratedColumn` / `addIdentityColumn`), so everything the API
  * surface enforces (constraint validation scans, protocol bumps,
  * column-mapping physical names, rename/drop refusals on constrained
  * columns) holds identically through SQL. */
case class GraftAlterCommand(target: String, op: AlterOp)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    def dt(ddl: String): DataType =
      session.sessionState.sqlParser.parseDataType(ddl)
    val v = op match {
      case AlterOp.AddColumns(cols) =>
        t.addColumns(StructType(cols.map { case (n, d) =>
          org.apache.spark.sql.types.StructField(n, dt(d)) }))
      case AlterOp.AddGenerated(n, d, e) => t.addGeneratedColumn(n, dt(d), e)
      case AlterOp.AddIdentity(n, start, step) =>
        t.addIdentityColumn(n, start, step)
      case AlterOp.RenameColumn(from, to) => t.renameColumn(from, to)
      case AlterOp.DropColumn(n) => t.dropColumn(n)
      case AlterOp.SetProps(kv) => t.setProperties(kv)
      case AlterOp.UnsetProps(ks) => t.setProperties(Map.empty, ks)
      case AlterOp.AddConstraint(n, check) => t.addConstraint(n, check)
      case AlterOp.DropConstraint(n) => t.dropConstraint(n)
    }
    Seq(Row(v))
  }
}

/** `CREATE TABLE '<path>' (col TYPE, …) [USING graft-txn]` — the
  * schema-only v0 commit (`TxnTable.create`) on a path target, the
  * statement that starts the path-SQL lifecycle (CREATE → COPY
  * INTO/INSERT → DML → maintenance) without a catalog mount. IF NOT
  * EXISTS makes re-running the bootstrap script a no-op; without it a
  * second CREATE fails loudly (create is not idempotent by design). */
case class GraftPathCreateCommand(target: String,
    cols: Seq[(String, String)], ifNotExists: Boolean,
    clusterBy: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session,
      GraftTableFunctions.rootOfNew(target, session))
    if (ifNotExists && t.currentVersion >= 0) return Seq(Row(t.currentVersion))
    // `col TYPE NOT NULL` in the list: the suffix becomes an enforced
    // CHECK constraint (the catalog route's discipline — nullability
    // alone would be a promise the write path never checks)
    val NotNull = "(?is)(.*?)\\s+NOT\\s+NULL\\s*$".r
    val parsed = cols.map { case (n, d) => d match {
      case NotNull(core) => (n, core.trim, true)
      case _ => (n, d, false)
    }}
    clusterBy.foreach(c => require(parsed.exists(_._1 == c),
      s"CLUSTER BY column $c is not in the column list"))
    var v = t.create(StructType(parsed.map { case (n, d, nn) =>
      org.apache.spark.sql.types.StructField(n,
        session.sessionState.sqlParser.parseDataType(d), nullable = !nn) }))
    parsed.filter(_._3).foreach { case (n, _, _) => t.setNotNull(n) }
    if (clusterBy.nonEmpty)
      v = t.setProperties(Map("graft.clusterBy" -> clusterBy.mkString(",")))
    Seq(Row(v))
  }
}

/** `INSERT INTO|OVERWRITE '<path>' <query>` — append/overwrite through
  * the commit protocol on a path target (the catalog-name forms are
  * Spark's own grammar, lowered by GraftSqlRule). The query text is any
  * SELECT/VALUES/TABLE statement, resolved in the issuing session at run
  * time; the write enforces the table's declared schema, constraints,
  * clustering and generated/identity rules exactly like the API path. */
case class GraftPathInsertCommand(target: String, querySql: String,
    overwrite: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val df = session.sql(querySql)
    // SQL INSERT maps the query's columns to the table POSITIONALLY
    // (standard semantics — `SELECT 1, 'a'` inserts into (k, v) whatever
    // the select-list expressions are named), cast to the declared
    // types. ENGINE-OWNED columns (GENERATED ALWAYS AS expr/IDENTITY)
    // are excluded from the mapping — the write computes them, and a
    // query supplying them explicitly is refused by arity.
    val aligned = Some(t.currentVersion).filter(_ >= 0)
      .flatMap(t.schemaAt) match {
      case Some(sc) =>
        val owned = t.properties.keys.collect {
          case k if k.startsWith("graft.generated.") =>
            k.stripPrefix("graft.generated.")
          case k if k.startsWith("graft.identity.") &&
              !k.startsWith("graft.identityHw.") =>
            k.stripPrefix("graft.identity.")
        }.toSet
        val writable = sc.fields.toSeq.filterNot(f => owned(f.name))
        require(df.columns.length == writable.length,
          s"INSERT provides ${df.columns.length} columns but " +
            s"${t.root} expects ${writable.length} " +
            s"(${writable.map(_.name).mkString(", ")})")
        df.toDF(writable.map(_.name): _*).select(writable.map(f =>
          col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
      case None => df
    }
    Seq(Row(if (overwrite) t.overwrite(aligned) else t.append(aligned)))
  }
}

/** `DELETE FROM <target> [WHERE <cond>]` — the native copy-on-write
  * `deleteWhere`, whose candidate DISCOVERY routes the condition through
  * SkipExtract file skipping: a point delete on a clustered/bloomed
  * column plans and rewrites 1-of-N files, through plain SQL. No WHERE
  * deletes every row (SQL semantics). Returns the committed version
  * (the unchanged tip when nothing matched). */
case class GraftPathDeleteCommand(target: String, whereSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val cond = whereSql.map(org.apache.spark.sql.functions.expr)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Seq(Row(t.deleteWhere(cond)))
  }
}

/** `UPDATE <target> SET c = expr [, …] [WHERE <cond>]` — the native
  * copy-on-write `update`: only files CONTAINING a matching row rewrite,
  * and the WHERE pays the same SkipExtract discovery pruning as the API
  * path. Assignments are SQL expressions over the row's own columns. */
case class GraftPathUpdateCommand(target: String,
    sets: Seq[(String, String)], whereSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val cond = whereSql.map(org.apache.spark.sql.functions.expr)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val set = sets.map { case (c, e) =>
      c -> org.apache.spark.sql.functions.expr(e) }.toMap
    Seq(Row(t.update(set, cond)))
  }
}

/** `MERGE INTO <target> [t] USING <source> [s] ON t.k = s.k [AND …]
  * WHEN ...` — the full conditional-clause MERGE on a path target. The
  * parser already normalized the clause list; the upsert-all shape
  * (`UPDATE SET * / INSERT *`, both unconditional) lowers onto `merge`
  * (the key-replace action of the one MERGE core), every other
  * combination onto `mergeWhen` with the declared aliases. The source is
  * a table/view name, a parenthesized query, or a quoted PATH — a graft
  * table root (read through the log, snapshot-isolated) or a plain
  * parquet directory. */
case class GraftPathMergeCommand(target: String, sourceSpec: String,
    keyCols: Seq[String], clauses: Seq[MergeClause],
    tAlias: String, sAlias: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val spec = sourceSpec.trim
    val src =
      if (spec.startsWith("("))
        session.sql(spec.substring(1, spec.length - 1))
      else if (spec.startsWith("'")) {
        val p = spec.substring(1, spec.length - 1)
        if (java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(p, "_txn_log")))
          session.read.format("graft-txn").load(p)
        else session.read.parquet(p)
      }
      else session.table(spec.replace("`", ""))
    val upsertAll = clauses == Seq(MergeClause.Update(None, None),
      MergeClause.Insert(None, None))
    Seq(Row(
      if (upsertAll) t.merge(src, keyCols)
      else t.mergeWhen(src, keyCols, clauses, tAlias, sAlias)))
  }
}

/** `CREATE TABLE '<path>' [USING graft-txn] AS <query>` — path CTAS:
  * the v0 create takes its schema from the analyzed query, the query
  * rows append as v1, one statement. IF NOT EXISTS returns the existing
  * tip untouched (idempotent bootstrap); otherwise a second CREATE
  * fails loudly, exactly like the column-list form. */
case class GraftPathCtasCommand(target: String, querySql: String,
    ifNotExists: Boolean, clusterBy: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session,
      GraftTableFunctions.rootOfNew(target, session))
    if (t.currentVersion >= 0) {
      if (ifNotExists) return Seq(Row(t.currentVersion))
      throw new IllegalStateException(
        s"CREATE TABLE AS: ${t.root} already holds a table " +
          "(use IF NOT EXISTS for an idempotent bootstrap)")
    }
    val df = session.sql(querySql)
    clusterBy.foreach(c => require(df.columns.contains(c),
      s"CLUSTER BY column $c is not in the query's output"))
    t.create(df.schema)
    // the clustering declaration lands BEFORE the data commit, so the
    // CTAS rows themselves stage range-sorted — prunable from v2 on
    if (clusterBy.nonEmpty)
      t.setProperties(Map("graft.clusterBy" -> clusterBy.mkString(",")))
    Seq(Row(t.append(df)))
  }
}

/** DESCRIBE HISTORY as a command (rows come from KB-scale log metadata). */
case class GraftHistorySqlCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("action", org.apache.spark.sql.types.StringType)(),
    AttributeReference("rows", LongType)(),
    AttributeReference("n_added_files", LongType)(),
    AttributeReference("n_removed_files", LongType)(),
    AttributeReference("ts_millis", LongType)())
  override def run(session: SparkSession): Seq[Row] =
    TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
      .history().collect().toSeq
}

/** VACUUM with the union retention (age window + version floor).
  * `DRY RUN` reports the would-delete count without touching a file —
  * the check an operator runs before pointing a retention policy at a
  * production table. */
case class GraftVacuumCommand(target: String, retainVersions: Int,
    retainHours: Double, dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_deleted", IntegerType)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
      .vacuum(retainVersions, retainHours, dryRun)))
}

/** OPTIMIZE: incremental bin-pack of sub-target files. */
case class GraftOptimizeCommand(target: String, targetRows: Long,
    clusterBy: Seq[String], zorderBy: Seq[String] = Nil,
    whereSql: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
      .optimize(targetRows, clusterBy, zorderBy,
        // the predicate SCOPES which files are compaction candidates
        // (file skipping decides admission); content is invariant either
        // way, so this is maintenance cost control, not filtering
        whereSql.map(org.apache.spark.sql.functions.expr))))
}

/** OPTIMIZE ... ZORDER BY: full Z-order relayout (a clustered compact). */
case class GraftZorderCommand(target: String, zorderBy: Seq[String],
    files: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
      .compact(target = files, zorderBy = zorderBy)))
}

/** ANALYZE TABLE ... COMPUTE STATISTICS — METADATA-ONLY on a graft
  * table, whether or not NOSCAN is written: the commit log already holds
  * exact row counts, file bytes, and per-column min/max + null counts
  * for every live file (`TxnTable.tableStats`), maintained by every DML
  * commit — so there is nothing to scan, and the snapshot read path
  * feeds the same numbers to the optimizer on every query anyway. The
  * command surfaces them to the operator (the DESCRIBE-style check that
  * stats-driven planning sees post-DML truth). */
case class GraftAnalyzeCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("row_count", LongType)(),
    AttributeReference("size_bytes", LongType)(),
    AttributeReference("n_files", IntegerType)())
  override def run(session: SparkSession): Seq[Row] = {
    val st = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
      .tableStats()
    Seq(Row(st.rowCount, st.sizeInBytes, st.nFiles))
  }
}

/** DESCRIBE DETAIL — the one-row operational summary (Delta's form):
  * format, location, tip version, exact row count / bytes / file count
  * from the commit-log statistics (metadata-only, like ANALYZE), the
  * declared clustering/bloom layout, active constraint count, and the
  * protocol floor. What an operator checks before touching a table. */
case class GraftDetailCommand(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", org.apache.spark.sql.types.StringType)(),
    AttributeReference("location", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("row_count", LongType)(),
    AttributeReference("size_bytes", LongType)(),
    AttributeReference("n_files", IntegerType)(),
    AttributeReference("cluster_by", org.apache.spark.sql.types.StringType)(),
    AttributeReference("bloom_by", org.apache.spark.sql.types.StringType)(),
    AttributeReference("n_constraints", IntegerType)(),
    AttributeReference("min_reader", IntegerType)(),
    AttributeReference("min_writer", IntegerType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val v = t.currentVersion
    val st = t.tableStats(v)
    val props = t.propertiesAt(v)
    val (minR, minW) = t.protocol
    Seq(Row("graft-txn", t.root, v, st.rowCount, st.sizeInBytes, st.nFiles,
      props.getOrElse("graft.clusterBy", null),
      props.getOrElse("graft.bloomBy", null),
      t.constraintsAt(v).size, minR, minW))
  }
}

/** CREATE TABLE dst CLONE src [VERSION AS OF n] — the zero-copy clone
  * (`TxnTable.cloneTo`): live files hard-link into the destination, the
  * new log re-adds them with recovered stats/schema/constraints/props.
  * The destination may be a path or a graft-catalog name that does not
  * exist yet; returns the cloned file count. */
case class GraftCloneCommand(dest: String, source: String,
    version: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_files", IntegerType)())
  override def run(session: SparkSession): Seq[Row] = {
    val src = TxnTable.at(session,
      GraftTableFunctions.rootOf(source, session))
    val cloned = src.cloneTo(
      GraftTableFunctions.rootOfNew(dest, session), version)
    Seq(Row(cloned.tableStats().nFiles))
  }
}

/** `COPY INTO t FROM '<dir>' [FILEFORMAT = PARQUET|CSV|JSON] [FORCE]` —
  * the idempotent batch-ingest statement (Delta's COPY INTO shape),
  * lowered onto the streaming sink's exactly-once primitive: each source
  * file appends under the ledger tag `copy:<canonical-path>`, so
  * re-running the SAME statement (operator retry, scheduler replay,
  * crash-recovery re-run) skips every already-ingested PATH as a
  * log-metadata no-op — a half-applied COPY resumes from where it
  * stopped, and a double-applied one changes nothing. Delta semantics:
  * an already-loaded path is NEVER re-ingested implicitly, even if the
  * file's content changed since (an in-place-appended log file would
  * otherwise silently duplicate its earlier rows); `FORCE` explicitly
  * re-loads every matched file as a fresh batch (the caller owns the
  * resulting duplication, exactly as Delta's force option does). The
  * directory is walked RECURSIVELY, so date-partitioned landing layouts
  * (`dt=.../part-*.parquet`) ingest in one statement. CSV/JSON read
  * under the TABLE's declared schema (no inference — a schema drift
  * fails loudly instead of committing differently-typed rows); PARQUET
  * brings its own. Returns (files loaded, files skipped, rows added).
  * Cost at 100 TB: one KB-scale commit per NEW file, never a rescan of
  * previously loaded data — the batch twin of the streaming ingest. */
case class GraftCopyIntoCommand(target: String, source: String,
    format: String, force: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("n_loaded", IntegerType)(),
    AttributeReference("n_skipped", IntegerType)(),
    AttributeReference("n_rows", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    require(Set("parquet", "csv", "json").contains(format),
      s"COPY INTO FILEFORMAT must be PARQUET, CSV or JSON, got $format")
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val sc = Some(t.currentVersion).filter(_ >= 0).flatMap(t.schemaAt)
    require(format == "parquet" || sc.isDefined,
      s"COPY INTO with FILEFORMAT=$format needs the table schema declared " +
        "(CSV/JSON never infer — create the table with its schema first)")
    val dir = Paths.get(source)
    require(Files.isDirectory(dir), s"COPY INTO source is not a directory: $source")
    val wanted: String => Boolean = format match {
      case "parquet" => _.endsWith(".parquet")
      case "csv" => _.endsWith(".csv")
      case "json" => n => n.endsWith(".json") || n.endsWith(".jsonl")
    }
    val files = {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector
        .filter(p => Files.isRegularFile(p) &&
          wanted(p.getFileName.toString)).sortBy(_.toString)
      finally s.close()
    }
    var loaded = 0; var skipped = 0
    val loadedVersions = Vector.newBuilder[Long]
    files.foreach { p =>
      val abs = p.toAbsolutePath.normalize.toString
      val tag = s"copy:$abs"
      // batch id 0 marks "this path is loaded"; a FORCE re-load claims
      // the next id so the ledger stays monotone per path
      val batch = if (force) t.lastCommitted(tag) + 1 else 0L
      if (!force && t.lastCommitted(tag) >= 0L) skipped += 1
      else {
        val reader = sc.fold(session.read)(session.read.schema(_))
        val df = format match {
          case "parquet" => reader.parquet(abs)
          case "csv" => reader.option("header", "true").csv(abs)
          case "json" => reader.json(abs)
        }
        val v = t.appendIdempotent(df, tag, batch)
        if (v >= 0) { loaded += 1; loadedVersions += v } else skipped += 1
      }
    }
    // row counts from the commit entries themselves (KB metadata — the
    // appends already counted exactly from parquet footers; no extra job)
    val lv = loadedVersions.result().toSet
    val rows = if (lv.isEmpty) 0L
      else t.history().collect()
        .filter(r => lv.contains(r.getLong(0))).map(_.getLong(2)).sum
    Seq(Row(loaded, skipped, rows))
  }
}

/** RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF — rollback as a NEW
  * commit onto `TxnTable.restore` (metadata-only when no DV intervenes;
  * refuses if a needed file was vacuumed). Returns the new tip version. */
case class GraftRestoreCommand(target: String, toVersion: Option[Long],
    toTimestamp: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, GraftTableFunctions.rootOf(target, session))
    val v = toVersion.getOrElse {
      val ts = toTimestamp.get
      val zone = java.time.ZoneId.of(
        session.sessionState.conf.sessionLocalTimeZone)
      t.versionAtTime(java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        .atZone(zone).toInstant.toEpochMilli)
    }
    Seq(Row(t.restore(v)))
  }
}
