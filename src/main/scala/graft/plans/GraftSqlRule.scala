package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.BooleanType
import graft.sources.{GraftTableV2, TxnTable}

/** The analysis rule that gives the `graft` catalog its FULL SQL surface
  * — the Delta-style architecture (DSv2 catalog resolves names, an
  * extension rule lowers the resolved operators onto the V1 execution
  * core):
  *
  *  - a read of a `GraftTableV2` becomes the native snapshot plan
  *    (`TxnTable.read` — the parquet scan with pruning/pushdown), with
  *    the relation's attribute ids preserved so every reference above
  *    keeps resolving;
  *  - `INSERT INTO` / `INSERT OVERWRITE` (`AppendData` /
  *    `OverwriteByExpression`) become commands over `append`/`overwrite`;
  *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` lower onto the table's
  *    transactional DML (`deleteWhere` / `update` / `merge`) — arbitrary
  *    conditions and assignment expressions, translated by column NAME
  *    (the snapshot re-resolves them against its own plan).
  *
  * Installed via `GraftExtensions` (`spark.sql.extensions=graft.GraftExtensions`)
  * or per-session through `graft.sources.GraftSql.session`. Registered
  * post-hoc: the plan is fully resolved, and lowering here (during
  * analysis) means the V2 capability checks and row-level-operation
  * rewrites never see these operators at all. */
case class GraftSqlRule(session: SparkSession) extends Rule[LogicalPlan] {

  /** A resolved graft-table relation, through any alias wrappers. */
  private object GraftRel {
    def unapply(plan: LogicalPlan): Option[(DataSourceV2Relation, GraftTableV2)] =
      plan match {
        case r @ DataSourceV2Relation(t: GraftTableV2, _, _, _, _, _) => Some((r, t))
        case SubqueryAlias(_, child) => unapply(child)
        case _ => None
      }
  }

  /** Resolved expression → Column that re-resolves by NAME against the
    * table's own snapshot frame (attribute ids from the SQL plan cannot
    * bind there; names can — the table is a flat relation). */
  private def byName(e: Expression): Column =
    Bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  private def requireWritable(t: GraftTableV2): GraftTableV2 = {
    require(t.pinnedVersion < 0,
      s"cannot modify a time-travel snapshot of ${t.name()}")
    t
  }

  /** Replace every graft relation in `plan` (subqueries included) with
    * the native snapshot plan, preserving output attribute ids. A V2
    * write node that reaches here un-lowered keeps its TARGET relation
    * intact (replacing a write's NamedRelation target with a read plan
    * corrupts the write); only its query side is rewritten. */
  private def rewriteReads(plan: LogicalPlan): LogicalPlan = plan match {
    case w: V2WriteCommand => w.withNewQuery(rewriteReadsInner(w.query))
    case other => rewriteReadsInner(other)
  }

  private def rewriteReadsInner(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      // METADATA-ONLY AGGREGATES: an unfiltered global `SELECT count(*)`
      // (and, when every live file carries complete stats and no
      // deletion vector is active, `min(col)`/`max(col)` on integral /
      // date / timestamp columns) over a graft table answers from the
      // commit log — live files' #rows stats minus still-applicable
      // deletion-vector rows, folded per-column [min, max]
      // (TxnTable.tableStats, exact after every DML commit) — so a
      // 100 TB row count or freshness watermark is a KB-scale metadata
      // fold on the driver, not a table scan. Grouping, filters,
      // DISTINCT, count(col) (null-sensitive), float/string extremes
      // (NaN / truncation semantics) and every other aggregate fall
      // through to the normal lowered scan, as does min/max the moment
      // a DV exists (a DV can delete the extreme row — bounds stop
      // being provably-attained values). Analysis-time evaluation pins
      // the snapshot exactly like the read lowering below does.
      case agg @ Aggregate(Nil, exprs, GraftRel(_, t), _)
          if exprs.nonEmpty &&
            exprs.forall(e => isCountStar(e) || minMaxOf(e).isDefined) =>
        metaAggregate(t, agg)
          .getOrElse(agg) // unchanged: the traversal lowers the scan below
      // a Filter DIRECTLY above a graft relation (the `SELECT ... WHERE`
      // shape after analysis) routes its prunable conjuncts into the
      // commit-log FILE skipping (stats/bloom/null prune) — the snapshot
      // plans only the surviving files, and the untouched Filter above
      // re-applies the exact predicate, so an unextractable or
      // unstatted conjunct costs pruning, never rows. This is what makes
      // a typed point/range query pay the same 1-of-N planning cost as
      // the native readRange/readWhereEq/readWhereIn APIs.
      case Filter(cond, GraftRel(r, t)) =>
        Filter(cond, readPlan(r, t, skipPredsOf(cond, r)))
      case r @ DataSourceV2Relation(t: GraftTableV2, _, _, _, _, _) => readPlan(r, t)
    }

  /** `count(*)` / `count(1)` — non-distinct, unfiltered, all-literal
    * non-null arguments: the aggregates whose global value is exactly
    * the table's row count. */
  private def isCountStar(ne: org.apache.spark.sql.catalyst.expressions.NamedExpression)
      : Boolean = ne match {
    case Alias(ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression, _) =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count =>
          c.children.nonEmpty && c.children.forall(e =>
            e.foldable && e.deterministic &&
              scala.util.Try(e.eval(null)).toOption.exists(_ != null))
        case _ => false
      })
    case _ => false
  }

  /** `min(col)` / `max(col)` on a type whose commit-log stats are EXACT
    * attained values (parquet footer min/max are exact for these; string
    * stats truncate and float stats have NaN semantics — excluded). */
  private def minMaxOf(ne: org.apache.spark.sql.catalyst.expressions.NamedExpression)
      : Option[(Boolean, String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType) = dt == IntegerType || dt == LongType ||
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    ne match {
      case Alias(ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression, _)
          if ae.filter.isEmpty =>
        // DISTINCT is irrelevant to an extreme — accepted either way
        ae.aggregateFunction match {
          case org.apache.spark.sql.catalyst.expressions.aggregate.Min(a: AttributeReference)
              if ok(a.dataType) => Some((true, a.name, a.dataType))
          case org.apache.spark.sql.catalyst.expressions.aggregate.Max(a: AttributeReference)
              if ok(a.dataType) => Some((false, a.name, a.dataType))
          case _ => None
        }
      case _ => None
    }
  }

  /** The one-row LocalRelation answering `agg` from log metadata at the
    * relation's (possibly pinned) version, or None when the fold cannot
    * prove every value (no committed version, a min/max column without
    * complete stats in every live file, any active DV) — the normal
    * scan answers then. An EMPTY table answers count 0 / extremes NULL
    * without touching stats completeness at all. */
  private def metaAggregate(t: GraftTableV2, agg: Aggregate)
      : Option[LogicalPlan] =
    scala.util.Try {
      val table = TxnTable.at(session, t.root)
      val v = if (t.pinnedVersion >= 0) t.pinnedVersion
              else table.currentVersion
      if (v < 0) None
      else {
        val st = table.tableStats(v)
        lazy val dvFree = !table.hasDeletionVectors(v)
        val vals: Seq[Option[Any]] = agg.aggregateExpressions.map { ne =>
          if (isCountStar(ne)) Some(st.rowCount)
          else minMaxOf(ne).flatMap { case (isMin, name, dt) =>
            if (st.rowCount == 0L) Some(null) // SQL extreme of no rows
            else if (!dvFree) None
            else st.colMinMax.get(name).map { case (lo, hi) =>
              internalOf(if (isMin) lo else hi, dt) }
          }
        }
        if (vals.forall(_.isDefined))
          Some(LocalRelation(agg.output,
            Seq(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
              vals.map(_.get)))))
        else None
      }
    }.toOption.flatten

  /** A stats-space BigDecimal back to the column's INTERNAL value. */
  private def internalOf(bd: BigDecimal,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType | DateType => bd.toIntExact
      case LongType | TimestampType | TimestampNTZType => bd.toLongExact
      case other => throw new IllegalStateException(s"unexpected $other")
    }
  }

  /** The planning-time skip predicates extractable from `cond` — the
    * shared extractor (`sources.SkipExtract`) with the resolved-plan
    * attribute strategy: bare relation attributes, exact widening
    * coercion casts seen through, foldable literal sides evaluated. */
  private def skipPredsOf(cond: Expression,
      r: DataSourceV2Relation): Seq[TxnTable.SkipPred] =
    graft.sources.SkipExtract.preds(cond,
      graft.sources.SkipExtract.resolvedAttr(r.outputSet))

  private def readPlan(r: DataSourceV2Relation, t: GraftTableV2,
      preds: Seq[TxnTable.SkipPred] = Nil): LogicalPlan = {
    val inner = (if (preds.isEmpty) t.readDf(session)
                 else t.readDfPruned(session, preds))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed
    val byN = inner.output.map(a => a.name -> a).toMap
    Project(r.output.map { out =>
      val in = byN.getOrElse(out.name, throw new IllegalStateException(
        s"graft-txn: column ${out.name} missing from the snapshot of ${t.name()}"))
      Alias(in, out.name)(exprId = out.exprId, qualifier = out.qualifier)
    }, inner)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val lowered = plan match {
      case a @ AppendData(GraftRel(_, t), query, _, _, _, _) if query.resolved =>
        GraftInsertCommand(requireWritable(t).root, rewriteReads(query),
          overwrite = false)
      case OverwriteByExpression(GraftRel(_, t), Literal(true, BooleanType),
          query, _, _, _, _) if query.resolved =>
        GraftInsertCommand(requireWritable(t).root, rewriteReads(query),
          overwrite = true)
      // refuse the V2 write shapes this rule does not lower, LOUDLY — the
      // fall-through read rewrite would otherwise replace the write's
      // target relation and leave a corrupt plan for the planner to trip on
      case OverwriteByExpression(GraftRel(_, t), _, _, _, _, _, _) =>
        throw new UnsupportedOperationException(
          s"graft-txn: INSERT INTO ... REPLACE WHERE is not supported for " +
            s"${t.name()}; use DELETE FROM + INSERT INTO, or INSERT " +
            "OVERWRITE for full replacement")
      case o: OverwritePartitionsDynamic if graftTarget(o.table).isDefined =>
        throw new UnsupportedOperationException(
          "graft-txn: dynamic partition overwrite is not supported — " +
            "tables are unpartitioned (layout comes from clustered OPTIMIZE)")
      case DeleteFromTable(GraftRel(_, t), cond) if cond.resolved =>
        GraftDeleteCommand(requireWritable(t).root, byName(cond))
      case u @ UpdateTable(GraftRel(_, t), assignments, cond) if u.resolved =>
        val set = assignments.map { a =>
          a.key match {
            case ar: AttributeReference => ar.name -> byName(a.value)
            case other => throw new UnsupportedOperationException(
              s"graft-txn UPDATE supports top-level columns only, got $other")
          }
        }.toMap
        GraftUpdateCommand(requireWritable(t).root, set,
          cond.map(byName).getOrElse(lit(true)))
      case m: MergeIntoTable if m.resolved => lowerMerge(m).getOrElse(plan)
      // ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): Spark parses it
      // into a dedicated plan whose exec path requires a DSv2 scan for
      // validation — lower it onto addConstraint, whose add-time
      // validation runs through the native snapshot read instead
      case a: AddCheckConstraint =>
        graftTarget(a.child) match {
          case Some(t) =>
            GraftAddConstraintCommand(requireWritable(t).root,
              a.checkConstraint.name, a.checkConstraint.condition)
          case None => plan
        }
      case _ => plan
    }
    if (lowered ne plan) lowered else rewriteReads(plan)
  }

  /** The graft table a DDL target resolves to — the relation may sit
    * under wrappers (AddCheckConstraint's child is the whole violation-
    * scan query: Filter over alias over relation). */
  private def graftTarget(p: LogicalPlan): Option[GraftTableV2] =
    p.collectFirst {
      case DataSourceV2Relation(t: GraftTableV2, _, _, _, _, _) => t
      case r: org.apache.spark.sql.catalyst.analysis.ResolvedTable
          if r.table.isInstanceOf[GraftTableV2] =>
        r.table.asInstanceOf[GraftTableV2]
    }

  /** MERGE INTO, two lowerings behind one seam:
    *
    *  - the CANONICAL UPSERT (equi-key ON, one unconditional
    *    `WHEN MATCHED THEN UPDATE` + one unconditional `WHEN NOT MATCHED
    *    THEN INSERT` whose assignments agree, cover every target column
    *    and draw only on the source — SET * / INSERT * after star
    *    expansion) lowers onto `TxnTable.merge`, the key-replace
    *    action of the one MERGE core;
    *  - EVERYTHING ELSE — conditional clauses, explicit SET lists,
    *    matched DELETE, conditional inserts, NOT MATCHED BY SOURCE —
    *    lowers onto `TxnTable.mergeWhen`: each clause's condition and
    *    assignment expressions are rewritten into the two struct scopes
    *    (`t.`/`s.`-qualified SQL) mergeWhen evaluates, so the catalog
    *    front door carries the same full clause surface as the path
    *    parser. Only genuinely unliftable shapes (a non-equi ON
    *    conjunct, a nested assignment target) are rejected loudly. */
  private def lowerMerge(m: MergeIntoTable): Option[LogicalPlan] = m.targetTable match {
    case GraftRel(r, t) =>
      requireWritable(t)
      Some(lowerUpsertAll(m, r, t).getOrElse(lowerMergeClauses(m, r, t)))
    case _ => None
  }

  private def lowerUpsertAll(m: MergeIntoTable, r: DataSourceV2Relation,
      t: GraftTableV2): Option[LogicalPlan] = {
    if (m.notMatchedBySourceActions.nonEmpty) return None
    val upd = m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) => as
      case _ => return None
    }
    val ins = m.notMatchedActions match {
      case Seq(InsertAction(None, as)) => as
      case _ => return None
    }
    val sourceOut = m.sourceTable.outputSet
    val targetOut = r.outputSet
    def assignmentsOf(as: Seq[Assignment]): Option[Map[String, Expression]] =
      Some(as.map { a =>
        a.key match {
          case ar: AttributeReference =>
            if (!a.value.references.subsetOf(sourceOut)) return None
            ar.name -> a.value
          case _ => return None
        }
      }.toMap)
    val (updM, insM) = (assignmentsOf(upd), assignmentsOf(ins)) match {
      case (Some(u), Some(i)) => (u, i)
      case _ => return None
    }
    val targetCols = r.output.map(_.name)
    targetCols.foreach { c =>
      if (!insM.contains(c)) return None
      if (!updM.get(c).exists(_.semanticEquals(insM(c)))) return None
    }
    // equi-key extraction: every ON conjunct must be target-attr =
    // source-expr (either orientation), and the source side must be
    // what the assignments write into that key column — otherwise the
    // join keys and the upserted values would disagree
    val keyCols = mergeConjuncts(m.mergeCondition).map {
      case EqualTo(l: AttributeReference, rhs)
          if targetOut.contains(l) && rhs.references.subsetOf(sourceOut) &&
            insM.get(l.name).exists(_.semanticEquals(rhs)) =>
        l.name
      case EqualTo(lhs, rr: AttributeReference)
          if targetOut.contains(rr) && lhs.references.subsetOf(sourceOut) &&
            insM.get(rr.name).exists(_.semanticEquals(lhs)) =>
        rr.name
      case _ => return None
    }
    if (keyCols.isEmpty) return None
    // the update frame: the source projected to the target's columns
    val projected = Project(r.output.map(_.name).map(c =>
      Alias(insM(c), c)()), rewriteReads(m.sourceTable))
    Some(GraftMergeCommand(t.root, projected, keyCols))
  }

  private def mergeConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, rr) =>
      mergeConjuncts(l) ++ mergeConjuncts(rr)
    case other => Seq(other)
  }

  /** The general WHEN-clause lowering onto `mergeWhen`: resolved
    * expressions become `t.`/`s.`-scoped SQL strings (attribute ids →
    * the struct fields mergeWhen builds), clause order preserved. An
    * INSERT assignment that arrived as NULL padding (what the analyzer
    * inserts for columns missing from an explicit insert list) is marked
    * so the command can drop it for ENGINE-OWNED columns at run time —
    * the same discipline as GraftInsertCommand, without silently
    * swallowing a user's real NULL on an ordinary column. */
  private def lowerMergeClauses(m: MergeIntoTable, r: DataSourceV2Relation,
      t: GraftTableV2): LogicalPlan = {
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft-txn MERGE INTO cannot express: $why (supported: equi-key " +
          "ON t.k = s.k conjunctions with UPDATE/DELETE/INSERT clauses, " +
          "conditional or not, plus NOT MATCHED BY SOURCE)")
    val sourceOut = m.sourceTable.outputSet
    val targetOut = r.outputSet
    def scoped(e: Expression): String = e.transform {
      case a: AttributeReference if targetOut.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sourceOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    }.sql
    def setsOf(as: Seq[Assignment]): Seq[(String, String)] = as.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> scoped(a.value)
        case other => unsupported(s"nested assignment target $other")
      }
    }
    def isNullPad(e: Expression): Boolean =
      e.foldable && e.deterministic && (scala.util.Try(e.eval(null)) match {
        case scala.util.Success(null) => true
        case _ => false
      })
    val keyCols = mergeConjuncts(m.mergeCondition).map {
      case EqualTo(l: AttributeReference, rr: AttributeReference)
          if targetOut.contains(l) && sourceOut.contains(rr) &&
            l.name.equalsIgnoreCase(rr.name) => l.name
      case EqualTo(l: AttributeReference, rr: AttributeReference)
          if targetOut.contains(rr) && sourceOut.contains(l) &&
            l.name.equalsIgnoreCase(rr.name) => rr.name
      case other => unsupported(s"ON conjunct $other — the native merge " +
        "keys on same-named target/source columns")
    }
    if (keyCols.isEmpty) unsupported("no equi-key in the ON condition")
    val matchedClauses = m.matchedActions.map {
      case UpdateAction(cond, as, _) =>
        graft.sources.MergeClause.Update(cond.map(scoped), Some(setsOf(as)))
      case DeleteAction(cond) =>
        graft.sources.MergeClause.Delete(cond.map(scoped))
      case other => unsupported(s"matched action $other")
    }
    // (clause index among not-matched inserts, column) pairs that are
    // analyzer NULL padding — drop for engine-owned columns at run time
    val padded = Seq.newBuilder[(Int, String)]
    val insertClauses = m.notMatchedActions.zipWithIndex.map {
      case (InsertAction(cond, as), i) =>
        as.foreach { a =>
          a.key match {
            case ar: AttributeReference if isNullPad(a.value) =>
              padded += ((i, ar.name))
            case _ => ()
          }
        }
        graft.sources.MergeClause.Insert(cond.map(scoped), Some(setsOf(as)))
      case (other, _) => unsupported(s"not-matched action $other")
    }
    val bySourceClauses = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, as, _) =>
        graft.sources.MergeClause.UpdateBySource(cond.map(scoped), setsOf(as))
      case DeleteAction(cond) =>
        graft.sources.MergeClause.DeleteBySource(cond.map(scoped))
      case other => unsupported(s"not-matched-by-source action $other")
    }
    GraftMergeWhenCommand(t.root, rewriteReads(m.sourceTable), keyCols,
      matchedClauses ++ insertClauses ++ bySourceClauses,
      padded.result())
  }
}

/** INSERT INTO / INSERT OVERWRITE lowered onto the commit protocol.
  * ENGINE-OWNED columns (GENERATED ALWAYS AS expr / IDENTITY) that
  * arrive as NULL-literal padding — what Spark's default-column
  * resolution inserts for columns missing from `INSERT INTO t (cols)` —
  * are dropped so the write computes them; a column the user assigned a
  * REAL expression passes through and is refused loudly by the write
  * path (GENERATED ALWAYS means the engine owns the value). */
case class GraftInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, root)
    val owned = t.properties.keys.collect {
      case k if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.")
      case k if k.startsWith("graft.identity.") &&
          !k.startsWith("graft.identityHw.") =>
        k.stripPrefix("graft.identity.")
    }.toSet
    val padded: Seq[String] =
      if (owned.isEmpty) Nil
      else query match {
        case Project(exprs, _) => exprs.collect {
          // ONLY a provably-NULL literal is padding: an expression that
          // THROWS at eval (e.g. 1/0 under ANSI) must fall through to the
          // write path's loud refusal, not be silently dropped as if the
          // user never wrote it — so match Success(null) explicitly
          case Alias(e, name) if owned(name) && e.foldable &&
              e.deterministic && (scala.util.Try(e.eval(null)) match {
                case scala.util.Success(null) => true
                case _ => false
              }) => name
        }
        case _ => Nil
      }
    val df0 = Bridge.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], query)
    val df = if (padded.isEmpty) df0 else df0.drop(padded: _*)
    if (overwrite) t.overwrite(df) else t.append(df)
    Nil
  }
}

/** DELETE FROM lowered onto `deleteWhere` (copy-on-write). */
case class GraftDeleteCommand(root: String, cond: Column)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    TxnTable.at(session, root).deleteWhere(cond)
    Nil
  }
}

/** UPDATE ... SET lowered onto the native `update` DML. */
case class GraftUpdateCommand(root: String, set: Map[String, Column],
    cond: Column) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    TxnTable.at(session, root).update(set, cond)
    Nil
  }
}

/** ALTER TABLE ADD CONSTRAINT ... CHECK lowered onto `addConstraint`
  * (which validates existing data through the native snapshot read). */
case class GraftAddConstraintCommand(root: String, name: String,
    conditionSql: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    TxnTable.at(session, root).addConstraint(name, conditionSql)
    Nil
  }
}

/** MERGE INTO lowered onto the file-granular `merge`. */
case class GraftMergeCommand(root: String, updates: LogicalPlan,
    keyCols: Seq[String]) extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(updates)
  override def run(session: SparkSession): Seq[Row] = {
    val df = Bridge.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], updates)
    TxnTable.at(session, root).merge(df, keyCols)
    Nil
  }
}

/** The general WHEN-clause MERGE on a catalog table, lowered onto
  * `TxnTable.mergeWhen` with the fixed `t`/`s` scopes the rule rewrote
  * the clause expressions into. `nullPadded` marks INSERT assignments
  * that arrived as analyzer NULL padding (columns missing from an
  * explicit insert list) — dropped here for ENGINE-OWNED columns so the
  * engine computes them, while a user's real NULL on an ordinary column
  * passes through untouched. */
case class GraftMergeWhenCommand(root: String, source: LogicalPlan,
    keyCols: Seq[String], clauses: Seq[graft.sources.MergeClause],
    nullPadded: Seq[(Int, String)]) extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxnTable.at(session, root)
    val owned = t.properties.keys.collect {
      case k if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.")
      case k if k.startsWith("graft.identity.") &&
          !k.startsWith("graft.identityHw.") =>
        k.stripPrefix("graft.identity.")
    }.toSet
    val pad = nullPadded.toSet
    var ii = -1
    val cleaned = clauses.map {
      case ins: graft.sources.MergeClause.Insert =>
        ii += 1
        val i = ii
        ins.copy(values = ins.values.map(_.filterNot {
          case (c, _) => owned(c) && pad((i, c))
        }))
      case c => c
    }
    val df = Bridge.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], source)
    t.mergeWhen(df, keyCols, cleaned)
    Nil
  }
}
