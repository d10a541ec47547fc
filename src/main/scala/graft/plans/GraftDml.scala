package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId,
  Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  InsertAction, LogicalPlan, MergeAction, MergeIntoTable,
  OverwritePartitionsDynamic, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** SQL `UPDATE` and `MERGE INTO` through [[graft.sources.GraftCatalog]] —
  * the last two DML doors after INSERT (`V1_BATCH_WRITE`) and DELETE
  * (`SupportsDelete`).
  *
  * Spark's own group-based row-level framework
  * (`SupportsRowLevelOperations`) requires a full DataSourceV2 batch
  * writer; this engine's writer is [[TableSink]]'s staged-write/manifest
  * protocol, so instead the statements are intercepted the way Delta Lake
  * does it: a session-extension RESOLUTION rule replaces the analyzer's
  * fully-resolved `UpdateTable` / `MergeIntoTable` with runnable commands
  * that compute the final row set from the analyzer's own resolved plans
  * (attribute identity preserved — critical for MERGE, where target and
  * source may share column names) and commit through
  * [[TableSink.replaceAllRows]]'s guarded crash-safe swap.
  *
  * Installed via `spark.sql.extensions=graft.GraftExtensions` (session
  * build time — analyzer rules cannot be added to a live session).
  *
  * Deliberate refusals (precise errors, same philosophy as the DELETE
  * translator's `canDeleteWhere`): subqueries inside UPDATE/MERGE
  * predicates or values (materialize them into a source relation and use
  * MERGE), nested-field assignment, `MERGE ... WITH SCHEMA EVOLUTION`.
  * Tables the catalog exposes read-only (time travel, branch/tag loads,
  * hive-partitioned directories) never reach here — Spark refuses them
  * with its standard table-operation error.
  */
object GraftDml {

  /** The graft-writable table beneath optional aliases — `(plan, table)`
    * with the ALIASED plan kept intact so commands hand the analyzer's
    * exact resolved tree (exprIds included) back to execution. */
  private[graft] def graftTarget(
      plan: LogicalPlan): Option[(LogicalPlan, GraftWritableTable)] = {
    def table(p: LogicalPlan): Option[GraftWritableTable] = p match {
      case SubqueryAlias(_, child) => table(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftWritableTable => Some(t)
        case _ => None
      }
      case _ => None
    }
    table(plan).map(t => (plan, t))
  }

  /** An attribute rendered for SQL re-parsing (the scoped UPDATE route):
    * unqualified and ALWAYS backtick-quoted — `quoteIfNeeded` would
    * render a column named like a niladic function (`current_date`)
    * bare, and the re-parse would silently resolve the FUNCTION. */
  private[graft] final case class QuotedSqlAttr(a: AttributeReference)
      extends org.apache.spark.sql.catalyst.expressions.LeafExpression
      with org.apache.spark.sql.catalyst.expressions.Unevaluable {
    override def dataType: org.apache.spark.sql.types.DataType = a.dataType
    override def nullable: Boolean = a.nullable
    override def sql: String =
      org.apache.spark.sql.catalyst.util.quoteIdentifier(a.name)
  }

  /** An attribute rendered under a SYNTHESIZED flat physical name (the
    * MERGE mor route: target/source columns rename to `__gt_i`/`__gs_i`
    * before the join, so re-rendered expressions bind unambiguously
    * whatever the user's column names are). */
  private[graft] final case class FlatSqlAttr(flatName: String,
      dataType: org.apache.spark.sql.types.DataType,
      override val nullable: Boolean)
      extends org.apache.spark.sql.catalyst.expressions.LeafExpression
      with org.apache.spark.sql.catalyst.expressions.Unevaluable {
    override def sql: String =
      org.apache.spark.sql.catalyst.util.quoteIdentifier(flatName)
  }

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  private[graft] def refuseSubqueries(where: String,
      es: Iterable[Expression]): Unit =
    require(!es.exists(hasSubquery),
      s"graft SQL $where does not support subqueries in its predicates or " +
        "values — materialize the subquery as a source relation and use " +
        "MERGE INTO")

  /** Assignment keys must be direct columns; the map is exprId-keyed so
    * MERGE's same-named source columns can never be confused for them.
    * Duplicate assignments refuse (SQL semantics; Spark's own duplicate
    * check only runs for SupportsRowLevelOperations tables, and a silent
    * last-wins would diverge from [[TableSink.update]]'s refusal). */
  private[graft] def byTargetColumn(
      what: String, assignments: Seq[Assignment]): Map[ExprId, Expression] = {
    val keyed = assignments.map { a =>
      a.key match {
        case ar: AttributeReference => ar -> a.value
        case other => throw new UnsupportedOperationException(
          s"graft SQL $what cannot assign to nested field ${other.sql} — " +
            "rewrite the whole top-level column")
      }
    }
    val dups = keyed.groupBy(_._1.exprId).filter(_._2.sizeIs > 1)
    require(dups.isEmpty,
      s"graft SQL $what assigns a column more than once: " +
        dups.values.map(_.head._1.name).mkString(", "))
    keyed.map { case (ar, v) => ar.exprId -> v }.toMap
  }

  /** NULL action/WHERE conditions are false (SQL three-valued logic). */
  private[graft] def condColumn(e: Option[Expression]): Column =
    e.map(x => coalesce(Bridge.column(x), lit(false))).getOrElse(lit(true))
}

/** Analyzer resolution rule: fires only on fully-resolved UPDATE/MERGE
  * statements whose target is a [[GraftWritableTable]]; every other plan
  * passes through untouched (zero overhead on the non-DML path). Running
  * inside the resolution fixed-point means Spark's own row-level rewrite
  * (which would refuse the table) never sees the statement. */
final class GraftDmlRule extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(tbl, assignments, condition) if u.resolved =>
      graftTarget(tbl) match {
        case Some((target, t)) =>
          refuseSubqueries("UPDATE",
            condition.toSeq ++ assignments.map(_.value))
          GraftUpdateCommand(target, t.insertCfg, assignments, condition)
        case None => u
      }
    case o @ OverwritePartitionsDynamic(tbl, query, _, _, _) if o.resolved =>
      // SQL `INSERT OVERWRITE` in DYNAMIC partition-overwrite mode: the
      // plan has no V1 write fallback in Spark (its exec demands a true
      // DSv2 BATCH_WRITE), so instead of refusing at the capability
      // check it resolves into the library's own dynamic overwrite —
      // the same replace-exactly-the-landed-partitions commit the
      // PARTITION(...)/REPLACE WHERE routes build on (round-12; the
      // analyzer has already conformed `query`'s output to the table
      // schema, casts included)
      graftTarget(tbl) match {
        case Some((_, t)) =>
          GraftDynamicOverwriteCommand(t.insertCfg, query)
        case None => o
      }
    case m @ MergeIntoTable(tgt, src, cond, matched, notMatched, nmbs,
        withSchemaEvolution) if m.resolved =>
      graftTarget(tgt) match {
        case Some((target, t)) =>
          require(!withSchemaEvolution,
            "graft SQL MERGE does not support WITH SCHEMA EVOLUTION — " +
              "evolve the table first (appends with mergeSchema) and merge " +
              "against the evolved schema")
          val actions = matched ++ notMatched ++ nmbs
          refuseSubqueries("MERGE INTO", Seq(cond) ++
            actions.flatMap(_.condition) ++ actions.flatMap {
              case UpdateAction(_, as, _) => as.map(_.value)
              case InsertAction(_, as) => as.map(_.value)
              case _ => Nil
            })
          GraftMergeCommand(target, t.insertCfg, src, cond,
            matched, notMatched, nmbs)
        case None => m
      }
    case other => other
  }
}

/** SQL dynamic partition overwrite — [[TableSink.overwriteDynamic]]
  * behind `INSERT OVERWRITE` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`: exactly the
  * partitions the incoming rows land in are replaced (one
  * dynamic-overwrite write on plain identity-partitioned tables;
  * hidden transforms and clones take the guarded full-rewrite
  * equivalent — same result, documented cost). */
case class GraftDynamicOverwriteCommand(cfg: SinkConfig,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    new TableSink(cfg).overwriteDynamic(spark, Bridge.ofRows(spark, query))
    Seq.empty
  }
}

/** `UPDATE t SET c = v, ... [WHERE p]` — every row keeps its identity, so
  * the final row set is one Project over the resolved relation: assigned
  * columns become `IF(p, CAST(v), old)`, everything else passes through.
  * The rewrite is row-count-verified (`expectRows = total`) before the
  * destructive swap. */
case class GraftUpdateCommand(
    target: LogicalPlan,
    cfg: SinkConfig,
    assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafRunnableCommand {
  import GraftDml._

  override def run(spark: SparkSession): Seq[Row] = {
    val assigned = byTargetColumn("UPDATE", assignments)
    // PARTITION-SCOPED route: on an identity-partitioned table whose SET
    // touches no partition-deriving column, [[TableSink.update]] rewrites
    // ONLY the partitions containing matched rows (dynamic overwrite) —
    // O(touched partitions), not O(table). The resolved condition / SET
    // expressions re-render as SQL text and re-resolve against the
    // library read (same physical table, same column names; subqueries
    // are already refused upstream, so the rendering is total for every
    // expressible statement — a rendering the parser still rejects falls
    // back to the full-rewrite path below rather than failing the query).
    val partitionAffecting = cfg.partitionSpec
      .flatMap(p => Seq(p.source, p.columnName)).map(_.toLowerCase).toSet
    val setPairs = target.output.flatMap { attr =>
      assigned.get(attr.exprId).map(v => attr.name -> v)
    }
    // MERGE-ON-READ route (`spark.graft.sql.updateMode=mor`): ONE commit
    // position-deletes the matched rows and appends replacements —
    // O(matched rows), zero data files rewritten, history preserved
    // ([[TableSink.updateMor]]; the deleteMode=mor dual). Same
    // servability gate as DELETE's mor mode; a statement whose
    // re-rendered SQL fails to parse falls back to the copy-on-write
    // paths below (same total-rendering argument as the scoped route).
    val morMode = spark.conf.get("spark.graft.sql.updateMode", "cow")
      .equalsIgnoreCase("mor")
    if (morMode) {
      val sink = new TableSink(cfg)
      if (sink.morServable(needsHead = true)) {
        def bareMor(e: Expression): String = e.transform {
          case a: org.apache.spark.sql.catalyst.expressions
              .AttributeReference => GraftDml.QuotedSqlAttr(a)
        }.sql
        val rendered = scala.util.Try {
          val cSql = condition.map(bareMor).getOrElse("TRUE")
          val sSqls = setPairs.map { case (n, v) => n -> bareMor(v) }
          Bridge.parseExpression(spark, cSql)
          sSqls.foreach { case (_, s) => Bridge.parseExpression(spark, s) }
          (org.apache.spark.sql.functions.expr(cSql),
            sSqls.map { case (n, s) =>
              n -> org.apache.spark.sql.functions.expr(s) })
        }
        rendered.toOption.foreach { case (c, sets) =>
          sink.updateMor(spark, c, sets)
          return Seq.empty
        }
      }
    }
    val scoped = cfg.partitionSpec.nonEmpty &&
      setPairs.forall(p => !partitionAffecting(p._1.toLowerCase))
    if (scoped) {
      // attributes render UNQUALIFIED (`cat`, not `gdml.t.cat`) so the
      // text re-resolves against the library read's bare column names —
      // and ALWAYS backtick-quoted: quoteIfNeeded would render a column
      // named like a niladic function (current_date, current_timestamp)
      // bare, and the re-parse would resolve it as the FUNCTION,
      // silently updating with wrong values instead of the column
      def bare(e: Expression): String = e.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          GraftDml.QuotedSqlAttr(a)
      }.sql
      val rendered = scala.util.Try {
        val cSql = condition.map(bare).getOrElse("TRUE")
        val sSqls = setPairs.map { case (n, v) => n -> bare(v) }
        // functions.expr DEFERS parsing (Spark 4 ColumnNode) — validate
        // the renderings eagerly so an unparseable one falls back to the
        // full-rewrite path here instead of failing the statement later
        Bridge.parseExpression(spark, cSql)
        sSqls.foreach { case (_, s) => Bridge.parseExpression(spark, s) }
        (org.apache.spark.sql.functions.expr(cSql),
          sSqls.map { case (n, s) =>
            n -> org.apache.spark.sql.functions.expr(s) })
      }
      rendered.toOption.foreach { case (c, sets) =>
        new TableSink(cfg).update(spark, c, sets)
        return Seq.empty
      }
    }
    val df = Bridge.ofRows(spark, target)
    val cond = condColumn(condition)
    val totalRows = df.count()
    val finalCols = target.output.map { attr =>
      assigned.get(attr.exprId) match {
        case Some(v) => when(cond, Bridge.column(v).cast(attr.dataType))
          .otherwise(Bridge.column(attr)).as(attr.name)
        case None => Bridge.column(attr).as(attr.name)
      }
    }
    new TableSink(cfg).replaceAllRows(df.select(finalCols: _*),
      Some(totalRows), "UPDATE")
    Seq.empty
  }
}

/** `MERGE INTO target USING source ON cond WHEN ...` — the standard
  * single-pass full-outer-join evaluation:
  *
  *  - target rows carry a row id + presence marker, source rows a marker;
  *  - the join classifies every output row as MATCHED / NOT MATCHED
  *    (source-only) / NOT MATCHED BY SOURCE (target-only);
  *  - within each class the FIRST action whose condition holds fires
  *    (SQL cascade semantics), deciding survival (UPDATE/INSERT keep,
  *    DELETE drops, no-fire keeps matched and target-only rows and drops
  *    source-only rows) and each column's value;
  *  - the SQL-standard cardinality guard — a target row matched by more
  *    than one source row is an error when matched actions exist — is a
  *    window count over the row id INSIDE the same pass (`raise_error`),
  *    so the whole merge is one join + one write, no second
  *    table-sized job and no cross-job nondeterminism worries.
  *
  * Scale shape: one join (Catalyst/AQE pick the physical strategy the
  * full-outer shape allows), one window shuffle over the join output
  * (the cardinality guard when matched actions exist; first-copy-wins
  * dedup of multi-matched target rows otherwise), then the guarded
  * full-rewrite commit. The full rewrite is the
  * honest cost of arbitrary-condition MERGE on an immutable-file table;
  * keyed workloads that want partition-scoped commits use
  * [[TableSink.upsert]].
  */
case class GraftMergeCommand(
    target: LogicalPlan,
    cfg: SinkConfig,
    source: LogicalPlan,
    mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction]) extends LeafRunnableCommand {
  import GraftDml._

  override def run(spark: SparkSession): Seq[Row] = {
    morMerge(spark) match {
      case Some(done) => return done
      case None => () // ineligible or unrenderable: the COW paths below
    }
    val attrs = target.output
    val tMark = "__graft_merge_t__"
    val sMark = "__graft_merge_s__"
    val tid = "__graft_merge_tid__"
    val rid = "__graft_merge_rid__"
    val taken = (attrs.map(_.name) ++ source.output.map(_.name)).toSet
    val clash = Seq(tMark, sMark, tid, rid).filter(taken)
    require(clash.isEmpty,
      s"MERGE bookkeeping columns collide with ${clash.mkString(", ")} — " +
        "rename those columns first")

    val t = Bridge.ofRows(spark, target)
      .withColumn(tMark, lit(true))
      .withColumn(tid, monotonically_increasing_id())
    val s = Bridge.ofRows(spark, source).withColumn(sMark, lit(true))
    val j0 = t.join(s, Bridge.column(mergeCondition), "full_outer")
    // per-JOIN-ROW id: window keys below use coalesce(tid, -rid-1) so
    // source-only rows (tid NULL) each sit in their own window partition
    // instead of all hashing into one NULL-key task — an insert-heavy
    // merge would otherwise funnel the whole unmatched source through a
    // single straggler
    val j = j0.withColumn(rid, monotonically_increasing_id())
    val winKey = coalesce(col(tid), -col(rid) - 1)

    val isMatched = col(tMark).isNotNull && col(sMark).isNotNull
    val isSourceOnly = col(tMark).isNull

    // first-true-condition cascade: which action index fires (-1: none)
    def fireIdx(actions: Seq[MergeAction]): Column =
      actions.zipWithIndex.foldRight(lit(-1)) { case ((a, i), els) =>
        when(condColumn(a.condition), lit(i)).otherwise(els)
      }
    val fm = fireIdx(matchedActions)
    val fi = fireIdx(notMatchedActions)
    val fn = fireIdx(notMatchedBySourceActions)

    def assignedOf(a: MergeAction): Map[ExprId, Expression] = a match {
      case UpdateAction(_, as, _) => byTargetColumn("MERGE UPDATE", as)
      case InsertAction(_, as) => byTargetColumn("MERGE INSERT", as)
      case _: DeleteAction => Map.empty
      case other => throw new UnsupportedOperationException(
        s"MERGE action ${other.getClass.getSimpleName} survived analysis " +
          "unexpanded — not supported")
    }
    val matchedAssigned = matchedActions.map(assignedOf)
    val insertAssigned = notMatchedActions.map(assignedOf)
    val nmbsAssigned = notMatchedBySourceActions.map(assignedOf)

    // per-class survival: DELETE fire drops; matched / target-only rows
    // with no firing action persist unchanged; source-only rows exist only
    // if an INSERT fires
    def survives(actions: Seq[MergeAction], fire: Column,
        keepOnNoFire: Boolean): Column =
      actions.zipWithIndex.foldRight(lit(keepOnNoFire)) {
        case ((a, i), els) =>
          when(fire === i, lit(!a.isInstanceOf[DeleteAction])).otherwise(els)
      }
    val keep =
      when(isMatched, survives(matchedActions, fm, keepOnNoFire = true))
        .when(isSourceOnly,
          survives(notMatchedActions, fi, keepOnNoFire = false))
        .otherwise(
          survives(notMatchedBySourceActions, fn, keepOnNoFire = true))

    // Multi-matched target rows, evaluated inside the same pass:
    //  - with matched actions: the SQL-standard cardinality VIOLATION
    //    (an update/delete would apply ambiguously) — raise;
    //  - without matched actions (insert-only / NMBS-only merge): the
    //    matched target row passes through UNCHANGED and must survive
    //    exactly once, not once per join copy — keep only the first.
    val matchCopies = sum(when(col(sMark).isNotNull, 1L).otherwise(0L))
      .over(Window.partitionBy(winKey))
    val guardedKeep =
      if (matchedActions.isEmpty) {
        val copyNo = row_number()
          .over(Window.partitionBy(winKey).orderBy(col(rid)))
        when(isMatched, keep && copyNo === 1).otherwise(keep)
      } else {
        when(isMatched && matchCopies > 1L, raise_error(lit(
          "MERGE cardinality violation: a target row matched more than " +
            "one source row — deduplicate the source on the ON keys"))
          .cast("boolean"))
          .otherwise(keep)
      }

    def classValue(attr: AttributeReference, actions: Seq[MergeAction],
        assigned: Seq[Map[ExprId, Expression]], fire: Column,
        noFire: Column): Column =
      actions.indices.foldRight(noFire) { case (i, els) =>
        val v = assigned(i).get(attr.exprId) match {
          case Some(e) => Bridge.column(e).cast(attr.dataType)
          // an INSERT not mentioning the column fills NULL (SQL default);
          // UPDATE/DELETE without an assignment keeps the old value via
          // noFire's fallthrough shape below
          case None => actions(i) match {
            case _: InsertAction => lit(null).cast(attr.dataType)
            case _ => noFire
          }
        }
        when(fire === i, v).otherwise(els)
      }

    val finalCols = attrs.map { a =>
      val attr = a.asInstanceOf[AttributeReference]
      val old = Bridge.column(attr)
      when(isMatched,
        classValue(attr, matchedActions, matchedAssigned, fm, old))
        .when(isSourceOnly,
          classValue(attr, notMatchedActions, insertAssigned, fi,
            lit(null).cast(attr.dataType)))
        .otherwise(
          classValue(attr, notMatchedBySourceActions, nmbsAssigned, fn, old))
        .as(attr.name)
    }

    // PARTITION-SCOPED commit (round-11): on an identity-partitioned
    // table whose matched / not-matched-by-source actions never assign a
    // partition column (rows cannot move partitions; inserted rows may
    // SET one — that only decides where they land), the write rewrites
    // ONLY the partitions in which some action FIRED: update/delete
    // partitions (old value), surviving inserts' partitions (new value).
    // The join still computes the full final row set — the statement's
    // semantics need it — but the expensive term at scale, the
    // rewrite + swap, drops from O(table) to O(touched partitions).
    // A fired-but-dropped row (DELETE) still touches its partition, so
    // the partition flags ride BEFORE the keep filter.
    val partitionAffecting = cfg.partitionSpec
      .flatMap(p => Seq(p.source, p.columnName)).map(_.toLowerCase).toSet
    val identityPlain = cfg.partitionSpec.nonEmpty &&
      cfg.partitionSpec.forall(p =>
        p.transform == graft.Transform.Identity && p.explicitName.isEmpty)
    val assignsPartition =
      (matchedAssigned ++ nmbsAssigned).exists(_.keys.exists(id =>
        attrs.exists(a => a.exprId == id &&
          partitionAffecting(a.name.toLowerCase))))
    val keepFlag = tid // reuse the reserved bookkeeping name
    val firedFlag = rid
    if (identityPlain && !assignsPartition) {
      val actionFired =
        when(isMatched, fm =!= -1)
          .when(isSourceOnly, fi =!= -1)
          .otherwise(fn =!= -1)
      // a cardinality VIOLATION (multi-matched target row under matched
      // actions) counts as fired even when every action condition is
      // false: it forces its partition into the touched set, so the
      // write path evaluates guardedKeep and raises — the scoped route
      // must never let the all-conditions-false early return swallow a
      // violation the full-rewrite twin would surface (same window as
      // the guard, so the plan computes it once)
      val fired =
        if (matchedActions.isEmpty) actionFired
        else actionFired || (isMatched && matchCopies > 1L)
      val pCols = cfg.partitionSpec.map(_.source)
      val full = j.select(finalCols :+ guardedKeep.as(keepFlag)
        :+ fired.as(firedFlag): _*)
      val touchedVals = full.filter(col(firedFlag))
        .select(pCols.map(col): _*).distinct()
      val finalRows = full.filter(col(keepFlag)).drop(keepFlag, firedFlag)
      new TableSink(cfg).replacePartitionsScoped(finalRows, touchedVals,
        "MERGE")
      return Seq.empty
    }
    val finalRows = j.select(finalCols :+ guardedKeep.as(tid): _*)
      .filter(col(tid)).drop(tid)
    new TableSink(cfg).replaceAllRows(finalRows, None, "MERGE")
    Seq.empty
  }

  /** MERGE-ON-READ route (`spark.graft.sql.mergeMode=mor`): ONE commit
    * position-deletes the target rows an action fired on (update or
    * delete) and appends the survivors' new values plus the fired
    * inserts — O(changed rows) data IO, zero pre-existing files
    * rewritten, history preserved; untouched target rows are never
    * read-modified-written at all. The deletion vectors are `#dv`-referenced
    * INSIDE the claimed snapshot ([[TableSink.commitMorMutation]]), so
    * no reader window shows a row's old and new copies together.
    *
    * Binding: the analyzer's resolved expressions cannot evaluate
    * against the LIBRARY read (different exprIds), so every expression
    * re-renders over SYNTHESIZED flat column names — target columns
    * become `__gt_i`, source columns `__gs_i` — making the rendering
    * total and unambiguous for any user column names (a rendering that
    * still fails falls back to the copy-on-write paths, same contract
    * as the scoped UPDATE route). The target frame is the library head
    * read WITH physical coordinates, so the route also works while
    * earlier MoR sidecars are still pending. Semantics (cascade order,
    * NULL conditions, cardinality guard) mirror the COW twin and are
    * pinned to it by GraftDmlSpec's randomized parity property.
    *
    * Concurrency: the claim is single-attempt — the join is pinned to
    * the analysis-time snapshot, so losing the race to a concurrent
    * commit surfaces as a loud conflict (re-run the statement), never a
    * position list resolved against one head landing on another. */
  private def morMerge(spark: SparkSession): Option[Seq[Row]] = {
    if (!spark.conf.get("spark.graft.sql.mergeMode", "cow")
        .equalsIgnoreCase("mor")) return None
    val sink = new TableSink(cfg)
    if (!sink.morServable(needsHead = true)) return None
    // bookkeeping-name clash → the COW path (which refuses loudly)
    if (target.output.exists(a =>
        a.name.startsWith("__graft_merge_") || a.name == "__graft_file" ||
          a.name == "__graft_pos")) return None

    // ---- phase 1: PURE rendering; any failure → None (COW fallback)
    val flat: Map[ExprId, GraftDml.FlatSqlAttr] =
      (target.output.zipWithIndex.map { case (a, i) =>
        a.exprId -> GraftDml.FlatSqlAttr(s"__gt_$i", a.dataType, a.nullable)
      } ++ source.output.zipWithIndex.map { case (a, i) =>
        a.exprId -> GraftDml.FlatSqlAttr(s"__gs_$i", a.dataType, a.nullable)
      }).toMap
    case class Bound(fireCond: Column, isDelete: Boolean,
        isInsert: Boolean, assigned: Map[ExprId, Column])
    val rendered = scala.util.Try {
      def bindE(e: Expression): Column = {
        val r = e.transform {
          case a: AttributeReference if flat.contains(a.exprId) =>
            flat(a.exprId)
        }
        require(r.collectFirst { case a: AttributeReference => a }.isEmpty,
          "unmapped attribute in MERGE expression")
        val txt = r.sql
        Bridge.parseExpression(spark, txt) // eager parse-validation
        org.apache.spark.sql.functions.expr(txt)
      }
      def bindA(a: MergeAction): Bound = Bound(
        a.condition.map(c => coalesce(bindE(c), lit(false)))
          .getOrElse(lit(true)),
        a.isInstanceOf[DeleteAction], a.isInstanceOf[InsertAction],
        (a match {
          case UpdateAction(_, as, _) => byTargetColumn("MERGE UPDATE", as)
          case InsertAction(_, as) => byTargetColumn("MERGE INSERT", as)
          case _ => Map.empty[ExprId, Expression]
        }).map { case (id, v) => id -> bindE(v) })
      (bindE(mergeCondition), matchedActions.map(bindA),
        notMatchedActions.map(bindA), notMatchedBySourceActions.map(bindA))
    }
    val (joinCond, mActs, iActs, nActs) = rendered match {
      case scala.util.Success(r) => r
      case scala.util.Failure(_) => return None
    }

    // ---- phase 2: evaluate and commit (failures are real errors now)
    val lib = sink.readHeadWithPos(spark)
    def q(n: String): Column = col(s"`${n.replace("`", "``")}`")
    val tSel: Seq[Column] = target.output.zipWithIndex.map { case (a, i) =>
      val src = lib.columns.find(_.equalsIgnoreCase(a.name)).getOrElse(
        return None) // a target column the library read cannot see
      q(src).as(s"__gt_$i")
    } ++ Seq(col("__graft_file"), col("__graft_pos"))
    val tMark = "__graft_merge_t__"
    val sMark = "__graft_merge_s__"
    val tid = "__graft_merge_tid__"
    val rid = "__graft_merge_rid__"
    val keepFlag = "__graft_merge_keep__"
    val posFlag = "__graft_merge_pos__"
    val chgFlag = "__graft_merge_chg__"
    val t = lib.select(tSel: _*)
      .withColumn(tMark, lit(true))
      .withColumn(tid, monotonically_increasing_id())
    val s = Bridge.ofRows(spark, source)
      .toDF(source.output.indices.map(i => s"__gs_$i"): _*)
      .withColumn(sMark, lit(true))
    val j = t.join(s, joinCond, "full_outer")
      .withColumn(rid, monotonically_increasing_id())
    val winKey = coalesce(col(tid), -col(rid) - 1)
    val isMatched = col(tMark).isNotNull && col(sMark).isNotNull
    val isSourceOnly = col(tMark).isNull

    def fireIdx(acts: Seq[Bound]): Column =
      acts.zipWithIndex.foldRight(lit(-1)) { case ((a, i), els) =>
        when(a.fireCond, lit(i)).otherwise(els)
      }
    val fm = fireIdx(mActs)
    val fi = fireIdx(iActs)
    val fn = fireIdx(nActs)
    def survives(acts: Seq[Bound], fire: Column,
        keepOnNoFire: Boolean): Column =
      acts.zipWithIndex.foldRight(lit(keepOnNoFire)) { case ((a, i), els) =>
        when(fire === i, lit(!a.isDelete)).otherwise(els)
      }
    val keep =
      when(isMatched, survives(mActs, fm, keepOnNoFire = true))
        .when(isSourceOnly, survives(iActs, fi, keepOnNoFire = false))
        .otherwise(survives(nActs, fn, keepOnNoFire = true))
    val matchCopies = sum(when(col(sMark).isNotNull, 1L).otherwise(0L))
      .over(Window.partitionBy(winKey))
    // cardinality: multi-matched target rows raise under matched actions
    // (evaluated on every changed row — see the filter below); without
    // matched actions a matched row is untouched and stays physically
    // single, so the COW path's first-copy dedup has nothing to do here
    val guardedKeep =
      if (mActs.isEmpty) keep
      else when(isMatched && matchCopies > 1L, raise_error(lit(
        "MERGE cardinality violation: a target row matched more than " +
          "one source row — deduplicate the source on the ON keys"))
        .cast("boolean")).otherwise(keep)
    def classValue(attr: AttributeReference, acts: Seq[Bound],
        fire: Column, noFire: Column): Column =
      acts.indices.foldRight(noFire) { case (k, els) =>
        val v = acts(k).assigned.get(attr.exprId) match {
          case Some(c) => c.cast(attr.dataType)
          case None =>
            if (acts(k).isInsert) lit(null).cast(attr.dataType) else noFire
        }
        when(fire === k, v).otherwise(els)
      }
    val finalCols = target.output.zipWithIndex.map { case (a0, i) =>
      val attr = a0.asInstanceOf[AttributeReference]
      val old = col(s"__gt_$i")
      when(isMatched, classValue(attr, mActs, fm, old))
        .when(isSourceOnly, classValue(attr, iActs, fi,
          lit(null).cast(attr.dataType)))
        .otherwise(classValue(attr, nActs, fn, old))
        .as(attr.name)
    }
    val firedTarget =
      when(isMatched, fm =!= -1)
        .when(isSourceOnly, lit(false))
        .otherwise(fn =!= -1)
    val full = j.select(finalCols ++ Seq(
      guardedKeep.as(keepFlag), firedTarget.as(posFlag),
      (firedTarget || isSourceOnly).as(chgFlag),
      col("__graft_file"), col("__graft_pos")): _*)
    // the filter evaluates keepFlag on every row (a multi-matched
    // violation raises even when no action fired), and the checkpoint
    // pins positions and replacement values to ONE evaluation
    val changed = full
      .filter(col(posFlag) || (col(keepFlag) && col(chgFlag)))
      .localCheckpoint()
    if (changed.isEmpty) return Some(Seq.empty) // no-op: nothing fired
    val positions = changed.filter(col(posFlag))
      .select(col("__graft_file"), col("__graft_pos"))
    val replacement = changed.filter(col(keepFlag) && col(chgFlag))
      .select(target.output.map(a => q(a.name)): _*)
    try sink.commitMorMutation(spark, positions, Some(replacement))
    catch {
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(
            _.contains("lost the version race")) =>
        throw new IllegalStateException(
          "MERGE (merge-on-read) lost the snapshot claim to a " +
            "concurrent commit; the statement's join is pinned to its " +
            "analysis-time snapshot — re-run the MERGE against the new " +
            "head", e)
    }
    Some(Seq.empty)
  }
}
