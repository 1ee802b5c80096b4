/*
 * SQL DML lowering for the graftlog table format: MERGE INTO /
 * UPDATE / DELETE statements over a graftlog DSv2 relation are
 * rewritten at the end of analysis into eager commands that execute
 * through TableLog's ONE DML core (applyDml → morApply — the same
 * core mergeMor uses), so SQL mutations and
 * the programmatic API can never drift. Delta ships the same trio as
 * its headline mutation surface; Spark's own row-level-operation
 * rewrites require SupportsRowLevelOperations group/delta plumbing
 * the V1-shim connector doesn't carry, hence this rule (the
 * Delta-style lowering: analyzer rule → runnable command).
 *
 * Lives under org.apache.spark.sql.* for the classic Dataset.ofRows
 * bridge (private[sql]) — same as ../graftx/bridge.scala.
 *
 * Contract (documented on the q92/q97 surfaces): the table is
 * PRIMARY-KEYED — the relation's `primaryKey` option (a single
 * column or a comma-separated COMPOSITE key; components BIGINT or
 * STRING), defaulting to the first long-typed column. DELETE/UPDATE
 * suppress the old images of every row the predicate hits and land
 * post-update rows in new files; MERGE accepts ARBITRARY ON
 * predicates (Delta's contract — matched keys derive from the join
 * probe) and applies Delta's clause semantics:
 * first-satisfied-action-wins within each group, a cardinality error
 * when several source rows act on one target row, and duplicate-key
 * guards on the insert set — inserts additionally probe the snapshot
 * for key existence whenever the ON condition is anything weaker
 * than the full key equality. Physical shape at 100 TB: the
 * statement's matched/changed set is churn-sized; sparse hits on a
 * single-column key ride deletion vectors (string keys as portable
 * rolling hashes), dense files and composite-key hits rewrite
 * exactly the hit files, inserts only append — never a whole-table
 * rewrite.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType}

/** Scalars the lowered command needs from the relation (extracted at
  * rule time so commands hold no connector objects): table root, the
  * primary-key column LIST (a single long/string column may ride
  * deletion vectors — string keys as portable rolling hashes;
  * composite keys rewrite their hit files), and the write knobs the
  * relation's options can override
  * (`layout`, `numFiles`, `dvMaxFrac` — defaults mirror the SQL
  * INSERT surface).
  */
case class GraftDmlTarget(root: String, keyCols: Seq[String],
                          layoutSql: Option[String], numFiles: Int,
                          dvMaxFrac: Double) {
  def keyDesc: String = keyCols.mkString(", ")
}

object GraftDmlRule extends Rule[LogicalPlan] {

  /** The writable graftlog relation under the DML target's view
    * wrappers, or None when the statement targets something else
    * (leave it for Spark's own row-level machinery / error).
    */
  private def relationOf(p: LogicalPlan): Option[(DataSourceV2Relation, Boolean)] =
    p match {
      case s: SubqueryAlias => relationOf(s.child)
      case v: View          => relationOf(v.child)
      case r: DataSourceV2Relation =>
        graft.sources.GraftLogProvider.TableInfo.unapply(r.table)
          .map { case (_, _, tt) => (r, tt) }
      case _ => None
    }

  private def targetOf(p: LogicalPlan, what: String): Option[GraftDmlTarget] =
    relationOf(p).map { case (r, timeTraveled) =>
      // Delta's rule: a versionAsOf/timestampAsOf relation is a
      // snapshot view; mutating "it" would silently retarget the head
      require(!timeTraveled,
        s"graftlog: cannot $what a time-traveled relation (${r.table.name()})")
      val o = r.options
      // resolution order for every write knob: per-statement relation
      // OPTION, then the table's persisted TBLPROPERTIES (R105 — the
      // declared-once form a catalog table carries), then the default
      def knob(name: String): Option[String] = Option(o.get(name)).orElse {
        // property keys match case-insensitively, like the option map
        import scala.jdk.CollectionConverters._
        r.table.properties().asScala.collectFirst {
          case (k, v) if k.equalsIgnoreCase(name) => v }
      }
      // `primaryKey` may be a comma-separated COMPOSITE key; default
      // stays the first long-typed column. Components must be BIGINT
      // or STRING — the shapes the key prune and the deletion
      // vector (long or string hash) address exactly.
      val keyCols: Seq[String] = knob("primaryKey")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .orElse(r.schema.fields.find(_.dataType == LongType)
          .map(f => Seq(f.name)))
        .getOrElse(throw new IllegalArgumentException(
          s"graftlog $what needs a primary key: no long-typed column in " +
            s"${r.schema.toDDL} and no primaryKey option"))
      require(keyCols.nonEmpty, s"graftlog $what: empty primaryKey option")
      require(keyCols.map(_.toLowerCase).distinct.size == keyCols.size,
        s"graftlog $what: duplicate primaryKey components in $keyCols")
      keyCols.foreach { k =>
        val f = r.schema.fields.find(_.name.equalsIgnoreCase(k))
          .getOrElse(throw new IllegalArgumentException(
            s"graftlog $what: primaryKey column '$k' not in ${r.schema.toDDL}"))
        require(f.dataType == LongType ||
            f.dataType == org.apache.spark.sql.types.StringType,
          s"graftlog $what: primaryKey component '$k' must be BIGINT or " +
            s"STRING, got ${f.dataType.sql}")
      }
      GraftDmlTarget(graft.sources.GraftLogProvider.TableInfo
          .unapply(r.table).get._1,
        keyCols, knob("layout"),
        knob("numFiles").map(_.toInt).getOrElse(8),
        knob("dvMaxFrac").map(_.toDouble).getOrElse(0.10))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d @ DeleteFromTable(target, cond) if d.resolved =>
      targetOf(target, "DELETE FROM").map(ctx =>
        GraftDeleteCommand(ctx, target, cond)).getOrElse(d)
    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      targetOf(target, "UPDATE").map(ctx =>
        GraftUpdateCommand(ctx, target, assignments, cond)).getOrElse(u)
    case m @ MergeIntoTable(target, source, cond, ma, nma, nmbsa, _)
        if m.resolved =>
      // `WITH SCHEMA EVOLUTION` needs no handling HERE: Spark 4's
      // ResolveMergeIntoSchemaEvolution has already accreted the
      // source's new columns through TableCatalog.alterTable (→ the
      // R75 metadata-only addColumn commit) and re-resolved the
      // target relation under the widened schema — so by this rule
      // the stars expand over the new columns and old rows null-fill
      // through the ordinary evolution read path. Path-mounted views
      // carry no catalog, so evolution cannot resolve there and the
      // star guard below stays loud.
      targetOf(target, "MERGE INTO").map(ctx =>
        GraftMergeCommand(ctx, target, source, cond, ma, nma, nmbsa))
        .getOrElse(m)
  }
}

/** Shared lowering helpers: logical-plan composition only — every
  * expression stays the analyzer-resolved original (exprId-bound to
  * the captured target/source plans), so there is no re-resolution to
  * drift.
  */
private[graftx] object GraftDml {
  import org.apache.spark.sql.classic.{Dataset, SparkSession => CSession}

  def df(spark: SparkSession, p: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[CSession], p)

  /** Re-pin every graftlog relation of `root` inside the captured
    * target plan to the CURRENT head (per-statement resolution —
    * [[graft.sources.GraftLogProvider.headTable]]): the view pinned a
    * snapshot at load, but consecutive DML statements must each see
    * the previous one's result. Output attributes are untouched, so
    * every analyzer-resolved expression keeps binding.
    */
  def fresh(target: LogicalPlan, root: String): LogicalPlan =
    target.transform {
      case r: DataSourceV2Relation
          if graft.sources.GraftLogProvider.TableInfo.unapply(r.table)
            .exists(_._1 == root) =>
        r.copy(table = graft.sources.GraftLogProvider
          .headTable(root, r.table.schema()))
    }

  def keyAttr(target: LogicalPlan, keyCol: String): Attribute =
    target.output.find(_.name.equalsIgnoreCase(keyCol)).getOrElse(
      throw new IllegalArgumentException(
        s"graftlog DML: key column '$keyCol' not in ${target.output.map(_.name)}"))

  def keyAttrs(target: LogicalPlan, keyCols: Seq[String]): Seq[Attribute] =
    keyCols.map(keyAttr(target, _))

  /** Default layout when the relation sets none: the first LONG key
    * component; a string-only key clusters by its portable rolling
    * hash (ANSI would throw casting a non-numeric string to long in
    * the slot arithmetic).
    */
  def layoutCol(ctx: GraftDmlTarget, target: LogicalPlan): org.apache.spark.sql.Column =
    ctx.layoutSql.map(expr).getOrElse {
      keyAttrs(target, ctx.keyCols).find(_.dataType == LongType) match {
        case Some(a) => col(a.name)
        case None => GraftExpressions.rolling_hash(col(ctx.keyCols.head))
      }
    }

  /** ONE suppress/upsert write for every key shape: the statement's
    * retired keys and landed rows go to TableLog.applyDml, the one DML
    * core (single-column keys may ride deletion vectors, string keys
    * through the portable rolling hash the string blooms already use;
    * composite keys rewrite their hit files).
    */
  def route(spark: SparkSession, ctx: GraftDmlTarget, target: LogicalPlan,
            suppress: org.apache.spark.sql.DataFrame,
            upserts: org.apache.spark.sql.DataFrame, action: String): Unit =
    graft.sources.TableLog.applyDml(spark, ctx.root, suppress, upserts,
      ctx.keyCols, layoutCol(ctx, target), ctx.numFiles, ctx.dvMaxFrac,
      action = action)

  private def castTo(e: Expression, dt: DataType): Expression =
    if (e.dataType == dt) e else Cast(e, dt)

  private def topName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _                     => None
  }

  /** Project `attrs` (the table schema) with `assignments` applied by
    * name; unassigned columns keep their current value (UPDATE) or
    * NULL-fill (INSERT, `insertNulls=true` — SQL's unlisted-column
    * rule). Nested-field assignments are rejected loudly.
    */
  def aligned(attrs: Seq[Attribute], assignments: Seq[Assignment],
              insertNulls: Boolean): Seq[NamedExpression] = {
    assignments.foreach { a =>
      require(topName(a.key).isDefined,
        s"graftlog DML supports top-level column assignments only, got ${a.key.sql}")
    }
    attrs.map { at =>
      assignments.find(a => topName(a.key).exists(_.equalsIgnoreCase(at.name))) match {
        case Some(a) => Alias(castTo(a.value, at.dataType), at.name)()
        case None if insertNulls => Alias(Literal(null, at.dataType), at.name)()
        case None => at
      }
    }
  }

  /** Does any assignment of these actions target the primary-key
    * column? (UpdateAction only — inserts have their own guards.)
    */
  def reassignsKey(actions: Seq[MergeAction], keyCols: Seq[String]): Boolean =
    actions.exists {
      case u: UpdateAction => assignsKey(u.assignments, keyCols)
      case _ => false
    }

  def assignsKey(assignments: Seq[Assignment], keyCols: Seq[String]): Boolean =
    assignments.exists(a => topName(a.key)
      .exists(n => keyCols.exists(_.equalsIgnoreCase(n))))

  /** Key-REASSIGNMENT guard (the twin of the MERGE insert guards): an
    * assignment that targets the primary-key column moves rows to new
    * keys, and unguarded it could silently violate the primary-key
    * invariant every deletion vector and merge relies on — two rows
    * updated to ONE key, or an updated key landing on a key that
    * still exists in the table (not itself retired by this
    * statement). Both checks are churn-sized: a grouped count over
    * the statement's own output and one semi join of the new keys
    * against the pinned snapshot minus the retired keys.
    */
  def guardKeyReassignment(spark: SparkSession, keyCols: Seq[String],
                           newState: org.apache.spark.sql.DataFrame,
                           suppress: org.apache.spark.sql.DataFrame,
                           table: org.apache.spark.sql.DataFrame,
                           what: String): Unit = {
    val dup = newState.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty, s"graftlog $what: key reassignment maps multiple " +
      s"rows to primary key ${dup.headOption.map(_.toSeq.init).getOrElse("")}" +
      " — the table is primary-keyed")
    val survivors = table.select(keyCols.map(col): _*)
      .join(suppress.select(keyCols.map(col): _*), keyCols, "left_anti")
    val clash = newState.select(keyCols.map(col): _*)
      .join(survivors, keyCols, "left_semi").limit(1).collect()
    require(clash.isEmpty, s"graftlog $what: key reassignment targets " +
      s"primary key ${clash.headOption.map(_.toSeq).getOrElse("")} which " +
      "already exists in the table (and is not retired by this statement) " +
      "— the table is primary-keyed")
  }

  /** First-satisfied-action-wins row filter for action `i` of a merge
    * group: this action's own condition holds AND no earlier action's
    * condition did (NULL = not satisfied — hence the Coalesce; a bare
    * Not(NULL) would wrongly drop the row from LATER actions too).
    */
  def actFilter(actions: Seq[MergeAction], i: Int): Expression = {
    val own = actions(i).condition.getOrElse(Literal.TrueLiteral)
    actions.take(i)
      .map(a => Not(Coalesce(Seq(a.condition.getOrElse(Literal.TrueLiteral),
        Literal.FalseLiteral))): Expression)
      .foldRight(own)(And(_, _))
  }

  /** Star actions arrive unexpanded when the target lacks Spark's
    * row-level plumbing: expand UPDATE SET * / INSERT * by NAME from
    * the source side (the SQL star contract).
    */
  def expand(a: MergeAction, attrs: Seq[Attribute],
             source: LogicalPlan): MergeAction = a match {
    case UpdateStarAction(cond) => UpdateAction(cond, starAssignments(attrs, source))
    case InsertStarAction(cond) => InsertAction(cond, starAssignments(attrs, source))
    case other => other
  }

  private def starAssignments(attrs: Seq[Attribute],
                              source: LogicalPlan): Seq[Assignment] = {
    // Delta's no-evolution rule: a star clause whose source carries
    // columns the target lacks is an error, never a silent drop —
    // the user either wants evolution (q99's path: `MERGE WITH
    // SCHEMA EVOLUTION` on a catalog table widens the target BEFORE
    // this expansion, making `extra` empty) or a projection.
    val extra = source.output
      .filterNot(s => attrs.exists(_.name.equalsIgnoreCase(s.name)))
    require(extra.isEmpty,
      s"graftlog MERGE *: source columns [${extra.map(_.name).mkString(", ")}] " +
        "are not in the target schema — use MERGE WITH SCHEMA EVOLUTION " +
        "on a catalog table to accrete them, or project the source")
    attrs.map { at =>
      val s = source.output.find(_.name.equalsIgnoreCase(at.name)).getOrElse(
        throw new IllegalArgumentException(
          s"graftlog MERGE *: source has no column '${at.name}'"))
      Assignment(at, s)
    }
  }
}

/** `DELETE FROM t WHERE cond` → suppress the keys of every matching
  * row; no new rows. Sparse hits are pure deletion-vector manifest
  * entries — zero data IO beyond the key probe.
  */
case class GraftDeleteCommand(ctx: GraftDmlTarget, target: LogicalPlan,
                              cond: Expression) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import GraftDml._
    val tgt = fresh(target, ctx.root)
    val keys = keyAttrs(tgt, ctx.keyCols)
    val suppress = df(spark, Distinct(Project(keys, Filter(cond, tgt))))
    val empty = df(spark, LocalRelation(tgt.output))
    route(spark, ctx, tgt, suppress, empty, "delete")
    Seq.empty
  }
}

/** `UPDATE t SET ... WHERE cond` → suppress the matched keys' old
  * images and land the post-assignment rows in new files (key-column
  * updates move the row to its new key).
  */
case class GraftUpdateCommand(ctx: GraftDmlTarget, target: LogicalPlan,
                              assignments: Seq[Assignment],
                              cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import GraftDml._
    val tgt = fresh(target, ctx.root)
    val keys = keyAttrs(tgt, ctx.keyCols)
    val matched = Filter(cond.getOrElse(Literal.TrueLiteral), tgt)
    val suppress = df(spark, Distinct(Project(keys, matched)))
    val newState = df(spark,
      Project(aligned(tgt.output, assignments, insertNulls = false), matched))
    if (assignsKey(assignments, ctx.keyCols))
      guardKeyReassignment(spark, ctx.keyCols, newState, suppress,
        df(spark, tgt), "UPDATE")
    route(spark, ctx, tgt, suppress, newState, "update")
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON cond WHEN ...` with Delta's clause
  * semantics over the primary-keyed store: matched actions act on the
  * inner join, NOT MATCHED inserts on the source anti join, NOT
  * MATCHED BY SOURCE on the target anti join; within a group the
  * FIRST action whose condition holds wins. Guards: several source
  * rows acting on one target key is a cardinality error (Delta's
  * rule), and the insert set must not carry duplicate keys — both
  * checks are churn-sized aggregations, never table scans.
  */
case class GraftMergeCommand(ctx: GraftDmlTarget, target: LogicalPlan,
                             source: LogicalPlan, cond: Expression,
                             matchedActions: Seq[MergeAction],
                             notMatchedActions: Seq[MergeAction],
                             notMatchedBySourceActions: Seq[MergeAction])
    extends LeafRunnableCommand {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case o         => Seq(o)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    import GraftDml._
    val tgt = fresh(target, ctx.root)
    val keys = keyAttrs(tgt, ctx.keyCols)
    // ON predicates are ARBITRARY (Delta's contract): matched keys
    // derive from the inner-join probe either way. What the shape of
    // the ON condition decides is only how much INSERT checking is
    // needed — when every key component is pinned by an equality
    // against a source-side expression AND nothing else rides the
    // condition, a NOT MATCHED row is provably a new key and the
    // existence probe is skipped; any weaker condition (range
    // conjuncts, partial pins, non-equality) keeps inserts guarded by
    // a churn-sized semi join against the snapshot.
    val sourceSet = AttributeSet(source.output)
    val cj = conjuncts(cond)
    def pinsKey(k: Attribute): Boolean = cj.exists {
      case EqualTo(l: AttributeReference, r) if l.exprId == k.exprId =>
        r.references.subsetOf(sourceSet)
      case EqualTo(l, r: AttributeReference) if r.exprId == k.exprId =>
        l.references.subsetOf(sourceSet)
      case _ => false
    }
    val fullyPinned = keys.forall(pinsKey) && cj.size == keys.size

    val ma = matchedActions.map(expand(_, tgt.output, source))
    val nma = notMatchedActions.map(expand(_, tgt.output, source))
    val nmbsa = notMatchedBySourceActions // no source side to star from
    val joined = Join(tgt, source, Inner, Some(cond), JoinHint.NONE)
    val antiSrc = Join(source, tgt, LeftAnti, Some(cond), JoinHint.NONE)
    val antiTgt = Join(tgt, source, LeftAnti, Some(cond), JoinHint.NONE)

    def parts(actions: Seq[MergeAction], base: LogicalPlan,
              what: String): Seq[(LogicalPlan, Option[LogicalPlan])] =
      actions.zipWithIndex.map { case (a, i) =>
        val f = Filter(actFilter(actions, i), base)
        a match {
          case u: UpdateAction =>
            (Project(keys, f),
              Some(Project(aligned(tgt.output, u.assignments,
                insertNulls = false), f)))
          case _: DeleteAction => (Project(keys, f), None)
          case other => throw new IllegalArgumentException(
            s"graftlog MERGE: unsupported $what action ${other.getClass.getSimpleName}")
        }
      }

    val matchedParts = parts(ma, joined, "WHEN MATCHED")
    val nmbsParts = parts(nmbsa, antiTgt, "WHEN NOT MATCHED BY SOURCE")
    val inserts = nma.zipWithIndex.map { case (a, i) =>
      val f = Filter(actFilter(nma, i), antiSrc)
      a match {
        case ins: InsertAction =>
          Project(aligned(tgt.output, ins.assignments, insertNulls = true), f)
        case other => throw new IllegalArgumentException(
          s"graftlog MERGE: unsupported WHEN NOT MATCHED action ${other.getClass.getSimpleName}")
      }
    }

    def unionDf(ps: Seq[LogicalPlan]): Option[org.apache.spark.sql.DataFrame] =
      ps.map(p => df(spark, p)).reduceOption(_ union _)

    // Matched-action keys and the insert set are each consumed by
    // SEVERAL actions below (guards + suppress/upsert assembly), and
    // every consumer would otherwise re-execute the full target⋈source
    // join DAG — materialize each ONCE (churn-sized by the MERGE
    // contract; the same move Delta's MERGE makes when it
    // materializes its source).
    // cardinality guard: a target key acted on by >1 matched source
    // row is ambiguous (which update wins?) — Delta errors; so do we.
    // Runs on the key TUPLE, so it holds under composite keys and
    // arbitrary ON predicates alike. The guard's grouped count scans
    // every partition, so it doubles as the materializing job
    // (Materialize.cleanWith): guard + materialization cost one job.
    val matchedKeys = unionDf(matchedParts.map(_._1)).map { mk0 =>
      Materialize.cleanWith(mk0) { mk =>
        val dup = mk.groupBy(ctx.keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty, "graftlog MERGE: multiple source rows matched " +
          s"target key ${dup.headOption.map(_.toSeq.init).getOrElse("")} — " +
          "the same target row cannot be updated or deleted twice")
      }._1
    }
    // duplicate-key guards: the insert set must not carry one key
    // twice, and — unless the ON condition is EXACTLY the full key
    // equality (every component pinned, nothing else) — an insert key
    // may already exist in the table (the row matched on key but
    // failed a range conjunct, or never joined under a non-equality
    // condition). Either would break the primary-key contract every
    // DV and merge relies on. Both checks are churn-sized; the
    // existence probe is one semi join of the insert keys against the
    // pinned snapshot.
    // the duplicate-key guard's grouped count scans every partition,
    // so it doubles as the insert set's materializing job (cleanWith)
    val insertDf = unionDf(inserts).map { in0 =>
      Materialize.cleanWith(in0) { ins =>
        val dup = ins.groupBy(ctx.keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty, "graftlog MERGE: the insert set carries " +
          s"duplicate primary key ${dup.headOption.map(_.toSeq.init).getOrElse("")}")
        if (!fullyPinned) {
          val existing = df(spark, tgt)
            .select(keys.map(k => col(k.name)): _*)
            .toDF(ctx.keyCols: _*)
            .join(ins.select(ctx.keyCols.map(col): _*), ctx.keyCols, "left_semi")
            .limit(1).collect()
          require(existing.isEmpty, "graftlog MERGE: NOT MATCHED insert of " +
            s"key ${existing.headOption.map(_.toSeq).getOrElse("")} which " +
            "already exists in the table (unmatched by the ON condition, " +
            "but present by key) — the table is primary-keyed")
        }
      }._1
    }

    // suppress reuses the materialized matched keys; only the (rare)
    // NOT MATCHED BY SOURCE keys still derive from their anti join
    val suppress = (matchedKeys.toSeq ++ unionDf(nmbsParts.map(_._1)).toSeq)
      .reduceOption(_ union _)
      .map(_.distinct())
      .getOrElse(df(spark, LocalRelation(keys)))
    val upserts = ((matchedParts ++ nmbsParts).flatMap(_._2.map(df(spark, _)))
        ++ insertDf.toSeq)
      .reduceOption(_ union _)
      .getOrElse(df(spark, LocalRelation(tgt.output)))
    // MERGE UPDATE clauses that SET a key column get the same
    // key-reassignment guard UPDATE does (the insert guards above
    // don't see update outputs); runs over the full upsert set so an
    // updated key colliding with an inserted key is caught too
    if (reassignsKey(ma ++ nmbsa, ctx.keyCols))
      guardKeyReassignment(spark, ctx.keyCols, upserts, suppress,
        df(spark, tgt), "MERGE")
    route(spark, ctx, tgt, suppress, upserts, "merge")
    Seq.empty
  }
}
