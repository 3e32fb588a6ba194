package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.command.RunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** SQL `MERGE INTO` against GraftLake tables, through Catalyst.
  *
  * Spark's own row-level-operation rewrite requires a full DSv2 write stack
  * (`SupportsRowLevelOperations` + executor-side `BatchWrite`), and throws
  * for any other table. This rule intercepts the logical `MergeIntoTable`
  * BEFORE that rewrite (both live in the analyzer's Resolution batch; this
  * one matches the still-unaligned form, which the built-in ignores) and
  * lowers it onto the engine's own CDC-apply kernel — `LakeTable.merge`'s
  * fused dedup + copy-on-write merge + atomic snapshot commit.
  *
  * Supported MERGE shape = the reference DeltaWriter contract
  * (/root/reference/src/models/writer.py:22-67: PK-equality condition built
  * from the table's primary key, whenMatchedUpdateAll / whenNotMatchedInsertAll,
  * plus this engine's delete extension and ANSI partial `SET` lists):
  *
  * {{{
  *   MERGE INTO g.db.t t USING src s
  *   ON t.k1 = s.k1 AND t.k2 = s.k2          -- exactly the table's PK
  *   [WHEN MATCHED AND <cond-over-s> THEN DELETE]
  *   WHEN MATCHED [AND <cond>] THEN UPDATE SET *            -- update-all
  *     | WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr, ...  -- partial
  *   [WHEN NOT MATCHED [AND <cond-over-s>] THEN INSERT *
  *     | ... INSERT (k1, k2, c, ...) VALUES (s.k1, s.k2, expr, ...)]
  *   [WHEN NOT MATCHED BY SOURCE [AND <cond-over-t>] THEN DELETE
  *     | ... THEN UPDATE SET c = expr-over-t, ...]
  * }}}
  *
  * Partial INSERT lists must assign every key column identity-to-source
  * (the probe's matched-ness key must equal the inserted key); unlisted
  * non-key columns insert NULL. NOT MATCHED BY SOURCE legs (full sync /
  * stale-row flagging) reference target columns only.
  *
  * The DELETE/INSERT leg conditions must reference SOURCE columns only (the
  * CDC shape — e.g. `s.op = 'delete'`); target-side or unqualified
  * references fall through rather than silently rebinding. The UPDATE leg's
  * condition and partial-`SET` expressions may reference BOTH sides
  * (`SET n = t.n + s.delta`): references are classified per attribute —
  * alias-qualified, or unqualified when the name lives on exactly one side
  * (ambiguous/unknown names fall through). Non-assigned columns keep the
  * TARGET row's values (ANSI), fetched by the matched-ness probe join.
  * Primary-key columns are never assignable (a keyed merge cannot express a
  * PK rewrite) — except the no-op identity `SET k = s.k` that `SET *`
  * expansion produces, which is dropped (the ON clause already equates it).
  * ANSI matched/not-matched semantics are preserved: the DELETE leg applies
  * only to keys PRESENT in the target (a source "delete" for an absent key
  * falls to the NOT MATCHED leg and inserts unless the insert condition
  * excludes it — write `WHEN NOT MATCHED AND s.op <> 'delete' THEN INSERT *`
  * for tombstone streams), and a matched row passing neither the DELETE nor
  * the UPDATE condition is left untouched.
  *
  * Any other form (PK assignments, ambiguous references, non-PK or
  * tautological ON conditions, source-referencing third-leg conditions)
  * falls through to Spark's built-in path, whose error message names the
  * unsupported feature. Register via
  * `spark.sql.extensions = graft.sql.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => GraftMergeRewrite)
  }
}

object GraftMergeRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m @ MergeIntoTable(target, source, cond, matched, notMatched, notMatchedBySource, _)
        if source.resolved =>
      graftTarget(target) match {
        case Some(gt) =>
          val snap = gt.table.snapshot
          val keys = snap.keyColumns
          val tgtCols = snap.schema.fieldNames.map(_.toLowerCase).toSet
          // the partial-update path renames probed target columns under
          // TgtPrefix — a real column or source output already under it
          // would collide, so such (contrived) schemas fall through
          val prefixClash = snap.schema.fieldNames.exists(_.startsWith(TgtPrefix)) ||
            source.output.exists(_.name.startsWith(TgtPrefix))
          val canon = canonicalizer(target, tgtCols, source, keys.map(_.toLowerCase).toSet)
          (keyEquality(cond, keys), classifyMatched(matched, keys, tgtCols, canon),
            classifyInsert(notMatched, keys, tgtCols, canon),
            classifyBySource(notMatchedBySource, target, tgtCols, keys, source)) match {
            case (true, Some((deleteCond, matchedUpdate)),
                Some((insertCond, insertAssigns)), Some(bySource))
                if deleteCond.forall(sourceOnly(_, source)) &&
                  insertCond.forall(sourceOnly(_, source)) &&
                  !(matchedUpdate.isDefined && prefixClash) =>
              GraftMergeCommand(gt, source, deleteCond, insertCond, matchedUpdate,
                hasInsert = notMatched.nonEmpty, bySource = bySource,
                insertAssigns = insertAssigns)
            case _ => m // unsupported shape: let Spark's path report it
          }
        case None => m
      }

    // SQL DELETE FROM / UPDATE: row-level ops other than MERGE, lowered onto
    // the same tombstone merge kernel (LakeTable.merge). Supported shape =
    // a predicate over the target's own columns, no subqueries; UPDATE
    // additionally requires top-level column assignments that leave the
    // primary key untouched (a keyed merge can't express a PK rewrite).
    // Anything else falls through to Spark's UNSUPPORTED_FEATURE error.
    case d @ DeleteFromTable(target, cond) if noSubquery(cond) =>
      graftTarget(target) match {
        case Some(gt) => GraftDeleteCommand(gt, cond)
        case None => d
      }
    case u @ UpdateTable(target, assignments, cond) if cond.forall(noSubquery) =>
      graftTarget(target) match {
        case Some(gt) =>
          val snap = gt.table.snapshot
          val keys = snap.keyColumns.map(_.toLowerCase).toSet
          // assignment keys must name REAL non-key columns: an unknown name
          // must keep Spark's unresolved-column error, never lower into a
          // command that would silently drop the assignment
          val columns = snap.schema.fieldNames.map(_.toLowerCase).toSet
          val named = assignments.map(a => nameOf(a.key).map(_ -> a.value))
          if (named.exists(_.isEmpty) ||
              named.flatten.exists { case (k, _) => keys(k) || !columns(k) } ||
              assignments.exists(a => !noSubquery(a.value))) u // fall through
          else GraftUpdateCommand(gt, named.flatten, cond)
        case None => u
      }
  }

  private def graftTarget(target: LogicalPlan): Option[GraftTable] =
    EliminateSubqueryAliases(target) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        Some(r.table.asInstanceOf[GraftTable])
      case _ => None
    }

  private def noSubquery(e: Expression): Boolean =
    !e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])

  /** The leg conditions may reference SOURCE columns only: every resolved
    * attribute must come from the source's output, and every unresolved one
    * must be qualified with the source's alias. Target-side or unqualified
    * references make the shape unsupported — falling through to Spark's
    * error beats silently rebinding `t.x` to the source's same-named
    * column. */
  private def sourceOnly(cond: Expression, source: LogicalPlan): Boolean = {
    val srcAlias = source match {
      case SubqueryAlias(id, _) => Some(id.name.toLowerCase)
      case _ => None
    }
    def ok(e: Expression): Boolean = e match {
      case u: UnresolvedAttribute =>
        u.nameParts.length > 1 && srcAlias.contains(u.nameParts.head.toLowerCase)
      case a: AttributeReference => source.outputSet.contains(a)
      case other => other.children.forall(ok)
    }
    ok(cond)
  }

  /** cond must be a conjunction of column equalities covering EXACTLY the
    * table's key set, with the two sides of each equality provably coming
    * from DIFFERENT relations (distinct qualifiers pre-resolution, distinct
    * exprIds post-resolution) — otherwise `t.k = t.k`-style tautologies
    * would lower to a PK merge while meaning something entirely different.
    * Name-based because the rule runs before full resolution. */
  private def keyEquality(cond: Expression, keys: Seq[String]): Boolean = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    // (column name, relation tag) — tag is the qualifier or the exprId
    def side(e: Expression): Option[(String, String)] = e match {
      case u: UnresolvedAttribute if u.nameParts.length > 1 =>
        Some(u.nameParts.last.toLowerCase -> u.nameParts.init.mkString(".").toLowerCase)
      case a: AttributeReference => Some(a.name.toLowerCase -> s"#${a.exprId.id}")
      case _ => None
    }
    val pairs = split(cond).map {
      case EqualTo(l, r) =>
        (side(l), side(r)) match {
          case (Some((a, qa)), Some((b, qb))) if a == b && qa != qb => Some(a)
          case _ => None
        }
      case _ => None
    }
    pairs.forall(_.isDefined) && pairs.flatten.toSet == keys.map(_.toLowerCase).toSet
  }

  private def nameOf(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.nameParts.last.toLowerCase)
    case a: AttributeReference => Some(a.name.toLowerCase)
    case c: org.apache.spark.sql.catalyst.expressions.Cast => nameOf(c.child)
    case _ => None
  }

  /** `SET *` / `INSERT *` reach this rule either still as star actions or
    * already expanded by ResolveReferences into identity assignment lists
    * (t.col := s.col for every column) — accept both spellings. The
    * expansion always covers EVERY target column, so full coverage is
    * required: a user-written partial identity list (`SET n = s.n`) is a
    * partial update that keeps the other columns, never a star. */
  private def isIdentity(assigns: Seq[Assignment], tgtCols: Set[String]): Boolean =
    assigns.nonEmpty &&
      assigns.flatMap(a => nameOf(a.key)).toSet == tgtCols &&
      assigns.forall { a =>
        (nameOf(a.key), nameOf(a.value)) match {
          case (Some(k), Some(v)) => k == v
          case _ => false
        }
      }

  private def isUpdateAll(a: MergeAction, tgtCols: Set[String]): Boolean = a match {
    case UpdateStarAction(None) => true
    case UpdateAction(None, assigns, _) => isIdentity(assigns, tgtCols)
    case _ => false
  }

  /** Prefix under which the matched-ness probe exposes TARGET payload
    * columns to canonicalized partial-update expressions. */
  val TgtPrefix = "_graft_t_"

  /** Build the two-sided reference canonicalizer for UPDATE-leg expressions:
    * source refs become plain single-part names (they resolve against the
    * probe-joined source columns), target refs become `TgtPrefix<name>`
    * (the probe join exposes target payload under that prefix). Returns
    * None when any reference is ambiguous (unqualified name on both sides)
    * or unknown — those shapes fall through to Spark's error instead of
    * silently picking a side. */
  private def canonicalizer(target: LogicalPlan, tgtCols: Set[String],
      source: LogicalPlan, keys: Set[String]): Expression => Option[Expression] = {
    val tgtAlias = target match {
      case SubqueryAlias(id, _) => Some(id.name.toLowerCase)
      case _ => None
    }
    val srcAlias = source match {
      case SubqueryAlias(id, _) => Some(id.name.toLowerCase)
      case _ => None
    }
    val srcCols = source.output.map(_.name.toLowerCase).toSet
    // a target ref to a KEY column resolves to the plain (probe-join-shared)
    // column — the ON clause equates t.k and s.k, and key columns are never
    // under TgtPrefix in the probe output
    def tgtRef(n: String): UnresolvedAttribute =
      if (keys(n.toLowerCase)) UnresolvedAttribute(Seq(n))
      else UnresolvedAttribute(Seq(TgtPrefix + n))
    (e: Expression) => {
      var ok = true
      val out = e.transformUp {
        case u: UnresolvedAttribute if u.nameParts.length > 1 =>
          val q = u.nameParts.init.mkString(".").toLowerCase
          val n = u.nameParts.last
          if (srcAlias.contains(q) && srcCols(n.toLowerCase)) UnresolvedAttribute(Seq(n))
          else if (tgtAlias.contains(q) && tgtCols(n.toLowerCase)) tgtRef(n)
          else { ok = false; u }
        case u: UnresolvedAttribute =>
          val n = u.nameParts.head
          val inS = srcCols(n.toLowerCase)
          val inT = tgtCols(n.toLowerCase)
          if (inS && !inT) u
          else if (inT && !inS) tgtRef(n)
          else { ok = false; u }
        case a: AttributeReference =>
          if (source.outputSet.contains(a)) UnresolvedAttribute(Seq(a.name))
          else if (tgtCols(a.name.toLowerCase)) tgtRef(a.name)
          else { ok = false; a }
      }
      if (ok && noSubquery(e)) Some(out) else None
    }
  }

  /** A supported partial-`SET` matched update: canonicalized per-column
    * assignments (lowercase target column -> expression) and an optional
    * canonicalized leg condition. `foldedDelete` carries a multi-leg fold's
    * combined delete condition — here rather than in the command's
    * `deleteCondition` field because it is CANONICALIZED (may reference
    * TgtPrefix-renamed target columns, which only exist after the probe
    * join): this case class is opaque to `QueryPlan.expressions`, so
    * CheckAnalysis never tries to resolve its contents against the
    * command's source child. */
  final case class PartialUpdateSpec(
      assignments: Seq[(String, Expression)],
      condition: Option[Expression],
      foldedDelete: Option[Expression] = None)

  /** matched actions -> (delete condition, partial-update spec). The delete
    * condition (over source columns) is the op discriminator; a None spec
    * means unconditional UPDATE SET * (payload taken wholly from the
    * source, no target payload fetch). Returns None when the shape is
    * unsupported. */
  private def classifyMatched(matched: Seq[MergeAction], keys: Seq[String],
      tgtCols: Set[String], canon: Expression => Option[Expression])
      : Option[(Option[Expression], Option[PartialUpdateSpec])] = {
    val keySet = keys.map(_.toLowerCase).toSet

    // a conditional `SET *` lowers through the partial path with synthesized
    // all-source assignments (already canonical: plain names = source side)
    def partial(assigns: Seq[Assignment], cond: Option[Expression])
        : Option[PartialUpdateSpec] = {
      val named = assigns.map { a =>
        (nameOf(a.key), canon(a.value)) match {
          case (Some(k), Some(v)) if tgtCols(k) => Some(k -> v)
          case _ => None
        }
      }
      if (named.exists(_.isEmpty)) return None
      // drop the no-op identity key assignments SET * expansion produces
      // (`t.k := s.k` — the ON clause already equates them); any OTHER
      // primary-key assignment is a PK rewrite the keyed merge can't express
      val (keyAssigns, valueAssigns) = named.flatten.partition { case (k, _) => keySet(k) }
      val keyIdentity = keyAssigns.forall {
        case (k, UnresolvedAttribute(Seq(n))) => n.toLowerCase == k
        case _ => false
      }
      val condC = cond.map(canon)
      if (!keyIdentity || valueAssigns.isEmpty || condC.exists(_.isEmpty)) None
      else Some(PartialUpdateSpec(valueAssigns, condC.flatten))
    }
    def sourceAll(cond: Expression): Option[PartialUpdateSpec] =
      canon(cond).map(c => PartialUpdateSpec(
        (tgtCols -- keySet).toSeq.sorted.map(n => n -> UnresolvedAttribute(Seq(n))), Some(c)))

    matched match {
      // no matched legs at all (e.g. insert-only or NOT-MATCHED-BY-SOURCE-
      // only MERGE): matched rows are ANSI-untouched — an always-false
      // partial update drops them from the change batch
      case Seq() => Some((None,
        Some(PartialUpdateSpec(Nil, Some(Bridge.expression(lit(false)))))))
      // delete-only matched leg (the toggle shape): matched rows passing
      // the delete condition tombstone, the rest are untouched
      case Seq(DeleteAction(c)) => Some((
        Some(c.getOrElse(Bridge.expression(lit(true)))),
        Some(PartialUpdateSpec(Nil, Some(Bridge.expression(lit(false)))))))
      case Seq(u) if isUpdateAll(u, tgtCols) => Some((None, None))
      case Seq(DeleteAction(c), u) if isUpdateAll(u, tgtCols) =>
        Some((Some(c.getOrElse(Bridge.expression(lit(true)))), None))
      // Only the UNCONDITIONAL trailing DELETE is special-cased: with an
      // unconditional update-all first, first-match means the DELETE leg is
      // dead code (every matched row updates), so the delete condition is
      // false. A CONDITIONAL trailing delete after a conditional update-all
      // must route through the general first-match fold below — lowering
      // its condition live here would delete rows the first leg claims.
      // (Spark's parser rejects a non-last UNconditional matched leg, so
      // the u-unconditional + c-conditional shape cannot parse — this arm
      // now encodes that invariant instead of silently relying on it.)
      case Seq(u, DeleteAction(None)) if isUpdateAll(u, tgtCols) =>
        Some((Some(Bridge.expression(lit(false))), None))
      case Seq(UpdateStarAction(Some(c))) => sourceAll(c).map(p => (None, Some(p)))
      case Seq(UpdateAction(cond, assigns, _)) =>
        partial(assigns, cond).map(p => (None, Some(p)))
      case Seq(DeleteAction(c), UpdateStarAction(Some(c2))) =>
        sourceAll(c2).map(p => (Some(c.getOrElse(Bridge.expression(lit(true)))), Some(p)))
      case Seq(DeleteAction(c), UpdateAction(cond, assigns, _)) =>
        partial(assigns, cond).map(p =>
          (Some(c.getOrElse(Bridge.expression(lit(true)))), Some(p)))
      // general multi-leg fold (first-match semantics): any ordered mix of
      // conditional DELETE / UPDATE legs the special cases above don't
      // cover. See foldMatched.
      case legs if legs.nonEmpty => foldMatched(legs, tgtCols, keySet, canon, partial)
      case _ => None
    }
  }

  /** ANSI multi-leg matched fold: legs fire FIRST-MATCH, so each leg i gets
    * the guard `cᵢ && !c₁ && … && !cᵢ₋₁` (conditions coalesced to false —
    * ANSI 3VL: a NULL condition neither fires its leg nor blocks later
    * ones). The delete condition becomes the OR of delete-leg guards; the
    * update spec's condition the OR of update-leg guards; and each assigned
    * column a `CASE WHEN guard → leg's expression ELSE target value` chain
    * (guards are disjoint by construction, so CASE order is immaterial).
    * Because leg conditions are canonicalized two-sided here, a folded
    * DELETE condition may reference target columns — the probe fetches the
    * target payload for it (returned canonical=true so the caller skips the
    * raw-shape source-only check). */
  private def foldMatched(legs: Seq[MergeAction], tgtCols: Set[String],
      keySet: Set[String], canon: Expression => Option[Expression],
      partial: (Seq[Assignment], Option[Expression]) => Option[PartialUpdateSpec])
      : Option[(Option[Expression], Option[PartialUpdateSpec])] = {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Coalesce, Literal, Not, Or}
    val always: Expression = Bridge.expression(lit(true))
    // per-leg: (canonical condition, None = delete | Some(assignments))
    val parsed: Seq[Option[(Expression, Option[Seq[(String, Expression)]])]] = legs.map {
      case DeleteAction(c) =>
        c.map(canon).getOrElse(Some(always)).map(cc => (cc, None))
      case UpdateStarAction(c) =>
        c.map(canon).getOrElse(Some(always)).map(cc => (cc,
          Some((tgtCols -- keySet).toSeq.sorted
            .map(n => n -> (UnresolvedAttribute(Seq(n)): Expression)))))
      case UpdateAction(c, assigns, _) =>
        partial(assigns, c).map(spec =>
          (spec.condition.getOrElse(always), Some(spec.assignments)))
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return None
    val flat = parsed.flatten
    def safe(e: Expression): Expression = Coalesce(Seq(e, Literal(false)))
    val guards = flat.indices.map { i =>
      (flat.take(i).map(l => Not(safe(l._1)): Expression) :+ safe(flat(i)._1))
        .reduce(And(_, _))
    }
    val delC = guards.zip(flat).collect { case (g, (_, None)) => g }
      .reduceOption(Or(_, _))
    val updLegs = guards.zip(flat).collect { case (g, (_, Some(as))) => (g, as.toMap) }
    val assignedCols = updLegs.flatMap(_._2.keys).distinct
    val assignments: Seq[(String, Expression)] = assignedCols.map { f =>
      val tgt: Expression = UnresolvedAttribute(Seq(TgtPrefix + f))
      f -> (CaseWhen(updLegs.map { case (g, m) => g -> m.getOrElse(f, tgt) }, Some(tgt))
        : Expression)
    }
    val updC = updLegs.map(_._1).reduceOption(Or(_, _))
      .getOrElse(Bridge.expression(lit(false)))
    Some((None, Some(PartialUpdateSpec(assignments, Some(updC), foldedDelete = delC))))
  }

  /** not-matched actions -> (condition, partial-assignment list). One
    * INSERT * (assignments = None), one partial
    * `INSERT (cols) VALUES (exprs)` list (assignments = Some: canonicalized
    * source-only values, key columns REQUIRED and identity-to-source so the
    * probe's matched-ness key equals the inserted key, unlisted non-key
    * columns insert NULL), or NO insert leg at all (update/delete-only
    * MERGE — an always-false condition drops unmatched source rows).
    * Returns None for unsupported shapes (a non-identity key value would
    * let an "insert" silently upsert a key the probe never tested). */
  private def classifyInsert(notMatched: Seq[MergeAction], keys: Seq[String],
      tgtCols: Set[String], canon: Expression => Option[Expression])
      : Option[(Option[Expression], Option[Seq[(String, Expression)]])] = {
    val keySet = keys.map(_.toLowerCase).toSet
    def partial(assigns: Seq[Assignment], c: Option[Expression])
        : Option[(Option[Expression], Option[Seq[(String, Expression)]])] = {
      val named = assigns.map { a =>
        (nameOf(a.key), canon(a.value)) match {
          case (Some(k), Some(v)) if tgtCols(k) && !referencesTarget(v) => Some(k -> v)
          case _ => None
        }
      }
      if (named.exists(_.isEmpty)) return None
      val (keyAssigns, valueAssigns) = named.flatten.partition { case (k, _) => keySet(k) }
      val keyIdentity = keyAssigns.map(_._1).toSet == keySet && keyAssigns.forall {
        case (k, UnresolvedAttribute(Seq(n))) => n.toLowerCase == k
        case _ => false
      }
      if (!keyIdentity) None else Some((c, Some(valueAssigns)))
    }
    notMatched match {
      case Seq() => Some((Some(Bridge.expression(lit(false))), None))
      case Seq(InsertStarAction(c)) => Some((c, None))
      case Seq(InsertAction(c, assigns)) if isIdentity(assigns, tgtCols) => Some((c, None))
      case Seq(InsertAction(c, assigns)) => partial(assigns, c)
      // multi-leg fold (first-match): each leg i gets the guard
      // cᵢ && !c₁ && … && !cᵢ₋₁ (conditions coalesced to false); the
      // combined insert condition is the OR of guards and each column a
      // CASE over the legs' payloads — star legs take the source column,
      // partial legs their (source-only) expression or NULL when unlisted.
      // Conditions stay RAW (source-qualified), so the caller's
      // source-only gate still applies to the folded condition.
      case legs if legs.nonEmpty =>
        import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Coalesce, Literal, Not, Or}
        val parsed: Seq[Option[(Expression, Option[Map[String, Expression]])]] = legs.map {
          case InsertStarAction(c) =>
            Some((c.getOrElse(Bridge.expression(lit(true))), None))
          case InsertAction(c, assigns) if isIdentity(assigns, tgtCols) =>
            Some((c.getOrElse(Bridge.expression(lit(true))), None))
          case InsertAction(c, assigns) =>
            partial(assigns, None).map { case (_, valueAssigns) =>
              (c.getOrElse(Bridge.expression(lit(true))),
                Some(valueAssigns.getOrElse(Nil).toMap))
            }
          case _ => None
        }
        if (parsed.exists(_.isEmpty)) return None
        val flat = parsed.flatten
        def safe(e: Expression): Expression = Coalesce(Seq(e, Literal(false)))
        val guards = flat.indices.map { i =>
          (flat.take(i).map(l => Not(safe(l._1)): Expression) :+ safe(flat(i)._1))
            .reduce(And(_, _))
        }
        // guards embedded in the payload CASEs are applied directly to the
        // probe-joined frame (no byName pass like the returned condition
        // gets) — strip qualifiers here; source-only-ness of the raw
        // conditions is still enforced on the returned combined condition
        val stripped = guards.map(_.transformUp {
          case u: UnresolvedAttribute => UnresolvedAttribute(Seq(u.nameParts.last))
          case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
        })
        val anyStar = flat.exists(_._2.isEmpty)
        val cols =
          if (anyStar) (tgtCols -- keySet).toSeq.sorted
          else flat.flatMap(_._2.map(_.keys.toSeq).getOrElse(Nil)).distinct
        val nullLit: Expression = Bridge.expression(lit(null))
        val assignments: Seq[(String, Expression)] = cols.map { f =>
          f -> (CaseWhen(stripped.zip(flat).map { case (g, (_, aOpt)) =>
            g -> aOpt.map(_.getOrElse(f, nullLit))
              .getOrElse(UnresolvedAttribute(Seq(f)): Expression)
          }, None): Expression)
        }
        Some((Some(guards.reduce(Or(_, _))), Some(assignments)))
    }
  }

  /** True when a canonicalized expression still references a TARGET column
    * (TgtPrefix-renamed) — invalid in insert-leg values, where no target
    * row exists. */
  private[sql] def referencesTarget(e: Expression): Boolean = e.exists {
    case u: UnresolvedAttribute => u.nameParts.head.startsWith(TgtPrefix)
    case _ => false
  }

  /** The condition of a NOT MATCHED BY SOURCE leg may reference TARGET
    * columns only (there is no source row for such a key): qualified refs
    * must carry the target alias, unqualified names must be table columns,
    * and resolved attributes must not come from the source. */
  private def targetOnly(cond: Expression, target: LogicalPlan, tgtCols: Set[String],
      source: LogicalPlan): Boolean = {
    val tgtAlias = target match {
      case SubqueryAlias(id, _) => Some(id.name.toLowerCase)
      case _ => None
    }
    def ok(e: Expression): Boolean = e match {
      case u: UnresolvedAttribute if u.nameParts.length > 1 =>
        tgtAlias.contains(u.nameParts.init.mkString(".").toLowerCase) &&
          tgtCols(u.nameParts.last.toLowerCase)
      case u: UnresolvedAttribute => tgtCols(u.nameParts.head.toLowerCase)
      case a: AttributeReference =>
        !source.outputSet.contains(a) && tgtCols(a.name.toLowerCase)
      case other => other.children.forall(ok)
    }
    ok(cond) && noSubquery(cond)
  }

  /** A supported NOT MATCHED BY SOURCE leg: tombstone or per-column update
    * of the target keys the source does not carry. All expressions are
    * target-only (there is no source row for such a key) and rebind by
    * name at run time. */
  sealed trait BySourceAction extends Serializable
  final case class BySourceDelete(condition: Option[Expression]) extends BySourceAction
  final case class BySourceUpdate(assignments: Seq[(String, Expression)],
      condition: Option[Expression]) extends BySourceAction

  /** NOT MATCHED BY SOURCE legs: absent, one DELETE, or one
    * `UPDATE SET col = expr, ...` — each with an optional target-only
    * condition (the ANSI third leg: full sync / stale-row flagging).
    * Some(None) = no leg, Some(Some(action)) = supported leg, None =
    * unsupported shape (falls through to Spark's error). */
  private def classifyBySource(bySource: Seq[MergeAction], target: LogicalPlan,
      tgtCols: Set[String], keys: Seq[String],
      source: LogicalPlan): Option[Option[BySourceAction]] = {
    val keySet = keys.map(_.toLowerCase).toSet
    def tOnly(e: Expression) = targetOnly(e, target, tgtCols, source)
    bySource match {
      case Seq() => Some(None)
      case Seq(DeleteAction(c)) if c.forall(tOnly) => Some(Some(BySourceDelete(c)))
      case Seq(UpdateAction(c, assigns, _)) if c.forall(tOnly) && assigns.nonEmpty =>
        val named = assigns.map { a =>
          (nameOf(a.key), a.value) match {
            case (Some(k), v) if tgtCols(k) && !keySet(k) && tOnly(v) => Some(k -> v)
            case _ => None
          }
        }
        if (named.exists(_.isEmpty)) None else Some(Some(BySourceUpdate(named.flatten, c)))
      case _ => None
    }
  }
}

/** The lowered command: executes the source plan, shapes it into a change
  * batch (op derived from the DELETE condition, ANSI matched-ness decided by
  * a key-pruned join against the target; all events at one ad-hoc LSN above
  * the table's committed high-watermark) and applies it through
  * `LakeTable.merge` — dedup + CoW merge + epoch-fence-preserving commit,
  * the same kernel every other ingest path uses. */
object GraftMergeCommand {
  /** Observability/test hook: (files read by the last matched-ness probe,
    * total files in that snapshot) — proves the probe prunes to the source
    * batch's buckets instead of scanning the table. */
  val lastProbe =
    new java.util.concurrent.atomic.AtomicReference[Option[(Int, Int)]](None)
}

case class GraftMergeCommand(
    @transient graftTable: GraftTable,
    source: LogicalPlan,
    deleteCondition: Option[Expression],
    insertCondition: Option[Expression],
    matchedUpdate: Option[GraftMergeRewrite.PartialUpdateSpec] = None,
    hasInsert: Boolean = true,
    bySource: Option[GraftMergeRewrite.BySourceAction] = None,
    insertAssigns: Option[Seq[(String, Expression)]] = None) extends RunnableCommand {

  override def children: Seq[LogicalPlan] = Seq(source)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): GraftMergeCommand =
    copy(source = newChildren.head)

  override def run(session: SparkSession): Seq[Row] = {
    val table = graftTable.table
    val snap = table.snapshot
    // the source plan is consumed several times (bucket probe, merge stats
    // pre-pass, write job); persist it so it EXECUTES once — besides the
    // obvious cost win, a non-deterministic source (rand()/LIMIT/sampling)
    // re-executed per consumer could yield a probe bucket set that doesn't
    // cover the keys the join later sees. MERGE sources are batch-sized by
    // contract, so the cache is bounded.
    val src = Bridge.ofRows(session, source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try runWith(session, src, table, snap)
    finally { src.unpersist(blocking = false); () }
  }

  private def runWith(session: SparkSession, src: org.apache.spark.sql.DataFrame,
      table: graft.cdc.lake.LakeTable, snap: graft.cdc.lake.Snapshot): Seq[Row] = {
    // leg conditions are source-only by the rule's contract; rebind them
    // against the source DataFrame by name (qualifiers stripped)
    def byName(c: Expression): org.apache.spark.sql.Column = GraftRowLevel.byName(c)
    val keys = snap.keyColumns
    // ANSI matched-ness: the DELETE leg fires only for keys PRESENT in the
    // target, the insert condition only gates ABSENT ones. One key- AND
    // bucket-pruned left join against the target's key columns (unique by
    // the merge invariant) decides per source row; skipped entirely when
    // both legs are unconditional (then MERGE ≡ plain upsert and
    // matched-ness is irrelevant). A partial-SET update additionally makes
    // the probe fetch the target PAYLOAD (renamed under TgtPrefix): ANSI
    // keeps non-assigned columns at the target row's values, and assignment
    // expressions may reference `t.<col>`. The flag column name is salted
    // so a source that legitimately carries a `_matched` column can never
    // make the join ambiguous or rebind the coalesce.
    val needMatch = deleteCondition.isDefined || insertCondition.isDefined ||
      matchedUpdate.isDefined || insertAssigns.isDefined
    val matchedCol = s"_matched_${java.util.UUID.randomUUID().toString.take(8)}"
    val nonKey = snap.schema.fields.toSeq.filterNot(f => keys.contains(f.name))
    val keyTypes = snap.schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    val castKeys = keys.map(k =>
      keyTypes.get(k.toLowerCase).map(col(k).cast(_)).getOrElse(col(k)).as(k))
    val flagged =
      if (!needMatch) src.withColumn(matchedCol, lit(true))
      else {
        // prune the probe to the buckets the source batch touches: one
        // narrow pre-pass over the source's (cast) key columns yields the
        // bucket set, and only those buckets' key columns are read — at the
        // 100 TB envelope a sparse MERGE batch probes a few buckets' files,
        // never the whole table. (The source plan runs once more here; a
        // MERGE source is batch-sized by contract, the target is not.)
        val touched = src.select(castKeys: _*)
          .select(table.bucketExpr(snap).as("_b")).distinct()
          .collect().map(_.getInt(0)).toSet
        val probeFiles = table.filesOfBuckets(snap, Some(touched))
        // total file count from the refs alone (zero manifest reads — the
        // observability hook must not pay the O(all buckets) cost the
        // pruned probe exists to avoid)
        GraftMergeCommand.lastProbe.set(Some(
          (probeFiles.size, snap.numFiles)))
        // target payload is fetched only when an assignment list or a
        // canonicalized leg condition can reference it — an empty spec with
        // source-only conditions (untouched/delete-only matched legs) never
        // needs a target-valued row, so the probe stays key-only
        val needsTargetPayload = matchedUpdate.exists(s =>
          s.assignments.nonEmpty ||
            s.condition.exists(GraftMergeRewrite.referencesTarget) ||
            s.foldedDelete.exists(GraftMergeRewrite.referencesTarget))
        val probeCols = keys.map(col) ++
          (if (needsTargetPayload)
            nonKey.map(f => col(f.name).as(GraftMergeRewrite.TgtPrefix + f.name))
          else Nil)
        val tgtKeys = table.readBuckets(snap, Some(touched))
          .select(probeCols: _*).withColumn(matchedCol, lit(true))
        src.join(tgtKeys, keys, "left")
          .withColumn(matchedCol, coalesce(col(matchedCol), lit(false)))
      }
    // ANSI: a leg condition that evaluates NULL does NOT fire — coalesce to
    // false at definition so every consumer (the kept filter, opCol, the
    // payload projection's update-vs-insert branch) sees the same three-
    // valued-logic-free answer. Without this, `!delC` is NULL for a NULL
    // delete condition and a matched row whose update condition passes
    // would silently take the INSERT payload instead of its SET assignments.
    // a multi-leg fold carries its (canonicalized, possibly target-
    // referencing) delete condition inside the spec; single-leg shapes keep
    // the raw source-only condition on the command
    val delC = matchedUpdate.flatMap(_.foldedDelete)
      .map(c => coalesce(Bridge.column(c), lit(false)))
      .orElse(deleteCondition.map(c => coalesce(byName(c), lit(false))))
      .getOrElse(lit(false))
    val insC = insertCondition.map(c => coalesce(byName(c), lit(false))).getOrElse(lit(true))
    // canonicalized (probe-ready) update condition — true when absent
    val updC = matchedUpdate.flatMap(_.condition)
      .map(c => coalesce(Bridge.column(c), lit(false))).getOrElse(lit(true))
    // matched rows participate when the delete leg OR the update condition
    // admits them (a matched row passing neither is ANSI-untouched);
    // unmatched rows only when the insert condition admits them
    val kept = flagged.filter(
      (col(matchedCol) && (delC || updC)) || (!col(matchedCol) && insC))
    val opCol = when(col(matchedCol) && delC, "D").otherwise("U")
    // all rows of one SQL MERGE share one LSN, so the batch wins per key
    // (multiple source rows per key is undefined under SQL MERGE anyway)
    val lsn = GraftRowLevel.adHocLsn(snap)
    // per-column event payload, four shapes sharing one projection:
    //  - matched non-delete rows: SET * takes the source column; a partial
    //    SET applies its assignment exprs over the probed TARGET values
    //    (ANSI — non-assigned columns keep the target's)
    //  - unmatched rows: INSERT * takes the source column; a partial
    //    INSERT (cols) VALUES list applies its (source-only) exprs and
    //    NULL-fills unlisted columns; without an INSERT leg the branch is
    //    filtered out before this projection, so a slim source (keys +
    //    referenced columns only) needs no full payload — typed nulls keep
    //    the dead branch resolvable
    //  - D rows' payload is irrelevant (the merge drops delete winners)
    val insertAssignMap = insertAssigns.map(_.toMap)
    val payloadCols: Seq[org.apache.spark.sql.Column] =
      if (matchedUpdate.isEmpty && insertAssignMap.isEmpty) snap.schema.fieldNames.toSeq.map(col)
      else snap.schema.fields.toSeq.map { f =>
        if (keys.contains(f.name)) col(f.name)
        else {
          val insVal = insertAssignMap match {
            case Some(m) => m.get(f.name.toLowerCase)
              .map(e => Bridge.column(e).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType))
            case None if hasInsert => col(f.name)
            case None => lit(null).cast(f.dataType)
          }
          val updVal = matchedUpdate match {
            // empty spec: matched survivors are all deletes (payload
            // irrelevant) — reuse insVal so the projection never touches
            // the unfetched target payload
            case Some(pu) if pu.assignments.isEmpty => insVal
            case Some(pu) => pu.assignments.toMap.get(f.name.toLowerCase)
              .map(e => Bridge.column(e).cast(f.dataType))
              .getOrElse(col(GraftMergeRewrite.TgtPrefix + f.name))
            case None => col(f.name) // SET *: source value
          }
          when(col(matchedCol) && !delC, updVal).otherwise(insVal).as(f.name)
        }
      }
    val batch = kept.select(
      (Seq(lit(lsn).as("lsn"), opCol.as("op")) ++ payloadCols): _*)
    // NOT MATCHED BY SOURCE legs: every (condition-passing) target key the
    // source does NOT carry is re-emitted — as a tombstone (DELETE: key-only
    // rows, payload typed nulls, dropped by the merge before writing; the
    // anti-join scan stays narrow) or as an op='U' event with the
    // (target-only) assignments applied over the row (UPDATE: full-width
    // read, non-assigned columns keep their values). The semantics quantify
    // over the whole target, so a full scan is inherent; the derived set is
    // persisted so the merge's two consumers don't re-run the anti-join.
    val tombstones = bySource.map { act =>
      val tgt = table.readBuckets(snap, None)
      val antiOf = (df: org.apache.spark.sql.DataFrame) =>
        df.join(src.select(castKeys: _*), keys, "left_anti")
      val derived = act match {
        case GraftMergeRewrite.BySourceDelete(condOpt) =>
          GraftRowLevel.tombstones(
            antiOf(condOpt.map(c => tgt.filter(byName(c))).getOrElse(tgt)), snap, lsn)
        case GraftMergeRewrite.BySourceUpdate(assigns, condOpt) =>
          val am = assigns.toMap
          antiOf(condOpt.map(c => tgt.filter(byName(c))).getOrElse(tgt))
            .select((Seq(lit(lsn).as("lsn"), lit("U").as("op")) ++
              snap.schema.fields.toSeq.map { f =>
                am.get(f.name.toLowerCase)
                  .map(e => byName(e).cast(f.dataType).as(f.name))
                  .getOrElse(col(f.name))
              }): _*)
      }
      derived.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try table.merge(tombstones.map(batch.unionByName(_)).getOrElse(batch), epochId = -1L)
    finally tombstones.foreach(_.unpersist(blocking = false))
    Nil
  }
}

private[sql] object GraftRowLevel {
  /** Rebind an expression against a FRESH DataFrame of the target by NAME
    * (qualifiers stripped): the rewrite rules match before full resolution,
    * so attributes may be unresolved or bound to the V2 relation the lowered
    * command no longer uses. A name that doesn't exist on the target then
    * fails resolution with Spark's standard unresolved-column error. */
  def byName(e: Expression): org.apache.spark.sql.Column = Bridge.column(e.transformUp {
    case u: UnresolvedAttribute => UnresolvedAttribute(Seq(u.nameParts.last))
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  })

  /** The one LSN every row of an ad-hoc row-level SQL write (MERGE, DELETE,
    * UPDATE) carries: one above the committed watermark. By the
    * Snapshot.lsnHigh invariant every stored row _lsn is <= lsnHigh, so
    * lsnHigh + 1 outranks every existing row.
    *
    * CONTRACT (mixing ad-hoc SQL with a live binlog tail): this stamp
    * extends the table's LSN domain past the upstream binlog position, so a
    * later CDC epoch whose genuine events carry exactly these next
    * positions would tie the ad-hoc rows instead of outranking them. A
    * binlog tail that interleaves with ad-hoc row-level SQL must therefore
    * keep its LSNs ABOVE the table's lsnHigh (re-read it after ad-hoc
    * writes) — the same "one log, one ordering" rule every LSN-resolved
    * store imposes. Stamping ad-hoc writes in a disjoint high range was
    * considered and rejected: rows parked at 2^62 would outrank every
    * FUTURE genuine event, silently freezing those keys. */
  def adHocLsn(snap: graft.cdc.lake.Snapshot): Long = math.max(snap.lsnHigh, 0L) + 1L

  /** `rows` as key-only delete events at `lsn`, every non-key column a
    * typed NULL (see [[GraftDeleteCommand]] for why only the key matters). */
  def tombstones(rows: org.apache.spark.sql.DataFrame, snap: graft.cdc.lake.Snapshot,
      lsn: Long): org.apache.spark.sql.DataFrame =
    rows.select((Seq(lit(lsn).as("lsn"), lit("D").as("op")) ++
      snap.schema.fields.toSeq.map { f =>
        if (snap.keyColumns.exists(_.equalsIgnoreCase(f.name))) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }): _*)

  /** Merge a derived `batch` unfenced, persisted for the call so its
    * derivation runs once for the merge's two consumers. */
  def mergeOnce(table: graft.cdc.lake.LakeTable, batch: org.apache.spark.sql.DataFrame): Seq[Row] = {
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try { table.merge(cached, epochId = -1L); Nil }
    finally { cached.unpersist(blocking = false); () }
  }
}

/** SQL `DELETE FROM` lowered onto the tombstone merge kernel: target rows
  * matching the predicate re-emit as op='D' change events at one ad-hoc LSN
  * above the committed high-watermark, applied through [[graft.cdc.lake]]'s
  * `LakeTable.merge` — the same fenced CoW kernel as every other write.
  *
  * Scale shape: a tombstone needs only its KEY (the merge drops D winners
  * before any payload is written), so the non-key payload is stamped NULL —
  * the derivation scan column-prunes to keys + predicate columns and a
  * 100 TB DELETE never reads the wide content column (on CoW tables; a MoR
  * table's outstanding-delta resolution still materializes the payload).
  * The derived batch is persisted so the predicate scan runs ONCE even
  * though merge consumes it twice (stats pre-pass + union/write) — the
  * cached tombstones are (keys, lsn, op)-narrow, so the footprint is
  * O(matched keys), and the merge's sparse path then rewrites only the
  * buckets holding matching keys. */
case class GraftDeleteCommand(
    @transient graftTable: GraftTable,
    condition: Expression) extends org.apache.spark.sql.execution.command.LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val table = graftTable.table
    val snap = table.snapshot
    GraftRowLevel.mergeOnce(table, GraftRowLevel.tombstones(
      table.readBuckets(snap, None).filter(GraftRowLevel.byName(condition)),
      snap, GraftRowLevel.adHocLsn(snap)))
  }
}

/** SQL `UPDATE` lowered onto the merge kernel: matching target rows re-emit
  * as op='U' events with the SET assignments applied (primary-key columns
  * are never assignable — the rewrite rule falls through to Spark's error
  * for those). The derived batch is persisted exactly like
  * [[GraftMergeCommand]]'s source — merge consumes it in the narrow stats
  * pre-pass AND the union/write, so without the cache an
  * `UPDATE ... WHERE v < 1` pays a second full predicate scan of the table.
  * The cache is O(matched rows) and spills to disk; the merge's sparse path
  * then rewrites only the buckets holding matched keys. */
case class GraftUpdateCommand(
    @transient graftTable: GraftTable,
    assignments: Seq[(String, Expression)],
    condition: Option[Expression]) extends org.apache.spark.sql.execution.command.LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val table = graftTable.table
    val snap = table.snapshot
    val assigned = assignments.map { case (k, v) => k -> GraftRowLevel.byName(v) }.toMap
    val rows0 = table.readBuckets(snap, None)
    val rows = condition.map(c => rows0.filter(GraftRowLevel.byName(c))).getOrElse(rows0)
    GraftRowLevel.mergeOnce(table, rows.select(
      (Seq(lit(GraftRowLevel.adHocLsn(snap)).as("lsn"), lit("U").as("op")) ++
        snap.schema.fields.toSeq.map { f =>
          assigned.get(f.name.toLowerCase)
            .map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
        }): _*))
  }
}
