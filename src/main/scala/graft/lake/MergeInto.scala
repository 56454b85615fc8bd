package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic MERGE INTO over DataFrames — the fluent surface the
  * reference's `delta_merge` drives on Delta
  * (`DeltaTable.alias("target").merge(df.alias("updates"), cond)
  *  .whenMatchedUpdate(condition, set).whenNotMatchedInsert(values)
  *  .execute()`, scd_handler.py:48-53), re-derived on plain Spark.
  *
  * Clause semantics follow Delta/Spark-SQL MERGE:
  *  - WHEN MATCHED clauses (update / delete) are first-match-wins: for
  *    each matched target row the FIRST clause whose condition holds is
  *    applied; later clauses are ignored for that row.
  *  - WHEN NOT MATCHED (insert) clauses are likewise first-match-wins
  *    per source row; a source row matching no insert clause is dropped.
  *  - WHEN NOT MATCHED BY SOURCE clauses (update / delete) apply to
  *    target rows with no matching source row, first-match-wins.
  *
  * Differences from Delta, by design:
  *  - `resolve()` RETURNS the full next table state instead of
  *    committing — the caller owns persistence (an
  *    [[IncrementalTable]] commit, or a plain write);
  *  - a target row matched by >1 update rows is undefined behavior
  *    (Delta throws at runtime; detecting it here would cost a count —
  *    [[graft.scd.MergeEmulator]] documents the same contract).
  *
  * Condition and set/insert expressions are SQL strings over the two
  * aliases (default `target` / `updates`), exactly like the reference's
  * string-built dictionaries. Insert values and conditions resolve
  * against the updates side alone, as in Delta: an unqualified column
  * is the source's even where the target has one of the same name.
  * Update/insert values are cast to the target column's type (Delta's
  * implicit cast).
  *
  * Physical shape: ONE full-outer join serves both halves — its
  * target-present rows ARE the old left-outer (update/delete) image
  * and its target-absent rows ARE the old left-anti (insert) image —
  * so each input subtree appears ONCE in the plan (guide §2.4/§3.3).
  * This matters twice at scale: the previous left-outer + left-anti
  * pair referenced the TARGET twice (and the anti join had to shuffle
  * the full target anyway — an anti probe cannot broadcast the big
  * build side), and when merges NEST (the `delta_merge` port,
  * `ScdApply.split` + [[graft.scd.MergeEmulator]], runs merge #2 over
  * merge #1's output) two references per level duplicated the whole
  * upstream subtree per level: the two-batch SCD plan carried 46
  * exchanges / 20 sort-merge-join subtrees before this rewrite,
  * linear-in-depth after. NOT MATCHED BY SOURCE clauses ride the same
  * join (zero extra shuffles); with no insert clause the join stays
  * left-outer.
  */
final class MergeInto private (
    target: DataFrame,
    updates: DataFrame,
    targetAlias: String,
    updatesAlias: String,
    condition: String,
    matchedClauses: Seq[MergeInto.MatchedClause],
    insertClauses: Seq[MergeInto.InsertClause],
    bySourceClauses: Seq[MergeInto.MatchedClause],
    schemaEvolution: Boolean = false) {

  import MergeInto._

  def whenMatchedUpdate(
      set: Map[String, String], condition: Option[String] = None): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, this.condition,
      matchedClauses :+ MatchedClause(condition, Some(set)),
      insertClauses, bySourceClauses, schemaEvolution)

  def whenMatchedDelete(condition: Option[String] = None): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, this.condition,
      matchedClauses :+ MatchedClause(condition, None),
      insertClauses, bySourceClauses, schemaEvolution)

  def whenNotMatchedInsert(
      values: Map[String, String], condition: Option[String] = None): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, this.condition,
      matchedClauses, insertClauses :+ InsertClause(condition, values),
      bySourceClauses, schemaEvolution)

  def whenNotMatchedBySourceUpdate(
      set: Map[String, String], condition: Option[String] = None): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, this.condition,
      matchedClauses, insertClauses,
      bySourceClauses :+ MatchedClause(condition, Some(set)), schemaEvolution)

  def whenNotMatchedBySourceDelete(condition: Option[String] = None): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, this.condition,
      matchedClauses, insertClauses,
      bySourceClauses :+ MatchedClause(condition, None), schemaEvolution)

  /** Enable MERGE schema evolution (Delta's `withSchemaEvolution()` /
    * Spark 4's `MERGE WITH SCHEMA EVOLUTION INTO`): SET/INSERT columns
    * absent from the target become NEW columns in the result — typed
    * from their value expressions, NULL wherever no clause assigns
    * them. Without the flag such assignments are silently ignored
    * (the target schema is authoritative), as before.
    */
  def withSchemaEvolution(): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, this.condition,
      matchedClauses, insertClauses, bySourceClauses, schemaEvolution = true)

  /** Compute the full next table state (target schema). */
  def resolve(): DataFrame = {
    val targetSchema = target.schema
    val tMarker = s"__${targetAlias}_present"
    val t = target.withColumn(tMarker, lit(true)).alias(targetAlias)
    val marker = s"__${updatesAlias}_matched"
    // insert values and conditions see the SOURCE row only (the
    // target side of an inserted row does not exist): resolve them
    // against the updates alias here, before the join, as columns the
    // projection below reads — an unqualified name the target shares
    // is the source's, and a target reference fails analysis
    def insCond(i: Int) = s"__${updatesAlias}_inscond$i"
    // per insert clause: target column -> the pre-resolved value column
    val insValues: Seq[Map[String, String]] = insertClauses.zipWithIndex.map {
      case (cl, i) => cl.values.keys.zipWithIndex
        .map { case (c, j) => c -> s"__${updatesAlias}_ins${i}_$j" }.toMap
    }
    val u0 = updates.withColumn(marker, lit(true)).alias(updatesAlias)
    val u = u0.select(col("*") +: insertClauses.zip(insValues).zipWithIndex.flatMap {
      case ((cl, names), i) =>
        cl.condition.map(c => coalesce(expr(c), lit(false)).as(insCond(i))).toSeq ++
          cl.values.toSeq.map { case (c, v) => expr(v).as(names(c)) }
    }: _*).alias(updatesAlias)

    // one join serves both halves (see the class doc's physical-shape
    // note): target-present rows = the left-outer image the matched /
    // by-source clauses read; target-absent rows = exactly the rows
    // the old `updates LEFT ANTI target` produced (an unmatched source
    // row appears once, null-extended — same multiplicity as the anti
    // join). The two halves PARTITION the joined rows, so the whole
    // merge is this one join + one gated projection below — the join
    // subtree is referenced exactly once, no union. No insert clause →
    // no need for the absent rows → plain left-outer.
    val joinType = if (insertClauses.isEmpty) "left_outer" else "full_outer"
    val joined = t.join(u, expr(condition), joinType)
    val targetPresent = col(s"$targetAlias.$tMarker") <=> lit(true)
    // clause gates: matched / by-source only ever apply to rows where
    // the TARGET side is present (updates-only rows are the insert
    // half — without the targetPresent conjunct a by-source clause
    // would wrongly fire on them)
    val matched = targetPresent && (col(s"$updatesAlias.$marker") <=> lit(true))
    val notMatchedBySource =
      targetPresent && !(col(s"$updatesAlias.$marker") <=> lit(true))

    // first-match-wins: applicable(i) = gate ∧ ¬cond(0..i-1) ∧ cond(i).
    // A clause condition that evaluates to SQL NULL means "not applied"
    // (Delta/SQL MERGE semantics), so every condition is coalesced to
    // false before entering the survivor filter or the prior-conjunction
    // chain — a bare NULL would otherwise drop the row from
    // `filter(!(NULL))` and poison later clauses' `prior`.
    def firstWins(conds: Seq[Option[String]], gate: Column): Seq[Column] =
      conds.zipWithIndex.map { case (c, i) =>
        def cond(p: Option[String]): Column =
          p.map(s => coalesce(expr(s), lit(false))).getOrElse(lit(true))
        val prior = conds.take(i)
          .foldLeft(lit(true))((acc, x) => acc && !cond(x))
        gate && prior && cond(c)
      }

    val applicable = firstWins(matchedClauses.map(_.condition), matched)
    val bySrcApplicable =
      firstWins(bySourceClauses.map(_.condition), notMatchedBySource)
    val insApplicable = firstWins(insertClauses.zipWithIndex.map { case (cl, i) =>
      cl.condition.map(_ => s"`$updatesAlias`.`${insCond(i)}`")
    }, lit(true))

    def deletePred(cls: Seq[MatchedClause], apps: Seq[Column]): Column =
      cls.zip(apps).collect { case (MatchedClause(_, None), app) => app }
        .reduceOption(_ || _).getOrElse(lit(false))

    // one gated filter partitions the rows: target-present rows
    // survive unless a delete clause fires; updates-only rows survive
    // iff an insert clause fires (none exist under the left-outer
    // degenerate, where the otherwise-branch is vacuous)
    val insGate =
      insApplicable.reduceOption(_ || _).getOrElse(lit(false))
    val survivors = joined.filter(
      when(targetPresent, !(deletePred(matchedClauses, applicable) ||
        deletePred(bySourceClauses, bySrcApplicable)))
        .otherwise(insGate))
    val allClauses = matchedClauses.zip(applicable) ++
      bySourceClauses.zip(bySrcApplicable)
    // schema evolution: SET/INSERT columns the target lacks become new
    // fields, typed by resolving their value expression against the
    // joined frame (both aliases in scope); rows no clause assigns read
    // NULL. Off by default — assignments to unknown columns are then
    // ignored, the target schema stays authoritative.
    val evolved: Seq[org.apache.spark.sql.types.StructField] =
      if (!schemaEvolution) Seq.empty
      else {
        val known = targetSchema.fieldNames.toSet
        val assigned =
          (matchedClauses ++ bySourceClauses)
            .flatMap(_.set.toSeq.flatMap(_.toSeq)) ++
            insertClauses.flatMap(_.values.toSeq)
        assigned.map(_._1).distinct.filterNot(known).map { n =>
          val e = assigned.collectFirst { case (`n`, v) => v }.get
          // a set value resolves in the join, an insert value on the source
          val scope = if (matchedClauses.exists(_.set.exists(_.contains(n))) ||
            bySourceClauses.exists(_.set.exists(_.contains(n)))) joined else u0
          org.apache.spark.sql.types.StructField(
            n, scope.select(expr(e)).schema.head.dataType)
        }
      }
    val outFields = targetSchema.fields.toSeq ++ evolved
    // fused projection: each surviving row is EITHER the update/
    // by-source image (target present) or the insert image (target
    // absent) — one select over the one join, no union branch that
    // would re-reference the join subtree
    survivors.select(outFields.map { f =>
      val base: Column =
        if (targetSchema.fieldNames.contains(f.name)) col(s"$targetAlias.${f.name}")
        else lit(null).cast(f.dataType)
      val withClauses = allClauses.foldRight(base) {
        case ((MatchedClause(_, Some(set)), app), els) =>
          set.get(f.name) match {
            case Some(valueExpr) => when(app, expr(valueExpr).cast(f.dataType)).otherwise(els)
            case None => els
          }
        case ((MatchedClause(_, None), _), els) => els // delete: filtered above
      }
      val nul: Column = lit(null).cast(f.dataType)
      val insertValue = insValues.zip(insApplicable).foldRight(nul) {
        case ((names, app), els) =>
          val v = names.get(f.name)
            .map(n => col(s"`$updatesAlias`.`$n`").cast(f.dataType)).getOrElse(nul)
          when(app, v).otherwise(els)
      }
      (if (insertClauses.isEmpty) withClauses
       else when(targetPresent, withClauses).otherwise(insertValue))
        .as(f.name)
    }: _*)
  }
}

object MergeInto {
  /** A WHEN [NOT] MATCHED [BY SOURCE] clause:
    * `set = Some(...)` → update, `None` → delete.
    */
  final case class MatchedClause(
      condition: Option[String], set: Option[Map[String, String]])

  /** A WHEN NOT MATCHED insert clause. */
  final case class InsertClause(
      condition: Option[String], values: Map[String, String])

  /** `MergeInto(target, updates, "target.pk = updates.pk AND ...")` */
  def apply(
      target: DataFrame, updates: DataFrame, condition: String,
      targetAlias: String = "target", updatesAlias: String = "updates"): MergeInto =
    new MergeInto(target, updates, targetAlias, updatesAlias, condition,
      Seq.empty, Seq.empty, Seq.empty)
}
