package org.apache.spark.sql.graftmerge

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParseException}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.lake.MergeInto

/** SQL `MERGE INTO` for plain parquet catalog tables.
  *
  * Spark's parser already understands the full MERGE grammar and
  * produces a [[MergeIntoTable]] logical plan, but only DSv2 sources
  * (Delta, Iceberg) implement it — on a v1 parquet table the analyzer
  * rejects the command. This bridge (the reference's `spark.sql("MERGE
  * INTO ...")` surface, scd_handler.py:48-53) closes that gap
  * Spark-first:
  *
  *  - [[GraftMergeParser]] wraps the session parser (injected via
  *    `SparkSessionExtensions.injectParser`, see
  *    [[graft.GraftExtensions]]); when the delegate parses a
  *    MergeIntoTable it is translated — still fully unresolved, so
  *    every expression pretty-prints losslessly via `.sql` — into
  *  - [[MergeIntoGraftCommand]], a `LeafRunnableCommand` that at
  *    execution resolves target + source, replays the clauses through
  *    [[graft.lake.MergeInto]] (one left-outer + one left-anti join,
  *    AQE-broadcastable source), and commits via a staging table +
  *    INSERT OVERWRITE (never reads and overwrites the same files).
  *
  * All clause forms are supported: multiple conditional WHEN MATCHED
  * UPDATE/DELETE, UPDATE SET *, multiple conditional WHEN NOT MATCHED
  * INSERT, INSERT *, and WHEN NOT MATCHED BY SOURCE UPDATE/DELETE.
  * `WITH SCHEMA EVOLUTION` is rejected (target schema is the contract).
  */
class GraftMergeParser(delegate: ParserInterface) extends ParserInterface {

  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan =
    // maintenance statements (OPTIMIZE / VACUUM / DESCRIBE HISTORY)
    // are not in Spark's grammar — pre-parse them, then delegate
    GraftMaintenanceSql.parse(sqlText).getOrElse(
      delegate.parsePlan(sqlText) match {
        case m: MergeIntoTable => GraftMergeParser.translate(m)
        case d: DeleteFromTable => GraftMergeParser.translateDelete(d)
        case u: UpdateTable => GraftMergeParser.translateUpdate(u)
        case other => other
      })

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftMergeParser {

  /** A clause captured as SQL strings (the unresolved expressions'
    * `.sql` form): `set = None` → delete; `starSet` → SET * / INSERT *
    * expanded against the target schema at run time.
    */
  case class SqlClause(
      condition: Option[String],
      set: Option[Map[String, String]],
      starSet: Boolean = false)

  private[graftmerge] def translate(m: MergeIntoTable): LogicalPlan = {
    val (targetParts, targetAlias) = nameAndAlias(m.targetTable)
    val sourceAlias = m.sourceTable match {
      case SubqueryAlias(id, _) => id.name
      case UnresolvedRelation(parts, _, _) => parts.last
      case _ => "__graft_source"
    }
    def clause(a: MergeAction): SqlClause = a match {
      case DeleteAction(c) => SqlClause(c.map(_.sql), None)
      case UpdateAction(c, assigns, _) =>
        SqlClause(c.map(_.sql), Some(assignMap(assigns)))
      case UpdateStarAction(c) => SqlClause(c.map(_.sql), Some(Map.empty), starSet = true)
      case InsertAction(c, assigns) =>
        SqlClause(c.map(_.sql), Some(assignMap(assigns)))
      case InsertStarAction(c) => SqlClause(c.map(_.sql), Some(Map.empty), starSet = true)
      case other => throw new UnsupportedOperationException(
        s"graft MERGE INTO: unsupported clause $other")
    }
    MergeIntoGraftCommand(
      targetParts, targetAlias, m.sourceTable, sourceAlias,
      m.mergeCondition.sql,
      m.matchedActions.map(clause),
      m.notMatchedActions.map(clause),
      m.notMatchedBySourceActions.map(clause),
      schemaEvolution = m.withSchemaEvolution)
  }

  /** `DELETE FROM t WHERE cond` — same v1-parquet gap as MERGE. */
  private[graftmerge] def translateDelete(d: DeleteFromTable): LogicalPlan = {
    val (parts, alias) = nameAndAlias(d.table)
    DeleteGraftCommand(parts, alias, d.condition.sql)
  }

  /** `UPDATE t SET ... [WHERE cond]`. */
  private[graftmerge] def translateUpdate(u: UpdateTable): LogicalPlan = {
    val (parts, alias) = nameAndAlias(u.table)
    UpdateGraftCommand(parts, alias, assignMap(u.assignments),
      u.condition.map(_.sql))
  }

  private def nameAndAlias(plan: LogicalPlan): (Seq[String], String) = plan match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) => (parts, id.name)
    case UnresolvedRelation(parts, _, _) => (parts, parts.last)
    case other => throw new UnsupportedOperationException(
      s"graft MERGE INTO: target must be a table, got ${other.nodeName}")
  }

  /** `t.v = expr` → "v" -> "expr" (the key's last name part is the
    * target column; MERGE forbids assigning through other qualifiers).
    */
  private def assignMap(assigns: Seq[Assignment]): Map[String, String] =
    assigns.map { a =>
      val key = a.key.sql.split('.').last.stripPrefix("`").stripSuffix("`")
      key -> a.value.sql
    }.toMap

  /** DML targets naming a graft-catalog table route to the
    * manifest-commit DML (touched-file rewrite, atomic CDC, optional
    * deletion vectors) instead of the session-catalog staging swap.
    */
  private[graftmerge] def graftIncrementalTarget(
      spark: SparkSession, parts: Seq[String]): Option[graft.lake.IncrementalTable] = {
    if (parts.size < 2) return None
    if (!spark.sessionState.catalogManager.isCatalogRegistered(parts.head)) return None
    spark.sessionState.catalogManager.catalog(parts.head) match {
      case gc: graft.sources.GraftCatalog =>
        val path = gc.tablePath(org.apache.spark.sql.connector.catalog.Identifier
          .of(parts.tail.init.toArray, parts.last))
        val t = new graft.lake.IncrementalTable(spark, path)
        if (t.exists) Some(t) else None
      case _ => None
    }
  }
}

/** Runtime half of graft's SQL MERGE: resolves the (catalog, parquet)
  * target and the source plan, replays clauses through
  * [[graft.lake.MergeInto]], and replaces the target's contents. Scale
  * shape is MergeInto's: the merge itself is one full-outer join on the
  * merge condition (single key shuffle) plus a gated projection. A
  * graft-catalog target commits the result as one manifest version
  * ([[graft.lake.IncrementalTable.writeSnapshot]]); a session-catalog
  * parquet target goes through [[GraftTableSwap]]'s staging write, one
  * extra linear pass.
  */
case class MergeIntoGraftCommand(
    targetParts: Seq[String],
    targetAlias: String,
    sourcePlan: LogicalPlan,
    sourceAlias: String,
    conditionSql: String,
    matched: Seq[GraftMergeParser.SqlClause],
    notMatched: Seq[GraftMergeParser.SqlClause],
    notMatchedBySource: Seq[GraftMergeParser.SqlClause],
    schemaEvolution: Boolean = false)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val targetName = targetParts.map(p => s"`$p`").mkString(".")
    // graft-catalog incremental targets read via snapshot() (deletion
    // vectors applied) and commit via the manifest log; session tables
    // read via the catalog and commit via the staging swap
    val graftTarget = GraftMergeParser.graftIncrementalTarget(spark, targetParts)
    val target = graftTarget.map(_.snapshot()).getOrElse(spark.table(targetName))
    val source = org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], sourcePlan)
    val targetCols = target.schema.fieldNames.toSeq

    // star expansion: the target's columns — plus, under MERGE WITH
    // SCHEMA EVOLUTION (Spark 4 syntax), every source column, so new
    // source columns evolve into the target (Delta's automerge)
    def starSet: Map[String, String] = {
      val cols =
        if (schemaEvolution)
          (targetCols ++ source.schema.fieldNames.filterNot(targetCols.contains)).distinct
        else targetCols
      cols.map(c => c -> s"`$sourceAlias`.`$c`").toMap
    }

    var merge = MergeInto(target, source, conditionSql, targetAlias, sourceAlias)
    if (schemaEvolution) merge = merge.withSchemaEvolution()
    matched.foreach { c =>
      merge = c.set match {
        case None => merge.whenMatchedDelete(c.condition)
        case Some(s) => merge.whenMatchedUpdate(if (c.starSet) starSet else s, c.condition)
      }
    }
    notMatched.foreach { c =>
      merge = merge.whenNotMatchedInsert(
        if (c.starSet) starSet else c.set.getOrElse(Map.empty), c.condition)
    }
    notMatchedBySource.foreach { c =>
      merge = c.set match {
        case None => merge.whenNotMatchedBySourceDelete(c.condition)
        case Some(s) => merge.whenNotMatchedBySourceUpdate(s, c.condition)
      }
    }

    graftTarget match {
      case Some(t) =>
        // full-snapshot commit: atomic, versioned, time-travelable.
        // (The touched-bucket O(batch) merge is IncrementalScdTable's
        // job — generic MERGE has no bucket contract to exploit.)
        t.writeSnapshot(merge.resolve(), operation = "merge")
      case None =>
        GraftTableSwap.replace(spark, targetParts, merge.resolve())
    }
    Seq.empty
  }
}

/** `DELETE FROM <table> WHERE cond`. Graft-catalog incremental targets
  * get real row-level DML: stats-pruned touched-file rewrite (or a
  * deletion-vector commit when `graft.dml.deletionVectors=true`) with
  * an atomic CDC sidecar. Plain session-catalog parquet tables keep
  * the complement-rewrite staging swap.
  */
case class DeleteGraftCommand(
    targetParts: Seq[String], targetAlias: String, conditionSql: String)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, not}
    GraftMergeParser.graftIncrementalTarget(spark, targetParts) match {
      case Some(t) =>
        val mor = spark.conf.getOption("graft.dml.deletionVectors")
          .exists(_.toBoolean)
        if (mor) t.deleteVector(expr(conditionSql), Some(targetAlias))
        else t.deleteWhere(expr(conditionSql), Some(targetAlias))
      case None =>
        val target = spark.table(targetParts.map(p => s"`$p`").mkString("."))
        GraftTableSwap.replace(spark, targetParts,
          target.alias(targetAlias).filter(not(expr(conditionSql))))
    }
    Seq.empty
  }
}

/** `UPDATE <parquet table> SET ... [WHERE cond]`: conditional column
  * rewrite over one scan, values cast to the column's type.
  */
case class UpdateGraftCommand(
    targetParts: Seq[String], targetAlias: String,
    set: Map[String, String], conditionSql: Option[String])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val cond = conditionSql.map(expr).getOrElse(lit(true))
    GraftMergeParser.graftIncrementalTarget(spark, targetParts) match {
      case Some(t) =>
        val schema = t.tableSchema.getOrElse(t.snapshot().schema)
        val assignments = set.map { case (c, v) =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"graft UPDATE: unknown column $c"))
          c -> expr(v).cast(f.dataType)
        }
        t.updateWhere(cond, assignments, Some(targetAlias))
      case None =>
        val target = spark.table(targetParts.map(p => s"`$p`").mkString("."))
        val next = target.alias(targetAlias).select(target.schema.fields.toSeq.map { f =>
          set.get(f.name) match {
            case Some(v) => when(cond, expr(v).cast(f.dataType))
              .otherwise(col(s"$targetAlias.${f.name}")).as(f.name)
            case None => col(s"$targetAlias.${f.name}").as(f.name)
          }
        }: _*)
        GraftTableSwap.replace(spark, targetParts, next)
    }
    Seq.empty
  }
}

/** Shared commit path for the SQL DML commands: materialize the next
  * state into a staging table BEFORE touching the target (the plan
  * reads the target's current files), then INSERT OVERWRITE and drop
  * the staging table. One extra linear pass — the price of DML without
  * a transaction log; graft-catalog targets commit through
  * [[graft.lake.IncrementalTable]]'s manifest log instead.
  *
  * The staging table carries a per-invocation nonce and lives in the
  * target's own database, so concurrent DML on the same target never
  * collide on (or clobber) a shared staging name. The final
  * INSERT OVERWRITE is still non-atomic on crash — a writer dying
  * mid-overwrite can leave the target partially rewritten (the
  * staging table with the complete next state survives for manual
  * recovery); atomic commit needs the manifest log.
  */
private[graftmerge] object GraftTableSwap {
  def replace(spark: SparkSession, targetParts: Seq[String],
      next: org.apache.spark.sql.DataFrame): Unit = {
    val targetName = targetParts.map(p => s"`$p`").mkString(".")
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val stagingParts = targetParts.init :+
      (targetParts.last + "__graft_dml_staging_" + nonce)
    val staging = stagingParts.map(p => s"`$p`").mkString(".")
    next.write.mode("errorifexists").saveAsTable(staging)
    try
      spark.table(staging).write.mode("overwrite").insertInto(targetName)
    finally
      spark.sql(s"DROP TABLE IF EXISTS $staging")
  }
}
