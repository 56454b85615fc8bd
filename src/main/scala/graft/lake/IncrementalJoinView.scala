package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}

/** One dimension of a star-schema join view: the FACT side's join
  * column and the dim table's key column (`fact.factKey = dim.dimKey`,
  * inner join, dim keys unique — the star-schema contract).
  */
final case class DimSpec(path: String, factKey: String, dimKey: String)

/** A DELTA-MAINTAINED materialized aggregate over a star-schema JOIN —
  * the maintenance strategy [[IncrementalView]]'s affected-key
  * recompute structurally cannot provide: when the GROUP keys are DIM
  * attributes (`orders ⋈ customer GROUP BY c_nationkey`), a handful of
  * changed fact rows touch groups whose full membership spans a large
  * share of the fact table — recomputing those groups would re-scan
  * O(fact), because the fact table carries the join key, not the group
  * key. Classic incremental view maintenance solves this for the
  * DECOMPOSABLE aggregates: maintain `count(*)` and `sum(x)` by adding
  * a SIGNED delta aggregate of only the CHANGED rows.
  *
  * ==Maintenance==
  * `refresh()` reads the fact change feed since the last reflected
  * version, weights each image (`insert`/`update_postimage` → +1,
  * `delete`/`update_preimage` → −1), joins the delta with the dims
  * (delta-sized — the fact table itself is NEVER re-scanned), and
  * aggregates per group: `Δcnt = Σw`, `Δsum = Σ w·x`, plus a non-null
  * counter `Δnn = Σ w·[x IS NOT NULL]` per sum. The view merge is a
  * full-outer join of the touched groups with the delta:
  * `cnt' = cnt + Δcnt` (a group reaching 0 is DELETED; below 0 the
  * refresh fails loudly — the feed was inconsistent), accumulators add,
  * and `sum(x)`'s SQL NULL contract survives exactly because the
  * accumulator and the non-null counter are stored separately
  * (`snapshot()` serves `nn > 0 ? acc : NULL`). When the touched-group
  * set is small the merge prunes VIEW files by key predicate (the
  * [[IncrementalView.MaxKeysInPredicate]] rule); large deltas degrade
  * to an O(view) rewrite — never O(fact).
  *
  * ==Exactness==
  * Only integral and DECIMAL sum arguments are accepted (`create`
  * rejects float/double): integer/decimal addition is associative, so
  * a delta-maintained accumulator is BIT-EQUAL to a from-scratch
  * aggregate whatever the refresh history — the property the oracle
  * (`lake_join_view`) checks across a multi-refresh DML arc.
  *
  * ==Extremes (max/min): hybrid maintenance==
  * `max(x)`/`min(x)` are not delta-decrementable (the second-best
  * value is not in the view), so they are maintained hybrid: inserts
  * merge by `greatest`/`least` (monotone, exact for any orderable
  * type — no arithmetic, so no float restriction), and a delete whose
  * value TIES-OR-BEATS a group's stored extreme (or any non-null
  * delete in a brand-new group) flags that GROUP for recompute
  * from `fact ⋈ dims` — file-pruned through the join: the affected
  * group values select dim rows, their (bounded) key sets become
  * `factKey IN (…)` predicates, and the file stats prune fact files
  * (`lake_join_view_minmax` oracles the arc; the spec pins the prune).
  * More flagged groups than the predicate bound degrade to one full
  * refresh — never wrong, only slower.
  *
  * ==Fallback ladder (never wrong, only slower)==
  * A dim table change (any dim's version differs from the one the
  * watermark recorded), a CDC-less data-changing rewrite in the fact
  * range, or a missing watermark all degrade to a FULL recompute of
  * `fact ⋈ dims`, exactly like [[IncrementalView]]'s ladder.
  * Content-preserving maintenance (`datachange=false`) of fact or dims
  * is invisible: the fact feed skips it and dim versions are only
  * compared for DATA versions via the tables' own commit protocol —
  * here conservatively any version bump falls back (a compaction of a
  * dim forces one full recompute; correctness is never at stake).
  *
  * Refreshes commit CDC on the view table (stored-schema rows), so
  * join views cascade into further downstream consumers like plain
  * [[IncrementalView]]s do.
  */
final class IncrementalJoinView private (
    val spark: SparkSession,
    val fact: IncrementalTable,
    val dims: Seq[(DimSpec, IncrementalTable)],
    val table: IncrementalTable,
    val groupCols: Seq[String],
    val aggs: Seq[(String, String)]) extends RefreshableView {

  import IncrementalJoinView._

  @volatile private var last: Option[RefreshMetrics] = None
  def lastRefresh: Option[RefreshMetrics] = last

  /** `(name, sumArgSql)` for every `sum(...)` agg, in declared order. */
  /** Sum-accumulated aggregates: declared `sum(...)` plus every
    * `avg(...)` — an average is STORED as its sum (the `__nn_` non-null
    * counter every sum already carries is the divisor) and served as
    * one division at read, so the whole signed-delta maintenance
    * machinery applies unchanged and the stored value stays
    * delta-exact (the division happens once per read, never
    * accumulated).
    */
  private val sums: Seq[(String, String)] = aggs.collect {
    case (n, s) if normHead(s) == "sum" => n -> sumArg(s)
    case (n, s) if normHead(s) == "avg" => n -> IncrementalJoinView.avgArg(s)
  }
  /** Names served as `stored_sum / __nn_count` (cast to double — the
    * division is the only inexact step and it happens at read). */
  private val avgNames: Set[String] = aggs.collect {
    case (n, s) if normHead(s) == "avg" => n
  }.toSet

  /** `(name, argSql, isMax)` for every `max(...)`/`min(...)` agg —
    * maintained HYBRID: inserts merge by pure `greatest`/`least`
    * (monotone — an insert can only improve an extreme), while a
    * delete whose value ties-or-beats the stored extreme — or any
    * non-null delete in a brand-new group — forces an affected-GROUP
    * recompute from `fact ⋈ dims` (extremes are not
    * delta-decrementable: the second-best value is not in the view).
    */
  private val extremes: Seq[(String, String, Boolean)] = aggs.collect {
    case (n, s) if normHead(s) == "max" => (n, fnArg(s, "max"), true)
    case (n, s) if normHead(s) == "min" => (n, fnArg(s, "min"), false)
  }

  /** `(name, argSql)` for every `count(distinct ...)` agg — maintained
    * by AFFECTED-GROUP RECOMPUTE, the extremes' machinery generalized:
    * distinct counts are not delta-maintainable in either direction
    * (an inserted value may already be present, a deleted value may
    * have siblings — the multiplicity lives only in the fact), so ANY
    * delta row with a non-null argument flags its group and the group
    * recomputes from `fact ⋈ dims`, file-pruned through the join
    * exactly like an extreme-deleting delete. Null-argument rows are
    * invisible to `count(distinct x)` and never flag.
    */
  private val distincts: Seq[(String, String)] = aggs.collect {
    case (n, s) if isCountDistinct(s) => n -> countDistinctArg(s)
  }
  /** Each distinct count's argument EXPRESSIONS (multi-column
    * `count(distinct a, b)` splits on top-level commas; a row
    * contributes iff every argument is non-null). */
  private val distinctArgs: Map[String, Seq[String]] =
    distincts.map { case (n, a) =>
      n -> IncrementalJoinView.splitDistinctArgs(a)
    }.toMap
  private val cntName: String = aggs.collectFirst {
    case (n, s) if normSql(s) == "count(1)" => n
  }.getOrElse(throw new IllegalArgumentException(
    "a join view needs a count(*) aggregate — it tracks group liveness " +
      "(a group whose count reaches 0 must disappear)"))

  private def nnCol(sumName: String) = s"__nn_$sumName"

  /** The joined star frame over explicit table states. `dimVs` PINS
    * each dim read to the version captured at refresh entry — the
    * version the watermark meta will record. Reading `dim.snapshot()`
    * (the head at EXECUTION time) instead would race a concurrent dim
    * commit: the view's rows would reflect the new dim while its meta
    * claimed the old one, and the inconsistent state (and its CDC)
    * would serve until the next refresh noticed the version drift.
    * `None` = unpinned head read, only for version-independent probes
    * (accumulator typing).
    */
  private def joined(factDf: DataFrame,
      dimVs: Option[Seq[Long]] = None): DataFrame =
    dims.zipWithIndex.foldLeft(factDf) { case (df, ((spec, dim), i)) =>
      val dimDf = dimVs match {
        case Some(vs) => dim.snapshotAt(vs(i))
        case None => dim.snapshot()
      }
      df.join(dimDf, col(spec.factKey) === col(spec.dimKey))
    }

  /** Accumulator dtype per sum agg, pinned by planning the full
    * aggregate once (decimal sums widen — every later merge casts back
    * to THIS type so the stored schema never drifts).
    */
  private lazy val accType: Map[String, DataType] = {
    val probe = joined(fact.snapshot())
    sums.map { case (n, arg) =>
      val t = probe.select(sum(expr(arg)).as(n)).schema.head.dataType
      require(deltaExact(probe.select(expr(arg)).schema.head.dataType),
        s"join view sum/avg '$n' accumulates a ${probe.select(expr(arg))
          .schema.head.dataType.simpleString} — only integral/decimal " +
          "arguments are delta-exact (float/double addition is " +
          "order-dependent); cast to DECIMAL in the aggregate SQL")
      n -> t
    }.toMap
  }

  /** Stored-schema aggregate of a (joined) frame: group cols, the
    * liveness count, and per sum an always-non-null accumulator plus
    * its non-null-input counter.
    */
  private def storedAgg(df: DataFrame): DataFrame = {
    val aggExprs =
      count(lit(1)).as(cntName) +:
        (sums.flatMap { case (n, arg) =>
          val a = expr(arg)
          Seq(coalesce(sum(a), lit(0).cast(accType(n))).cast(accType(n)).as(n),
            count(a).as(nnCol(n)))
        } ++
          extremes.map { case (n, arg, isMax) =>
            if (isMax) max(expr(arg)).as(n) else min(expr(arg)).as(n)
          } ++
          distincts.map { case (n, _) =>
            val as = distinctArgs(n).map(expr)
            countDistinct(as.head, as.tail: _*).as(n)
          })
    df.groupBy(groupCols.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
  }

  private def clustered(df: DataFrame, targetFiles: Int): DataFrame =
    df.repartitionByRange(targetFiles, groupCols.map(col): _*)
      .sortWithinPartitions(groupCols.map(col): _*)

  /** User-facing projection of the stored rows: declared aggs in
    * declared order, each sum NULL iff no non-null input survives.
    */
  def snapshot(): DataFrame = project(table.snapshot())

  private def project(stored: DataFrame): DataFrame = {
    val sumSet = sums.map(_._1).toSet
    val cols = groupCols.map(col) ++ aggs.map {
      case (n, _) if avgNames(n) =>
        // SQL avg semantics: NULL when no non-null input survives
        when(col(nnCol(n)) > 0L,
          col(n).cast("double") / col(nnCol(n))).otherwise(lit(null)).as(n)
      case (n, _) if sumSet(n) =>
        when(col(nnCol(n)) > 0L, col(n)).otherwise(lit(null)).as(n)
      case (n, _) => col(n)
    }
    stored.select(cols: _*)
  }

  def watermark: Option[Long] =
    table.latestVersion.flatMap(v => table.metaAt(v).get(IncrementalView.WmKey))
      .map(_.toLong)

  /** Whether the view reflects the fact AND every dim at their current
    * heads — the routing freshness gate ([[graft.plans.GraftViewRouting]]).
    */
  def isFresh: Boolean =
    try fact.latestVersion.exists(watermark.contains) &&
      dimWatermark.contains(currentDimVersions)
    catch { case _: Exception => false }

  def dimSpecs: Seq[DimSpec] = dims.map(_._1)

  /** Stored-schema accessors for the optimizer rewrite. */
  private[graft] def countCol: String = cntName
  private[graft] def sumCols: Seq[(String, String)] = sums
  private[graft] def nnColName(sumName: String): String = nnCol(sumName)
  private[graft] def extremeCols: Seq[(String, String, Boolean)] = extremes
  private[graft] def distinctCols: Seq[(String, String)] = distincts

  private def dimWatermark: Option[Seq[Long]] =
    table.latestVersion.flatMap(v => table.metaAt(v).get(DimWmKey))
      .map(_.split("\\+").toSeq.filter(_.nonEmpty).map(_.toLong))

  private def currentDimVersions: Seq[Long] =
    dims.map { case (spec, dim) =>
      dim.latestVersion.getOrElse(throw new IllegalStateException(
        s"dim table ${spec.path} is empty"))
    }

  /** Bring the view up to the fact HEAD against the dims' HEADs.
    * Racing refreshes are arbitrated by a CAS on the validated view
    * version (`requireBase`), not just removed-file overlap: the loser
    * throws [[CommitConflictException]] even when its delta touched
    * only all-new group keys (empty removed set) — without the CAS two
    * such refreshes from one watermark would both land and the signed
    * delta would apply twice.
    */
  override def refresh(targetFiles: Int): Long = {
    val factV = fact.latestVersion.getOrElse(
      throw new IllegalStateException(s"fact table ${fact.path} is empty"))
    val viewV = table.latestVersion.getOrElse(
      throw new IllegalStateException(s"view table ${table.path} has no versions"))
    val dimVs = currentDimVersions
    val wm = watermark
    if (wm.contains(factV) && dimWatermark.contains(dimVs)) {
      last = Some(RefreshMetrics(factV, factV, "noop", 0, 0,
        fact.files(factV).size, 0, table.files(viewV).size))
      return viewV
    }
    val delta: Option[DataFrame] = wm match {
      case Some(w) if w <= factV && fact.versionExists(w) &&
          dimWatermark.contains(dimVs) =>
        try Some(fact.changes(w, factV))
        catch { case _: IllegalStateException => None } // CDC-less rewrite
      case _ => None // first refresh, vacuumed wm, or a dim moved
    }
    delta match {
      case None    => fullRefresh(factV, dimVs, viewV, wm, targetFiles)
      case Some(d) => deltaRefresh(factV, dimVs, viewV, wm.get, d, targetFiles)
    }
  }

  private def wmMeta(factV: Long, dimVs: Seq[Long]): Map[String, String] =
    Map(IncrementalView.WmKey -> factV.toString,
      DimWmKey -> dimVs.mkString("+")) // ','/'"' are manifest-meta
  // delimiters and rejected at commit — '+' is the legal joiner

  private def fullRefresh(factV: Long, dimVs: Seq[Long], viewV: Long,
      wm: Option[Long], targetFiles: Int): Long = {
    val oldFiles = table.files(viewV)
    val next = storedAgg(joined(fact.snapshotAt(factV), Some(dimVs)))
      .localCheckpoint()
    val added = table.stage(clustered(next, targetFiles))
    val cdc = table.snapshotAt(viewV).withColumn("_change_type", lit("delete"))
      .unionByName(next.withColumn("_change_type", lit("insert")))
    val v = table.commitFiles(added, oldFiles.toSet, "refresh",
      meta = wmMeta(factV, dimVs) + ("cdc" -> table.stageChangeData(cdc)),
      requireBase = Some(viewV))
    last = Some(RefreshMetrics(wm.getOrElse(-1L), factV, "full", -1L,
      fact.files(factV).size, fact.files(factV).size,
      oldFiles.size, oldFiles.size))
    v
  }

  private def deltaRefresh(factV: Long, dimVs: Seq[Long], viewV: Long,
      w: Long, changes: DataFrame, targetFiles: Int): Long = {
    val weight = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(lit(0L))
    val deltaAggs =
      sum(col("__w")).as("__dcnt") +:
        (sums.flatMap { case (n, arg) =>
          val a = expr(arg)
          Seq(coalesce(sum(a * col("__w")), lit(0).cast(accType(n)))
            .cast(accType(n)).as(s"__dacc_$n"),
            coalesce(sum(when(a.isNotNull, col("__w")).otherwise(lit(0L))),
              lit(0L)).as(s"__dnn_$n"))
        } ++
          extremes.flatMap { case (n, arg, isMax) =>
            val ins = when(col("__w") === 1L, expr(arg))
            val del = when(col("__w") === -1L, expr(arg))
            Seq((if (isMax) max(ins) else min(ins)).as(s"__dins_$n"),
              (if (isMax) max(del) else min(del)).as(s"__ddel_$n"))
          } ++
          distincts.map { case (n, _) =>
            // any VISIBLE row — every argument non-null, insert OR
            // delete — makes the group's distinct count unknowable
            // from the view alone (all-null-in-any-arg rows never
            // contribute a tuple and never flag)
            val visible = distinctArgs(n).map(expr(_).isNotNull)
              .reduce(_ && _)
            max(when(visible, lit(1)).otherwise(lit(0)))
              .as(s"__dtouch_$n")
          })
    val delta = joined(changes.withColumn("__w", weight), Some(dimVs))
      .groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .localCheckpoint()

    val sample = delta.limit(IncrementalView.MaxKeysInPredicate + 1).collect()
    if (sample.isEmpty) {
      val v = table.commitFiles(Nil, Set.empty, "refresh",
        meta = wmMeta(factV, dimVs), requireBase = Some(viewV))
      last = Some(RefreshMetrics(w, factV, "noop", 0, 0,
        fact.files(factV).size, 0, table.files(viewV).size))
      return v
    }
    val pred: Option[Column] =
      if (sample.length > IncrementalView.MaxKeysInPredicate ||
        sample.exists(r => groupCols.indices.exists(r.isNullAt))) None
      else if (groupCols.size == 1)
        Some(col(groupCols.head).isInCollection(sample.map(_.get(0)).toSeq))
      else Some(sample.map { r =>
        groupCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _))

    val viewAll = table.files(viewV)
    val (removed, oldTouched, survivors) = pred match {
      case Some(p) =>
        val hit = table.prunedFilesAt(viewV, viewAll, Seq(p))
        val hitDf = table.snapshotOfFiles(viewV, hit.toSet.contains)
          .getOrElse(table.snapshot().limit(0))
        (hit, hitDf.where(coalesce(p, lit(false))),
          hitDf.where(!coalesce(p, lit(false))))
      case None =>
        val s = table.snapshotAt(viewV).alias("s")
        val k = delta.select(groupCols.map(col): _*).alias("k")
        val cond = groupCols.map(c => col(s"s.$c") <=> col(s"k.$c"))
          .reduce(_ && _)
        (viewAll, s.join(k, cond, "left_semi"),
          s.join(k, cond, "left_anti"))
    }

    // full-outer merge on the group keys (null-safe: group values may
    // legitimately be NULL); presence is signalled by the liveness
    // count, which stored rows always carry non-null
    val o = oldTouched.alias("o")
    val d = delta.alias("d")
    val cond = groupCols.map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
    val present = col(s"o.$cntName").isNotNull
    val newCnt = coalesce(col(s"o.$cntName"), lit(0L)) +
      coalesce(col("d.__dcnt"), lit(0L))
    // per-extreme hybrid merge: inserts fold by greatest/least (an
    // insert can only improve an extreme; greatest/least skip NULLs),
    // and a flag marks groups where any DELETE ties-or-beats the
    // stored extreme — only those groups are recomputed from
    // fact ⋈ dims below. SOUNDNESS of the pure-merge branch: when no
    // deleted value reaches the stored max m, (a) the m-valued row(s)
    // survive, and (b) if the largest insert exceeds m, THAT insert
    // was not deleted (its value would have tripped the flag), so
    // max = greatest(m, Δins) exactly. There is deliberately NO
    // "an insert ≥ m makes the deletes moot" shortcut: a delta can
    // insert AND delete the same row (appended then deleted between
    // refreshes), and that shortcut would serve the deleted value as
    // the max — caught by this round's self-review, regression-pinned
    // in the spec ("insert+delete of the same row in one window").
    val extremeMergeCols = extremes.map { case (n, _, isMax) =>
      val ov = col(s"o.$n"); val ins = col(s"d.__dins_$n")
      (if (isMax) greatest(ov, ins) else least(ov, ins)).as(n)
    }
    // present group: recompute iff some delete ties-or-beats the
    // stored extreme. NEW group (no stored row): every deleted row was
    // necessarily inserted in-window (dims are pinned on this path),
    // so ANY non-null-valued delete may have removed the would-be
    // extreme — recompute; null-valued deletes never affect extremes.
    val recompFlag = (extremes.map { case (n, _, isMax) =>
      val ov = col(s"o.$n") // NULL for a new group — `beats` then holds
      val del = col(s"d.__ddel_$n")
      val beats =
        if (isMax) ov.isNull || del >= ov
        else ov.isNull || del <= ov
      del.isNotNull && beats
    } ++ distincts.map { case (n, _) =>
      // distinct counts recompute on ANY touch with a non-null arg —
      // there is no monotone merge half to fall back on
      coalesce(col(s"d.__dtouch_$n"), lit(0)) === 1
    }).reduceOption(_ || _).getOrElse(lit(false))
    val mergedCols =
      groupCols.map(c => when(present, col(s"o.$c")).otherwise(col(s"d.$c")).as(c)) ++
        Seq(when(newCnt < 0L, raise_error(
          lit(s"join view ${table.path}: group count went negative — " +
            "the change feed delivered more deletes than inserts for a group")))
          .otherwise(newCnt).as(cntName)) ++
        sums.flatMap { case (n, _) =>
          Seq((coalesce(col(s"o.$n"), lit(0).cast(accType(n))) +
            coalesce(col(s"d.__dacc_$n"), lit(0).cast(accType(n))))
            .cast(accType(n)).as(n),
            (coalesce(col(s"o.${nnCol(n)}"), lit(0L)) +
              coalesce(col(s"d.__dnn_$n"), lit(0L))).as(nnCol(n)))
        } ++
        extremeMergeCols ++
        // untouched-with-non-null-arg groups keep their stored distinct
        // count (a new group seen only through null-arg rows counts 0);
        // flagged groups are overwritten by the recompute below
        distincts.map { case (n, _) => coalesce(col(s"o.$n"), lit(0L)).as(n) } :+
        recompFlag.as("__recomp")
    val merged = o.join(d, cond, "full_outer")
      .select(mergedCols: _*)
      .filter(col(cntName) > 0L)
      .localCheckpoint() // feeds files AND CDC; also forces the
    // negative-count guard to evaluate before anything commits

    // extreme-invalidating deletes: recompute ONLY those groups from
    // the (join-key-pruned) fact join — the hybrid's slow-but-exact
    // half. A delete storm touching more extremes than the predicate
    // bound degrades to one full refresh (never wrong, only slower).
    val recompSample =
      if (extremes.isEmpty && distincts.isEmpty)
        Array.empty[org.apache.spark.sql.Row]
      else merged.filter(col("__recomp"))
        .select(groupCols.map(col): _*)
        .limit(IncrementalView.MaxKeysInPredicate + 1).collect()
    if (recompSample.length > IncrementalView.MaxKeysInPredicate)
      return fullRefresh(factV, dimVs, viewV, Some(w), targetFiles)
    val (finalTouched, factScanned) =
      if (recompSample.isEmpty) (merged.drop("__recomp"), 0)
      else {
        val gPred = recompSample.map { r =>
          groupCols.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _)
        val (factScan, scanned) = prunedFactScan(factV, dimVs, recompSample)
        val recomputed = storedAgg(joined(factScan, Some(dimVs)).where(gPred))
          .localCheckpoint()
        (merged.filter(!col("__recomp")).drop("__recomp")
          .unionByName(recomputed), scanned)
      }

    val added = table.stage(
      clustered(survivors.unionByName(finalTouched), targetFiles))
    val cdc = oldTouched.withColumn("_change_type", lit("delete"))
      .unionByName(finalTouched.withColumn("_change_type", lit("insert")))
    val v = table.commitFiles(added, removed.toSet, "refresh",
      meta = wmMeta(factV, dimVs) + ("cdc" -> table.stageChangeData(cdc)),
      requireBase = Some(viewV))
    last = Some(RefreshMetrics(w, factV, "delta",
      if (sample.length <= IncrementalView.MaxKeysInPredicate)
        sample.length.toLong
      else delta.count(),
      factScanned, fact.files(factV).size, removed.size, viewAll.size))
    v
  }

  /** The fact scan feeding an extreme-recompute, FILE-PRUNED by join
    * keys: each dim that carries affected group columns narrows to the
    * dim rows matching the affected group values, and their (bounded,
    * collected) key set becomes a `factKey IN (…)` predicate the stats
    * store prunes fact files with; fact-side group columns prune
    * directly. Any unbounded key set just drops that conjunct — the
    * predicate is a NECESSARY condition, so pruning less is always
    * safe (the post-join group predicate filters exactly). Returns the
    * scan plus how many fact files it reads (the metrics/spec hook).
    */
  private def prunedFactScan(factV: Long, dimVs: Seq[Long],
      groups: Array[org.apache.spark.sql.Row]): (DataFrame, Int) = {
    def fieldsOf(t: IncrementalTable): Set[String] =
      t.tableSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
        .map(_.toLowerCase)
    val factFields = fieldsOf(fact)
    val factIdx = groupCols.zipWithIndex
      .filter { case (c, _) => factFields(c.toLowerCase) }
    val factPred: Option[Column] =
      if (factIdx.isEmpty) None
      else Some(groups.map(r =>
        factIdx.map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)).reduce(_ || _))
    val dimPreds = dims.zipWithIndex.flatMap { case ((spec, dim), di) =>
      val dimFields = fieldsOf(dim)
      val dimIdx = groupCols.zipWithIndex
        .filter { case (c, _) => dimFields(c.toLowerCase) }
      // in a SNOWFLAKE chain the dim's join key may be a column of a
      // PREVIOUS dim, not of the fact — a `factKey IN (…)` conjunct
      // would then name a column the fact scan cannot resolve. Drop
      // it (prune less, never wrong): the post-join group predicate
      // still filters exactly
      if (dimIdx.isEmpty || !factFields(spec.factKey.toLowerCase)) None
      else {
        val dPred = groups.map(r =>
          dimIdx.map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)).reduce(_ || _)
        // pinned dim read: the key set must come from the SAME dim
        // state the recompute joins (a head read could race a dim
        // commit and prune files the pinned join still needs)
        val keys = dim.snapshotAt(dimVs(di)).where(dPred)
          .select(spec.dimKey)
          .limit(IncrementalView.MaxKeysInPredicate + 1).collect()
          .map(_.get(0))
        if (keys.length > IncrementalView.MaxKeysInPredicate ||
          keys.exists(_ == null)) None
        else Some(col(spec.factKey).isInCollection(keys.toSeq))
      }
    }
    val preds = factPred.toSeq ++ dimPreds
    if (preds.isEmpty) (fact.snapshotAt(factV), fact.files(factV).size)
    else (fact.scanAt(factV, preds: _*),
      fact.prunedFilesAt(factV, fact.files(factV), preds).size)
  }
}

object IncrementalJoinView {

  /** Manifest-meta key recording the dim versions a refresh joined
    * against ('+'-joined, [[DimSpec]] order). NOT in the carry list
    * — same stance as [[IncrementalView.WmKey]].
    */
  val DimWmKey = "viewdimwm"

  /** Canonical agg-SQL form ([[graft.plans.GraftViewRouting]]'s rule). */
  private[lake] def normSql(sql: String): String =
    sql.toLowerCase(java.util.Locale.ROOT)
      .replace("`", "").replaceAll("\\s+", "")
      .replace("count(*)", "count(1)")

  private def normHead(sql: String): String =
    normSql(sql).takeWhile(_ != '(')

  private val CountDistinctRe =
    """(?is)^\s*count\s*\(\s*distinct\s+(.+?)\s*\)\s*$""".r

  private[lake] def isCountDistinct(sql: String): Boolean =
    CountDistinctRe.pattern.matcher(sql).matches()

  private[lake] def countDistinctArg(sql: String): String = sql match {
    case CountDistinctRe(a) => a
  }

  /** `count(distinct a, b)`'s argument list, split on TOP-LEVEL commas
    * only (paren-depth and quote aware, so `concat(a, b), c` splits
    * into two arguments, not three). Multi-argument distinct counts a
    * row iff EVERY argument is non-null — Spark's `Count` semantics —
    * which both the stored aggregate and the delta touch-flag honor.
    */
  private[lake] def splitDistinctArgs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) {
        sb += c
        if (c == '\\' && quote != '`' && i + 1 < s.length) {
          sb += s(i + 1); i += 1
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; sb += c
        case '(' | '[' => depth += 1; sb += c
        case ')' | ']' => depth -= 1; sb += c
        case ',' if depth == 0 => out += sb.toString; sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    out += sb.toString
    out.toSeq.map(_.trim)
  }

  private def sumArg(sql: String): String = fnArg(sql, "sum")

  private[lake] def avgArg(sql: String): String = fnArg(sql, "avg")

  private def fnArg(sql: String, fn: String): String = {
    val t = sql.trim
    require(t.toLowerCase.startsWith(fn + "(") && t.endsWith(")"),
      s"not a $fn aggregate: $sql")
    t.substring(fn.length + 1, t.length - 1)
  }

  private def deltaExact(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Create the join view at `path` (fails on a racing create exactly
    * like [[IncrementalView.create]]), persist its definition, and run
    * the initial full materialization.
    *
    * @param aggs (outputColumn, aggregateSql): exactly one `count(*)`
    *             (group liveness) plus any number of `sum(<expr>)`
    *             over integral/decimal expressions of the joined
    *             columns, `max(<expr>)`/`min(<expr>)` over any
    *             orderable expression (hybrid-maintained), and
    *             `count(distinct <expr>)` (affected-group recompute).
    */
  def create(spark: SparkSession, fact: IncrementalTable,
      dimSpecs: Seq[DimSpec], path: String, groupCols: Seq[String],
      aggs: Seq[(String, String)],
      targetFiles: Int = IncrementalView.DefaultTargetFiles): IncrementalJoinView = {
    require(groupCols.nonEmpty, "join view needs >=1 group column")
    require(aggs.nonEmpty, "join view needs >=1 aggregate")
    require(aggs.map(_._1).distinct.size == aggs.size,
      s"duplicate aggregate output names: ${aggs.map(_._1)}")
    require(aggs.forall(a => !a._1.startsWith("__nn_")),
      "aggregate output names must not use the reserved __nn_ prefix " +
        "(it carries the stored non-null counters)")
    aggs.foreach { case (n, s) =>
      require(normSql(s) == "count(1)" || isCountDistinct(s) ||
        Set("sum", "avg", "max", "min")(normHead(s)),
        s"join view aggregate '$n' is '$s' — only count(*), sum(...), " +
          "avg(...), max(...), min(...) and count(distinct ...) are " +
          "maintainable (sums/avgs by signed delta — an avg is stored " +
          "as sum + non-null count and divided at read; extremes " +
          "hybrid: greatest/least on insert, affected-group recompute " +
          "on an extreme-deleting delete; distinct counts by " +
          "affected-group recompute)")
    }
    // multi-column `count(distinct a, b)` is supported (a row counts
    // iff EVERY argument is non-null — Spark's Count semantics; the
    // affected-group recompute machinery is argument-count agnostic),
    // but each top-level-comma piece must itself parse — otherwise the
    // failure would surface much later as an opaque ParseException
    // inside the first materialization.
    aggs.filter(a => isCountDistinct(a._2)).foreach { case (n, s) =>
      val raw = countDistinctArg(s)
      val pieces = splitDistinctArgs(raw)
      require(pieces.nonEmpty && pieces.forall(p => p.nonEmpty &&
        scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(p)).isSuccess),
        s"join view aggregate '$n' is 'count(distinct $raw)' — every " +
          "comma-separated distinct argument must parse as an expression")
    }
    val t = new IncrementalTable(spark, path)
    require(!t.exists, s"join view table already exists at $path — use open()")
    val factV = fact.latestVersion.getOrElse(
      throw new IllegalStateException(s"fact table ${fact.path} is empty"))
    val dims = dimSpecs.map(sp => sp -> new IncrementalTable(spark, sp.path))
    writeDef(spark, t, fact.path, dimSpecs, groupCols, aggs)
    val view = new IncrementalJoinView(spark, fact, dims, t, groupCols, aggs)
    val dimVs = view.currentDimVersions
    view.accType // force the delta-exactness validation before any write
    // Pin the dims to the SAME versions the watermark meta records: a
    // dim commit between the capture above and this scan would
    // otherwise bake the newer dim into the initial state while the
    // meta claimed dimVs, and the first refresh would double-apply
    // those dim deltas.
    val initial = view.storedAgg(
      view.joined(fact.snapshotAt(factV), Some(dimVs)))
    val staged = t.stage(view.clustered(initial, targetFiles))
    val v = t.commitFiles(staged, Set.empty, "create-view", maxRetries = 0,
      meta = view.wmMeta(factV, dimVs), schema = Some(initial.schema))
    require(v == 0L,
      s"concurrent create() detected at $path (initial commit landed at " +
        s"version $v, not 0) — view state is stacked; delete the view " +
        "directory and create once")
    view.last = Some(RefreshMetrics(-1L, factV, "full", -1L,
      fact.files(factV).size, fact.files(factV).size, 0, 0))
    view
  }

  /** Whether the `_viewdef` at `path` declares a JOIN view — the SQL
    * surface's dispatch between the two maintenance strategies.
    */
  def isJoinView(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_viewdef")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val in = fs.open(p)
    val head =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .nextOption().getOrElse("")
      finally in.close()
    head == DefFormat
  }

  /** Reopen from the persisted definition alone. */
  def open(spark: SparkSession, path: String): IncrementalJoinView = {
    val t = new IncrementalTable(spark, path)
    require(t.exists, s"no join view table at $path")
    val (factPath, dimSpecs, groupCols, aggs) = readDef(spark, t)
    new IncrementalJoinView(spark, new IncrementalTable(spark, factPath),
      dimSpecs.map(sp => sp -> new IncrementalTable(spark, sp.path)),
      t, groupCols, aggs)
  }

  // ---- definition persistence (`_viewdef`, join-view era marker) ----

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8.name)
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8.name)

  private val DefFormat = "graft-join-view:1"

  private def writeDef(spark: SparkSession, t: IncrementalTable,
      factPath: String, dims: Seq[DimSpec], groupCols: Seq[String],
      aggs: Seq[(String, String)]): Unit = {
    val body = (Seq(DefFormat, enc(factPath),
      dims.map(d => Seq(d.path, d.factKey, d.dimKey).map(enc).mkString(","))
        .mkString(";"),
      groupCols.map(enc).mkString(",")) ++
      aggs.map { case (a, s) => enc(a) + "=" + enc(s) }).mkString("\n")
    val p = new Path(t.path, "_viewdef")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readDef(spark: SparkSession, t: IncrementalTable)
      : (String, Seq[DimSpec], Seq[String], Seq[(String, String)]) = {
    val p = new Path(t.path, "_viewdef")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"join view at ${t.path} has no _viewdef sidecar")
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.split("\n").toSeq
    require(lines.head == DefFormat,
      s"view at ${t.path}: _viewdef format '${lines.head.take(40)}' != " +
        s"'$DefFormat' — a plain-aggregate view or a different era; " +
        "open it with the matching API or recreate")
    val dims = lines(2).split(";").toSeq.filter(_.nonEmpty).map { d =>
      val Array(pth, fk, dk) = d.split(",", 3)
      DimSpec(dec(pth), dec(fk), dec(dk))
    }
    val groupCols = lines(3).split(",").toSeq.map(dec)
    val aggs = lines.drop(4).map { l =>
      val Array(a, s) = l.split("=", 2)
      (dec(a), dec(s))
    }
    (dec(lines(1)), dims, groupCols, aggs)
  }
}
