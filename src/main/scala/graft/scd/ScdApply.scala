package graft.scd

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The two merge sources produced by one SCD split, both derived from ONE
  * target snapshot (scd_handler.py:71) — the ordering contract of the
  * reference's lifecycle (SURVEY.md §3.1).
  *
  * @param inactiveUpdates rows closing superseded versions (merge #1 source)
  * @param activeUnion     current-version upserts: every incoming row for an
  *                        existing key, plus brand-new keys (merge #2 source)
  * @param now             the single driver-side timestamp of this run
  */
final case class ScdDelta(
    inactiveUpdates: DataFrame,
    activeUnion: DataFrame,
    now: Timestamp)

/** A batch stamped for the kernel ([[ScdApply.stamp]]).
  *
  * @param rows       table-shaped, table-typed stamped rows plus helpers
  * @param selectCols the source columns the batch assigns (step 2)
  */
final case class ScdStamped(rows: DataFrame, selectCols: Seq[String])

/** Hybrid SCD1 + SCD2 apply — the reference's flagship operator
  * (`apply_scd`, scd_handler.py:58-163), as a pure DataFrame planner.
  *
  * The reference's steps (each cites the lines it reproduces):
  *  1. snapshot dedup: latest version per business key ([[Snapshot]];
  *     scd_handler.py:70-75)
  *  2. column bookkeeping (scd_handler.py:79-83): `selectCols` stripped of
  *     system columns; upd-key columns computed BEFORE the scd-key list is
  *     extended with the pk — so pk columns participate in `upd_key`
  *  3. stamping (scd_handler.py:95-105): status 'A', effective interval,
  *     dw timestamps from ONE driver-captured clock value, both hash keys
  *  4. split: inner pk-join = existing keys (scd_handler.py:111-119);
  *     among those, changed `scd_key` yields the target-side row to close
  *     (scd_handler.py:121-124); left-anti = new keys, which take
  *     `effective_from = initial_effective_from` (scd_handler.py:126-134)
  *  5. close: changed target rows get status 'I' and
  *     `effective_to = incoming effective_from` (scd_handler.py:142-149)
  *  6. the two Delta merges (scd_handler.py:152,163), merge #2 against
  *     merge #1's output state, exactly like Delta's post-commit re-read
  *     (SURVEY.md §3.1).
  *
  * Two implementations of that lifecycle live here:
  *
  *  - the KERNEL ([[stamp]] + [[merge]], composed by [[nextState]]) —
  *    what every SCD apply runs. Every step keys on the business key, so
  *    one exchange suffices: the stamped source (steps 2-3, cast to the
  *    table's column types with MERGE's insert cast) is unioned with the
  *    target, repartitioned ONCE by a function of the key, sorted within
  *    partitions by key (target rows first, latest version first) and
  *    each key group is resolved in one streaming pass that reproduces
  *    steps 1 and 4-6 row for row: every matched (target, update) pair
  *    of both merges is emitted, unmatched updates are inserted, null key
  *    parts never match, and SQL NULL in a hash-key comparison is
  *    "no match" / "no change". No join, no window, one shuffle; at most
  *    one key group is buffered at a time;
  *  - the literal port ([[viaMerges]]: [[split]] feeding
  *    [[MergeEmulator]] twice) — the reference's `delta_merge`
  *    composition, kept as the reference port (its [[MergeResult]]
  *    carries the `history(1)` merge metrics) and as the oracle the
  *    kernel is tested against (`ScdKernelDifferentialSpec`).
  *
  * Nothing here collects to the driver.
  */
object ScdApply {
  import ScdConfig.SystemCols

  /** Steps 2-3: the stamped source (`selectCols ++ SystemCols :+
    * initial_effective_from`, source types) and the selected columns.
    */
  private def stampActive(
      source: DataFrame, cfg: ScdConfig, now: Timestamp): (DataFrame, Seq[String]) = {
    val currentTs = lit(now)
    // -- step 2: column bookkeeping (order is load-bearing, see Scaladoc)
    val selectCols =
      cfg.selectCols.getOrElse(source.columns.toSeq).filterNot(SystemCols.contains)
    val updKeyCols =
      selectCols.filterNot(c => cfg.scdKeyCols.contains(c) || SystemCols.contains(c))
    val scdKeyCols =
      cfg.scdKeyCols ++ cfg.pkCols.filterNot(cfg.scdKeyCols.contains)

    // -- step 3: stamping
    val effectiveFromTs =
      cfg.effectiveFromCol.map(c => col(c).cast("timestamp")).getOrElse(currentTs)
    val initialEffTs =
      cfg.initialEffDateCol.map(c => col(c).cast("timestamp")).getOrElse(effectiveFromTs)
    val activeData = source
      .withColumn("record_status", lit("A"))
      .withColumn("effective_from", coalesce(effectiveFromTs, currentTs))
      .withColumn("initial_effective_from", coalesce(initialEffTs, currentTs))
      .withColumn("effective_to", lit(null).cast("timestamp"))
      .withColumn("dw_inserted_at", currentTs)
      .withColumn("dw_updated_at", currentTs)
      .withColumn("scd_key", Hashing.key(scdKeyCols))
      .withColumn("upd_key", Hashing.key(updKeyCols))
      .selectExpr(selectCols ++ SystemCols :+ "initial_effective_from": _*)
    (activeData, selectCols)
  }

  /** Steps 1-5: compute both merge sources from one snapshot. */
  def split(targetSnapshot: DataFrame, source: DataFrame, cfg: ScdConfig): ScdDelta = {
    val now = Timestamp.from(cfg.clock())
    val currentTs = lit(now)

    val targetDf = Snapshot.latestPerKey(targetSnapshot, cfg.pkCols)
    val (activeData, selectCols) = stampActive(source, cfg, now)

    // -- step 4: split on existing vs new business keys
    val pkJoin = cfg.pkCols
      .map(c => col(s"active_df.$c") === col(s"target_df.$c"))
      .reduce(_ && _)
    val processed = activeData.alias("active_df")
      .join(targetDf.alias("target_df"), pkJoin, "inner")

    val activeProcessed = processed.selectExpr("active_df.*")

    val inactiveToClose = processed
      .filter(col("active_df.scd_key") =!= col("target_df.scd_key"))
      .selectExpr(
        (selectCols.map(c => s"target_df.$c") :+
          "active_df.effective_from as active_eff_from"): _*)

    val activeNew = activeData.alias("active_df")
      .join(targetDf.alias("target_df"), pkJoin, "left_anti")
      .selectExpr("active_df.*")
      .withColumn("effective_from", col("initial_effective_from"))

    val activeUnion =
      activeProcessed.unionByName(activeNew).drop("initial_effective_from")

    // -- step 5: close superseded versions
    val inactiveUpdates = inactiveToClose
      .withColumn("record_status", lit("I"))
      .withColumn("effective_to", col("active_eff_from"))
      .withColumn("dw_inserted_at", currentTs) // excluded from the update set
      .withColumn("dw_updated_at", currentTs)
      .drop("active_eff_from")

    ScdDelta(inactiveUpdates, activeUnion, now)
  }

  /** The reference's literal composition: [[split]], then both
    * [[MergeEmulator]] merges, merge #2 over merge #1's output. Returns
    * merge #2's result (next state and its operation metrics).
    */
  def viaMerges(targetSnapshot: DataFrame, source: DataFrame, cfg: ScdConfig): MergeResult = {
    val delta = split(targetSnapshot, source, cfg)
    val afterClose =
      MergeEmulator.merge(targetSnapshot, delta.inactiveUpdates, cfg.pkCols).next
    MergeEmulator.merge(afterClose, delta.activeUnion, cfg.pkCols, isActiveData = true)
  }

  // helper columns the kernel carries next to the table's own
  private val InitialFrom = "__scd_initial_from"
  private val CloseTo = "__scd_close_to"
  private val FromSource = "__scd_from_source"

  /** Kernel input: steps 2-3 with ONE clock read, shaped and typed like
    * `tableSchema` — every selected and system column cast to the
    * table's type (MERGE's insert cast), every other table column NULL —
    * plus the new-key `effective_from` and the closing `effective_to`
    * this row would produce. Hashes are taken over the SOURCE values,
    * before the cast, as [[split]] does. Keys are table-typed, so a
    * bucket function of the key computed here agrees with the bucket the
    * table stored the key's rows under.
    */
  def stamp(source: DataFrame, tableSchema: StructType, cfg: ScdConfig): ScdStamped = {
    val (active, selectCols) = stampActive(source, cfg, Timestamp.from(cfg.clock()))
    val missing = (selectCols ++ SystemCols).filterNot(tableSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"SCD columns missing from the table: ${missing.mkString(", ")}")
    val assigned = (selectCols ++ SystemCols).toSet
    ScdStamped(active.select(tableSchema.fields.map { f =>
      (if (assigned(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    } ++ Seq(
      col("initial_effective_from")
        .cast(tableSchema("effective_from").dataType).as(InitialFrom),
      col("effective_from").cast(tableSchema("effective_to").dataType).as(CloseTo)
    ): _*), selectCols)
  }

  /** The kernel: the next state of `target` after applying a [[stamp]]ed
    * batch — the same rows, as a multiset, as [[viaMerges]]. One
    * exchange: `partitioning = Some((e, n))` repartitions by `e` into `n`
    * partitions (`e` must be a function of the key columns —
    * [[graft.lake.IncrementalScdTable]] passes its bucket expression, so
    * the output stays bucket-aligned for the partitioned write); `None`
    * hash-partitions by the key columns.
    */
  def merge(
      target: DataFrame, stamped: ScdStamped, cfg: ScdConfig,
      partitioning: Option[(Column, Int)] = None): DataFrame = {
    val schema = target.schema
    val selected = stamped.selectCols
    val effFrom = schema("effective_from").dataType
    val effTo = schema("effective_to").dataType
    val targetRows = target.select(schema.fieldNames.map(col) ++ Seq(
      lit(null).cast(effFrom).as(InitialFrom), lit(null).cast(effTo).as(CloseTo),
      lit(false).as(FromSource)): _*)
    val sourceRows = stamped.rows.select(
      schema.fields.map(f => col(f.name).cast(f.dataType)) ++ Seq(col(InitialFrom).cast(effFrom),
        col(CloseTo).cast(effTo), lit(true).as(FromSource)): _*)
    val both = targetRows.union(sourceRows)
    val exchanged = partitioning match {
      case Some((e, n)) => both.repartition(n, e)
      case None => both.repartition(cfg.pkCols.map(col): _*)
    }
    // key groups are contiguous; inside one, target rows come first in
    // Snapshot.latestPerKey's order (its row_number() = 1 leads)
    val sorted = exchanged.sortWithinPartitions(cfg.pkCols.map(col(_).asc) ++ Seq(
      col(FromSource).asc, col("dw_inserted_at").desc,
      coalesce(col("effective_to"), current_timestamp()).desc): _*)
    val idx = schema.fieldNames.zipWithIndex.toMap
    val pass = new KeyPass(
      width = schema.length,
      pk = cfg.pkCols.map(idx).toArray,
      select = selected.map(idx).toArray,
      upsertSet = (selected ++ SystemCols)
        .filterNot(Set("dw_inserted_at", "effective_from")).map(idx).toArray,
      status = idx("record_status"), from = idx("effective_from"),
      to = idx("effective_to"), inserted = idx("dw_inserted_at"),
      updated = idx("dw_updated_at"), scdKey = idx("scd_key"), updKey = idx("upd_key"))
    val out = StructType(schema.fields.map(_.copy(nullable = true)))
    sorted.mapPartitions(pass.run _)(Encoders.row(out))
  }

  /** Full next table state: the kernel over `targetSnapshot`, keyed by
    * the business key. The caller owns persistence
    * ([[graft.lake.IncrementalScdTable.applyScd]] runs [[merge]] over
    * the touched slice instead).
    */
  def nextState(targetSnapshot: DataFrame, source: DataFrame, cfg: ScdConfig): DataFrame =
    merge(targetSnapshot, stamp(source, targetSnapshot.schema, cfg), cfg)

  /** The per-key pass of [[merge]]. Input rows are table-shaped (column
    * indices below) followed by the three helper columns; within a key
    * group target rows come first, latest version first. Each group is
    * resolved on its own: split, merge #1 (close), merge #2 (upsert).
    */
  private final class KeyPass(
      width: Int, pk: Array[Int], select: Array[Int], upsertSet: Array[Int],
      status: Int, from: Int, to: Int, inserted: Int, updated: Int,
      scdKey: Int, updKey: Int) extends Serializable {

    private val initialFrom = width
    private val closeTo = width + 1
    private val fromSource = width + 2
    private val closeSet = select ++ Array(status, to, updated)

    def run(rows: Iterator[Row]): Iterator[Row] = {
      val in = rows.buffered
      val groups = new Iterator[ArrayBuffer[Row]] {
        def hasNext: Boolean = in.hasNext
        def next(): ArrayBuffer[Row] = {
          val first = in.next()
          val g = ArrayBuffer(first)
          // a NULL key part never matches (SQL `=`): such a row is its own group
          if (!hasNullKey(first))
            while (in.hasNext && sameKey(first, in.head)) g += in.next()
          g
        }
      }
      groups.flatMap(resolve)
    }

    private def hasNullKey(r: Row): Boolean = pk.exists(r.isNullAt)

    private def sameKey(a: Row, b: Row): Boolean =
      !hasNullKey(b) && pk.forall { i =>
        (a.get(i), b.get(i)) match {
          case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
          case (x, y) => x == y
        }
      }

    /** SQL `a <> b`: true only when both are non-NULL and differ. */
    private def differs(a: Any, b: Any): Boolean = a != null && b != null && a != b

    /** SQL `a = b`: true only when both are non-NULL and equal. */
    private def equal(a: Any, b: Any): Boolean = a != null && b != null && a == b

    private def active(r: Array[Any]): Boolean = r(to) == null && r(status) == "A"

    private def values(r: Row): Array[Any] = Array.tabulate(width)(r.get)

    /** `base` with the `cols` of `src` assigned — a MERGE update image. */
    private def assign(base: Array[Any], src: Array[Any], cols: Array[Int]): Array[Any] = {
      val r = base.clone()
      cols.foreach(i => r(i) = src(i))
      r
    }

    private def resolve(group: ArrayBuffer[Row]): Iterator[Row] = {
      val (sources, targetRows) = group.partition(_.getBoolean(fromSource))
      val targets = targetRows.map(values)
      val latest = targets.headOption
      // split: every incoming row is an upsert (a new key starts at its
      // initial effective date); a changed scd_key also closes the
      // latest version — merge #1's source row
      val upserts = sources.map { s =>
        val u = values(s)
        if (latest.isEmpty) u(from) = s.get(initialFrom)
        u
      }
      val closes = latest.toSeq.flatMap { l =>
        sources.filter(s => differs(s.get(scdKey), l(scdKey))).map { s =>
          val c = new Array[Any](width)
          select.foreach(i => c(i) = l(i))
          c(status) = "I"
          c(to) = s.get(closeTo)
          c(inserted) = s.get(inserted)
          c(updated) = s.get(updated)
          c
        }
      }
      // merge #1: every active target row pairs with every close row;
      // closes that meet no active row are inserted as they are
      val afterClose = targets.flatMap { t =>
        if (closes.nonEmpty && active(t)) closes.map(assign(t, _, closeSet)) else Seq(t)
      } ++ (if (targets.exists(active)) Nil else closes)
      // merge #2: active rows pair with upserts of the same scd_key; a
      // changed upd_key is the SCD1 in-place update, else the row stays
      val afterUpsert = afterClose.flatMap { m =>
        val hits = if (active(m)) upserts.filter(u => equal(m(scdKey), u(scdKey))) else Nil
        if (hits.isEmpty) Seq(m)
        else hits.map(u => if (differs(m(updKey), u(updKey))) assign(m, u, upsertSet) else m)
      }
      val unmatched = upserts.filterNot(u =>
        afterClose.exists(m => active(m) && equal(m(scdKey), u(scdKey))))
      (afterUpsert.iterator ++ unmatched.iterator).map(new GenericRow(_))
    }
  }
}
