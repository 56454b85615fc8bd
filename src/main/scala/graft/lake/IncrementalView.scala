package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a [[IncrementalView.refresh]] actually did — the observable
  * contract the specs pin: an incremental refresh must touch only the
  * changed groups' files, never O(table).
  */
final case class RefreshMetrics(
    fromSourceVersion: Long, // -1 = no watermark (full recompute)
    toSourceVersion: Long,
    mode: String, // "noop" | "incremental" | "full"
    touchedGroups: Long, // -1 for full (not computed)
    sourceFilesScanned: Int,
    sourceFilesTotal: Int,
    viewFilesRewritten: Int,
    viewFilesTotal: Int)

/** Common refresh surface of the two materialized-view strategies
  * ([[IncrementalView]] affected-key recompute, [[IncrementalJoinView]]
  * signed-delta merge) — what streaming maintenance sinks and the SQL
  * REFRESH dispatch program against.
  */
trait RefreshableView {
  /** Bring the view up to its source(s)' HEAD; returns the view
    * version (current one on no-op).
    */
  def refresh(targetFiles: Int = IncrementalView.DefaultTargetFiles): Long
}

/** An incrementally-maintained materialized aggregate over an
  * [[IncrementalTable]] — the downstream consumer the change feed and
  * row tracking exist for (Delta calls the pattern a materialized
  * view; Databricks maintains them exactly this way on top of CDF).
  *
  * ==Maintenance strategy: affected-key recompute==
  * `refresh()` reads the source's change feed from the last reflected
  * version (`viewwm` manifest meta) to HEAD, derives the DISTINCT
  * group keys touched by any insert/delete/update image, recomputes
  * the aggregate FOR THOSE KEYS ONLY from the current snapshot, and
  * commits recomputed-minus-vanished groups into the view in one
  * atomic version. Affected-key recompute (not delta accumulation)
  * is what makes ARBITRARY aggregates maintainable — `max`/`min`/
  * `count(distinct …)` cannot be decremented on delete, but they can
  * always be recomputed over one group's rows. Cost is O(changed
  * groups' rows), never O(source):
  *
  *  - when the touched-key set is small (≤ [[IncrementalView.MaxKeysInPredicate]],
  *    no NULL keys), the keys become an `isin`/equality predicate so
  *    the source re-scan prunes to matching FILES via the stats/bloom
  *    store, and the view rewrite prunes the same way — at 100 TB with
  *    a key-clustered source, a 10-key change re-reads a handful of
  *    files on each side;
  *  - otherwise the recompute is a null-safe left-semi join (shuffle
  *    sized by the change set, not the table) and the view rewrite is
  *    a full anti-join rewrite — still O(view), which for an aggregate
  *    is orders below O(source).
  *
  * ==Fallback ladder (never wrong, only slower)==
  * A source compaction/z-order in the range (file rewrite without CDC
  * — `changes()` throws), a vacuumed watermark version, or a missing
  * `viewwm` (e.g. an external maintenance commit on the view table
  * dropped the meta) all degrade to a FULL recompute of the view.
  * Refresh is idempotent by construction (recompute, not increments),
  * so a stale/torn watermark can only cause redundant work, never a
  * wrong result. Operational corollary: OPTIMIZE/compact of the VIEW
  * table also drops `viewwm` (deliberately — only a refresh may assert
  * freshness), so schedule view compaction knowing the next refresh
  * pays one full recompute; refreshes themselves re-cluster what they
  * stage, which bounds the small-file creep between compactions.
  *
  * ==Cascading==
  * Every refresh that changes rows commits a CDC sidecar on the VIEW
  * table (old rows of touched groups as `delete`, recomputed rows as
  * `insert`), so `view.table.changes(…)` feeds further downstream
  * consumers — views over views compose.
  *
  * The view definition (group columns + aggregate SQL) is persisted
  * write-once at `_viewdef` under the view path so [[IncrementalView.open]]
  * can rebuild the maintainer without the caller re-stating it; the
  * watermark lives in manifest meta so it commits ATOMICALLY with the
  * data it describes.
  */
final class IncrementalView private (
    val spark: SparkSession,
    val source: IncrementalTable,
    val table: IncrementalTable,
    val groupCols: Seq[String],
    val aggs: Seq[(String, String)]) extends RefreshableView {

  import IncrementalView._

  @volatile private var last: Option[RefreshMetrics] = None

  /** What the most recent `refresh()` on THIS handle did. */
  def lastRefresh: Option[RefreshMetrics] = last

  def snapshot(): DataFrame = table.snapshot()

  /** The source version the view currently reflects (absent if the
    * meta was lost to an external commit — next refresh goes full).
    */
  def watermark: Option[Long] =
    table.latestVersion.flatMap(v => table.metaAt(v).get(WmKey)).map(_.toLong)

  private def aggregate(df: DataFrame): DataFrame = {
    val exprs = aggs.map { case (a, s) => expr(s).as(a) }
    df.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Range-cluster by group key before staging so the file stats can
    * prune view files on the NEXT incremental refresh.
    */
  private def clustered(df: DataFrame, targetFiles: Int): DataFrame =
    df.repartitionByRange(targetFiles, groupCols.map(col): _*)
      .sortWithinPartitions(groupCols.map(col): _*)

  /** Bring the view up to the source HEAD. Returns the new view
    * version (or the current one on no-op). Concurrency-safe by a CAS
    * on the view version the refresh validated against (`requireBase`):
    * of two racing refreshes from the same base, exactly one commits
    * and the loser throws [[CommitConflictException]] — EVEN when the
    * refreshes remove no overlapping files (all-new group keys, or an
    * empty view), where removed-file arbitration alone would let both
    * land and apply the recompute twice.
    */
  override def refresh(targetFiles: Int): Long = {
    val srcV = source.latestVersion.getOrElse(
      throw new IllegalStateException(s"source table ${source.path} is empty"))
    val viewV = table.latestVersion.getOrElse(
      throw new IllegalStateException(s"view table ${table.path} has no versions"))
    val wm = watermark
    if (wm.contains(srcV)) {
      last = Some(RefreshMetrics(srcV, srcV, "noop", 0, 0,
        source.files(srcV).size, 0, table.files(viewV).size))
      return viewV
    }
    // touched group keys from the change feed; None => full recompute
    val keys: Option[DataFrame] = wm match {
      case Some(w) if w <= srcV && source.versionExists(w) =>
        try Some(source.changes(w, srcV)
          .select(groupCols.map(col): _*).distinct())
        catch { case _: IllegalStateException => None } // CDC-less rewrite
      case _ => None
    }
    keys match {
      case None       => fullRefresh(srcV, viewV, wm, targetFiles)
      case Some(keys) => incrementalRefresh(srcV, viewV, wm, keys, targetFiles)
    }
  }

  private def fullRefresh(srcV: Long, viewV: Long, wm: Option[Long],
      targetFiles: Int): Long = {
    val oldFiles = table.files(viewV)
    val next = aggregate(source.snapshotAt(srcV)).localCheckpoint()
    val added = table.stage(clustered(next, targetFiles))
    // full CDC: the entire old state deletes, the new state inserts —
    // coarse but honest, and only the fallback path pays it
    val cdc = table.snapshotAt(viewV).withColumn("_change_type", lit("delete"))
      .unionByName(next.withColumn("_change_type", lit("insert")))
    val v = table.commitFiles(added, oldFiles.toSet, "refresh",
      meta = Map(WmKey -> srcV.toString, "cdc" -> table.stageChangeData(cdc)),
      requireBase = Some(viewV))
    last = Some(RefreshMetrics(wm.getOrElse(-1L), srcV, "full", -1L,
      source.files(srcV).size, source.files(srcV).size,
      oldFiles.size, oldFiles.size))
    v
  }

  private def incrementalRefresh(srcV: Long, viewV: Long, wm: Option[Long],
      keys: DataFrame, targetFiles: Int): Long = {
    val w = wm.get
    val sample = keys.limit(MaxKeysInPredicate + 1).collect()
    if (sample.isEmpty) {
      // property-only commits in range: advance the watermark, no data
      val v = table.commitFiles(Nil, Set.empty, "refresh",
        meta = Map(WmKey -> srcV.toString), requireBase = Some(viewV))
      last = Some(RefreshMetrics(w, srcV, "noop", 0, 0,
        source.files(srcV).size, 0, table.files(viewV).size))
      return v
    }
    // a driver-side predicate is only sound when the key set is small
    // and null-free (isin/=== never match NULL)
    val pred: Option[Column] =
      if (sample.length > MaxKeysInPredicate ||
        sample.exists(r => groupCols.indices.exists(r.isNullAt))) None
      else if (groupCols.size == 1)
        Some(col(groupCols.head).isInCollection(sample.map(_.get(0)).toSeq))
      else Some(sample.map { r =>
        groupCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _))

    val srcAll = source.files(srcV)
    val (touchedSource, recomputedBase) = pred match {
      case Some(p) =>
        (source.prunedFilesAt(srcV, srcAll, Seq(p)).size,
          source.scanAt(srcV, p))
      case None =>
        val s = source.snapshotAt(srcV).alias("s")
        val k = keys.alias("k")
        val cond = groupCols.map(c => col(s"s.$c") <=> col(s"k.$c"))
          .reduce(_ && _)
        (srcAll.size, s.join(k, cond, "left_semi"))
    }
    // localCheckpoint: the recomputed frame feeds BOTH the new files
    // and the CDC sidecar — computing the change-feed scan twice (and
    // racing a concurrent source commit between the two) is worse
    val recomputed = aggregate(recomputedBase).localCheckpoint()

    val viewAll = table.files(viewV)
    val (removed, oldTouched, survivors) = pred match {
      case Some(p) =>
        val hit = table.prunedFilesAt(viewV, viewAll, Seq(p))
        val hitDf = table.snapshotOfFiles(viewV, hit.toSet.contains)
          .getOrElse(table.snapshot().limit(0))
        // NULL-keyed view rows never match a null-free pred: keep them
        (hit, hitDf.where(coalesce(p, lit(false))),
          hitDf.where(!coalesce(p, lit(false))))
      case None =>
        val s = table.snapshotAt(viewV).alias("s")
        val k = keys.alias("k")
        val cond = groupCols.map(c => col(s"s.$c") <=> col(s"k.$c"))
          .reduce(_ && _)
        (viewAll, s.join(k, cond, "left_semi"),
          s.join(k, cond, "left_anti"))
    }
    val added = table.stage(
      clustered(survivors.unionByName(recomputed), targetFiles))
    val cdc = oldTouched.withColumn("_change_type", lit("delete"))
      .unionByName(recomputed.withColumn("_change_type", lit("insert")))
    val v = table.commitFiles(added, removed.toSet, "refresh",
      meta = Map(WmKey -> srcV.toString, "cdc" -> table.stageChangeData(cdc)),
      requireBase = Some(viewV))
    last = Some(RefreshMetrics(w, srcV, "incremental",
      if (sample.length <= MaxKeysInPredicate) sample.length.toLong
      else keys.count(),
      touchedSource, srcAll.size, removed.size, viewAll.size))
    v
  }
}

object IncrementalView {
  /** Manifest-meta key holding the source version a view commit
    * reflects. Deliberately NOT in `commitFiles`' carry list: only a
    * refresh may assert freshness; any other commit drops it and the
    * next refresh degrades to full recompute instead of trusting a
    * watermark it cannot verify.
    */
  val WmKey = "viewwm"

  /** Above this many touched keys the driver-side predicate (and with
    * it file-level pruning) is abandoned for distributed semi/anti
    * joins — a bounded `collect`, same contract as the DML paths'
    * touched-file sets and the dedup indexes' key-set scans
    * ([[graft.dedup.DedupIndex.prunedScan]]).
    */
  val MaxKeysInPredicate = 256

  val DefaultTargetFiles = 8

  /** Create the view table at `path`, persist its definition, and run
    * the initial full materialization of `source` HEAD.
    *
    * @param aggs (outputColumn, aggregateSql) pairs, e.g.
    *             `("cnt", "count(*)")` — SQL strings so the definition
    *             survives a JVM (persisted, reopened by [[open]]).
    */
  def create(spark: SparkSession, source: IncrementalTable, path: String,
      groupCols: Seq[String], aggs: Seq[(String, String)],
      targetFiles: Int = DefaultTargetFiles): IncrementalView = {
    require(groupCols.nonEmpty, "materialized view needs ≥1 group column")
    require(aggs.nonEmpty, "materialized view needs ≥1 aggregate")
    val t = new IncrementalTable(spark, path)
    require(!t.exists, s"view table already exists at $path — use open()")
    val srcV = source.latestVersion.getOrElse(
      throw new IllegalStateException(s"source table ${source.path} is empty"))
    writeDef(spark, t, source.path, groupCols, aggs)
    val view = new IncrementalView(spark, source, t, groupCols, aggs)
    val initial = view.aggregate(source.snapshotAt(srcV))
      .repartitionByRange(targetFiles, groupCols.map(col): _*)
      .sortWithinPartitions(groupCols.map(col): _*)
    val added = t.stage(initial)
    // maxRetries=0: a racing create() must FAIL on the v0 manifest CAS,
    // not rebase — the default append-rebase would stack the loser's
    // initial materialization ON TOP of the winner's (every group
    // doubled, silently). The post-commit check closes the remaining
    // sliver (racer fully committed between the exists() check and the
    // base read): never silent, the message names the repair.
    val v = t.commitFiles(added, Set.empty, "create-view",
      maxRetries = 0,
      meta = Map(WmKey -> srcV.toString), schema = Some(initial.schema))
    require(v == 0L,
      s"concurrent create() detected at $path (initial commit landed at " +
        s"version $v, not 0) — view state is stacked; delete the view " +
        "directory and create once")
    view.last = Some(RefreshMetrics(-1L, srcV, "full", -1L,
      source.files(srcV).size, source.files(srcV).size, 0, 0))
    view
  }

  /** Reopen an existing view from its persisted definition, against an
    * explicitly supplied source handle (e.g. a relocated source).
    */
  def open(spark: SparkSession, source: IncrementalTable,
      path: String): IncrementalView = {
    val t = new IncrementalTable(spark, path)
    require(t.exists, s"no view table at $path")
    val (_, groupCols, aggs) = readDef(spark, t)
    new IncrementalView(spark, source, t, groupCols, aggs)
  }

  /** Reopen from the persisted definition ALONE — the source table
    * path is part of the definition, so SQL surfaces (`REFRESH
    * MATERIALIZED VIEW v`) need only the view.
    */
  def open(spark: SparkSession, path: String): IncrementalView = {
    val t = new IncrementalTable(spark, path)
    require(t.exists, s"no view table at $path")
    val (srcPath, groupCols, aggs) = readDef(spark, t)
    new IncrementalView(spark, new IncrementalTable(spark, srcPath),
      t, groupCols, aggs)
  }

  // ---- definition persistence (write-once `_viewdef` sidecar) ----
  // URL-encoding per token keeps the format delimiter-safe whatever
  // SQL the aggregates contain; the file is written before the first
  // commit, so an `open()` that can read version 0 can read the def.

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8.name)
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8.name)

  private def fsOf(spark: SparkSession, t: IncrementalTable) =
    new Path(t.path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Format marker: first line of `_viewdef`. Bump on any layout
    * change so a reader of a different era fails LOUDLY (naming the
    * mismatch) instead of mis-parsing fields positionally.
    */
  private val DefFormat = "graft-view:2"

  private def writeDef(spark: SparkSession, t: IncrementalTable,
      srcPath: String, groupCols: Seq[String],
      aggs: Seq[(String, String)]): Unit = {
    val body = (Seq(DefFormat, enc(srcPath), groupCols.map(enc).mkString(",")) ++
      aggs.map { case (a, s) => enc(a) + "=" + enc(s) }).mkString("\n")
    val p = new Path(t.path, "_viewdef")
    val out = fsOf(spark, t).create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readDef(spark: SparkSession,
      t: IncrementalTable): (String, Seq[String], Seq[(String, String)]) = {
    val fs = fsOf(spark, t)
    val p = new Path(t.path, "_viewdef")
    require(fs.exists(p), s"view at ${t.path} has no _viewdef sidecar")
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.split("\n").toSeq
    require(lines.head == DefFormat,
      s"view at ${t.path}: _viewdef format '${lines.head.take(40)}' != " +
        s"'$DefFormat' — rebuilt by a different library era; recreate " +
        "the view (drop the view directory and CREATE again)")
    val groupCols = lines(2).split(",").toSeq.map(dec)
    val aggs = lines.drop(3).map { l =>
      val Array(a, s) = l.split("=", 2)
      (dec(a), dec(s))
    }
    (dec(lines(1)), groupCols, aggs)
  }
}
