package org.apache.spark.sql.graftmerge

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.lake.IncrementalTable

/** Maintenance SQL for graft tables — the statements Delta exposes for
  * its format, parsed ahead of the session grammar (Spark has no
  * OPTIMIZE/VACUUM statement of its own, and `DESCRIBE HISTORY` would
  * otherwise mis-parse as a table describe):
  *
  * {{{
  *   OPTIMIZE lake.t                          -- bin-pack compact
  *   OPTIMIZE lake.t ZORDER BY (a, b)         -- Morton-clustered rewrite
  *   VACUUM lake.t KEEP 3 VERSIONS            -- reference-counted GC
  *   DESCRIBE HISTORY lake.t                  -- the commit log as rows
  *   CREATE MATERIALIZED VIEW lake.v AS
  *     SELECT k, count(*) AS cnt FROM lake.t GROUP BY k
  *   CREATE MATERIALIZED VIEW lake.jv AS      -- star-schema join view
  *     SELECT nation, count(*) AS cnt, sum(v) AS sv
  *     FROM lake.fact JOIN lake.dim ON ck = dk GROUP BY nation
  *   REFRESH MATERIALIZED VIEW lake.v         -- strategy from _viewdef:
  *                                            -- affected-key recompute
  *                                            -- or signed-delta merge
  * }}}
  *
  * The target is either a graft-catalog table (`lake.ns.t`, resolved
  * through [[graft.sources.GraftCatalog]]'s path convention) or a
  * quoted filesystem path. Statement heads are unambiguous, so the
  * pre-parse never shadows valid Spark SQL (the one documented
  * collision — `DESCRIBE history` meaning a table literally named
  * "history" — is the same one Delta accepts).
  */
object GraftMaintenanceSql {

  private val Optimize =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$""".r
  // bucket-cluster for storage-partitioned joins (graft extension):
  // OPTIMIZE t BUCKET BY (col, n)
  private val OptimizeBucket =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s+BUCKET\s+BY\s*\(\s*([^,\s)]+)\s*,\s*(\d+)\s*\)\s*;?\s*$""".r
  // incremental bucket maintenance: restore one-sorted-file-per-bucket
  // in O(fragmented data) — OPTIMIZE t COMPACT BUCKETS
  private val OptimizeCompactBuckets =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s+COMPACT\s+BUCKETS\s*;?\s*$""".r
  // actuator for DESCRIBE DETAIL's layout-health diagnostic: restore a
  // degraded bucket layout — OPTIMIZE t REPAIR LAYOUT
  private val OptimizeRepairLayout =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s+REPAIR\s+LAYOUT\s*;?\s*$""".r
  private val OptimizeWhere =
    """(?is)^\s*OPTIMIZE\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val Vacuum =
    """(?is)^\s*VACUUM\s+(.+?)(?:\s+KEEP\s+(\d+)\s+VERSIONS|\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$""".r
  private val History =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  private val Detail =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*$""".r
  private val RestoreVersion =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTimestamp =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r
  private val ShallowClone =
    """(?is)^\s*CREATE\s+TABLE\s+(.+?)\s+SHALLOW\s+CLONE\s+(.+?)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""".r
  private val AddConstraint =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r
  private val DropConstraint =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r
  private val DropFeature =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+FEATURE\s+([\w-]+)\s*;?\s*$""".r
  private val CreateMView =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(.+?)\s+AS\s+SELECT\s+(.+?)\s+FROM\s+(.+?)\s+GROUP\s+BY\s+(.+?)\s*;?\s*$""".r
  private val RefreshMView =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(.+?)\s*;?\s*$""".r
  // Delta's predicate-scoped insert-overwrite. The predicate is the
  // non-greedy span before the first SELECT, so it must not itself
  // contain a subquery — Delta's replaceWhere carries the same
  // deterministic-simple-predicate expectation.
  private val InsertReplaceWhere =
    """(?is)^\s*INSERT\s+INTO\s+(.+?)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.+?)\s*;?\s*$""".r
  // Delta's `CONVERT TO DELTA [parquet.]<dir>`; the optional
  // `parquet.` qualifier is accepted and ignored (parquet is the only
  // convertible format here)
  private val ConvertToGraft =
    """(?is)^\s*CONVERT\s+TO\s+GRAFT\s+(?:parquet\s*\.\s*)?(.+?)\s*;?\s*$""".r
  // Delta's COPY INTO; FILEFORMAT parquet (default) | csv | json
  private val CopyInto =
    """(?is)^\s*COPY\s+INTO\s+(.+?)\s+FROM\s+('[^']+'|"[^"]+")(?:\s+FILEFORMAT\s*=\s*(\w+))?(\s+FORCE)?\s*;?\s*$""".r

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    // before Optimize: its non-greedy target would swallow "t WHERE p"
    // (and "t BUCKET BY (...)")
    case OptimizeWhere(target, pred) =>
      Some(OptimizeWhereGraftCommand(target.trim, pred.trim))
    case OptimizeBucket(target, bcol, n) =>
      Some(OptimizeBucketGraftCommand(target.trim,
        bcol.trim.stripPrefix("`").stripSuffix("`"), n.toInt))
    case OptimizeCompactBuckets(target) =>
      Some(OptimizeCompactBucketsGraftCommand(target.trim))
    case OptimizeRepairLayout(target) =>
      Some(OptimizeRepairLayoutGraftCommand(target.trim))
    case Optimize(target, zcols) =>
      Some(OptimizeGraftCommand(target.trim,
        Option(zcols).map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)))
    case Vacuum(target, keep, hours, dry) =>
      Some(VacuumGraftCommand(target.trim,
        Option(keep).map(_.toInt).getOrElse(1),
        Option(hours).map(_.toInt),
        dryRun = dry != null))
    case History(target) => Some(DescribeHistoryGraftCommand(target.trim))
    case Detail(target) => Some(DescribeDetailGraftCommand(target.trim))
    case RestoreVersion(target, v) =>
      Some(RestoreGraftCommand(target.trim, Left(v.toLong)))
    case RestoreTimestamp(target, ts) =>
      Some(RestoreGraftCommand(target.trim, Right(ts)))
    case ShallowClone(target, source, v) =>
      Some(ShallowCloneGraftCommand(target.trim, source.trim,
        Option(v).map(_.toLong)))
    case AddConstraint(target, name, expr) =>
      Some(ConstraintGraftCommand(target.trim, name, Some(expr.trim)))
    case DropConstraint(target, name) =>
      Some(ConstraintGraftCommand(target.trim, name, None))
    case DropFeature(target, feature) =>
      Some(DropFeatureGraftCommand(target.trim, feature.trim))
    case CreateMView(target, selectList, source, groupBy) =>
      Some(CreateMaterializedViewGraftCommand(target.trim, source.trim,
        selectList.trim, splitTopLevel(groupBy)))
    case RefreshMView(target) =>
      Some(RefreshMaterializedViewGraftCommand(target.trim))
    case InsertReplaceWhere(target, pred, query) =>
      Some(InsertReplaceWhereGraftCommand(target.trim, pred.trim, query.trim))
    case ConvertToGraft(target) =>
      Some(ConvertToGraftCommand(target.trim))
    case CopyInto(target, src, fmt, force) =>
      Some(CopyIntoGraftCommand(target.trim,
        src.substring(1, src.length - 1),
        Option(fmt), force = force != null))
    // RENAME COLUMN / DROP COLUMN are NOT pre-parsed: they are standard
    // Spark SQL, routed to GraftCatalog.alterTable for catalog tables —
    // a pre-parse here would hijack the statement for non-graft tables
    case _ => None
  }

  /** Resolve the statement target to a table directory: a quoted path
    * verbatim, otherwise a multipart identifier whose head names a
    * registered [[graft.sources.GraftCatalog]].
    */
  def resolvePath(spark: SparkSession, target: String): String = {
    val t = target.trim
    if ((t.startsWith("'") && t.endsWith("'") && t.length >= 2) ||
        (t.startsWith("\"") && t.endsWith("\"") && t.length >= 2))
      return t.substring(1, t.length - 1)
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(t)
    if (parts.size >= 2 &&
        spark.sessionState.catalogManager.isCatalogRegistered(parts.head)) {
      spark.sessionState.catalogManager.catalog(parts.head) match {
        case gc: graft.sources.GraftCatalog =>
          return gc.tablePath(
            Identifier.of(parts.tail.init.toArray, parts.last))
        case _ => ()
      }
    }
    throw new IllegalArgumentException(
      s"graft maintenance SQL: '$t' is neither a graft-catalog table " +
        "(catalog.ns.table) nor a quoted path")
  }

  /** Split a select list on TOP-LEVEL commas only — commas inside
    * parentheses (`corr(a, b)`, `cast(x as decimal(18, 2))`) or quoted
    * strings stay put.
    */
  private[graftmerge] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) {
        sb += c
        // escape pairs (`\'`, doubled `''`) are literal content — a
        // comma after them must not split (see maskQuoted). Backticked
        // identifiers have NO backslash escapes (mirror maskQuoted).
        if (c == '\\' && quote != '`' && i + 1 < s.length) { sb += s(i + 1); i += 1 }
        else if (c == quote) {
          if (i + 1 < s.length && s(i + 1) == quote) { sb += quote; i += 1 }
          else quote = 0
        }
      }
      else c match {
        case '\'' | '"' | '`' => quote = c; sb += c
        case '(' => depth += 1; sb += c
        case ')' => depth -= 1; sb += c
        case ',' if depth == 0 => out += sb.toString.trim; sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    if (sb.nonEmpty) out += sb.toString.trim
    out.toSeq.filter(_.nonEmpty)
  }

  /** `s` with the CONTENTS of quoted segments (backtick/single/double)
    * masked to 'x' — same length, same offsets, so regex positions on
    * the mask are valid positions in the original.
    */
  private[graftmerge] def maskQuoted(s: String): String = {
    val out = s.toCharArray
    var quote: Char = 0
    var i = 0
    while (i < out.length) {
      val c = out(i)
      if (quote != 0) {
        if (c == '\\' && quote != '`' && i + 1 < out.length) {
          // backslash escape inside a string literal (`\'`, `\\`) —
          // both chars are content; without this, `'it\'s JOIN b'`
          // closes at the escaped quote and leaks `s JOIN b` to
          // keyword checks and splitters
          out(i) = 'x'; out(i + 1) = 'x'; i += 1
        } else if (c == quote) {
          // a doubled quote ('' / "" / ``) is SQL's escape for the
          // quote char itself, not a close — mask both and stay
          // inside the segment
          if (i + 1 < out.length && out(i + 1) == quote) {
            out(i) = 'x'; out(i + 1) = 'x'; i += 1
          } else quote = 0
        } else out(i) = 'x'
      }
      else if (c == '`' || c == '\'' || c == '"') quote = c
      i += 1
    }
    new String(out)
  }

  /** Run `f` over a quote-masked copy of `s` (for keyword checks that
    * must not fire inside quoted identifiers/paths).
    */
  private[graftmerge] def outsideQuotes(s: String, f: String => Unit): Unit =
    f(maskQuoted(s))

  /** Split `s` on `regex`, matching only OUTSIDE quoted segments —
    * the delimiters are located on the masked copy and applied to the
    * original string, so a quoted path containing the delimiter text
    * survives intact.
    */
  private[graftmerge] def splitOutsideQuotes(s: String, regex: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile(regex).matcher(maskQuoted(s))
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var last = 0
    while (m.find()) { parts += s.substring(last, m.start); last = m.end }
    parts += s.substring(last)
    parts.toSeq
  }

  private[graftmerge] def incrementalAt(spark: SparkSession, target: String): IncrementalTable = {
    val path = resolvePath(spark, target)
    val t = new IncrementalTable(spark, path)
    require(t.exists,
      s"graft maintenance SQL needs a graft table: $path")
    t
  }
}

/** `OPTIMIZE t [ZORDER BY (cols)]` — compact, or Morton-cluster so
  * every listed (numeric) column keeps prunable footer bounds. Knobs
  * ride session confs: `graft.optimize.targetFiles` (default 1 for
  * compact, 16 for zorder), `graft.optimize.zorderBits` (default 8).
  * At maintenance-cadence scale the O(table) modes give way to the
  * O(new-data) ones: `graft.optimize.minFileBytes=<n>` switches plain
  * OPTIMIZE to bin-packing ([[IncrementalTable.compactSmall]] — only
  * files under n bytes rewrite, Delta's actual OPTIMIZE semantics),
  * and `graft.optimize.zorderIncremental=true` switches ZORDER BY to
  * [[IncrementalTable.clusterZIncremental]] (only files added since
  * the last clustering commit rewrite).
  */
case class OptimizeGraftCommand(target: String, zorderCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("operation", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    def conf(k: String, d: Int) =
      spark.conf.getOption(k).map(_.toInt).getOrElse(d)
    val v =
      if (zorderCols.isEmpty)
        spark.conf.getOption("graft.optimize.minFileBytes") match {
          case Some(mb) => t.compactSmall(mb.toLong,
            spark.conf.getOption("graft.optimize.targetFileBytes")
              .map(_.toLong).getOrElse(128L << 20))
          case None => t.compact(conf("graft.optimize.targetFiles", 1))
        }
      else if (spark.conf.getOption("graft.optimize.zorderIncremental")
          .exists(_.toBoolean))
        t.clusterZIncremental(conf("graft.optimize.targetFiles", 16),
          conf("graft.optimize.zorderBits", 8), zorderCols: _*)
      else t.clusterZ(conf("graft.optimize.targetFiles", 16),
        conf("graft.optimize.zorderBits", 8), zorderCols: _*)
    Seq(Row(v, t.operationAt(v)))
  }
}

/** `OPTIMIZE t BUCKET BY (col, n)` — rewrite hash-bucketed on the
  * column for storage-partitioned joins
  * ([[IncrementalTable.bucketize]]): two tables bucketized with the
  * same n equi-join on the column with zero shuffle under
  * `spark.sql.sources.v2.bucketing.enabled` (scan-side details in
  * [[graft.sources.GraftStreamScan]]).
  */
case class OptimizeBucketGraftCommand(target: String, column: String, n: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("operation", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val v = t.bucketize(n, column)
    Seq(Row(v, t.operationAt(v)))
  }
}

/** `OPTIMIZE t COMPACT BUCKETS` — incremental bucket maintenance
  * ([[IncrementalTable.compactBuckets]]): restore one-sorted-file-per-
  * bucket (the zero-shuffle AND zero-sort join layout) by rewriting
  * only the fragmented buckets; degrades to a full re-bucketize when
  * plain-staged files mean rows may cross buckets.
  */
case class OptimizeCompactBucketsGraftCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("operation", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val v = t.compactBuckets()
    Seq(Row(v, t.operationAt(v)))
  }
}

/** `OPTIMIZE t REPAIR LAYOUT` — the actuator for the layout-health
  * diagnostic `DESCRIBE DETAIL` reports: no-op (repaired=false) when
  * the declared bucket layout already keeps its grouping+ordering
  * promises, otherwise restore it via [[IncrementalTable.repairLayout]]
  * and report the post-repair health so the one statement both fixes
  * and re-verifies.
  */
case class OptimizeRepairLayoutGraftCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("repaired", BooleanType)(),
    AttributeReference("layout_groups", BooleanType)(),
    AttributeReference("layout_ordered", BooleanType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val repairedAt = t.repairLayout()
    val v = repairedAt.getOrElse(t.latestVersion.get)
    val (g, o) = t.bucketLayoutHealth(v)
    Seq(Row(v, repairedAt.isDefined, g, o))
  }
}

/** `VACUUM t [KEEP n VERSIONS | RETAIN n HOURS] [DRY RUN]` — delete
  * data files referenced by no kept manifest. `RETAIN n HOURS`
  * (Delta's spelling) keeps every version committed within the window
  * (plus the latest, always): the cutoff converts to a keep-count via
  * the commit timestamps, then runs the same reference-counted GC.
  * `DRY RUN` (also Delta's) lists the files that WOULD be deleted,
  * touching nothing.
  */
case class VacuumGraftCommand(
    target: String, keepLast: Int, retainHours: Option[Int] = None,
    dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("path", StringType)())
    else Seq(AttributeReference("kept_from_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val keep = retainHours match {
      case None => keepLast
      case Some(h) =>
        val cutoff = System.currentTimeMillis() - h * 3600_000L
        val recent = t.history()
          .filter(org.apache.spark.sql.functions.col("committed_at") >=
            new java.sql.Timestamp(cutoff))
          .count().toInt
        math.max(1, recent)
    }
    if (dryRun) t.vacuumPreview(keep).map(Row(_))
    else {
      t.vacuum(keep)
      Seq(Row(t.latestVersion.map(v => math.max(0L, v - keep + 1)).getOrElse(0L)))
    }
  }
}

/** `DESCRIBE DETAIL t` — current-state summary (Delta's command): the
  * resolved location, latest version, file count and total bytes, and
  * whether deletion vectors are pending materialization.
  */
case class DescribeDetailGraftCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("numFiles", IntegerType)(),
    AttributeReference("sizeInBytes", LongType)(),
    AttributeReference("numDeletionVectorRows", LongType)(),
    AttributeReference("columns", StringType)(),
    AttributeReference("properties", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val v = t.latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table at ${t.path}"))
    val fls = t.files(v)
    val dataDir = new org.apache.hadoop.fs.Path(t.path, "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fls.map(f => fs.getFileStatus(t.dataPath(f)).getLen).sum
    val dvRows = t.metaAt(v).get("dv") match {
      case None => 0L
      case Some(n) => spark.read
        .parquet(new org.apache.hadoop.fs.Path(t.path, s"_dv/$n").toString).count()
    }
    // user-facing (logical) names — renamed/dropped columns apply
    val cols = t.logicalSchema.map(_.fieldNames.mkString(", ")).getOrElse("")
    val rf = t.readerFeaturesAt(v)
    val props = Seq(
      if (t.bloomColumns.nonEmpty)
        Some(s"graft.bloomColumns=${t.bloomColumns.mkString(",")}") else None,
      if (t.writeOrder.nonEmpty)
        Some(s"graft.writeOrder=${t.writeOrder.mkString(",")}") else None,
      if (t.typeWideningEnabled)
        Some("graft.enableTypeWidening=true") else None,
      if (t.optimizeWriteEnabled)
        Some("graft.autoOptimize.optimizeWrite=true") else None,
      if (t.autoCompactEnabled)
        Some("graft.autoOptimize.autoCompact=true") else None,
      t.joinBucketSpecAt(v).map { case (n, c) =>
        // the CURRENT live file set's health under the scan's own
        // grouping rules (plain-staged files, stale spec, widened hash
        // type all break it — the scan will not SPJ a broken layout);
        // `sorted` additionally promises the sort-free merge join
        val (groupable, sorted) = t.bucketLayoutHealth(v)
        s"graft.bucketBy=$c,$n" + (
          if (!groupable) " (layout broken)"
          else if (sorted) " (groupable, sorted)"
          else " (groupable)")
      },
      if (rf.nonEmpty)
        Some(s"readerFeatures=${rf.toSeq.sorted.mkString(",")}") else None,
      if (t.constraints.nonEmpty)
        Some(s"constraints=${t.constraints.keys.toSeq.sorted.mkString(",")}")
      else None).flatten.mkString("; ")
    Seq(Row("graft", t.path, v, fls.size, bytes, dvRows, cols, props))
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n` / `TO TIMESTAMP AS OF 'ts'` —
  * rewind to an earlier version as a NEW commit (history preserved,
  * restore undoable; Delta RESTORE semantics via
  * [[IncrementalTable.restore]]).
  */
case class RestoreGraftCommand(target: String, to: Either[Long, String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType)(),
    AttributeReference("committed_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val v = to match {
      case Left(ver) => ver
      case Right(ts) =>
        val ms = graft.lake.IncrementalTable.parseTimestampMillis(ts)
        t.versionAsOfTimestamp(ms).getOrElse(throw new IllegalArgumentException(
          s"graft RESTORE: no version committed at or before '$ts'"))
    }
    Seq(Row(v, t.restore(v)))
  }
}

/** `CREATE TABLE t SHALLOW CLONE src [VERSION AS OF n]` — zero-copy
  * clone via `ext:` file references (see
  * [[IncrementalTable.cloneFrom]]). Both names resolve through the
  * graft catalog (or quoted paths).
  */
case class ShallowCloneGraftCommand(
    target: String, source: String, version: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("cloned_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftMaintenanceSql.incrementalAt(spark, source)
    val dstPath = GraftMaintenanceSql.resolvePath(spark, target)
    val dst = new IncrementalTable(spark, dstPath)
    dst.cloneFrom(src, version)
    Seq(Row(version.getOrElse(src.latestVersion.get)))
  }
}

/** `CONVERT TO GRAFT [parquet.]<dir>` — adopt a directory of plain
  * parquet files as a graft table in place
  * ([[IncrementalTable.convertInPlace]]): O(#files) renames into
  * `data/`, footer-stats harvest, one v0 manifest; no data copied.
  * Accepts a quoted path, a Delta-style backtick path (with or
  * without the `parquet.` qualifier), or a graft-catalog name whose
  * directory already holds the files.
  */
case class ConvertToGraftCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType)(),
    AttributeReference("files_adopted", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = target.trim
    val path =
      if (t.startsWith("`") && t.endsWith("`") && t.length >= 2)
        t.substring(1, t.length - 1)
      else GraftMaintenanceSql.resolvePath(spark, t)
    val table = new IncrementalTable(spark, path)
    table.convertInPlace()
    Seq(Row(path, table.files(0L).size))
  }
}

/** `COPY INTO t FROM '<dir>' [FILEFORMAT = PARQUET|CSV|JSON]
  * [FORCE]` — Delta's idempotent file ingestion
  * ([[IncrementalTable.copyInto]]): each source file loads EXACTLY
  * ONCE across re-runs (the ingested set rides a `_copylog` sidecar
  * committed atomically with the data); `FORCE` reloads. CSV/JSON
  * read under the TABLE's schema (no inference); unknown formats are
  * rejected up front.
  */
case class CopyIntoGraftCommand(
    target: String, srcDir: String, fileFormat: Option[String],
    force: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("files_loaded", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    // unlike the other maintenance targets, COPY INTO may CREATE the
    // table (first parquet ingest into an empty path commits v0; the
    // text formats need an existing schema and say so)
    val t = new IncrementalTable(spark,
      GraftMaintenanceSql.resolvePath(spark, target))
    val (v, n) = t.copyInto(srcDir, force = force,
      format = fileFormat.getOrElse("parquet"))
    Seq(Row(v, n))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` / `DROP CONSTRAINT
  * name` — Delta table constraints: CHECK expressions live in the
  * manifest meta, are validated against existing rows when added, and
  * gate every later data-introducing write (violation = expression
  * FALSE; NULL passes, the SQL standard).
  */
case class ConstraintGraftCommand(
    target: String, name: String, checkExpr: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("committed_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val v = checkExpr match {
      case Some(e) => t.addConstraint(name, e)
      case None => t.dropConstraint(name)
    }
    Seq(Row(v))
  }
}

/** `ALTER TABLE t DROP FEATURE type-widening` (Delta's DROP FEATURE):
  * retire a reader-feature demand once its on-disk precondition is
  * gone — validation and the pinned clearing commit live in
  * [[IncrementalTable.dropTypeWideningDemand]]. Only features with a
  * droppable state are accepted; the rest name themselves in the
  * error instead of silently succeeding.
  */
case class DropFeatureGraftCommand(target: String, feature: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("committed_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val v = feature match {
      case "type-widening" => t.dropTypeWideningDemand()
      case other => throw new IllegalArgumentException(
        s"graft: DROP FEATURE supports 'type-widening'; '$other' is " +
          "either unknown or derives from live state that must be " +
          "materialized away instead (column-mapping/deletion-vectors " +
          "clear via OPTIMIZE)")
    }
    Seq(Row(v))
  }
}

/** `DESCRIBE HISTORY t` — the commit log, newest first. */
case class DescribeHistoryGraftCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("operation", StringType)(),
    AttributeReference("numFiles", IntegerType)(),
    AttributeReference("committed_at", TimestampType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    t.history().collect().toSeq
  }
}

/** `CREATE MATERIALIZED VIEW v AS SELECT <aggs> FROM t GROUP BY <cols>`
  * — materialize an incrementally-maintainable aggregate
  * ([[graft.lake.IncrementalView]]) of a graft table. The statement is
  * deliberately restricted to the maintainable shape — a single
  * GROUP BY aggregate over one source table: group columns appear bare
  * in the select list, every aggregate must be aliased (`expr AS
  * name`), and the view schema is group columns first, aggregates
  * after, whatever the select-list order. Neither statement head is
  * valid Spark SQL, so the pre-parse shadows nothing.
  */
case class CreateMaterializedViewGraftCommand(
    target: String, source: String, selectList: String,
    groupCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType)(),
    AttributeReference("reflects_source_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val viewPath = GraftMaintenanceSql.resolvePath(spark, target)
    val items = GraftMaintenanceSql.splitTopLevel(selectList)
    val aliased = """(?is)^(.+\S)\s+AS\s+(\w+)$""".r
    val aggs = items.flatMap {
      case bare if bare.matches("""(?s)^[\w`.]+$""") =>
        val name = bare.stripPrefix("`").stripSuffix("`")
        require(groupCols.contains(name),
          s"CREATE MATERIALIZED VIEW: bare select item '$bare' must be " +
            "a GROUP BY column; aggregates need an alias (expr AS name)")
        None
      case aliased(expr, alias) => Some(alias -> expr.trim)
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: cannot parse select item '$other' — " +
          "use a bare GROUP BY column or '<aggregate expr> AS <alias>'")
    }
    // a JOIN chain in the FROM clause selects the delta-maintained
    // star-schema strategy (IncrementalJoinView); a single table the
    // affected-key recompute one (IncrementalView). Only bare inner
    // JOIN is delta-maintainable — reject every other join type UP
    // FRONT (a LEFT/OUTER keyword would otherwise land inside an
    // adjacent table token and fail later with a misleading 'no graft
    // table' error), and split outside quoted segments so a quoted
    // path containing the word ' join ' stays one token.
    val unsupported = """(?i)\b(LEFT|RIGHT|FULL|OUTER|CROSS|SEMI|ANTI|NATURAL)\s+(OUTER\s+)?JOIN\b""".r
    GraftMaintenanceSql.outsideQuotes(source, s =>
      unsupported.findFirstIn(s).foreach { kw =>
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW: '${kw.trim}' is not supported — " +
            "only inner 'JOIN <dim> ON <factKey> = <dimKey>' chains are " +
            "delta-maintainable (outer/semi/anti joins are not)")
      })
    val parts = GraftMaintenanceSql
      .splitOutsideQuotes(" " + source + " ",
        """(?i)\s+(?:INNER\s+)?JOIN\s+""") // INNER JOIN == bare JOIN
      .map(_.trim).toSeq
    // opt-in transparent serving: a view created through SQL can
    // register itself with the routing rule in the same statement, so
    // matching aggregates over the source immediately read O(view)
    val autoRoute = spark.conf
      .get("spark.graft.viewRouting.autoRegister", "false").toBoolean
    if (parts.length == 1) {
      val src = GraftMaintenanceSql.incrementalAt(spark, source)
      val view = graft.lake.IncrementalView.create(
        spark, src, viewPath, groupCols, aggs)
      if (autoRoute) graft.plans.GraftViewRouting.register(spark, viewPath)
      Seq(Row(viewPath, view.watermark.getOrElse(-1L)))
    } else {
      val fact = GraftMaintenanceSql.incrementalAt(spark, parts.head)
      val onRe = """(?is)^(.+?)\s+ON\s+([\w`.]+)\s*=\s*([\w`.]+)$""".r
      val dims = parts.tail.map {
        case onRe(dimTarget, a, b) =>
          val dimPath = GraftMaintenanceSql.resolvePath(spark, dimTarget.trim)
          val dim = new graft.lake.IncrementalTable(spark, dimPath)
          require(dim.exists,
            s"CREATE MATERIALIZED VIEW: no graft table at $dimPath")
          // resolve which ON operand is the dim's key from its schema
          // (qualifier-stripped) — the other side is the fact/chain key
          val dimFields = dim.tableSchema.map(_.fieldNames.toSet)
            .getOrElse(Set.empty).map(_.toLowerCase)
          def base(c: String) =
            c.substring(c.lastIndexOf('.') + 1).stripPrefix("`").stripSuffix("`")
          val (l, r) = (base(a), base(b))
          val (factKey, dimKey) =
            if (dimFields(r.toLowerCase) && !dimFields(l.toLowerCase)) (l, r)
            else if (dimFields(l.toLowerCase) && !dimFields(r.toLowerCase)) (r, l)
            else throw new IllegalArgumentException(
              s"CREATE MATERIALIZED VIEW: cannot attribute ON $a = $b — " +
                s"exactly one side must be a column of $dimPath")
          graft.lake.DimSpec(dimPath, factKey, dimKey)
        case other => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW: cannot parse join '$other' — " +
            "use '<dim table> ON <factKey> = <dimKey>'")
      }
      val view = graft.lake.IncrementalJoinView.create(
        spark, fact, dims, viewPath, groupCols, aggs)
      if (autoRoute) graft.plans.GraftViewRouting.registerJoin(spark, viewPath)
      Seq(Row(viewPath, view.watermark.getOrElse(-1L)))
    }
  }
}

/** `OPTIMIZE t WHERE <pred>` — predicate-scoped compaction
  * ([[IncrementalTable.compactWhere]]): only files whose stats admit a
  * match are rewritten; commits `datachange=false` so feeds/streams
  * skip it. Delta's partition-predicate OPTIMIZE, generalized to any
  * stats-prunable predicate.
  */
case class OptimizeWhereGraftCommand(target: String, predSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("files_rewritten", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val before = t.latestVersion.map(v => t.files(v).toSet).getOrElse(Set.empty)
    val v = t.compactWhere(
      org.apache.spark.sql.functions.expr(predSql),
      targetFiles = spark.conf.getOption("graft.optimize.targetFiles")
        .map(_.toInt).getOrElse(1))
    Seq(Row(v, (before -- t.files(v).toSet).size))
  }
}

/** `INSERT INTO t REPLACE WHERE <pred> SELECT ...` — Delta's
  * predicate-scoped insert-overwrite, routed to
  * [[IncrementalTable.overwriteWhere]]: ONE atomic commit deletes the
  * predicate's slice and inserts the query result, incoming rows
  * constrained to the predicate, CDC carrying both sides.
  */
case class InsertReplaceWhereGraftCommand(
    target: String, predSql: String, query: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftMaintenanceSql.incrementalAt(spark, target)
    val df = spark.sql(query)
    Seq(Row(t.overwriteWhere(
      org.apache.spark.sql.functions.expr(predSql), df)))
  }
}

/** `REFRESH MATERIALIZED VIEW v` — bring the view up to its source's
  * HEAD via [[graft.lake.IncrementalView.refresh]] (affected-key
  * recompute; the output row says what the refresh actually did).
  */
case class RefreshMaterializedViewGraftCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mode", StringType)(),
    AttributeReference("from_source_version", LongType)(),
    AttributeReference("to_source_version", LongType)(),
    AttributeReference("touched_groups", LongType)(),
    AttributeReference("view_files_rewritten", IntegerType)(),
    AttributeReference("view_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val viewPath = GraftMaintenanceSql.resolvePath(spark, target)
    // the routing opt-in re-attaches here too: registration is
    // session state, so after a restart the first REFRESH of a
    // serving view must re-enable its rewrite, not just its data
    val autoRoute = spark.conf
      .get("spark.graft.viewRouting.autoRegister", "false").toBoolean
    // dispatch on the persisted definition's era marker: join views
    // refresh by signed delta, plain views by affected-key recompute
    val (v, m) =
      if (graft.lake.IncrementalJoinView.isJoinView(spark, viewPath)) {
        val view = graft.lake.IncrementalJoinView.open(spark, viewPath)
        val r = (view.refresh(), view.lastRefresh.get)
        if (autoRoute) graft.plans.GraftViewRouting.registerJoin(spark, viewPath)
        r
      } else {
        val view = graft.lake.IncrementalView.open(spark, viewPath)
        val r = (view.refresh(), view.lastRefresh.get)
        if (autoRoute) graft.plans.GraftViewRouting.register(spark, viewPath)
        r
      }
    Seq(Row(m.mode, m.fromSourceVersion, m.toSourceVersion,
      m.touchedGroups, m.viewFilesRewritten, v))
  }
}
