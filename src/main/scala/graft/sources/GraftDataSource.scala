package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetDataSourceV2, ParquetTable}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.IncrementalTable

/** DataSource surface for [[graft.lake.IncrementalTable]]:
  *
  * {{{
  *   spark.read.format("graft").load(path)                       // latest
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   spark.read.format("graft").option("timestampAsOf", "2026-01-01 00:00:00").load(path)
  *   df.write.format("graft").mode("overwrite" | "append").save(path)
  * }}}
  *
  * READ: the requested version resolves through the table's commit
  * manifests to its data-file list (uncommitted/crashed writers' files
  * stay invisible), then bytes are served by Spark's own parquet DSv2
  * on exactly those files — predicate pushdown, column pruning and
  * vectorized reads are all inherited, not re-implemented. Same
  * layering Delta uses: the table format owns version→file resolution,
  * the engine's parquet reader owns bytes.
  *
  * WRITE: every `save` commits a NEW version through the manifest
  * protocol (v1 `CreatableRelationProvider` path — the exposed Table is
  * deliberately read-only so `DataFrameWriter` falls back to it).
  * `Overwrite` commits the frame as a full snapshot (or, with
  * `replaceWhere`, replaces only the matching slice); `Append` commits
  * the frame's files on top of the current version. A save to a path
  * with no table creates one, so a connector-made table streams, takes
  * DML and MERGE like any other.
  *
  * Time travel mirrors Delta's reader options (`versionAsOf` /
  * `timestampAsOf`, the surface the reference's platform exposes).
  *
  * STREAM: `spark.readStream.format("graft").load(path)` tails the
  * table's commit log as a DSv2 micro-batch stream
  * ([[GraftMicroBatchStream]]; offsets are committed versions,
  * `startingVersion` / `ignoreChanges` options as in Delta). A path
  * that holds no table advertises no MICRO_BATCH_READ and fails loudly
  * at load time.
  */
class GraftDataSource extends TableProvider
    with DataSourceRegister with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  private val delegate = new GraftVersionedParquet

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = false

  /** `writeStream.format("graft").start(path)` — an exactly-once
    * streaming APPEND sink over the incremental manifest protocol: each
    * micro-batch commits its new files with the batch id recorded in
    * the manifest operation, so a batch replayed after a failure finds
    * its id at-or-below the newest stream-append watermark and no-ops
    * (Delta's (appId, batchId) txn idea, scoped to one stream per
    * table — the same contract as `Streams.incrementalAppendSink`,
    * which this delegates to).
    */
  override def createSink(
      ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sink is append-only (got $outputMode): aggregate " +
        "with a watermark + append mode, or use foreachBatch for upserts")
    require(partitionColumns.isEmpty,
      "graft tables are clustered post-hoc (cluster/clusterZ), not hive-partitioned")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft streaming sink needs a path"))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val spark = ctx.sparkSession
        val batch = org.apache.spark.sql.graftbridge.ColumnBridge
          .asBatchFrame(spark, data)
        graft.streaming.Streams.incrementalAppendSink(
          new IncrementalTable(spark, path))(batch, batchId)
      }
      override def toString: String = s"GraftSink[$path]"
    }
  }

  // A not-yet-existing table must not fail here: DataFrameWriter probes
  // the v2 provider (inferSchema + getTable) BEFORE falling back to the
  // v1 write path that performs the first commit. Only the specific
  // empty-table case degrades to a capability-less placeholder — real
  // read errors (bad versionAsOf etc.) still throw loudly.
  private def emptyTable(e: IllegalArgumentException): Boolean =
    e.getMessage != null && e.getMessage.contains("graft: empty table")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // latest reads of an incremental table see the TRACKED (evolved)
    // schema — first-file inference would silently drop columns added
    // by later appends. Time-traveled reads serve schemaAt(v): each
    // version's own written schema (footer inference there would pick
    // an arbitrary width over a type-widened mixed-width file set, and
    // could drop late-added columns the same way latest reads would).
    // Resolution failures fall back softly — getPaths throws the
    // authoritative error for a bad versionAsOf/timestampAsOf.
    val timeTravel = options.containsKey("versionAsOf") ||
      options.containsKey("timestampAsOf")
    val tracked =
      Option(options.get("path")).flatMap { p =>
        val inc = new IncrementalTable(SparkSession.active, p)
        if (!inc.exists) None
        else if (!timeTravel) inc.tableSchema
        else scala.util.Try {
          Option(options.get("versionAsOf")).map(_.trim.toLong)
            .orElse(Option(options.get("timestampAsOf")).flatMap(ts =>
              inc.versionAsOfTimestamp(
                IncrementalTable.parseTimestampMillis(ts))))
        }.toOption.flatten.flatMap(inc.schemaAt)
      }
    val base = tracked.getOrElse {
      try delegate.inferSchema(options)
      catch { case e: IllegalArgumentException if emptyTable(e) => new StructType() }
    }
    // the streaming change feed reads the data schema PLUS the change
    // columns; data files null-fill them and the CDC reader factory
    // fills the constants (sidecar files carry _change_type natively)
    if (java.lang.Boolean.parseBoolean(options.get("readChangeFeed")))
      base.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
    else base
  }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    try delegate.inferPartitioning(options)
    catch { case e: IllegalArgumentException if emptyTable(e) => Array.empty }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    try new GraftReadOnlyTable(
      delegate.getTable(schema, partitioning, properties),
      streamInfoFor(properties))
    catch {
      case e: IllegalArgumentException if emptyTable(e) =>
        new Table {
          override def name(): String = "graft:empty"
          override def schema(): StructType = new StructType()
          override def capabilities(): java.util.Set[TableCapability] =
            java.util.Collections.emptySet()
        }
    }

  /** Streaming parameters, resolved iff the path holds a table (a
    * path without a commit log gets NO micro-batch capability, so
    * `readStream` falls back to the v1 path, which fails loudly at load
    * time).
    */
  private def streamInfoFor(properties: JMap[String, String]): Option[GraftStreamInfo] = {
    val opts = new CaseInsensitiveStringMap(properties)
    Option(opts.get("path")).flatMap { p =>
      val inc = new IncrementalTable(SparkSession.active, p)
      if (!inc.exists) None
      else {
        val startingVersion = Option(opts.get("startingVersion")) match {
          case Some("latest") => inc.latestVersion.map(_ + 1).getOrElse(0L)
          case Some(v) => v.trim.toLong
          case None =>
            // Delta's startingTimestamp: the FIRST version committed at
            // or after the timestamp; none ⇒ only future commits
            Option(opts.get("startingTimestamp")) match {
              case Some(ts) =>
                val ms = IncrementalTable.parseTimestampMillis(ts)
                val at = inc.history()
                  .select("version", "committed_at").collect()
                  .filter(_.getTimestamp(1).getTime >= ms)
                  .map(_.getLong(0))
                if (at.nonEmpty) at.min
                else inc.latestVersion.map(_ + 1).getOrElse(0L)
              case None => 0L
            }
        }
        Some(GraftStreamInfo(p, startingVersion,
          Option(opts.get("ignoreChanges")).exists(_.toBoolean),
          Option(opts.get("maxFilesPerTrigger")).map(_.trim.toInt),
          Option(opts.get("readChangeFeed")).exists(_.toBoolean),
          Option(opts.get("graft.catalogResolved")).exists(_.toBoolean)))
      }
    }
  }

  /** Write path — see class Scaladoc. */
  override def createRelation(
      ctx: SQLContext, mode: SaveMode, parameters: Map[String, String],
      df: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft write: 'path' is required"))
    // Delta's writer option: `mode("overwrite")` scoped to a predicate
    // becomes an atomic slice replacement instead of a full-snapshot
    // overwrite. Only meaningful with Overwrite (as in Delta).
    val replaceWhere = parameters.get("replaceWhere").map { sql =>
      require(mode == SaveMode.Overwrite,
        "graft write: option 'replaceWhere' requires mode 'overwrite'")
      org.apache.spark.sql.functions.expr(sql)
    }
    val inc = new IncrementalTable(ctx.sparkSession, path)
    val exists = inc.exists
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append => inc.append(df)
      case _ => replaceWhere match {
        case Some(pred) =>
          // a slice replacement of nothing would silently publish the
          // frame as the whole table — refuse it
          if (!exists) throw new IllegalArgumentException(
            s"graft write: 'replaceWhere' needs an existing table " +
              s"($path is empty — append first)")
          inc.overwriteWhere(pred, df)
        case None => inc.writeSnapshot(df, operation = "overwrite")
      }
    }
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
    }
  }

}

/** The parquet DSv2 with manifest file-list resolution spliced into
  * path lookup. Kept private: exposing a FileDataSourceV2 directly would
  * send WRITES down Spark's fallback-file-format path, skipping the
  * manifest commit.
  */
private[sources] class GraftVersionedParquet extends ParquetDataSourceV2 {

  override def shortName(): String = "graft"

  /** A version with no data files (an empty `CREATE TABLE` v0) reads
    * as an empty table of its tracked schema through a file index over
    * no roots. Handing parquet the empty path list instead makes
    * Spark's path check log "All paths were ignored" on every read.
    */
  override def getTable(options: CaseInsensitiveStringMap,
      schema: StructType): Table = {
    val paths = getPaths(options)
    val name = getTableName(options, paths)
    val opts = getOptionsWithoutPaths(options)
    if (paths.nonEmpty || schema == null)
      ParquetTable(name, sparkSession, opts, paths, Option(schema), fallbackFileFormat)
    else new ParquetTable(name, sparkSession, opts, paths, Some(schema),
        fallbackFileFormat) {
      override lazy val fileIndex: PartitioningAwareFileIndex =
        new InMemoryFileIndex(sparkSession, Nil, Map.empty, userSpecifiedSchema)
    }
  }

  override def getPaths(map: CaseInsensitiveStringMap): Seq[String] = {
    val roots = super.getPaths(map)
    require(roots.nonEmpty, "graft: no path specified")
    val versionOpt = Option(map.get("versionAsOf")).map(_.trim.toLong)
    val tsOpt = Option(map.get("timestampAsOf")).map(parseMillis)
    require(versionOpt.isEmpty || tsOpt.isEmpty,
      "graft: versionAsOf and timestampAsOf are mutually exclusive")
    roots.flatMap { root =>
      val inc = new IncrementalTable(sparkSession, root)
      val v = (versionOpt, tsOpt) match {
        case (Some(ver), _) =>
          require(inc.versionExists(ver), s"graft: version $ver does not exist at $root")
          ver
        case (_, Some(ms)) => inc.versionAsOfTimestamp(ms).getOrElse(
          throw new IllegalArgumentException(
            s"graft: no version committed at or before ${map.get("timestampAsOf")} at $root"))
        case _ => inc.latestVersion.getOrElse(
          throw new IllegalArgumentException(s"graft: empty table at $root"))
      }
      // GENERIC feature gate: a bare path list can apply NO reader
      // feature — column mapping would show stale names, deletion
      // vectors would resurrect deleted rows, and a future feature
      // could do anything. Every feature the version demands must be
      // either explicitly waived by an option or refused loudly with
      // its own remediation (Delta readers below a table's protocol
      // refuse the same way).
      val waived: Set[String] =
        (if (java.lang.Boolean.parseBoolean(map.get("ignoreDeletionVectors")) ||
            java.lang.Boolean.parseBoolean(map.get("ignoreChanges")) ||
            java.lang.Boolean.parseBoolean(map.get("readChangeFeed")))
          Set("deletion-vectors")
        else Set.empty[String]) ++
          // type-widening IS applied by path reads: inferSchema
          // serves the tracked schema (latest) or schemaAt(v) (time
          // travel), under which the parquet reader upcasts narrow
          // footers natively — no bare footer-merge ever happens
          Set("type-widening")
      val blocked = inc.readerFeaturesAt(v) -- waived
      if (blocked.nonEmpty) {
        val why = blocked.toSeq.sorted.map {
          case "column-mapping" =>
            "uses column mapping (renamed or dropped columns), which " +
              "path-level reads cannot apply. Read via " +
              "IncrementalTable.snapshot()/scan(), or run " +
              "OPTIMIZE/compact() to materialize the mapping into the files"
          case "deletion-vectors" =>
            "carries deletion vectors, which path-level reads cannot " +
              "apply. Run OPTIMIZE to materialize them, read via " +
              "IncrementalTable.snapshot()/scan(), or set " +
              "option(\"ignoreDeletionVectors\", \"true\") to knowingly " +
              "include deleted rows"
          case f =>
            s"requires reader feature '$f' that this graft version does " +
              "not support — upgrade the reader"
        }
        throw new IllegalStateException(
          s"graft: version $v of $root " + why.mkString("; and "))
      }
      // optional stats-based file skipping: option("skipWhere", "<sql
      // predicate>") prunes by footer min/max BEFORE the scan. The
      // option is a pruning hint only — apply the same predicate via
      // .filter for row-level semantics.
      val picked = Option(map.get("skipWhere")) match {
        case Some(sql) if sql.trim.nonEmpty =>
          val e = sparkSession.sessionState.sqlParser.parseExpression(sql)
          val kept = inc.prunedFilesAt(v, inc.files(v),
            Seq(org.apache.spark.sql.graftbridge.ColumnBridge.column(e)))
          // when stats prove EVERY file out, keep one arbitrary file:
          // an empty path list would fail parquet schema inference,
          // and skipWhere is a pruning hint only — the caller applies
          // the row filter, so the extra file changes no results
          if (kept.isEmpty) inc.files(v).take(1) else kept
        case _ => inc.files(v)
      }
      picked.map {
        case f if f.startsWith("ext:") => f.stripPrefix("ext:")
        case f => s"${root.stripSuffix("/")}/data/$f"
      }
    }
  }

  private def parseMillis(s: String): Long =
    IncrementalTable.parseTimestampMillis(s)
}

/** Read-only facade over the delegate's ParquetTable: dropping the
  * write capabilities makes `DataFrameWriter` fall back to the v1
  * `CreatableRelationProvider`, which owns the manifest commit.
  * A path that holds a table additionally advertises MICRO_BATCH_READ:
  * its scans serve batch reads through the parquet delegate and
  * micro-batch reads through [[GraftMicroBatchStream]] (the DSv2
  * commit-log tail).
  */
private[sources] class GraftReadOnlyTable(
    inner: Table, streamInfo: Option[GraftStreamInfo] = None)
    extends Table with SupportsRead {
  override def name(): String = "graft:" + inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): JMap[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability](inner.capabilities())
    caps.remove(TableCapability.BATCH_WRITE)
    caps.remove(TableCapability.STREAMING_WRITE)
    caps.remove(TableCapability.TRUNCATE)
    caps.remove(TableCapability.OVERWRITE_BY_FILTER)
    caps.remove(TableCapability.OVERWRITE_DYNAMIC)
    if (streamInfo.isDefined) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val innerBuilder = inner.asInstanceOf[SupportsRead].newScanBuilder(options)
    streamInfo match {
      case Some(info) => new GraftStreamScanBuilder(innerBuilder, info)
      case None => innerBuilder
    }
  }
}

/** Catalog-resolved tables additionally support SQL INSERT: the
  * [[graft.sources.GraftCatalog]] wraps latest-version tables in
  * this facade, whose `V1_BATCH_WRITE` bridges `INSERT INTO lake.t`
  * (append commit) and `INSERT OVERWRITE lake.t` (snapshot commit)
  * onto the SAME manifest protocol as every other writer — atomic,
  * versioned, schema-merged, optimistic-retry. Only the catalog hands
  * this out: the path-based provider stays read-only so
  * `DataFrameWriter.save(path)` keeps its pinned v1 SaveMode
  * semantics.
  */
private[graft] final class GraftWritableTable(
    ro: GraftReadOnlyTable, private[graft] val tablePath: String)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}

  override def name(): String = ro.name()
  override def schema(): StructType = ro.schema()
  override def partitioning(): Array[Transform] = ro.partitioning()
  override def properties(): JMap[String, String] = {
    // surface the graft configs so SHOW TBLPROPERTIES reflects what
    // ALTER TABLE ... SET TBLPROPERTIES wrote
    val m = new java.util.HashMap[String, String](ro.properties())
    val inc = new IncrementalTable(SparkSession.active, tablePath)
    if (inc.bloomColumns.nonEmpty)
      m.put("graft.bloomColumns", inc.bloomColumns.mkString(","))
    if (inc.writeOrder.nonEmpty)
      m.put("graft.writeOrder", inc.writeOrder.mkString(","))
    if (inc.typeWideningEnabled)
      m.put("graft.enableTypeWidening", "true")
    m
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability](ro.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    ro.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: DataFrame, _: Boolean) => {
            val inc = new IncrementalTable(SparkSession.active, tablePath)
            if (overwrite) inc.writeSnapshot(data, operation = "overwrite")
            else inc.append(data)
            ()
          }
      }
    }
}
