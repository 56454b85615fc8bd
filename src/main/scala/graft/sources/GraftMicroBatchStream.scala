package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsPushDownVariantExtractions, VariantExtraction}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

import graft.lake.IncrementalTable

/** Streaming parameters resolved at `getTable` time (so
  * `startingVersion=latest` pins to the table's head when the reader is
  * created, the v1 source's contract).
  */
private[sources] final case class GraftStreamInfo(
    path: String, startingVersion: Long, ignoreChanges: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    readChangeFeed: Boolean = false,
    // true iff the table resolved through GraftCatalog: only then can
    // Spark resolve the reported bucket transform (FunctionCatalog),
    // so a groupable PATH read is a silently missed SPJ worth a warning
    catalogResolved: Boolean = false)

/** Version offset on the wire: the bare committed-version number —
  * byte-identical to the v1 `LongOffset` json, so checkpoints written
  * by the old `StreamSourceProvider` implementation resume unchanged
  * against this DSv2 stream.
  */
private[sources] final case class GraftVersionOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

/** DSv2 micro-batch read of an [[IncrementalTable]] — the commit log IS
  * the stream (same semantics as the retired v1 `GraftStreamSource`):
  * offsets are committed VERSIONS, a micro-batch reads exactly the data
  * files added between two manifests (two manifest reads, O(batch)
  * regardless of table size), rewriting commits fail loudly unless
  * `ignoreChanges=true`. Being v2, the batch is planned as
  * [[FilePartition]]s served by Spark's own vectorized parquet reader
  * factory — per-batch partition planning, streaming metrics, and the
  * evolving Spark 4 connector surface come with the interface.
  */
private[sources] final class GraftMicroBatchStream(
    spark: SparkSession, info: GraftStreamInfo, innerScan: Scan)
  extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val table = new IncrementalTable(spark, info.path)
  private val dataDir = new Path(info.path, "data")

  /** "Everything ≤ this version is delivered" — the initial watermark
    * sits one below startingVersion so the starting version itself is
    * the first batch.
    */
  override def initialOffset(): Offset = GraftVersionOffset(info.startingVersion - 1)

  private def headVersion: Long = table.latestVersion
    .filter(_ >= info.startingVersion - 1)
    .getOrElse(info.startingVersion - 1)

  override def latestOffset(): Offset = GraftVersionOffset(headVersion)

  // ---- admission control (Delta's maxFilesPerTrigger) + AvailableNow.
  // Offsets are versions, so rate limiting = "advance the watermark
  // only as far as the file budget allows": walk the commit log from
  // the current offset accumulating per-version file additions (one
  // small manifest read each — never a data scan), stop before the
  // budget is exceeded, but always admit at least one version so the
  // stream can't starve. Trigger.AvailableNow pins the head version at
  // query start; Spark then drains rate-limited batches up to the pin
  // and stops.

  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion)

  override def getDefaultReadLimit: ReadLimit =
    info.maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = GraftVersionOffset(headVersion)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftVersionOffset].v
    val head = availableNowCap.fold(headVersion)(math.min(_, headVersion))
    if (head <= from) return GraftVersionOffset(from)
    val cap = limit match {
      case f: ReadMaxFiles => Some(f.maxFiles())
      case _: ReadAllAvailable => None
      case _ => None // composite/unknown limits: deliver everything
    }
    cap match {
      case None => GraftVersionOffset(head)
      case Some(budget) =>
        var v = from
        var prev: Set[String] =
          if (from < 0 || !table.versionExists(from)) Set.empty
          else table.files(from).toSet
        var spent = 0
        var stop = false
        while (!stop && v < head) {
          // a vacuumed intermediate manifest makes per-version counts
          // unknowable — stop chunking and deliver the rest in one batch
          if (!table.versionExists(v + 1)) { v = head; stop = true }
          else {
            val now = table.files(v + 1).toSet
            val added = (now -- prev).size
            if (spent + added > budget && v > from) stop = true
            else {
              spent += added
              prev = now
              v += 1
              // always admit ≥1 version, then stop once the budget is hit
              if (spent >= budget) stop = true
            }
          }
        }
        GraftVersionOffset(v)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftMicroBatchStream[${info.path}]"

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftVersionOffset].v
    val to = end.asInstanceOf[GraftVersionOffset].v
    if (to <= from || !table.versionExists(to)) return Array.empty
    // generic feature gate first, over EVERY version the batch spans
    // (a mid-range feature version materialized away by `to` would
    // otherwise slip through): a version demanding a feature this
    // library doesn't know could mean anything for the raw file
    // partitions below — refuse rather than misdeliver (the known
    // features get their own streaming-specific handling next)
    (math.max(from, -1L) + 1 to to).filter(table.versionExists).foreach { v =>
      val unknown = table.readerFeaturesAt(v) --
        graft.lake.IncrementalTable.SupportedReaderFeatures
      if (unknown.nonEmpty)
        throw new IllegalStateException(
          s"graft stream: version $v of ${info.path} requires reader " +
            s"feature(s) ${unknown.toSeq.sorted.mkString(", ")} that this " +
            "graft version does not support — upgrade the reader")
    }
    // column-mapped tables can't stream through raw file partitions —
    // the files carry PHYSICAL names and the reader would serve stale
    // columns (same protocol gate as the batch connector)
    if (table.colMapAt(to).nonEmpty || table.droppedColsAt(to).nonEmpty)
      throw new IllegalStateException(
        s"graft stream: version $to of ${info.path} uses column mapping " +
          "(renamed or dropped columns), which file-level streaming " +
          "cannot apply. Run OPTIMIZE/compact() to materialize the " +
          "mapping, then restart the stream")
    // a type widening AFTER this stream fixed its read schema leaves it
    // reading WIDE files under a NARROW schema — the raw parquet
    // convert error that would eventually surface is undiagnosable, so
    // refuse with the restart remediation instead (Delta streams stop
    // on schema change the same way). Streams started post-widening
    // read wide and upcast old narrow files natively — no mismatch, no
    // refusal. (NOT a bare `{}` block: after the `throw new ...(...)`
    // above, scalac would parse that as an anonymous-subclass BODY of
    // the exception and the guard would never run.)
    val fixedSchema = innerScan.readSchema()
    val widenedCols = table.schemaAt(to).toSeq.flatMap(_.fields).flatMap { wf =>
      fixedSchema.fields.find(_.name == wf.name)
        .filter(sf => sf.dataType != wf.dataType &&
          IncrementalTable.widerOf(sf.dataType, wf.dataType)
            .contains(wf.dataType))
        .map(sf => s"${wf.name} (${sf.dataType.simpleString} -> " +
          s"${wf.dataType.simpleString})")
    }
    if (widenedCols.nonEmpty)
      throw new IllegalStateException(
        s"graft stream: version $to of ${info.path} widened column(s) " +
          s"${widenedCols.mkString(", ")} after this stream fixed its read " +
          "schema — restart the stream to pick up the widened schema")
    if (info.readChangeFeed) return planCdcPartitions(from, to)
    val prevFiles: Set[String] =
      if (from < 0) Set.empty
      else {
        require(table.versionExists(from),
          s"graft stream: version $from was vacuumed from ${info.path} — cannot " +
            "compute the delta; restart the stream from a fresh checkpoint")
        table.files(from).toSet
      }
    val nowFiles = table.files(to)
    val removed = prevFiles -- nowFiles
    val dvBefore = if (from < 0) None else table.metaAt(from).get("dv")
    val dvChanged = table.metaAt(to).get("dv") != dvBefore
    // A rewrite or deletion-vector move inside the range: attribute it
    // per version. Content-preserving maintenance (datachange=false —
    // compact/cluster/z-order/materialize; it may remove files and
    // CLEAR the dv pointer, never add vectors) is skipped and its
    // added files are NOT delivered — rows arrive exactly once,
    // maintenance invisible (Delta streams skip dataChange=false files
    // the same way). A data-changing rewrite or a real DV commit keeps
    // the loud append-only contract. The walk needs every manifest in
    // the range; a vacuumed one falls back to the loud failure.
    if ((removed.nonEmpty || dvChanged) && !info.ignoreChanges) {
      def failRewrite(): Nothing = throw new IllegalStateException(
        s"graft stream: versions ${from + 1}..$to of ${info.path} " +
          s"rewrite file(s) (overwrite/merge, or a maintenance manifest " +
          "was vacuumed). Streaming reads require append-only or " +
          "datachange=false commits; set ignoreChanges=true to stream " +
          "the rewritten files as re-deliveries.")
      def failDv(): Nothing = throw new IllegalStateException(
        s"graft stream: versions ${from + 1}..$to of ${info.path} change " +
          "deletion vectors (merge-on-read DELETE). The append stream " +
          "cannot deliver deletes; use changes() for a CDC feed, or set " +
          "ignoreChanges=true to stream inserts only.")
      if (!((from + 1) to to).forall(table.versionExists)) failRewrite()
      var prev = prevFiles
      var dv = dvBefore
      val dataAdded = Seq.newBuilder[String]
      ((from + 1) to to).foreach { v =>
        val now = table.files(v)
        val meta = table.metaAt(v)
        val noData = meta.get("datachange").contains("false")
        if (!noData) {
          if ((prev -- now).nonEmpty) failRewrite()
          if (meta.get("dv") != dv) failDv()
          dataAdded ++= now.filterNot(prev)
        }
        prev = now.toSet
        dv = meta.get("dv")
      }
      return planFilePartitions(dataAdded.result().sorted)
    }
    planFilePartitions(nowFiles.filterNot(prevFiles).sorted)
  }

  private def planFilePartitions(added: Seq[String]): Array[InputPartition] = {
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    added.zipWithIndex.map { case (f, i) =>
      val p = table.dataPath(f)
      val st = fs.getFileStatus(p)
      FilePartition(i, Array(PartitionedFile(
        InternalRow.empty, org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty, st.getModificationTime, st.getLen)))
        : InputPartition
    }.toArray
  }

  /** CDC mode (`readChangeFeed=true`, Delta's streaming change feed):
    * each version in the range contributes either its CDC sidecar
    * files (mutating commits — real `_change_type` in the file) or its
    * added data files (appends — `_change_type` filled as 'insert' by
    * the reader wrapper); `_commit_version` is a per-partition
    * constant. Every version in the range must still have its
    * manifest: per-version deltas are what's being delivered.
    */
  private def planCdcPartitions(from: Long, to: Long): Array[InputPartition] = {
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var prev: Set[String] =
      if (from < 0) Set.empty
      else {
        require(table.versionExists(from),
          s"graft CDC stream: version $from was vacuumed from ${info.path} — " +
            "cannot compute the delta; restart from a fresh checkpoint")
        table.files(from).toSet
      }
    val parts = Seq.newBuilder[InputPartition]
    var idx = 0
    def add(p: org.apache.hadoop.fs.Path, v: Long, fillInsert: Boolean): Unit = {
      val st = fs.getFileStatus(p)
      parts += GraftCdcPartition(FilePartition(idx, Array(PartitionedFile(
        InternalRow.empty, org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty, st.getModificationTime, st.getLen))),
        v, fillInsert)
      idx += 1
    }
    ((from + 1) to to).foreach { v =>
      require(table.versionExists(v),
        s"graft CDC stream: version $v was vacuumed from ${info.path} — " +
          "the per-version change feed is gone; restart from a fresh checkpoint")
      val now = table.files(v)
      val meta = table.metaAt(v)
      val cdc = meta.get("cdc")
      if (meta.get("datachange").contains("false")) {
        // content-preserving maintenance: no rows changed, nothing to
        // feed (its added files are rewrites, not inserts)
        prev = now.toSet
      } else {
      val removed = prev -- now
      if (removed.nonEmpty && cdc.isEmpty)
        throw new IllegalStateException(
          s"graft CDC stream: version $v of ${info.path} rewrites " +
            s"${removed.size} file(s) without change-data files " +
            "(overwrite/legacy merge) — row-level changes are unknowable")
      cdc match {
        case Some(nonce) =>
          val dir = new Path(info.path, s"_change_data/$nonce")
          fs.listStatus(dir).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName)
            .foreach(add(_, v, fillInsert = false))
        case None =>
          now.filterNot(prev).sorted
            .foreach(f => add(table.dataPath(f), v, fillInsert = true))
      }
      prev = now.toSet
      }
    }
    parts.result().toArray
  }

  /** The parquet scan's own batch reader factory: `ParquetScan` wires
    * the read-support class, requested-schema json, timezone and
    * vectorization flags into the broadcast hadoop conf — re-deriving
    * that setup here would just duplicate it (and a missed key fails at
    * executor time), so the stream reuses the exact factory the batch
    * path would run with, fed our per-micro-batch [[FilePartition]]s.
    * In CDC mode the factory is wrapped to fill the constant change
    * columns.
    */
  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = innerScan.toBatch.createReaderFactory()
    if (info.readChangeFeed) new GraftCdcReaderFactory(inner, innerScan.readSchema())
    else inner
  }
}

/** A [[FilePartition]] plus its commit version and whether
  * `_change_type` needs the constant 'insert' fill (append files) or
  * arrives from the file itself (CDC sidecars).
  */
private[sources] final case class GraftCdcPartition(
    inner: FilePartition, commitVersion: Long, fillInsert: Boolean)
  extends InputPartition

/** Wraps the parquet reader factory for CDC batches: the inner reader
  * already null-fills requested columns absent from the file (the
  * schema-evolution machinery), so this wrapper only overwrites the
  * constants — `_commit_version` always, `_change_type` for append
  * files. Row-based on purpose: per-partition constant injection into
  * columnar batches would mean materializing constant vectors for no
  * measurable gain on a change feed.
  */
private[sources] final class GraftCdcReaderFactory(
    inner: PartitionReaderFactory, schema: StructType)
  extends PartitionReaderFactory {

  private val ctIdx = schema.fieldNames.indexOf("_change_type")
  private val cvIdx = schema.fieldNames.indexOf("_commit_version")

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(
      partition: InputPartition): org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdcPartition]
    val delegate = inner.createReader(p.inner)
    val insertTag = org.apache.spark.unsafe.types.UTF8String.fromString("insert")
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      override def next(): Boolean = delegate.next()
      override def get(): InternalRow = {
        val r = delegate.get()
        val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(schema.length)
        var i = 0
        while (i < schema.length) {
          out.update(i, if (r.isNullAt(i)) null else r.get(i, schema(i).dataType))
          i += 1
        }
        if (ctIdx >= 0 && p.fillInsert) out.update(ctIdx, insertTag)
        if (cvIdx >= 0) out.update(cvIdx, p.commitVersion)
        out
      }
      override def close(): Unit = delegate.close()
    }
  }
}

/** Scan wrapper: batch reads delegate untouched to the parquet DSv2
  * scan; `toMicroBatchStream` — which the parquet scan cannot serve —
  * returns the commit-log stream. The read schema handed to the stream
  * is the (possibly column-pruned) schema the builder negotiated.
  */
private[sources] final class GraftStreamScan(inner: Scan, info: GraftStreamInfo)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.internal.Logging {
  override def readSchema(): StructType = inner.readSchema()

  /** Planner statistics, delegated to the (possibly runtime-pruned)
    * parquet scan's file-size estimate. Without this forward the
    * wrapper hides the inner `FileScan`'s stats and Spark prices every
    * graft relation at `defaultSizeInBytes` (Long.MaxValue) — a tiny
    * graft dimension table would NEVER win a broadcast join, the single
    * worst plan a star schema can get.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    pruned.getOrElse(inner) match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
  override def toBatch: Batch = {
    if (info.readChangeFeed)
      throw new UnsupportedOperationException(
        "graft: readChangeFeed is a STREAMING option; batch CDC reads go " +
          "through IncrementalTable.changes(fromV, toV)")
    bucketGroups match {
      case Some((_, groups, _)) => new GraftBucketedBatch(inner.toBatch, groups)
      case None => pruned.getOrElse(inner).toBatch
    }
  }

  // ---- storage-partitioned joins (see [[GraftSpj]]): a bucketized
  // table's scan reports KeyGroupedPartitioning(bucket(n, col)) and
  // plans ONE input partition per present bucket, so an equi-join of
  // two same-bucketed graft tables on the bucket column shuffles
  // NEITHER side. Eligibility is re-derived structurally from the
  // files the scan actually serves — any commit that staged plain
  // files since the last bucketize fails the directory check and the
  // scan falls back to a normal plan (never a stale bucket promise).
  // Catalog-resolved tables only: Spark resolves the reported bucket
  // transform through the relation's FunctionCatalog
  // ([[GraftCatalog.loadFunction]]); path reads skip it and plan
  // normally. ----

  /** (spec, one FilePartition per present bucket, every-file-sorted) —
    * None = no valid grouping (fall back to normal planning). */
  private lazy val bucketGroups
      : Option[(GraftBucketSpec, Seq[(Int, FilePartition)], Boolean)] =
    try computeBucketGroups()
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft bucketed-scan grouping failed open for ${info.path}: $e")
        None
    }

  private def computeBucketGroups()
      : Option[(GraftBucketSpec, Seq[(Int, FilePartition)], Boolean)] = {
    if (info.readChangeFeed) return None
    val spark = SparkSession.active
    if (!spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
      return None
    // the spec is parsed from the directory values the scan's OWN
    // files live under (`__jbucket=<col>-<tok>-<n>-<k>/`), never from
    // the table's head meta: a time-traveled version bucketized under
    // an OLDER spec must group under that spec or not at all —
    // grouping v5's mod-8 files as bucket(16, col) would silently lose
    // matches. `<tok>` pins the HASH TYPE the bucket ids were computed
    // under (murmur3 hashes int and long differently), checked against
    // this scan's read type below — a type widening can never let
    // narrow-hashed files ride a wide-typed bucket promise.
    // `(s1-)?` — the optional SORT marker: present only on files
    // written by the bucketing writer's per-task (bucket, key) sort.
    // Grouping ignores it (a mix of sorted and restaged files still
    // buckets correctly); the ORDERING claim below requires it on
    // every file.
    val re = IncrementalTable.BucketDirRe // ONE grammar, shared with
    // compactBuckets/bucketLayoutHealth — spec drift was a triplicate
    // hazard
    val files = inner.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: FilePartition => fp.files.toSeq
      case _ => return None // not a parquet file batch — fail open
    }
    if (files.isEmpty) return None
    var spec: GraftBucketSpec = null
    val byBucket = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.execution.datasources.PartitionedFile]]
    var allSorted = true
    files.foreach { f =>
      val (fSpec, k) = re.findFirstMatchIn(f.filePath.toString) match {
        case Some(m) =>
          if (m.group(3) == null) allSorted = false
          (GraftBucketSpec(m.group(4).toInt, m.group(1), m.group(2)),
            m.group(5).toInt)
        case None => return None // a plain-staged file: bucketing is broken
      }
      if (spec == null) spec = fSpec
      // a mixed-spec file set (append under a newer spec racing a
      // re-bucketize) has no single valid grouping
      else if (spec != fSpec) return None
      if (k < 0 || k >= spec.n) return None
      byBucket.getOrElseUpdate(k,
        scala.collection.mutable.ArrayBuffer.empty) += f
    }
    // the transform references the bucket column: only report it when
    // the column survived pruning into this scan's schema (a join on
    // it always keeps it), AND this scan reads the column under the
    // SAME physical type the files' bucket ids were hashed under — a
    // widened table serves int-hashed dirs to a long-typed read, whose
    // key groups would silently lie
    val typeOk = inner.readSchema().fields.find(_.name == spec.column)
      .flatMap(f => IncrementalTable.bucketTypeToken(f.dataType))
      .contains(spec.typeToken)
    if (!typeOk) return None
    val groups = byBucket.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((b, fs), i) => b -> FilePartition(i, fs.toArray)
    }
    // MISSED-SPJ diagnostic: the file set groups, but a PATH read has
    // no FunctionCatalog for Spark to resolve `bucket(n, col)` through,
    // so the join will silently pay full shuffles on a perfectly
    // bucketized table. Warn once per path, with the remediation.
    if (!info.catalogResolved &&
        GraftStreamScan.missedSpjPaths.add(info.path))
      logWarning(s"graft: ${info.path} is fully bucketized " +
        s"(bucket(${spec.n}, ${spec.column})) but was loaded BY PATH — " +
        "storage-partitioned joins only plan for catalog-resolved " +
        "tables. Register a graft catalog (spark.sql.catalog.<name>=" +
        "graft.sources.GraftCatalog, spark.sql.catalog.<name>.warehouse=" +
        "<dir>) and read the table through it to join with zero shuffles.")
    Some((spec, groups, allSorted))
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketGroups match {
      case Some((spec, groups, _)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(spec.n, spec.column)), groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition ordering on the bucket column — claimed ONLY when
    * every bucket group is a SINGLE file carrying the `s1` sort marker
    * (the bucketing writer's per-task (bucket, key) sort): a
    * multi-file group concatenates independently-sorted runs, and an
    * unmarked file (a delete's restage) gives no order at all. With
    * the claim, a merge join of two same-bucketed sorted tables drops
    * its SortExec nodes on top of its exchanges — at fact-fact scale
    * the two avoided O(n log n) per-partition sorts are the remaining
    * join cost after SPJ removes the shuffles.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    bucketGroups match {
      case Some((spec, groups, true))
          if groups.forall(_._2.files.length == 1) =>
        Array(Expressions.sort(Expressions.column(spec.column),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }
  override def description(): String = inner.description()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(SparkSession.active, info, inner)

  // ---- dynamic file pruning (Delta/Databricks' "dynamic file
  // skipping", through the public SupportsRuntimeV2Filtering seam).
  // When this scan sits on the probe side of a join whose build side
  // is selective, Spark's dynamic-partition-pruning rule plants a
  // DynamicPruningSubquery here, and BatchScanExec delivers the build
  // side's ACTUAL join-key values as an IN predicate before input
  // partitions are planned. The keys funnel through the same per-file
  // min/max + bloom pruning `skipWhere` uses, and the inner parquet
  // scan is rebuilt over only the surviving files — on a key-clustered
  // fact table a dim-filtered star join then reads O(matching files),
  // not O(table). Every edge fails OPEN (scan stays unpruned; the join
  // still filters rows): the predicate is a shape stats can't use, the
  // files have no stats, the key set exceeds [[DfpMaxInValues]], or
  // the rebuild throws. ----

  @volatile private var pruned: Option[Scan] = None
  /** (scan files before, after) of the last successful prune — spec
    * and ScaleEvidence observability. */
  @volatile private[sources] var pruneStats: Option[(Int, Int)] = None

  /** Above this many runtime IN values, skip pruning: the stats check
    * expands IN to a per-value OR (each value also bloom-probed), and
    * a key set this large signals a non-selective build side anyway.
    */
  private val DfpMaxInValues = 8192

  override def filterAttributes(): Array[NamedReference] =
    if (info.readChangeFeed) Array.empty
    else inner.readSchema().fields.collect {
      case f if GraftStreamScan.statsFilterable(f.dataType) =>
        Expressions.column(f.name)
    }

  override def filter(predicates: Array[Predicate]): Unit = {
    val spark = SparkSession.active
    try {
      if (info.readChangeFeed) return
      // key-grouped (bucketed) scans keep their partition layout: the
      // runtime-filter path re-validates filtered partitions against
      // the reported partitioning, so file pruning would have to
      // preserve every bucket group — skip instead (the join SPJ
      // serves is a shuffle join, not the broadcast shape DPP targets)
      if (bucketGroups.isDefined) return
      if (!spark.conf.get("spark.graft.runtimeFilePruning.enabled", "true").toBoolean) return
      val schema = inner.readSchema()
      val conds = predicates.toSeq.flatMap(toStatsCondition(_, schema))
      if (conds.isEmpty) return
      val table = new IncrementalTable(spark, info.path)
      val v = table.latestVersion.getOrElse(return)
      val all = table.files(v)
      val kept = table.prunedFilesAt(v, all, conds).toSet
      if (kept.size == all.size) return
      // stats are per-FILE and files are immutable, so a file stats
      // prove out is droppable from whatever version the scan resolved
      // — only ever drop files we affirmatively pruned (never files
      // the manifest walk didn't see)
      val dropped = (all.toSet -- kept).map(dataFileNorm(spark, _))
      org.apache.spark.sql.graftbridge.ScanPruneBridge
        .pruneFiles(spark, inner, p => !dropped(p)) match {
        case Some((s, before, after)) =>
          pruned = Some(s)
          pruneStats = Some((before, after))
          logInfo(s"graft dynamic file pruning: ${info.path} $before -> " +
            s"$after files")
        case None => ()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft dynamic file pruning failed open for " +
          s"${info.path}: $e")
    }
  }

  /** A runtime `IN` on one top-level column, as the catalyst condition
    * the stats/bloom pruner takes — None for any other shape. */
  private def toStatsCondition(
      p: Predicate, schema: StructType): Option[org.apache.spark.sql.Column] = {
    if (p.name() != "IN") return None
    val kids = p.children()
    if (kids.isEmpty) return None
    val colName = kids.head match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        r.fieldNames()(0)
      case _ => return None
    }
    if (!schema.fieldNames.contains(colName)) return None
    if (kids.length - 1 > DfpMaxInValues) return None
    val lits = kids.tail.flatMap {
      case l: V2Literal[_] =>
        Some(org.apache.spark.sql.catalyst.expressions.Literal(
          l.value, l.dataType))
      case _ => None
    }
    if (lits.length != kids.length - 1 || lits.isEmpty) return None
    Some(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.In(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(colName), lits.toSeq)))
  }

  private def dataFileNorm(spark: SparkSession, name: String): String =
    GraftStreamScan.dataFileNorm(spark, info.path, name)
}

private[sources] object GraftStreamScan {

  /** Paths whose bucketized layout was served to a PATH read (no
    * FunctionCatalog → SPJ silently missed): the once-per-path warn
    * dedup, and the observable hook the diagnostic's spec asserts.
    */
  private[sources] val missedSpjPaths: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Manifest file name -> [[ScanPruneBridge.normPath]] identity
    * (entries prefixed `ext:` are absolute URIs — shallow-clone
    * references into another table's data). */
  private[sources] def dataFileNorm(
      spark: SparkSession, root: String, name: String): String = {
    val p =
      if (name.startsWith("ext:")) new Path(name.stripPrefix("ext:"))
      else new Path(new Path(root, "data"), name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.spark.sql.graftbridge.ScanPruneBridge
      .normPath(fs.makeQualified(p))
  }

  /** Types the per-file min/max stats can order — the columns
    * worth advertising as runtime-filterable. */
  private[sources] def statsFilterable(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.BooleanType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }
}

/** ScanBuilder wrapper that FORWARDS every pushdown interface the
  * parquet builder implements — wrapping must not cost the batch path
  * its filter/column/aggregate pushdown.
  */
private[sources] final class GraftStreamScanBuilder(
    inner: ScanBuilder, info: GraftStreamInfo)
  extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters
    with SupportsPushDownAggregates
    with SupportsPushDownVariantExtractions {

  override def build(): Scan = statsAnswer match {
    case Some(s) => s
    case None => new GraftStreamScan(inner.build(), info)
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after a complete stats-aggregate pushdown the requested schema is
    // the AGGREGATE's output — meaningless to the parquet builder
    if (statsAnswer.isDefined) () else inner match {
      case c: SupportsPushDownRequiredColumns => c.pruneColumns(requiredSchema)
      case _ => ()
    }
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = inner match {
    case f: SupportsPushDownCatalystFilters => f.pushFilters(filters)
    case _ => filters
  }
  override def pushedFilters: Array[Predicate] = inner match {
    case f: SupportsPushDownCatalystFilters => f.pushedFilters
    case _ => Array.empty
  }
  // ---- metadata-only aggregate pushdown: a global
  // count(*)/count(col)/min(col)/max(col) over an unfiltered graft
  // scan is answered from the manifest's per-file stats (no data byte
  // read, no job), served as a driver-local one-row scan — as Delta and
  // Iceberg answer from commit-log stats. Eligibility is proved by
  // [[IncrementalTable.statsAggregateForNames]] over EXACTLY the file
  // set this scan resolved; any doubt falls back to the real scan
  // (then to the parquet builder's own footer-level pushdown). ----

  private var statsAnswer: Option[GraftStatsLocalScan] = None
  private var statsTried: Option[(Aggregation, Option[GraftStatsLocalScan])] = None

  private def tryStatsAggregate(agg: Aggregation): Option[GraftStatsLocalScan] = {
    statsTried match {
      case Some((a, r)) if a == agg => return r
      case _ => ()
    }
    val r = try computeStatsAggregate(agg)
    catch { case scala.util.control.NonFatal(_) => None }
    statsTried = Some((agg, r))
    r
  }

  private def computeStatsAggregate(agg: Aggregation): Option[GraftStatsLocalScan] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    val spark = SparkSession.active
    if (info.readChangeFeed) return None
    if (!spark.conf.get("spark.graft.aggregatePushdown.enabled", "true").toBoolean)
      return None
    if (agg.groupByExpressions().nonEmpty) return None
    if (agg.aggregateExpressions().isEmpty) return None
    val builtInner = inner.build()
    val schema = builtInner.readSchema()
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def fieldType(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    // bounds demand EXACT footer stats: integral/date/timestamp only.
    // Strings (writer-side truncation, non-ASCII degrade) and floats
    // (NaN outranks every stats bound under Spark's ordering) are out.
    // Counts only need exact null counts, which every harvested type
    // carries.
    def boundType(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    def countType(t: DataType): Boolean = boundType(t) || (t match {
      case StringType | FloatType | DoubleType => true
      case _ => false
    })
    sealed trait Want
    case object WRows extends Want
    final case class WCount(c: String) extends Want
    final case class WBound(c: String, isMax: Boolean) extends Want
    val wants: Array[(Want, DataType)] =
      agg.aggregateExpressions().map {
        case _: CountStar => (WRows, LongType)
        case c: Count if !c.isDistinct =>
          c.column() match {
            case l: V2Literal[_] if l.value != null => (WRows, LongType)
            case e => colOf(e) match {
              case Some(n) if fieldType(n).exists(countType) =>
                (WCount(n), LongType)
              case _ => return None
            }
          }
        case m: Min =>
          colOf(m.column()).flatMap(n => fieldType(n).filter(boundType)
            .map(t => (WBound(n, isMax = false), t): (Want, DataType)))
            .getOrElse(return None)
        case m: Max =>
          colOf(m.column()).flatMap(n => fieldType(n).filter(boundType)
            .map(t => (WBound(n, isMax = true), t): (Want, DataType)))
            .getOrElse(return None)
        case _ => return None
      }
    // the EXACT files this scan resolved, as manifest entries. Names
    // resolve through the current manifest (covers ext: shallow-clone
    // references) with a structural data/-prefix fallback; any path
    // neither resolves is not provably this table's — fail open.
    val scanned = org.apache.spark.sql.graftbridge.ScanPruneBridge
      .scanFiles(builtInner).getOrElse(return None)
      .map(org.apache.spark.sql.graftbridge.ScanPruneBridge.normPath)
    val table = new IncrementalTable(spark, info.path)
    val byNorm: Map[String, String] = table.latestVersion
      .map(v => table.files(v)
        .map(n => GraftStreamScan.dataFileNorm(spark, info.path, n) -> n)
        .toMap)
      .getOrElse(Map.empty)
    val dataPrefix = {
      val p = new Path(info.path, "data")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      org.apache.spark.sql.graftbridge.ScanPruneBridge
        .normPath(fs.makeQualified(p)) + "/"
    }
    val names = scanned.map { p =>
      byNorm.getOrElse(p,
        if (p.startsWith(dataPrefix)) p.substring(dataPrefix.length)
        else return None)
    }
    table.statsAggregateForNames(
      names,
      wants.collect { case (WCount(c), _) => c }.toSeq,
      wants.collect { case (WBound(c, m), _) => (c, m) }.toSeq)
      .map { case (rows, nn, bs) =>
        val values: Array[Any] = wants.map {
          case (WRows, _) => rows: Any
          case (WCount(c), _) => nn(c): Any
          case (WBound(c, m), _) => bs((c, m))
        }
        val internal = InternalRow.fromSeq(values.toSeq.zip(wants.toSeq).map {
          case (null, _) => null
          case (v, (_, dt)) =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToCatalystConverter(dt)(v)
        })
        val out = StructType(wants.zipWithIndex.map { case ((w, dt), i) =>
          StructField(s"agg_$i", dt,
            nullable = w.isInstanceOf[WBound])
        })
        new GraftStatsLocalScan(out, Array(internal),
          s"GraftStatsAggregate[${info.path}, files=${names.size}, " +
            agg.aggregateExpressions().mkString(", ") + "]")
      }
  }

  override def pushAggregation(aggregation: Aggregation): Boolean =
    tryStatsAggregate(aggregation) match {
      case some @ Some(_) =>
        statsAnswer = some
        true
      case None => inner match {
        case a: SupportsPushDownAggregates => a.pushAggregation(aggregation)
        case _ => false
      }
    }
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    tryStatsAggregate(aggregation).isDefined || (inner match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(aggregation)
      case _ => false
    })
  override def pushVariantExtractions(extractions: Array[VariantExtraction]): Array[Boolean] =
    inner match {
      case v: SupportsPushDownVariantExtractions => v.pushVariantExtractions(extractions)
      case _ => Array.fill(extractions.length)(false)
    }
}

/** The one-row answer of a completely-pushed stats aggregate, executed
  * on the driver (Spark plans a [[org.apache.spark.sql.connector.read.LocalScan]]
  * as a `LocalTableScan` — zero tasks, zero files).
  */
private[sources] final class GraftStatsLocalScan(
    schema: StructType, data: Array[InternalRow], desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = data
  override def description(): String = desc
}
