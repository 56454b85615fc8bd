package graft.lake

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A manifest-publish race was lost (another writer committed the same
  * version) or two commits logically conflict (one removes files the
  * other rewrote). Pure appends auto-rebase and never see this below
  * `maxRetries`; rewriting commits surface it for the caller to re-run
  * on fresh state.
  */
class CommitConflictException(msg: String) extends RuntimeException(msg)

/** A rewrite's staged rows pre-date a racing deletion-vector commit —
  * NOT retryable with the same staged data (retrying would republish
  * the resurrection); callers' retry loops must rethrow this and
  * re-run the whole rewrite on fresh state.
  */
final class StaleRewriteException(msg: String) extends CommitConflictException(msg)

/** The table format: file-level incremental commits that survive
  * 100 TB. Each manifest lists the DATA FILES composing that version, so a
  * commit that touches 1 GB of a 100 TB table writes 1 GB of new files
  * plus a manifest that re-references everything else (the Delta/
  * Iceberg add-remove log idea, on one manifest per version).
  *
  * Layout:
  * {{{
  *   <path>/_log/00000000000000000007.json   manifest: file list OR
  *                                           add/remove delta + meta
  *   <path>/_log/00000000000000000010.checkpoint.parquet  full-list
  *                                           sidecar every 10 deltas
  *   <path>/data/<unique-name>.parquet       immutable data files
  *   <path>/data/__bucket=3/<unique>.parquet (bucketed tables)
  * }}}
  *
  * Commits are DELTA-ENCODED when smaller than the full list (the
  * Delta-log add/remove-action design): an append to a 10^6-file table
  * writes O(batch) manifest bytes, not O(table). Readers reconstruct a
  * version from the nearest full list (snapshot commit or checkpoint
  * sidecar) plus at most [[IncrementalTable.CheckpointInterval]]
  * deltas.
  *
  * Commit protocol (a pointer commit, like a Delta log entry): stage new
  * files under `_stage/<nonce>/`, MOVE them into `data/` (rename, no
  * copy), then publish the manifest via write-tmp + rename. A reader
  * only sees files referenced by a committed manifest, so crashed
  * writers leave invisible garbage, never corruption; `vacuum` deletes
  * data files no kept manifest references. Concurrent committers race
  * on the manifest rename — [[CommitConflictException]] + the rebase
  * loops in [[commitFiles]]/[[writeSnapshot]] arbitrate optimistically.
  * WHO wins the publish race is delegated to the storage-appropriate
  * [[CommitArbiter]] (local `link(2)` CAS, HDFS atomic rename, or a
  * deployment-registered [[ExternalCasArbiter]] for object stores —
  * the Delta `LogStore` seam).
  */
final class IncrementalTable(
    spark: SparkSession, val path: String, collectStats: Boolean = true) {

  private val logDir = new Path(path, "_log")
  private val dataDir = new Path(path, "data")
  private val schemasDir = new Path(path, "_schemas")
  private val changeDataDir = new Path(path, "_change_data")
  private val dvDir = new Path(path, "_dv")
  private val bloomsDir = new Path(path, "_blooms")
  private val legacySchemaFile = new Path(path, "_table_schema.json")

  /** Resolve a manifest file entry to its physical location. Entries
    * are normally names relative to this table's `data/`; an entry
    * prefixed `ext:` is an ABSOLUTE URI into another table's data —
    * how a SHALLOW CLONE references the source's files without copying
    * a byte. `vacuum` only ever walks this table's own `data/`, so
    * external references are structurally exempt from deletion.
    */
  def dataPath(f: String): Path =
    if (f.startsWith("ext:")) new Path(f.stripPrefix("ext:"))
    else new Path(dataDir, f)

  /** The key a manifest entry is known by AT SCAN TIME (`_metadata
    * .file_path` reduced past the last `/data/`) — what deletion
    * vectors and DML candidate sets carry. Inverse lookup translates a
    * scan-time key back to its manifest entry so removals match.
    */
  private def relKey(e: String): String =
    if (!e.startsWith("ext:")) e
    else {
      val u = e.stripPrefix("ext:")
      val i = u.lastIndexOf("/data/")
      if (i >= 0) u.substring(i + 6) else u.substring(u.lastIndexOf('/') + 1)
    }
  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def log = org.slf4j.LoggerFactory.getLogger(getClass)

  // once per table per JVM: a table written before stats moved into
  // the manifest has stats-less files, which no prune can skip
  if (IncrementalTable.legacyStatsChecked.add(path) &&
      fs.exists(new Path(path, "_stats")))
    log.warn(s"graft table $path predates per-file stats in the manifest: " +
      "its older files are never pruned until compact() (SQL: OPTIMIZE) " +
      "restages them and harvests their stats; vacuum() then deletes _stats/")

  // ---- schema tracking (Delta keeps the schema INSIDE the log commit;
  // doing the same — an immutable blob under _schemas/ whose name rides
  // the manifest meta — makes schema evolution transactional: the
  // pointer flips atomically with the file list, and a lost commit race
  // re-merges against the winner's schema inside the CAS retry loop, so
  // concurrent add-column commits can never drop each other's columns) ----

  /** The tracked table schema: the MERGE of every committed write's
    * schema (add-column evolution; incompatible type changes throw at
    * commit time, like Delta). Resolution is O(1): latest manifest meta
    * → one small blob. None before the first tracked commit. Tables
    * written by older versions of this library fall back to their
    * `_table_schema.json`.
    */
  def tableSchema: Option[StructType] =
    latestVersion.flatMap(schemaAt).orElse(readLegacySchemaFile())

  /** The tracked schema as of version `v` (time-traveling metadata —
    * each commit's manifest points at the schema it was written under).
    */
  def schemaAt(v: Long): Option[StructType] =
    metaAt(v).get("schema").map(readSchemaBlob)

  private def readLegacySchemaFile(): Option[StructType] =
    if (!fs.exists(legacySchemaFile)) None
    else {
      val in = fs.open(legacySchemaFile)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(DataType.fromJson(txt).asInstanceOf[StructType])
    }

  // schema blobs are uuid-named and never rewritten, so an entry is
  // correct forever — without this cache every snapshot()/schemaAt
  // (and the stream's per-batch widening guard) re-reads and re-parses
  // the same blob file
  private val schemaBlobCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, StructType](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, StructType]): Boolean = size > 8
      })

  private def readSchemaBlob(name: String): StructType = {
    val cached = schemaBlobCache.get(name)
    if (cached != null) return cached
    val in = fs.open(new Path(schemasDir, name))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val parsed = DataType.fromJson(txt).asInstanceOf[StructType]
    schemaBlobCache.put(name, parsed)
    parsed
  }

  /** Immutable, uniquely-named — never overwritten, so a reader holding
    * any manifest can always resolve its schema pointer.
    */
  private def writeSchemaBlob(s: StructType): String = {
    val name = s"${java.util.UUID.randomUUID().toString.take(12)}.json"
    fs.mkdirs(schemasDir)
    val out = fs.create(new Path(schemasDir, name), true)
    out.write(s.json.getBytes(StandardCharsets.UTF_8))
    out.close()
    name
  }

  /** Add-column evolution plus lossless TYPE WIDENING (int → long,
    * float → double; smaller ints widen through the same chain —
    * Delta's type-widening feature). The merged column takes the WIDER
    * of the committed and incoming types: old narrow files upcast at
    * scan (Spark 4 parquet readers promote int32→int64, float→double
    * natively), a wide batch commits without rewriting the table, and
    * a narrow batch into a widened table is upcast AT WRITE
    * ([[conformWidths]], Delta's write-side cast) so no new narrow
    * files are ever staged. Any other type change still throws — a
    * lossy change would corrupt every older file's read.
    *
    * Returns the merged schema plus the columns whose TABLE type
    * widened in this merge: their bloom indexes were built by hashing
    * the NARROW values (Spark hashes int and long differently), so a
    * wide-typed probe would miss and wrongly prune — [[schemaMetaFor]]
    * retires those columns from the bloom config in the same commit.
    */
  private def widerOf(a: DataType, b: DataType): Option[DataType] =
    IncrementalTable.widerOf(a, b)

  private def mergeSchemas(
      prev: StructType, next: StructType,
      allowWiden: Boolean): (StructType, Seq[String]) = {
    val widenedCols = Seq.newBuilder[String]
    val mergedPrev = prev.fields.toSeq.map { pf =>
      next.fields.find(_.name == pf.name) match {
        case None => pf
        case Some(nf) if nf.dataType == pf.dataType => pf
        case Some(nf) =>
          def incompatible(hint: String) = new IllegalArgumentException(
            s"incompatible schema change for $path: column ${pf.name} " +
              s"${pf.dataType.simpleString} -> ${nf.dataType.simpleString}$hint")
          val w = widerOf(pf.dataType, nf.dataType)
            .getOrElse(throw incompatible(""))
          if (w != pf.dataType) {
            // the TABLE widens — OPT-IN only (Delta gates it behind
            // delta.enableTypeWidening the same way): an accidental
            // wide literal must not silently and permanently widen the
            // table schema and retire its bloom index. A batch
            // NARROWER than the table (w == pf.dataType) is no schema
            // event at all: conformWidths upcasts it at write.
            if (!allowWiden) throw incompatible(
              " (a lossless widening — opt in with setTypeWidening(true) " +
                "or TBLPROPERTIES ('graft.enableTypeWidening'='true'))")
            widenedCols += pf.name
          }
          pf.copy(dataType = w)
      }
    }
    val newFields = next.fields.filterNot(f => prev.fieldNames.contains(f.name))
    (StructType(mergedPrev ++ newFields), widenedCols.result())
  }

  /** The `schema` meta entry for a commit based on `base`: merge the
    * incoming schema with the base version's tracked schema. Called
    * INSIDE the commit retry loop — a rebase recomputes the merge
    * against the race winner's schema, which is what makes evolution
    * lose-proof under concurrency. A commit carrying no schema (e.g. a
    * mid-flight metadata-only commit) carries the base pointer forward.
    */
  private def schemaMetaFor(
      base: Option[Long], incoming: Option[StructType]): Map[String, String] = {
    val baseMeta = base.map(metaAt).getOrElse(Map.empty)
    val prevPointer = baseMeta.get("schema")
    val prevSchema = prevPointer.map(readSchemaBlob).orElse(readLegacySchemaFile())
    (incoming, prevSchema) match {
      case (None, _) => prevPointer.map("schema" -> _).toMap
      case (Some(in), None) => Map("schema" -> writeSchemaBlob(in))
      case (Some(in), Some(p)) =>
        val (merged, widenedCols) =
          mergeSchemas(p, in, baseMeta.get("widen").contains("true"))
        val schemaEntry =
          if (merged == p && prevPointer.isDefined) Map("schema" -> prevPointer.get)
          else Map("schema" -> writeSchemaBlob(merged))
        // a widened column's bloom filters hashed the NARROW values —
        // retire the column from the bloom config atomically with the
        // widening commit (conservative: its files simply stop bloom-
        // pruning; re-enable + compact rebuilds under the wide type —
        // setBloomColumns purges the narrow-hashed rows on re-enable)
        val bloomEntry = baseMeta.get("bloom") match {
          case Some(b) if widenedCols.nonEmpty =>
            Map("bloom" -> b.split(";").filter(_.nonEmpty)
              .filterNot(widenedCols.contains).mkString(";"))
          case _ => Map.empty[String, String]
        }
        // record every column the table has EVER widened (`widened`,
        // cumulative physical names): the audit trail of what changed,
        // and the marker that makes writeManifest demand the
        // `type-widening` reader feature — a pre-widening reader of
        // this library would bare-read a mixed-width file set, so it
        // must refuse with the clean upgrade message instead
        val widenedEntry =
          if (widenedCols.isEmpty) Map.empty[String, String]
          else {
            val already = baseMeta.get("widened").toSeq
              .flatMap(_.split(";")).filter(_.nonEmpty)
            Map("widened" ->
              (already ++ widenedCols).distinct.mkString(";"))
          }
        // widening the BUCKET column retires the join-bucket layout
        // declaration the same way (the committed dirs hold bucket ids
        // hashed under the narrow type; the dir-level type token
        // already stops readers from key-grouping them — this stops
        // stageForLayout from piling new wide-hashed files onto a
        // permanently broken layout, and DESCRIBE DETAIL from
        // advertising it)
        val jbucketEntry = baseMeta.get(IncrementalTable.JoinBucketMetaKey) match {
          case Some(s) if widenedCols.nonEmpty &&
              s.split("\\+", 2).lastOption.exists(widenedCols.contains) =>
            Map(IncrementalTable.JoinBucketMetaKey -> "")
          case _ => Map.empty[String, String]
        }
        schemaEntry ++ bloomEntry ++ widenedEntry ++ jbucketEntry
    }
  }

  private def manifestPath(v: Long) = new Path(logDir, f"$v%020d.json")
  private def checkpointPath(v: Long) = new Path(logDir, f"$v%020d.checkpoint.json")
  private def checkpointParquetPath(v: Long) =
    new Path(logDir, f"$v%020d.checkpoint.parquet")
  private val ManifestName = """^(\d{20})\.json$""".r

  private def manifestIds: Seq[Long] =
    (if (fs.exists(logDir)) fs.listStatus(logDir).toSeq else Seq.empty)
      .map(_.getPath.getName)
      .collect { case ManifestName(d) => d.toLong }

  // Resolving the latest version by LISTING _log/ is O(#commits) — at
  // one commit a minute for two years that's ~10^6 list entries per
  // metadata operation, the classic object-store log bottleneck (Delta
  // answers it with _last_checkpoint). Same move here: a best-effort
  // hint file records the newest version a writer published; readers
  // jump to the hint and PROBE FORWARD with O(commits-since-hint)
  // existence checks. The hint can only ever lag (it is written after
  // the manifest rename, and vacuum never deletes the head), so a
  // stale/missing/corrupt hint degrades to the probe or the full
  // listing — never to a wrong answer.
  private val latestHint = new Path(logDir, "_latest.hint")

  private def readLatestHint(): Option[Long] =
    try {
      if (!fs.exists(latestHint)) None
      else {
        val in = fs.open(latestHint)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        val v = txt.trim.toLong
        if (versionExists(v)) Some(v) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeLatestHint(v: Long): Unit =
    try {
      val out = fs.create(latestHint, true)
      out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  def latestVersion: Option[Long] = readLatestHint() match {
    case Some(h) =>
      var v = h
      while (versionExists(v + 1)) v += 1
      Some(v)
    case None =>
      val ids = manifestIds
      if (ids.isEmpty) None else Some(ids.max)
  }

  def exists: Boolean = latestVersion.isDefined

  def versionExists(v: Long): Boolean = fs.exists(manifestPath(v))

  // ---- manifest io (file lists and meta are flat and sanitized on
  // write, so they parse without a json library; stats use Jackson) ----
  //
  // A manifest carries EITHER the full file list ("files") or a DELTA
  // against the previous version ("add"/"remove") — the Delta-log
  // add/remove-action idea. A full list per commit is O(table files)
  // of JSON per commit: at 10^6 files that's ~100 MB written for a
  // 1-file append, and the log itself becomes the write bottleneck at
  // 100 TB. Delta commits make an append cost O(batch). Readers
  // reconstruct a version by walking back to the nearest full list
  // (a full-list commit or a `<v>.checkpoint.json` sidecar — written
  // every [[IncrementalTable.CheckpointInterval]] delta commits, so the
  // walk is bounded) and replaying the deltas forward. Pre-delta-log
  // tables read unchanged: every old manifest IS a full list.
  // A trailing `"stats":{<file>:{...}}` object carries the footer stats
  // of every file the manifest lists (Delta's add-action stats);
  // checkpoints carry them per row. A stats-less file has no entry.

  /** Publish the manifest for `v` — the table's ATOMIC commit point.
    * The tmp name carries a writer-unique nonce (two committers racing
    * on one version must never share a tmp file), and the rename-into-
    * place fails iff `v` is already taken, which surfaces as
    * [[CommitConflictException]] for the optimistic-retry loops.
    *
    * `prevFiles` is an optional hint of version `v-1`'s file list (the
    * commit loops already hold it); without it the previous version is
    * reconstructed to compute the delta encoding.
    * Stats of files new to `v` come from `knownStats` or else their
    * footers (harvested under the commit's schema); files carried over
    * keep `v-1`'s.
    */
  private[lake] def writeManifest(v: Long, operation: String, files: Seq[String],
      meta0: Map[String, String] = Map.empty,
      prevFiles: Option[Seq[String]] = None,
      knownStats: Map[String, FileStats.Entry] = Map.empty): Unit = {
    // stamp the version's required reader features (`rf`): KNOWN
    // features re-derive from the state this commit actually publishes
    // (so dropping the DV pointer drops its feature too); unknown
    // (future) names carry through verbatim. Self-describing per
    // version — time travel to a pre-feature version needs no feature
    // support.
    val carriedRf = meta0.get("rf").map(_.split(";").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val rf = IncrementalTable.readerFeaturesOf(meta0) ++
      (carriedRf -- IncrementalTable.SupportedReaderFeatures)
    val meta =
      if (rf.isEmpty) meta0 - "rf"
      else meta0 + ("rf" -> rf.toSeq.sorted.mkString(";"))
    require(!operation.contains("\"") && !operation.contains("\\"),
      s"illegal character in operation string: $operation")
    files.foreach(f => require(!f.contains("\"") && !f.contains("\\"),
      s"illegal character in data file name: $f"))
    meta.foreach { case (k, v) =>
      // keep write-side sanitization in sync with metaAt's parser: it
      // splits pairs on ',' and key/value on ':', so those are load-
      // bearing delimiters, not just JSON syntax
      require((k + v).forall(c => c != '"' && c != '\\' && c != '{' && c != '}' && c != ','),
        s"illegal character in manifest meta $k=$v")
      require(!k.contains(":"), s"illegal ':' in manifest meta key: $k")
    }
    val metaJson =
      if (meta.isEmpty) ""
      else meta.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
        .mkString(""","meta":{""", ",", "}")
    def arr(names: Seq[String]) = names.sorted.map("\"" + _ + "\"").mkString(",")
    // Delta-encode iff the previous version is resolvable AND the delta
    // is strictly smaller than the full list (appends/DML rewrites win;
    // snapshot rewrites, clones and restores naturally stay full lists,
    // which doubles as a free checkpoint).
    val prevOpt: Option[Seq[String]] =
      if (v > 0 && versionExists(v - 1)) Some(prevFiles.getOrElse(filesImpl(v - 1)))
      else None
    val prevSet = prevOpt.getOrElse(Seq.empty).toSet
    val (body, listed) = prevOpt match {
      case Some(prev) =>
        val fileSet = files.toSet
        val add = files.filterNot(prevSet)
        val remove = prev.filterNot(fileSet)
        if (add.size + remove.size < files.size)
          (s""""add":[${arr(add)}],"remove":[${arr(remove)}]""", add)
        else (s""""files":[${arr(files)}]""", files)
      case None => (s""""files":[${arr(files)}]""", files)
    }
    val harvestSchema = if (!collectStats) None
      else meta.get("schema").map(readSchemaBlob).orElse(readLegacySchemaFile())
    lazy val prevStats = carriedStats(v - 1, "writeManifest")
    val listedStats = listed.flatMap(f => knownStats.get(f).orElse {
      if (prevSet(f)) prevStats.get(f)
      else harvestSchema.map(FileStats.harvest(
        spark.sparkContext.hadoopConfiguration, dataPath(f).toString, _))
    }.map(f -> _))
    val statsJson =
      if (listedStats.isEmpty) "" else ""","stats":""" + FileStats.statsJson(listedStats)
    val json = s"""{"version":$v,"operation":"$operation",""" +
      s""""committedAt":${System.currentTimeMillis()},""" + body + metaJson +
      statsJson + "}"
    fs.mkdirs(logDir)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(logDir, f"_tmp_${nonce}_$v%020d.json")
    val out = fs.create(tmp, true)
    out.write(json.getBytes(StandardCharsets.UTF_8))
    out.close()
    // The create-if-absent race on the manifest is delegated to the
    // storage-appropriate [[CommitArbiter]] (local link(2) CAS, HDFS
    // atomic rename, or a deployment-supplied external CAS for object
    // stores — Delta's LogStore seam). Threads are serialized by the
    // per-table JVM lock; the arbiter is what makes racing PROCESSES
    // safe (pinned by CommitRaceSpec's two-JVM race).
    IncrementalTable.publishLock(path).synchronized {
      val dest = manifestPath(v)
      val arbiter = CommitArbiters.forTable(path, fs.getScheme)
      if (!arbiter.publish(fs, tmp, dest)) {
        fs.delete(tmp, false)
        throw new CommitConflictException(
          s"concurrent commit detected for version $v of $path " +
            s"(arbiter: ${arbiter.name})")
      }
    }
    writeLatestHint(v)
    // Bound the reconstruction walk: every CheckpointInterval-th commit
    // publishes a full-list sidecar. Best-effort AFTER the commit — a
    // failed/missing checkpoint only lengthens the walk to the previous
    // one, never changes an answer (exactly Delta's checkpoint.parquet
    // contract).
    if (v > 0 && v % IncrementalTable.CheckpointInterval == 0 &&
        body.startsWith("\"add\""))
      try writeCheckpoint(v, files, carriedStats(v, "writeManifest"))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Checkpoints are PARQUET (`file` plus its JSON `stats` entry,
    * dictionary + snappy), not JSON: at 10⁶ file entries the JSON full list is
    * ~34 MB regex-parsed on every cold read, where the parquet form is
    * a few MB binary-decoded — the same reason Delta moved its
    * checkpoints to parquet. Written driver-side with the parquet
    * example writer (no Spark job for a metadata write), tmp + rename
    * like the manifests. Old `.checkpoint.json` sidecars remain
    * readable forever; new ones are only ever written as parquet.
    */
  private def writeCheckpoint(
      v: Long, files: Seq[String], stats: Map[String, FileStats.Entry]): Unit = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(logDir, f"_tmp_ckpt_${nonce}_$v%020d.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withType(IncrementalTable.CheckpointSchema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      IncrementalTable.CheckpointSchema)
    try files.sorted.foreach { f =>
      val g = gf.newGroup().append("file", f)
      stats.get(f).foreach(e => g.append("stats", e.toString))
      w.write(g)
    } finally w.close()
    if (!fs.rename(tmp, checkpointParquetPath(v))) fs.delete(tmp, false)
  }

  /** Does `v` have a checkpoint sidecar in EITHER format? */
  private def hasCheckpoint(v: Long): Boolean =
    fs.exists(checkpointParquetPath(v)) || fs.exists(checkpointPath(v))

  /** The full list pinned at `v` — parquet sidecar preferred, legacy
    * JSON still honored (pre-round-5 tables keep reading unchanged).
    */
  private def readCheckpointFiles(v: Long): Seq[String] =
    if (fs.exists(checkpointParquetPath(v)))
      readCheckpointRows(v, withStats = false).map(_._1)
    else
      jsonArray(readLogFile(checkpointPath(v)), "files")
        .getOrElse(throw new IllegalStateException(
          s"corrupt checkpoint $v at $path"))

  /** (file, stats JSON) rows of `v`'s parquet checkpoint; a names-only
    * read projects the stats column away.
    */
  private def readCheckpointRows(
      v: Long, withStats: Boolean): Seq[(String, Option[String])] = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    if (!withStats)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        "message graft_checkpoint { required binary file (UTF8); }")
    val r = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      checkpointParquetPath(v)).withConf(conf).build()
    val buf = Seq.newBuilder[(String, Option[String])]
    try {
      var g = r.read()
      while (g != null) {
        buf += g.getString("file", 0) -> Option.when(g.getType.containsField("stats") &&
          g.getFieldRepetitionCount("stats") > 0)(g.getString("stats", 0))
        g = r.read()
      }
    } finally r.close()
    buf.result()
  }

  private def readLogFile(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Extract a JSON string-array field (`"key":["a","b"]`) from a
    * manifest blob; None if the key is absent. File names are sanitized
    * on write (no quotes/backslashes), so flat parsing is exact.
    */
  private def jsonArray(txt: String, key: String): Option[Seq[String]] = {
    val i = txt.indexOf(s""""$key":[""")
    if (i < 0) None
    else Some(txt.substring(i + key.length + 4).takeWhile(_ != ']')
      .split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty))
  }

  /** (operation, committedAt, full-list-or-None, add, remove) — one
    * manifest read, no reconstruction.
    */
  private def readManifestParts(v: Long)
      : (String, Long, Option[Seq[String]], Seq[String], Seq[String]) = {
    require(versionExists(v), s"version $v does not exist at $path")
    parseManifestParts(v, readLogFile(manifestPath(v)))
  }

  private def parseManifestParts(v: Long, txt: String)
      : (String, Long, Option[Seq[String]], Seq[String], Seq[String]) = {
    // the operation string may legally contain ',' (e.g. zorder[x,y]) —
    // parse the quoted value as a unit, never split on bare commas
    val op = """"operation":"([^"]*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"corrupt manifest $v at $path"))
    val ts = """"committedAt":(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(
        throw new IllegalStateException(s"corrupt manifest $v at $path"))
    val full = jsonArray(txt, "files")
    if (full.isEmpty && jsonArray(txt, "add").isEmpty)
      throw new IllegalStateException(s"corrupt manifest $v at $path")
    (op, ts, full,
      jsonArray(txt, "add").getOrElse(Seq.empty),
      jsonArray(txt, "remove").getOrElse(Seq.empty))
  }

  // version → file list (and file → stats) is IMMUTABLE once committed,
  // so any cache entry is correct forever; the LRU only bounds memory.
  // Shared across the threads of a multi-writer test via the
  // synchronized wrapper.
  private def versionCache[T]() =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Long, T](8, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Long, T]): Boolean =
          size > 4
      })
  private val filesCache = versionCache[Seq[String]]()
  private val statsCache = versionCache[Map[String, FileStats.Entry]]()

  /** Reconstruct version `v`'s file list: walk back collecting deltas
    * until a full list (full-list commit, checkpoint sidecar, or cache
    * hit), then replay forward. Bounded by the checkpoint interval.
    */
  private def filesImpl(v: Long): Seq[String] = {
    val cached = filesCache.get(v)
    if (cached != null) return cached
    var cur = v
    var base: Seq[String] = null
    var deltas = List.empty[(Seq[String], Seq[String])] // ascending (add, remove)
    while (base == null) {
      val hit = filesCache.get(cur)
      if (hit != null) base = hit
      else if (hasCheckpoint(cur)) {
        // a sidecar is written from the authoritative full list (at
        // commit time or by vacuum's cutoff pin), so it is trusted even
        // for the requested version itself — after a vacuum it may be
        // the ONLY way to resolve the oldest retained version
        base = readCheckpointFiles(cur)
      } else {
        if (!versionExists(cur))
          throw new IllegalStateException(
            s"cannot reconstruct version $v of $path: manifest $cur is " +
              "missing (vacuumed without a checkpoint?)")
        val (_, _, full, add, remove) = readManifestParts(cur)
        full match {
          case Some(f) => base = f
          case None =>
            deltas = (add, remove) :: deltas
            cur -= 1
            if (cur < 0)
              throw new IllegalStateException(
                s"cannot reconstruct version $v of $path: no base full list")
        }
      }
    }
    val result = deltas.foldLeft(base) { case (acc, (add, remove)) =>
      val rm = remove.toSet
      acc.filterNot(rm) ++ add
    }.sorted
    filesCache.put(v, result)
    result
  }

  /** Version `v`'s file → stats map: its checkpoint's, or the stats its
    * manifest lists (replayed over `v-1`'s for a delta). Before the
    * stats object a manifest holds no `{` after a `"stats":` key (meta
    * values are quote-free strings), so `"stats":{` first marks it. A
    * file with no entry has no stats.
    */
  private[lake] def statsImpl(v: Long): Map[String, FileStats.Entry] = {
    val cached = statsCache.get(v)
    if (cached != null) return cached
    val result =
      if (fs.exists(checkpointParquetPath(v))) readCheckpointRows(v, withStats = true)
        .collect { case (f, Some(j)) => f -> FileStats.parse(j) }.toMap
      else if (fs.exists(checkpointPath(v))) Map.empty[String, FileStats.Entry] // legacy JSON
      else {
        require(versionExists(v), s"cannot reconstruct the stats of version $v of $path")
        val txt = readLogFile(manifestPath(v))
        val (_, _, full, _, remove) = parseManifestParts(v, txt)
        val i = txt.indexOf(""""stats":{""")
        val listed =
          if (i < 0) Map.empty[String, FileStats.Entry]
          else FileStats.parse(txt.substring(i + 8, txt.length - 1))
            .properties.asScala.map(e => e.getKey -> e.getValue).toMap
        if (full.isDefined) listed else statsImpl(v - 1) -- remove ++ listed
      }
    statsCache.put(v, result)
    result
  }

  /** Data files (relative to `data/`) composing version `v`. */
  def files(v: Long): Seq[String] = filesImpl(v)

  /** The operation string version `v` was committed with. */
  def operationAt(v: Long): String = readManifestParts(v)._1

  /** Newest version whose operation matches `re`, decoded as the
    * regex's single numeric group — the high-watermark walk every
    * idempotent batch consumer shares (streaming sinks, dedup-index
    * admits): newest→oldest, stop at the first match or the first
    * vacuumed (missing) manifest, O(commits since the last watermarked
    * op). Watermarked ops commit in increasing id order, so the first
    * hit IS the high watermark. If vacuum removed every watermarked
    * manifest the guard is lost and a replayed batch re-applies — keep
    * ≥ 2 versions when streaming (the Delta txn-log caveat).
    */
  def latestOpId(re: scala.util.matching.Regex): Option[Long] =
    latestVersion.flatMap { latest =>
      (latest to 0L by -1).iterator
        .takeWhile(versionExists)
        .map(operationAt)
        .collectFirst { case re(id) => id.toLong }
    }

  /** Commit-carried metadata of version `v` (e.g. identity watermarks).
    * Values ride the manifest, so reading them is one small file — no
    * table scan, and they time-travel with the version.
    */
  // meta is immutable once committed, and table-property reads
  // (colmap, bloom, writeorder, gencol, dv…) hit the SAME manifest many
  // times per operation — cache like filesCache (the existence check
  // stays, so reads of vacuumed versions still fail loudly)
  private val metaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Long, Map[String, String]](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Long, Map[String, String]]): Boolean = size > 8
      })

  def metaAt(v: Long): Map[String, String] = {
    require(versionExists(v), s"version $v does not exist at $path")
    val cached = metaCache.get(v)
    if (cached != null) return cached
    val in = fs.open(manifestPath(v))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val parsed = """"meta":\{([^}]*)\}""".r.findFirstMatchIn(txt) match {
      case None => Map.empty[String, String]
      case Some(m) =>
        m.group(1).split(",").filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split(":", 2)
          k.trim.stripPrefix("\"").stripSuffix("\"") ->
            v.trim.stripPrefix("\"").stripSuffix("\"")
        }.toMap
    }
    metaCache.put(v, parsed)
    parsed
  }

  /** Latest version committed at or before `millis` (Delta
    * `timestampAsOf` resolution rule).
    */
  def versionAsOfTimestamp(millis: Long): Option[Long] =
    manifestIds.sorted.map(v => v -> readManifestParts(v)._2)
      .takeWhile(_._2 <= millis).lastOption.map(_._1)

  // ---- reads ----

  /** Latest snapshot under the TRACKED schema (evolved columns read as
    * NULL from pre-evolution files). Time-traveled [[snapshotAt]] reads
    * stay raw — each version keeps the schema its files were written
    * with, Delta's time-travel contract.
    */
  /** Zero-file versions are legitimate (a DELETE can empty the table):
    * readable as an empty frame whenever a schema is recoverable.
    */
  private def emptyFrame(s: Option[StructType], v: Long): DataFrame = {
    val schema = s.getOrElse(throw new IllegalStateException(
      s"version $v of $path has no data files and no tracked schema"))
    val map = colMapAt(v)
    val dropped = droppedColsAt(v)
    val logical = StructType(schema.fields.filterNot(f => dropped(f.name))
      .map(f => f.copy(name = map.getOrElse(f.name, f.name))))
    spark.createDataFrame(java.util.Collections.emptyList[Row](), logical)
  }

  def snapshot(): DataFrame = snapshotHead(latestVersion.getOrElse(
    throw new IllegalStateException(s"empty table $path")))

  /** The head read pinned at an explicit version `v`: the tracked-
    * schema-aware variant of [[snapshotAt]], split out so maintenance
    * rewrites read the SAME version their commit later removes.
    */
  private def snapshotHead(v: Long): DataFrame = {
    checkReaderFeatures(v)
    tableSchema match {
      case Some(s) =>
        val fls = files(v)
        if (fls.isEmpty) emptyFrame(Some(s), v)
        else logicalize(applyDv(
          spark.read.schema(s).parquet(fls.map(f => dataPath(f).toString): _*), v), v)
      case None => snapshotAt(v)
    }
  }

  def snapshotAt(v: Long): DataFrame = {
    checkReaderFeatures(v)
    val fs = files(v)
    // read under v's TRACKED schema when one exists: a version whose
    // file set spans a type widening (old int files + new long files)
    // has no single footer schema a bare read could pick safely
    val sch = schemaAt(v)
    if (fs.isEmpty) emptyFrame(sch.orElse(tableSchema), v)
    else {
      val reader = sch.map(spark.read.schema).getOrElse(spark.read)
      logicalize(
        applyDv(reader.parquet(fs.map(f => dataPath(f).toString): _*), v), v)
    }
  }

  /** Reader features version `v` requires — the Delta
    * minReaderVersion/table-features idea at manifest granularity.
    * Stored explicitly in the manifest (`rf` meta, written by every
    * commit whose state needs one); for pre-gate tables the set is
    * DERIVED from the meta keys themselves, so old tables gate
    * identically without a rewrite.
    */
  def readerFeaturesAt(v: Long): Set[String] = {
    val m = metaAt(v)
    m.get("rf").map(_.split(";").filter(_.nonEmpty).toSet)
      .getOrElse(IncrementalTable.readerFeaturesOf(m))
  }

  /** Refuse to read data of a version requiring a feature this library
    * does not implement — misreading (resurrected rows, stale column
    * names) is the alternative. Every data-read entry point calls
    * this; file-list/meta reads stay allowed (they are how upgrades
    * and forensics happen).
    */
  private def checkReaderFeatures(v: Long): Unit = {
    val unknown = readerFeaturesAt(v) -- IncrementalTable.SupportedReaderFeatures
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"version $v of $path requires reader feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} that this graft version " +
          "does not support — upgrade the reader (refusing to misread)")
  }

  /** Writer gate: committing over a version whose features we don't
    * implement could silently violate whatever invariant the feature
    * maintains — refuse, like a Delta writer below the table's
    * minWriterVersion. EVERY manifest-publishing path must pass
    * through this with its base version's meta.
    */
  private def checkWriterFeatures(baseMeta: Map[String, String]): Unit = {
    val unknownRf = baseMeta.get("rf")
      .map(_.split(";").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String]) -- IncrementalTable.SupportedReaderFeatures
    if (unknownRf.nonEmpty)
      throw new IllegalStateException(
        s"cannot commit to $path: current version requires feature(s) " +
          s"${unknownRf.toSeq.sorted.mkString(", ")} that this graft " +
          "version does not support — upgrade before writing")
  }

  /** Only the files matching `pred` — file-level pruning from the
    * manifest, no directory listing, no partition discovery.
    */
  def snapshotOfFiles(v: Long, pred: String => Boolean): Option[DataFrame] = {
    checkReaderFeatures(v)
    val picked = files(v).filter(pred)
    if (picked.isEmpty) None
    else {
      // v's tracked schema, same as snapshotAt: the picked files may
      // span a type widening
      val reader = schemaAt(v).map(spark.read.schema).getOrElse(spark.read)
      Some(logicalize(applyDv(
        reader.parquet(picked.map(f => dataPath(f).toString): _*), v), v))
    }
  }

  /** Stats-pruned scan: drop every data file whose footer-harvested
    * (min, max, nulls) bounds prove it cannot contain a matching row,
    * THEN read and apply the filters exactly. Pruning is a driver-side
    * test over the manifest's per-file stats — at 100 TB a selective
    * predicate reads a handful of files instead of the table.
    */
  def scan(filters: Column*): DataFrame = scanImpl(
    latestVersion.getOrElse(throw new IllegalStateException(s"empty table $path")),
    filters, tableSchema) // latest scans see the tracked (evolved) schema

  def scanAt(v: Long, filters: Column*): DataFrame =
    scanImpl(v, filters, schemaAt(v)) // v's files may span a widening

  private def scanImpl(
      v: Long, filters: Seq[Column], schema: Option[StructType]): DataFrame = {
    checkReaderFeatures(v)
    val all = files(v)
    if (all.isEmpty)
      return filters.foldLeft(
        emptyFrame(schema.orElse(schemaAt(v)).orElse(tableSchema), v))(_ filter _)
    val kept = prunedFilesAt(v, all, filters)
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
    val base =
      if (kept.nonEmpty)
        applyDv(reader.parquet(kept.map(f => dataPath(f).toString): _*), v)
      else // schema still comes from the (unread) real files
        reader.parquet(all.map(f => dataPath(f).toString): _*).limit(0)
    filters.foldLeft(logicalize(base, v))(_ filter _)
  }

  /** The subset of `all` that might satisfy every filter, judged by
    * the latest version's per-file stats. Files without stats there —
    * and any stats trouble at all — are kept: skipping only ever
    * removes provable misses.
    */
  def prunedFiles(all: Seq[String], filters: Seq[Column]): Seq[String] =
    prunedFilesAt(latestVersion.getOrElse(return all), all, filters)

  /** Version-aware variant: filters arrive in version `v`'s LOGICAL
    * column names; the manifest stats and the bloom store speak
    * physical. The mapping of `v` translates, so pruning stays sound
    * across renames. Runs no Spark job unless the bloom phase has
    * point targets to probe.
    */
  private[graft] def prunedFilesAt(
      v: Long, all: Seq[String], filters: Seq[Column]): Seq[String] = {
    if (filters.isEmpty) return all
    // a crash mid-swap must not read as "no index": finish it first
    recoverBlooms()
    val nameMap = colMapAt(v) // physical -> logical
    val droppedSet = droppedColsAt(v)
    try {
      // stat columns under v's LOGICAL names, each with its physical key
      val cols = schemaAt(v).orElse(tableSchema).toSeq
        .flatMap(_.fields.toSeq)
        .filter(f => FileStats.supported(f) && !droppedSet(f.name))
        .map(f => (nameMap.getOrElse(f.name, f.name), f.name, f.dataType))
      val dataSchema = StructType(cols.map { case (l, _, dt) => StructField(l, dt) })
      // one analysis pass per filter feeds BOTH the stats rewrite and
      // the bloom target extraction
      val analyzed = filters.map(f =>
        FileStats.analyzedCondition(spark, dataSchema, f))
      val stats = statsImpl(v)
      lazy val possible = FileStats.possiblyMatches(cols, analyzed)
      val ranged = all.filter(f => stats.get(f).forall(possible))
      // bloom phase: point lookups on indexed columns prune further —
      // min/max can't separate uniformly-spread ids, blooms can. The
      // bloom store is keyed by PHYSICAL column; targets are extracted
      // under v's logical names and translated back for the probe.
      val bloomedPhys = bloomColumns.filterNot(droppedSet)
      val logicalOf = (p: String) => nameMap.getOrElse(p, p)
      val physicalOf = bloomedPhys.map(p => logicalOf(p) -> p).toMap
      if (bloomedPhys.isEmpty || !fs.exists(bloomsDir)) ranged
      else {
        val targets = BloomIndex.pointTargets(
          analyzed, bloomedPhys.map(logicalOf).toSet)
          .map { case (l, vs) => physicalOf(l) -> vs }
        lazy val parts = bloomParts()
        if (targets.isEmpty || parts.isEmpty) ranged
        else {
          val miss = BloomIndex.pruned(spark, spark.read.parquet(parts: _*),
            ranged, targets)
          ranged.filterNot(miss)
        }
      }
    } catch { case scala.util.control.NonFatal(e) => statsFallback("prunedFilesAt", all)(e) }
  }

  /** [[statsImpl]] for a commit that carries stats forward: trouble
    * reading them costs the files their stats, never the commit.
    */
  private def carriedStats(v: Long, method: String): Map[String, FileStats.Entry] =
    try statsImpl(v)
    catch {
      case scala.util.control.NonFatal(e) =>
        statsFallback(method, Map.empty[String, FileStats.Entry])(e)
    }

  /** One WARN for a failure on the stats path, then the conservative
    * `answer` (every file kept, no stats, a real scan).
    */
  private def statsFallback[T](method: String, answer: T)(e: Throwable): T = {
    log.warn(s"graft stats fallback for $path in $method, answering " +
      s"conservatively: ${e.getClass.getName}: ${e.getMessage}")
    answer
  }

  /** Metadata-only aggregate answers over exactly the files in
    * `names`, from the latest version's manifest stats on the driver —
    * the engine behind the connector's DSv2 aggregate pushdown
    * (`SELECT count(*) / min(k) / max(k) FROM t`, as Delta and Iceberg
    * answer from commit-log stats). Eligibility IS the correctness
    * proof: `None` (caller falls back to a real scan) unless EVERY
    * named file has an entry with `numRecords`, the null counts asked
    * for, and per bound column a bound or a provably all-null file
    * (`nullCount == numRecords`). Footer chunk statistics are EXACT for
    * the types the harvest admits, so an eligible answer equals the
    * scan's.
    *
    * @param names         manifest file entries to aggregate over
    * @param nonNullCounts columns whose `count(col)` is wanted
    * @param bounds        (column, isMax) extremes wanted
    * @return (total rows, col -> non-null count,
    *         (col, isMax) -> bound value (null = no non-null rows)),
    *         values as the external (`Row`) objects of the column type
    */
  private[graft] def statsAggregateForNames(
      names: Seq[String],
      nonNullCounts: Seq[String],
      bounds: Seq[(String, Boolean)])
      : Option[(Long, Map[String, Long], Map[(String, Boolean), Any])] = {
    val nnCols = nonNullCounts.distinct
    if (names.isEmpty)
      return Some((0L, nnCols.map(_ -> 0L).toMap,
        bounds.distinct.map(b => b -> (null: Any)).toMap))
    try {
      val v = latestVersion.getOrElse(return None)
      val types = tableSchema.toSeq.flatMap(_.fields.toSeq)
        .filter(FileStats.supported).map(f => f.name -> f.dataType).toMap
      if (!(nnCols ++ bounds.map(_._1)).forall(types.contains)) return None
      val stats = statsImpl(v)
      val entries = names.distinct.map(n => stats.getOrElse(n, return None))
      if (entries.size != names.size) return None // a doubled name
      val rows = entries.map(e => FileStats.numRecords(e).getOrElse(return None))
      val nn = nnCols.map { c =>
        c -> (rows.sum - entries.map(FileStats.nullCount(_, c).getOrElse(return None)).sum)
      }.toMap
      val bs = bounds.distinct.map { case (c, isMax) =>
        val dt = types(c)
        val known = entries.zip(rows).flatMap { case (e, n) =>
          FileStats.bound(e, c, isMax, dt) match {
            case some @ Some(_) => some
            // a missing bound is ignorable ONLY for a provably all-null file
            case None => if (FileStats.nullCount(e, c).contains(n)) None else return None
          }
        }
        val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt)
        val extreme =
          if (known.isEmpty) null
          else if (isMax) known.max(ord) else known.min(ord)
        (c, isMax) -> org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(dt)(extreme)
      }.toMap
      Some((rows.sum, nn, bs))
    } catch {
      case scala.util.control.NonFatal(e) => statsFallback("statsAggregateForNames", None)(e)
    }
  }

  /** Per-file `numRecords` from the latest version's manifest stats
    * for exactly `names` — the metadata feed for [[compactBuckets]]'s
    * convergence check. A file with no stats entry or no count is
    * simply ABSENT from the map (caller treats absence conservatively:
    * the footer fallback, or the bucket rewrites once). Fail-open: any
    * stats trouble returns an empty map, never a wrong count.
    */
  private def perFileRowCounts(names: Seq[String]): Map[String, Long] = {
    if (names.isEmpty) return Map.empty
    try {
      val stats = latestVersion.map(statsImpl).getOrElse(Map.empty)
      names.flatMap(n => stats.get(n).flatMap(FileStats.numRecords).map(n -> _)).toMap
    } catch {
      case scala.util.control.NonFatal(e) =>
        statsFallback("perFileRowCounts", Map.empty[String, Long])(e)
    }
  }

  /** Parquet-footer row count (PHYSICAL, like the stats') of a live
    * data file the manifest has no stats for (`collectStats = false`
    * tables, files from before stats moved into the manifest) — else an
    * all-s1 split bucket on such a table could never prove minimal and
    * [[compactBuckets]] would rewrite it on EVERY call. One footer read;
    * fail-open (None: the caller rewrites, wasteful but never wrong).
    * Successful reads are memoized per (single-use, immutable) file
    * name so a long-lived handle does not re-read footers on every
    * append's convergence probe; past 8192 entries the memo resets
    * wholesale, so dead names cannot leak for the handle's lifetime.
    */
  private val footerRowCountMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def footerRowCount(name: String): Option[Long] =
    footerRowCountMemo.get(name).orElse {
      if (footerRowCountMemo.size > 8192) footerRowCountMemo.clear()
      try {
        val n = FileStats.numRecords(FileStats.harvest(spark.sparkContext
          .hadoopConfiguration, dataPath(name).toString, new StructType())).get
        footerRowCountMemo.put(name, n)
        Some(n)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Bloom point-lookup index (opt-in): one pass over the NEW batch,
    * into its own subdirectory (concurrent writers must never share a
    * Spark job-commit _temporary dir). The config holds PHYSICAL names;
    * a frame staged under LOGICAL names (materializeColumnMapping's
    * realign) indexes the logical name — what the post-materialize
    * config will point at.
    */
  private def recordBlooms(df: DataFrame, named: Seq[String]): Unit =
    if (collectStats && named.nonEmpty) {
      val map = colMap
      val bloomed = bloomColumns
        .map(p => if (df.schema.fieldNames.contains(p)) p else map.getOrElse(p, p))
        .distinct.filter(df.schema.fieldNames.contains)
      if (bloomed.nonEmpty) {
        val nonce = java.util.UUID.randomUUID().toString.take(8)
        BloomIndex.build(spark, df.schema,
          named.map(n => new Path(dataDir, n).toString), bloomed)
          .coalesce(1).write.parquet(new Path(bloomsDir, nonce).toString)
      }
    }

  // ---- column mapping (Delta's rename/drop-without-rewrite design):
  // data files keep their original PHYSICAL column names forever; a
  // logical→physical indirection rides the commit meta, so RENAME and
  // DROP COLUMN are metadata-only commits — no 100 TB rewrite. Reads
  // project physical→logical at the table boundary; writes reverse-map
  // at the stage boundary; everything in between speaks logical. ----

  private def encodePairs(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
  private def decodePairs(s: String): Map[String, String] =
    s.split(";").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
  private def saneName(c: String): Boolean = IncrementalTable.saneColumnName(c)

  /** physical → logical renames as of version `v` (identity entries are
    * never stored).
    */
  def colMapAt(v: Long): Map[String, String] =
    metaAt(v).get("colmap").map(decodePairs).getOrElse(Map.empty)

  /** Physical names of dropped columns as of `v` — still present in old
    * files, invisible to every read, and their names are retired (a
    * re-add would resurrect old file data under the new column).
    */
  def droppedColsAt(v: Long): Set[String] =
    metaAt(v).get("coldrop")
      .map(_.split(";").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  def colMap: Map[String, String] =
    latestVersion.map(colMapAt).getOrElse(Map.empty)
  def droppedCols: Set[String] =
    latestVersion.map(droppedColsAt).getOrElse(Set.empty)

  /** The user-facing schema: tracked physical schema minus dropped
    * columns, under logical names.
    */
  def logicalSchema: Option[StructType] = tableSchema.map(logicalizeSchema)

  private def logicalizeSchema(st: StructType): StructType = {
    val (map, dropped) = (colMap, droppedCols)
    StructType(st.fields.filterNot(f => dropped(f.name))
      .map(f => f.copy(name = map.getOrElse(f.name, f.name))))
  }

  /** Rename physical→logical and hide dropped columns — applied at
    * every read exit. Mapping resolved as of `v` so time travel shows
    * the names of that era.
    */
  private def logicalize(df: DataFrame, v: Long): DataFrame = {
    val map = colMapAt(v)
    val dropped = droppedColsAt(v)
    val renamed =
      if (map.isEmpty && dropped.isEmpty) df
      else df.select(df.columns.toSeq.filterNot(dropped).map(p =>
        df.col(s"`$p`").as(map.getOrElse(p, p))): _*)
    backfillGenerated(renamed, v)
  }

  /** Logical→physical at the stage boundary. Re-introducing a dropped
    * column's PHYSICAL name is refused loudly: new rows would silently
    * merge with the ghost data still sitting in old files.
    */
  private def physicalize(df: DataFrame): DataFrame = {
    val rev = colMap.map(_.swap)
    val dropped = droppedCols
    val ghosts = df.columns.filter(c => dropped(c) || dropped(rev.getOrElse(c, c)))
    require(ghosts.isEmpty,
      s"column(s) ${ghosts.mkString(", ")} of $path were dropped; dropped " +
        "names are retired — use a different name")
    if (rev.isEmpty) df
    else df.select(df.columns.toSeq.map(l =>
      df.col(s"`$l`").as(rev.getOrElse(l, l))): _*)
  }

  private def physicalizeSchema(st: StructType): StructType = {
    val rev = colMap.map(_.swap)
    val dropped = droppedCols
    st.fields.foreach(f => require(!dropped(f.name) && !dropped(rev.getOrElse(f.name, f.name)),
      s"column ${f.name} of $path was dropped; dropped names are retired"))
    StructType(st.fields.map(f => f.copy(name = rev.getOrElse(f.name, f.name))))
  }

  /** Metadata-only column rename (`ALTER TABLE ... RENAME COLUMN`). The
    * physical name in every existing file is untouched; old versions
    * keep showing the old name.
    */
  def renameColumn(from: String, to: String): Long = {
    validateRename(from, to)
    val phys = resolvePhysical(from)
    val newMap = if (phys == to) colMap - phys else colMap + (phys -> to)
    commitFiles(Seq.empty, Set.empty, s"rename column[$from -> $to]",
      meta = Map("colmap" -> encodePairs(newMap)))
  }

  /** Every pre-commit check of [[renameColumn]], commit-free — so a
    * multi-change ALTER can validate the WHOLE statement before
    * applying any part of it (a late failure must not leave earlier
    * changes committed).
    */
  private[graft] def validateRename(from: String, to: String): Unit = {
    require(saneName(to), s"illegal characters in column name: $to")
    val phys = resolvePhysical(from)
    val map = colMap
    val live = tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      .filterNot(droppedCols)
    val logicalNames = live.map(p => map.getOrElse(p, p)).toSet
    require(!logicalNames.contains(to) || map.getOrElse(phys, phys) == to,
      s"cannot rename $from -> $to: $to already exists in $path")
    require(!live.contains(to) || to == phys,
      s"cannot rename $from -> $to: $to collides with a physical column of $path")
    require(!droppedCols(to),
      s"cannot rename $from -> $to: $to is a retired (dropped) column name")
    require(identityDecl.forall(_._1 != from),
      s"cannot rename identity column $from of $path")
    require(!(rowTrackingEnabled && from == IncrementalTable.RowIdCol),
      s"cannot rename the row-tracking column $from of $path")
    requireUnconstrained(from, "rename")
  }

  /** The target-side half of [[validateRename]], for renames whose
    * SOURCE a statement is itself adding (the source can only be
    * validated after the add commits, but the target can — and must —
    * be checked before anything commits, or the statement half-applies).
    */
  private[graft] def validateRenameTarget(to: String): Unit = {
    require(saneName(to), s"illegal characters in column name: $to")
    val map = colMap
    val live = tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      .filterNot(droppedCols)
    require(!live.map(p => map.getOrElse(p, p)).contains(to) &&
        !live.contains(to),
      s"cannot rename to $to: it already exists in $path")
    require(!droppedCols(to),
      s"cannot rename to $to: $to is a retired (dropped) column name")
  }

  /** CHECK constraints store raw SQL — a rename/drop of a referenced
    * column would break every future validation, so refuse (Delta does
    * the same). Word-boundary match errs on the loud side.
    */
  private def requireUnconstrained(name: String, what: String): Unit = {
    val hits = constraints.filter { case (_, sql) =>
      s"(?i)(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(name)}(?![A-Za-z0-9_])"
        .r.findFirstIn(sql).isDefined
    }
    require(hits.isEmpty,
      s"cannot $what column $name of $path: referenced by CHECK " +
        s"constraint(s) ${hits.keys.mkString(", ")} — drop them first")
  }

  /** Metadata-only column drop (`ALTER TABLE ... DROP COLUMN`): hides
    * the column from every future read and retires its name. Old file
    * bytes remain until files are rewritten (compact/cluster/DML), as
    * in Delta.
    */
  def dropColumn(name: String): Long = {
    validateDrop(name)
    val phys = resolvePhysical(name)
    commitFiles(Seq.empty, Set.empty, s"drop column[$name]",
      meta = Map(
        "coldrop" -> (droppedCols + phys).toSeq.sorted.mkString(";"),
        "colmap" -> encodePairs(colMap - phys)))
  }

  /** Every pre-commit check of [[dropColumn]], commit-free — see
    * [[validateRename]].
    */
  private[graft] def validateDrop(name: String): Unit = {
    val phys = resolvePhysical(name)
    require(identityDecl.forall(_._1 != name),
      s"cannot drop identity column $name of $path")
    require(!(rowTrackingEnabled && name == IncrementalTable.RowIdCol),
      s"cannot drop the row-tracking column $name of $path")
    requireUnconstrained(name, "drop")
    val remaining = tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      .filterNot(droppedCols).filterNot(_ == phys)
    require(remaining.nonEmpty, s"cannot drop the last column of $path")
  }

  /** The physical column behind a logical name (identity when never
    * renamed).
    */
  private def resolvePhysical(logical: String): String = {
    val map = colMap
    tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      .filterNot(droppedCols)
      .find(p => map.getOrElse(p, p) == logical)
      .getOrElse(throw new IllegalArgumentException(
        s"no column $logical in $path"))
  }

  // ---- generated columns (Delta `GENERATED ALWAYS AS (expr)`) ----

  /** Declared generated columns: name → SQL expression (the `gencol`
    * manifest meta, base64 like constraints).
    */
  def generatedColumns: Map[String, String] =
    latestVersion.flatMap(v => metaAt(v).get("gencol"))
      .map(decodeConstraints).getOrElse(Map.empty)

  /** Declare `name` as GENERATED ALWAYS AS (`exprSql`) — metadata-only
    * commit. Semantics:
    *  - writes MATERIALIZE the column when absent, and a derived CHECK
    *    constraint (`name <=> (expr)`) rejects writes that provide a
    *    conflicting value — Delta's enforcement, reusing the existing
    *    constraint pass (which also blocks renaming/dropping the
    *    generated column or its sources);
    *  - reads BACKFILL the column for files written before the
    *    declaration (`coalesce(stored, expr)`), so history needs no
    *    rewrite;
    *  - with footer stats, predicates on the generated column prune
    *    files once it materializes (e.g. `d = date(ts)` gives date
    *    skipping over a timestamp fact table).
    */
  def addGeneratedColumn(name: String, exprSql: String): Long = {
    require(saneName(name), s"illegal generated-column name: $name")
    require(!droppedCols(name), s"$name is a retired (dropped) column name")
    require(!generatedColumns.contains(name),
      s"generated column $name already declared on $path")
    // the expression must resolve against the CURRENT logical schema
    // (and cannot reference the new column — it isn't in scope), and
    // its TYPE must match the declared column's: a mismatch would let
    // the first write publish files the tracked schema cannot read
    logicalSchema.foreach { s =>
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), s)
      val analyzed = empty.selectExpr(exprSql)
      analyzed.queryExecution.assertAnalyzed()
      s.fields.find(_.name == name).foreach { f =>
        val got = analyzed.schema.head.dataType
        require(got == f.dataType,
          s"generated column $name of $path is declared ${f.dataType.sql} " +
            s"but ($exprSql) produces ${got.sql}")
      }
    }
    // declaring over an EXISTING column requires the stored data to
    // already satisfy the expression (NULLs backfill) — otherwise later
    // rewrites that recompute the column would silently overwrite
    // divergent user values (the same existing-rows validation
    // addConstraint performs)
    if (logicalSchema.exists(_.fieldNames.contains(name))) {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr, not => fnot}
      val violations = snapshot()
        .filter(fcol(s"`$name`").isNotNull &&
          fnot(fexpr(s"`$name` <=> ($exprSql)")))
        .limit(1).count()
      require(violations == 0L,
        s"cannot declare $name GENERATED ALWAYS AS ($exprSql) on $path: " +
          "existing rows hold conflicting values — rewrite or drop them first")
    }
    val gens = generatedColumns + (name -> exprSql)
    val cs = constraints + (s"gen_$name" -> s"$name <=> ($exprSql)")
    commitFiles(Seq.empty, Set.empty, s"add generated[$name]",
      meta = Map("gencol" -> encodeConstraints(gens),
        "constraints" -> encodeConstraints(cs)))
  }

  /** Materialize missing generated columns on a write frame. */
  private def applyGenerated(df: DataFrame): DataFrame =
    generatedColumns.foldLeft(df) { case (acc, (name, e)) =>
      if (acc.columns.contains(name)) acc
      else acc.withColumn(name, org.apache.spark.sql.functions.expr(e))
    }

  /** Recompute generated columns (after an UPDATE's SET projection —
    * recomputing an already-consistent row is the identity).
    */
  private def regenerate(df: DataFrame): DataFrame =
    generatedColumns.foldLeft(df) { case (acc, (name, e)) =>
      if (!acc.columns.contains(name)) acc
      else acc.withColumn(name, org.apache.spark.sql.functions.expr(e))
    }

  /** Read-side backfill: rows from files written BEFORE the column was
    * declared read it as NULL — substitute the expression, so history
    * is consistent without a rewrite.
    */
  private def backfillGenerated(df: DataFrame, v: Long): DataFrame = {
    val gens = metaAt(v).get("gencol").map(decodeConstraints)
      .getOrElse(Map.empty)
    if (gens.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, expr}
      gens.foldLeft(df) { case (acc, (name, e)) =>
        if (!acc.columns.contains(name)) acc
        else acc.withColumn(name, coalesce(acc.col(s"`$name`"), expr(e)))
      }
    }
  }

  // ---- write-time ordering (files born clustered) ----

  /** Declared ingest ordering, physical column names (the `writeorder`
    * manifest meta).
    */
  def writeOrder: Seq[String] =
    latestVersion.flatMap(v => metaAt(v).get("writeorder"))
      .map(_.split(";").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Declare a write-time clustering: every [[append]]/[[writeSnapshot]]
    * batch is range-partitioned and sorted on `cols` before staging, so
    * new files are BORN with tight, non-overlapping footer bounds on the
    * ingest keys — stats skipping works immediately, without waiting for
    * an OPTIMIZE pass (Iceberg's `write.distribution-mode=range` /
    * Delta liquid's clustered ingest). Costs one shuffle OF THE BATCH
    * per write, never of the table. Metadata-only commit; clear with no
    * arguments.
    */
  def setWriteOrder(cols: String*): Long = {
    require(cols.forall(saneName), "illegal write-order column name")
    val phys =
      if (tableSchema.isEmpty) cols
      else cols.map(c => scala.util.Try(resolvePhysical(c)).getOrElse(c))
    commitFiles(Seq.empty, Set.empty, s"set writeorder[${cols.mkString(";")}]",
      meta = Map("writeorder" -> phys.mkString(";")))
  }

  /** [[applyWriteOrder]] for callers that stage + commit manually with
    * a custom operation tag (idempotent streaming sinks) — without
    * this, their files skip the declared clustering and are born
    * unprunable.
    */
  private[graft] def orderForWrite(df: DataFrame): DataFrame =
    applyWriteOrder(df)

  /** Range-cluster `df` (a LOGICAL frame) per the declared write order;
    * identity when unset or when the frame lacks an order column (e.g.
    * internal helper frames).
    */
  private def applyWriteOrder(df: DataFrame): DataFrame = {
    val map = colMap
    val order = writeOrder.map(p => map.getOrElse(p, p))
    if (order.isEmpty || !order.forall(df.columns.contains)) df
    else {
      import org.apache.spark.sql.functions.col
      val cs = order.map(c => col(s"`$c`"))
      // AQE coalesces the range shuffle for small batches, so a tiny
      // append does not fan out into shuffle.partitions tiny files
      df.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
    }
  }

  /** Columns with a per-file bloom point-lookup index, as configured by
    * [[setBloomColumns]] (the `bloom` manifest meta, ';'-separated).
    */
  def bloomColumns: Seq[String] =
    latestVersion.flatMap(v => metaAt(v).get("bloom"))
      .map(_.split(";").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Enable bloom point-lookup indexing for `cols` — a metadata-only
    * commit (Delta's `delta.bloomFilter` column config). Filters are
    * built for data written AFTER this commit; pre-existing files have
    * no filter and are conservatively kept by every probe, so enabling
    * is always safe. Run [[compact]] or [[cluster]] to restage old
    * files through the index.
    */
  def setBloomColumns(cols: String*): Long = {
    require(cols.forall(saneName), s"illegal bloom column name")
    // the store is keyed by PHYSICAL column so filters survive renames;
    // resolve when a schema exists (identity for untracked tables)
    val phys =
      if (tableSchema.isEmpty) cols
      else cols.map(c => scala.util.Try(resolvePhysical(c)).getOrElse(c))
    // A NEWLY enabled column starts from a clean store slice: rows
    // surviving from an earlier enable era may hash a NARROWER type
    // than the table now carries (a type widening retires the column
    // from the config but leaves its rows behind), and probing those
    // with wide-typed hashes would false-negative — wrongly pruned
    // files, silently missing rows. Purging BEFORE the enabling commit
    // is invisible (unconfigured columns are never probed) and makes
    // the documented contract exact: filters exist only for data
    // written after this commit. If the commit below then fails, only
    // rows that were already dead weight are gone.
    val newlyEnabled = phys.toSet -- bloomColumns.toSet
    if (newlyEnabled.nonEmpty) purgeBloomRows(newlyEnabled)
    commitFiles(Seq.empty, Set.empty, s"set bloom[${cols.mkString(";")}]",
      meta = Map("bloom" -> phys.mkString(";")))
  }

  /** Drop every stored bloom row for `cols`. */
  private def purgeBloomRows(cols: Set[String]): Unit =
    rewriteBlooms(_.filter(!org.apache.spark.sql.functions.col("col")
      .isin(cols.toSeq: _*)))

  /** Replace the bloom store by `keep` of its rows (read-filter-swap). A
    * concurrent writer's rows can be lost in the swap window; that
    * degrades its files to no-filter (conservatively kept by every
    * probe), never to a wrong prune.
    */
  private def rewriteBlooms(keep: DataFrame => DataFrame): Unit = {
    recoverBlooms()
    val parts = if (fs.exists(bloomsDir)) bloomParts() else Nil
    if (parts.isEmpty) return
    // a crashed prior tmp WRITE's leftovers must not ride into this
    // swap — duplicate (file, col) rows from different eras could
    // disagree. (A stranded COMPLETE tmp was already promoted by the
    // recovery above, so this delete only ever removes partial writes.)
    fs.delete(bloomsTmp, true)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    keep(spark.read.parquet(parts: _*))
      .coalesce(1).write.parquet(new Path(bloomsTmp, nonce).toString)
    promoteBlooms()
  }

  /** The bloom store's data files, skipping hidden names (`_SUCCESS`,
    * `.crc`, a crashed write's `_temporary`) at every level as Spark's
    * own listing does. Reads name these files rather than the store:
    * Spark treats an input root whose name starts with `_` as hidden
    * and warns "All paths were ignored" on every such read.
    */
  private[lake] def bloomParts(): Seq[String] = {
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def walk(dir: Path): Seq[String] = fs.listStatus(dir).toSeq
      .filter(st => visible(st.getPath))
      .flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st.getPath.toString))
    walk(bloomsDir)
  }

  private val bloomsTmp = new Path(path, "_blooms_tmp")
  private val bloomsAside = new Path(path, "_blooms_old")

  /** Crash-safe replacement of the bloom store. The previous
    * protocol was delete-then-rename: a crash between the two stranded
    * the surviving rows in the tmp dir, and the NEXT swap's defensive
    * tmp delete destroyed them — the whole index silently vanished
    * (degrade was conservative, files stop pruning, but total). Now the
    * live dir is renamed ASIDE before the replacement is promoted, so
    * at every instant either the live dir or a complete replacement
    * exists on disk, and [[recoverBlooms]] finishes a stranded swap on
    * the next access.
    */
  private def promoteBlooms(): Unit = {
    fs.delete(bloomsAside, true)
    if (fs.exists(bloomsDir) && !fs.rename(bloomsDir, bloomsAside))
      throw new IllegalStateException(s"failed to set aside $bloomsDir")
    if (!fs.rename(bloomsTmp, bloomsDir)) {
      if (fs.exists(bloomsAside)) fs.rename(bloomsAside, bloomsDir) // roll back
      throw new IllegalStateException(s"failed to swap $bloomsDir for $path")
    }
    fs.delete(bloomsAside, true)
  }

  /** Complete (or roll back) a swap a crash stranded. Promoting tmp is
    * safe ONLY when the live dir is absent: a crash mid-tmp-WRITE
    * always leaves the live dir in place (the set-aside rename follows
    * the write), so live-dir-absent implies the tmp content is
    * complete; partial tmp content can never be promoted. Idempotent;
    * shares [[purgeBloomRows]]' concurrency stance (a racing writer
    * degrades to conservative no-filter, never a wrong prune).
    */
  private def recoverBlooms(): Unit =
    if (!fs.exists(bloomsDir)) {
      if (fs.exists(bloomsTmp)) {
        if (fs.rename(bloomsTmp, bloomsDir)) fs.delete(bloomsAside, true)
      } else if (fs.exists(bloomsAside)) fs.rename(bloomsAside, bloomsDir)
    }

  /** Whether lossless type widening (int→long, float→double) is
    * enabled for write-side schema merges — the `widen` manifest meta,
    * set by [[setTypeWidening]] / TBLPROPERTIES
    * `graft.enableTypeWidening`. Default OFF (Delta's
    * `delta.enableTypeWidening` gate): a widening permanently changes
    * the table schema and retires the column's bloom index, so it must
    * be asked for, not inferred from one wide literal.
    */
  def typeWideningEnabled: Boolean =
    latestVersion.exists(v => metaAt(v).get("widen").contains("true"))

  /** Enable/disable lossless type widening — a metadata-only commit.
    * Disabling never un-widens: columns already widened keep their
    * wide type (and their `widened` audit entry); only FUTURE merges
    * go back to refusing width changes.
    */
  def setTypeWidening(enabled: Boolean): Long =
    if (enabled)
      commitFiles(Seq.empty, Set.empty, "set type widening enabled",
        meta = Map("widen" -> "true"))
    else
      commitFiles(Seq.empty, Set.empty, "set type widening disabled",
        dropMeta = Set("widen"))

  /** Delta's write optimization (`delta.autoOptimize.optimizeWrite` —
    * the one perf-adjacent knob the reference's DDL sets): when
    * enabled, appends and snapshot writes REBALANCE their output
    * before staging — Spark's `rebalance` hint, whose AQE pass splits
    * oversized and coalesces undersized post-shuffle partitions to the
    * advisory size at runtime, which IS Delta's optimized-write
    * shuffle — so a 200-partition trickle batch lands as one
    * right-sized file instead of 200 shards, and a skewed batch splits
    * instead of writing one giant file. Skipped when a declared write
    * order or a live bucket layout already owns the output
    * partitioning.
    */
  def optimizeWriteEnabled: Boolean =
    latestVersion.exists(v => metaAt(v).get("optimizewrite").contains("true"))

  /** Enable/disable optimized writes — a metadata-only commit. */
  def setOptimizeWrite(enabled: Boolean): Long =
    if (enabled)
      commitFiles(Seq.empty, Set.empty, "set optimize write enabled",
        meta = Map("optimizewrite" -> "true"))
    else
      commitFiles(Seq.empty, Set.empty, "set optimize write disabled",
        dropMeta = Set("optimizewrite"))

  private def applyOptimizeWrite(df: DataFrame): DataFrame =
    if (optimizeWriteEnabled && writeOrder.isEmpty &&
        latestVersion.flatMap(joinBucketSpecAt).isEmpty)
      df.hint("rebalance")
    else df

  /** Delta's `delta.autoOptimize.autoCompact` twin: after an append on
    * an enabled table, compact the accumulated small-file tail — the
    * incremental path for each layout ([[compactBuckets]] on a
    * bucketized table, [[compactSmall]] otherwise; both O(fragmented
    * data), both `datachange=false` so feeds and streams skip them).
    * Triggers only past `spark.graft.autoCompact.minFiles` (default
    * 16) files BEYOND the layout's floor, and NEVER fails the append —
    * compaction is advisory maintenance, the data is already durable.
    */
  def autoCompactEnabled: Boolean =
    latestVersion.exists(v => metaAt(v).get("autocompact").contains("true"))

  /** Enable/disable post-append auto-compaction — metadata-only. */
  def setAutoCompact(enabled: Boolean): Long =
    if (enabled)
      commitFiles(Seq.empty, Set.empty, "set auto compact enabled",
        meta = Map("autocompact" -> "true"))
    else
      commitFiles(Seq.empty, Set.empty, "set auto compact disabled",
        dropMeta = Set("autocompact"))

  private def maybeAutoCompact(): Unit = if (autoCompactEnabled) try {
    val minFiles =
      spark.conf.get("spark.graft.autoCompact.minFiles", "16").toInt
    val v = latestVersion.getOrElse(return)
    val live = files(v)
    // the floor is the file count the layout SETTLED at after its last
    // layout-defining rewrite, not just the bucket count: under
    // maxRecordsPerFile a converged layout legitimately holds several
    // files per bucket, and a bucket-count floor would fire the whole
    // compaction check on EVERY append forever.
    // The settling commit STAMPS its file count into carried meta
    // ("settled" in commitFiles), so the floor survives indefinitely;
    // the bounded newest→oldest manifest walk remains only as the
    // fallback for tables last compacted by a pre-stamp library
    // version. Only consulted at all once the cheap bucket-count
    // trigger would fire (the settled floor only GROWS the threshold,
    // so a cheap early-out can never skip a needed run).
    val layoutFloor = joinBucketSpecAt(v).map(_._1).getOrElse(1)
    if (live.size - layoutFloor < minFiles) return
    val settledAt: Option[Int] = metaAt(v).get("settled")
      .flatMap(_.toIntOption)
      .orElse {
        (v to math.max(0L, v - 64L) by -1L)
          .iterator.takeWhile(versionExists)
          .find(u => IncrementalTable.isLayoutSettling(operationAt(u)))
          .map(u => files(u).size)
      }
    val floor = math.max(layoutFloor, settledAt.getOrElse(1))
    if (live.size - floor < minFiles) return
    if (joinBucketSpecAt(v).isDefined) compactBuckets()
    else compactSmall()
    ()
  } catch {
    case scala.util.control.NonFatal(e) =>
      log.warn(s"graft auto-compact failed open for $path: $e")
  }

  /** Drop the `type-widening` reader-feature demand (Delta's
    * `ALTER TABLE ... DROP FEATURE` analog): once every live data file
    * is physically at the tracked width — after compact()/cluster()
    * restaged the pre-widening files — the demand only locks out old
    * readers that could now read fine, so it can be retired.
    *
    * Validation reads each live file's parquet FOOTER on the cluster
    * (one distributed pass over metadata-sized reads, never data) and
    * refuses loudly while any narrow-width file remains, naming the
    * first offenders and the compact() remediation. The clearing
    * commit pins the validated version (`requireBase`) so a racer
    * cannot slip a file in between the sweep and the drop — though
    * post-conformWidths no writer stages narrow files anyway, so the
    * pin guards against racers running OLDER library versions.
    */
  def dropTypeWideningDemand(): Long = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val widened = metaAt(v).get("widened").toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty)
    if (widened.isEmpty) return v // nothing demanded
    val ts = tableSchema.getOrElse(throw new IllegalStateException(
      s"$path demands type-widening but tracks no schema"))
    // expected parquet PRIMITIVE per widened column at the wide type
    val expect: Map[String, String] = widened.flatMap { c =>
      ts.fields.find(_.name == c).map(_.dataType match {
        case LongType => c -> "INT64"
        case IntegerType | ShortType | ByteType => c -> "INT32"
        case DoubleType => c -> "DOUBLE"
        case FloatType => c -> "FLOAT"
        case other => c -> other.simpleString // never narrows; kept conservative
      })
    }.toMap
    val paths = files(v).map(f => dataPath(f).toString)
    if (paths.nonEmpty && expect.nonEmpty) {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val narrow = spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.size, 64)))
        .flatMap { p =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p), conf.value))
          try {
            val s = rd.getFooter.getFileMetaData.getSchema
            expect.flatMap { case (col, want) =>
              // a column absent from the footer reads NULL — fine
              if (!s.containsField(col)) None
              else {
                val t = s.getType(s.getFieldIndex(col))
                if (t.isPrimitive &&
                    t.asPrimitiveType.getPrimitiveTypeName.name == want) None
                else Some(s"$p [$col is ${t.toString.trim}, want $want]")
              }
            }
          } finally rd.close()
        }.take(3).toSeq
      if (narrow.nonEmpty) throw new IllegalStateException(
        s"cannot drop the type-widening demand for $path: narrow-width " +
          s"file(s) remain, e.g. ${narrow.mkString("; ")} — run compact() " +
          "to restage them, then retry")
    }
    commitFiles(Seq.empty, Set.empty, "drop feature[type-widening]",
      maxRetries = 0, dropMeta = Set("widened"), requireBase = Some(v))
  }

  def history(): DataFrame = {
    // one forward fold over the log — each manifest read once, file
    // counts maintained incrementally. The OLDEST retained version must
    // seed from the reconstructed list (checkpoint-aware): after a
    // vacuum it may be a delta commit whose base manifests are gone —
    // folding it from an empty set would report per-version adds as the
    // whole table.
    val rows = manifestIds.sorted.foldLeft(
      (List.empty[Row], Set.empty[String], true)) {
      case ((acc, live, first), v) =>
        val (op, ts, full, add, remove) = readManifestParts(v)
        val now =
          if (first) files(v).toSet
          else full.map(_.toSet).getOrElse(live -- remove ++ add)
        (Row(v, op, now.size, new java.sql.Timestamp(ts)) :: acc, now, false)
    }._1
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("version", LongType), StructField("operation", StringType),
      StructField("numFiles", IntegerType), StructField("committed_at", TimestampType))))
  }

  // ---- writes ----

  /** Upcast `df`'s numeric columns to the TRACKED physical width —
    * Delta's write-side cast. Staged files therefore never land
    * NARROWER than the tracked schema: without this, a narrow batch
    * into a widened table would (a) re-create the mixed-width file set
    * even after [[dropTypeWideningDemand]] cleared it, and (b)
    * bloom-hash its values at the narrow type, which a wide-typed
    * probe then misses — false negatives, silently pruned files.
    * Lossless by construction: only [[IncrementalTable.widerOf]]-
    * sanctioned casts (int family up, float → double) ever fire; wide
    * or unrelated types pass through untouched.
    */
  private def conformWidths(df: DataFrame): DataFrame = tableSchema match {
    case None => df
    case Some(ts) =>
      import org.apache.spark.sql.functions.col
      val tracked = ts.fields.map(f => f.name -> f.dataType).toMap
      def upcast(f: org.apache.spark.sql.types.StructField) =
        tracked.get(f.name).filter(t => t != f.dataType &&
          IncrementalTable.widerOf(f.dataType, t).contains(t))
      if (!df.schema.fields.exists(f => upcast(f).isDefined)) df
      else df.select(df.schema.fields.toSeq.map { f =>
        upcast(f) match {
          case Some(t) => col(s"`${f.name}`").cast(t).as(f.name)
          case None => col(s"`${f.name}`")
        }
      }: _*)
  }

  /** Write `df`'s files into `data/` under `subdir` (e.g. a bucket
    * directory; "" for flat) and return their manifest-relative names.
    * Files are staged then renamed — readers never see partial files.
    * Nothing is visible until a commit lists the names; that commit
    * harvests their footer stats into its manifest. An enabled bloom
    * index is built here, in one pass over the batch.
    */
  def stage(df0: DataFrame, subdir: String = "", remap: Boolean = true): Seq[String] = {
    val df = if (remap) conformWidths(physicalize(df0)) else df0
    // (remap=false is reserved for materializeColumnMapping's realign;
    // files carry PHYSICAL names)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = new Path(path, s"_stage/$nonce")
    df.write.mode("overwrite").parquet(stageDir.toString)
    val parts = fs.listStatus(stageDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val destDir = if (subdir.isEmpty) dataDir else new Path(dataDir, subdir)
    fs.mkdirs(destDir)
    val named = parts.zipWithIndex.map { case (p, i) =>
      val name = s"$nonce-$i.parquet"
      if (!fs.rename(p, new Path(destDir, name)))
        throw new IllegalStateException(s"failed to publish staged file $p")
      if (subdir.isEmpty) name else s"$subdir/$name"
    }
    fs.delete(new Path(path, s"_stage/$nonce"), true)
    recordBlooms(df, named)
    named
  }

  /** Stage a partitioned frame in ONE Spark job: `df` is written
    * `partitionBy(partitionCol)` to the stage area, then each
    * partition directory's files are renamed under
    * `data/<partitionCol>=<value>/`. Returns manifest-relative names.
    * (The per-subdir [[stage]] would cost one job per partition.)
    */
  def stagePartitioned(df0: DataFrame, partitionCol: String): Seq[String] = {
    val df = conformWidths(physicalize(df0))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = new Path(path, s"_stage/$nonce")
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(stageDir.toString)
    val partDirs = fs.listStatus(stageDir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(s"$partitionCol="))
    val named = partDirs.flatMap { dir =>
      val destDir = new Path(dataDir, dir.getName)
      fs.mkdirs(destDir)
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.map { case (p, i) =>
          val name = s"$nonce-$i.parquet"
          if (!fs.rename(p, new Path(destDir, name)))
            throw new IllegalStateException(s"failed to publish staged file $p")
          s"${dir.getName}/$name"
        }
    }
    fs.delete(new Path(path, s"_stage/$nonce"), true)
    recordBlooms(df.drop(partitionCol), named)
    named
  }

  /** Commit the next version = previous files − `removed` + `added`,
    * with optimistic multi-writer arbitration: losing the manifest race
    * re-reads the winner's state and REBASES — always safe for pure
    * appends (disjoint file sets compose), and safe for removals as
    * long as every file this commit removes is still referenced (if a
    * concurrent commit rewrote one, the two commits logically conflict
    * and [[CommitConflictException]] propagates — Delta's conflict
    * matrix, reduced to file granularity).
    */
  def commitFiles(
      added: Seq[String], removed: Set[String], operation: String,
      maxRetries: Int = 20, meta: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      readVersion: Option[Long] = None,
      dropMeta: Set[String] = Set.empty,
      requireBase: Option[Long] = None): Long = {
    var attempt = 0
    while (true) {
      // read the base version ONCE per attempt: splitting the
      // latestVersion reads would let a commit land in between and the
      // publish would then skip over (and drop) the winner's file list
      val base = latestVersion
      // a commit whose VALIDATION ran against `requireBase` must not
      // rebase over anything — a racer could have invalidated what was
      // checked (e.g. dropTypeWideningDemand's footer sweep). Thrown
      // outside the retry catch: re-validation, not retry, is the cure.
      requireBase.foreach { rb => // -1: the table had no version yet
        if (base.getOrElse(-1L) != rb) throw new CommitConflictException(
          s"commit of $path validated against version $rb but the table " +
            s"is at ${base.getOrElse(-1L)} — re-validate on fresh state")
      }
      val prev = base.map(files).getOrElse(Seq.empty)
      val gone = removed -- prev.toSet
      if (gone.nonEmpty)
        throw new CommitConflictException(
          s"commit of $path conflicts: file(s) $gone are not referenced by " +
            "the current version (rewritten by a concurrent commit, or never " +
            "part of this table)")
      val baseMeta = base.map(metaAt).getOrElse(Map.empty)
      // DV conflict rule (Delta's rewrite-vs-DV matrix): a commit whose
      // staged rows were materialized from `readVersion` — every
      // rewrite: compact, DML, bucketed SCD — must fail LOUDLY if the
      // deletion-vector pointer moved since that read. The staged rows
      // pre-date the racer's vectors; rebasing would silently
      // resurrect its deleted rows. Thrown outside the retry catch:
      // retrying cannot fix stale data.
      readVersion.foreach { rv =>
        if (baseMeta.get("dv") != metaAt(rv).get("dv"))
          throw new StaleRewriteException(
            s"commit of $path conflicts: deletion vectors changed since " +
              s"this rewrite read version $rv — its staged rows pre-date " +
              "the new vectors and committing would resurrect deleted " +
              "rows; re-run on fresh state")
      }
      checkWriterFeatures(baseMeta)
      val v = base.map(_ + 1).getOrElse(0L)
      try {
        // deletion vectors survive appends/merges: carry the base's dv
        // pointer unless this commit sets its own or explicitly drops
        // it via `dropMeta` (full rewrites restage post-DV rows).
        // CHECK constraints carry the same way (and survive
        // writeSnapshot too — they are table properties, not data
        // state).
        val carry = Seq("dv", "constraints", "bloom", "colmap", "coldrop",
          "writeorder", "optimizewrite", "autocompact", "gencol", "identity",
          "rf", "widen", "widened", "rowtracking", "copylog", "settled",
          IncrementalTable.JoinBucketMetaKey)
          .flatMap(k => baseMeta.get(k).map(k -> _)).toMap
        val resulting = prev.filterNot(removed) ++ added
        // layout-defining rewrites stamp the file count the layout
        // settled at (carried forward like "dv"): maybeAutoCompact's
        // trigger floor must not depend on the settling commit staying
        // within a bounded manifest walk — once it aged out, the floor
        // collapsed and EVERY append re-ran the full compaction probe,
        // the exact per-append cost the floor exists to avoid.
        val settledStamp =
          if (IncrementalTable.isLayoutSettling(operation))
            Map("settled" -> resulting.size.toString)
          else Map.empty[String, String]
        val carried = (carry -- dropMeta) ++ watermarkCarry(baseMeta)
        // the carried floor must DECAY on a shrinking non-settling
        // commit (delete/update rewrites are not layout-settling): its
        // only invariant is settled <= the converged layout's count,
        // and a stale high floor would suppress maybeAutoCompact until
        // live files exceed floor + minFiles. The old 64-version walk
        // self-healed by aging out; the carried stamp has to re-stamp
        // down explicitly — min(carried, resulting file count).
        val settledDecay = carried.get("settled").flatMap(_.toIntOption)
          .filter(_ > resulting.size)
          .map(_ => Map("settled" -> resulting.size.toString))
          .getOrElse(Map.empty[String, String])
        writeManifest(v, operation, resulting,
          carried ++ settledDecay ++ settledStamp ++
            meta ++ schemaMetaFor(base, schema.map(physicalizeSchema)),
          prevFiles = Some(prev))
        return v
      } catch {
        case e: CommitConflictException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Full-snapshot commit (replaces every file reference). Overwrite
    * semantics are last-writer-wins, so a lost race simply re-publishes
    * at the next version.
    */
  def writeSnapshot(df: DataFrame, operation: String = "write",
      maxRetries: Int = 20): Long = allocSpecs match {
    case Seq() =>
      writeSnapshotImpl(applyWriteOrder(applyGenerated(df)),
        operation, maxRetries, validate = true)
    case specs =>
      withAllocated(df, specs) { withIds =>
        val materialized = applyWriteOrder(applyGenerated(withIds))
        validateConstraints(materialized)
        val added = stageForLayout(materialized)
        wmMeta => commitSnapshot(added, materialized.schema, operation,
          maxRetries = 0, meta = wmMeta)
      }
  }

  private def writeSnapshotImpl(df: DataFrame, operation: String,
      maxRetries: Int, validate: Boolean,
      meta: Map[String, String] = Map.empty): Long = {
    if (validate) validateConstraints(df)
    // a bucketized table's full rewrite (MERGE resolves to a snapshot)
    // re-buckets — the write is O(table) either way, and keeping the
    // layout means storage-partitioned joins survive MERGE, not just
    // appends
    commitSnapshot(stageForLayout(applyOptimizeWrite(df)), df.schema,
      operation, maxRetries, meta)
  }

  /** Publish already-staged files as a full snapshot (replaces every
    * prior file reference). `schema` is the LOGICAL schema of the
    * staged frame.
    */
  private def commitSnapshot(added: Seq[String], schema: StructType,
      operation: String, maxRetries: Int,
      meta: Map[String, String]): Long = {
    var attempt = 0
    while (true) {
      val base = latestVersion
      val baseMeta = base.map(metaAt).getOrElse(Map.empty)
      checkWriterFeatures(baseMeta)
      val v = base.map(_ + 1).getOrElse(0L)
      try {
        // "widened" carries even though a snapshot restages every file:
        // the staged frame may be NARROWER than the (wide) tracked
        // schema, recreating the mixed-footer state — conservative
        // carry keeps the reader-feature demand; a pre-widening reader
        // refusing a table it could now read is acceptable, the
        // reverse (a silent misread) is not
        val consCarry = baseMeta
          .filter { case (k, _) => Set("constraints", "bloom", "colmap",
            "coldrop", "writeorder", "optimizewrite", "autocompact", "gencol",
            "identity", "widen", "widened", "rowtracking", "copylog",
            IncrementalTable.JoinBucketMetaKey).contains(k) }
        // a snapshot RESTAGES every file, so it DEFINES the layout: its
        // own file count is the new settled floor. Carrying the old
        // stamp would park the auto-compact trigger above a smaller
        // rewrite (a 400-file floor over 16 files) — and merely
        // DROPPING the key wouldn't help either, because the fallback
        // walk would find the pre-snapshot settling commit and
        // resurrect the same stale count.
        writeManifest(v, operation, added,
          consCarry ++ watermarkCarry(baseMeta) ++
            Map("settled" -> added.size.toString) ++ meta ++
            schemaMetaFor(base, Some(physicalizeSchema(schema))))
        return v
      } catch {
        case e: CommitConflictException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** O(batch) append: new files only, everything else re-referenced.
    * Honors the declared [[setWriteOrder]] (one shuffle of the batch)
    * and fills declared IDENTITY values (see [[setIdentity]]).
    * `operation`/`extraMeta` let wrappers ([[Expectations]]) tag the
    * commit without bypassing this materialization pipeline.
    */
  def append(df: DataFrame, operation: String = "append",
      extraMeta: Map[String, String] = Map.empty): Long = {
    val committed = allocSpecs match {
      case Seq() =>
        val materialized = applyGenerated(df)
        validateConstraints(materialized)
        commitFiles(
          stageForLayout(applyOptimizeWrite(applyWriteOrder(materialized))),
          Set.empty, operation, meta = extraMeta,
          schema = Some(materialized.schema))
      case specs =>
        withAllocated(df, specs) { withIds =>
          val materialized = applyGenerated(withIds)
          validateConstraints(materialized)
          val added =
            stageForLayout(applyOptimizeWrite(applyWriteOrder(materialized)))
          wmMeta => commitFiles(added, Set.empty, operation,
            maxRetries = 0, meta = extraMeta ++ wmMeta,
            schema = Some(materialized.schema))
        }
    }
    // post-commit, advisory: the append's version is already durable
    maybeAutoCompact()
    committed
  }

  /** [[stage]], except a [[bucketize]]d table's appends keep the
    * bucket layout ALIVE: the batch hashes into per-bucket files
    * (O(batch) — the table is never re-read), so storage-partitioned
    * joins survive routine ingestion instead of demanding an O(table)
    * re-bucketize after every append. A batch missing the bucket
    * column stages plain — the scan's structural check then falls
    * back to normal plans (never a wrong group).
    */
  private def stageForLayout(df: DataFrame): Seq[String] =
    latestVersion.flatMap(joinBucketSpecAt) match {
      case Some((n, c)) if df.columns.contains(c) => stageBucketed(df, n, c)
      case _ => stage(df)
    }

  // ---- identity columns (Delta `GENERATED ALWAYS [AS IDENTITY]`,
  // reference TEST:41 `GENERATED ALWAYS AS IDENTITY (START WITH 10)`).
  // The declaration ("col;start;step;allowExplicit") rides the manifest
  // meta like every table property; the HIGH WATERMARK rides each
  // allocating commit's `id_watermark`, so allocation reads one small
  // manifest — never a max() scan over the table. Ids are unique,
  // ascending, ≡ start (mod step); not gap-free (Delta's contract). ----

  /** Declare `col` as an identity column. `allowExplicitInsert=false`
    * is GENERATED ALWAYS: writes may omit the column or pass NULL, but
    * never provide values. Declaring over a table that already holds
    * rows SEEDS the watermark past `max(col)` (one scan, DDL-time
    * only), so allocation never re-issues an id the data already uses
    * — Delta sidesteps this by refusing identity on existing columns;
    * here the declaration is allowed and made safe instead.
    */
  def setIdentity(col: String, start: Long = 1L, step: Long = 1L,
      allowExplicitInsert: Boolean = false): Long = {
    require(IncrementalTable.saneColumnName(col),
      s"illegal identity column name: $col")
    require(step >= 1, "identity step must be >= 1 (ascending watermark)")
    tableSchema.foreach { s =>
      require(s.fieldNames.contains(col), s"no column $col in $path")
      val dt = s(col).dataType
      require(dt == LongType || dt == IntegerType,
        s"identity column $col must be BIGINT or INT, got $dt")
    }
    val gridSeed: Option[Long] =
      if (!latestVersion.exists(v => files(v).nonEmpty)) None
      else snapshot().agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col(col))).head().getAs[Any](0) match {
        case n: Number if n.longValue() >= start =>
          // smallest watermark >= max(data) on the start + k*step grid,
          // so future ids stay ≡ start (mod step) AND above the data
          Some(start + (n.longValue() - start + step - 1) / step * step)
        case _ => None // empty column or all below START: default grid
      }
    // ALWAYS stamp the counter, taking the max of the data seed, any
    // previously committed watermark (a re-declaration must never
    // rewind past ids already issued — deleted rows still hold theirs
    // in history) and the declaration's own start − step default
    // (which also makes the per-commit carry O(1) from here on: the
    // newest manifest now always holds a counter)
    val w = (gridSeed.toSeq ++ latestVersion.flatMap(newestWatermark).toSeq
      :+ (start - step)).max
    commitFiles(Seq.empty, Set.empty, s"set identity[$col]",
      meta = Map("identity" -> s"$col;$start;$step;$allowExplicitInsert",
        "id_watermark" -> w.toString))
  }

  /** The identity declaration in force: (column, start, step,
    * allowExplicitInsert).
    */
  def identityDecl: Option[(String, Long, Long, Boolean)] =
    latestVersion.flatMap(v => metaAt(v).get("identity")).map { s =>
      val p = s.split(";")
      (p(0), p(1).toLong, p(2).toLong, p(3).toBoolean)
    }

  /** Newest committed identity watermark (or start − step on a table
    * that never allocated): newest→oldest manifest walk stopping at
    * the first commit carrying the counter — usually ONE manifest
    * read, O(1) in table size.
    */
  def identityHighWatermark: Long = {
    val (start, step) = identityDecl.map(d => (d._2, d._3)).getOrElse((1L, 1L))
    latestVersion.flatMap(newestWatermark).getOrElse(start - step)
  }

  /** Newest committed `id_watermark` at or below version `from`
    * (newest-first manifest walk stopping at the vacuum horizon) —
    * THE walk every watermark read shares, so the semantics cannot
    * drift between allocation, carry and clone.
    */
  private[lake] def newestWatermark(from: Long): Option[Long] =
    newestWatermarkKey(from, "id_watermark")

  /** The same walk for any watermark meta key (`id_watermark` for the
    * identity column, `row_watermark` for row tracking).
    */
  private[lake] def newestWatermarkKey(from: Long, key: String): Option[Long] =
    (from to 0L by -1).iterator.takeWhile(versionExists)
      .flatMap(v => metaAt(v).get(key))
      .nextOption().map(_.toLong)

  /** The watermark meta a commit must carry forward so the NEWEST
    * manifest always holds the counters: vacuum keeps only a recent
    * manifest window, and a watermark living solely in an old
    * allocating commit would be deleted with it — silently resetting
    * the counter to START and re-issuing already-used ids. Normal case
    * is a copy from the base meta (O(1)); the walk only runs once for
    * tables whose newest manifest predates this invariant. Covers both
    * the identity counter and the row-tracking counter.
    */
  private def watermarkCarry(baseMeta: Map[String, String]): Map[String, String] = {
    def one(wmKey: String, declKey: String): Map[String, String] =
      baseMeta.get(wmKey) match {
        case Some(w) => Map(wmKey -> w)
        case None if baseMeta.contains(declKey) =>
          latestVersion.flatMap(newestWatermarkKey(_, wmKey))
            .map(w => wmKey -> w.toString).toMap
        case None => Map.empty
      }
    one("id_watermark", "identity") ++ one("row_watermark", "rowtracking")
  }

  /** One watermark-allocated column: the declared identity column, or
    * row tracking's `_row_id`. `enforceAlways` = GENERATED ALWAYS
    * (explicit values rejected); row ids are NOT enforced because
    * every internal restage (DML, compact, SCD snapshot) legitimately
    * passes existing ids through.
    */
  private case class Alloc(col: String, step: Long, wmKey: String,
      enforceAlways: Boolean, committedWm: () => Long,
      dataType: DataType, what: String)

  private def identityAlloc: Option[Alloc] =
    identityDecl.map { case (idCol, _, step, allowExplicit) =>
      val idType = tableSchema.flatMap(_.fields.find(_.name == idCol))
        .map(_.dataType).getOrElse(LongType)
      Alloc(idCol, step, "id_watermark", !allowExplicit,
        () => identityHighWatermark, idType, "identity column")
    }

  private def rowIdAlloc: Option[Alloc] =
    if (!rowTrackingEnabled) None
    else Some(Alloc(IncrementalTable.RowIdCol, 1L, "row_watermark",
      enforceAlways = false, () => rowIdHighWatermark, LongType, "row id"))

  /** The allocations the next write must perform (possibly both). */
  private def allocSpecs: Seq[Alloc] = identityAlloc.toSeq ++ rowIdAlloc.toSeq

  /** Allocate watermark-derived values (identity and/or row ids) for
    * `df`, then `prepare` (validate + stage) and commit with the
    * watermark meta. Each watermark re-check happens immediately BEFORE
    * each single-attempt commit — after staging, like the SCD path — so
    * the race window is the commit itself, not the staging wall-clock;
    * a racer advancing ANY used watermark forces a RE-ALLOCATION (the
    * staged ids are baked into files, so a rebase would collide — the
    * failed attempt's files become unreachable garbage that vacuum
    * collects).
    */
  private def withAllocated(df: DataFrame, specs: Seq[Alloc])(
      prepare: DataFrame => (Map[String, String] => Long)): Long = {
    import org.apache.spark.sql.functions.{col, lit, max}
    // pin the source ONCE: the explicit-value check and every
    // allocation attempt must see the same rows the commit publishes
    val withCols = specs.foldLeft(df) { (d, sp) =>
      if (d.columns.contains(sp.col)) d
      else d.withColumn(sp.col, lit(null).cast(sp.dataType))
    }
    val pinned = withCols.localCheckpoint()
    specs.filter(_.enforceAlways).foreach { sp =>
      val explicit = pinned.filter(col(sp.col).isNotNull).limit(1).count()
      require(explicit == 0L,
        s"${sp.what} ${sp.col} of $path is GENERATED ALWAYS — values " +
          "cannot be provided (omit the column or insert NULL)")
    }
    // With explicit values allowed, allocation must ALSO clear the
    // batch's own explicit ids: an explicit value above the committed
    // watermark would otherwise duplicate an id densely allocated to a
    // NULL slot of the SAME batch (wm=10, explicit 12, two NULL rows →
    // 11, 12). Seeding from max(watermark, max explicit-in-batch) keeps
    // the uniqueness contract; explicit ids below existing DATA remain
    // the caller's responsibility, as in Delta.
    val explicitMax: Map[String, Option[Long]] = specs.map { sp =>
      sp.col -> (if (sp.enforceAlways) None
      else pinned.agg(max(col(sp.col))).head().getAs[Any](0) match {
        case null => None
        case n: Number => Some(n.longValue())
      })
    }.toMap
    var reallocations = 0
    while (true) {
      val allocs = specs.map { sp =>
        val committedWm = sp.committedWm()
        sp -> explicitMax(sp.col).fold(committedWm)(math.max(committedWm, _))
      }
      val withIds = allocs.foldLeft(pinned) { case (d, (sp, wm)) =>
        IncrementalTable.allocateIdentity(d, sp.col, wm, sp.step)
      }
      // max(): an explicit-value batch whose ids all sit BELOW the
      // watermark must not rewind it (mx < wm re-issues used ids)
      val wmMeta = allocs.map { case (sp, wm) =>
        val mx = withIds.agg(max(col(sp.col))).head().getAs[Any](0) match {
          case null => wm
          case n: Number => n.longValue()
        }
        sp.wmKey -> math.max(wm, mx).toString
      }.toMap
      val commitOnce = prepare(withIds) // stages NOW
      var innerTries = 0
      var reallocate = false
      while (!reallocate) {
        if (allocs.exists { case (sp, wm) => sp.committedWm() > wm })
          reallocate = true // ids may collide: redo
        else {
          try return commitOnce(wmMeta)
          catch {
            case e: StaleRewriteException => throw e
            case e: CommitConflictException =>
              // lost a manifest race; if the winner carried no counter
              // the ids stay valid — re-check and retry the commit
              if (innerTries >= 20) throw e
              innerTries += 1
          }
        }
      }
      reallocations += 1
      if (reallocations > 5)
        throw new CommitConflictException(
          s"allocation watermark of $path keeps advancing under this " +
            "batch — giving up after 5 reallocations")
    }
    -1L // unreachable
  }

  // ---- row tracking (Delta's row-tracking reader+writer feature):
  // every row carries a stable LONG `_row_id`, assigned once at first
  // write from a manifest-carried high watermark (`row_watermark`,
  // exactly the identity-column machinery) and PRESERVED through
  // copy-on-write UPDATE/DELETE/MERGE, compaction, z-order, clone and
  // restore — those paths restage existing rows, whose materialized
  // ids pass through untouched. Upgrades the change feed from
  // value-keyed to identity-keyed and lets downstream incremental
  // consumers key on `_row_id` instead of business columns. ----

  /** Whether row tracking is enabled (the `rowtracking` property). */
  def rowTrackingEnabled: Boolean =
    latestVersion.exists(v => metaAt(v).get("rowtracking").contains("true"))

  /** Newest committed row-id watermark (0 on a table that never
    * allocated — ids start at 1).
    */
  def rowIdHighWatermark: Long =
    latestVersion.flatMap(newestWatermarkKey(_, "row_watermark")).getOrElse(0L)

  /** Enable row tracking. On a table that already holds rows this
    * BACKFILLS `_row_id` in one full rewrite (Delta's ALTER TABLE SET
    * row tracking does the same backfill); subsequent writes allocate
    * from the committed watermark. The enabling commit stamps the
    * `row-tracking` reader feature (via `rowtracking` meta →
    * [[IncrementalTable.readerFeaturesOf]]), so a pre-feature reader
    * refuses rather than serving rows whose identity column it would
    * drop or misinterpret.
    */
  def enableRowTracking(): Long = {
    if (rowTrackingEnabled)
      return latestVersion.getOrElse(0L)
    val ridCol = IncrementalTable.RowIdCol
    tableSchema.foreach { s =>
      require(!s.fieldNames.contains(ridCol),
        s"cannot enable row tracking on $path: a user column named " +
          s"$ridCol already exists")
    }
    latestVersion match {
      case Some(v) if files(v).nonEmpty =>
        // backfill through the LOGICAL view (DVs applied, mapping
        // honored); stage() physicalizes on the way back down. Order
        // within each file is preserved by the scan, so single-file
        // tables get rank-stable ids — multi-file order is
        // scan-partition order, stable per layout but not semantic.
        import org.apache.spark.sql.functions.{col, lit, max}
        val pinned = snapshot()
          .withColumn(ridCol, lit(null).cast(LongType)).localCheckpoint()
        val withIds = IncrementalTable.allocateIdentity(pinned, ridCol, 0L, 1L)
        val mx = withIds.agg(max(col(ridCol))).head().getAs[Any](0) match {
          case null => 0L
          case n: Number => n.longValue()
        }
        commitFiles(stage(withIds), files(v).toSet, "enable row tracking",
          meta = Map("rowtracking" -> "true", "row_watermark" -> mx.toString),
          schema = Some(withIds.schema), readVersion = Some(v),
          dropMeta = Set("dv"))
      case _ =>
        commitFiles(Seq.empty, Set.empty, "enable row tracking",
          meta = Map("rowtracking" -> "true", "row_watermark" -> "0"))
    }
  }

  /** Rewrite the current snapshot into `targetFiles` files (rows were
    * admitted already — no constraint re-validation). A full rewrite is
    * also when COLUMN MAPPING materializes: the new files are written
    * under the LOGICAL names and the mapping meta clears, so path-level
    * readers (the DSv2 connector, external engines) work again — the
    * escape hatch the connector's column-mapping refusal points at.
    */
  def compact(targetFiles: Int = 1): Long =
    if (colMap.isEmpty && droppedCols.isEmpty) {
      val v = latestVersion.getOrElse(
        throw new IllegalStateException(s"empty table $path"))
      rewriteHead(v, snapshotHead(v).repartition(targetFiles), "compact")
    } else materializeColumnMapping(targetFiles)

  /** State-preserving full rewrite of version `v` (compact / cluster /
    * zorder): commits the restaged snapshot REMOVING exactly v's files
    * through the optimistic file-level commit — so a concurrent APPEND
    * rebases in (maintenance and appends commute; the racer's files
    * carry forward instead of being dropped by a full-list republish),
    * a concurrent rewrite stays a loud logical conflict, and a
    * concurrent deletion-vector commit fails loudly via the
    * read-version DV check (the restaged rows pre-date its vectors).
    * The base DV pointer is dropped: the restaged rows are post-DV.
    */
  private def rewriteHead(v: Long, df: DataFrame, operation: String): Long = {
    val added = stage(df)
    // datachange=false (Delta's dataChange flag, commit-granular): this
    // rewrite REARRANGES rows without changing the table's logical
    // content, so the change feed and streaming readers skip the
    // version instead of failing (or worse, re-delivering) — the flag
    // that keeps routine compaction from forcing every downstream view
    // to a full recompute and every stream to ignoreChanges
    commitFiles(added, files(v).toSet, operation, schema = Some(df.schema),
      readVersion = Some(v), dropMeta = Set("dv"),
      meta = Map("datachange" -> "false"))
  }

  /** Rewrite every file under the current LOGICAL column names and
    * clear the mapping in the same commit — dropped-column bytes are
    * physically purged, renamed columns take their logical names on
    * disk. O(table) like any compact; the mapping itself stays O(1)
    * until someone needs path-level reads.
    */
  def materializeColumnMapping(targetFiles: Int = 1): Long = {
    val readV = latestVersion
    readV.foreach(v => checkWriterFeatures(metaAt(v)))
    val df = snapshot() // logical view, DVs applied
    val added = stage(df.repartition(targetFiles), remap = false)
    // bloom config is keyed by physical names — follow them to their
    // logical (now physical-on-disk) names
    val map = colMap
    var attempt = 0
    while (true) {
      val base = latestVersion
      // this commit RESETS schema/mapping/bloom meta wholesale from the
      // state read above — a republish over a racer's commit would
      // silently drop that commit (its rows AND its meta), so a moved
      // base is a loud conflict, not a rebase
      if (base != readV)
        throw new CommitConflictException(
          s"materializeColumnMapping of $path lost a race: the table " +
            s"advanced past version ${readV.getOrElse(-1L)} while the " +
            "rewrite was staged — re-run on fresh state")
      val v = base.map(_ + 1).getOrElse(0L)
      try {
        val baseMeta = base.map(metaAt).getOrElse(Map.empty)
        // "widen" (the opt-in property) survives; "widened" does NOT —
        // this rewrite restages EVERY file at the current types, so the
        // mixed-width state that demanded the reader feature is gone
        val keep = baseMeta.filter { case (k, _) =>
          k == "constraints" || k == "gencol" || k == "identity" ||
            k == "widen" || k == "rowtracking" } ++
          watermarkCarry(baseMeta)
        val bloomKeep = bloomColumns.filterNot(droppedCols) match {
          case Seq() => Map.empty[String, String]
          case bs => Map("bloom" -> bs.map(p => map.getOrElse(p, p)).mkString(";"))
        }
        // write-order columns follow their logical names the same way
        val orderKeep = writeOrder.filterNot(droppedCols) match {
          case Seq() => Map.empty[String, String]
          case os => Map("writeorder" -> os.map(p => map.getOrElse(p, p)).mkString(";"))
        }
        // the tracked schema RESETS to the logical shape (a merge would
        // keep both the old physical and the new logical name)
        writeManifest(v, "materialize column mapping", added,
          keep ++ bloomKeep ++ orderKeep +
            ("schema" -> writeSchemaBlob(df.schema)) +
            ("datachange" -> "false")) // renames bytes, not rows
        return v
      } catch {
        case e: CommitConflictException =>
          if (attempt >= 20) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Rewrite the snapshot RANGE-CLUSTERED on `cols`: rows are range-
    * partitioned and sorted by the cluster keys, so each file covers a
    * narrow, non-overlapping key range and the footer min/max bounds
    * become tight — stats-based [[scan]] pruning on those columns then
    * reads O(matching files) instead of everything. The linear-order
    * analogue of Delta's OPTIMIZE ZORDER BY (true multi-dimensional
    * interleaving only pays off beyond 2-3 cluster keys).
    */
  def cluster(targetFiles: Int, cols: String*): Long = {
    require(cols.nonEmpty, "cluster needs at least one column")
    val c = cols.map(org.apache.spark.sql.functions.col)
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    rewriteHead(v,
      snapshotHead(v).repartitionByRange(targetFiles, c: _*)
        .sortWithinPartitions(c: _*),
      operation = s"cluster[${cols.mkString(",")}]")
  }

  /** Rewrite the snapshot HASH-BUCKETED on `column` for
    * storage-partitioned joins: rows land under
    * `data/__jbucket=<k>/` with `k = pmod(hash(column), buckets)` —
    * Spark's own murmur3, so two tables bucketized with the same
    * `buckets` agree file-group-for-file-group on their join keys.
    * The DSv2 scan then reports `KeyGroupedPartitioning(bucket(n,
    * column))` ([[graft.sources.GraftStreamScan]]) and an equi-join of
    * two same-bucketed graft tables on `column` runs with ZERO
    * shuffle on either side (Spark's storage-partitioned join, the
    * mechanism behind Iceberg's bucket-join support; gate with
    * `spark.sql.sources.v2.bucketing.enabled=true`).
    *
    * The `jbucket` meta carries across commits, and APPENDS maintain
    * the layout O(batch) ([[stageForLayout]] hashes each batch into
    * per-bucket files — routine ingestion keeps SPJ alive). A commit
    * that stages plain files anyway (delete/update rewrite, compact,
    * a batch missing the bucket column) breaks the physical grouping
    * — readers re-validate STRUCTURALLY (every live file under a
    * `__jbucket=` directory) and fall back to normal scans until the
    * next `bucketize`, so serving a stale bucket promise is
    * impossible.
    */
  def bucketize(buckets: Int, column: String): Long = {
    require(buckets >= 2 && buckets <= 4096,
      s"buckets=$buckets must be in [2, 4096]")
    require(IncrementalTable.saneColumnName(column),
      s"bucketize: column '$column' must be a plain identifier " +
        "(it is encoded into the bucket directory names)")
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val colType = schemaAt(v).flatMap(_.fields.find(_.name == column))
      .map(_.dataType).getOrElse(throw new IllegalArgumentException(
        s"bucketize: no column '$column' at $path"))
    require(IncrementalTable.bucketTypeToken(colType).isDefined,
      s"bucketize: column '$column' has type ${colType.simpleString}, " +
        "which has no stable hash identity across reads — bucketize an " +
        "atomic column (int/long/string/date/timestamp/decimal/...)")
    val added = stageBucketed(snapshotHead(v), buckets, column)
    commitFiles(added, files(v).toSet, s"bucketize[$buckets,$column]",
      schema = schemaAt(v),
      readVersion = Some(v), dropMeta = Set("dv"),
      meta = Map("datachange" -> "false",
        IncrementalTable.JoinBucketMetaKey -> s"$buckets+$column"))
  }

  /** INCREMENTAL bucket maintenance: restore the one-sorted-file-per-
    * bucket invariant — the layout under which storage-partitioned
    * joins run with zero shuffles AND zero sorts — in O(fragmented
    * data) instead of [[bucketize]]'s O(table). Buckets already a
    * single `s1`-marked file keep their file untouched; every other
    * bucket (multiple append files, an unmarked delete restage) has
    * its rows rewritten into one fresh sorted file. Sound to do
    * per-bucket because every current-spec file's rows hash to its own
    * bucket — rewritten rows can never land in a kept bucket. If ANY
    * live file is outside the current spec (a plain-staged commit, an
    * old bucket spec, a stale hash type), rows may cross buckets and
    * the call degrades to a full [[bucketize]] under the declared
    * spec. Deletion vectors carry: kept files stay masked, rewritten
    * files restage their LIVE rows (a removed file's vector entries
    * dangle harmlessly). Returns the current version when nothing
    * needs rewriting.
    */
  def compactBuckets(): Long = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val (n, c) = joinBucketSpecAt(v).getOrElse(
      throw new IllegalStateException(
        s"$path declares no bucket layout — run bucketize(n, col) first"))
    val tok = schemaAt(v).flatMap(_.fields.find(_.name == c))
      .flatMap(f => IncrementalTable.bucketTypeToken(f.dataType))
      .getOrElse(throw new IllegalStateException(
        s"bucket column '$c' no longer has a hashable type at $path"))
    val re = IncrementalTable.BucketDirRe
    val live = files(v)
    // (bucket, sorted) per file — None = outside the current spec
    val parsed: Seq[(String, Option[(Int, Boolean)])] = live.map { e =>
      e -> (re.findPrefixMatchOf(e) match {
        case Some(m) if m.group(1) == c && m.group(2) == tok &&
            m.group(4).toInt == n =>
          Some((m.group(5).toInt, m.group(3) != null))
        case _ => None
      })
    }
    if (parsed.exists(_._2.isEmpty)) return bucketize(n, c)
    val byBucket = parsed.collect { case (e, Some((k, s))) => (k, e, s) }
      .groupBy(_._1)
    val frag = byBucket.valuesIterator
      .filter(fs => fs.size > 1 || fs.exists(!_._3)).toSeq
    // CONVERGENCE: under spark.sql.files.maxRecordsPerFile the staging
    // write legitimately splits an oversized bucket into several s1
    // files — rewriting such a bucket reproduces the same file count
    // forever (and with autoCompact on, O(bucket data) write
    // amplification on every append). An all-s1 bucket already at its
    // minimal achievable count (ceil(rows / maxRecordsPerFile), from
    // the manifest's per-file stats) is COMPACT: a rewrite cannot
    // reduce it. Any bucket with an unsorted file or more files than
    // minimal still rewrites. Row counts come from the manifest stats
    // with a parquet-footer fallback ([[footerRowCount]]) — on a
    // collectStats=false table the rewrite's staged files never gain
    // stats, so without the fallback every call would rewrite all-s1
    // split buckets forever.
    val maxRec = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0").toLong
    // deletion vectors make the stats' PHYSICAL num_rows a lie about
    // live data (a mostly-masked bucket would be deemed "minimal" and
    // never reclaim its dead rows) — with a DV present, fall back to
    // the always-rewrite rule, whose restage subtracts the vectors and
    // shrinks the files to the live rows
    val hasDv = metaAt(v).contains("dv")
    val rewrite: Set[String] =
      if (maxRec <= 0L || hasDv) frag.flatMap(_.map(_._2)).toSet
      else {
        val (allSorted, mixed) = frag.partition(_.forall(_._3))
        val rowsByFile = perFileRowCounts(allSorted.flatMap(_.map(_._2)))
        val stillFrag = allSorted.filter { fs =>
          val per = fs.map(f =>
            rowsByFile.get(f._2).orElse(footerRowCount(f._2)))
          per.exists(_.isEmpty) || {
            val total = per.flatten.sum
            fs.size > math.max(1L, (total + maxRec - 1L) / maxRec)
          }
        }
        (mixed ++ stillFrag).flatMap(_.map(_._2)).toSet
      }
    if (rewrite.isEmpty) return v
    val subset = snapshotOfFiles(v, rewrite).getOrElse(return v)
    val added = stageBucketed(subset, n, c)
    commitFiles(added, rewrite, s"compact-buckets[$n,$c]",
      readVersion = Some(v), meta = Map("datachange" -> "false"))
  }

  /** Stage `df` under the join-bucket layout: one task (so one file,
    * before `maxRecordsPerFile` splitting) per present bucket — without
    * the repartition every input partition would write a file per
    * bucket it touches (tasks × n small files). The bucket column is
    * upcast to the TABLE's tracked type BEFORE hashing when the batch
    * is narrower ([[conformWidths]] performs the same cast inside the
    * staged write — murmur3 hashes int and long differently, so
    * hashing the pre-cast value would file a row under a bucket its
    * stored value does not hash to). A column type with no stable hash
    * token stages plain (readers then fall back — never a wrong
    * group).
    *
    * Rows are additionally SORTED by the bucket column inside each
    * task — the writer splits a task's ordered run by partition value,
    * so every staged file is internally key-sorted — and the dir value
    * carries the `s1` marker recording that fact. A scan whose every
    * bucket group is a single `s1` file reports per-partition
    * `outputOrdering` on top of the key grouping, and a merge join of
    * two such tables drops its SORTS as well as its shuffles
    * ([[graft.sources.GraftStreamScan]]).
    */
  private def stageBucketed(df: DataFrame, buckets: Int, column: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col => fcol}
    val tracked = tableSchema.flatMap(_.fields.find(_.name == column))
      .map(_.dataType).getOrElse(df.schema(column).dataType)
    val conformed =
      if (df.schema(column).dataType == tracked) df
      else if (IncrementalTable.widerOf(df.schema(column).dataType, tracked)
          .contains(tracked))
        df.withColumn(column, fcol(column).cast(tracked))
      else df
    IncrementalTable.bucketTypeToken(conformed.schema(column).dataType) match {
      case Some(tok) =>
        stagePartitioned(withJoinBucket(conformed, buckets, column, tok)
          .repartition(buckets, fcol(IncrementalTable.JoinBucketCol))
          // (bucket, key): each bucket's slice of the task's ordered
          // run is contiguous AND key-sorted, whatever bucket values
          // hash-collided into the task
          .sortWithinPartitions(fcol(IncrementalTable.JoinBucketCol),
            fcol(column)),
          IncrementalTable.JoinBucketCol)
      case None => stage(df)
    }
  }

  /** `df` plus the bucket PARTITION VALUE column:
    * `<col>-<tok>-s1-<n>-<k>` with `k = pmod(hash(col), n)`. The value
    * encodes the full bucket SPEC — column, the HASH TYPE the values
    * were bucketed under ([[IncrementalTable.bucketTypeToken]];
    * murmur3 is type-dependent, so files hashed as int must never be
    * grouped with a scan reading the column as long after a type
    * widening), the `s1` SORT marker (only ever written by
    * [[stageBucketed]]'s sorting write — [[restageByDir]] STRIPS it
    * because its output order is not guaranteed), and the bucket count
    * — so a scan derives everything from the very directories it
    * serves: a version bucketized under an older spec OR an older type
    * can never be grouped under a newer one (the spec rides the files,
    * not the mutable head meta).
    */
  private def withJoinBucket(
      df: DataFrame, buckets: Int, column: String, tok: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, concat, hash, lit, pmod}
    df.withColumn(IncrementalTable.JoinBucketCol,
      concat(lit(s"$column-$tok-s1-$buckets-"), pmod(hash(fcol(column)), lit(buckets))))
  }

  /** Structural health of the declared bucket layout at version `v`,
    * judged by the SAME rules the scan applies to the files it serves
    * (the declared spec is mutable head meta; GROUPING is a property
    * of the live file set): `(wouldGroup, wouldClaimOrdering)`.
    * `wouldGroup` — every live file parses to the declared spec with
    * the CURRENT schema's hash-type token and an in-range bucket id
    * (a plain-staged file, a stale spec, a widened type, or an empty
    * file set all report false, exactly when the scan would fall back
    * to a shuffled plan). `wouldClaimOrdering` — additionally every
    * bucket is ONE `s1`-marked file (the sort-free merge-join layout).
    * `DESCRIBE DETAIL` surfaces this so a user can see whether the
    * promise the meta makes is one the current files keep.
    */
  def bucketLayoutHealth(v: Long): (Boolean, Boolean) = try {
    val (n, c) = joinBucketSpecAt(v).getOrElse(return (false, false))
    val tok = schemaAt(v).flatMap(_.fields.find(_.name == c))
      .flatMap(f => IncrementalTable.bucketTypeToken(f.dataType))
      .getOrElse(return (false, false))
    val re = IncrementalTable.BucketDirRe
    val live = files(v)
    if (live.isEmpty) return (false, false)
    val parsed = live.map(e => re.findPrefixMatchOf(e) match {
      case Some(m) if m.group(1) == c && m.group(2) == tok &&
          m.group(4).toInt == n && m.group(5).toInt < n =>
        Some((m.group(5).toInt, m.group(3) != null))
      case _ => None
    })
    if (parsed.exists(_.isEmpty)) return (false, false)
    val byBucket = parsed.flatten.groupBy(_._1)
    (true, byBucket.values.forall(fs => fs.size == 1 && fs.head._2))
  } catch {
    // fail toward "not healthy", never toward a false promise (e.g. a
    // hand-crafted dir whose digits overflow toInt)
    case scala.util.control.NonFatal(_) => (false, false)
  }

  /** The ACTUATOR for [[bucketLayoutHealth]] — `OPTIMIZE ... REPAIR
    * LAYOUT`: when the declared bucket layout has degraded (a
    * plain-staged file broke grouping, or a dir-preserving restage
    * stripped the `s1` sort markers), restore it and return the
    * repairing commit; when the layout already keeps both promises —
    * or nothing REPAIRABLE remains (under `maxRecordsPerFile` a
    * converged bucket legitimately holds several sorted files, so the
    * ordering promise is structurally unreachable and a rewrite would
    * reproduce the same layout forever) — return None without
    * touching a file, so "repair until repaired=false" terminates.
    * The repair itself is [[compactBuckets]] — per-bucket for
    * sort/fragmentation damage, degrading to a full [[bucketize]]
    * exactly when plain files mean rows may cross buckets — so cost
    * is O(damaged data) with the O(table) path reserved for the
    * damage class that requires it. Throws on a table with no
    * declared layout: there is nothing to repair TO (run
    * `OPTIMIZE ... BUCKET BY` first).
    */
  def repairLayout(): Option[Long] = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    if (joinBucketSpecAt(v).isEmpty)
      throw new IllegalStateException(
        s"$path declares no bucket layout — nothing to repair; run " +
          "bucketize(n, col) / OPTIMIZE ... BUCKET BY (col, n) first")
    val (wouldGroup, wouldOrder) = bucketLayoutHealth(v)
    if (wouldGroup && wouldOrder) None
    else Some(compactBuckets()).filter(_ != v) // same version = no rewrite
  }

  /** The declared (buckets, column) at version `v` — meta only; the
    * scan performs the structural file check on top.
    */
  def joinBucketSpecAt(v: Long): Option[(Int, String)] =
    metaAt(v).get(IncrementalTable.JoinBucketMetaKey).flatMap { s =>
      s.split("\\+", 2) match {
        case Array(n, c) => scala.util.Try(n.toInt).toOption.map(_ -> c)
        case _ => None
      }
    }

  /** CHANGE DATA FEED over the commit log (Delta `readChangeFeed`):
    * every row change committed in versions `(fromV, toV]`, tagged
    * `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} plus `_commit_version = v`.
    *
    * Two per-version sources, mirroring Delta's CDF design exactly:
    *  - An APPEND's changes are its data files themselves — the file
    *    delta between two manifests, read directly and tagged
    *    `insert`. No extra bytes are ever written for appends.
    *  - A mutating commit (delete/update/merge) writes its change rows
    *    as CDC SIDECAR FILES under `_change_data/<nonce>/` BEFORE the
    *    manifest publish; the manifest's `cdc` meta pointer flips
    *    atomically with the file list, so the feed and the data can
    *    never disagree.
    *  - Content-preserving maintenance (compact / compactSmall /
    *    cluster / z-order / column-mapping materialization) commits
    *    with `datachange=false` (Delta's dataChange flag) and is
    *    SKIPPED: no rows changed, so the feed stays incremental across
    *    routine OPTIMIZE cadence. Versions that rewrite files without
    *    either marker (overwrite, legacy merges) still fail loudly —
    *    their row-level changes are unknowable after the fact.
    *
    * Cost is O(changed rows): per version two manifest reads, then only
    * added files / sidecar files are scanned — the table's size never
    * matters. Pass `fromV = -1` to feed from the beginning. Each
    * version's rows read under that version's own tracked schema;
    * evolved columns null-fill across the union. Later deletes do NOT
    * retro-filter earlier inserts: the feed reports each version's
    * changes as of that version (Delta's contract).
    */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV >= -1 && toV >= fromV, s"bad change range $fromV..$toV")
    require(versionExists(toV), s"version $toV does not exist at $path")
    checkReaderFeatures(toV)
    var prev: Set[String] =
      if (fromV < 0) Set.empty
      else {
        require(versionExists(fromV),
          s"version $fromV was vacuumed from $path — cannot compute changes")
        files(fromV).toSet
      }
    import org.apache.spark.sql.functions.lit
    val frames = ((fromV + 1) to toV).flatMap { v =>
      // gate EVERY delivered version, not just the range end: a
      // feature-bearing v materialized away by toV would otherwise
      // slip its raw files into the feed ungated
      checkReaderFeatures(v)
      val now = files(v)
      val meta = metaAt(v)
      val cdc = meta.get("cdc")
      // datachange=false = content-preserving maintenance (compact,
      // cluster, z-order, column-mapping materialization): the version
      // rearranges files but changes no rows — contribute NOTHING to
      // the feed (its added files are rewrites, not inserts)
      if (meta.get("datachange").contains("false")) {
        prev = now.toSet
        None
      } else {
      val removed = prev -- now
      if (removed.nonEmpty && cdc.isEmpty)
        throw new IllegalStateException(
          s"changes($fromV, $toV) of $path: version $v rewrites " +
            s"${removed.size} file(s) (overwrite/legacy merge) " +
            "without change-data files — row-level changes are unknowable")
      val added = now.filterNot(prev)
      prev = now.toSet
      cdc match {
        case Some(nonce) =>
          // CDC sidecars are written from logical frames — no mapping
          Some(spark.read.parquet(new Path(changeDataDir, nonce).toString)
            .withColumn("_commit_version", lit(v)))
        case None if added.nonEmpty =>
          val reader = schemaAt(v).map(spark.read.schema).getOrElse(spark.read)
          Some(logicalize(
            reader.parquet(added.map(f => dataPath(f).toString): _*), v)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        case None => None
      }
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      val base = tableSchema.orElse(schemaAt(toV)).getOrElse(StructType(Nil))
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        base.add("_change_type", StringType).add("_commit_version", LongType))
    }
  }

  /** Write `df` (which must carry `_change_type`) as this commit's CDC
    * sidecar files; the returned nonce goes into the manifest's `cdc`
    * meta so the pointer commits atomically with the file list. An
    * orphaned sidecar (crashed writer) is unreachable — no manifest
    * points at it — and [[vacuum]] collects it.
    */
  private[lake] def stageChangeData(df: DataFrame): String = {
    require(df.columns.contains("_change_type"),
      "change-data frame must carry _change_type")
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    df.write.parquet(new Path(changeDataDir, nonce).toString)
    nonce
  }

  // ---- CHECK constraints (Delta table constraints) ----
  //
  // Stored in the manifest meta (key `constraints`, base64 of
  // `name=expr|name=expr` — base64 clears the meta charset rules), so
  // they version, time-travel, and flip atomically with the data like
  // everything else. SQL-standard semantics: a row violates a CHECK
  // only when the expression is FALSE — NULL passes. Enforced on every
  // data-introducing write (append / overwrite / insert / update);
  // compaction and clustering skip the re-validation, their rows were
  // admitted already.

  private def encodeConstraints(cs: Map[String, String]): String =
    java.util.Base64.getEncoder.encodeToString(
      cs.toSeq.sorted.map { case (n, e) => s"$n=$e" }.mkString("|")
        .getBytes(StandardCharsets.UTF_8))

  private def decodeConstraints(s: String): Map[String, String] =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
      .split('|').filter(_.nonEmpty).map { kv =>
        val Array(n, e) = kv.split("=", 2)
        n -> e
      }.toMap

  /** The CHECK constraints in force at the latest version. */
  def constraints: Map[String, String] =
    latestVersion.flatMap(v => metaAt(v).get("constraints"))
      .map(decodeConstraints).getOrElse(Map.empty)

  /** Add a CHECK constraint: existing rows must already satisfy it
    * (one scan), then a metadata-only commit puts it in force — later
    * writes validate against it before their manifests land.
    */
  def addConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be alphanumeric/underscore: $name")
    val existing = constraints
    require(!existing.contains(name), s"constraint $name already exists on $path")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val violating =
      if (!exists || latestVersion.exists(files(_).isEmpty)) 0L
      else snapshot().filter(not(coalesce(expr(exprSql), lit(true)))).limit(1).count()
    if (violating > 0)
      throw new IllegalStateException(
        s"cannot add constraint $name CHECK ($exprSql) to $path: existing rows violate it")
    commitFiles(Seq.empty, Set.empty, s"add_constraint[$name]",
      meta = Map("constraints" -> encodeConstraints(existing + (name -> exprSql))))
  }

  /** Drop a CHECK constraint (metadata-only commit). */
  def dropConstraint(name: String): Long = {
    val existing = constraints
    require(existing.contains(name), s"no constraint $name on $path")
    commitFiles(Seq.empty, Set.empty, s"drop_constraint[$name]",
      meta = Map("constraints" -> encodeConstraints(existing - name)))
  }

  /** One aggregate pass over `df` counting violations of every
    * constraint; throws naming the failed constraints. Runs BEFORE the
    * data is staged, so a rejected batch leaves no garbage to vacuum.
    */
  private[lake] def validateConstraints(df: DataFrame,
      cs: Map[String, String] = constraints): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit, when}
    val counters = cs.toSeq.map { case (n, e) =>
      count(when(!coalesce(expr(e), lit(true)), 1)).as(n)
    }
    val row = df.agg(counters.head, counters.tail: _*).head()
    val failed = cs.keys.toSeq.sorted
      .map(n => n -> row.getAs[Long](n)).filter(_._2 > 0)
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"write to $path violates CHECK constraint(s): " +
          failed.map { case (n, c) => s"$n (${cs(n)}): $c row(s)" }.mkString("; "))
  }

  // ---- deletion vectors (merge-on-read deletes) ----
  //
  // A small DELETE against a 100 TB table must not rewrite data files.
  // Delta's answer is deletion vectors: a sidecar marking (file, row)
  // pairs dead, applied at scan time, materialized away by OPTIMIZE.
  // Same design here: `_dv/<nonce>/` holds parquet (file, pos) pairs —
  // `file` manifest-relative, `pos` the parquet row index — and the
  // manifest's `dv` meta points at the COMPLETE vector set for that
  // version (supersedes, not chains: one pointer read resolves a scan,
  // and vacuum can reason per-manifest). Appends/merges carry the
  // pointer forward; full rewrites (compact/cluster/overwrite) start
  // clean because they restage post-DV rows.

  /** `_metadata.file_path` reduced to the manifest-relative data-file
    * name — the stable key DV entries are stored under (URIs differ
    * across filesystems/relocations; relative names ride the manifest).
    */
  private def relFileCol: Column =
    org.apache.spark.sql.functions.expr(
      "substring_index(_metadata.file_path, '/data/', -1)")

  private def dvFrame(v: Long): Option[DataFrame] =
    metaAt(v).get("dv").map(n => spark.read.parquet(new Path(dvDir, n).toString))

  /** Filter `df` (which MUST be a direct parquet scan of this table's
    * data files, so `_metadata` resolves) down to live rows under
    * version `v`'s deletion vectors. The anti-join's right side is one
    * small parquet dir — Catalyst/AQE broadcast it from its own size
    * stats, so the scan side never shuffles.
    */
  private def applyDv(df: DataFrame, v: Long): DataFrame = dvFrame(v) match {
    case None => df
    case Some(dv) =>
      import org.apache.spark.sql.functions.col
      df.withColumn("__dv_file", relFileCol)
        .withColumn("__dv_pos", col("_metadata.row_index"))
        .join(dv.select(col("file").as("__dv_file"), col("pos").as("__dv_pos")),
          Seq("__dv_file", "__dv_pos"), "left_anti")
        .drop("__dv_file", "__dv_pos")
  }

  // ---- row-level DML (DELETE / UPDATE) ----

  /** Candidate files for a DML predicate under version `v`, with their
    * live rows tagged `__dv_file`/`__dv_pos`. Stats pruning first — at
    * 100 TB a selective DELETE touches the files that might match, not
    * the table — then previous deletion vectors are subtracted so
    * already-dead rows can't re-match.
    */
  private def dmlCandidates(
      v: Long, pred: Column, alias: Option[String]): (Seq[String], DataFrame) = {
    import org.apache.spark.sql.functions.col
    checkReaderFeatures(v)
    val cand = prunedFilesAt(v, files(v), Seq(pred))
    if (cand.isEmpty) return (cand, null)
    val reader = tableSchema.map(spark.read.schema).getOrElse(spark.read)
    val read0 = reader.parquet(cand.map(f => dataPath(f).toString): _*)
    // row-position helpers bind to the RAW file relation (metadata
    // columns don't survive arbitrary projections); the logical view
    // is applied after, so user predicates resolve against logical
    // names while the helpers ride along untouched
    val withHelpers = read0
      .withColumn("__dv_file", relFileCol)
      .withColumn("__dv_pos", col("_metadata.row_index"))
    // SQL DML predicates arrive qualified (`t.v > 3`); the alias layer
    // makes them resolve. Plain Column predicates skip it.
    val tagged = alias.fold(logicalize(withHelpers, v))(
      logicalize(withHelpers, v).alias)
    val live = dvFrame(v) match {
      case None => tagged
      case Some(dv) =>
        tagged.join(dv.select(col("file").as("__dv_file"), col("pos").as("__dv_pos")),
          Seq("__dv_file", "__dv_pos"), "left_anti")
    }
    (cand, live)
  }

  /** SQL-DELETE truth semantics: only rows where the predicate is TRUE
    * are affected (NULL keeps the row).
    */
  private def predTrue(pred: Column): Column =
    org.apache.spark.sql.functions.coalesce(pred, org.apache.spark.sql.functions.lit(false))

  /** Restage the surviving/updated rows of the touched files, grouped
    * by their partition subdirectory so bucketed layouts keep their
    * bucket membership (a flat restage would silently break
    * [[IncrementalScdTable]]'s file-level bucket pruning).
    */
  private def restageByDir(rows: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val byDir = rows.withColumn("__dir",
      org.apache.spark.sql.functions.expr(
        "CASE WHEN __dv_file LIKE '%/%' THEN substring_index(__dv_file, '/', 1) ELSE '' END"))
    val dirs = byDir.select("__dir").distinct().collect().map(_.getString(0)).toSeq
    dirs.flatMap { d =>
      val slice = byDir.filter(col("__dir") === d)
        .drop("__dir", "__dv_file", "__dv_pos")
      stage(slice, IncrementalTable.unsortedDirName(d))
    }
  }

  /** Copy-on-write DELETE: stats-prune to candidate files, REWRITE only
    * the files that actually contain matching rows (survivors restaged,
    * untouched files re-referenced), and commit atomically together
    * with the `delete`-tagged CDC sidecar — so [[changes]] replays the
    * deletion row-by-row. Returns the committed version (the current
    * one when nothing matched). Cost: O(files containing matches), via
    * the same optimistic commit as every other writer.
    */
  def deleteWhere(pred: Column, alias: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val (_, live) = dmlCandidates(v, pred, alias)
    if (live == null) return v
    val hit = live.filter(predTrue(pred)).localCheckpoint()
    val touched = hit.select("__dv_file").distinct()
      .collect().map(_.getString(0)).toSet
    if (touched.isEmpty) return v
    val byRel = files(v).map(e => relKey(e) -> e).toMap
    val cdcNonce = stageChangeData(
      hit.drop("__dv_file", "__dv_pos").withColumn("_change_type", lit("delete")))
    val survivors = live
      .filter(col("__dv_file").isInCollection(touched))
      .filter(not(predTrue(pred)))
    val added = restageByDir(survivors)
    commitFiles(added, touched.map(byRel), "delete",
      meta = Map("cdc" -> cdcNonce), readVersion = Some(v))
  }

  /** Copy-on-write UPDATE ... SET: `set` maps column name → new-value
    * expression, all assignments evaluated against the ORIGINAL row
    * (simultaneous-assignment SQL semantics, so `SET a = b, b = a`
    * swaps). Only files containing matching rows are rewritten; the
    * CDC sidecar carries both `update_preimage` and `update_postimage`
    * rows, committed atomically with the data.
    */
  def updateWhere(pred: Column, set: Map[String, Column],
      alias: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val dataCols = logicalSchema.map(_.fieldNames.toSeq).getOrElse {
      snapshotAt(v).columns.toSeq
    }
    val unknown = set.keySet -- dataCols.toSet
    require(unknown.isEmpty, s"UPDATE of $path sets unknown column(s): $unknown")
    val genHit = set.keySet.intersect(generatedColumns.keySet)
    require(genHit.isEmpty,
      s"UPDATE of $path cannot set generated column(s) ${genHit.mkString(", ")} " +
        "— they recompute from their expressions")
    // row ids are writer-managed identity: a SET could duplicate an
    // existing id and silently break every identity-keyed consumer
    // (append/writeSnapshot accept explicit ids because internal
    // restages pass existing ones through — an UPDATE never should)
    require(!(rowTrackingEnabled && set.contains(IncrementalTable.RowIdCol)),
      s"UPDATE of $path cannot set ${IncrementalTable.RowIdCol}: row ids " +
        "are assigned at write and preserved through rewrites")
    val (_, live) = dmlCandidates(v, pred, alias)
    if (live == null) return v
    val hit = live.filter(predTrue(pred)).localCheckpoint()
    val touched = hit.select("__dv_file").distinct()
      .collect().map(_.getString(0)).toSet
    if (touched.isEmpty) return v
    def applied(df: DataFrame): DataFrame = {
      val projected = df.columns.toSeq.map {
        case c if set.contains(c) => set(c).as(c)
        case c => col(c)
      }
      df.select(projected: _*)
    }
    val pre = hit.drop("__dv_file", "__dv_pos")
      .withColumn("_change_type", lit("update_preimage"))
    val post = regenerate(applied(hit.drop("__dv_file", "__dv_pos")))
      .withColumn("_change_type", lit("update_postimage"))
    val cdcNonce = stageChangeData(pre.unionByName(post))
    // rewrite = untouched rows of touched files + updated matches, in
    // one projection (when() keeps it a single scan of each file);
    // generated columns recompute AFTER the SET projection, so they see
    // the updated source values (identity on already-consistent rows)
    val rewritten0 = live.filter(col("__dv_file").isInCollection(touched))
    val newCols = rewritten0.columns.toSeq.map {
      case c if set.contains(c) =>
        when(predTrue(pred), set(c)).otherwise(col(c)).as(c)
      case c => col(c)
    }
    val rewritten = regenerate(rewritten0.select(newCols: _*))
    validateConstraints(rewritten.drop("__dv_file", "__dv_pos"))
    val added = joinBucketSpecAt(v) match {
      case Some((n, c)) if set.contains(c) =>
        // the SET moves rows ACROSS buckets: restageByDir would leave
        // an updated row under its PRE-update bucket directory — a
        // structurally valid layout whose groups lie, i.e. a silently
        // wrong storage-partitioned join. Re-derive every rewritten
        // row's bucket from its POST-update value instead (the layout
        // stays live AND truthful).
        stageBucketed(rewritten.drop("__dv_file", "__dv_pos"), n, c)
      case _ => restageByDir(rewritten)
    }
    val byRel = files(v).map(e => relKey(e) -> e).toMap
    commitFiles(added, touched.map(byRel), "update",
      meta = Map("cdc" -> cdcNonce), readVersion = Some(v))
  }

  /** Atomic predicate-scoped OVERWRITE (Delta's `replaceWhere`): ONE
    * commit deletes every row matching `pred` and inserts `df` — the
    * slice-reload shape (daily re-materialization, backfill of a date
    * range) that a separate DELETE + append would leave readable in a
    * half-replaced state between the two commits. The delete side is
    * [[deleteWhere]]'s: stats/bloom-pruned candidates, only files
    * actually containing matches rewritten (survivors restaged,
    * untouched files re-referenced — O(files in the slice), never
    * O(table)). The insert side is [[append]]'s full materialization:
    * generated columns, declared write order, CHECK constraints,
    * identity/row-id allocation. Every incoming row must satisfy
    * `pred` (Delta's replaceWhere constraint — a row outside the
    * replaced region would make this not an overwrite of that region;
    * the check runs AFTER generated columns so a predicate on a
    * generated column is checkable). The CDC sidecar carries the
    * deleted rows and the inserted rows, so the change feed replays
    * the swap row-by-row, and `readVersion` pins the deletion-vector
    * conflict rule — a racing DV commit fails this rewrite loudly
    * instead of being silently resurrected.
    */
  def overwriteWhere(pred: Column, df: DataFrame,
      alias: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(
        s"empty table $path — overwriteWhere needs existing state; " +
          "use append for a first write"))
    val (_, live) = dmlCandidates(v, pred, alias)
    val (touched, deleteCdc, survivorFiles) =
      if (live == null) (Set.empty[String], None: Option[DataFrame], Seq.empty[String])
      else {
        val hit = live.filter(predTrue(pred)).localCheckpoint()
        val t = hit.select("__dv_file").distinct()
          .collect().map(_.getString(0)).toSet
        if (t.isEmpty) (t, None: Option[DataFrame], Seq.empty[String])
        else {
          val survivors = live
            .filter(col("__dv_file").isInCollection(t))
            .filter(not(predTrue(pred)))
          (t,
            Some(hit.drop("__dv_file", "__dv_pos")
              .withColumn("_change_type", lit("delete"))),
            restageByDir(survivors))
        }
      }
    val byRel = files(v).map(e => relKey(e) -> e).toMap
    def prepareBatch(batch: DataFrame): (DataFrame, Seq[String], String) = {
      val materialized = applyGenerated(batch)
      val outside = materialized.filter(!predTrue(pred)).limit(1).count()
      require(outside == 0L,
        s"overwriteWhere of $path: the incoming batch has row(s) that do " +
          "not satisfy the replace predicate — widen the predicate or " +
          "filter the batch (Delta's replaceWhere constraint)")
      validateConstraints(materialized)
      val added = stage(applyWriteOrder(materialized))
      val inserted = materialized.withColumn("_change_type", lit("insert"))
      val cdcNonce = stageChangeData(deleteCdc.fold(inserted)(d =>
        d.unionByName(inserted, allowMissingColumns = true)))
      (materialized, added, cdcNonce)
    }
    allocSpecs match {
      case Seq() =>
        val (materialized, added, cdcNonce) = prepareBatch(df)
        commitFiles(survivorFiles ++ added, touched.map(byRel),
          "replaceWhere", meta = Map("cdc" -> cdcNonce),
          schema = Some(materialized.schema), readVersion = Some(v))
      case specs =>
        withAllocated(df, specs) { withIds =>
          val (materialized, added, cdcNonce) = prepareBatch(withIds)
          wmMeta => commitFiles(survivorFiles ++ added, touched.map(byRel),
            "replaceWhere", maxRetries = 0,
            meta = Map("cdc" -> cdcNonce) ++ wmMeta,
            schema = Some(materialized.schema), readVersion = Some(v))
        }
    }
  }

  /** Merge-on-read DELETE via deletion vectors: matching rows are
    * recorded as (file, pos) pairs in a new `_dv/<nonce>/` sidecar —
    * NO data file is rewritten, the defining property at 100 TB —
    * and every scan of the new version subtracts them. The commit also
    * carries the `delete` CDC sidecar, so the change feed is identical
    * to [[deleteWhere]]'s. The pointer supersedes (new sidecar = old
    * vectors ∪ new), so resolution stays one meta read. A concurrent
    * commit fails this one loudly (the vector union was computed
    * against `v`; rebasing could drop a racer's vectors) — re-run on
    * fresh state, Delta's conflict rule for DVs.
    */
  def deleteVector(pred: Column, alias: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val (_, live) = dmlCandidates(v, pred, alias)
    if (live == null) return v
    val hit = live.filter(predTrue(pred)).localCheckpoint()
    if (hit.isEmpty) return v
    val newPairs = hit.select(
      col("__dv_file").as("file"), col("__dv_pos").as("pos"))
    val allPairs = dvFrame(v) match {
      case Some(old) => old.unionByName(newPairs)
      case None => newPairs
    }
    val dvNonce = java.util.UUID.randomUUID().toString.take(12)
    allPairs.write.parquet(new Path(dvDir, dvNonce).toString)
    val cdcNonce = stageChangeData(
      hit.drop("__dv_file", "__dv_pos").withColumn("_change_type", lit("delete")))
    try {
      // carry EVERYTHING except the two keys this commit sets — a
      // filter-to-allowlist here silently dropped bloom/identity/column
      // -mapping meta from DV-delete commits
      writeManifest(v + 1, "delete[dv]", files(v),
        metaAt(v).removedAll(Seq("dv", "cdc")) ++
          Map("dv" -> dvNonce, "cdc" -> cdcNonce))
      v + 1
    } catch {
      case e: CommitConflictException =>
        throw new CommitConflictException(
          s"deleteVector of $path lost the commit race at version ${v + 1}: " +
            "the vector set was computed against a stale base — " +
            s"re-run on fresh state (${e.getMessage})")
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a
    * zero-copy table whose v0 manifest REFERENCES the source's data
    * files as `ext:` absolute URIs — cloning 100 TB costs one manifest
    * write plus a copy of the (small) deletion-vector sidecar. The
    * clone then lives its own life: appends land in its own `data/`,
    * DML rewrites localize the touched files, `compact()` makes it
    * fully self-contained, and its `vacuum` walks only its OWN data
    * directory so the source's files are structurally untouchable.
    * Caveat (same as Delta's): `vacuum` on the SOURCE can remove files
    * the clone still references — keep the cloned version out of the
    * source's vacuum horizon, or compact the clone first. Constraints
    * and the source's tracked schema carry over; history does not
    * (the clone starts at v0).
    */
  def cloneFrom(src: IncrementalTable, version: Option[Long] = None): Long = {
    require(!exists, s"shallow-clone target $path already holds a table")
    val v = version.getOrElse(src.latestVersion.getOrElse(
      throw new IllegalStateException(s"cannot clone empty table ${src.path}")))
    require(src.versionExists(v), s"version $v does not exist at ${src.path}")
    // bucketed-SCD layouts prune files by their __bucket= directory
    // PREFIX — an ext: reference would silently escape that pruning
    // and an applyScd on the clone would merge against an empty slice
    require(!src.files(v).exists(f => relKey(f).startsWith("__bucket=")),
      s"shallow clone of a bucketed (SCD) table is unsupported: compact " +
        s"${src.path} into a plain layout first")
    // a clone must not LAUNDER a feature gate: cloning a version whose
    // features we don't implement would publish its data files under a
    // clone manifest with no stamp, making every reader misread
    src.checkReaderFeatures(v)
    val srcStats = src.carriedStats(v, "cloneFrom")
    val refs = src.files(v).map { e =>
      (if (e.startsWith("ext:")) e // clone of a clone: keep the original refs
      else "ext:" + src.fs.makeQualified(new Path(src.dataDir, e)).toString) -> e
    }
    val entries = refs.map(_._1)
    val srcMeta = src.metaAt(v)
    val dvMeta = srcMeta.get("dv") match {
      case None => Map.empty[String, String]
      case Some(nonce) => // vectors are table-local state: copy the sidecar
        org.apache.hadoop.fs.FileUtil.copy(
          src.fs, new Path(src.dvDir, nonce), fs, new Path(dvDir, nonce),
          false, spark.sparkContext.hadoopConfiguration)
        Map("dv" -> nonce)
    }
    // constraints AND the read-semantics meta must carry: without the
    // column mapping / generated-column declarations the clone would
    // silently serve the source's PHYSICAL names and skip backfills.
    // "widened" carries too — the ext: references ARE the source's
    // mixed-width file set, so the clone keeps demanding the
    // type-widening reader feature ("widen", the opt-in property,
    // follows like constraints do)
    val carryMeta = Seq("constraints", "colmap", "coldrop", "gencol",
      "identity", "widen", "widened", "rowtracking")
      .flatMap(k => srcMeta.get(k).map(k -> _)).toMap
    // the identity/row counters carry AT v's value: inserts on the
    // clone must not re-issue ids already present in the cloned rows.
    // If the walk below v hits the source's vacuum horizon empty
    // (manifests predating the carry invariant), fall back to the
    // source's HEAD watermark — a higher-than-v counter only skips
    // ids, never reuses
    def wmCarry(wmKey: String, declKey: String): Map[String, String] =
      if (!srcMeta.contains(declKey)) Map.empty[String, String]
      else src.newestWatermarkKey(v, wmKey)
        .orElse(src.latestVersion.flatMap(src.newestWatermarkKey(_, wmKey)))
        .map(w => wmKey -> w.toString).toMap
    val idMeta = wmCarry("id_watermark", "identity") ++
      wmCarry("row_watermark", "rowtracking")
    // the referenced files' stats carry with them: no footer re-read
    writeManifest(0L, s"clone[v$v]", entries,
      dvMeta ++ carryMeta ++ idMeta ++ schemaMetaFor(None, src.schemaAt(v)),
      knownStats = refs.flatMap { case (ref, e) => srcStats.get(e).map(ref -> _) }.toMap)
    0L
  }

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA parquet.<dir>`):
    * adopt a directory of plain parquet files as version 0 of a graft
    * table at the SAME path — NO data byte is copied or rewritten.
    * Delta lists the files in place; here every manifest entry is
    * keyed relative to `data/` (deletion vectors, DML candidate sets
    * and scan-time `_metadata.file_path` reduction all depend on that
    * contract — an in-place absolute reference would silently break
    * the DV anti-join's key match), so convert RENAMES each
    * `*.parquet` into `data/` under its original basename: a
    * metadata-only move (same filesystem, O(#files) renames), after
    * which the converted table is FIRST-CLASS — stats-pruned scans
    * (footers harvested at convert, no data read), DML, DV deletes,
    * constraints, compaction and vacuum all behave as if the data had
    * been written through the table.
    *
    * Restrictions (fail loudly, convert nothing): the path must not
    * already hold a graft table, and hive-partitioned layouts
    * (subdirectories) are not supported — the partition values live in
    * directory names, not the files, and adopting them as columns
    * needs a rewrite (use `spark.read.parquet(...)` + a graft append
    * for those). Non-parquet siblings (`_SUCCESS` etc.) are left in
    * place and ignored.
    */
  def convertInPlace(): Long = {
    require(!exists, s"$path already holds a graft table — nothing to convert")
    val root = new Path(path)
    require(fs.exists(root), s"no directory at $path")
    val entries = fs.listStatus(root).toSeq
    val subdirs = entries.filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_")) // tolerate empty metadata dirs only
    require(!subdirs.contains("data"),
      s"CONVERT TO GRAFT: $path has a data/ subdirectory but no graft " +
        "manifest — either a crashed earlier convert (move data/'s " +
        "files back to the top level and re-run) or a foreign layout " +
        "this convert must not adopt blindly")
    require(subdirs.isEmpty,
      s"CONVERT TO GRAFT: $path has subdirectories (${subdirs.take(3)
        .mkString(", ")}…) — hive-partitioned layouts are not " +
        "convertible in place; read them with spark.read.parquet and " +
        "append into a graft table instead")
    val parts = entries.filter(e => e.isFile &&
      e.getPath.getName.endsWith(".parquet")).map(_.getPath)
    require(parts.nonEmpty, s"CONVERT TO GRAFT: no *.parquet files at $path")
    // schema from the footers BEFORE the move (first-footer semantics,
    // like a plain parquet read of the directory)
    val schema = spark.read.parquet(path).schema
    fs.mkdirs(dataDir)
    val named = parts.map { p =>
      val name = p.getName
      if (!fs.rename(p, new Path(dataDir, name)))
        throw new IllegalStateException(
          s"CONVERT TO GRAFT: failed to move $p under $dataDir")
      name
    }
    // the manifest write harvests every file's footer stats, as for a
    // staged commit, so converted files prune immediately
    writeManifest(0L, "convert", named, schemaMetaFor(None, Some(schema)))
    0L
  }

  // ---- COPY INTO (Delta's idempotent file ingestion): load parquet
  // files into the table EXACTLY ONCE per source file. The set of
  // already-ingested file URIs lives in a `_copylog/<nonce>` sidecar
  // (one path per line) whose pointer rides the SAME commit as the
  // loaded data (`append(extraMeta)`) — a crash can orphan a blob but
  // never admit rows without recording their files, so a re-run is a
  // no-op, and the pointer carries across appends/DML like the other
  // table properties. Registry size grows with ingested-file count
  // (Delta's COPY INTO state has the same shape); concurrent COPY
  // INTO from two ingestors is not arbitrated — the later pointer
  // wins and the loser's files may re-load on a future run (dedupe
  // upstream or serialize ingestion, as with Delta). ----

  private def copyLogDir = new Path(path, "_copylog")

  /** The set of source-file URIs every prior COPY INTO ingested. */
  def copiedFiles(): Set[String] =
    latestVersion.flatMap(v => metaAt(v).get("copylog")).map { nonce =>
      val in = fs.open(new Path(copyLogDir, nonce))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toSet
      finally in.close()
    }.getOrElse(Set.empty)

  /** Ingest the data files at `srcDir` (a directory's top-level files
    * of the given format, or one file) through the FULL append path —
    * constraints, generated/identity columns, write-order clustering
    * all apply — skipping files already ingested by a prior COPY
    * INTO. `force` reloads everything (the files still enter the
    * registry). Returns (committed version, files loaded); a no-op
    * copy commits nothing.
    *
    * Formats: `parquet` (self-describing — may CREATE the table),
    * `csv` (with header) and `json` (JSON-lines, `.json`/`.jsonl`) —
    * the text formats read under the TABLE's tracked schema (no
    * inference double-scan, no drift: the table's types are the
    * contract), so the table must already exist with a schema.
    */
  def copyInto(srcDir: String, force: Boolean = false,
      format: String = "parquet"): (Long, Int) = {
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    val exts: Set[String] = fmt match {
      case "parquet" => Set(".parquet")
      case "csv" => Set(".csv")
      case "json" => Set(".json", ".jsonl")
      case other => throw new IllegalArgumentException(
        s"COPY INTO: FILEFORMAT = $other is not supported — " +
          "parquet, csv and json are")
    }
    val src = new Path(srcDir)
    val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(src), s"COPY INTO: no such path $srcDir")
    val st = sfs.getFileStatus(src)
    val listed = (if (st.isFile) Seq(st)
      else sfs.listStatus(src).toSeq.filter(_.isFile))
      .map(_.getPath)
      .filter(p => exts.exists(p.getName.toLowerCase.endsWith(_)))
      .map(p => sfs.makeQualified(p).toString).sorted
    require(listed.nonEmpty, s"COPY INTO: no *${exts.head} files at $srcDir")
    val already = copiedFiles()
    val fresh = if (force) listed else listed.filterNot(already)
    if (fresh.isEmpty) return (latestVersion.getOrElse(-1L), 0)
    val df = fmt match {
      case "parquet" => spark.read.parquet(fresh: _*)
      case _ =>
        val schema = tableSchema.getOrElse(throw new IllegalStateException(
          s"COPY INTO: $fmt files read under the table's schema, but " +
            s"$path has none yet — create the table (or copy a parquet " +
            "batch) first"))
        if (fmt == "csv")
          spark.read.schema(schema).option("header", "true").csv(fresh: _*)
        else spark.read.schema(schema).json(fresh: _*)
    }
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val body = (already ++ fresh).toSeq.sorted.mkString("\n")
    fs.mkdirs(copyLogDir)
    val out = fs.create(new Path(copyLogDir, nonce), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    (append(df, "copy-into", Map("copylog" -> nonce)), fresh.size)
  }

  /** RESTORE the table to the state of version `v` (Delta `RESTORE
    * TABLE ... TO VERSION AS OF`): a NEW commit whose file list,
    * schema pointer and deletion vectors are `v`'s — history is
    * preserved, time travel over the bad versions still works, and the
    * restore itself is undoable. The identity watermark is deliberately
    * NOT restored: surrogate keys must stay unique and ascending even
    * across a restore (the restore commit re-carries the pre-restore
    * maximum). Fails if `v`'s data files were already vacuumed.
    */
  def restore(v: Long): Long = {
    require(versionExists(v), s"cannot restore $path to vacuumed/unknown version $v")
    val target = files(v)
    val missing = target.filterNot(f => fs.exists(dataPath(f)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore $path to version $v: ${missing.size} data file(s) " +
          s"were vacuumed (first: ${missing.head})")
    // data state (schema pointer, deletion vectors, column mapping)
    // rewinds to v; table PROPERTIES (constraints, bloom config) follow
    // the head — Delta's RESTORE split
    // data state (incl. the feature stamp — restoring TO a
    // feature-bearing version recreates its requirements verbatim)
    var attempt = 0
    while (true) {
      val base = latestVersion.getOrElse(-1L)
      if (base == v) return v // restoring to the head is a no-op
      if (base >= 0) checkWriterFeatures(metaAt(base))
      // head-side meta is read PER ATTEMPT: a retry after losing the
      // CAS must carry the winner's newer properties and watermark,
      // not republish the pre-race snapshot of them
      val headMeta = if (base >= 0) metaAt(base) else Map.empty[String, String]
      val carried = metaAt(v).filter { case (k, _) =>
        // "widened" is data state: version v's file set carries (or
        // not) the mixed widths that demand the reader feature.
        // "copylog" is data state too: the COPY INTO registry must
        // rewind WITH the rows it accounts for — carrying the head's
        // registry over restored pre-copy data would let a re-run
        // skip files whose rows are gone, and dropping it over
        // post-copy data would re-load files whose rows are present
        Set("schema", "dv", "colmap", "coldrop", "rf", "widened",
          "copylog").contains(k) } ++
        headMeta.filter { case (k, _) =>
          Set("constraints", "bloom", "gencol", "writeorder",
            "identity", "widen", "rowtracking").contains(k) } ++
        watermarkCarry(headMeta) // counters NEVER rewind (see scaladoc)
      try {
        writeManifest(base + 1, s"restore[$v]", target, carried,
          knownStats = carriedStats(v, "restore")) // re-added files keep v's stats
        return base + 1
      } catch {
        case e: CommitConflictException =>
          if (attempt >= 20) throw e
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Rewrite the snapshot Z-ORDER clustered on `cols` — the
    * multi-dimensional counterpart of [[cluster]]'s linear ordering.
    * Each column is scaled to a `bits`-bit bucket code between its
    * global min and max, the codes are BIT-INTERLEAVED into one
    * Morton (Z) value, and rows are range-partitioned + sorted by it.
    * Files then cover compact hyper-rectangles of the key space, so
    * footer min/max bounds stay tight on EVERY cluster column — a
    * selective predicate on any one of them prunes to O(n^((d-1)/d))
    * files where the linear ordering prunes only on its leading key
    * (Delta's OPTIMIZE ZORDER BY; Morton 1966).
    *
    * The interleave is a fixed chain of codegen'd shift/mask integer
    * expressions built driver-side — no UDF, no interpreted lambda.
    * Bucket scaling is uniform min→max (one tiny agg pass); heavily
    * skewed columns would want quantile boundaries instead, the same
    * upgrade Delta's range_partition_id applies.
    */
  def clusterZ(targetFiles: Int, bits: Int, cols: String*): Long =
    clusterZImpl(targetFiles, bits, equiDepth = false, cols)

  /** [[clusterZ]] with EQUI-DEPTH bucket boundaries: each column's
    * code comes from its approximate quantiles instead of a uniform
    * min→max scaling, so a heavily skewed column (zipfian keys, a few
    * giant outliers) still spreads across all 2^bits codes instead of
    * collapsing into one hot bucket — the same upgrade Delta's
    * `range_partition_id` applies to OPTIMIZE ZORDER BY. Costs one
    * `approxQuantile` pass (driver receives 2^bits doubles per
    * column); the interleave stays a codegen'd shift/mask chain, the
    * bucket lookup a 2^bits-branch comparison chain (codegen'd, no
    * UDF).
    */
  def clusterZEquiDepth(targetFiles: Int, bits: Int, cols: String*): Long =
    clusterZImpl(targetFiles, bits, equiDepth = true, cols)

  private def clusterZImpl(
      targetFiles: Int, bits: Int, equiDepth: Boolean, cols: Seq[String]): Long = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val arranged = zArrange(snapshotHead(v), targetFiles, bits, equiDepth, cols)
    rewriteHead(v, arranged, operation = s"zorder[${cols.mkString(",")}]")
  }

  /** `df` rearranged into `targetFiles` Morton-ordered shards — the
    * shared arrangement step of [[clusterZ]] (full rewrite) and
    * [[clusterZIncremental]] (new-files-only rewrite).
    */
  private def zArrange(df: DataFrame,
      targetFiles: Int, bits: Int, equiDepth: Boolean, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2,
      "z-order needs at least two columns (use cluster() for one)")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits=$bits x ${cols.size} columns must fit a signed int64")
    val maxCode = (1L << bits) - 1
    val isString = df.schema.fields
      .map(f => f.name -> (f.dataType == StringType)).toMap
    // STRING columns have no numeric scaling or approxQuantile: bucket
    // codes come from SAMPLED equi-depth cut points (up to ~10k values
    // to the driver, 2^bits-1 cuts) — the same range-partition-id move
    // Delta applies to string ZORDER BY columns. The code expression
    // stays a codegen'd comparison chain.
    def stringCode(c: String): Column = {
      // a bounded prefix sample, not a uniform one: cut-point quality
      // only affects clustering balance, never correctness, and the
      // prefix is deterministic across retries
      val sampled = df.select(col(c)).na.drop()
        .limit(10000).collect().map(_.getString(0)).sorted
      if (sampled.isEmpty) lit(0L)
      else {
        val step = math.max(1, sampled.length / (1 << bits))
        val cuts = (1 until (1 << bits)).map(i => i * step)
          .filter(_ < sampled.length).map(sampled).distinct
        if (cuts.isEmpty) lit(0L)
        else {
          val head = when(col(c) <= cuts.head, 0L)
          cuts.tail.zipWithIndex.foldLeft(head) {
            case (acc, (b, i)) => acc.when(col(c) <= b, (i + 1).toLong)
          }.otherwise(lit(cuts.length.toLong))
        }
      }
    }
    val codes: Seq[Column] =
      if (equiDepth) {
        val numeric = cols.filterNot(isString)
        val casted = df.select(numeric.map(c => col(c).cast("double").as(c)): _*)
        val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
        cols.map { c =>
          if (isString(c)) stringCode(c)
          else {
            val bounds = casted.stat.approxQuantile(c, probs, 0.001)
              .distinct.sorted
            if (bounds.isEmpty) lit(0L)
            else {
              val head = when(col(c).cast("double") <= bounds.head, 0L)
              val chain = bounds.tail.zipWithIndex.foldLeft(head) {
                case (acc, (b, i)) => acc.when(col(c).cast("double") <= b, (i + 1).toLong)
              }
              chain.otherwise(lit(bounds.length.toLong))
            }
          }
        }
      } else {
        val numeric = cols.filterNot(isString)
        val stats =
          if (numeric.isEmpty) null
          else {
            val statExprs = numeric.flatMap(c => Seq(
              min(col(c).cast("double")).as(s"mn_$c"),
              max(col(c).cast("double")).as(s"mx_$c")))
            df.agg(statExprs.head, statExprs.tail: _*).head()
          }
        cols.map { c =>
          if (isString(c)) stringCode(c)
          else (stats.getAs[Any](s"mn_$c"), stats.getAs[Any](s"mx_$c")) match {
            case (mn: java.lang.Double, mx: java.lang.Double) if mx > mn =>
              val scale = maxCode / (mx - mn)
              least(lit(maxCode), greatest(lit(0L),
                floor((col(c).cast("double") - lit(mn.doubleValue)) * lit(scale)).cast("long")))
            case _ => lit(0L) // constant or all-null column: no information
          }
        }
      }
    val n = cols.size
    val z = (0 until bits).flatMap { i =>
      codes.zipWithIndex.map { case (code, j) =>
        shiftleft(shiftright(coalesce(code, lit(0L)), i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Bin-packing compaction (what OPTIMIZE actually does at scale):
    * rewrite ONLY files smaller than `minFileBytes`, grouped per
    * partition subdirectory (bucketed layouts keep their file-level
    * pruning), into ~`targetFileBytes` outputs. [[compact]] is
    * O(table) — unusable as a maintenance cadence at 100 TB, where the
    * problem is the small-file tail of frequent appends, not the big
    * healthy files. Cost here is O(small files). External (`ext:`
    * shallow-clone) references are skipped — localizing them is a full
    * [[compact]]'s job. Returns the current version when fewer than two
    * small files share a directory.
    */
  def compactSmall(minFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20): Long = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val fsys = fs
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val small = files(v)
      .filterNot(_.startsWith("ext:"))
      .map(f => f -> fsys.getFileStatus(dataPath(f)).getLen)
      .filter(_._2 < minFileBytes)
    // only directories where packing actually reduces the file count
    val byDir = small.groupBy { case (f, _) => dirOf(f) }
      .filter(_._2.size >= 2)
    if (byDir.isEmpty) return v
    val added = byDir.toSeq.sortBy(_._1).flatMap { case (dir, members) =>
      val names = members.map(_._1).toSet
      val bins = math.max(1,
        math.ceil(members.map(_._2).sum.toDouble / targetFileBytes).toInt)
      val slice = snapshotOfFiles(v, names).get // DV-applied, logical
      stage(slice.repartition(bins), IncrementalTable.unsortedDirName(dir))
    }
    commitFiles(added, byDir.values.flatten.map(_._1).toSet,
      s"compact-small[<${minFileBytes >> 20}MiB]", readVersion = Some(v),
      meta = Map("datachange" -> "false"))
  }

  /** Predicate-scoped compaction (Delta's `OPTIMIZE ... WHERE`,
    * generalized from partition predicates to stats predicates):
    * rewrite into `targetFiles` ONLY the files whose stats admit a
    * `pred` match — the hot-slice maintenance move at 100 TB, where
    * yesterday's partition needs compacting and the other 99.9 % of
    * the table must not be touched. Grouped per partition
    * subdirectory (bucketed layouts keep their pruning); files
    * without stats conservatively count as matching. Content-
    * preserving: commits `datachange=false`, so feeds and streams
    * skip it. Returns the current version when fewer than two files
    * qualify (nothing to merge).
    */
  def compactWhere(pred: Column, targetFiles: Int = 1): Long = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    val cand = prunedFilesAt(v, files(v), Seq(pred))
      .filterNot(_.startsWith("ext:"))
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val byDir = cand.groupBy(dirOf).filter(_._2.size >= 2)
    if (byDir.isEmpty) return v
    val added = byDir.toSeq.sortBy(_._1).flatMap { case (dir, members) =>
      val slice = snapshotOfFiles(v, members.toSet).get // DV-applied, logical
      stage(slice.repartition(targetFiles),
        IncrementalTable.unsortedDirName(dir))
    }
    commitFiles(added, byDir.values.flatten.toSet, "compact-where",
      readVersion = Some(v), meta = Map("datachange" -> "false"))
  }

  /** INCREMENTAL clustering (the liquid-clustering idea): z-order ONLY
    * the files added since the last clustering commit, leaving already-
    * clustered files untouched. `clusterZ` is O(table) every time —
    * on a growing 100 TB table the right cadence is one full cluster
    * followed by incremental passes that each cost O(new data). The
    * freshly clustered files' bounds may overlap the old region's, but
    * skipping is per-file, so pruning quality is preserved; run a full
    * `clusterZ` occasionally to re-tighten globally.
    *
    * Returns the current version unchanged when there is nothing new
    * to cluster; falls back to a FULL cluster when no clustering
    * baseline is found (never clustered, or the baseline was
    * vacuumed).
    */
  def clusterZIncremental(targetFiles: Int, bits: Int, cols: String*): Long = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"empty table $path"))
    // newest zorder commit = the clustering baseline
    val lastZ = (v to 0L by -1).iterator
      .takeWhile(versionExists)
      .find(u => operationAt(u).startsWith("zorder"))
    lastZ match {
      case None => clusterZImpl(targetFiles, bits, equiDepth = false, cols)
      case Some(b) =>
        val baseline = files(b).toSet
        val fresh = files(v).filterNot(baseline)
        if (fresh.isEmpty) return v
        val subset = snapshotOfFiles(v, fresh.toSet).get // DV-applied, logical
        val arranged = zArrange(subset, targetFiles, bits, equiDepth = false, cols)
        val added = stage(arranged)
        commitFiles(added, fresh.toSet, s"zorder-inc[${cols.mkString(",")}]",
          readVersion = Some(v), meta = Map("datachange" -> "false"))
    }
  }

  /** The data files `vacuum(keepLast)` WOULD delete — `VACUUM ... DRY
    * RUN`. Same reference-count walk, no deletion, no checkpoint pin.
    */
  def vacuumPreview(keepLast: Int = 1): Seq[String] =
    latestVersion.map { latest =>
      val cutoff = latest - math.max(1, keepLast) + 1
      val keepIds = manifestIds.filter(_ >= cutoff)
      val keep = keepIds.sorted.flatMap(files).toSet
      def walk(dir: Path): Seq[Path] =
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
        }
      val dataRoot = fs.makeQualified(dataDir).toString.stripSuffix("/") + "/"
      walk(dataDir)
        .map(p => fs.makeQualified(p).toString.stripPrefix(dataRoot))
        .filterNot(keep)
        .sorted
    }.getOrElse(Seq.empty)

  /** Delete data files referenced by NO kept manifest, and manifests
    * older than the last `keepLast` (readers of vacuumed versions fail
    * — Delta VACUUM contract). The oldest kept version is pinned by a
    * checkpoint carrying its files' stats, so pruning survives.
    */
  def vacuum(keepLast: Int = 1): Unit = latestVersion.foreach { latest =>
    val cutoff = latest - math.max(1, keepLast) + 1
    val (dropIds, keepIds) = manifestIds.partition(_ < cutoff)
    // the oldest KEPT version must stay reconstructible after the older
    // manifests are gone: if its commit is a delta, pin its full list
    // as a checkpoint sidecar BEFORE dropping what it walks back to
    if (dropIds.nonEmpty && versionExists(cutoff) &&
        readManifestParts(cutoff)._3.isEmpty && !hasCheckpoint(cutoff)) {
      writeCheckpoint(cutoff, files(cutoff), carriedStats(cutoff, "vacuum"))
      // this pin is LOAD-BEARING (unlike the best-effort commit-time
      // checkpoints): if it didn't land, deleting the older manifests
      // would make every retained version unreconstructible
      if (!hasCheckpoint(cutoff))
        throw new IllegalStateException(
          s"vacuum of $path aborted: could not pin a checkpoint at " +
            s"version $cutoff — no manifests were deleted")
    }
    // ascending so each reconstruction walks back to its cached neighbor
    val keep = keepIds.sorted.flatMap(files).toSet
    def walk(dir: Path): Seq[Path] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath)
      }
    // qualify both sides: listStatus returns scheme-qualified paths
    // (file:/...), the configured dataDir may not be
    val dataRoot = fs.makeQualified(dataDir).toString.stripSuffix("/") + "/"
    walk(dataDir)
      .filter(p => !keep.contains(fs.makeQualified(p).toString.stripPrefix(dataRoot)))
      .foreach(fs.delete(_, false))
    dropIds.foreach { v =>
      fs.delete(manifestPath(v), false)
      if (fs.exists(checkpointPath(v))) fs.delete(checkpointPath(v), false)
      if (fs.exists(checkpointParquetPath(v)))
        fs.delete(checkpointParquetPath(v), false)
      // the caches must not outlive the manifests: a later files(v) /
      // metaAt(v) on this instance has to fail loudly like an uncached
      // read would, not silently serve the vacuumed version
      filesCache.remove(v)
      statsCache.remove(v)
      metaCache.remove(v)
    }
    // schema blobs referenced by no kept manifest are garbage too
    if (fs.exists(schemasDir)) {
      val keptPtrs = keepIds.flatMap(v => metaAt(v).get("schema")).toSet
      fs.listStatus(schemasDir).toSeq
        .filterNot(st => keptPtrs.contains(st.getPath.getName))
        .foreach { st =>
          fs.delete(st.getPath, false)
          // same rule as filesCache/metaCache above: the cache must not
          // outlive the blob it mirrors
          schemaBlobCache.remove(st.getPath.getName)
        }
    }
    // so are CDC sidecars, deletion-vector sets and COPY INTO
    // registries no kept manifest points at (including crashed
    // writers' never-committed orphans)
    Seq("cdc" -> changeDataDir, "dv" -> dvDir, "copylog" -> copyLogDir)
      .foreach { case (key, dir) =>
        if (fs.exists(dir)) {
          val keptPtrs = keepIds.flatMap(v => metaAt(v).get(key)).toSet
          fs.listStatus(dir).toSeq
            .filterNot(st => keptPtrs.contains(st.getPath.getName))
            .foreach(st => fs.delete(st.getPath, true))
        }
      }
    // crashed writers leak `_stage/<nonce>` dirs (a successful publish
    // deletes its own), and a crashed incremental-SCD batch leaks its
    // `_tmp/slice-*` scratch dir the same way. Reap both roots past
    // the staging retention — a LIVE writer's dir is recent by
    // definition, the same mtime-window rule Delta applies to
    // uncommitted files; neither root is ever referenced by a manifest
    val retainMs = spark.conf
      .get("graft.vacuum.stageRetentionMs", (24L * 3600 * 1000).toString)
      .toLong
    val horizon = System.currentTimeMillis() - retainMs
    Seq("_stage", "_tmp").foreach { scratch =>
      val root = new Path(path, scratch)
      if (fs.exists(root)) {
        fs.listStatus(root).toSeq
          .filter(_.getModificationTime < horizon)
          .foreach(st => fs.delete(st.getPath, true))
      }
    }
    // the per-file stats store of tables written before stats moved into
    // the manifest (with its swap dirs) is dead weight: nothing reads it
    Option(fs.globStatus(new Path(path, "_stats*"))).toSeq.flatten
      .foreach(st => fs.delete(st.getPath, true))
    // drop bloom rows of vacuumed files (stale rows are harmless for
    // correctness — pruning probes only manifest files — but unbounded)
    import spark.implicits._
    rewriteBlooms(_.join(org.apache.spark.sql.functions.broadcast(
      keep.toSeq.toDF("file")), Seq("file"), "left_semi"))
  }
}

object IncrementalTable {
  /** Full-list checkpoint sidecar cadence for delta-encoded commits —
    * the bound on a reader's reconstruction walk (Delta defaults its
    * checkpoint interval to 10 for the same reason).
    */
  private[lake] val CheckpointInterval = 10L

  /** Reader features this library implements. A manifest demanding
    * anything outside this set makes every data read refuse loudly —
    * the generic gate future format features register under (Delta's
    * table-features list serves the same role).
    */
  val SupportedReaderFeatures: Set[String] =
    Set("column-mapping", "deletion-vectors", "type-widening", "row-tracking")

  /** Join-bucket partition column / directory prefix ([[bucketize]]) —
    * distinct from the SCD layout's `__bucket` on purpose: the two
    * layouts have different pruning and clone semantics.
    */
  val JoinBucketCol = "__jbucket"

  /** THE bucket-dir-value grammar —
    * `__jbucket=<col>-<typeToken>-[s1-]<n>-<k>/` — shared by every
    * consumer (the scan's grouping, [[IncrementalTable.compactBuckets]],
    * [[IncrementalTable.bucketLayoutHealth]]): the spec rides the
    * files, and THREE hand-rolled copies of this regex were a
    * spec-drift hazard (each element of the grammar — the type token,
    * the s1 marker — has been a real silent-wrong-results bug once).
    * Groups: 1=column, 2=typeToken, 3=s1|null, 4=n, 5=k.
    */
  private[graft] val BucketDirRe: scala.util.matching.Regex =
    (java.util.regex.Pattern.quote(JoinBucketCol) +
      "=([A-Za-z_][A-Za-z0-9_]*)-([a-z0-9_]+)-(?:(s1)-)?(\\d+)-(\\d+)/").r
  /** Manifest meta key holding `"<buckets>+<column>"` (meta values
    * cannot carry `:` — the pair parser owns it).
    */
  private[graft] val JoinBucketMetaKey = "jbucket"

  /** Operations whose resulting live file count is the layout's
    * settled floor — the auto-compact trigger baseline. `commitFiles`
    * stamps `settled=<count>` on exactly these, and
    * `maybeAutoCompact`'s fallback walk matches the same set.
    */
  private[lake] def isLayoutSettling(op: String): Boolean =
    op.startsWith("bucketize[") || op.startsWith("compact-buckets[") ||
      op.startsWith("compact-small[") || op == "compact" ||
      op.startsWith("cluster[") || op.startsWith("zorder[")

  /** `dir` with the `s1` SORT marker stripped when it is a join-bucket
    * directory: any restage that preserves a file's directory but not
    * a per-bucket (bucket, key) sort — delete survivors, small-file
    * packing, predicate-scoped compaction — must write here instead.
    * The bucket IDENTITY survives (rows still hash to the dir's
    * bucket); only the ordering claim retreats. A falsely-marked file
    * would let a merge join skip a sort it needs — silent wrong
    * results, not a slow plan.
    */
  private[lake] def unsortedDirName(dir: String): String =
    if (dir.startsWith(JoinBucketCol + "=")) dir.replaceFirst("-s1-", "-")
    else dir

  /** The HASH-IDENTITY token a bucket directory value carries for its
    * column's type ([[IncrementalTable.bucketize]] /
    * `withJoinBucket`). Murmur3 is TYPE-dependent — `hash(5: int)` and
    * `hash(5L: long)` differ — so the token pins which physical type
    * the files' bucket ids were computed under; a scan reading the
    * column as any OTHER type (after a type widening, say) must not
    * key-group those files. `None` = no stable hash identity (nested /
    * exotic types) — not bucketizable.
    */
  private[graft] def bucketTypeToken(dt: DataType): Option[String] = dt match {
    case BooleanType => Some("bool")
    case ByteType => Some("byte")
    case ShortType => Some("short")
    case IntegerType => Some("int")
    case LongType => Some("bigint")
    case FloatType => Some("float")
    case DoubleType => Some("double")
    case StringType => Some("string")
    case BinaryType => Some("bin")
    case DateType => Some("date")
    case TimestampType => Some("ts")
    case TimestampNTZType => Some("tsntz")
    case d: DecimalType => Some(s"dec_${d.precision}_${d.scale}")
    case _ => None
  }

  /** The materialized stable row-identity column (Delta's row tracking
    * materializes `row_id` the same way when rows are rewritten; this
    * implementation materializes ALWAYS — no per-file base-id
    * arithmetic, at the cost of 8 bytes/row, which dictionary/RLE
    * parquet encoding compresses to near nothing for the dense ranges
    * allocation produces).
    */
  val RowIdCol = "_row_id"

  /** The lossless-widening lattice: integral family by rank, float →
    * double. `None` = not a widening (lossy or unrelated). Shared with
    * the streaming source, which uses it to DETECT a widening that
    * happened after a stream fixed its read schema.
    */
  private[graft] def widerOf(a: DataType, b: DataType): Option[DataType] = {
    def rank(t: DataType): Int = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => -1
    }
    if (a == b) Some(a)
    else if (rank(a) > 0 && rank(b) > 0) Some(if (rank(a) >= rank(b)) a else b)
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** The reader features a manifest's meta DEMANDS: column mapping
    * (files carry physical names a reader must remap) and deletion
    * vectors (a reader must subtract them). Used to stamp `rf` at
    * commit time and to derive the set for pre-gate manifests.
    */
  private[lake] def readerFeaturesOf(meta: Map[String, String]): Set[String] = {
    val colmap = meta.get("colmap").exists(_.nonEmpty) ||
      meta.get("coldrop").exists(_.nonEmpty)
    val dv = meta.get("dv").exists(_.nonEmpty)
    // `widened` nonEmpty = this version's file set mixes physical
    // widths under one (wide) read schema — a reader must read with
    // the TRACKED schema (upcasting narrow footers), not a bare
    // footer-merge, and its stats reads must pin the wide stats schema
    val widened = meta.get("widened").exists(_.nonEmpty)
    // row tracking: a reader that drops or fabricates `_row_id` breaks
    // every identity-keyed downstream consumer — readers must know
    val rowTracking = meta.get("rowtracking").contains("true")
    (if (colmap) Set("column-mapping") else Set.empty[String]) ++
      (if (dv) Set("deletion-vectors") else Set.empty[String]) ++
      (if (widened) Set("type-widening") else Set.empty[String]) ++
      (if (rowTracking) Set("row-tracking") else Set.empty[String])
  }

  /** Fill NULL `idCol` values with fresh identity values: DENSE from
    * the watermark in batch order — `start, start+step, …` on a fresh
    * table — via per-partition offsets (one metadata-scale count pass
    * over the already-materialized batch, no shuffle; Delta allocates
    * identity/row-ids the same way). The local row index is recovered
    * from `monotonically_increasing_id`'s documented layout
    * (partitionId << 33 | rowIndexInPartition); the offsets ride a
    * literal map keyed by partition id, so the whole allocation stays
    * codegen'd column arithmetic. Rows that already carry an id keep
    * it; their slots leave gaps, which the identity contract allows.
    * `df` MUST be materialized (localCheckpoint) — the offsets assume
    * a pinned partitioning.
    */
  private[lake] def allocateIdentity(df: DataFrame, idCol: String,
      watermark: Long, step: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val pid = spark_partition_id()
    val localIdx = monotonically_increasing_id()
      .bitwiseAND(lit((1L << 33) - 1))
    val counts = df.groupBy(pid.as("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.map { case (p, n) => val o = p -> acc; acc += n; o }.toMap
    }
    val offsetCol =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedLit(offsets), pid)
    df.withColumn(idCol,
      coalesce(col(idCol),
        (lit(watermark) + (offsetCol + localIdx + lit(1L)) * lit(step))
          .cast(df.schema(idCol).dataType)))
  }

  /** One row per referenced data file (and its stats entry, if any). */
  private[lake] val CheckpointSchema: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message graft_checkpoint { required binary file (UTF8); " +
        "optional binary stats (UTF8); }")

  /** Table paths this JVM has already checked for a legacy `_stats/`. */
  private val legacyStatsChecked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Column names ride the manifest meta's `k=v;k=v` / `a;b` encodings,
    * so the encoding's structural characters are illegal in them — the
    * SAME rule the parser assumes. Shared with the catalog so property
    * VALUES can be rejected before anything commits.
    */
  private[graft] def saneColumnName(c: String): Boolean =
    c.nonEmpty && !c.exists(ch => ch == ';' || ch == '=' || ch == ',' ||
      ch == ':' || ch == '"' || ch == '\\' || ch == '{' || ch == '}')

  /** Lenient user-supplied timestamp → epoch millis, shared by every
    * time-travel / streaming-start surface: bare digits (epoch millis),
    * `yyyy-MM-dd HH:mm:ss[.f]`, ISO-8601 `yyyy-MM-ddTHH:mm:ss[±off]`,
    * and a bare `yyyy-MM-dd` (midnight). Zoneless forms use the session
    * JVM's zone, matching `java.sql.Timestamp.valueOf`.
    */
  // public: the SQL command classes live under org.apache.spark.sql.*
  def parseTimestampMillis(s: String): Long = {
    val t = s.trim
    def zone = java.time.ZoneId.systemDefault()
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else scala.util.Try(java.sql.Timestamp.valueOf(t).getTime)
      .orElse(scala.util.Try(java.time.LocalDateTime.parse(t)
        .atZone(zone).toInstant.toEpochMilli))
      .orElse(scala.util.Try(java.time.OffsetDateTime.parse(t)
        .toInstant.toEpochMilli))
      .orElse(scala.util.Try(java.time.LocalDate.parse(t)
        .atStartOfDay(zone).toInstant.toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse timestamp '$s' — use epoch millis, " +
          "'yyyy-MM-dd HH:mm:ss', ISO-8601 date-time, or 'yyyy-MM-dd'"))
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** JVM-wide manifest-publish lock for a table path — see the
    * critical section in `writeManifest`. Bounded by the number of
    * distinct table paths touched by this JVM.
    */
  private[lake] def publishLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
