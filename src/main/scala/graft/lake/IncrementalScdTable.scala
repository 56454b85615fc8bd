package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.scd.{ScdApply, ScdConfig}

/** THE documented scale path for SCD maintenance (the one backend —
  * an earlier `BucketedScdTable` that solved only the rewrite half via
  * hive-partitioned dynamic overwrite was retired in its favor),
  * combining the two mechanisms that make per-batch SCD viable at
  * 100 TB:
  *
  *  - touched-bucket-only rewrite: the table is laid out by
  *    `__bucket = pmod(hash(pk...), numBuckets)`, a pure function of
  *    the business key, so every target row a batch can match lives in
  *    a touched bucket — work per batch is O(touched buckets), not
  *    O(table); and
  *  - [[IncrementalTable]]'s file-level manifest commits (untouched
  *    buckets' files are RE-REFERENCED, not rewritten — plus time
  *    travel, history, and atomic swap-in of the touched slice's next
  *    state without ever overwriting the files the merge read).
  *
  * A batch: stamp the source once and cast it to the table's column
  * types ([[graft.scd.ScdApply.stamp]]) → hash the table-typed business
  * keys to buckets (one job) → read ONLY the touched buckets' files
  * (straight from the manifest, no directory listing) → run the SCD
  * kernel ([[graft.scd.ScdApply.merge]]) over that slice: ONE exchange
  * by bucket into one partition per touched bucket, then one per-key
  * pass that reproduces the split and both reference merges, no join →
  * write the slice's next state to `_tmp` → allocate identity → stage
  * it per bucket → one atomic commit that swaps the touched buckets'
  * files and carries every other file reference forward. Readers
  * time-travel across batches at file granularity.
  *
  * Identity columns (the test DDL's `GENERATED ALWAYS AS IDENTITY`,
  * test_scd_handler.py:41) are supported the way Delta does it: the
  * surrogate-key HIGH WATERMARK rides the commit manifest's metadata,
  * so allocating ids for a batch reads ONE small manifest — never a
  * `max()` scan over the table (O(table) at 100 TB). Assigned ids are unique and ascending across batches but
  * not gap-free — the same contract as Delta identity columns.
  */
final class IncrementalScdTable(
    spark: SparkSession, val path: String, val numBuckets: Int,
    identityCol: Option[String] = None, identityStart: Long = 1L,
    emitChangeData: Boolean = false, identityStep: Long = 1L) {

  require(numBuckets > 0, "numBuckets must be positive")
  require(identityStep >= 1,
    "identityStep must be >= 1 (the watermark protocol is ascending)")

  val table = new IncrementalTable(spark, path)

  private val schemaFile = new Path(path, "_schema.json")
  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(pkCols: Seq[String]): Column =
    pmod(hash(pkCols.map(col): _*), lit(numBuckets))

  private def bucketDir(b: Int) = s"__bucket=$b"

  def exists: Boolean = fs.exists(schemaFile)

  /** Create the table, PERSISTING the identity declaration (column,
    * START WITH, INCREMENT BY — the reference DDL's `GENERATED ALWAYS
    * AS IDENTITY (START WITH 10)`, test_scd_handler.py:41) as table
    * config: every future instance allocates from the same counter
    * contract whether or not its constructor repeated the arguments.
    */
  def create(schema: StructType): Unit = {
    fs.mkdirs(new Path(path))
    val out = fs.create(schemaFile, true)
    out.write(schema.json.getBytes(StandardCharsets.UTF_8))
    out.close()
    schemaCache = Some(schema)
    identityCol.foreach { c =>
      // the name is interpolated into the config JSON — the same
      // structural-character rule the manifest meta enforces
      require(IncrementalTable.saneColumnName(c) && !c.contains("'"),
        s"illegal identity column name: $c")
      val out2 = fs.create(identityFile, true)
      out2.write(
        s"""{"col":"$c","start":$identityStart,"step":$identityStep}"""
          .getBytes(StandardCharsets.UTF_8))
      out2.close()
      identityCache = Some(Some((c, identityStart, identityStep)))
    }
  }

  private val identityFile = new Path(path, "_identity.json")

  // the config file is immutable once written — cache the parse. An
  // ABSENT file is cached only once the table exists (pre-create reads
  // must not pin "no identity" before create() decides).
  @volatile private var identityCache: Option[Option[(String, Long, Long)]] = None

  /** Effective identity declaration (col, start, step): the persisted
    * table config wins — written once at [[create]], shared by every
    * instance — with the constructor arguments as the fallback for
    * tables created before the config existed.
    */
  private def identityConfig: Option[(String, Long, Long)] =
    identityCache match {
      case Some(v) => v
      case None =>
        val v =
          if (fs.exists(identityFile)) {
            val in = fs.open(identityFile)
            val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            val m = """"col":"([^"]+)","start":(-?\d+),"step":(\d+)""".r
              .findFirstMatchIn(txt).getOrElse(throw new IllegalStateException(
                s"corrupt identity config at $identityFile"))
            Some((m.group(1), m.group(2).toLong, m.group(3).toLong))
          } else identityCol.map(c => (c, identityStart, identityStep))
        if (v.isDefined || exists) identityCache = Some(v)
        v
    }

  // written once by create() — every batch reads it (the stamp's cast
  // target), so parse it once
  @volatile private var schemaCache: Option[StructType] = None

  private def storedSchema: StructType = schemaCache.getOrElse {
    val in = fs.open(schemaFile)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val st = DataType.fromJson(txt).asInstanceOf[StructType]
    schemaCache = Some(st)
    st
  }

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  def snapshot(): DataFrame = {
    // A committed version may reference zero files (every row deleted,
    // or a legacy empty-table noop commit) — that is an empty table,
    // not an error.
    val nonEmpty = table.latestVersion
      .filter(v => table.files(v).nonEmpty)
      .map(table.snapshotAt)
    nonEmpty.getOrElse(emptyFrame(storedSchema))
  }

  def snapshotAt(v: Long): DataFrame = table.snapshotAt(v)

  /** Current rows of the given buckets only — file-level pruning via
    * the manifest's bucket-directory prefixes.
    */
  def snapshotOfBuckets(buckets: Seq[Int]): DataFrame = {
    val prefixes = buckets.map(b => bucketDir(b) + "/").toSet
    table.latestVersion
      .flatMap(v => table.snapshotOfFiles(v, f => prefixes.exists(f.startsWith)))
      .getOrElse(emptyFrame(storedSchema))
  }

  /** One SCD batch — the reference's `apply_scd` (scd_handler.py:58-163);
    * returns the committed version (the current latest when the batch
    * is a no-op, -1 when a no-op hits a table with no versions yet — an
    * empty batch must not commit a zero-file v0).
    *
    * PRECONDITION (inherited from the reference): `cfg.clock` must move
    * forward across successive calls on one table. Version recency is
    * decided by `dw_inserted_at DESC` (scd_handler.py:73), so a batch
    * stamped with an older clock than rows already in the table makes the
    * snapshot dedup pick a closed row as "current", which can leave a key
    * with two active rows. Observed empirically by replaying batches with
    * reused fixed clocks (see examples/ScdDemo).
    */
  def applyScd(source: DataFrame, cfg: ScdConfig): Long = {
    // pin the read version: the commit below removes exactly the files
    // this merge READ, and carries it as readVersion so a racing
    // deletion-vector commit conflicts loudly instead of being
    // resurrected by the restaged slice
    val baseV = table.latestVersion
    // stamp once, cast to the table's types: the touched buckets are
    // hashed from the TABLE-typed key — the hash rows are stored under
    // (a BIGINT source key hashes differently from the INT column it
    // lands in)
    val stamped = ScdApply.stamp(source, storedSchema, cfg)
    // ONE job decides both emptiness and the touched set (a separate
    // isEmpty probe would re-scan the source — per-batch fixed costs
    // are the incremental path's whole overhead at small batches)
    val touched: Seq[Int] = stamped.rows.select(bucketOf(cfg.pkCols).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty)
      return baseV.getOrElse(-1L)

    val snapPrefixes = touched.map(b => bucketDir(b) + "/").toSet
    val snap = baseV
      .flatMap(v => table.snapshotOfFiles(v, f => snapPrefixes.exists(f.startsWith)))
      .getOrElse(emptyFrame(storedSchema))
    // identity: fill NULL surrogate keys from the manifest watermark —
    // untouched buckets' ids are ≤ the watermark by induction, so only
    // the old watermark and this slice's new ids matter. Materialize
    // BEFORE allocating: the plan reads the files the commit will
    // de-reference, staging triggers the write, and the allocation's
    // per-partition offsets need a pinned partitioning. The slice is
    // materialized to FILES under the table's own `_tmp` (it used to
    // `localCheckpoint`, but executor block storage is non-replicated
    // — a lost executor silently discarded the slice mid-batch with no
    // recompute path, and the residency taxed exactly the memory the
    // merge needs) — O(TOUCHED SLICE) bytes, never O(table); at 100 TB
    // the touched slice is bounded by the batch's bucket fan-out ×
    // per-bucket size, the very quantity the bucket count is
    // provisioned to keep small. Immutable files also make every later
    // pass deterministic: the identity offsets job, the staging write
    // and the max-id probe all re-read the same bytes with the same
    // splits.
    val idCfg = identityConfig
    val watermark = identityWatermark
    // the kernel's one exchange IS the bucket alignment: one task per
    // touched bucket (modulo hash collisions of bucket ids), so the
    // partitioned write stages one file per bucket per batch instead of
    // tasks × buckets files (a 10M-row initial load once staged 20,490
    // files and the serial publish renames + per-file stats harvest
    // dominated the build at ~400 s) — what snapshotOfBuckets,
    // compactBuckets(maxFiles) and the untouched-carryover spec assume.
    // (Identity tables keep the guarantee through the allocation
    // window's exchange; without an identity column, a bucket whose
    // scratch file exceeds maxPartitionBytes can read back split and
    // stage ceil(bytes/split) files — bounded fragmentation
    // compactBuckets folds later, never a correctness issue.)
    val merged0 = ScdApply
      .merge(snap, stamped, cfg, Some((bucketOf(cfg.pkCols), touched.size)))
      .withColumn("__bucket", bucketOf(cfg.pkCols))
    val tmpDir = new Path(path,
      s"_tmp/slice-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      merged0.write.partitionBy("__bucket").parquet(tmpDir.toString)
      if (IncrementalScdTable.testCrashAfterSliceWrite)
        throw new IncrementalScdTable.SimulatedCrash(tmpDir.toString)
      val merged = spark.read.option("basePath", tmpDir.toString)
        .parquet(tmpDir.toString)
        // partition col reads back last, and its TYPE follows partition
        // inference (a conf: disabled ⇒ string) — the explicit cast
        // keeps every downstream consumer (bucket-keyed allocation, the
        // partitioned staging) inference-agnostic
        .withColumn("__bucket", col("__bucket").cast("int"))
        .select(merged0.columns.map(col): _*)
      applyScdCommit(merged, cfg, idCfg, watermark, snap, snapPrefixes,
        touched, baseV)
    } finally {
      // the slice's bytes are in the staged data files once committed
      // (or abandoned on failure) — either way the scratch copy goes.
      // A JVM crash can orphan a `_tmp/slice-*` dir, like `_stage`'s
      // crash window; both are scratch-only, never referenced by a
      // manifest, and VACUUM reaps both roots past the staging
      // retention (the same mtime-window rule).
      if (!IncrementalScdTable.testCrashAfterSliceWrite)
        fs.delete(tmpDir, true)
    }
  }

  private def applyScdCommit(merged: DataFrame, cfg: ScdConfig,
      idCfg: Option[(String, Long, Long)], watermark: Long,
      snap: DataFrame, snapPrefixes: Set[String],
      touched: Seq[Int], baseV: Option[Long]): Long = {
    // `sliceMax` falls out of the allocation's own counts job — dense
    // per-bucket ranks make the max allocated id a closed form, so no
    // extra action ever re-executes the allocation window's exchange
    val (next, sliceMax) = idCfg match {
      case Some((idCol, _, step)) if merged.columns.contains(idCol) =>
        val (allocated, mx) =
          allocateIdentityByBucket(merged, idCol, watermark, step, cfg.pkCols)
        (allocated, Some(mx))
      case _ => (merged, None)
    }
    // one partitioned write stages every touched bucket's next state —
    // the ONLY execution of the allocation plan
    val added = table.stagePartitioned(next, "__bucket")
    val removed = baseV.map(table.files(_)
      .filter(f => snapPrefixes.exists(f.startsWith)).toSet).getOrElse(Set.empty)
    val op = s"scd_apply[${touched.size} buckets]"
    val dataSchema = Some(next.drop("__bucket").schema)
    // CDC sidecar (Delta's enableChangeDataFeed for MERGE): the batch's
    // row-level changes, derived by diffing the touched slice's before/
    // after states — O(touched buckets), never O(table). An SCD2 merge
    // replaces each changed key's active row with a closed copy and
    // adds a fresh active row, so: disappeared rows = update_preimage,
    // appeared rows with a pre-existing key = update_postimage,
    // appeared rows with a new key = insert. Staged BEFORE the commit;
    // the manifest's cdc pointer flips atomically with the file list,
    // which is what lets changes() traverse rewriting SCD versions.
    val cdcMeta: Map[String, String] =
      if (!emitChangeData) Map.empty
      else {
        // `after` reads the STAGED files rather than re-evaluating
        // `next` — the diffs run except() twice, and each re-evaluation
        // of the plan would re-execute the allocation window's exchange
        // (separate actions never share exchanges). The staged bytes
        // ARE `next` materialized; reading explicit file paths skips
        // partition-dir inference, which is fine — the diff projects
        // the data columns only. Align column order: except() resolves
        // positionally.
        val after = spark.read
          .parquet(added.map(f => table.dataPath(f).toString): _*)
          .select(snap.columns.map(col): _*)
        val appeared = after.except(snap)
        val disappeared = snap.except(after)
        val oldKeys = snap.select(cfg.pkCols.map(col): _*).distinct()
        val cdc = appeared.join(oldKeys, cfg.pkCols, "left_anti")
          .withColumn("_change_type", lit("insert"))
          .unionByName(appeared.join(oldKeys, cfg.pkCols, "left_semi")
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(disappeared
            .withColumn("_change_type", lit("update_preimage")))
        Map("cdc" -> table.stageChangeData(cdc))
      }
    sliceMax match {
      case None =>
        table.commitFiles(added, removed, op, meta = cdcMeta,
          schema = dataSchema, readVersion = baseV)
      case Some(mx) =>
        // This batch's ids were derived from `watermark`, read BEFORE
        // the merge. Rebasing blindly after a lost manifest race would
        // publish a watermark computed from that stale base: if a
        // concurrent identity batch committed meanwhile, both batches
        // assigned from the same counter (overlapping ids) and the
        // rebase could even publish a LOWER watermark, regressing the
        // counter. So the retry loop re-reads the newest watermark each
        // attempt — advanced past our base means real id conflict →
        // throw (Delta serializes identity metadata the same way); not
        // advanced (the racer carried no counter) means the rebase is
        // safe, publishing max(newest, sliceMax) so the counter never
        // moves backwards.
        var attempt = 0
        var result = -1L
        var committed = false
        while (!committed) {
          // the check and the commit must see the SAME version: a racer
          // landing between them would otherwise be rebased over with
          // ids allocated from the counter it already advanced
          val checked = table.latestVersion
          val newest = identityWatermark
          if (newest > watermark)
            throw new CommitConflictException(
              s"identity watermark of $path advanced ($watermark -> $newest) " +
                "under this batch; assigned surrogate keys may collide — " +
                "re-run the batch on fresh state")
          try {
            result = table.commitFiles(added, removed, op, maxRetries = 0,
              meta = cdcMeta + ("id_watermark" -> math.max(newest, mx).toString),
              schema = dataSchema, readVersion = baseV,
              requireBase = Some(checked.getOrElse(-1L)))
            committed = true
          } catch {
            // a DV moved under the merge: NOT retryable with this
            // staged slice — rethrow immediately, the caller re-runs
            case e: StaleRewriteException => throw e
            case e: CommitConflictException =>
              if (attempt >= 20) throw e
              attempt += 1
          }
        }
        result
    }
  }

  /** Bucket-local compaction: every SCD batch adds one file per
    * touched bucket, so hot buckets accumulate small files. Rewrite
    * ONLY buckets holding more than `maxFilesPerBucket` files — read
    * their rows (bucket id recovered from the partition directory),
    * restage coalesced, commit swapping just those buckets' references.
    * Untouched buckets carry forward; cost is O(fat buckets), never
    * O(table). Returns the committed version, or None if nothing
    * needed compacting.
    */
  def compactBuckets(maxFilesPerBucket: Int = 4): Option[Long] = {
    val latest = table.latestVersion.getOrElse(return None)
    val byBucket = table.files(latest).groupBy(_.split('/').head)
    val fat = byBucket.filter { case (d, fls) =>
      d.startsWith("__bucket=") && fls.size > maxFilesPerBucket
    }
    if (fat.isEmpty) return None
    val removed = fat.values.flatten.toSet
    val hasDv = table.metaAt(latest).contains("dv")
    if (!hasDv) {
      // common case: ONE partitioned write stages every fat bucket's
      // next state (basePath keeps __bucket as a partition column, so
      // rows land back in their buckets without recomputing hashes)
      val dataDir = new Path(path, "data")
      val slice = spark.read
        .option("basePath", dataDir.toString)
        .parquet(removed.toSeq.map(f => new Path(dataDir, f).toString): _*)
        .repartition(fat.size, col("__bucket"))
      val added = table.stagePartitioned(slice, "__bucket")
      Some(table.commitFiles(added, removed,
        s"compact_buckets[${fat.size} buckets]",
        schema = Some(slice.drop("__bucket").schema), readVersion = Some(latest)))
    } else {
      // deletion vectors present: restage per-bucket DV-APPLIED slices
      // (snapshotOfFiles subtracts the vectors — the raw basePath read
      // above would resurrect DV-deleted rows when their file is
      // rewritten); one job per fat bucket, acceptable because DVs on
      // fat buckets are the rare interleaving
      var sliceSchema: StructType = null
      val added = fat.toSeq.sortBy(_._1).flatMap { case (dir, members) =>
        val names = members.toSet
        val slice = table.snapshotOfFiles(latest, names).get
        sliceSchema = slice.schema
        table.stage(slice.coalesce(1), dir)
      }
      Some(table.commitFiles(added, removed,
        s"compact_buckets[${fat.size} buckets]",
        schema = Some(sliceSchema), readVersion = Some(latest)))
    }
  }

  /** Dense watermark-based allocation keyed by BUCKET VALUE, not by
    * `spark_partition_id` — [[IncrementalTable.allocateIdentity]]'s
    * pid-keyed offsets are only sound over a PINNED partitioning (the
    * plain table checkpoints first); here the slice comes from a file
    * readback, and if split planning shifted between the offsets job
    * and the staging write (a concurrent conf change on the shared
    * session), pid-keyed offsets would silently misallocate — NULL or
    * duplicate surrogate keys. Bucket values ride the rows, so the
    * offset lookup can never disagree with the data: per-bucket
    * (rows, non-null-ids) counts collect once (touched buckets —
    * model-sized), each NULL-id row ranks by primary key inside its
    * bucket window (the batch contract — single row per key — makes
    * the rank unique and deterministic in DATA alone), and
    * `id = watermark + (bucketBase + rank − nonNull) · step`. The
    * window's exchange also re-coalesces every bucket into ONE task,
    * so staging keeps one file per touched bucket even when the
    * readback split an oversized bucket file across partitions.
    *
    * Returns `(allocated frame, slice max id)`. The max falls out of
    * the SAME counts collect in closed form — dense ranks make the
    * largest allocated id `watermark + totalNulls·step`, maxed with
    * the largest pre-existing id — so callers never run a separate
    * `max()` action that would re-execute the window's exchange
    * (actions don't share exchanges; the old probe re-ran the whole
    * allocation plan once per batch, and CDC diffs twice more).
    */
  private def allocateIdentityByBucket(df: DataFrame, idCol: String,
      watermark: Long, step: Long, pkCols: Seq[String]): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("n"), count(col(idCol)).as("nn"),
        max(col(idCol)).as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue
        else r.getAs[Number](3).longValue()))
      .sortBy(_._1)
    if (counts.isEmpty) return (df, watermark)
    var acc = 0L
    val base: Map[Int, Long] = counts.map { case (b, n, nn, _) =>
      val o = b -> acc; acc += n - nn; o
    }.toMap
    val nonNull: Map[Int, Long] = counts.map(c => c._1 -> c._3).toMap
    val existingMax = counts.map(_._4).max
    val sliceMax = math.max(
      if (acc > 0) watermark + acc * step else watermark,
      if (existingMax == Long.MinValue) watermark else existingMax)
    val w = Window.partitionBy(col("__bucket")).orderBy(
      (col(idCol).isNull.asc +: pkCols.map(c => col(c).asc)): _*)
    val allocated = df.withColumn(idCol, coalesce(col(idCol),
      (lit(watermark) + (element_at(typedLit(base), col("__bucket")) +
        row_number().over(w).cast("long") -
        element_at(typedLit(nonNull), col("__bucket"))) * lit(step))
        .cast(df.schema(idCol).dataType)))
    (allocated, sliceMax)
  }

  /** Current identity high watermark. Newest→oldest manifest walk,
    * stopping at the first commit that carries the counter (commits
    * that bypass applyScd — compact, vacuum survivors — don't), so the
    * usual cost is ONE small manifest read, O(1) in table size.
    */
  def identityWatermark: Long = {
    val (start, step) = identityConfig
      .map(c => (c._2, c._3)).getOrElse((identityStart, identityStep))
    table.latestVersion.flatMap { latest =>
      (latest to 0L by -1).iterator
        .takeWhile(table.versionExists)
        .flatMap(v => table.metaAt(v).get("id_watermark"))
        .nextOption()
    }.map(_.toLong).getOrElse(start - step) // first allocated id = START
  }
}

object IncrementalScdTable {

  /** TEST SEAM — emulates a JVM kill in the window between the scratch
    * slice write and the commit: [[IncrementalScdTable.applyScd]]
    * throws after materializing the slice AND leaves the `_tmp` dir
    * behind, the exact state a real crash leaves (a thrown exception
    * alone cannot produce it: the cleanup `finally` would run). Only
    * the crash-recovery spec sets this; production code never reads it
    * outside the two guarded lines in `applyScd`.
    */
  @volatile private[lake] var testCrashAfterSliceWrite: Boolean = false

  private[lake] final class SimulatedCrash(tmpDir: String)
    extends RuntimeException(
      s"simulated crash after slice write, orphaning $tmpDir")
}
