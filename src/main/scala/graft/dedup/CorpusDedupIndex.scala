package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.lake.IncrementalTable

/** Persistent MinHash-LSH corpus index for INCREMENTAL near-duplicate
  * detection — the daily-ingest path at 100 TB, where re-running
  * [[MinHashLSH.nearDuplicates]] over corpus ∪ batch would re-shingle
  * and re-shuffle the whole corpus for every arriving slice.
  *
  * Three manifest-committed [[IncrementalTable]]s hold the corpus side
  * once, appended as batches are admitted:
  *
  *  - `bands`    (band_no, bucket, id) — write-ordered by
  *               (band_no, bucket), so files are born clustered on the
  *               join key and a small batch's bucket set stats-prunes
  *               the scan to the files it can possibly collide with;
  *  - `sizes`    (id, sz) — shingle-set cardinality for the Jaccard
  *               denominator;
  *  - `shingles` (id, h) — distinct shingle hashes, write-ordered by
  *               id, so the exact-intersection verify reads only the
  *               files holding candidate ids.
  *
  * [[dedupBatch]] touches O(batch) + the PRUNED index slices: the new
  * batch is shingled/signed once (it is small), candidate generation
  * broadcasts the batch's band rows against the bands table (the big
  * side streams, never shuffles), and verification reads only the
  * shingle/size files whose stats admit a candidate id. Nothing ever
  * re-scans corpus TEXT — the index is sufficient. Decisions:
  *
  *  - `dup_corpus`: a verified pair (Jaccard ≥ num/den on exact
  *    shingle intersection) links the doc to an indexed doc;
  *  - `dup_batch`: among the remaining docs, verified intra-batch
  *    pairs (both endpoints non-dup_corpus) form connected components
  *    and every member but the minimum id is dropped;
  *  - `kept`: everything else — admitted to the index by [[admit]],
  *    so the NEXT batch deduplicates against corpus ∪ kept.
  *
  * Every step is deterministic integer/string arithmetic on the shared
  * [[Shingles]] hash family, so a plain-SQL oracle replays the whole
  * multi-batch arc bit-for-bit (the `dedup_incremental` gate).
  */
class CorpusDedupIndex(
    spark: SparkSession, val base: String, idCol: String, textCol: String,
    n: Int, k: Int, bands: Int, num: Int, den: Int,
    maxBucketSize: Int = 1000) {

  val bandsTable = new IncrementalTable(spark, s"$base/bands")
  val sizesTable = new IncrementalTable(spark, s"$base/sizes")
  val shinglesTable = new IncrementalTable(spark, s"$base/shingles")

  /** Bootstrapped means the bands table has a DATA-BEARING commit:
    * bands commit LAST in [[bootstrap]], so this is the whole-index
    * durability marker — and requiring a version past the write-order
    * config (version 0) closes the crash window between the config
    * commit and the data landing, which would otherwise leave a
    * permanently "bootstrapped" index with an empty candidate side
    * (zero corpus recall, silently).
    */
  def exists: Boolean =
    bandsTable.exists && bandsTable.latestVersion.exists(_ >= 1)

  /** Index rows of a document frame: (bands, sizes, shingles). The
    * shingle frame is persisted by the caller when it feeds several
    * paths.
    */
  private def indexRows(sh: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val sig = MinHashLSH.signatures(sh, idCol, k)
    (MinHashLSH.bandRows(sig, idCol, k, bands),
      sig.select(col(idCol), col("sz")),
      sh)
  }

  /** Build the index from the initial corpus. One pass over the corpus
    * text; each table's append rides its declared write order (one
    * shuffle of the INDEX ROWS, tight file bounds from birth).
    */
  def bootstrap(corpus: DataFrame): Unit = {
    require(!exists, s"corpus index at $base is already bootstrapped")
    val sh = Shingles.shingleHashes(corpus, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (b, s, shr) = indexRows(sh)
      // bands LAST (see [[admitIdempotent]]): candidates come only
      // from the bands table, so docs become visible only once their
      // verify-side rows (shingles, sizes) are durable. Snapshot
      // writes (not appends) + conditional config commits make a
      // re-run after ANY mid-bootstrap crash converge instead of
      // duplicating the half-written tables' rows.
      if (!shinglesTable.exists) shinglesTable.setWriteOrder(idCol)
      shinglesTable.writeSnapshot(shr)
      if (!sizesTable.exists) sizesTable.setWriteOrder(idCol)
      sizesTable.writeSnapshot(s)
      if (!bandsTable.exists) bandsTable.setWriteOrder("band_no", "bucket")
      bandsTable.writeSnapshot(b)
    } finally sh.unpersist()
  }

  /** Stats-prune + scan an index table by a small value set (the
    * [[graft.lake.IncrementalView]] ≤256-key rule); a large set falls
    * back to the full (narrow) scan — slower, never wrong.
    */
  private def prunedScan(t: IncrementalTable, c: String,
      values: Seq[Any]): DataFrame =
    if (values.nonEmpty && values.size <= CorpusDedupIndex.MaxKeysInPredicate)
      t.scan(col(c).isInCollection(values))
    else t.snapshot()

  /** Near-dup decisions for `batch` against the index ∪ the batch
    * itself: one row per batch doc,
    * `(idCol, status ∈ kept|dup_corpus|dup_batch, kept 0|1)`.
    * Call [[admit]] with the SAME batch and the returned decisions to
    * make the kept docs visible to the next batch.
    */
  def dedupBatch(batch: DataFrame): DataFrame = {
    require(exists, s"corpus index at $base is not bootstrapped")
    val sh = Shingles.shingleHashes(batch, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sig = MinHashLSH.signatures(sh, idCol, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newBands = MinHashLSH.bandRows(sig, idCol, k, bands)

    // ---- cross candidates: batch bands vs the INDEX bands table.
    // The batch side is small by assumption — broadcast it; the index
    // side streams through the join (no shuffle of corpus rows), and
    // when the batch's bucket set is small the scan itself prunes to
    // the files whose (band_no, bucket) ranges overlap it.
    val buckets = newBands.select("bucket").distinct()
      .limit(CorpusDedupIndex.MaxKeysInPredicate + 1)
      .collect().map(_.getString(0)).toSeq
    val idxBands = prunedScan(bandsTable, "bucket", buckets)
      .withColumnRenamed(idCol, "corpus_id")
    // corpus_id =!= new_id: ids are globally unique in steady state,
    // but a REPLAYED streaming batch whose admit completed before the
    // crash sees ITSELF in the index — without the guard every doc
    // would match itself and come back dup_corpus
    val crossCand = idxBands
      .join(broadcast(newBands.withColumnRenamed(idCol, "new_id")),
        Seq("band_no", "bucket"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select(col("new_id"), col("corpus_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- verify cross candidates: exact shingle intersection against
    // the shingles table. File-level pruning when the candidate id set
    // is small; EITHER way the batch side broadcasts, so the index
    // tables stream through hash joins and the only shuffle is the
    // pair-sized count aggregation — measured: batch shuffle stays
    // edge-sized while the corpus grows 10× (SCALE.md, inc_dedup)
    val candIds = crossCand.select("corpus_id").distinct()
      .limit(CorpusDedupIndex.MaxKeysInPredicate + 1)
      .collect().map(_.get(0)).toSeq
    val idxSh = prunedScan(shinglesTable, idCol, candIds)
      .withColumnRenamed(idCol, "corpus_id")
    val idxSz = prunedScan(sizesTable, idCol, candIds)
      .withColumnRenamed(idCol, "corpus_id")
      .withColumnRenamed("sz", "corpus_sz")
    val newShCand = sh.withColumnRenamed(idCol, "new_id")
      .join(crossCand, "new_id")
    val crossInter = idxSh.join(broadcast(newShCand), Seq("corpus_id", "h"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("inter_size"))
    val newSizes = sig.select(col(idCol).as("new_id"), col("sz").as("new_sz"))
    val crossDup = idxSz
      .join(broadcast(crossInter.join(newSizes, "new_id")), "corpus_id")
      .filter(lit(den.toLong) * col("inter_size") >=
        lit(num.toLong) * (col("new_sz") + col("corpus_sz") - col("inter_size")))
      .select(col("new_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- intra-batch: verified pairs where BOTH endpoints survived
    // the corpus check (a corpus-dup must not bridge two components),
    // then min-label connected components.
    val intraCand = MinHashLSH.candidates(sig, idCol, k, bands, maxBucketSize)
    val intraVerified = sh.withColumnRenamed(idCol, "a")
      .join(broadcast(intraCand), "a")
      .join(sh.withColumnRenamed(idCol, "b"), Seq("b", "h"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter_size"))
      .join(broadcast(newSizes.withColumnRenamed("new_id", "a")
        .withColumnRenamed("new_sz", "a_sz")), "a")
      .join(broadcast(newSizes.withColumnRenamed("new_id", "b")
        .withColumnRenamed("new_sz", "b_sz")), "b")
      .filter(lit(den.toLong) * col("inter_size") >=
        lit(num.toLong) * (col("a_sz") + col("b_sz") - col("inter_size")))
      .join(crossDup.withColumnRenamed("new_id", "a"), Seq("a"), "left_anti")
      .join(crossDup.withColumnRenamed("new_id", "b"), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
    val comps = Clusters.connectedComponents(intraVerified)

    // ---- one row per batch doc (docs with < n tokens have no
    // shingles and no candidates: kept by construction on both engines)
    val decisions = batch.select(col(idCol))
      .join(crossDup.withColumnRenamed("new_id", idCol)
        .withColumn("__dc", lit(1)), Seq(idCol), "left")
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__dc") === 1, lit("dup_corpus"))
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col(idCol),
            lit("dup_batch"))
          .otherwise(lit("kept")).as("status"))
      .withColumn("kept", (col("status") === "kept").cast("long"))
      // materialize BEFORE releasing the intermediates: a daily-ingest
      // daemon calls dedupBatch per batch, and four leaked persists per
      // call would accrete until the executor cache thrashes
      .localCheckpoint()
    Seq(sh, sig, crossCand, crossDup).foreach(_.unpersist(blocking = false))
    decisions
  }

  /** Append the KEPT docs' index rows, so the next [[dedupBatch]] sees
    * corpus ∪ kept. `decisions` is [[dedupBatch]]'s output for this
    * same batch; the three appends are each one manifest commit, with
    * the bands table LAST — candidates come only from bands, so a doc
    * is never visible to matching before its verify-side rows
    * (shingles, sizes) are durable.
    */
  def admit(batch: DataFrame, decisions: DataFrame): Unit =
    admitImpl(batch, decisions, None)

  /** [[admit]] guarded by a per-table micro-batch watermark (the
    * [[graft.streaming.Streams.incrementalAppendSink]] idea): each
    * index table commits with operation `dedup_admit[batch=N]` and a
    * replayed batch skips every table whose newest admit watermark
    * already covers N. Combined with the bands-last commit order and
    * [[dedupBatch]]'s self-match guard, a crash at ANY point of the
    * admit sequence replays to exactly-once index contents.
    */
  def admitIdempotent(batch: DataFrame, decisions: DataFrame,
      batchId: Long): Unit =
    admitImpl(batch, decisions, Some(batchId))

  private def admitImpl(batch: DataFrame, decisions: DataFrame,
      batchId: Option[Long]): Unit = {
    val keptIds = decisions.filter(col("kept") === 1L).select(idCol)
    val keptDocs = batch.join(broadcast(keptIds), Seq(idCol), "left_semi")
    val sh = Shingles.shingleHashes(keptDocs, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (b, s, shr) = indexRows(sh)
      def commit(t: IncrementalTable, rows: DataFrame): Unit = batchId match {
        case None => t.append(rows)
        case Some(id) =>
          if (!CorpusDedupIndex.admitWatermark(t).exists(id <= _))
            t.commitFiles(t.stage(t.orderForWrite(rows)), Set.empty,
              s"dedup_admit[batch=$id]", schema = Some(rows.schema))
      }
      commit(shinglesTable, shr)
      commit(sizesTable, s)
      commit(bandsTable, b)
    } finally sh.unpersist()
  }

  /** TAKEDOWN: retract documents from the index (right-to-be-forgotten
    * / license removal — at 100 TB the corpus is mutable by law even
    * when it is append-only by design). Without retraction a removed
    * document is a GHOST ANCHOR: future near-duplicates of it would be
    * rejected as `dup_corpus` against text that no longer exists.
    *
    * Each table uses the DML path its layout makes cheap: `shingles`
    * and `sizes` are write-ordered by id, so a bounded id set
    * stats-prunes `deleteWhere` to the touched files (copy-on-write,
    * O(touched)); `bands` is clustered by (band_no, bucket) — a doc's
    * rows are SPREAD across every band, so a rewrite would be
    * O(table); it takes a DELETION VECTOR instead (merge-on-read, no
    * file rewritten; [[dedupBatch]] reads through `scan`/`snapshot`,
    * which apply vectors). Order mirrors [[admit]] inverted: bands
    * FIRST, so a crash mid-removal leaves the doc invisible to
    * candidate generation, never a ghost anchor whose verify rows are
    * gone; re-running the same removal is idempotent (empty deletes
    * no-op).
    */
  def remove(ids: Seq[Any]): Unit = {
    require(exists, s"corpus index at $base is not bootstrapped")
    require(ids.nonEmpty, "remove: empty id set")
    val pred = col(idCol).isInCollection(ids)
    bandsTable.deleteVector(pred)
    shinglesTable.deleteWhere(pred)
    sizesTable.deleteWhere(pred)
  }
}

object CorpusDedupIndex {
  /** The [[graft.lake.IncrementalView]] driver-predicate rule: a value
    * set at most this large becomes an `isin` the file stats can
    * prune files with; anything larger falls back to a full scan of
    * the (narrow) index table.
    */
  val MaxKeysInPredicate = 256

  private val AdmitOp = """dedup_admit\[batch=(\d+)\]""".r

  /** Newest `dedup_admit` micro-batch id committed to `t` (the shared
    * [[IncrementalTable.latestOpId]] high-watermark walk). */
  private[graft] def admitWatermark(t: IncrementalTable): Option[Long] =
    t.latestOpId(AdmitOp)
}
