package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.lake.{IncrementalTable, IncrementalView}

/** A persistent near-duplicate index for INCREMENTAL dedup: the corpus
  * side lives in manifest-committed [[IncrementalTable]]s, and each
  * arriving batch is decided against the index ∪ the batch itself in
  * O(batch) + pruned index slices, instead of re-running a one-shot
  * dedup over corpus ∪ batch. Every index shares one protocol, owned
  * here:
  *
  *  - TABLES ([[indexTables]]) are listed in COMMIT order with their
  *    write orders, the CANDIDATE table (the only one matching reads
  *    candidates from) last. A doc therefore becomes visible to
  *    matching only once its verify-side rows are durable.
  *  - [[exists]]: the candidate table has a DATA-BEARING commit, not
  *    just its write-order config (version 0). A crash between the two
  *    must not leave an index that reads as bootstrapped and returns
  *    zero corpus recall forever.
  *  - [[bootstrap]]: per table in commit order, declare the write order
  *    if the table is missing, then write a snapshot. Re-running after
  *    a crash at any point converges instead of duplicating rows.
  *  - [[dedupBatch]] returns one materialized row per batch unit,
  *    `(idCol, <decision columns>, status, kept)`: `dup_corpus` if it
  *    matches an indexed unit other than itself (the `corpus_id =!=
  *    new_id` guard: a REPLAYED batch whose admit already landed sees
  *    itself in the index); else `dup_batch` if a smaller id shares its
  *    intra-batch component, the pairs restricted to units that are
  *    not `dup_corpus` (a corpus dup must not bridge two components);
  *    else `kept`. [[decide]] assembles this from an index's cross
  *    matches and intra-batch pairs.
  *  - [[admit]] appends the KEPT units' index rows, one commit per
  *    table in commit order, so the next batch sees corpus ∪ kept.
  *    [[admitIdempotent]] tags each commit `<admitTag>[batch=N]` and
  *    skips every table whose watermark already covers N, so a crash
  *    anywhere in the admit replays to exactly-once contents.
  *  - [[remove]] (takedown): a removed unit must not stay a GHOST
  *    ANCHOR rejecting near-dups of content that no longer exists.
  *    Tables go in reverse commit order, candidate table first, so a
  *    crash mid-removal leaves the unit invisible to matching. An
  *    id-ordered table prunes a copy-on-write `deleteWhere` to the
  *    touched files; any other layout spreads a unit's rows over every
  *    file, so it takes a deletion vector (merge-on-read). Re-running
  *    a removal is a no-op.
  *  - Index scans by a key set go through [[DedupIndex.prunedScan]].
  *
  * [[graft.streaming.Streams.dedupSink]] is the one exactly-once
  * streaming sink over this protocol.
  */
trait DedupIndex {
  def base: String

  /** The id column every decision and index row carries. */
  def idCol: String

  /** Index tables with their write orders, in commit order, the
    * candidate table last.
    */
  def indexTables: Seq[(IncrementalTable, Seq[String])]

  /** Index rows of `batch`: one frame per table of [[indexTables]]. */
  protected def indexRows(batch: DataFrame): Seq[DataFrame]

  /** Operation tag of a watermarked admit commit. */
  protected def admitTag: String

  /** Operation tag of the streaming sink's decisions commits. */
  def streamTag: String

  /** True when [[dedupBatch]] decides per CLIP from several unit rows
    * (the [[SignatureDedupIndex]] shape): every clip's unit rows must
    * then arrive inside one batch, which the streaming sink enforces.
    */
  def decidesPerClip: Boolean = false

  /** Fit whatever model the index rows depend on, before the first
    * bootstrap write.
    */
  protected def train(corpus: DataFrame): Unit = ()

  def dedupBatch(batch: DataFrame): DataFrame

  private def candidateTable: IncrementalTable = indexTables.last._1

  def exists: Boolean =
    candidateTable.exists && candidateTable.latestVersion.exists(_ >= 1)

  protected def requireBootstrapped(): Unit =
    require(exists, s"${getClass.getSimpleName} at $base is not bootstrapped")

  /** Build the index from the initial corpus; each table's write rides
    * its declared write order (one shuffle of the index rows, tight
    * file bounds from birth).
    */
  def bootstrap(corpus: DataFrame): Unit = {
    require(!exists, s"${getClass.getSimpleName} at $base is already bootstrapped")
    train(corpus)
    indexTables.zip(indexRows(corpus)).foreach { case ((t, order), rows) =>
      if (!t.exists) t.setWriteOrder(order: _*)
      t.writeSnapshot(rows)
    }
  }

  /** Append the kept units of `batch`; `decisions` is [[dedupBatch]]'s
    * output for this same batch.
    */
  def admit(batch: DataFrame, decisions: DataFrame): Unit =
    admitImpl(batch, decisions, None)

  def admitIdempotent(batch: DataFrame, decisions: DataFrame,
      batchId: Long): Unit = admitImpl(batch, decisions, Some(batchId))

  private def admitImpl(batch: DataFrame, decisions: DataFrame,
      batchId: Option[Long]): Unit = {
    // a replayed batch skips every table whose watermark covers it, and
    // computes no index rows when all of them do
    val pending = indexTables.map { case (t, _) =>
      batchId.forall(id => !admitWatermark(t).exists(id <= _))
    }
    if (pending.contains(true)) {
      val keptIds = decisions.filter(col("kept") === 1L).select(idCol)
      val kept = batch.join(broadcast(keptIds), Seq(idCol), "left_semi")
      indexTables.zip(indexRows(kept)).zip(pending).foreach {
        case (((t, _), rows), true) => batchId match {
          case None => t.append(rows)
          case Some(id) =>
            t.commitFiles(t.stage(t.orderForWrite(rows)), Set.empty,
              s"$admitTag[batch=$id]", schema = Some(rows.schema))
        }
        case _ => ()
      }
    }
  }

  /** Newest admitted micro-batch id on `t` (the shared
    * [[IncrementalTable.latestOpId]] high-watermark walk).
    */
  private def admitWatermark(t: IncrementalTable): Option[Long] =
    t.latestOpId(s"""$admitTag\\[batch=(\\d+)\\]""".r)

  def remove(ids: Seq[Any]): Unit = {
    requireBootstrapped()
    require(ids.nonEmpty, "remove: empty id set")
    val pred = col(idCol).isInCollection(ids)
    indexTables.reverse.foreach { case (t, order) =>
      if (order == Seq(idCol)) t.deleteWhere(pred) else t.deleteVector(pred)
    }
  }

  /** The decisions frame from `keys` (one row per batch unit: `idCol`
    * plus the index's decision columns), `crossDup` (the `new_id`s
    * matching the index) and `intraPairs` (verified intra-batch pairs
    * `(a, b)`). Materialized before `release` and `crossDup` are
    * unpersisted: a daily-ingest daemon calls this per batch, and
    * leaked persists would accrete until the executor cache thrashes.
    */
  protected def decide(keys: DataFrame, crossDup: DataFrame,
      intraPairs: DataFrame, release: DataFrame*): DataFrame = {
    val dup = crossDup.persist(StorageLevel.MEMORY_AND_DISK)
    val comps = Clusters.connectedComponents(intraPairs
      .join(dup.withColumnRenamed("new_id", "a"), Seq("a"), "left_anti")
      .join(dup.withColumnRenamed("new_id", "b"), Seq("b"), "left_anti")
      .select(col("a"), col("b")))
    val decisions = keys
      .join(dup.withColumnRenamed("new_id", idCol)
        .withColumn("__dc", lit(1)), Seq(idCol), "left")
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(keys.columns.map(col).toSeq :+
        when(col("__dc") === 1, lit("dup_corpus"))
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col(idCol),
            lit("dup_batch"))
          .otherwise(lit("kept")).as("status"): _*)
      .withColumn("kept", (col("status") === "kept").cast("long"))
      .localCheckpoint()
    (release :+ dup).foreach(_.unpersist(blocking = false))
    decisions
  }
}

object DedupIndex {
  /** Scan `t` by a small key set: a set within the
    * [[IncrementalView.MaxKeysInPredicate]] rule becomes an `isin` the
    * file stats prune with; an empty or larger one (see [[sampleKeys]])
    * falls back to the full scan — slower, never wrong.
    */
  def prunedScan(t: IncrementalTable, column: String,
      values: Seq[Any]): DataFrame =
    if (values.nonEmpty && values.size <= IncrementalView.MaxKeysInPredicate)
      t.scan(col(column).isInCollection(values))
    else t.snapshot()

  /** The distinct values of `keys`' first column, collected up to one
    * past the [[prunedScan]] bound (enough to tell it is over).
    */
  def sampleKeys(keys: DataFrame): Seq[Any] =
    keys.distinct().limit(IncrementalView.MaxKeysInPredicate + 1)
      .collect().map(_.get(0)).toSeq
}

/** The single-table band layout three indexes share: one
  * manifest-committed table `fpTable` of band rows `(band, bv, id,
  * …)`, write-ordered by (band, bv), each row carrying its full
  * fingerprint so verification needs no second table. Implemented by
  * [[FingerprintDedupIndex]] (64-bit halves), [[FingerprintDedupIndex256]]
  * (limb arrays) and [[SignatureDedupIndex]] (unit signatures); their
  * streaming decisions commit as `stream_fp_dedup[batch=N]`.
  */
trait FingerprintIndexLike extends DedupIndex {
  def fpTable: IncrementalTable

  /** The band rows of a batch. */
  protected def bandRows(batch: DataFrame): DataFrame

  def indexTables: Seq[(IncrementalTable, Seq[String])] =
    Seq(fpTable -> Seq("band", "bv"))
  protected def indexRows(batch: DataFrame): Seq[DataFrame] =
    Seq(bandRows(batch))
  def streamTag: String = "stream_fp_dedup"
}
