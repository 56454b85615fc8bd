package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.lake.IncrementalTable
import graft.multimodal.ImageDedup

/** The streaming sink's (and any daily-ingest driver's) view of a
  * persistent fingerprint index — implemented by BOTH hash widths
  * ([[FingerprintDedupIndex]] for 64-bit halves,
  * [[FingerprintDedupIndex256]] for limb arrays), so one
  * decisions-first exactly-once protocol
  * ([[graft.streaming.Streams.mediaDedupSink]]) serves either.
  */
trait FingerprintIndexLike {
  def fpTable: graft.lake.IncrementalTable
  def exists: Boolean
  def bootstrap(hashes: DataFrame): Unit
  def dedupBatch(hashes: DataFrame): DataFrame
  def admit(hashes: DataFrame, decisions: DataFrame): Unit
  def admitIdempotent(hashes: DataFrame, decisions: DataFrame,
      batchId: Long): Unit

  /** Name of the id column decision rows carry. */
  def decisionIdCol: String

  /** True when [[dedupBatch]] decides per CLIP from multiple unit
    * rows (the [[SignatureDedupIndex]] shape) — such an index requires
    * every clip's unit rows to arrive inside one batch, and the
    * streaming sink ENFORCES that (a straddled clip would be judged
    * fragment by fragment, each fragment falling under `minMatched`
    * and accreting conflicting decision rows). Per-ROW indexes carry
    * no such requirement.
    */
  def decidesPerClip: Boolean = false
}

/** Persistent Hamming-fingerprint index for INCREMENTAL media
  * near-duplicate detection — [[CorpusDedupIndex]]'s daily-ingest
  * shape for 64-bit perceptual fingerprints (image dHash, audio
  * energy hash, video frame hashes): re-running the banded self-join
  * over corpus ∪ batch would re-explode and re-shuffle the whole
  * corpus for every arriving slice; the index holds the corpus side
  * once.
  *
  * ONE manifest-committed [[IncrementalTable]] suffices (the text
  * index needs three): a band row `(band, bv, id, h_hi, h_lo)` carries
  * the FULL fingerprint, so candidate verification is an inline XOR
  * popcount on the joined row — no separate verify-side table, and
  * therefore no multi-table commit-ordering protocol. Rows are
  * write-ordered by (band, bv), and a small batch's scan filters on its
  * band-value set; each file spans whole bands, so every file's `bv`
  * range covers the 16-bit domain and that filter keeps every file in
  * practice (pruning on the (band, bv) pair is open work).
  *
  * [[dedupBatch]] touches O(batch) + the index scan: the batch's band
  * rows broadcast against the scan (the big side streams, never
  * shuffles), exact Hamming re-check inline, decisions:
  *
  *  - `dup_corpus`: within `maxHamming` of an indexed fingerprint;
  *  - `dup_batch`: among the rest, intra-batch near-dup pairs close
  *    into connected components and every member but the min id drops;
  *  - `kept`: everything else — [[admit]] appends its band rows, so
  *    the NEXT batch deduplicates against corpus ∪ kept.
  *
  * A batch within `graft.cc.localEdgeThreshold` ([[Clusters]]) is
  * decided on the driver around that one scan; a larger one, or one
  * whose id type has no driver ordering, takes the distributed plan.
  * Both give the same decisions.
  *
  * Deterministic integer arithmetic end to end, so a plain-SQL oracle
  * replays the whole multi-batch arc bit-for-bit (the
  * `media_dedup_incremental` gate).
  */
class FingerprintDedupIndex(
    spark: SparkSession, val base: String, idCol: String,
    maxHamming: Int, bandBits: Int = 16,
    maxBucketSize: Int = Int.MaxValue) extends FingerprintIndexLike {

  def decisionIdCol: String = idCol

  ImageDedup.requireExactPigeonhole(maxHamming, bandBits)
  require(maxBucketSize >= 1, s"maxBucketSize=$maxBucketSize must be >= 1")

  val fpTable = new IncrementalTable(spark, s"$base/fps")

  /** Bootstrapped means a DATA-BEARING commit exists, not just the
    * write-order config (version 0): a crash between
    * [[bootstrap]]'s setWriteOrder and its append must not leave a
    * permanently "bootstrapped" EMPTY index that silently returns
    * zero corpus recall forever — re-running bootstrap completes it
    * instead.
    */
  def exists: Boolean = fpTable.exists && fpTable.latestVersion.exists(_ >= 1)

  private def bandRows(hashes: DataFrame): DataFrame =
    ImageDedup.bandExploded(
      hashes.select(col(idCol), col("h_hi"), col("h_lo")), bandBits)
      .select(col("band"), col("bv"), col(idCol), col("h_hi"), col("h_lo"))

  /** Build the index from the initial corpus' fingerprints
    * `(idCol, h_hi, h_lo)`. One append riding the declared write
    * order — one shuffle of the INDEX ROWS, tight file bounds from
    * birth.
    */
  def bootstrap(hashes: DataFrame): Unit = {
    require(!exists, s"fingerprint index at $base is already bootstrapped")
    // a half-bootstrapped table (config committed, crash before the
    // data landed) resumes here: the write order is already declared
    if (!fpTable.exists) fpTable.setWriteOrder("band", "bv")
    fpTable.append(bandRows(hashes))
  }

  /** Stats-prune + scan the index by the batch's band-value set (the
    * [[CorpusDedupIndex.MaxKeysInPredicate]] rule); a large set falls
    * back to the full (narrow) scan — slower, never wrong.
    */
  private def prunedScan(bvs: Seq[Any]): DataFrame =
    if (bvs.nonEmpty && bvs.size <= CorpusDedupIndex.MaxKeysInPredicate)
      fpTable.scan(col("bv").isInCollection(bvs))
    else fpTable.snapshot()

  /** The batch band rows `(band, bv, new_id, nhi, nlo)` within
    * `maxHamming` of an indexed fingerprint other than themselves, as
    * distinct `new_id`s. `corpus_id =!= new_id`: a REPLAYED streaming
    * batch whose admit completed before the crash sees ITSELF in the
    * index — without the guard every fingerprint would match itself as
    * dup_corpus.
    */
  private def corpusDups(bvs: Seq[Any], newBands: DataFrame): DataFrame =
    prunedScan(bvs)
      .select(col("band"), col("bv"), col(idCol).as("corpus_id"),
        col("h_hi").as("chi"), col("h_lo").as("clo"))
      .join(broadcast(newBands), Seq("band", "bv"))
      .filter(col("corpus_id") =!= col("new_id"))
      .filter((bit_count(col("chi").bitwiseXOR(col("nhi"))) +
        bit_count(col("clo").bitwiseXOR(col("nlo")))) <= maxHamming)
      .select("new_id").distinct()

  /** Near-dup decisions for a batch of fingerprints against the index
    * ∪ the batch itself: one row per batch row,
    * `(idCol, status ∈ kept|dup_corpus|dup_batch, kept 0|1)`; a NULL id
    * or a fingerprint with a NULL half matches nothing and is `kept`.
    * Call [[admit]] with the SAME hashes and the returned decisions to
    * make the kept fingerprints visible to the next batch.
    *
    * The returned frame is materialized either way. A batch whose band
    * rows and candidate pairs both fit `graft.cc.localEdgeThreshold`
    * (and whose id type [[graft.functions.ValueOrdering]] covers) is
    * collected once and decided on the driver: the index scan is its
    * only Spark action and the decisions come back as a LocalRelation,
    * so collecting them runs no job. Anything else takes the
    * distributed plan (banded self-join, [[Clusters.connectedComponents]],
    * `localCheckpoint`); `graft.cc.localEdgeThreshold=0` forces it.
    */
  def dedupBatch(hashes: DataFrame): DataFrame = {
    require(exists, s"fingerprint index at $base is not bootstrapped")
    val batch = hashes.select(col(idCol), col("h_hi"), col("h_lo"))
    localDecisions(batch).getOrElse(distributedDecisions(batch))
  }

  /** [[dedupBatch]] on the driver, or None when the batch is over the
    * budget or its id type has no driver ordering. Reproduces the
    * distributed plan step for step: the same band values, the same
    * hot-bucket cap, the same corpus join, and pairs verified by the
    * same popcount before [[Clusters.localComponents]] labels them.
    */
  private def localDecisions(batch: DataFrame): Option[DataFrame] = {
    val spark = batch.sparkSession
    val budget = Clusters.localEdgeThreshold(spark)
    val idField = batch.schema.head
    val nBands = 64 / bandBits
    val ordering = graft.functions.ValueOrdering.forType(idField.dataType)
    if (budget == 0 || ordering.isEmpty ||
        batch.schema.tail.exists(_.dataType != LongType)) return None
    val rows = batch.take(budget / nBands + 1)
    if (rows.length.toLong * nBands > budget) return None
    // band values as ImageDedup.bandExploded derives them (a NULL half
    // has none), bucketed by (band, bv) over row indices
    val perHalf = 32 / bandBits
    val mask = (1L << bandBits) - 1
    val buckets = mutable.LinkedHashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
    for (i <- rows.indices; k <- 0 until nBands) {
      val half = if (k < perHalf) 2 else 1
      if (!rows(i).isNullAt(half)) {
        val bv = (rows(i).getLong(half) >> (bandBits * (k % perHalf))) & mask
        buckets.getOrElseUpdate((k, bv), mutable.ArrayBuffer.empty[Int]) += i
      }
    }
    // the hot-bucket cap drops whole buckets (ImageDedup.capBuckets)
    val blocked = buckets.filter(_._2.size <= maxBucketSize)
    val pairs = blocked.valuesIterator.map(b => b.size.toLong * (b.size - 1) / 2).sum
    if (pairs > budget) return None
    // only rows with an id and both halves can match anything
    def live(i: Int): Boolean = !rows(i).anyNull
    val probeRows = for (((band, bv), members) <- blocked.toSeq;
        i <- members if live(i))
      yield Row(band, bv, rows(i).get(0), rows(i).getLong(1), rows(i).getLong(2))
    val dupCorpus: Set[Any] =
      if (probeRows.isEmpty) Set.empty
      else {
        val newBands = spark.createDataFrame(
          java.util.Arrays.asList(probeRows: _*), StructType(Seq(
            StructField("band", IntegerType, nullable = false),
            StructField("bv", LongType, nullable = false),
            idField.copy(name = "new_id"),
            StructField("nhi", LongType), StructField("nlo", LongType))))
        val bvs = probeRows.map(_.getLong(1)).distinct
          .take(CorpusDedupIndex.MaxKeysInPredicate + 1)
        corpusDups(bvs, newBands).collect().map(_.get(0)).toSet
      }
    // intra-batch pairs whose BOTH endpoints survived the corpus check
    // (a corpus-dup must not bridge two components), each verified by
    // the exact popcount; a pair of equal ids (which the distributed
    // self-join drops) only labels that id with itself
    def hamming(a: Row, b: Row): Int =
      java.lang.Long.bitCount(a.getLong(1) ^ b.getLong(1)) +
        java.lang.Long.bitCount(a.getLong(2) ^ b.getLong(2))
    val edges = blocked.valuesIterator.flatMap { members =>
      val ms = members.filter(live).map(rows(_))
        .filterNot(r => dupCorpus(r.get(0)))
      for (x <- ms.indices.iterator; y <- (x + 1 until ms.size).iterator
           if hamming(ms(x), ms(y)) <= maxHamming)
        yield (ms(x).get(0), ms(y).get(0))
    }
    val label = Clusters.localComponents(edges, ordering.get).toMap
    val decided = rows.toSeq.map { r =>
      val id = r.get(0)
      val status =
        if (dupCorpus(id)) "dup_corpus"
        else if (label.get(id).exists(_ != id)) "dup_batch"
        else "kept"
      Row(id, status, if (status == "kept") 1L else 0L)
    }
    Some(spark.createDataFrame(java.util.Arrays.asList(decided: _*),
      StructType(Seq(idField,
        StructField("status", StringType, nullable = false),
        StructField("kept", LongType, nullable = false)))))
  }

  /** [[dedupBatch]] as Spark jobs, for batches over the driver budget. */
  private def distributedDecisions(hashes: DataFrame): DataFrame = {
    val batch = hashes.persist(StorageLevel.MEMORY_AND_DISK)
    // the optional hot-bucket cap ([[ImageDedup.capBuckets]], off by
    // default) bounds the cross join too: a degenerate batch (all-black
    // frames) otherwise multiplies its hottest (band, bv) bucket
    // against the index's matching slice. Over-cap batch rows skip
    // blocking on that band — the documented recall trade; decisions
    // for them fall through to `kept`.
    val newBands = ImageDedup.capBuckets(bandRows(batch), maxBucketSize,
      "band", "bv")
    val bvs = newBands.select("bv").filter(col("bv").isNotNull).distinct()
      .limit(CorpusDedupIndex.MaxKeysInPredicate + 1)
      .collect().map(_.getLong(0)).toSeq
    val crossDup = corpusDups(bvs, newBands
        .select(col("band"), col("bv"), col(idCol).as("new_id"),
          col("h_hi").as("nhi"), col("h_lo").as("nlo")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // intra-batch: pairs whose BOTH endpoints survived the corpus
    // check (a corpus-dup must not bridge two components), then
    // min-label connected components
    val intraPairs = ImageDedup
      .nearDupPairs(batch, idCol, maxHamming, bandBits, maxBucketSize)
      .join(crossDup.withColumnRenamed("new_id", "id_a"), Seq("id_a"),
        "left_anti")
      .join(crossDup.withColumnRenamed("new_id", "id_b"), Seq("id_b"),
        "left_anti")
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val comps = Clusters.connectedComponents(intraPairs)
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
      // materialize BEFORE releasing the intermediates (the
      // CorpusDedupIndex leak rule: a daemon calls this per batch)
      .localCheckpoint()
    Seq(batch, crossDup).foreach(_.unpersist(blocking = false))
    decisions
  }

  /** Append the KEPT fingerprints' band rows — the next [[dedupBatch]]
    * sees corpus ∪ kept. One manifest commit; with `batchId`
    * ([[admitIdempotent]]) the commit carries an `fp_admit[batch=N]`
    * watermark and a replayed batch no-ops, so a crash anywhere in the
    * stream replays to exactly-once index contents (single table — no
    * commit-ordering protocol needed, unlike the three-table text
    * index).
    */
  def admit(hashes: DataFrame, decisions: DataFrame): Unit =
    admitImpl(hashes, decisions, None)

  def admitIdempotent(hashes: DataFrame, decisions: DataFrame,
      batchId: Long): Unit = admitImpl(hashes, decisions, Some(batchId))

  private def admitImpl(hashes: DataFrame, decisions: DataFrame,
      batchId: Option[Long]): Unit = {
    val keptIds = decisions.filter(col("kept") === 1L).select(idCol)
    val kept = hashes.join(broadcast(keptIds), Seq(idCol), "left_semi")
    val rows = bandRows(kept)
    batchId match {
      case None => fpTable.append(rows)
      case Some(id) =>
        if (!FingerprintDedupIndex.admitWatermark(fpTable).exists(id <= _))
          fpTable.commitFiles(fpTable.stage(fpTable.orderForWrite(rows)),
            Set.empty, s"fp_admit[batch=$id]", schema = Some(rows.schema))
    }
  }

  /** Radius-bounded k-NN retrieval AGAINST THE PERSISTED INDEX — the
    * retrieval half of the multi-index layout [[dedupBatch]] makes
    * dedup decisions with (the media analog of `ann_ivf_index_topk`):
    * [[graft.multimodal.HammingKnn]] re-band-explodes its corpus in
    * memory per run, but the index already stores exactly the
    * (band, bv)-ordered postings, so probes broadcast against the
    * stats-PRUNED scan (the big side streams through the join; a
    * small probe set's band values prune the scan to the files they
    * can collide with), the exact popcount re-checks inline, and the
    * shared bounded top-k finishes. Self-matches (a probe that is
    * itself indexed) are excluded, like the in-memory operator.
    * `radius < 64/bandBits` keeps the candidate union pigeonhole-exact,
    * so results equal a brute-force scan's.
    */
  def knnAgainstIndex(probes: DataFrame, k: Int, radius: Int): DataFrame = {
    require(exists, s"fingerprint index at $base is not bootstrapped")
    ImageDedup.requireExactPigeonhole(radius, bandBits)
    require(k >= 1, s"k=$k must be >= 1")
    val pBandsDf = bandRows(
      probes.select(col(idCol), col("h_hi"), col("h_lo")))
      .select(col("band"), col("bv"), col(idCol).as("probe_id"),
        col("h_hi").as("qhi"), col("h_lo").as("qlo"))
    // ONE action lands the probe band rows on the driver: the frame
    // was already broadcast-bound (the pruned-scan join broadcasts
    // it, which collects to the driver anyway), so this collect folds
    // the old distinct-bv collect job into the broadcast's own cost
    // and the rebuilt LocalRelation broadcasts without a job (the
    // IvfIndex.topK fusion).
    val pRows = pBandsDf.collect()
    val bvs = pRows.iterator.map(_.getLong(1)).toSet
      .take(CorpusDedupIndex.MaxKeysInPredicate + 1).toSeq
    val pBands = probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(pRows: _*), pBandsDf.schema)
    val scored = prunedScan(bvs)
      .join(broadcast(pBands), Seq("band", "bv"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("nn_id"),
        col("qhi"), col("qlo"), col("h_hi"), col("h_lo"))
      .distinct() // fingerprints sharing several bands are one candidate
      .withColumn("hamming",
        (bit_count(col("qhi").bitwiseXOR(col("h_hi"))) +
          bit_count(col("qlo").bitwiseXOR(col("h_lo")))).cast("long"))
      .filter(col("hamming") <= radius)
    graft.multimodal.HammingKnn.topKFinish(scored, k)
  }

  /** TAKEDOWN (the [[CorpusDedupIndex.remove]] contract): a removed
    * fingerprint must not stay a ghost anchor rejecting future
    * near-dups of media that no longer exists. A fingerprint's rows
    * are SPREAD across every band, so a copy-on-write rewrite would be
    * O(table) — a deletion vector masks them instead (merge-on-read;
    * [[dedupBatch]] reads through `scan`/`snapshot`, which apply
    * vectors). Idempotent: an empty delete no-ops.
    */
  def remove(ids: Seq[Any]): Unit = {
    require(exists, s"fingerprint index at $base is not bootstrapped")
    require(ids.nonEmpty, "remove: empty id set")
    fpTable.deleteVector(col(idCol).isInCollection(ids))
  }
}

object FingerprintDedupIndex {
  private val AdmitOp = """fp_admit\[batch=(\d+)\]""".r

  /** Newest `fp_admit` micro-batch id committed (the shared
    * [[IncrementalTable.latestOpId]] high-watermark walk). */
  private[graft] def admitWatermark(t: IncrementalTable): Option[Long] =
    t.latestOpId(AdmitOp)
}
