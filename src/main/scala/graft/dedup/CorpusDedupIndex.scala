package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupIndex.{prunedScan, sampleKeys}
import graft.lake.IncrementalTable

/** Persistent MinHash-LSH corpus index for INCREMENTAL near-duplicate
  * detection — the daily-ingest path at 100 TB, where re-running
  * [[MinHashLSH.nearDuplicates]] over corpus ∪ batch would re-shingle
  * and re-shuffle the whole corpus for every arriving slice.
  *
  * Three manifest-committed [[IncrementalTable]]s hold the corpus side
  * once, appended as batches are admitted (in this commit order):
  *
  *  - `shingles` (id, h) — distinct shingle hashes, write-ordered by
  *               id, so the exact-intersection verify reads only the
  *               files holding candidate ids;
  *  - `sizes`    (id, sz) — shingle-set cardinality for the Jaccard
  *               denominator, write-ordered by id;
  *  - `bands`    (band_no, bucket, id) — the candidate table,
  *               write-ordered by (band_no, bucket), so files are born
  *               clustered on the join key and a small batch's bucket
  *               set stats-prunes the scan to the files it can
  *               possibly collide with.
  *
  * [[dedupBatch]] touches O(batch) + the PRUNED index slices: the new
  * batch is shingled/signed once (it is small), candidate generation
  * broadcasts the batch's band rows against the bands table (the big
  * side streams, never shuffles), and verification reads only the
  * shingle/size files whose stats admit a candidate id. Nothing ever
  * re-scans corpus TEXT — the index is sufficient. A pair is a
  * duplicate when Jaccard ≥ num/den on the exact shingle
  * intersection; the decisions follow the [[DedupIndex]] protocol.
  *
  * Every step is deterministic integer/string arithmetic on the shared
  * [[Shingles]] hash family, so a plain-SQL oracle replays the whole
  * multi-batch arc bit-for-bit (the `dedup_incremental` gate).
  */
class CorpusDedupIndex(
    spark: SparkSession, val base: String, val idCol: String, textCol: String,
    n: Int, k: Int, bands: Int, num: Int, den: Int,
    maxBucketSize: Int = 1000) extends DedupIndex {

  val bandsTable = new IncrementalTable(spark, s"$base/bands")
  val sizesTable = new IncrementalTable(spark, s"$base/sizes")
  val shinglesTable = new IncrementalTable(spark, s"$base/shingles")

  val indexTables = Seq(shinglesTable -> Seq(idCol), sizesTable -> Seq(idCol),
    bandsTable -> Seq("band_no", "bucket"))
  protected def admitTag: String = "dedup_admit"
  def streamTag: String = "stream_dedup"

  /** Index rows of a document frame: (shingles, sizes, bands). */
  protected def indexRows(docs: DataFrame): Seq[DataFrame] = {
    val sh = Shingles.shingleHashes(docs, idCol, textCol, n)
      .localCheckpoint() // feeds all three tables
    val sig = MinHashLSH.signatures(sh, idCol, k)
    Seq(sh, sig.select(col(idCol), col("sz")),
      MinHashLSH.bandRows(sig, idCol, k, bands))
  }

  /** Decisions for a batch of `(idCol, textCol)` docs, one row per
    * doc (docs with < n tokens have no shingles and no candidates:
    * kept by construction on both engines).
    */
  def dedupBatch(batch: DataFrame): DataFrame = {
    requireBootstrapped()
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
    val idxBands = prunedScan(bandsTable, "bucket",
        sampleKeys(newBands.select("bucket")))
      .withColumnRenamed(idCol, "corpus_id")
    // corpus_id =!= new_id: the replayed-batch self-match guard
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
    val candIds = sampleKeys(crossCand.select("corpus_id"))
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

    // ---- intra-batch: verified pairs
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
      .select(col("a"), col("b"))
    decide(batch.select(col(idCol)), crossDup, intraVerified, sh, sig,
      crossCand)
  }
}
