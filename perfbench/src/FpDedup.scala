package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.dedup.{FingerprintDedupIndex, FingerprintIndexLike}

/** Brute-force reference for the 64-bit fingerprint index: the indexed
  * fingerprints (corpus plus every kept one) and exhaustive Hamming
  * scans over them.
  */
final class DedupModel(maxHamming: Int) {
  private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val fps = scala.collection.mutable.ArrayBuffer.empty[Long]

  def size: Int = ids.size
  def add(id: Long, fp: Long): Unit = { ids += id; fps += fp }
  def fp(i: Int): Long = fps(i)

  private def within(fp: Long, radius: Int, except: Long): Seq[(Long, Int)] =
    ids.indices.iterator.map(i => (ids(i), java.lang.Long.bitCount(fps(i) ^ fp)))
      .filter { case (id, d) => d <= radius && id != except }.toSeq

  /** Expected decision per batch id: `dup_corpus` within `maxHamming` of
    * an indexed fingerprint; else `dup_batch` if a near-duplicate
    * component of the remaining batch has a smaller id; else `kept`.
    */
  def decide(batch: Seq[(Long, Long)]): Map[Long, String] = {
    val corpusDup = batch.filter { case (id, fp) => within(fp, maxHamming, id).nonEmpty }
      .map(_._1).toSet
    val rest = batch.filterNot(b => corpusDup(b._1))
    val parent = scala.collection.mutable.Map(rest.map(b => b._1 -> b._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- rest; b <- rest if a._1 < b._1 &&
        java.lang.Long.bitCount(a._2 ^ b._2) <= maxHamming) {
      val (ra, rb) = (find(a._1), find(b._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    batch.map { case (id, _) =>
      id -> (if (corpusDup(id)) "dup_corpus" else if (find(id) != id) "dup_batch" else "kept")
    }.toMap
  }

  /** Distances of every indexed fingerprint within `radius` of `fp`,
    * nearest first, by id.
    */
  def neighbours(probeId: Long, fp: Long, radius: Int): Seq[(Long, Int)] =
    within(fp, radius, probeId).sortBy(_._2)
}

object DedupModel {
  /** Decisions of one batch, exactly. */
  def checkDecisions(got: Map[Long, String], want: Map[Long, String]): Unit =
    Check.that(got == want, {
      val diff = want.filter { case (k, v) => !got.get(k).contains(v) }.take(3)
      s"dedup decisions differ from the brute-force scan: expected $diff, " +
        s"got ${diff.keys.map(k => k -> got.get(k))}, ${got.size} decisions for ${want.size} ids"
    })

  /** k-NN rows of one probe (neighbour id, distance) against the model,
    * insensitive to the order among equal distances: the right count,
    * true distances, and the k smallest distances as a multiset.
    */
  def checkKnn(probe: Long, got: Seq[(Long, Int)], expected: Seq[(Long, Int)], k: Int): Unit = {
    val truth = expected.toMap
    Check.that(got.size == math.min(k, expected.size),
      s"probe $probe: ${got.size} neighbours, expected ${math.min(k, expected.size)}")
    Check.that(got.map(_._1).distinct.size == got.size, s"probe $probe: repeated neighbour")
    got.foreach { case (id, d) =>
      Check.that(truth.get(id).contains(d),
        s"probe $probe: neighbour $id at distance $d, true distance ${truth.get(id)}")
    }
    Check.that(got.map(_._2).sorted == expected.map(_._2).sorted.take(got.size),
      s"probe $probe: distances ${got.map(_._2).sorted} are not the ${got.size} smallest")
  }
}

/** `fp_dedup`: incremental near-duplicate ingest into the 64-bit
  * fingerprint index through its [[FingerprintIndexLike]] trait. Each
  * round is one ingest batch (`dedupBatch` + `admit`) with planted
  * near-duplicates of indexed fingerprints, intra-batch near-duplicate
  * groups and fresh fingerprints, then one `knnAgainstIndex` probe batch.
  */
final class FpDedup(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  import FpDedup._

  private val rnd = new Random(seed)
  private var index: FingerprintDedupIndex = _
  private var model: DedupModel = _
  private var nextId = 0L
  private var nextProbe = 0L

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("h_hi", LongType), StructField("h_lo", LongType)))

  private def frame(rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, fp) =>
      Row(id, fp >>> 32, fp & 0xffffffffL)
    }: _*), schema)

  /** `fp` with 1 to `maxBits` distinct bits flipped. */
  private def near(fp: Long, maxBits: Int): Long =
    rnd.shuffle((0 until 64).toList).take(1 + rnd.nextInt(maxBits))
      .foldLeft(fp)((f, b) => f ^ (1L << b))

  private def id(): Long = { val i = nextId; nextId += 1; i }

  def setup(dir: String): Unit = {
    rnd.setSeed(seed)
    nextId = 0
    model = new DedupModel(MaxHamming)
    val corpus = (0 until CorpusSize).foldLeft(Vector.empty[(Long, Long)]) { (acc, _) =>
      val fp = if (acc.nonEmpty && rnd.nextDouble() < CorpusNearShare)
        near(acc(rnd.nextInt(acc.size))._2, MaxHamming) else rnd.nextLong()
      acc :+ (id() -> fp)
    }
    corpus.foreach { case (i, fp) => model.add(i, fp) }
    index = new FingerprintDedupIndex(spark, s"$dir/fp", "id", MaxHamming)
    val like: FingerprintIndexLike = index
    like.bootstrap(frame(corpus))
  }

  private def ingestBatch(): Seq[(Long, Long)] = {
    val planted = Seq.fill(PlantedCorpus)(near(model.fp(rnd.nextInt(model.size)), MaxHamming))
    val groups = Seq.fill(Groups) {
      val base = rnd.nextLong()
      base +: Seq.fill(GroupSize - 1)(near(base, MaxHamming))
    }.flatten
    val fresh = Seq.fill(BatchRows - planted.size - groups.size)(rnd.nextLong())
    (planted ++ groups ++ fresh).map(fp => id() -> fp)
  }

  private def probeBatch(): Seq[(Long, Long)] = Seq.tabulate(ProbeRows) { i =>
    val fp = if (i % 2 == 0) near(model.fp(rnd.nextInt(model.size)), Radius) else rnd.nextLong()
    nextProbe += 1
    (ProbeIdBase + nextProbe) -> fp
  }

  /** Two rounds: the first runs cold (about twice the steady time), and
    * ingest times level off after it.
    */
  def warmup(): Iterator[Op] = Iterator.range(0, 2).flatMap(_ => round())

  def round(): Iterator[Op] = {
    val batch = ingestBatch()
    val batchDf = frame(batch)
    val like: FingerprintIndexLike = index
    val ops = Op(write = true, "ingest_batch", batch.size, () => {
      if (tracer.enabled) tracer.note("dedup.live_files", liveFiles())
      val decisions = tracer.span("dedup.decide") {
        val d = like.dedupBatch(batchDf)
        (d, d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
      }
      tracer.span("dedup.admit")(like.admit(batchDf, decisions._1))
      () => {
        val want = model.decide(batch)
        DedupModel.checkDecisions(decisions._2, want)
        batch.foreach { case (i, fp) => if (want(i) == "kept") model.add(i, fp) }
      }
    }) +: Seq.fill(ProbesPerRound)(probeBatch()).map { probes =>
      val probeDf = frame(probes)
      Op(write = false, "knn_probe", 0, () => {
        val rows = tracer.span("dedup.knn")(
          index.knnAgainstIndex(probeDf, K, Radius).collect().toSeq)
        if (tracer.enabled) liveFiles()
        () => {
          val got = rows.groupBy(_.getLong(0)).map { case (p, rs) =>
            p -> rs.map(r => r.getLong(1) -> r.get(2).asInstanceOf[Number].intValue())
          }
          probes.foreach { case (p, fp) =>
            DedupModel.checkKnn(p, got.getOrElse(p, Seq.empty), model.neighbours(p, fp, Radius), K)
          }
          Check.that(got.keySet.subsetOf(probes.map(_._1).toSet), "k-NN rows for an unknown probe")
        }
      })
    }
    ops.iterator
  }

  /** Traced runs: the manifest reads a reader pays, timed. */
  private def liveFiles(): Int = tracer.span("lake.manifest") {
    val t = index.fpTable
    t.files(t.latestVersion.get).size
  }

  def finish(): Unit = {
    val got = index.fpTable.snapshot().select("id").distinct().count()
    Check.that(got == model.size, s"index holds $got fingerprints, expected ${model.size}")
  }

  def tableRoots: Seq[String] = Seq(index.base)
  /** Index rows: one per fingerprint and band. */
  def latestRows(): Long = model.size.toLong * Bands

  def endGauges(): Map[String, Double] = {
    val t = index.fpTable
    val v = t.latestVersion.get
    Map("lake.live_files" -> t.files(v).size.toDouble, "lake.versions" -> (v + 1).toDouble)
  }
}

object FpDedup {
  val CorpusSize = 20000
  val CorpusNearShare = 0.05
  val MaxHamming = 3
  /** 64-bit fingerprints in the index's default 16-bit bands. */
  val Bands = 4
  val BatchRows = 48
  val PlantedCorpus = 12
  val Groups = 4
  val GroupSize = 3
  val ProbeRows = 32
  /** Probe batches per round, after its ingest batch. */
  val ProbesPerRound = 2
  val ProbeIdBase = 1L << 40
  val K = 5
  val Radius = 3
}
