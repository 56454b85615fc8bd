package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalTable
import graft.sim.SemDedupIndex
import graft.streaming.Streams

/** The [[DedupIndex]] protocol, checked once per index: bootstrap
  * crash convergence, idempotent admits, takedown without ghost
  * anchors, the replayed-batch self-match guard, and the persisted
  * operation strings existing indexes and decision tables carry.
  *
  * Each fixture maps a content `seed` to one batch unit (`unit`) and
  * to a near-duplicate of it (`near`); its corpus indexes seeds 1 and
  * 2, seed 1 under the ids `anchorA`.
  */
class DedupIndexProtocolSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private case class Fixture(
      name: String, make: String => DedupIndex, corpus: () => DataFrame,
      anchorA: Seq[Long], unit: (Long, Int) => DataFrame,
      near: (Long, Int) => DataFrame, admitTag: String, streamTag: String)

  private def mix(s: Int, m: Long): Long = (s * m) >>> 32

  private val fp64 = {
    def fp(id: Long, s: Int, flips: Long) =
      Seq((id, mix(s, 0x9E3779B97F4A7C15L), mix(s, 0xBF58476D1CE4E5B9L) ^ flips))
        .toDF("doc_id", "h_hi", "h_lo")
    Fixture("FingerprintDedupIndex",
      new FingerprintDedupIndex(spark, _, "doc_id", maxHamming = 3),
      () => fp(1L, 1, 0L).unionByName(fp(2L, 2, 0L)), Seq(1L),
      fp(_, _, 0L), fp(_, _, 0x5L), "fp_admit", "stream_fp_dedup")
  }

  private val fp256 = {
    def fp(id: Long, s: Int, flips: Int) = Seq((id, Array.tabulate(16) { i =>
      val limb = (s * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L) & 0xFFFFL
      if (i < flips) limb ^ (1L << i) else limb
    })).toDF("doc_id", "fp")
    Fixture("FingerprintDedupIndex256",
      new FingerprintDedupIndex256(spark, _, "doc_id", maxHamming = 9),
      () => fp(1L, 1, 0).unionByName(fp(2L, 2, 0)), Seq(1L),
      fp(_, _, 0), fp(_, _, 5), "fp256_admit", "stream_fp_dedup")
  }

  private val signature = {
    def clip(id: Long, seeds: Seq[Long], at: Long) =
      seeds.zipWithIndex.map { case (s, i) =>
        (id, at + i, mix(s.toInt, 0x9E3779B97F4A7C15L),
          mix(s.toInt, 0xBF58476D1CE4E5B9L))
      }.toDF("doc_id", "u", "h_hi", "h_lo")
    Fixture("SignatureDedupIndex",
      new SignatureDedupIndex(spark, _, "doc_id", "u",
        maxHamming = 3, minMatched = 2),
      () => clip(1L, Seq(11, 12, 13), 1L)
        .unionByName(clip(2L, Seq(21, 22, 23), 1L)), Seq(1L),
      (id, s) => clip(id, Seq(10L * s + 1, 10L * s + 2, 10L * s + 3), 1L),
      // a trimmed copy: two of the three units, shifted
      (id, s) => clip(id, Seq(10L * s + 2, 10L * s + 3), 7L),
      "sig_admit", "stream_fp_dedup")
  }

  private val corpus = {
    def doc(id: Long, s: Int, last: String) =
      Seq((id, ((1 to 19).map(i => s"t${s}w$i") :+ last).mkString(" ")))
        .toDF("doc_id", "text")
    Fixture("CorpusDedupIndex",
      new CorpusDedupIndex(spark, _, "doc_id", "text",
        n = 3, k = 8, bands = 4, num = 3, den = 10),
      () => doc(1L, 1, "end").unionByName(doc(2L, 2, "end")), Seq(1L),
      doc(_, _, "end"), doc(_, _, "altered"), "dedup_admit", "stream_dedup")
  }

  private val semantic = {
    // dim 8: seed 1 leans on e0 (corpus ids 0-3), seed 2 on e1 (ids
    // 4-7); seeds >= 3 sit on their own axis e(s-1), far from both
    def vec(id: Long, main: Int, c: Float, other: Int, o: Float) =
      Seq((id, Seq.tabulate(8)(i =>
        if (i == main) c else if (i == other) o else 0.0f)))
        .toDF("vec_id", "embedding")
    def unit(id: Long, s: Int) =
      if (s <= 2) vec(id, s - 1, 1.0f, 2 - s, 0.0f) else vec(id, s - 1, 1.0f, 7, 0.0f)
    def near(id: Long, s: Int) =
      if (s <= 2) vec(id, s - 1, 0.999f, 2 - s, 0.01f)
      else vec(id, s - 1, 0.999f, 7, 0.02f)
    Fixture("SemDedupIndex",
      new SemDedupIndex(spark, _, "vec_id", "embedding",
        k = 2, iterations = 3, num = 9, den = 10),
      () => Seq(
        vec(0L, 0, 1.0f, 1, 0.0f), vec(1L, 0, 0.98f, 1, 0.1f),
        vec(2L, 0, 0.95f, 1, 0.2f), vec(3L, 0, 0.99f, 2, 0.1f),
        vec(4L, 1, 1.0f, 0, 0.0f), vec(5L, 1, 0.98f, 0, 0.1f),
        vec(6L, 1, 0.95f, 0, 0.2f), vec(7L, 1, 0.99f, 2, 0.1f))
        .reduce(_ unionByName _),
      Seq(0L, 1L, 2L, 3L), unit, near, "semdedup_admit", "stream_semdedup")
  }

  private val fixtures = Seq(fp64, fp256, signature, corpus, semantic)

  private def fresh(f: Fixture): DedupIndex =
    f.make(Files.createTempDirectory("dedup_protocol_").toString + "/idx")

  private def status(idx: DedupIndex, batch: DataFrame): Map[Long, String] =
    idx.dedupBatch(batch).select(idx.idCol, "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def versions(idx: DedupIndex): Seq[Long] =
    idx.indexTables.map(_._1.latestVersion.get)

  private def rowsOf(idx: DedupIndex, ids: Seq[Long]): Seq[Long] =
    idx.indexTables.map(_._1.snapshot()
      .filter(col(idx.idCol).isInCollection(ids)).count())

  for (f <- fixtures) {
    test(s"${f.name}: an un-bootstrapped or config-only (half-bootstrapped) " +
      "index is not bootstrapped; re-running bootstrap completes it") {
      val idx = fresh(f)
      assert(!idx.exists)
      val e = intercept[IllegalArgumentException](idx.dedupBatch(f.near(10L, 1)))
      assert(e.getMessage.contains("not bootstrapped"))
      intercept[IllegalArgumentException](idx.remove(f.anchorA))
      // the crash window: every write order declared, no data landed
      idx.indexTables.foreach { case (t, order) => t.setWriteOrder(order: _*) }
      assert(!idx.exists, "a config-only index must not count as " +
        "bootstrapped — it would return zero corpus recall forever")
      intercept[IllegalArgumentException](idx.dedupBatch(f.near(10L, 1)))
      idx.bootstrap(f.corpus())
      assert(idx.exists)
      assert(status(idx, f.near(10L, 1)) === Map(10L -> "dup_corpus"))
      intercept[IllegalArgumentException](idx.bootstrap(f.corpus()))
    }

    test(s"${f.name}: admit grows the index; a replayed admitIdempotent " +
      "is a no-op; a new batch id commits") {
      val idx = fresh(f)
      idx.bootstrap(f.corpus())
      val b = f.unit(20L, 3)
      val d = idx.dedupBatch(b).localCheckpoint()
      assert(status(idx, b) === Map(20L -> "kept"))
      idx.admitIdempotent(b, d, batchId = 1L)
      val after = versions(idx)
      val rows = rowsOf(idx, Seq(20L))
      assert(rows.forall(_ > 0), s"admitted rows per table: $rows")
      idx.admitIdempotent(b, d, batchId = 1L)
      assert(versions(idx) === after, "a replayed admit committed")
      assert(rowsOf(idx, Seq(20L)) === rows)
      assert(status(idx, f.near(21L, 3)) === Map(21L -> "dup_corpus"),
        "a near-dup of an ADMITTED unit must match the grown index")
      val b2 = f.unit(30L, 4)
      idx.admitIdempotent(b2, idx.dedupBatch(b2), batchId = 2L)
      assert(versions(idx).zip(after).forall { case (v, w) => v > w })
    }

    test(s"${f.name}: remove retracts from every table and leaves no " +
      "ghost anchor; re-removal no-ops; an empty id set is refused") {
      val idx = fresh(f)
      idx.bootstrap(f.corpus())
      assert(status(idx, f.near(10L, 1)) === Map(10L -> "dup_corpus"))
      idx.remove(f.anchorA)
      assert(rowsOf(idx, f.anchorA).forall(_ == 0L))
      // the other anchor survives in every table and still anchors
      assert(idx.indexTables.forall(_._1.snapshot()
        .filter(!col(idx.idCol).isInCollection(f.anchorA)).count() > 0))
      assert(status(idx, f.near(11L, 1)) === Map(11L -> "kept"),
        "a removed unit must not stay a ghost anchor")
      assert(status(idx, f.near(12L, 2)) === Map(12L -> "dup_corpus"))
      idx.remove(f.anchorA)
      idx.remove(Seq(999L))
      assert(status(idx, f.near(13L, 2)) === Map(13L -> "dup_corpus"))
      intercept[IllegalArgumentException](idx.remove(Seq.empty))
    }

    test(s"${f.name}: a replayed batch does not match itself in the index") {
      val idx = fresh(f)
      idx.bootstrap(f.corpus())
      val b = f.unit(20L, 3)
      idx.admit(b, idx.dedupBatch(b).localCheckpoint())
      assert(rowsOf(idx, Seq(20L)).forall(_ > 0))
      assert(status(idx, b) === Map(20L -> "kept"))
    }

    test(s"${f.name}: manifests carrying the persisted admit and stream " +
      "operation strings replay as no-ops") {
      val idx = fresh(f)
      idx.bootstrap(f.corpus())
      // writer: an idempotent admit commits exactly `<tag>[batch=N]`
      val b3 = f.unit(20L, 3)
      idx.admitIdempotent(b3, idx.dedupBatch(b3).localCheckpoint(), 3L)
      idx.indexTables.foreach { case (t, _) =>
        assert(t.operationAt(t.latestVersion.get) === s"${f.admitTag}[batch=3]")
      }
      // reader: an index whose tables carry that string for batch 4
      // skips a replayed batch 4
      idx.indexTables.foreach { case (t, _) =>
        t.commitFiles(Seq.empty, Set.empty, s"${f.admitTag}[batch=4]")
      }
      val admitted = versions(idx)
      val b4 = f.unit(30L, 4)
      idx.admitIdempotent(b4, idx.dedupBatch(b4).localCheckpoint(), 4L)
      assert(versions(idx) === admitted)
      assert(rowsOf(idx, Seq(30L)).forall(_ == 0L))
      // the stream sink: a decisions table already carrying batch 5
      // skips the decision and admits from the stored rows
      val dec = new IncrementalTable(spark,
        Files.createTempDirectory("dedup_protocol_dec_").toString + "/d")
      val b5 = f.unit(40L, 5)
      val rows = idx.dedupBatch(b5).withColumn("batch", lit(5L))
      dec.commitFiles(dec.stage(rows), Set.empty, s"${f.streamTag}[batch=5]",
        schema = Some(rows.schema))
      val decV = dec.latestVersion.get
      val sink = Streams.dedupSink(idx, dec)
      sink(b5, 5L)
      assert(dec.latestVersion.get === decV)
      assert(rowsOf(idx, Seq(40L)).forall(_ > 0))
      sink(f.unit(50L, 6), 6L)
      assert(dec.operationAt(dec.latestVersion.get) === s"${f.streamTag}[batch=6]")
    }
  }
}
