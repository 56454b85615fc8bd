package graft.scd

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The SCD kernel ([[ScdApply.nextState]]) against the reference's literal
  * composition ([[ScdApply.viaMerges]]: [[ScdApply.split]] then both
  * [[MergeEmulator]] merges), batch by batch, as multisets. Inputs
  * include the degenerate ones the merges define an answer for:
  * duplicate source keys, two active rows for one key, a closed latest
  * row, NULL key parts, NULL `scd_key` / `upd_key` in the table, and a
  * BIGINT source against an INT table. Exact `(dw_inserted_at,
  * effective_to)` ties between a key's rows are left out:
  * `Snapshot.latestPerKey`'s `row_number` picks either row.
  */
class ScdKernelDifferentialSpec extends AnyFunSuite with SparkSpec {

  private val tableSchema = StructType(Seq(
    StructField("sk", LongType), StructField("k1", IntegerType),
    StructField("k2", StringType), StructField("scdv", IntegerType),
    StructField("sv", StringType)) ++
    ScdConfig.SystemCols.map(c => StructField(c,
      if (c == "record_status" || c.endsWith("_key")) StringType else TimestampType)))

  private val srcSchema = StructType(Seq(
    StructField("k1", LongType), StructField("k2", StringType),
    StructField("scdv", LongType), StructField("sv", StringType),
    StructField("evt", TimestampType), StructField("reg", TimestampType)))

  private def cfg(day: Int) = ScdConfig(
    pkCols = Seq("k1", "k2"), scdKeyCols = Seq("scdv"),
    selectCols = Some(Seq("k1", "k2", "scdv", "sv")),
    effectiveFromCol = Some("evt"), initialEffDateCol = Some("reg"),
    clock = () => Instant.parse(f"2025-04-$day%02dT12:00:00Z"))

  private def at(day: Int, hour: Int) =
    Timestamp.from(Instant.parse(f"2025-04-$day%02dT$hour%02d:00:00Z"))

  /** The reference's hash (Hashing.key) over the non-NULL parts. */
  private def sha(parts: Any*): String =
    MessageDigest.getInstance("SHA-256")
      .digest(parts.filter(_ != null).mkString.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def counts(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** Shift `dw_inserted_at` back a second per extra row of any exact
    * tie, so the next batch's latest version is well defined.
    */
  private def untie(rows: Seq[Row]): Seq[Row] = {
    val ins = tableSchema.fieldIndex("dw_inserted_at")
    val to = tableSchema.fieldIndex("effective_to")
    rows.groupBy(r => (r.get(1), r.get(2), r.get(ins), r.get(to))).values.flatMap { g =>
      g.sortBy(_.toString).zipWithIndex.map { case (r, i) =>
        if (i == 0) r
        else Row.fromSeq(r.toSeq.updated(ins,
          new Timestamp(r.getTimestamp(ins).getTime - 1000L * i)))
      }
    }.toSeq
  }

  /** Applies `batches` (day 10, 11, …) from `initial`, checking the
    * kernel against the oracle after each; returns the first mismatch.
    */
  private def differential(initial: Seq[Row], batches: Seq[Seq[Row]]): Option[String] = {
    var state = untie(initial)
    batches.zipWithIndex.iterator.map { case (b, i) =>
      val before = frame(state, tableSchema)
      val src = frame(b, srcSchema)
      val want = ScdApply.viaMerges(before, src, cfg(10 + i)).next.collect().toSeq
      val got = ScdApply.nextState(before, src, cfg(10 + i)).collect().toSeq
      state = untie(want)
      if (counts(got) == counts(want)) None
      else Some(s"batch $i of ${batches.size}: state ${initial.mkString("; ")}\n" +
        s"source ${b.mkString("; ")}\nkernel ${got.map(_.toString).sorted.mkString("\n  ")}" +
        s"\noracle ${want.map(_.toString).sorted.mkString("\n  ")}")
    }.collectFirst { case Some(msg) => msg }
  }

  private def dim(sk: java.lang.Long, k1: Integer, k2: String, scdv: Integer, sv: String,
      status: String, from: Timestamp, to: Timestamp, inserted: Timestamp,
      scdKey: String, updKey: String): Row =
    Row(sk, k1, k2, scdv, sv, status, from, to, inserted, inserted, scdKey, updKey)

  private def src(k1: java.lang.Long, k2: String, scdv: java.lang.Long, sv: String,
      evt: Timestamp, reg: Timestamp): Row = Row(k1, k2, scdv, sv, evt, reg)

  test("kernel equals split + both merges on every degenerate input") {
    val initial = Seq(
      // (1, a): two active rows, the later one latest
      dim(1L, 1, "a", 0, "p", "A", at(1, 0), null, at(1, 1), sha(0, 1, "a"), sha(1, "a", "p")),
      dim(2L, 1, "a", 1, "q", "A", at(2, 0), null, at(2, 1), sha(1, 1, "a"), sha(1, "a", "q")),
      // (1, b): the latest version is closed
      dim(3L, 1, "b", 0, "p", "A", at(1, 0), null, at(1, 1), sha(0, 1, "b"), sha(1, "b", "p")),
      dim(4L, 1, "b", 2, "p", "I", at(3, 0), at(4, 0), at(3, 1), sha(2, 1, "b"), sha(1, "b", "p")),
      // (2, a): NULL hash keys
      dim(5L, 2, "a", 0, "p", "A", at(1, 0), null, at(1, 1), null, null),
      // (2, b): NULL upd_key only
      dim(6L, 2, "b", 0, "p", "A", at(1, 0), null, at(1, 1), sha(0, 2, "b"), null),
      // NULL key parts
      dim(7L, null, "a", 0, "p", "A", at(1, 0), null, at(1, 1), sha(0, "a"), sha("a", "p")),
      dim(8L, 3, null, 0, "p", "A", at(1, 0), null, at(1, 1), sha(0, 3), sha(3, "p")))
    val batch1 = Seq(
      // duplicate source keys: an SCD2 change twice, an SCD1 change, a no-op
      src(1L, "a", 5L, "p", at(9, 0), at(1, 0)),
      src(1L, "a", 6L, "r", at(9, 1), at(1, 0)),
      src(1L, "a", 1L, "z", at(9, 2), at(1, 0)),
      src(1L, "b", 7L, "p", at(9, 0), null),
      src(1L, "b", 2L, "p", at(9, 0), null),
      src(2L, "a", 0L, "p", null, at(1, 0)),
      src(2L, "b", 0L, "r", at(9, 0), at(1, 0)),
      src(null, "a", 0L, "p", at(9, 0), at(1, 0)),
      src(3L, null, 1L, "p", at(9, 0), null),
      // a new key, twice
      src(4L, "a", 1L, "p", at(9, 0), at(2, 0)),
      src(4L, "a", 2L, "q", at(9, 3), at(2, 0)))
    val batch2 = Seq(
      src(1L, "a", 6L, "s", at(10, 0), at(1, 0)),
      src(4L, "a", 3L, "q", at(10, 0), null),
      src(1L, "b", 8L, null, null, null))
    assert(differential(initial, Seq(batch1, batch2)).isEmpty,
      differential(initial, Seq(batch1, batch2)).getOrElse(""))
  }

  test("kernel equals split + both merges over random multi-batch sequences") {
    val k1 = Gen.frequency(8 -> Gen.choose(1, 3).map(Int.box), 1 -> Gen.const(null: Integer))
    val k2 = Gen.frequency(8 -> Gen.oneOf("a", "b"), 1 -> Gen.const(null: String))
    val sv = Gen.frequency(6 -> Gen.oneOf("p", "q"), 1 -> Gen.const(null: String))
    val scdv = Gen.frequency(6 -> Gen.choose(0, 2).map(Int.box), 1 -> Gen.const(null: Integer))
    def maybe[T](g: Gen[T]): Gen[T] = Gen.frequency(6 -> g, 1 -> Gen.const(null.asInstanceOf[T]))
    val hour = Gen.choose(0, 23)
    // table rows: any status and interval; hashes proper, NULL or foreign
    val dimRow = for {
      a <- k1; b <- k2; v <- scdv; s <- sv
      closed <- Gen.frequency(3 -> false, 2 -> true)
      day <- Gen.choose(1, 8); h <- hour
      badScd <- Gen.frequency(8 -> 0, 1 -> 1, 1 -> 2)
      badUpd <- Gen.frequency(8 -> 0, 1 -> 1, 1 -> 2)
    } yield {
      def hash(mode: Int, proper: => String) = mode match {
        case 0 => proper
        case 1 => null
        case _ => "foreign"
      }
      dim(null, a, b, v, s, if (closed) "I" else "A", at(day, h),
        if (closed) at(day + 1, h) else null, at(day, h),
        hash(badScd, sha(v, a, b)), hash(badUpd, sha(a, b, s)))
    }
    val srcRow = for {
      a <- k1; b <- k2; v <- scdv; s <- sv
      evtDay <- Gen.choose(8, 9); h <- hour
      evt <- maybe(Gen.const(at(evtDay, h)))
      reg <- maybe(Gen.const(at(1, h)))
    } yield src(Option(a).map(x => Long.box(x.toLong)).orNull, b,
      Option(v).map(x => Long.box(x.toLong)).orNull, s, evt, reg)
    val initialGen = Gen.choose(0, 6).flatMap(Gen.listOfN(_, dimRow))
    val batchesGen = Gen.listOfN(3, Gen.choose(0, 5).flatMap(Gen.listOfN(_, srcRow)))
    val prop = Prop.forAllNoShrink(initialGen, batchesGen) { (initial, batches) =>
      val mismatch = differential(initial, batches)
      mismatch.foreach(m => info(m))
      mismatch.isEmpty
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
