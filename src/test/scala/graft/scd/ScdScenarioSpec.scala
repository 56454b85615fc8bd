package graft.scd

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalScdTable

/** 1:1 port of the reference's end-to-end scenario notebook
  * (`/root/reference/delta_hybrid_scd/test/test_scd_handler.py`):
  * three daily batches of the `account_src` feed applied into
  * `account_scd2`, with the notebook's assertions between runs
  * (day1: test_scd_handler.py:107-121; day2: :163-213;
  * day3: :249-285) plus SCD invariants the reference asserts implicitly
  * via its golden screenshots (img/incremental_run_*.png). The table is
  * an [[IncrementalScdTable]] with 8 buckets and the DDL's identity
  * column (`account_key`, START WITH 10).
  */
class ScdScenarioSpec extends AnyFunSuite with SparkSpec {

  private lazy val dir = Files.createTempDirectory("scd_scenario").toString
  private lazy val tablePath = s"$dir/account_scd2"

  // account_scd2 DDL, test_scd_handler.py:40-53 (identity start 10)
  private val targetSchema = StructType(Seq(
    StructField("account_key", LongType),
    StructField("id", IntegerType),
    StructField("stock_name", StringType),
    StructField("units", IntegerType),
    StructField("platform", StringType),
    StructField("scd_key", StringType),
    StructField("upd_key", StringType),
    StructField("record_status", StringType),
    StructField("effective_from", TimestampType),
    StructField("effective_to", TimestampType),
    StructField("dw_inserted_at", TimestampType),
    StructField("dw_updated_at", TimestampType)))

  // account_src DDL, test_scd_handler.py:62-69
  private val srcSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("stock_name", StringType),
    StructField("units", LongType),
    StructField("platform", StringType),
    StructField("reg_ts", TimestampType),
    StructField("last_modify_ts", TimestampType)))

  private lazy val table = new IncrementalScdTable(spark, tablePath, numBuckets = 8,
    identityCol = Some("account_key"), identityStart = 10)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def cfg(runAt: String): ScdConfig = ScdConfig(
    pkCols = Seq("id", "stock_name"),
    scdKeyCols = Seq("units"),
    selectCols = Some(Seq("id", "stock_name", "units", "platform")),
    effectiveFromCol = Some("last_modify_ts"),
    initialEffDateCol = Some("reg_ts"),
    clock = () => Instant.parse(runAt))

  private def batch(rows: Seq[(Long, String, Long, String, String, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, sn, u, p, r, m) =>
        Row(id, sn, u, p, ts(r), ts(m))
      }: _*),
      srcSchema)

  private def scd2: DataFrame = { // registered fresh each call: the table moves on
    val df = table.snapshot()
    df.createOrReplaceTempView("account_scd2")
    df
  }
  private def snap(name: String): Unit =
    scd2.write.mode("overwrite").parquet(s"$dir/$name")
  private def view(name: String): Unit =
    spark.read.parquet(s"$dir/$name").createOrReplaceTempView(name)

  private def one(sql: String): Any = spark.sql(sql).collect()(0)(0)
  private def rows(sql: String): Seq[Row] = { scd2; spark.sql(sql).toSeq }

  implicit class DfOps(df: DataFrame) {
    def toSeq: Seq[Row] = df.collect().toIndexedSeq
  }

  // ---- day 1: initial load (test_scd_handler.py:83-103)
  test("day1: all accounts loaded; effective_from = reg_ts on first insert") {
    table.create(targetSchema)
    val day1 = batch(Seq(
      (1L, "Google", 0L, "Kite", "2015-12-25 10:05:30", "2025-05-10 10:05:20"),
      (1L, "BTC", 0L, "Binance", "2016-12-25 11:05:30", "2025-05-11 10:05:20"),
      (3L, "ETH", 20L, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20")))
    day1.createOrReplaceTempView("account_src")
    // history(1) emulation: the reference's delta_merge port prices the
    // day-1 upsert into the empty table as 0 updated, 3 inserted
    assert(ScdApply.viaMerges(table.snapshot(), day1, cfg("2025-05-11T12:00:00Z"))
      .metrics() === MergeMetrics(0, 3))
    table.applyScd(day1, cfg("2025-05-11T12:00:00Z"))

    scd2
    // test_scd_handler.py:109
    assert(one("select count(distinct id, stock_name) from account_scd2 " +
      "where effective_to is null and record_status = 'A'") === 3L)
    // test_scd_handler.py:116-121
    val eff = rows("select effective_from from account_scd2 " +
      "where effective_to is null and record_status = 'A' order by id, stock_name")
    val reg = rows("select cast(reg_ts as timestamp) as effective_from " +
      "from account_src order by id, stock_name")
    assert(eff === reg)
    // identity column generated, all distinct, >= start
    val keys = rows("select account_key from account_scd2").map(_.getLong(0))
    assert(keys.distinct.size === 3 && keys.forall(_ >= 10L))
  }

  // ---- day 2: updates + duplicate (test_scd_handler.py:136-159)
  test("day2: SCD2 versioning, duplicate no-op, interval continuity") {
    snap("account_scd2_day1")
    val day2 = batch(Seq(
      (1L, "Google", 100L, "Kite", "2015-12-25 10:05:30", "2025-05-12 10:05:20"),
      (1L, "BTC", 171L, "Binance", "2016-12-25 11:05:30", "2025-05-12 10:05:20"),
      (3L, "ETH", 20L, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20")))
    table.applyScd(day2, cfg("2025-05-12T12:00:00Z"))

    scd2; view("account_scd2_day1")
    // test_scd_handler.py:165-169
    assert(one("select count(*) from account_scd2 " +
      "where record_status = 'I' and effective_to is not null") === 2L)
    // test_scd_handler.py:173-178 — duplicate byte-identical
    assert(
      rows("select * from account_scd2_day1 where id = 3 and stock_name = 'ETH'") ===
      rows("select * from account_scd2 where id = 3 and stock_name = 'ETH'"))
    // test_scd_handler.py:182-191 — effective_from advanced
    for (stock <- Seq("Google", "BTC")) {
      val o = one(s"select effective_from from account_scd2_day1 where id = 1 and " +
        s"stock_name = '$stock' and effective_to is null and record_status = 'A'")
      val n = one(s"select effective_from from account_scd2 where id = 1 and " +
        s"stock_name = '$stock' and effective_to is null and record_status = 'A'")
      assert(n.asInstanceOf[Timestamp].after(o.asInstanceOf[Timestamp]))
      // test_scd_handler.py:195-204 — units changed
      val ou = one(s"select units from account_scd2_day1 where id = 1 and " +
        s"stock_name = '$stock' and effective_to is null and record_status = 'A'")
      val nu = one(s"select units from account_scd2 where id = 1 and " +
        s"stock_name = '$stock' and effective_to is null and record_status = 'A'")
      assert(ou !== nu)
    }
    // test_scd_handler.py:208-213 — effective_to(old) == effective_from(new)
    assert(
      rows("select distinct(effective_to) from account_scd2 where id = 1 and record_status = 'I'") ===
      rows("select distinct(effective_from) from account_scd2 where id = 1 and record_status = 'A'"))
    // golden incremental_run_1.png: 5 rows total
    assert(one("select count(*) from account_scd2") === 5L)
  }

  // ---- day 3: SCD1-only + SCD1+SCD2 (test_scd_handler.py:223-245)
  test("day3: SCD1 in-place update vs SCD2 new version") {
    snap("account_scd2_day2")
    val day3 = batch(Seq(
      (1L, "Google", 100L, "CoinSwitch", "2015-12-25 10:05:30", "2025-05-13 10:05:20"),
      (1L, "BTC", 200L, "CoinSwitch", "2016-12-25 11:05:30", "2025-05-13 10:05:20")))
    table.applyScd(day3, cfg("2025-05-13T12:00:00Z"))

    scd2; view("account_scd2_day2")
    def active(snapName: String, stock: String, col: String) =
      one(s"select $col from $snapName where id = 1 and stock_name = '$stock' " +
        "and effective_to is null and record_status = 'A'")
    // test_scd_handler.py:251-266 — Google: platform + dw_updated_at changed, count stays 2
    assert(active("account_scd2_day2", "Google", "platform") !==
      active("account_scd2", "Google", "platform"))
    assert(active("account_scd2", "Google", "platform") === "CoinSwitch")
    assert(active("account_scd2_day2", "Google", "dw_updated_at") !==
      active("account_scd2", "Google", "dw_updated_at"))
    assert(one("select count(*) from account_scd2 where id = 1 and stock_name = 'Google'") === 2L)
    // ...but SCD1 must not touch effective_from / dw_inserted_at / scd_key
    assert(active("account_scd2_day2", "Google", "effective_from") ===
      active("account_scd2", "Google", "effective_from"))
    assert(active("account_scd2_day2", "Google", "dw_inserted_at") ===
      active("account_scd2", "Google", "dw_inserted_at"))
    assert(active("account_scd2_day2", "Google", "account_key") ===
      active("account_scd2", "Google", "account_key"))
    // test_scd_handler.py:270-285 — BTC: units+platform changed, count 2→3
    assert(active("account_scd2_day2", "BTC", "units") !== active("account_scd2", "BTC", "units"))
    assert(active("account_scd2_day2", "BTC", "platform") !==
      active("account_scd2", "BTC", "platform"))
    assert(one("select count(*) from account_scd2 where id = 1 and stock_name = 'BTC'") === 3L)
    // golden incremental_run_2.png: 6 rows; BTC chain 0 → 171 → 200
    assert(one("select count(*) from account_scd2") === 6L)
    val chain = rows("select units, record_status from account_scd2 " +
      "where stock_name = 'BTC' order by effective_from")
    assert(chain.map(r => (r.getInt(0), r.getString(1))) ===
      Seq((0, "I"), (171, "I"), (200, "A")))
  }

  // ---- invariants beyond the notebook (SURVEY.md §5)
  test("invariants: one active row per key; contiguous non-overlapping intervals; idempotent replay") {
    scd2
    assert(one("select max(cnt) from (select count(*) as cnt from account_scd2 " +
      "where record_status = 'A' and effective_to is null group by id, stock_name)") === 1L)
    // intervals per key: effective_to of version n == effective_from of version n+1
    assert(one(
      """select count(*) from (
        |  select effective_to,
        |         lead(effective_from) over (partition by id, stock_name order by effective_from) as nxt
        |  from account_scd2)
        |where effective_to is not null and effective_to <> nxt""".stripMargin) === 0L)
    // replaying day3 must be a no-op (same scd_key, same upd_key everywhere)
    val before = scd2.orderBy("account_key").collect().toIndexedSeq
    val day3Again = batch(Seq(
      (1L, "Google", 100L, "CoinSwitch", "2015-12-25 10:05:30", "2025-05-13 10:05:20"),
      (1L, "BTC", 200L, "CoinSwitch", "2016-12-25 11:05:30", "2025-05-13 10:05:20")))
    table.applyScd(day3Again, cfg("2025-05-14T12:00:00Z"))
    val after = scd2.orderBy("account_key").collect().toIndexedSeq
    assert(after === before)
  }

  test("empty source batch is a no-op without writing") {
    scd2
    val before = scd2.collect().toIndexedSeq.sortBy(_.getLong(0))
    val version = table.table.latestVersion
    assert(table.applyScd(batch(Seq.empty), cfg("2025-05-15T12:00:00Z")) === version.get)
    assert(table.table.latestVersion === version, "an empty batch must not commit")
    val after = scd2.collect().toIndexedSeq.sortBy(_.getLong(0))
    assert(after === before)
  }
}
