package perfbench

import java.sql.Timestamp
import java.time.Instant

import scala.util.Random

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.IncrementalScdTable
import graft.scd.ScdConfig

/** The TEST table's shape (`account_scd2` fed by `account_src`). */
object ScdShape {
  val IdentityStart = 10L
  val Day: Long = 86400000L
  /** First daily batch's day; batch d is applied at `T0 + d days + 23 h`. */
  val T0: Long = Instant.parse("2025-01-01T00:00:00Z").toEpochMilli
  val RegBase: Long = Instant.parse("2015-01-01T00:00:00Z").toEpochMilli
  val Tickers: IndexedSeq[String] = IndexedSeq("AAPL", "AMZN", "BTC", "ETH", "GOOG",
    "MSFT", "NFLX", "NVDA", "SOL", "TSLA", "XRP", "ADA", "DOGE", "META", "ORCL", "IBM")
  val Platforms: IndexedSeq[String] = IndexedSeq("Kite", "Binance", "CoinSwitch",
    "Zerodha", "Groww", "Upstox")

  val target: StructType = StructType(Seq(
    StructField("account_key", LongType), StructField("id", IntegerType),
    StructField("stock_name", StringType), StructField("units", IntegerType),
    StructField("platform", StringType), StructField("scd_key", StringType),
    StructField("upd_key", StringType), StructField("record_status", StringType),
    StructField("effective_from", TimestampType), StructField("effective_to", TimestampType),
    StructField("dw_inserted_at", TimestampType), StructField("dw_updated_at", TimestampType)))

  /** The source's columns, `id` of type `idType`: TEST's `account_src`
    * has BIGINT, the dimension INT.
    */
  def source(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType), StructField("stock_name", StringType),
    StructField("units", LongType), StructField("platform", StringType),
    StructField("reg_ts", TimestampType), StructField("last_modify_ts", TimestampType)))

  def config(clockMs: Long): ScdConfig = ScdConfig(
    pkCols = Seq("id", "stock_name"), scdKeyCols = Seq("units"),
    selectCols = Some(Seq("id", "stock_name", "units", "platform")),
    effectiveFromCol = Some("last_modify_ts"), initialEffDateCol = Some("reg_ts"),
    clock = () => Instant.ofEpochMilli(clockMs))

  def frame(spark: SparkSession, rows: Seq[SrcRow], idType: DataType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row(
      if (idType == IntegerType) r.id.toInt else r.id, r.stock, r.units,
      r.platform, new Timestamp(r.regTs), new Timestamp(r.lastModTs))): _*), source(idType))

  /** The bucket `IncrementalScdTable` lays a key's rows out in:
    * `pmod(hash(id, stock_name), buckets)` over the table's INT `id`.
    */
  def bucketOf(k: Key, buckets: Int): Int = {
    val h = Murmur3HashFunction.hash(UTF8String.fromString(k.stock), StringType,
      Murmur3HashFunction.hash(k.id.toInt, IntegerType, 42L)).toInt
    ((h % buckets) + buckets) % buckets
  }

  private def ms(r: Row, i: Int): Long = r.getTimestamp(i).getTime
  private def optMs(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getTimestamp(i).getTime)
  private def long(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue()

  /** Columns of a full-row read, in the order [[fullRow]] expects. */
  val FullCols = "account_key, id, stock_name, units, platform, record_status, " +
    "effective_from, effective_to, dw_inserted_at, dw_updated_at, scd_key, upd_key"

  def fullRow(r: Row): (DimRow, Long, String, String) =
    (DimRow(long(r, 1), r.getString(2), long(r, 3), r.getString(4), r.getString(5),
      ms(r, 6), optMs(r, 7), ms(r, 8), ms(r, 9)), long(r, 0), r.getString(10), r.getString(11))
}

/** `scd_daily`: the reference's daily load at production shape, and the
  * readers of the versioned table it produces, on one
  * [[IncrementalScdTable]] in the TEST shape. Every round is
  * [[ScdDaily.DaysPerRound]] daily batches whose keys span all buckets
  * but [[ScdDaily.Untouched]] (SCD2 changes, SCD1-only changes, exact
  * duplicates and new keys), each followed by one SQL read of the active
  * rows, as TEST does after each run, a point lookup by full business key
  * at the latest version and one `VERSION AS OF` an earlier one, and
  * `DESCRIBE HISTORY`; then the TEST scenario's later batches replayed
  * into a table of as many buckets. The model is kept per committed
  * version, and every read is checked against the model at the version
  * it read.
  */
final class ScdDaily(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  import ScdDaily._
  import ScdShape._

  private val rnd = new Random(seed)
  private var table: IncrementalScdTable = _
  private var sqlName: String = _
  private var model: ScdModel = ScdModel.empty
  private var versions: Map[Long, ScdModel] = Map.empty
  private var day = 0
  private var nextKey = 0
  private var files: Set[String] = Set.empty
  private var testBase: String = _
  private var testRuns = 0
  /** Surrogate key first read for each row version (key, effective_from). */
  private var surrogate: Map[(Key, Long), Long] = Map.empty

  def tableRoots: Seq[String] = Seq(table.path)
  def latestRows(): Long = model.rows.size.toLong

  private def newKey(): Key = {
    val i = nextKey; nextKey += 1
    Key(i / Tickers.size + 1, Tickers(i % Tickers.size))
  }

  private def regTs(k: Key): Long = RegBase + (k.id * 7919 + k.stock.length * 104729) % (3L * 365 * Day)

  private def lastModTs(): Long = T0 + day * Day + rnd.nextInt(3600000)

  private def insertRow(k: Key): SrcRow =
    SrcRow(k.id, k.stock, rnd.nextInt(1000), Platforms(rnd.nextInt(Platforms.size)), regTs(k),
      lastModTs())

  /** An SCD2 change (units, sometimes platform too), an SCD1-only change
    * (platform) or an exact duplicate of the key's current row.
    */
  private def changeRow(k: Key, kind: Int): SrcRow = {
    val cur = model.current(k).get
    def otherPlatform = Platforms((Platforms.indexOf(cur.platform) + 1 +
      rnd.nextInt(Platforms.size - 1)) % Platforms.size)
    kind match {
      case 0 => SrcRow(k.id, k.stock, (cur.units + 1 + rnd.nextInt(998)) % 1000,
        if (rnd.nextBoolean()) otherPlatform else cur.platform, regTs(k), lastModTs())
      case 1 => SrcRow(k.id, k.stock, cur.units, otherPlatform, regTs(k), lastModTs())
      case _ => SrcRow(k.id, k.stock, cur.units, cur.platform, regTs(k), lastModTs())
    }
  }

  /** One daily batch over distinct keys of all buckets but [[Untouched]]
    * random ones: [[Scd2Rows]] SCD2 changes, [[Scd1Rows]] SCD1 changes,
    * [[DupRows]] duplicates, the rest new keys (new keys of the untouched
    * buckets are skipped and never used).
    */
  private def dailyBatch(keys: IndexedSeq[Key]): Seq[SrcRow] = {
    val skip = rnd.shuffle((0 until Buckets).toList).take(Untouched).toSet
    def inBatch(k: Key) = !skip(bucketOf(k, Buckets))
    val kinds = Seq.fill(Scd2Rows)(0) ++ Seq.fill(Scd1Rows)(1) ++ Seq.fill(DupRows)(2)
    val changes = rnd.shuffle(keys.filter(inBatch)).take(kinds.size).zip(kinds)
      .map { case (k, kind) => changeRow(k, kind) }
    changes ++ Iterator.continually(newKey()).filter(inBatch).take(BatchRows - kinds.size)
      .map(insertRow)
  }

  def setup(dir: String): Unit = {
    table = new IncrementalScdTable(spark, s"$dir/dim", Buckets,
      identityCol = Some("account_key"), identityStart = IdentityStart)
    table.create(target)
    sqlName = s"lake.${new java.io.File(dir).getName}.dim"
    applyBatch(Seq.fill(Keys)(insertRow(newKey())))()()
    // the batches leave buckets out by [[ScdShape.bucketOf]]: it must
    // agree with the table's layout
    val b0 = table.snapshotOfBuckets(Seq(0)).select("id", "stock_name").collect()
      .map(r => Key(r.getInt(0).toLong, r.getString(1))).toSet
    Check.that(b0.nonEmpty && b0 == model.chains.keySet.filter(bucketOf(_, Buckets) == 0),
      "the keys of bucket 0 differ from those bucketOf places there")
    testBase = s"$dir/test_base"
    TestScenario.base(spark, testBase)
  }

  private def allKeys: IndexedSeq[Key] =
    model.chains.keys.toIndexedSeq.sortBy(k => (k.id, k.stock))

  /** Apply one daily batch (timed part) and return the follow-up that
    * advances the model and checks the committed version.
    */
  private def applyBatch(batch: Seq[SrcRow]): () => () => Unit = {
    val clock = T0 + day * Day + 23 * 3600000L
    val cfg = config(clock)
    val df = frame(spark, batch, IntegerType)
    day += 1
    () => {
      val v = tracer.span("lake.apply")(table.applyScd(df, cfg))
      probeManifest(Some(v), batch.size)
      () => {
        val expect = versions.keys.maxOption.map(_ + 1).getOrElse(0L)
        Check.that(v == expect, s"applyScd committed version $v, expected $expect")
        model = model(batch, clock)
        versions += v -> model
      }
    }
  }

  /** Traced runs only: time the manifest reads a reader pays for
    * (`latestVersion`, `files(v)`) and, after a write, count the files
    * it added and the rows in them.
    */
  private def probeManifest(v: Option[Long], inputRows: Int = 0): Unit = if (tracer.enabled) {
    val live = tracer.span("lake.manifest") {
      val latest = table.table.latestVersion.get
      table.table.files(v.getOrElse(latest)).toSet
    }
    if (inputRows > 0) {
      val added = live -- files
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = added.toSeq.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(table.table.dataPath(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
      tracer.note("lake.apply.files_added", added.size)
      tracer.note("lake.apply.added_rows", rows)
      tracer.note("lake.apply.input_rows", inputRows)
      files = live
    }
  }

  /** One SQL read, collected (timed part); the follow-up gets the rows. */
  private def sqlRead(sql: String)(check: Seq[Row] => Unit): () => () => Unit = () => {
    val rows = tracer.span("sources.read")(spark.sql(sql).collect().toSeq)
    tracer.note("sources.read.rows", rows.size)
    probeManifest(None)
    () => check(rows)
  }

  /** A row version's surrogate key must never change once read. */
  private def checkSurrogate(d: DimRow, sk: Long): Unit = {
    val id = (d.key, d.effFrom)
    surrogate.get(id) match {
      case Some(prev) => Check.that(prev == sk,
        s"surrogate key of ${d.key} (effective ${d.effFrom}) changed $prev -> $sk")
      case None => surrogate += id -> sk
    }
  }

  /** The active rows at the latest version, with their surrogate keys
    * checked for uniqueness, range and stability across versions.
    */
  private def checkActive(rows: Seq[Row]): Unit = {
    val got = rows.map(r => (DimRow(r.getInt(1).toLong, r.getString(2), r.getInt(3).toLong,
      r.getString(4), "A", r.getTimestamp(5).getTime, None, 0L, 0L), r.getLong(0)))
    Check.sameMultiset("active rows", got.map(_._1),
      model.active.map(_.copy(dwIns = 0L, dwUpd = 0L)))
    val sks = got.map(_._2)
    Check.that(sks.distinct.size == sks.size && sks.forall(_ >= IdentityStart),
      "surrogate keys of the active rows are not unique or below START")
    got.foreach { case (d, sk) => checkSurrogate(d, sk) }
  }

  private def lookup(k: Key, version: Option[Long]): String =
    s"SELECT $FullCols FROM $sqlName" + version.map(v => s" VERSION AS OF $v").getOrElse("") +
      s" WHERE id = ${k.id} AND stock_name = '${k.stock}'"

  private def checkChain(rows: Seq[Row], k: Key, at: ScdModel): Unit =
    Check.sameMultiset(s"rows of $k", rows.map(fullRow).map(_._1),
      at.chains.getOrElse(k, Vector.empty))

  /** The reads that follow a daily batch: the active rows, one point
    * lookup at the latest version and one at an earlier version, and
    * `DESCRIBE HISTORY`.
    */
  private def reads(keys: IndexedSeq[Key]): Seq[Op] = {
    val active = Op(write = false, "active_rows", 0, sqlRead(
      s"SELECT account_key, id, stock_name, units, platform, effective_from FROM $sqlName " +
        "WHERE record_status = 'A' AND effective_to IS NULL")(checkActive))
    val k = keys(rnd.nextInt(keys.size))
    val old = keys(rnd.nextInt(keys.size))
    val v = rnd.nextInt(versions.size).toLong
    val point = Op(write = false, "point_lookup", 0,
      sqlRead(lookup(k, None))(rows => checkChain(rows, k, model)))
    val asOf = Op(write = false, "version_as_of", 0,
      sqlRead(lookup(old, Some(v)))(rows => checkChain(rows, old, versions(v))))
    val history = Op(write = false, "describe_history", 0, () => {
      val rows = tracer.span("sources.history")(
        spark.sql(s"DESCRIBE HISTORY $sqlName").collect().toSeq)
      probeManifest(None)
      () => {
        val vs = rows.map(_.getLong(0)).sorted
        Check.that(vs == versions.keys.toSeq.sorted,
          s"DESCRIBE HISTORY lists versions ${vs.mkString(",")}, " +
            s"expected 0..${versions.size - 1}")
        Check.that(rows.forall(_.getString(1).startsWith("scd_apply")),
          "DESCRIBE HISTORY lists an operation other than scd_apply")
      }
    })
    Seq(active, point, asOf, history)
  }

  /** One daily batch and the reads after it, built once the operations
    * before it have run, so that the batch's changes are made against
    * the latest state.
    */
  private def dailyOps(): Iterator[Op] = {
    val keys = allKeys
    val batch = dailyBatch(keys)
    Iterator(Op(write = true, "daily_batch", batch.size, applyBatch(batch))) ++ reads(keys)
  }

  /** Two daily batches with their reads: after the bootstrap and the TEST
    * base, the first batches still take up to 1.5 times the steady time.
    */
  def warmup(): Iterator[Op] = Iterator.range(0, 2).flatMap(_ => dailyOps())

  /** [[DaysPerRound]] daily batches, each followed by its reads, then the
    * TEST replay.
    */
  def round(): Iterator[Op] = {
    val days = Iterator.range(0, DaysPerRound).flatMap(_ => dailyOps())
    days ++ Iterator.single(Op(write = true, "test_replay", TestScenario.Replayed, () => {
      testRuns += 1
      TestScenario.replay(spark, testBase, s"$testBase-$testRuns")
      () => ()
    }, scored = false))
  }

  /** The whole table at the latest version against the model. */
  def finish(): Unit = {
    val rows = table.snapshot().selectExpr(FullCols.split(", ").toSeq: _*).collect()
      .map(fullRow).toSeq
    Check.sameMultiset("table", rows.map(_._1), model.rows)
    Check.scdInvariants(rows, IdentityStart)
    rows.foreach { case (d, sk, _, _) => checkSurrogate(d, sk) }
  }

  def endGauges(): Map[String, Double] = {
    val v = table.table.latestVersion.get
    Map("lake.live_files" -> table.table.files(v).size.toDouble,
      "lake.versions" -> (v + 1).toDouble)
  }
}

object ScdDaily {
  val Keys = 2000
  val Buckets = 8
  /** Buckets a daily batch leaves out, chosen at random per batch. */
  val Untouched = 2
  /** A daily batch: 40 % SCD2 changes, 25 % SCD1-only changes, 20 %
    * exact duplicates, 15 % new keys.
    */
  val BatchRows = 200
  val Scd2Rows = 80
  val Scd1Rows = 50
  val DupRows = 40
  /** Daily batches per round (each followed by its reads); the TEST
    * replay closes the round.
    */
  val DaysPerRound = 2
}

/** The TEST scenario (three batches of `account_src`) replayed into a
  * fresh table and compared with its golden end states: 5 rows after
  * the second batch, 6 after the third.
  */
object TestScenario {
  private def ts(s: String) = Timestamp.valueOf(s).getTime
  private def row(id: Long, stock: String, units: Long, platform: String, reg: String,
      mod: String) = SrcRow(id, stock, units, platform, ts(reg), ts(mod))
  private def dim(id: Long, stock: String, units: Long, platform: String, status: String,
      from: String, to: Option[String]) =
    (id, stock, units, platform, status, ts(from), to.map(ts))

  val Day1 = Seq(
    row(1, "Google", 0, "Kite", "2015-12-25 10:05:30", "2025-05-10 10:05:20"),
    row(1, "BTC", 0, "Binance", "2016-12-25 11:05:30", "2025-05-11 10:05:20"),
    row(3, "ETH", 20, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20"))
  val Day2 = Seq(
    row(1, "Google", 100, "Kite", "2015-12-25 10:05:30", "2025-05-12 10:05:20"),
    row(1, "BTC", 171, "Binance", "2016-12-25 11:05:30", "2025-05-12 10:05:20"),
    row(3, "ETH", 20, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20"))
  val Day3 = Seq(
    row(1, "Google", 100, "CoinSwitch", "2015-12-25 10:05:30", "2025-05-13 10:05:20"),
    row(1, "BTC", 200, "CoinSwitch", "2016-12-25 11:05:30", "2025-05-13 10:05:20"))

  /** `incremental_run_1.png`. */
  val Golden2 = Seq(
    dim(1, "Google", 0, "Kite", "I", "2015-12-25 10:05:30", Some("2025-05-12 10:05:20")),
    dim(1, "Google", 100, "Kite", "A", "2025-05-12 10:05:20", None),
    dim(1, "BTC", 0, "Binance", "I", "2016-12-25 11:05:30", Some("2025-05-12 10:05:20")),
    dim(1, "BTC", 171, "Binance", "A", "2025-05-12 10:05:20", None),
    dim(3, "ETH", 20, "Binance", "A", "2016-12-26 12:07:35", None))
  /** `incremental_run_2.png`. */
  val Golden3 = Seq(
    dim(1, "Google", 0, "Kite", "I", "2015-12-25 10:05:30", Some("2025-05-12 10:05:20")),
    dim(1, "Google", 100, "CoinSwitch", "A", "2025-05-12 10:05:20", None),
    dim(1, "BTC", 0, "Binance", "I", "2016-12-25 11:05:30", Some("2025-05-12 10:05:20")),
    dim(1, "BTC", 171, "Binance", "I", "2025-05-12 10:05:20", Some("2025-05-13 10:05:20")),
    dim(1, "BTC", 200, "CoinSwitch", "A", "2025-05-13 10:05:20", None),
    dim(3, "ETH", 20, "Binance", "A", "2016-12-26 12:07:35", None))

  private def clock(day: Int) = Instant.parse(f"2025-05-$day%02dT12:00:00Z").toEpochMilli
  private def table(spark: SparkSession, path: String) = new IncrementalScdTable(spark, path,
    ScdDaily.Buckets, identityCol = Some("account_key"), identityStart = ScdShape.IdentityStart)
  private def state(t: IncrementalScdTable) = t.snapshot()
    .selectExpr(ScdShape.FullCols.split(", ").toSeq: _*).collect().map(ScdShape.fullRow).toSeq
  private def business(rows: Seq[(DimRow, Long, String, String)]) = rows.map { case (d, _, _, _) =>
    (d.id, d.stock, d.units, d.platform, d.status, d.effFrom, d.effTo)
  }
  /** TEST's batches come from `account_src`, whose `id` is BIGINT. */
  private def apply(spark: SparkSession, t: IncrementalScdTable, batch: Seq[SrcRow],
      day: Int): Unit = t.applyScd(ScdShape.frame(spark, batch, LongType), ScdShape.config(clock(day)))

  /** Rows the replay applies. */
  val Replayed: Long = (Day2 ++ Day3).size.toLong

  /** The first batch into a fresh table of [[ScdDaily.Buckets]] buckets at
    * `path`, checked against the model.
    */
  def base(spark: SparkSession, path: String): Unit = {
    val t = table(spark, path)
    t.create(ScdShape.target)
    apply(spark, t, Day1, 11)
    Check.sameMultiset("TEST after the first batch", state(t).map(_._1),
      ScdModel.empty(Day1, clock(11)).rows)
  }

  /** The second and third batches applied to a copy (at `path`) of the
    * table [[base]] made, each compared with its golden state. A
    * mismatch throws: the inputs are fixed, so the replay fails in every
    * round or in none. With TEST's own types it fails: `applyScd` picks
    * the buckets to rewrite from the source's BIGINT `id` while rows are
    * laid out by the table's INT `id`, so the second batch misses BTC's
    * bucket and leaves two active BTC rows.
    */
  def replay(spark: SparkSession, base: String, path: String): Unit = {
    val from = java.nio.file.Paths.get(base)
    val to = java.nio.file.Paths.get(path)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
    try {
      val t = table(spark, path)
      apply(spark, t, Day2, 12)
      val s2 = state(t)
      Check.sameMultiset("TEST after the second batch", business(s2), Golden2)
      apply(spark, t, Day3, 13)
      val s3 = state(t)
      Check.sameMultiset("TEST after the third batch", business(s3), Golden3)
      Check.scdInvariants(s3, ScdShape.IdentityStart)
      def googleKey(s: Seq[(DimRow, Long, String, String)]) =
        s.find(r => r._1.stock == "Google" && r._1.status == "A").map(_._2)
      Check.that(googleKey(s3) == googleKey(s2),
        "TEST: the SCD1 update changed Google's surrogate key")
    } finally Main.deleteTree(to.toFile)
  }
}
