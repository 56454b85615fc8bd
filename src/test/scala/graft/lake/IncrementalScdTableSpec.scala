package graft.lake

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.scd.{ScdApply, ScdConfig}

/** SCD over manifest-committed incremental files: state equivalence
  * with the reference's merges over an unbucketed table, file-reference
  * carry-over for untouched buckets, time travel across batches, vacuum.
  */
class IncrementalScdTableSpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)) ++
    ScdConfig.SystemCols.map(c => StructField(c,
      if (c == "record_status" || c.endsWith("_key")) StringType else TimestampType)))

  private val cfg = ScdConfig(pkCols = Seq("k"), scdKeyCols = Seq("v"),
    selectCols = Some(Seq("k", "v")))

  private def batch(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }
  private def at(day: Int) =
    cfg.copy(clock = () => Instant.parse(f"2025-08-$day%02dT00:00:00Z"))

  test("applyScd holds the merged slice in FILES, not executor block " +
    "storage: no checkpoint RDD survives the batch, the _tmp scratch " +
    "dir is removed, and a batch works with an identity column") {
    val dir = Files.createTempDirectory("iscd_tmp").toString
    val inc = new IncrementalScdTable(spark, s"$dir/inc", numBuckets = 4,
      identityCol = Some("sk"), identityStart = 100L)
    inc.create(StructType(StructField("sk", LongType) +: schema.fields))
    import spark.implicits._
    def withSk(rows: (Long, String)*) =
      rows.toDF("k", "v").withColumn("sk",
        org.apache.spark.sql.functions.lit(null).cast("long"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    inc.applyScd(withSk((1L, "a"), (2L, "b"), (3L, "c")), at(1))
    inc.applyScd(withSk((1L, "a2"), (9L, "z")), at(2))
    // the old localCheckpoint pinned the slice in non-replicated
    // executor block storage (lost with the executor, taxing exactly
    // the memory the merge needs) — the file-backed path must leave
    // nothing persisted behind
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore,
      "applyScd must not leave checkpoint/cached RDDs behind")
    val tmp = new java.io.File(s"$dir/inc/_tmp")
    assert(!tmp.exists() || tmp.listFiles().isEmpty,
      s"scratch slice dirs must be deleted: ${Option(tmp.listFiles())
        .map(_.mkString(",")).getOrElse("")}")
    val snap = inc.snapshot()
    assert(snap.count() === 5L) // 3 + closed(1) + new version(1) + new key...
    assert(snap.filter("sk is null").count() === 0L,
      "identity allocation must fill every surrogate key")
    assert(snap.select("sk").distinct().count() === snap.count(),
      "surrogate keys must be unique")
    assert(snap.agg(org.apache.spark.sql.functions.min("sk")).head().getLong(0) >= 100L)
    // the published watermark is derived in CLOSED FORM from the
    // allocation counts (never a max() re-execution of the allocation
    // plan) — it must still equal the true max assigned id
    val wm = inc.identityWatermark
    val trueMax = snap.agg(org.apache.spark.sql.functions.max("sk"))
      .head().getLong(0)
    assert(wm === trueMax,
      s"closed-form watermark $wm must equal the max assigned id $trueMax")
  }

  test("incremental apply equals the plain table's state; time travel works") {
    // the "plain" state: the reference's delta_merge port folded over
    // one unbucketed snapshot, batch by batch
    val dir = Files.createTempDirectory("iscd").toString
    val inc = new IncrementalScdTable(spark, s"$dir/inc", numBuckets = 8)
    inc.create(schema)

    val batches = Seq(
      batch((1L, "a"), (2L, "b"), (3L, "c"), (17L, "q")),
      batch((1L, "a2"), (3L, "c"), (99L, "z")),
      batch((2L, "b9"), (99L, "z2"), (1L, "a2")))
    val plain = batches.zipWithIndex.foldLeft(inc.snapshot()) {
      case (state, (b, i)) => ScdApply.viaMerges(state, b, at(i + 1)).next.localCheckpoint()
    }
    val versions = batches.zipWithIndex.map { case (b, i) => inc.applyScd(b, at(i + 1)) }
    assert(versions === Seq(0L, 1L, 2L))

    val cols = schema.fieldNames.map(org.apache.spark.sql.functions.col)
    val p = plain.select(cols: _*).orderBy("k", "effective_from").collect()
    val q = inc.snapshot().select(cols: _*).orderBy("k", "effective_from").collect()
    assert(q.toSeq === p.toSeq)
    assert(p.nonEmpty)

    // time travel: version 0 has only batch-1 keys, all active — the
    // day-1 dimension as the reference's CTAS day snapshot kept it
    val v0 = inc.snapshotAt(0L)
    assert(v0.select("k").distinct().count() === 4L)
    assert(v0.filter(org.apache.spark.sql.functions.col("record_status") =!= "A").count() === 0L)
    assert(v0.filter("k = 1").select("v").head().getString(0) === "a")
    // one history entry per batch, newest first
    assert(inc.table.history().collect().map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    assert(inc.table.history().collect().forall(_.getString(1).startsWith("scd_apply[")))
  }

  test("untouched buckets' files are re-referenced, not rewritten") {
    val dir = Files.createTempDirectory("iscd2").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 16)
    t.create(schema)
    t.applyScd(batch((1L to 40L).map(k => (k, s"v$k")): _*), at(1))
    val v0Files = t.table.files(0L).toSet
    // second batch touches one key -> few buckets
    t.applyScd(batch((1L, "CHANGED")), at(2))
    val v1Files = t.table.files(1L).toSet
    val carried = v0Files intersect v1Files
    assert(carried.nonEmpty, "expected untouched bucket files to carry over")
    assert((v1Files -- v0Files).nonEmpty, "expected new files for the touched bucket")
    // the touched bucket's old files are gone from the new manifest
    val touchedDirs = (v0Files -- v1Files).map(_.split('/').head)
    assert((v1Files -- v0Files).forall(f => touchedDirs.contains(f.split('/').head)),
      "new files must be confined to the touched buckets")
  }

  test("snapshotOfBuckets prunes at FILE level through the manifest: " +
    "only the named buckets' files are scanned, content matches the slice") {
    val dir = Files.createTempDirectory("iscd_prune").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 16)
    t.create(schema)
    t.applyScd(batch((1L to 40L).map(k => (k, s"v$k")): _*), at(1))
    val pruned = t.snapshotOfBuckets(Seq(3))
    assert(pruned.inputFiles.nonEmpty, "bucket 3 should hold keys")
    assert(pruned.inputFiles.forall(_.contains("__bucket=3")),
      s"scan must touch only bucket 3's files: ${pruned.inputFiles.toSeq}")
    import org.apache.spark.sql.functions._
    val expected = t.snapshot()
      .filter(pmod(hash(col("k")), lit(16)) === 3)
      .select("k", "v").orderBy("k").collect()
    assert(pruned.select("k", "v").orderBy("k").collect().toSeq ===
      expected.toSeq)
  }

  test("empty source batch on a brand-new table: no commit, snapshot stays readable") {
    val dir = Files.createTempDirectory("iscd_empty").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4)
    t.create(schema)
    assert(t.applyScd(batch(), at(1)) === -1L) // no zero-file v0 committed
    assert(t.table.latestVersion === None)
    val snap = t.snapshot() // must not throw
    assert(snap.count() === 0L)
    assert(snap.schema.fieldNames.toSeq === schema.fieldNames.toSeq)
    // table still works normally afterwards
    assert(t.applyScd(batch((1L, "a")), at(2)) === 0L)
    assert(t.snapshot().count() === 1L)
    // and an empty batch on a non-empty table no-ops at the current version
    assert(t.applyScd(batch(), at(3)) === 0L)
  }

  test("identity watermark rides the manifest: unique ascending ids, O(1) allocation") {
    val idSchema = StructType(StructField("row_id", LongType) +: schema.fields)
    val dir = Files.createTempDirectory("iscd_id").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4,
      identityCol = Some("row_id"), identityStart = 10L)
    t.create(idSchema)

    def batchWithId(rows: (Long, String)*): DataFrame = {
      import org.apache.spark.sql.functions.{col => c, lit}
      batch(rows: _*).withColumn("row_id", lit(null).cast("long"))
        .select(c("row_id"), c("k"), c("v"))
    }
    t.applyScd(batchWithId((1L, "a"), (2L, "b")), at(1))
    val ids1 = t.snapshot().select("row_id").collect().map(_.getLong(0)).toSeq
    assert(ids1.size === 2 && ids1.distinct.size === 2)
    assert(ids1.forall(_ >= 10L), s"ids must start at identityStart: $ids1")
    val wm1 = t.identityWatermark
    assert(wm1 === ids1.max)
    assert(t.table.metaAt(t.table.latestVersion.get)("id_watermark") === wm1.toString)

    // batch 2: change k=1 (new version row gets a fresh id), insert k=9
    t.applyScd(batchWithId((1L, "a2"), (9L, "z")), at(2))
    val all2 = t.snapshot().select("row_id", "k", "v", "record_status").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    val ids2 = all2.map(_._1)
    assert(ids2.distinct.size === ids2.size, s"duplicate surrogate ids: $all2")
    // the untouched row (k=2) keeps its original id
    val k2id = all2.filter(_._2 == 2L).map(_._1)
    assert(k2id.toSeq.forall(ids1.contains), "untouched row's id changed")
    // new rows exceed the previous watermark
    val fresh = ids2.filterNot(ids1.contains)
    assert(fresh.nonEmpty && fresh.forall(_ > wm1))
    assert(t.identityWatermark === ids2.max)

    // a compact commit (no meta) must not reset the watermark
    t.table.compact(targetFiles = 1)
    assert(t.identityWatermark === ids2.max)
    t.applyScd(batchWithId((50L, "w")), at(3))
    val ids3 = t.snapshot().select("row_id").collect().map(_.getLong(0)).toSeq
    assert(ids3.distinct.size === ids3.size)
  }

  test("identity START WITH / INCREMENT BY persist as table config (TEST:41 parity)") {
    val idSchema = StructType(StructField("row_id", LongType) +: schema.fields)
    val dir = Files.createTempDirectory("iscd_start").toString
    val path = s"$dir/t"
    // the reference DDL: GENERATED ALWAYS AS IDENTITY (START WITH 10),
    // plus a non-1 step to pin the increment arithmetic
    new IncrementalScdTable(spark, path, numBuckets = 4,
      identityCol = Some("row_id"), identityStart = 10L, identityStep = 5L)
      .create(idSchema)
    def batchWithId(rows: (Long, String)*): DataFrame = {
      import org.apache.spark.sql.functions.{col => c, lit}
      batch(rows: _*).withColumn("row_id", lit(null).cast("long"))
        .select(c("row_id"), c("k"), c("v"))
    }
    // a DIFFERENT instance with NO identity arguments allocates from
    // the persisted declaration — the config is the table's, not the
    // constructing session's
    val t = new IncrementalScdTable(spark, path, numBuckets = 4)
    t.applyScd(batchWithId((1L, "a"), (2L, "b"), (3L, "c")), at(1))
    val ids1 = t.snapshot().select("row_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids1 === Seq(10L, 15L, 20L),
      s"first ids must be START, START+STEP, …: $ids1")
    // survives compaction (a commit carrying no counter meta)
    t.table.compact(targetFiles = 1)
    assert(t.identityWatermark === 20L)
    // survives restore: the walk still finds the newest counter
    t.applyScd(batchWithId((9L, "z")), at(2))
    assert(t.identityWatermark === 25L)
    t.table.restore(t.table.latestVersion.get - 1)
    val t2 = new IncrementalScdTable(spark, path, numBuckets = 4)
    assert(t2.identityWatermark === 25L,
      "restore must not regress the identity counter")
    t2.applyScd(batchWithId((77L, "w")), at(3))
    val all = t2.snapshot().select("row_id").collect().map(_.getLong(0)).toSeq
    assert(all.distinct.size === all.size)
    assert(all.forall(id => (id - 10L) % 5L === 0L),
      s"every id must be START + k*STEP: $all")
    assert(all.max > 25L)
  }

  test("racing identity batches never assign overlapping ids or regress the watermark") {
    val idSchema = StructType(StructField("row_id", LongType) +: schema.fields)
    val dir = Files.createTempDirectory("iscd_race").toString
    val path = s"$dir/t"
    val t = new IncrementalScdTable(spark, path, numBuckets = 8,
      identityCol = Some("row_id"), identityStart = 1L)
    t.create(idSchema)
    def batchWithId(rows: (Long, String)*): DataFrame = {
      import org.apache.spark.sql.functions.{col => c, lit}
      batch(rows: _*).withColumn("row_id", lit(null).cast("long"))
        .select(c("row_id"), c("k"), c("v"))
    }
    t.applyScd(batchWithId((1L, "seed")), at(1))

    // two batches with disjoint keys race from the same stale watermark:
    // the loser must throw CommitConflictException (its assigned ids may
    // collide with the winner's) rather than publish — a blind rebase
    // would regress the counter and reuse ids
    val keySets = Seq((100L to 104L).toSeq, (200L to 204L).toSeq)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val threads = keySets.zipWithIndex.map { case (keys, i) =>
      new Thread(() => {
        val mine = new IncrementalScdTable(spark, path, numBuckets = 8,
          identityCol = Some("row_id"), identityStart = 1L)
        barrier.await()
        try mine.applyScd(batchWithId(keys.map(k => (k, s"v$k")): _*), at(2 + i))
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    // only the documented conflict may surface, and losers may re-run
    import scala.jdk.CollectionConverters._
    assert(failures.asScala.forall(_.isInstanceOf[CommitConflictException]),
      s"unexpected failure kinds: ${failures.asScala.map(_.toString)}")
    keySets.foreach { keys =>
      // a loser's rows never landed; its retry sees the fresh watermark
      val present = t.snapshot()
        .filter(org.apache.spark.sql.functions.col("k").isin(keys: _*)).count()
      if (present == 0L)
        t.applyScd(batchWithId(keys.map(k => (k, s"v$k")): _*), at(9))
    }
    val rows = t.snapshot().select("row_id").collect().map(_.getLong(0)).toSeq
    assert(rows.size === 11, s"expected 11 rows, got ${rows.size}")
    assert(rows.distinct.size === rows.size, s"duplicate surrogate ids: $rows")
    assert(t.identityWatermark >= rows.max,
      "watermark regressed below the max assigned id")
  }

  test("bucket-local compaction rewrites only fat buckets, state intact") {
    val dir = Files.createTempDirectory("iscd_cmp").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4)
    t.create(schema)
    // seed every bucket, then hammer ONE key under a tiny
    // maxRecordsPerFile so the hot bucket's staged slice SPLITS —
    // applyScd itself keeps one file per touched bucket per batch
    // (bucket-aligned staging), so splitting is how buckets get fat
    t.applyScd(batch((1L to 20L).map(k => (k, s"v$k")): _*), at(1))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try (2 to 8).foreach(d => t.applyScd(batch((1L, s"change$d")), at(d)))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val before = t.snapshot().orderBy("k", "effective_from", "record_status")
      .collect().toSeq
    val hotDir = {
      val byB = t.table.files(t.table.latestVersion.get).groupBy(_.split('/').head)
      byB.maxBy(_._2.size)
    }
    assert(hotDir._2.size > 2, s"setup should fatten a bucket: $hotDir")

    val v = t.compactBuckets(maxFilesPerBucket = 2)
    assert(v.isDefined)
    val after = t.table.files(t.table.latestVersion.get).groupBy(_.split('/').head)
    assert(after(hotDir._1).size <= 2, s"hot bucket not compacted: ${after(hotDir._1)}")
    // buckets that were NOT fat keep their exact file references
    val prevByB = t.table.files(v.get - 1).groupBy(_.split('/').head)
    val fatDirs = prevByB.filter(_._2.size > 2).keySet
    val thin = t.table.files(v.get).filterNot(f => fatDirs.contains(f.split('/').head))
    assert(thin.toSet.subsetOf(t.table.files(v.get - 1).toSet))
    // state identical
    assert(t.snapshot().orderBy("k", "effective_from", "record_status")
      .collect().toSeq === before)
    // nothing needs compacting now
    assert(t.compactBuckets(maxFilesPerBucket = 2) === None)
  }

  test("compactBuckets honors deletion vectors: DV-deleted rows stay deleted") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("iscd_dv").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 2)
    t.create(schema)
    // fatten both buckets: a tiny maxRecordsPerFile splits each staged
    // slice (applyScd alone keeps one file per touched bucket)
    t.applyScd(batch((1L to 12L).map(k => (k, s"v$k")): _*), at(1))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try (2 to 6).foreach(d =>
      t.applyScd(batch((1L, s"c$d"), (2L, s"d$d")), at(d)))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // merge-on-read delete of one key's rows — no file rewritten
    t.table.deleteVector(col("k") === 3L)
    val expect = t.snapshot().orderBy("k", "effective_from", "record_status")
      .collect().toSeq
    assert(t.snapshot().filter("k = 3").count() === 0L)
    // compaction rewrites the fat buckets; the DV-deleted rows must not
    // come back with them
    assert(t.compactBuckets(maxFilesPerBucket = 2).isDefined)
    assert(t.snapshot().filter("k = 3").count() === 0L,
      "compactBuckets resurrected DV-deleted rows")
    assert(t.snapshot().orderBy("k", "effective_from", "record_status")
      .collect().toSeq === expect)
  }

  test("vacuum drops files of expired versions but keeps the kept ones readable") {
    val dir = Files.createTempDirectory("iscd3").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4)
    t.create(schema)
    t.applyScd(batch((1L, "a"), (2L, "b")), at(1))
    t.applyScd(batch((1L, "a2")), at(2))
    t.table.vacuum(keepLast = 1)
    assert(t.snapshot().count() === 3L) // 1:a(I), 1:a2(A), 2:b(A)
    assertThrows[Exception](t.snapshotAt(0L).collect())
  }

  test("vacuum reaps a crashed batch's orphaned _tmp slice dir past " +
    "the staging retention, and spares a recent one") {
    val dir = Files.createTempDirectory("iscd_tmporphan").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4)
    t.create(schema)
    t.applyScd(batch((1L, "a")), at(1))
    val old = new java.io.File(s"$dir/t/_tmp/slice-deadbeef")
    val fresh = new java.io.File(s"$dir/t/_tmp/slice-cafe0001")
    old.mkdirs(); fresh.mkdirs()
    assert(old.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    t.table.vacuum(keepLast = 1)
    assert(!old.exists(),
      "an orphan past the retention window must be reaped")
    assert(fresh.exists(),
      "a recent dir may belong to a LIVE batch — must survive")
  }

  test("end-to-end crash between slice write and commit: no version " +
    "commits, the re-run equals a never-crashed control, and vacuum " +
    "reaps the orphan without touching live data") {
    val dir = Files.createTempDirectory("iscd_crash").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4)
    t.create(schema)
    t.applyScd(batch((1L, "a"), (2L, "b")), at(1))
    val v1 = t.table.latestVersion.get
    // "kill" the JVM after the scratch slice is written, before commit
    IncrementalScdTable.testCrashAfterSliceWrite = true
    try intercept[RuntimeException](
      t.applyScd(batch((1L, "a2"), (3L, "c")), at(2)))
    finally IncrementalScdTable.testCrashAfterSliceWrite = false
    val tmp = new java.io.File(s"$dir/t/_tmp")
    val orphans = tmp.listFiles().filter(_.getName.startsWith("slice-"))
    assert(orphans.length === 1, "the crash must orphan its slice dir")
    assert(t.table.latestVersion.get === v1,
      "the crashed batch must not have committed anything")
    // re-run the batch (same clock — nothing committed in between)
    t.applyScd(batch((1L, "a2"), (3L, "c")), at(2))
    val ctl = new IncrementalScdTable(spark, s"$dir/ctl", numBuckets = 4)
    ctl.create(schema)
    ctl.applyScd(batch((1L, "a"), (2L, "b")), at(1))
    ctl.applyScd(batch((1L, "a2"), (3L, "c")), at(2))
    def canon(x: IncrementalScdTable) = x.snapshot()
      .orderBy("k", "effective_from", "record_status").collect().toSeq
    val expect = canon(ctl)
    assert(canon(t) === expect,
      "the re-run after a crash must produce the clean run's state")
    // the orphan is scratch only: it survived the successful re-run
    // (a LIVE writer's dir may be recent) and goes at vacuum once past
    // the staging retention
    assert(orphans.head.exists(), "commits must not touch foreign scratch")
    assert(orphans.head.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    t.table.vacuum(keepLast = 1)
    assert(!orphans.head.exists(), "vacuum must reap the crash orphan")
    assert(canon(t) === expect, "vacuum must not touch live data")
  }

  test("emitChangeData feeds the SCD merge through changes()") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("iscd_cdf").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 4,
      emitChangeData = true)
    t.create(schema)
    t.applyScd(batch((1L, "a"), (2L, "b")), at(1)) // v0: two inserts
    t.applyScd(batch((1L, "a2"), (3L, "c")), at(2)) // v1: update k=1, insert k=3

    // v0: everything is an insert
    val v0 = t.table.changes(-1L, 0L).select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v0 === Set((1L, "insert"), (2L, "insert")))

    // v1 rewrites the touched bucket, but the CDC sidecar makes the
    // feed traversable: k=3 inserts; k=1's old active row is the
    // preimage, its closed copy AND its new active row are postimages
    val v1 = t.table.changes(0L, 1L)
      .select("k", "v", "record_status", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(v1.count(_ == ((3L, "c", "A", "insert"))) === 1)
    assert(v1.count(x => x._1 == 1L && x._4 == "update_preimage") === 1)
    assert(v1.filter(x => x._1 == 1L && x._4 == "update_postimage")
      .map(x => (x._2, x._3)).toSet === Set(("a", "I"), ("a2", "A")))
    assert(v1.length === 4)
    // full-range feed unions both versions
    assert(t.table.changes(-1L, 1L).count() === 6L)
    // a CDC-less DATA-CHANGING rewrite stays untraversable (while
    // datachange=false maintenance is skipped): ChangeFeedSpec pins both
  }

  test("TEST batches from a BIGINT source into an 8-bucket INT-keyed table " +
    "reach the golden states: touched buckets come from the table-typed key") {
    import java.sql.Timestamp
    import org.apache.spark.sql.Row
    def ts(s: String) = Timestamp.valueOf(s)
    // account_scd2 (id INT, identity START WITH 10) fed by account_src
    // (id BIGINT), test_scd_handler.py:40-69
    val dimSchema = StructType(Seq(
      StructField("account_key", LongType), StructField("id", IntegerType),
      StructField("stock_name", StringType), StructField("units", IntegerType),
      StructField("platform", StringType)) ++
      ScdConfig.SystemCols.map(c => StructField(c,
        if (c == "record_status" || c.endsWith("_key")) StringType else TimestampType)))
    val srcSchema = StructType(Seq(
      StructField("id", LongType), StructField("stock_name", StringType),
      StructField("units", LongType), StructField("platform", StringType),
      StructField("reg_ts", TimestampType), StructField("last_modify_ts", TimestampType)))
    def src(rows: (Long, String, Long, String, String, String)*) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, sn, u, p, r, m) =>
        Row(id, sn, u, p, ts(r), ts(m)) }: _*), srcSchema)
    def run(day: Int) = ScdConfig(
      pkCols = Seq("id", "stock_name"), scdKeyCols = Seq("units"),
      selectCols = Some(Seq("id", "stock_name", "units", "platform")),
      effectiveFromCol = Some("last_modify_ts"), initialEffDateCol = Some("reg_ts"),
      clock = () => Instant.parse(f"2025-05-$day%02dT12:00:00Z"))
    val dir = Files.createTempDirectory("iscd_test_types").toString
    val t = new IncrementalScdTable(spark, s"$dir/account_scd2", numBuckets = 8,
      identityCol = Some("account_key"), identityStart = 10L)
    t.create(dimSchema)
    def state = t.snapshot().collect().map(r => (r.getAs[Int]("id").toLong,
      r.getAs[String]("stock_name"), r.getAs[Int]("units").toLong,
      r.getAs[String]("platform"), r.getAs[String]("record_status"),
      r.getAs[Timestamp]("effective_from"),
      Option(r.getAs[Timestamp]("effective_to")))).toSeq.sortBy(_.toString)
    def golden(rows: (Long, String, Long, String, String, String, Option[String])*) =
      rows.map(g => (g._1, g._2, g._3, g._4, g._5, ts(g._6), g._7.map(ts)))
        .sortBy(_.toString)

    t.applyScd(src(
      (1L, "Google", 0L, "Kite", "2015-12-25 10:05:30", "2025-05-10 10:05:20"),
      (1L, "BTC", 0L, "Binance", "2016-12-25 11:05:30", "2025-05-11 10:05:20"),
      (3L, "ETH", 20L, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20")), run(11))
    t.applyScd(src(
      (1L, "Google", 100L, "Kite", "2015-12-25 10:05:30", "2025-05-12 10:05:20"),
      (1L, "BTC", 171L, "Binance", "2016-12-25 11:05:30", "2025-05-12 10:05:20"),
      (3L, "ETH", 20L, "Binance", "2016-12-26 12:07:35", "2025-05-11 10:05:20")), run(12))
    // incremental_run_1.png
    assert(state === golden(
      (1L, "Google", 0L, "Kite", "I", "2015-12-25 10:05:30", Some("2025-05-12 10:05:20")),
      (1L, "Google", 100L, "Kite", "A", "2025-05-12 10:05:20", None),
      (1L, "BTC", 0L, "Binance", "I", "2016-12-25 11:05:30", Some("2025-05-12 10:05:20")),
      (1L, "BTC", 171L, "Binance", "A", "2025-05-12 10:05:20", None),
      (3L, "ETH", 20L, "Binance", "A", "2016-12-26 12:07:35", None)))
    t.applyScd(src(
      (1L, "Google", 100L, "CoinSwitch", "2015-12-25 10:05:30", "2025-05-13 10:05:20"),
      (1L, "BTC", 200L, "CoinSwitch", "2016-12-25 11:05:30", "2025-05-13 10:05:20")), run(13))
    // incremental_run_2.png
    val s3 = state
    assert(s3 === golden(
      (1L, "Google", 0L, "Kite", "I", "2015-12-25 10:05:30", Some("2025-05-12 10:05:20")),
      (1L, "Google", 100L, "CoinSwitch", "A", "2025-05-12 10:05:20", None),
      (1L, "BTC", 0L, "Binance", "I", "2016-12-25 11:05:30", Some("2025-05-12 10:05:20")),
      (1L, "BTC", 171L, "Binance", "I", "2025-05-12 10:05:20", Some("2025-05-13 10:05:20")),
      (1L, "BTC", 200L, "CoinSwitch", "A", "2025-05-13 10:05:20", None),
      (3L, "ETH", 20L, "Binance", "A", "2016-12-26 12:07:35", None)))
    assert(s3.count(r => r._2 == "BTC" && r._5 == "A" && r._7.isEmpty) === 1)
  }

  test("the slice plan applyScd writes has exactly one shuffle exchange " +
    "and no join: split and both merges run as one per-key pass") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.SparkPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val slicePlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // the write runs under AQE as a whole (its query shuffles): search
    // through adaptive plans and query stages for the slice write
    def sliceWrites(p: SparkPlan): Seq[SparkPlan] = helper.collect(p) {
      case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, child)
          if cmd.outputPath.toString.contains("/_tmp/slice-") => child
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        roots.add(qe.executedPlan.nodeName)
        sliceWrites(qe.executedPlan).foreach(slicePlans.add)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    val dir = Files.createTempDirectory("iscd_plan").toString
    val t = new IncrementalScdTable(spark, s"$dir/t", numBuckets = 8)
    t.create(schema)
    spark.listenerManager.register(listener)
    try {
      t.applyScd(batch((1L to 30L).map(k => (k, s"v$k")): _*), at(1))
      t.applyScd(batch((1L, "a2"), (2L, "v2"), (3L, "c3"), (99L, "z")), at(2))
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 30000
      while (slicePlans.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val plans = slicePlans.asScala.toSeq
    assert(plans.size === 2,
      s"expected one slice write per batch; plans seen: ${roots.asScala.mkString(", ")}")
    plans.foreach { p =>
      val nodes = helper.collectWithSubqueries(p) { case n => n }
      assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) === 1, s"\n$p")
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), s"join in the slice plan:\n$p")
    }
  }
}
