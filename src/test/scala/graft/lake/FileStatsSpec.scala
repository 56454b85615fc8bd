package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Manifest-level data skipping: footer-harvested min/max/null stats
  * prune data files before the scan, results stay identical to the
  * unpruned filter, and anything unprovable keeps the file.
  */
class FileStatsSpec extends AnyFunSuite with SparkSpec {

  /** Table with 4 disjoint id ranges, one file each (appends). */
  private def rangedTable(): IncrementalTable = {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    (0 until 4).foreach { i =>
      val lo = i * 100L
      t.append((lo until lo + 100L).map(id => (id, s"tag$id", (id % 7).toDouble))
        .toDF("id", "tag", "score").coalesce(1))
    }
    t
  }

  test("scan prunes to the one possible file; result matches unpruned filter") {
    val t = rangedTable()
    val all = t.files(t.latestVersion.get)
    assert(all.size === 4)
    val pred = col("id") >= 210L && col("id") < 240L
    assert(t.prunedFiles(all, Seq(pred)).size === 1)
    val scanned = t.scan(pred)
    assert(scanned.inputFiles.length === 1)
    val expect = t.snapshot().filter(pred).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(scanned.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === expect)
    assert(expect.size === 30)
  }

  test("impossible predicate reads zero files but keeps the schema") {
    val t = rangedTable()
    val none = t.scan(col("id") > 10000L)
    assert(none.count() === 0L)
    assert(none.schema.fieldNames.toSeq === Seq("id", "tag", "score"))
  }

  test("equality, IN, string range, and disjunction prune correctly") {
    val t = rangedTable()
    val all = t.files(t.latestVersion.get)
    assert(t.prunedFiles(all, Seq(col("id") === 150L)).size === 1)
    assert(t.prunedFiles(all, Seq(col("id").isin(5L, 305L))).size === 2)
    // disjunction: union of the two files' ranges
    assert(t.prunedFiles(all, Seq(col("id") === 5L || col("id") === 399L)).size === 2)
    // string bounds: tag values are unordered vs id, but min/max still bound
    assert(t.scan(col("tag") === "tag123").count() === 1L)
    // a non-prunable predicate keeps everything (no skip, same answer)
    assert(t.prunedFiles(all, Seq(length(col("tag")) === lit(6))).size === 4)
  }

  test("files without stats rows are always kept") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_ns_").toString + "/t"
    val noStats = new IncrementalTable(spark, dir, collectStats = false)
    noStats.append(Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    val withStats = new IncrementalTable(spark, dir) // same path, stats on
    withStats.append(Seq((1000L, "z")).toDF("id", "tag").coalesce(1))
    val all = withStats.files(withStats.latestVersion.get)
    assert(all.size === 2)
    // the stats-less first file must survive any predicate
    val pruned = withStats.prunedFiles(all, Seq(col("id") >= 500L))
    assert(pruned.size === 2)
    assert(withStats.scan(col("id") >= 500L).count() === 1L)
  }

  test("null counts prune IS NULL; all-null files keep NULL bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_null_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    t.append(Seq((1L, Some("x")), (2L, Some("y"))).toDF("id", "tag").coalesce(1))
    t.append(Seq((3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("id", "tag").coalesce(1))
    val all = t.files(t.latestVersion.get)
    assert(t.prunedFiles(all, Seq(col("tag").isNull)).size === 1)
    assert(t.scan(col("tag").isNull).count() === 2L)
    // range predicate on the all-null file: bounds are NULL -> kept
    assert(t.scan(col("tag") === "x").count() === 1L)
  }

  test("IS NOT NULL, !=, and prefix LIKE prune where provable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_x_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    t.append(Seq((1L, Some("alpha")), (2L, Some("amber"))).toDF("id", "tag").coalesce(1))
    t.append(Seq((3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("id", "tag").coalesce(1))
    t.append(Seq((5L, Some("zeta")), (5L, Some("zulu"))).toDF("id", "tag").coalesce(1))
    val all = t.files(t.latestVersion.get)
    // IS NOT NULL drops the all-null file
    assert(t.prunedFiles(all, Seq(col("tag").isNotNull)).size === 2)
    assert(t.scan(col("tag").isNotNull).count() === 4L)
    // != prunes only the file whose bounds pin a single value (id=5,5)
    assert(t.prunedFiles(all, Seq(col("id") =!= 5L)).size === 2)
    assert(t.scan(col("id") =!= 5L).count() === 4L)
    // prefix: 'a%' intersects the first file's [alpha, amber]; the
    // all-null file has NULL bounds and is conservatively kept
    assert(t.prunedFiles(all, Seq(col("tag").startsWith("a"))).size === 2)
    assert(t.scan(col("tag").startsWith("a")).count() === 2L)
    assert(t.prunedFiles(all, Seq(col("tag").like("z%"))).size === 2)
    assert(t.scan(col("tag").like("z%")).count() === 2L)
    // non-prefix patterns keep everything (except provably-null files? no
    // — LIKE with a leading wildcard is unprovable, so only stats-known
    // files stay judged by other conjuncts)
    assert(t.prunedFiles(all, Seq(col("tag").like("%eta"))).size === 3)
    assert(t.scan(col("tag").like("%eta")).count() === 1L)
  }

  test("date column pruning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_date_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    t.append(Seq("2024-01-01", "2024-01-02").map(java.sql.Date.valueOf)
      .toDF("d").coalesce(1))
    t.append(Seq("2024-06-01", "2024-06-02").map(java.sql.Date.valueOf)
      .toDF("d").coalesce(1))
    val all = t.files(t.latestVersion.get)
    assert(t.prunedFiles(all, Seq(col("d") >= lit("2024-05-01").cast("date"))).size === 1)
    assert(t.scan(col("d") >= lit("2024-05-01").cast("date")).count() === 2L)
  }

  test("vacuum drops stats of deleted files; pruning still works") {
    val t = rangedTable()
    t.append(spark.range(1000L, 1100L).selectExpr("id", "cast(id as string) as tag",
      "cast(id % 7 as double) as score").coalesce(1))
    t.vacuum(keepLast = 1) // the head is a delta commit: vacuum pins it
    assert(new java.io.File(t.path, "_log/" + f"${4L}%020d.checkpoint.parquet").exists())
    assert(!new java.io.File(t.path, "_stats").exists())
    val fresh = new IncrementalTable(spark, t.path) // cold caches: the pin is the base
    val all = fresh.files(fresh.latestVersion.get)
    assert(all.size === 5)
    assert(fresh.prunedFiles(all, Seq(col("id") === 5L)).size === 1)
    assert(fresh.prunedFiles(all, Seq(col("id") >= 1050L)).size === 1)
    assert(fresh.scan(col("id") === 5L).count() === 1L)
  }

  test("range clustering turns useless stats into tight per-file bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_clu_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    // interleaved appends: every file spans nearly the full id range,
    // so min/max stats cannot prune anything
    (0 until 4).foreach { i =>
      t.append((0L until 400L by 4L).map(o => (o + i, s"tag${o + i}"))
        .toDF("id", "tag").coalesce(1))
    }
    val before = t.files(t.latestVersion.get)
    val pred = col("id") >= 100L && col("id") < 120L
    assert(t.prunedFiles(before, Seq(pred)).size === 4, "interleaved files can't prune")

    t.cluster(4, "id")
    val after = t.files(t.latestVersion.get)
    assert(after.size === 4)
    val kept = t.prunedFiles(after, Seq(pred))
    assert(kept.size <= 2, s"clustered files should prune to the matching range: $kept")
    assert(t.scan(pred).count() === 20L)
    // result identical to the unpruned filter
    assert(t.scan(pred).select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === (100L until 120L))
  }

  test("equi-depth z-order prunes a skewed column where uniform buckets collapse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_zq_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    // x: 99% of rows in [0, 100), 1% outliers at 1e9 — uniform min→max
    // scaling maps the dense 99% into bucket 0, so uniform z-order
    // cannot separate them; equi-depth boundaries follow the mass
    val rows = (0 until 4096).map { i =>
      val x = if (i % 100 == 0) 1_000_000_000L else (i * 2654435761L) % 100L
      (x, (i * 40503L + 17L) % 64L, i.toLong)
    }
    t.append(rows.toDF("x", "y", "payload").repartition(4))
    val px = col("x") === 7L

    t.clusterZ(16, 6, "x", "y")
    val uniformKept = t.prunedFiles(t.files(t.latestVersion.get), Seq(px)).size

    t.clusterZEquiDepth(16, 6, "x", "y")
    val zq = t.files(t.latestVersion.get)
    val equiKept = t.prunedFiles(zq, Seq(px)).size
    assert(equiKept < uniformKept,
      s"equi-depth should out-prune uniform on skew: $equiKept vs $uniformKept")
    assert(equiKept <= zq.size / 2, s"x didn't prune after equi-depth z-order: $equiKept/${zq.size}")
    // correctness unchanged
    assert(t.scan(px).count() === rows.count(_._1 == 7L))
    assert(t.scan(col("x") === 1_000_000_000L).count() === rows.count(_._1 == 1_000_000_000L))
  }

  test("latest-version hint: stale, missing, and corrupt hints all resolve correctly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_hint_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    t.append(Seq((2L, "b")).toDF("id", "tag").coalesce(1))
    val hint = new java.io.File(s"$dir/_log/_latest.hint")
    assert(hint.exists() && t.latestVersion === Some(1L))
    // stale (lagging) hint: probe-forward finds the real head
    java.nio.file.Files.write(hint.toPath, "0".getBytes)
    assert(t.latestVersion === Some(1L))
    // corrupt hint: falls back to the listing
    java.nio.file.Files.write(hint.toPath, "not-a-number".getBytes)
    assert(t.latestVersion === Some(1L))
    // hint ahead of reality (impossible in the protocol, but defend):
    java.nio.file.Files.write(hint.toPath, "99".getBytes)
    assert(t.latestVersion === Some(1L))
    // missing hint: listing path
    hint.delete()
    assert(t.latestVersion === Some(1L))
    // and the next commit rewrites it
    t.append(Seq((3L, "c")).toDF("id", "tag").coalesce(1))
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath)) === "2")
  }

  test("z-order clustering: BOTH cluster columns prune; linear only the leading one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_z_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    // x and y are independent uniform 0..63 — written in insertion
    // order, every file spans both full ranges
    val rows = (0 until 4096).map { i =>
      ((i * 2654435761L) % 64L, (i * 40503L + 17L) % 64L, i.toLong)
    }
    t.append(rows.toDF("x", "y", "payload").repartition(4))
    val px = col("x") === 7L
    val py = col("y") === 11L
    assert(t.prunedFiles(t.files(t.latestVersion.get), Seq(px)).size === 4)
    assert(t.prunedFiles(t.files(t.latestVersion.get), Seq(py)).size === 4)

    // linear clustering on (x, y): the leading key prunes, y cannot
    t.cluster(16, "x", "y")
    val lin = t.files(t.latestVersion.get)
    assert(t.prunedFiles(lin, Seq(px)).size <= 4, "leading key should prune")
    // a trailing linear key barely prunes: only files cut mid-x-group
    // get partial y bounds (12/16 here), vs <=8/16 once z-ordered
    val linKeptY = t.prunedFiles(lin, Seq(py)).size
    assert(linKeptY >= lin.size * 2 / 3,
      s"a trailing linear key shouldn't prune well: kept $linKeptY/${lin.size}")

    // z-order: every file is a compact (x, y) rectangle — both prune
    t.clusterZ(16, 6, "x", "y")
    val zf = t.files(t.latestVersion.get)
    assert(zf.size === 16)
    val keptX = t.prunedFiles(zf, Seq(px))
    val keptY = t.prunedFiles(zf, Seq(py))
    assert(keptX.size <= zf.size / 2, s"x didn't prune after z-order: ${keptX.size}/${zf.size}")
    assert(keptY.size <= zf.size / 2, s"y didn't prune after z-order: ${keptY.size}/${zf.size}")
    // conjunction prunes to the intersection rectangle(s)
    assert(t.prunedFiles(zf, Seq(px && py)).size <= 4)
    // results stay identical to the unpruned filters
    assert(t.scan(px).count() === rows.count(_._1 == 7L))
    assert(t.scan(py).count() === rows.count(_._2 == 11L))
    assert(t.scan(px && py).select("payload").orderBy("payload")
      .collect().map(_.getLong(0)).toSeq
      === rows.filter(r => r._1 == 7L && r._2 == 11L).map(_._3))
  }

  test("schema evolution: appended columns surface, old files read NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fstats_evo_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    // evolved append: extra column
    t.append(Seq((2L, "b", 0.5)).toDF("id", "tag", "score").coalesce(1))
    assert(t.tableSchema.get.fieldNames.toSeq === Seq("id", "tag", "score"))
    val snap = t.snapshot().orderBy("id").collect()
    assert(snap.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(snap(0).isNullAt(2) && snap(1).getDouble(2) === 0.5)
    // stats-pruned scans see the evolved schema too
    assert(t.scan(col("id") >= 2L).columns.toSeq === Seq("id", "tag", "score"))
    // time travel keeps each version's own written schema
    assert(t.snapshotAt(0L).columns.toSeq === Seq("id", "tag"))
    // incompatible type change is rejected at stage time
    assertThrows[IllegalArgumentException](
      t.append(Seq(("x", "c")).toDF("id", "tag").coalesce(1)))
  }

  test("connector skipWhere option prunes incremental reads") {
    val t = rangedTable()
    val skipped = spark.read.format("graft")
      .option("skipWhere", "id >= 210 AND id < 240").load(t.path)
    // (inputFiles can't see through the read-only table facade — the
    // row count proves only the one 200-299 file was read)
    assert(skipped.count() === 100L)
    assert(skipped.filter(col("id") >= 210L && col("id") < 240L).count() === 30L)
    // without the option the whole table is read
    assert(spark.read.format("graft").load(t.path).count() === 400L)
  }

  test("connector skipWhere pruning every file still reads (empty result, schema kept)") {
    val t = rangedTable()
    // stats prove no file can match — the connector must fall back to
    // one file (pruning is a hint; the caller's row filter does the rest)
    // instead of handing parquet an empty path list
    val none = spark.read.format("graft")
      .option("skipWhere", "id > 100000").load(t.path)
      .filter(col("id") > 100000L)
    assert(none.count() === 0L)
    assert(none.schema.fieldNames.toSeq === Seq("id", "tag", "score"))
  }
}
