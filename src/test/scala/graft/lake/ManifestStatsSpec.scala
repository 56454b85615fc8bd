package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Per-file stats ride the manifest: harvested once at commit, read
  * back from the same manifests and checkpoints the file list comes
  * from, and evaluated on the driver — so pruning, stats aggregates and
  * row counts cost no Spark job, and tables written before the move
  * (a `_stats/` store, stats-less manifests) read correctly and
  * upgrade through compact().
  */
class ManifestStatsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** WARN messages `op` logs through IncrementalTable's logger. */
  private def warnsDuring(op: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("manifest-stats-spec", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(classOf[IncrementalTable].getName).asInstanceOf[Logger]
    logger.addAppender(app)
    try op finally { logger.removeAppender(app); app.stop() }
    seen.toArray.toSeq.map(_.toString)
  }

  private def manifest(t: IncrementalTable, v: Long) =
    Paths.get(t.path, "_log", f"$v%020d.json")

  /** Two appends with disjoint id ranges, one file each. */
  private def twoFiles(): IncrementalTable = {
    val t = new IncrementalTable(spark,
      Files.createTempDirectory("mstats_").toString + "/t")
    t.append((0L until 100L).map(i => (i, s"a$i")).toDF("id", "tag").coalesce(1))
    t.append((100L until 200L).map(i => (i, s"b$i")).toDF("id", "tag").coalesce(1))
    t
  }

  test("appends run no stats job; pruning and stats aggregates run none at all") {
    val t = twoFiles()
    val batch = (200L until 300L).map(i => (i, s"c$i")).toDF("id", "tag").coalesce(1)
    // the staged write is the append's only job: the stats ride its commit
    assert(jobsDuring(t.append(batch)) === 1)
    val all = t.files(t.latestVersion.get)
    assert(all.size === 3)
    val cold = new IncrementalTable(spark, t.path) // no cached stats
    var kept = Seq.empty[String]
    assert(jobsDuring { kept = cold.prunedFiles(all, Seq(col("id") === 150L)) } === 0)
    assert(kept.size === 1)
    // scan's pruning happens while the frame is built — no job until it runs
    var scanned: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { scanned = cold.scan(col("id") >= 250L) } === 0)
    assert(scanned.inputFiles.length === 1)
    assert(scanned.count() === 50L)
    var agg: Option[(Long, Map[String, Long], Map[(String, Boolean), Any])] = None
    assert(jobsDuring {
      agg = cold.statsAggregateForNames(all, Seq("tag"), Seq(("id", false), ("id", true)))
    } === 0)
    assert(agg === Some((300L, Map("tag" -> 300L),
      Map(("id", false) -> 0L, ("id", true) -> 299L))))
  }

  test("string bounds with JSON and manifest delimiters round-trip") {
    val t = new IncrementalTable(spark,
      Files.createTempDirectory("mstats_str_").toString + "/t")
    val nasty = Seq("a\"b", "c,d", "e:f", "g]h", "i}j", "k\",\"stats\":{", "l\\m")
    t.append(nasty.map(s => (s, 1L)).toDF("s", "n").coalesce(1))
    // a user meta key named like the stats object must not be taken for it
    t.append(Seq(("zz", 2L)).toDF("s", "n").coalesce(1), extraMeta = Map("stats" -> "user"))
    val cold = new IncrementalTable(spark, t.path)
    val v = cold.latestVersion.get
    assert(cold.files(v).size === 2)
    assert(cold.metaAt(v).get("stats") === Some("user"))
    val first = cold.files(0L).head
    val entry = cold.statsImpl(v)(first)
    val str = org.apache.spark.unsafe.types.UTF8String.fromString _
    assert(FileStats.bound(entry, "s", isMax = false, StringType) === Some(str(nasty.min)))
    assert(FileStats.bound(entry, "s", isMax = true, StringType) === Some(str(nasty.max)))
    for (s <- nasty) {
      assert(cold.prunedFiles(cold.files(v), Seq(col("s") === s)) === Seq(first), s)
      assert(cold.scan(col("s") === s).count() === 1L, s)
    }
    assert(cold.prunedFiles(cold.files(v), Seq(col("s") === "zz")).size === 1)
  }

  test("a malformed stats entry falls back loudly to the unpruned, correct result") {
    val t = twoFiles()
    val v = t.latestVersion.get
    val p = manifest(t, v)
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    assert(txt.contains("\"maxValues\":{\"id\":199"))
    Files.write(p, txt.replace("\"maxValues\":{\"id\":199", "\"maxValues\":{\"id\":\"oops\"")
      .getBytes(StandardCharsets.UTF_8))
    val cold = new IncrementalTable(spark, t.path)
    val all = cold.files(v)
    var kept = Seq.empty[String]
    val warns = warnsDuring { kept = cold.prunedFiles(all, Seq(col("id") === 5L)) }
    assert(kept === all)
    assert(warns.exists(w => w.contains(t.path) && w.contains("prunedFilesAt") &&
      w.contains("IllegalStateException")), warns)
    assert(cold.scan(col("id") === 5L).count() === 1L)
    val aggWarns = warnsDuring {
      assert(cold.statsAggregateForNames(all, Nil, Seq(("id", true))).isEmpty)
    }
    assert(aggWarns.exists(_.contains("statsAggregateForNames")), aggWarns)
    // the connector's aggregate pushdown falls back to a real scan
    assert(spark.read.format("graft").load(t.path).agg(max("id")).head().getLong(0) === 199L)
  }

  test("cloneFrom's ext: entries and restore carry their files' stats") {
    val src = twoFiles()
    val sv = src.latestVersion.get
    val clone = new IncrementalTable(spark,
      Files.createTempDirectory("mstats_clone_").toString + "/t")
    clone.cloneFrom(src)
    val refs = clone.files(0L)
    assert(refs.forall(_.startsWith("ext:")))
    val cloned = clone.statsImpl(0L)
    assert(cloned.keySet === refs.toSet)
    assert(cloned.values.map(_.toString).toSet ===
      src.statsImpl(sv).values.map(_.toString).toSet)
    assert(clone.prunedFiles(refs, Seq(col("id") === 5L)).size === 1)

    src.compact() // one new file; the two originals leave the head
    val rv = src.restore(sv)
    assert(src.files(rv).toSet === src.files(sv).toSet)
    assert(src.statsImpl(rv) === src.statsImpl(sv))
    assert(src.prunedFiles(src.files(rv), Seq(col("id") === 150L)).size === 1)
  }

  test("a table written before stats moved into the manifest reads right, " +
    "then prunes after compact()") {
    // hand-built the way such tables look on disk: manifests without a
    // "stats" object, data files, and a `_stats/` parquet store
    val root = Files.createTempDirectory("mstats_legacy_").toString + "/t"
    Files.createDirectories(Paths.get(root, "_log"))
    Files.createDirectories(Paths.get(root, "_schemas"))
    Files.createDirectories(Paths.get(root, "data"))
    val schema = Seq((0L, "x")).toDF("id", "tag").schema
    Files.write(Paths.get(root, "_schemas", "legacy000000.json"),
      schema.json.getBytes(StandardCharsets.UTF_8))
    def dataFile(name: String, lo: Long): Unit = {
      val tmp = Files.createTempDirectory("mstats_legacy_part_").toString + "/p"
      (lo until lo + 100L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(root, "data", name))
    }
    dataFile("old-0.parquet", 0L)
    dataFile("old-1.parquet", 100L)
    def writeLog(v: Long, body: String): Unit =
      Files.write(Paths.get(root, "_log", f"$v%020d.json"),
        (s"""{"version":$v,"operation":"append","committedAt":${1000 + v},""" +
          body + ""","meta":{"schema":"legacy000000.json"}}""")
          .getBytes(StandardCharsets.UTF_8))
    writeLog(0L, """"files":["old-0.parquet"]""")
    writeLog(1L, """"add":["old-1.parquet"],"remove":[]""")
    Seq(("old-0.parquet", 100L, 0L, 99L, 0L), ("old-1.parquet", 100L, 100L, 199L, 0L))
      .toDF("file", "num_rows", "min_id", "max_id", "nulls_id")
      .coalesce(1).write.parquet(s"$root/_stats/legacy")
    Seq("_stats_tmp", "_stats_old").foreach(d => Files.createDirectories(Paths.get(root, d, "x")))

    var t: IncrementalTable = null
    val warns = warnsDuring { t = new IncrementalTable(spark, root) }
    assert(warns.count(w => w.contains(root) && w.contains("compact()")) === 1, warns)
    // a second handle on the same table does not repeat the WARN
    assert(warnsDuring(new IncrementalTable(spark, root)).isEmpty)

    val all = t.files(1L)
    assert(all.toSet === Set("old-0.parquet", "old-1.parquet"))
    // no stats in the manifests: every prune keeps the old files…
    assert(t.prunedFiles(all, Seq(col("id") === 5L)).toSet === all.toSet)
    assert(t.prunedFiles(all, Seq(col("id") > 10000L)).toSet === all.toSet)
    // …and results are right
    assert(t.snapshot().count() === 200L)
    assert(t.scan(col("id") === 150L).select("tag").as[String].collect().toSeq === Seq("t150"))
    assert(t.scan(col("id") >= 190L).count() === 10L)
    assert(spark.read.format("graft").load(root).agg(count(lit(1))).head().getLong(0) === 200L)

    // compact() restages the files and harvests their stats again
    val v = t.compact()
    val compacted = t.files(v)
    assert(t.statsImpl(v).keySet === compacted.toSet)
    assert(t.prunedFiles(compacted, Seq(col("id") > 10000L)).isEmpty)
    assert(t.prunedFiles(compacted, Seq(col("id") === 5L)) === compacted)
    assert(t.scan(col("id") >= 190L).count() === 10L)

    t.vacuum(keepLast = 1)
    Seq("_stats", "_stats_tmp", "_stats_old").foreach(d => assert(!Files.exists(Paths.get(root, d)), d))
    assert(t.snapshot().count() === 200L)
  }
}
