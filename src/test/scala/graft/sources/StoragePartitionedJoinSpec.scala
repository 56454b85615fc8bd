package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalTable

/** Storage-partitioned joins: two graft tables `bucketize`d with the
  * same bucket count on their join key report
  * `KeyGroupedPartitioning(bucket(n, col))` and equi-join with ZERO
  * shuffle on either side. Eligibility is structural — any commit
  * that stages plain files silently falls back to a normal (shuffled,
  * still correct) plan.
  */
class StoragePartitionedJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def countShuffles(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeLike => 1 + s.children.map(walk).sum
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def countSorts(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case s: org.apache.spark.sql.execution.SortExec => 1 + s.children.map(walk).sum
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def withSpj[A](f: => A): A = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private def mkTables(): (String, IncrementalTable, IncrementalTable) = {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 2000L).map(k => (k, s"a$k")).toDF("k", "va"))
    a.bucketize(8, "k")
    val b = new IncrementalTable(spark, s"$wh/tb")
    b.append((0L until 2000L by 2L).map(k => (k, k * 10)).toDF("k", "vb"))
    b.bucketize(8, "k")
    (wh, a, b)
  }

  // one catalog NAME per test: CatalogManager caches plugin instances
  // by name, so re-registering an existing name with a new warehouse
  // would silently keep serving the OLD directory
  private val catSeq = new java.util.concurrent.atomic.AtomicInteger
  private def registerCat(wh: String): String = {
    val name = s"spjcat${catSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    name
  }

  test("same-bucketed equi-join plans with ZERO shuffles and matches the " +
    "shuffled answer") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    try {
      val q = s"SELECT a.k, a.va, b.vb FROM $cat.ta a JOIN $cat.tb b " +
        "ON a.k = b.k"
      val (rows, shuffles) = withSpj {
        val df = spark.sql(q)
        (df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sortBy(_._1), countShuffles(df))
      }
      assert(rows.length === 1000)
      assert(rows.take(2).toSeq === Seq((0L, "a0", 0L), (2L, "a2", 20L)))
      assert(shuffles === 0,
        s"expected a storage-partitioned join, got $shuffles shuffles")
      // foil: same query without the v2 bucketing conf shuffles both
      // sides and returns the identical rows
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val foil = spark.sql(q)
      val foilRows = foil.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(countShuffles(foil) > 0)
      assert(foilRows.toSeq === rows.toSeq)
    } finally ()
  }

  test("grouped aggregation on the bucket column also skips its shuffle") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    try {
      withSpj {
        val df = spark.sql(
          "SELECT k % 4 AS g, count(*) AS n FROM (" +
            s"SELECT a.k FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k) " +
            "GROUP BY 1")
        // the JOIN itself is shuffle-free; only the re-key to g pays
        assert(df.collect().map(_.getLong(1)).sum === 1000L)
        assert(countShuffles(df) <= 1)
      }
    } finally ()
  }

  test("appends MAINTAIN bucketing (O(batch), SPJ survives ingestion); " +
    "a plain-staged rewrite breaks it; re-bucketize restores it") {
    val (wh, a, b) = mkTables()
    val cat = registerCat(wh)
    try {
      // an appended key that DOES match: wrong bucket placement would
      // lose this row from the key-grouped join
      a.append(Seq((4000L, "late")).toDF("k", "va"))
      b.append(Seq((4000L, 40000L)).toDF("k", "vb"))
      assert(a.files(a.latestVersion.get).forall(_.startsWith("__jbucket=")),
        "append did not keep the bucket layout")
      val q = s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k"
      withSpj {
        val df = spark.sql(q)
        val rows = df.collect()
        assert(rows.length === 1001)
        assert(rows.map(_.getLong(0)).contains(4000L))
        assert(countShuffles(df) === 0,
          "bucketed appends should keep SPJ alive:\n" +
            df.queryExecution.executedPlan)
      }
      // compact() stages plain files — the structural check must fall
      // back to a shuffled (still correct) plan, never a stale promise
      a.compact(2)
      withSpj {
        val df = spark.sql(q)
        assert(df.collect().length === 1001)
        assert(countShuffles(df) > 0,
          "stale bucket promise: SPJ planned over a broken layout:\n" +
            df.queryExecution.executedPlan)
      }
      a.bucketize(8, "k")
      withSpj {
        val df = spark.sql(q)
        assert(df.collect().length === 1001)
        assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
      }
    } finally ()
  }

  test("OPTIMIZE ... BUCKET BY (col, n) drives bucketize through SQL; " +
    "DESCRIBE DETAIL reports the spec and its structural health") {
    val wh = Files.createTempDirectory("spj_sql_").toString
    val t = new IncrementalTable(spark, s"$wh/t")
    t.append((0L until 100L).map(k => (k, k * 2)).toDF("k", "v"))
    val out = spark.sql(s"OPTIMIZE '$wh/t' BUCKET BY (k, 4)").collect()
    assert(out.head.getString(1) === "bucketize[4,k]")
    val files = t.files(t.latestVersion.get)
    assert(files.nonEmpty && files.forall(_.startsWith("__jbucket=")), files.take(3))
    assert(t.snapshot().count() === 100L)
    def props() = spark.sql(s"DESCRIBE DETAIL '$wh/t'")
      .collect().head.getString(7)
    assert(props().contains("graft.bucketBy=k,4 (groupable, sorted)"),
      props())
    // an append fragments a bucket: still groupable, ordering gone
    t.append(Seq((0L, 0L)).toDF("k", "v"))
    assert(props().contains("graft.bucketBy=k,4 (groupable)"), props())
    t.compactBuckets()
    assert(props().contains("graft.bucketBy=k,4 (groupable, sorted)"),
      props())
    t.compact(1) // plain-staged rewrite breaks the layout
    assert(props().contains("graft.bucketBy=k,4 (layout broken)"), props())
  }

  test("a PATH read of a bucketized table registers the missed-SPJ " +
    "diagnostic (catalog remediation warned once); catalog reads do not") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    withSpj {
      // a real data scan — a bare count() is answered by the stats
      // pushdown's LocalScan and never plans the bucketed batch
      assert(spark.read.format("graft").load(s"$wh/ta")
        .select("k").collect().length === 2000)
      assert(spark.sql(s"SELECT k FROM $cat.tb").collect().length === 1000)
    }
    assert(GraftStreamScan.missedSpjPaths.contains(s"$wh/ta"),
      "path read of a groupable layout must register the missed SPJ")
    assert(!GraftStreamScan.missedSpjPaths.contains(s"$wh/tb"),
      "catalog-resolved reads are not missed SPJs")
  }

  test("a direct GROUP BY on the bucket column aggregates WITHOUT a shuffle") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    withSpj {
      val df = spark.sql(
        s"SELECT k, count(*) AS n FROM $cat.ta GROUP BY k")
      assert(df.collect().length === 2000)
      assert(countShuffles(df) === 0,
        "bucket-clustered aggregation should reuse the key grouping:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("a WINDOW partitioned by the bucket column reuses the key grouping " +
    "— zero shuffle, and the single-file sort satisfies its ordering") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    withSpj {
      val df = spark.sql(
        s"""SELECT k, va, row_number() OVER (PARTITION BY k ORDER BY k) AS rn
           |FROM $cat.ta""".stripMargin)
      assert(df.collect().length === 2000)
      assert(countShuffles(df) === 0,
        "bucket-clustered window should not shuffle:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("a time-traveled version keeps ITS OWN bucket spec: a re-bucketize " +
    "with a different n can never mis-group the old files") {
    val wh = Files.createTempDirectory("spj_tt_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 2000L).map(k => (k, s"a$k")).toDF("k", "va"))
    a.bucketize(8, "k")
    val v8 = a.latestVersion.get
    a.bucketize(4, "k") // head now mod-4; v8's files stay mod-8
    val b = new IncrementalTable(spark, s"$wh/tb")
    b.append((0L until 2000L by 2L).map(k => (k, k * 10)).toDF("k", "vb"))
    b.bucketize(4, "k")
    val cat = registerCat(wh)
    withSpj {
      // old-spec side (bucket(8)) vs new-spec side (bucket(4)): the
      // specs are incompatible, so Spark must fall back to a shuffled
      // join — every match survives (the stale-head-meta bug would
      // have grouped v8's mod-8 files as bucket(4) and lost rows)
      val joined = spark.sql(
        s"""SELECT a.k, a.va, b.vb FROM $cat.ta VERSION AS OF $v8 a
           |JOIN $cat.tb b ON a.k = b.k""".stripMargin)
      assert(joined.count() === 1000L)
      // and the old version STILL storage-partition-joins with itself
      val selfJ = spark.sql(
        s"""SELECT a.k, a.va, b.va AS va2
           |FROM $cat.ta VERSION AS OF $v8 a
           |JOIN $cat.ta VERSION AS OF $v8 b ON a.k = b.k""".stripMargin)
      assert(selfJ.collect().length === 2000)
      assert(countShuffles(selfJ) === 0, selfJ.queryExecution.executedPlan.toString)
    }
  }

  test("an UPDATE that moves a key ACROSS buckets re-buckets the rewritten " +
    "rows: the layout stays live and the SPJ groups stay truthful") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    // k=1 is absent from tb (odd); k=998 is present. Moving 1 -> 998
    // puts the row in a DIFFERENT bucket (pmod(hash) differs); the old
    // restage-by-dir path left it under bucket(1)'s directory, where a
    // key-grouped join silently never meets tb's k=998 group.
    a.updateWhere(col("k") === 1L, Map("k" -> lit(998L)))
    assert(a.files(a.latestVersion.get).forall(_.startsWith("__jbucket=")),
      "update on the bucket column should keep (re-derive) the layout")
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.count(_ == ((998L, 9980L))) === 2,
        s"the moved row must join under its NEW bucket: ${rows.length} rows")
      assert(rows.length === 1001)
      assert(countShuffles(df) === 0,
        "update should keep SPJ alive:\n" + df.queryExecution.executedPlan)
    }
  }

  test("type widening on the bucket column retires the bucket promise: " +
    "int-hashed dirs never key-group a long-typed read") {
    val wh = Files.createTempDirectory("spj_widen_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.setTypeWidening(true)
    a.append((0 until 500).map(k => (k, s"a$k")).toDF("k", "va"))
    a.bucketize(4, "k")
    val b = new IncrementalTable(spark, s"$wh/tb")
    b.append((0L until 500L).map(k => (k, k * 10)).toDF("k", "vb"))
    b.bucketize(4, "k")
    val cat = registerCat(wh)
    // widen ta.k int -> long; murmur3 hashes the SAME key to different
    // buckets under the two types, so ta's dirs no longer describe the
    // long-typed read tb joins against
    a.append(Seq((1000000000000L, "wide")).toDF("k", "va"))
    assert(a.joinBucketSpecAt(a.latestVersion.get).isEmpty,
      "widening the bucket column must retire the jbucket meta")
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      assert(df.count() === 500L,
        "every match must survive the widening (fallback, not a lie)")
      assert(countShuffles(df) > 0,
        "int-hashed dirs must NOT key-group a long-typed read:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("appends NARROWER than the table hash under the TABLE's type: a " +
    "long-bucketized table fed int batches keeps truthful groups") {
    val wh = Files.createTempDirectory("spj_narrow_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 500L).map(k => (k, s"a$k")).toDF("k", "va"))
    a.bucketize(4, "k")
    // the batch's k is INT; conformWidths stores it as long — the
    // bucket id must be hashed from the STORED (long) value
    a.append(Seq((7, "narrow")).toDF("k", "va"))
    val b = new IncrementalTable(spark, s"$wh/tb")
    b.append(Seq((7L, 70L)).toDF("k", "vb"))
    b.bucketize(4, "k")
    val cat = registerCat(wh)
    withSpj {
      val df = spark.sql(
        s"SELECT a.va, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      assert(rows.toSeq === Seq(("a7", 70L), ("narrow", 70L)),
        s"int-hashed append under a long layout lost the match: ${rows.toSeq}")
      assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
    }
  }

  test("bucketized files are key-SORTED and report ordering: the merge " +
    "join drops its SORTS as well as its shuffles; a delete's unmarked " +
    "restage brings the sorts back without losing the grouping") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    val q = s"SELECT a.k, a.va, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k"
    withSpj {
      val df = spark.sql(q)
      assert(df.collect().length === 1000)
      assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
      assert(countSorts(df) === 0,
        "single-file sorted buckets must satisfy the merge join's " +
          "ordering:\n" + df.queryExecution.executedPlan)
    }
    // DELETE restages the touched file's survivors WITHOUT the sort
    // marker (restage order is not guaranteed): the ordering claim
    // must retreat while the bucket grouping — survivors keep their
    // bucket — stays shuffle-free
    a.deleteWhere(col("k") === 0L)
    withSpj {
      val df = spark.sql(q)
      assert(df.collect().length === 999)
      assert(countShuffles(df) === 0,
        "delete keeps bucket identity; grouping must survive:\n" +
          df.queryExecution.executedPlan)
      assert(countSorts(df) > 0,
        "an unmarked restaged file must NOT claim ordering:\n" +
          df.queryExecution.executedPlan)
    }
    // an appended second file per bucket: individually sorted, but a
    // group of two sorted runs has no single order — sorts must return
    val (wh2, a2, _) = mkTables()
    val cat2 = registerCat(wh2)
    a2.append(Seq((4000L, "late")).toDF("k", "va"))
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $cat2.ta a JOIN $cat2.tb b ON a.k = b.k")
      assert(df.collect().length === 1000)
      assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
      assert(countSorts(df) > 0,
        "two sorted runs per bucket must NOT claim a single ordering:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("MERGE (full-snapshot rewrite) RE-BUCKETS: SPJ survives upserts, " +
    "and the merged rows join under their true buckets") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    // upsert via the lake MERGE surface: update one value, insert a new
    // matching key — the resolve() snapshot republishes the whole table
    val updates = Seq((0L, "A0"), (4000L, "late")).toDF("k", "va")
    val merged = graft.lake.MergeInto(a.snapshot(), updates,
        "target.k = updates.k")
      .whenMatchedUpdate(Map("va" -> "updates.va"))
      .whenNotMatchedInsert(Map("k" -> "updates.k", "va" -> "updates.va"))
    a.writeSnapshot(merged.resolve(), operation = "merge")
    assert(a.files(a.latestVersion.get).forall(_.startsWith("__jbucket=")),
      "merge snapshot should re-bucket under the live layout")
    val b = new IncrementalTable(spark, s"$wh/tb")
    b.append(Seq((4000L, 40000L)).toDF("k", "vb"))
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, a.va, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      val rows = df.collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.length === 1001)
      assert(rows.contains((0L, "A0")), "updated value must serve")
      assert(rows.contains((4000L, "late")),
        "inserted key must join under its true bucket")
      assert(countShuffles(df) === 0,
        "merge should keep SPJ alive:\n" + df.queryExecution.executedPlan)
    }
  }

  test("COMPACT BUCKETS restores one-sorted-file-per-bucket in " +
    "O(fragmented buckets): untouched buckets keep their very files, " +
    "the sort-free merge join returns, re-run no-ops") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    // three appended keys targeted at ONE bucket (same pmod(hash, 8))
    val bucketOf = spark.range(3000, 4000)
      .selectExpr("id", "pmod(hash(id), 8) AS bkt")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hot = (3000L until 4000L).filter(k => bucketOf(k) == bucketOf(3000L))
      .take(3)
    hot.foreach(k => a.append(Seq((k, s"x$k")).toDF("k", "va")))
    val before = a.files(a.latestVersion.get)
    assert(before.size === 11, s"8 buckets + 3 appends: ${before.size}")
    val v = a.compactBuckets()
    val after = a.files(v)
    assert(after.size === 8, s"fragmented bucket must collapse: ${after.size}")
    assert(before.toSet.intersect(after.toSet).size === 7,
      "the 7 untouched buckets must keep their original files")
    assert(a.snapshot().count() === 2003L)
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      assert(df.collect().length === 1000)
      assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
      assert(countSorts(df) === 0,
        "compaction must restore the sort-free join:\n" +
          df.queryExecution.executedPlan)
    }
    // already compact: the SQL surface no-ops at the same version
    val out = spark.sql(s"OPTIMIZE '$wh/ta' COMPACT BUCKETS").collect()
    assert(out.head.getLong(0) === v, "re-run must not rewrite anything")
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("bucket-presence ASYMMETRY never drops groups: a side serving " +
    "FEWER distinct buckets (tiny table) joins correctly under BOTH " +
    "settings of v2.bucketing.pushPartValues") {
    val (wh, _, _) = mkTables()
    val c = new IncrementalTable(spark, s"$wh/tc")
    c.append(Seq((0L, "z0"), (1L, "z1"), (7L, "z7")).toDF("k", "vc"))
    c.bucketize(8, "k") // 3 keys: at most 3 of 8 buckets hold files
    val cat = registerCat(wh)
    val q = s"SELECT a.k, a.va, c.vc FROM $cat.ta a JOIN $cat.tc c ON a.k = c.k"
    val expected = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(expected.map(_._1) === Seq(0L, 1L, 7L), "foil sanity")
    for (push <- Seq("true", "false")) {
      val (rows, shuffles) = withSpj {
        withConf(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> push) {
          val df = spark.sql(q)
          (df.collect().map(r =>
            (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq,
            countShuffles(df))
        }
      }
      assert(rows === expected,
        s"pushPartValues=$push lost groups: got $rows")
      info(s"pushPartValues=$push shuffles=$shuffles")
    }
  }

  test("bucket-presence asymmetry from a SELECTIVE FILTER (stats-pruned " +
    "files empty buckets on one side): same answer under both " +
    "pushPartValues settings") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    val q = s"SELECT a.k, a.va, b.vb FROM $cat.ta a JOIN $cat.tb b " +
      "ON a.k = b.k WHERE a.k = 6"
    val expected = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(expected === Seq((6L, "a6", 60L)), "foil sanity")
    for (push <- Seq("true", "false")) {
      val rows = withSpj {
        withConf(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> push) {
          spark.sql(q).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .sorted.toSeq
        }
      }
      assert(rows === expected, s"pushPartValues=$push: got $rows")
    }
  }

  test("partiallyClusteredDistribution (Spark's SPJ skew path: the small " +
    "side replicates so a hot bucket splits) returns the same answer") {
    val (wh, _, _) = mkTables()
    val cat = registerCat(wh)
    val q = s"SELECT a.k, a.va, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k"
    val expected = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val rows = withSpj {
      withConf(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true") {
        spark.sql(q).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      }
    }
    assert(rows === expected, "partially-clustered SPJ drifted")
  }

  test("MISMATCHED bucket counts (8 vs 16) never mis-group: the join " +
    "falls back to a correct plan under both pushPartValues settings") {
    val (wh, _, _) = mkTables() // ta: bucketize(8, k)
    val c = new IncrementalTable(spark, s"$wh/tc16")
    c.append((0L until 2000L by 4L).map(k => (k, k * 100)).toDF("k", "vc"))
    c.bucketize(16, "k")
    val cat = registerCat(wh)
    val q = s"SELECT a.k, a.va, c.vc FROM $cat.ta a JOIN $cat.tc16 c ON a.k = c.k"
    val expected = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(expected.length === 500, "foil sanity")
    for (push <- Seq("true", "false")) {
      val rows = withSpj {
        withConf(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> push) {
          spark.sql(q).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .sorted.toSeq
        }
      }
      assert(rows === expected, s"pushPartValues=$push: bucket(8) joined " +
        s"bucket(16) wrongly")
    }
  }

  test("STREAMING appends keep the bucket layout alive: SPJ zero-shuffle " +
    "after micro-batches, autoCompact bounds the file tail") {
    val (wh, a, _) = mkTables()
    a.setAutoCompact(true)
    spark.conf.set("spark.graft.autoCompact.minFiles", "4")
    try {
      val sink = graft.streaming.Streams.incrementalAppendSink(a)
      (0 until 6).foreach { i =>
        sink(Seq((2000L + i, s"s$i")).toDF("k", "va"), i.toLong)
      }
      val files = a.files(a.latestVersion.get)
      assert(files.forall(_.startsWith("__jbucket=")),
        s"stream batches must stage under the layout: ${files.take(3)}")
      assert(files.size <= 11,
        s"autoCompact must bound the stream's tail (floor 8 + minFiles), " +
          s"got ${files.size}")
      val cat = registerCat(wh)
      withSpj {
        val df = spark.sql(
          s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
        assert(df.collect().length === 1000)
        assert(countShuffles(df) === 0,
          "SPJ must survive a running stream:\n" +
            df.queryExecution.executedPlan)
      }
      // replay of an already-committed batch id still no-ops
      val v = a.latestVersion.get
      sink(Seq((9999L, "dup")).toDF("k", "va"), 2L)
      assert(a.latestVersion.get === v, "replayed batch must no-op")
    } finally spark.conf.unset("spark.graft.autoCompact.minFiles")
  }

  test("COMPACT BUCKETS converges under maxRecordsPerFile: a bucket " +
    "split into several s1 files by ONE staging run is already minimal " +
    "— re-runs no-op instead of rewriting the bucket forever") {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 2000L).map(k => (k, s"a$k")).toDF("k", "va"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      a.bucketize(8, "k") // ~250 rows/bucket → ~3 s1 files per bucket
      val v1 = a.latestVersion.get
      assert(a.files(v1).size > 8,
        s"buckets must split under the cap: ${a.files(v1).size}")
      // every bucket already at ceil(rows/cap) files: a rewrite could
      // not reduce any of them — the call must NO-OP at the version
      assert(a.compactBuckets() === v1,
        "minimal split buckets must not re-rewrite (the old behavior " +
          "rewrote them on every call — O(bucket data) per autoCompact)")
      // a genuinely fragmented bucket (a second staging run) still
      // compacts, and the post-compact state is itself converged
      a.append(Seq((0L, "x0")).toDF("k", "va"))
      val v2 = a.latestVersion.get
      val v3 = a.compactBuckets()
      assert(v3 > v2, "a second run's file must still trigger compaction")
      assert(a.compactBuckets() === v3, "post-compact state is minimal")
      assert(a.snapshot().count() === 2001L)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("a full snapshot rewrite re-stamps the settled floor at its " +
    "OWN file count — neither carrying nor resurrecting the stale one") {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 400L).map(k => (k, s"a$k")).toDF("k", "va"))
    a.bucketize(4, "k")
    val before = a.metaAt(a.latestVersion.get)("settled").toInt
    assert(before >= 4)
    // MERGE/overwrite resolve to a snapshot: every file restages, so
    // the OLD floor describes a dead layout — the commit must stamp
    // the rewrite's own count (carrying 400 over a 16-file rewrite
    // would park auto-compact; dropping would let the fallback walk
    // resurrect the same stale count from the pre-snapshot commit)
    a.writeSnapshot(
      (0L until 10L).map(k => (k, s"b$k")).toDF("k", "va").coalesce(2))
    val v = a.latestVersion.get
    assert(a.metaAt(v).get("settled") === Some(a.files(v).size.toString),
      "snapshot must stamp its own resulting file count")
  }

  test("COMPACT BUCKETS converges WITHOUT the stats sidecar " +
    "(collectStats=false): footer row counts prove split buckets " +
    "minimal — no rewrite-every-call") {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta", collectStats = false)
    a.append((0L until 2000L).map(k => (k, s"a$k")).toDF("k", "va"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      a.bucketize(8, "k")
      val v1 = a.latestVersion.get
      assert(a.files(v1).size > 8,
        s"buckets must split under the cap: ${a.files(v1).size}")
      // no manifest stats exist for ANY staged file on this table; the
      // parquet-footer fallback must still prove the all-s1 split
      // buckets minimal (the pre-fix behavior rewrote them on every
      // call — unbounded per-append write amplification on exactly
      // the collectStats=false tables)
      assert(a.compactBuckets() === v1,
        "stats-less minimal split buckets must no-op via footer counts")
      a.append(Seq((0L, "x0")).toDF("k", "va"))
      val v2 = a.latestVersion.get
      val v3 = a.compactBuckets()
      assert(v3 > v2, "genuine fragmentation must still compact")
      assert(a.compactBuckets() === v3, "post-compact state is minimal")
      assert(a.snapshot().count() === 2001L)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("settled floor survives past any walk bound: layout-defining " +
    "commits stamp 'settled' meta and appends carry it") {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 200L).map(k => (k, s"a$k")).toDF("k", "va"))
    a.bucketize(4, "k")
    val v1 = a.latestVersion.get
    assert(a.metaAt(v1).get("settled") === Some(a.files(v1).size.toString),
      "bucketize must stamp its resulting file count")
    a.append(Seq((1L, "x")).toDF("k", "va"))
    val v2 = a.latestVersion.get
    assert(a.metaAt(v2).get("settled") === Some(a.files(v1).size.toString),
      "appends must CARRY the stamp (the walk-based floor collapsed " +
        "once the settling commit aged past the 64-version bound, " +
        "re-running the full compaction probe on every append)")
    val v3 = a.compactBuckets()
    assert(v3 > v2)
    assert(a.metaAt(v3).get("settled") === Some(a.files(v3).size.toString),
      "a later settling commit must re-stamp at its own count")
  }

  test("the carried settled floor DECAYS on a shrinking non-settling " +
    "commit: a delete rewrite re-stamps min(carried, resulting count)") {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 400L).map(k => (k, s"a$k")).toDF("k", "va"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try a.bucketize(4, "k")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val v1 = a.latestVersion.get
    val before = a.metaAt(v1)("settled").toInt
    assert(before > 4, s"fixture needs a split layout, got $before files")
    // a delete rewrite is NOT in isLayoutSettling, so pre-decay the
    // stale floor rode every later commit forever and suppressed
    // maybeAutoCompact until live files exceeded floor + minFiles
    a.deleteWhere(org.apache.spark.sql.functions.col("k") >= 40L)
    val v2 = a.latestVersion.get
    assert(a.files(v2).size < before,
      s"fixture must shrink: ${a.files(v2).size} vs $before")
    assert(a.metaAt(v2).get("settled") === Some(a.files(v2).size.toString),
      "a shrinking non-settling commit must decay the carried floor")
    // ...and a GROWING non-settling commit keeps carrying, never grows
    a.append(Seq((1000L, "x")).toDF("k", "va"))
    val v3 = a.latestVersion.get
    assert(a.metaAt(v3).get("settled") === Some(a.files(v2).size.toString),
      "appends must carry the decayed stamp unchanged")
  }

  test("OPTIMIZE ... REPAIR LAYOUT actuates the health diagnostic: " +
    "no-op while healthy; plain files break grouping → health false → " +
    "repair → health true → SPJ plans again") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    // healthy layout: the statement verifies and touches nothing
    val r0 = spark.sql(s"OPTIMIZE $cat.ta REPAIR LAYOUT").collect().head
    assert(!r0.getBoolean(1), "healthy layout must not be rewritten")
    assert(r0.getBoolean(2) && r0.getBoolean(3))
    val v0 = a.latestVersion.get
    a.compact(2) // plain-staged rewrite: the grouping promise breaks
    assert(a.bucketLayoutHealth(a.latestVersion.get) === ((false, false)))
    val r1 = spark.sql(s"OPTIMIZE $cat.ta REPAIR LAYOUT").collect().head
    assert(r1.getBoolean(1), "degraded layout must be repaired")
    assert(r1.getBoolean(2) && r1.getBoolean(3),
      "the statement must report post-repair health true")
    assert(r1.getLong(0) > v0)
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      assert(df.collect().length === 1000)
      assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
      assert(countSorts(df) === 0, df.queryExecution.executedPlan.toString)
    }
    // a table with no declared layout has nothing to repair TO
    val bare = new IncrementalTable(spark, s"$wh/tbare")
    bare.append(Seq((1L, "x")).toDF("k", "v"))
    val e = intercept[IllegalStateException](bare.repairLayout())
    assert(e.getMessage.contains("no bucket layout"))
  }

  test("REPAIR LAYOUT terminates when ordering is structurally " +
    "unreachable: maxRecordsPerFile-split buckets are converged, so " +
    "repair reports repaired=false instead of claiming a fix forever") {
    val wh = Files.createTempDirectory("spj_wh_").toString
    val a = new IncrementalTable(spark, s"$wh/ta")
    a.append((0L until 2000L).map(k => (k, s"a$k")).toDF("k", "va"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try {
      a.bucketize(8, "k") // every bucket splits into several s1 files
      val v = a.latestVersion.get
      assert(a.bucketLayoutHealth(v) === ((true, false)),
        "grouping holds, single-file ordering is unreachable")
      // nothing is rewritable: the call must be an honest no-op, not
      // a repaired=true loop that rewrites (or claims to) every run
      assert(a.repairLayout() === None)
      assert(a.latestVersion.get === v, "no commit on a no-op repair")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("COMPACT BUCKETS degrades to a FULL re-bucketize when plain files " +
    "exist (rows may cross buckets)") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    a.compact(2) // plain-staged rewrite: bucket spec can't place its rows
    val v = a.compactBuckets()
    assert(a.operationAt(v).startsWith("bucketize["),
      s"plain files must force the full path: ${a.operationAt(v)}")
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      assert(df.collect().length === 1000)
      assert(countShuffles(df) === 0, df.queryExecution.executedPlan.toString)
      assert(countSorts(df) === 0, df.queryExecution.executedPlan.toString)
    }
  }

  test("compactSmall on a bucketized table packs into UNMARKED dirs: the " +
    "grouping survives, the forged-order hazard does not") {
    val (wh, a, _) = mkTables()
    val cat = registerCat(wh)
    a.append(Seq((4000L, "late")).toDF("k", "va")) // a 2-file bucket
    a.compactSmall(minFileBytes = 1L << 20) // everything here is "small"
    val files = a.files(a.latestVersion.get)
    assert(files.forall(_.startsWith("__jbucket=")), files.take(3))
    assert(files.exists(!_.contains("-s1-")),
      "the packed file must NOT carry the sort marker (its rows are " +
        s"repartition-ordered): ${files.take(4)}")
    withSpj {
      val df = spark.sql(
        s"SELECT a.k, b.vb FROM $cat.ta a JOIN $cat.tb b ON a.k = b.k")
      assert(df.collect().length === 1000)
      assert(countShuffles(df) === 0,
        "bucket identity survives packing:\n" + df.queryExecution.executedPlan)
      assert(countSorts(df) > 0,
        "an unmarked packed file must not satisfy the merge join's order:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("bucketize round-trips content exactly and is stats-scannable") {
    val wh = Files.createTempDirectory("spj_rt_").toString
    val t = new IncrementalTable(spark, s"$wh/t")
    t.append((0L until 999L).map(k => (k, s"v$k")).toDF("k", "v"))
    val before = t.snapshot().collect().map(r => (r.getLong(0), r.getString(1))).sorted
    t.bucketize(4, "k")
    val after = t.snapshot().collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(after.toSeq === before.toSeq)
    // per-file stats were recorded for the bucketed files too
    assert(t.scan(col("k") === 7L).count() === 1L)
  }
}
