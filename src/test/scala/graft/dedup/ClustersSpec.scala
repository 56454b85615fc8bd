package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class ClustersSpec extends AnyFunSuite with SparkSpec {

  /** Run `body` with the tiny-graph short-circuit disabled, so the test
    * exercises the DISTRIBUTED propagation machinery regardless of
    * graph size (the local path is covered by its own equivalence
    * tests below).
    */
  private def distributedOnly[T](body: => T): T = {
    spark.conf.set("graft.cc.localEdgeThreshold", "0")
    try body
    finally spark.conf.unset("graft.cc.localEdgeThreshold")
  }

  test("a malformed or negative graft.cc.localEdgeThreshold fails naming the conf") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    for (bad <- Seq("abc", "-1", "1.5", "2147483647")) {
      spark.conf.set("graft.cc.localEdgeThreshold", bad)
      try {
        val e = intercept[IllegalArgumentException](
          Clusters.connectedComponents(pairs, "a", "b"))
        assert(e.getMessage.contains("graft.cc.localEdgeThreshold") &&
          e.getMessage.contains("0 disables") && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      } finally spark.conf.unset("graft.cc.localEdgeThreshold")
    }
    // the accepted range still runs: 0 (distributed) and a small budget
    for (ok <- Seq("0", " 5 ")) {
      spark.conf.set("graft.cc.localEdgeThreshold", ok)
      try assert(Clusters.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toSet === Set((1L, 1L), (2L, 1L)))
      finally spark.conf.unset("graft.cc.localEdgeThreshold")
    }
  }

  test("connected components: chains, singleton pairs, disjoint groups") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 21)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (21L, 20L), (21L, 22L)).toDF("a", "b")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    // both the local short-circuit (default: 6 edges < threshold) and
    // the distributed propagation must return the same map
    val local = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = distributedOnly(Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(local === want)
    assert(dist === want)
  }

  test("long path converges within maxIter (propagation depth)") {
    import spark.implicits._
    // path 0-1-2-...-9: min label must travel 9 hops
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val got = distributedOnly(Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("local short-circuit matches distributed min-label on random graphs (20 seeds)") {
    import spark.implicits._
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val pairs = (1 to n).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      if (pairs.nonEmpty) {
        val df = pairs.toDF("a", "b")
        val local = Clusters.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dist = distributedOnly(Clusters.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        assert(local === dist, s"seed=$seed")
      }
    }
  }

  test("local short-circuit matches distributed on STRING ids (UTF-8 byte order)") {
    import spark.implicits._
    // ids deliberately pair a non-BMP char (U+1F600, a surrogate pair
    // in UTF-16, bytes F0 9F 98 80 in UTF-8) against U+FFFF (bytes
    // EF BF BF): String.compareTo says U+1F600 < U+FFFF (surrogate
    // 0xD83D < 0xFFFF) while UTF-8 byte order says the opposite — a
    // local ordering that used compareTo would pick a different
    // component representative than Spark's UTF8String.binaryCompare
    val pairs = Seq(
      ("b", "a"), ("😀", "￿"), ("￿", "z")).toDF("a", "b")
    val local = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = distributedOnly(Clusters.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(local === dist)
  }

  test("star variant matches min-label on random graphs (20 seeds)") {
    import spark.implicits._
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val pairs = (1 to n).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      if (pairs.nonEmpty) {
        val df = pairs.toDF("a", "b")
        val simple = Clusters.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val star = Clusters.connectedComponentsStar(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(star === simple, s"seed=$seed")
      }
    }
  }

  test("star variant handles a 200-node path in O(log n) rounds") {
    import spark.implicits._
    val pairs = (0L until 199L).map(i => (i + 1, i)).toDF("a", "b")
    val got = Clusters.connectedComponentsStar(pairs, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 199L).map(_ -> 0L).toMap)
  }

  test("min-label auto-falls-back to star past its diameter budget") {
    import spark.implicits._
    // diameter 30 > 2*3 propagation steps: the old behavior threw;
    // now the star fallback must return the exact components
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val got = distributedOnly(Clusters.connectedComponents(pairs, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got === (0L to 30L).map(_ -> 0L).toMap)
  }

  test("500-node path graph through the distributed entry point (adversarial chain)") {
    import spark.implicits._
    // the dedup_clusters entry shape: default maxIter=25 gives 50
    // propagation steps < diameter 500, so this exercises the full
    // exhaust-then-star-fallback path end to end
    val pairs = (0L until 499L).map(i => (i + 1, i)).toDF("a", "b")
    val got = distributedOnly(Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got === (0L to 499L).map(_ -> 0L).toMap)
  }

  test("self-pair-only nodes survive all paths as singleton components") {
    import spark.implicits._
    // node 7 appears ONLY as the self-pair (7,7): the min-label path
    // keeps it (it survives the edge union), and the star path must
    // return it too — a divergence here makes the diameter-budget
    // fallback change the output contract mid-query
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 7L -> 7L)
    val local = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = distributedOnly(Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val star = Clusters.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === want)
    assert(dist === want)
    assert(star === want)
  }

  test("reliable checkpoint dir is honored when configured") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no global ckpt dir")
    sc.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val got = distributedOnly(Clusters.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the reliable path actually wrote RDD checkpoints
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files written under the configured dir")
    } finally {
      // SparkContext has no unsetCheckpointDir: reflectively restore
      // None so the rest of the (shared-session) suite keeps the
      // localCheckpoint path. The temp dir is left for /tmp cleanup —
      // deleting it here could race a concurrent suite's checkpoint.
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
    }
  }
}
