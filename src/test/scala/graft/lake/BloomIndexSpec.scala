package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Bloom point-lookup file skipping: equality probes on a
  * high-cardinality column prune files that min/max stats cannot
  * (every file's range covers every key), with no false negatives.
  */
class BloomIndexSpec extends AnyFunSuite with SparkSpec {

  private def fresh(): IncrementalTable = {
    val dir = Files.createTempDirectory("bloom_").toString + "/t"
    new IncrementalTable(spark, dir)
  }

  /** 8 one-file appends of hash-like string keys, INTERLEAVED so every
    * file's [min, max] spans the whole key space — range stats are
    * useless by construction.
    */
  private def load(t: IncrementalTable): Map[Int, String] = {
    import spark.implicits._
    val probes = scala.collection.mutable.Map.empty[Int, String]
    for (f <- 0 until 8) {
      val rows = (0 until 200).map { i =>
        val k = f"k${(i * 8 + f) * 2654435761L % 100000}%05d-${f}x$i"
        if (i == 100) probes(f) = k
        (k, f.toLong, i.toLong)
      }
      t.append(rows.toDF("key", "file_no", "seq").coalesce(1))
    }
    probes.toMap
  }

  test("point lookup prunes to ~1 file with blooms, not without") {
    val t = fresh()
    t.setBloomColumns("key")
    val probes = load(t)
    val all = t.files(t.latestVersion.get)
    assert(all.size === 8)
    val target = probes(3)
    // min/max alone: interleaved keys ⇒ every file possibly matches
    // (shelve the bloom store to expose the stats-only behavior)
    val bdir = java.nio.file.Paths.get(t.path, "_blooms")
    val shelf = java.nio.file.Paths.get(t.path, "_blooms_shelved")
    java.nio.file.Files.move(bdir, shelf)
    assert(t.prunedFiles(all, Seq(col("key") === target)).size === 8,
      "interleaved keys must defeat min/max pruning (else this test proves nothing)")
    java.nio.file.Files.move(shelf, bdir)
    // blooms: the one holding file plus fpp-bounded false positives
    val kept = t.prunedFiles(all, Seq(col("key") === target))
    assert(kept.size <= 3, s"bloom should prune to ~1 of 8 files, kept $kept")
    // and never a false negative: the scan still finds the row
    val hit = t.scan(col("key") === target).collect()
    assert(hit.length === 1 && hit(0).getLong(1) === 3L)
  }

  test("IN-list keeps the union of matching files; absent key prunes all") {
    val t = fresh()
    t.setBloomColumns("key")
    val probes = load(t)
    val all = t.files(t.latestVersion.get)
    val wanted = Seq(probes(1), probes(6))
    val kept = t.prunedFiles(all, Seq(col("key").isin(wanted: _*)))
    assert(kept.size <= 4, s"IN-probe kept $kept")
    assert(t.scan(col("key").isin(wanted: _*)).count() === 2)
    // a key that exists nowhere: every bloom says no
    val gone = t.prunedFiles(all, Seq(col("key") === "no-such-key"))
    assert(gone.size <= 1, s"absent key should prune (almost) everything: $gone")
    assert(t.scan(col("key") === "no-such-key").count() === 0)
  }

  test("files written before enabling have no bloom and are kept") {
    val t = fresh()
    import spark.implicits._
    t.append(Seq(("pre-bloom-key", 99L, 0L)).toDF("key", "file_no", "seq"))
    t.setBloomColumns("key")
    t.append(Seq(("post-bloom-key", 100L, 0L)).toDF("key", "file_no", "seq"))
    val all = t.files(t.latestVersion.get)
    // the pre-bloom file must survive any probe (no false negatives)
    val kept = t.prunedFiles(all, Seq(col("key") === "pre-bloom-key"))
    assert(kept.exists(_ => true) && t.scan(col("key") === "pre-bloom-key").count() === 1)
    // disjunctions are invisible to the BLOOM phase (c = x OR d = y
    // cannot prune on c alone) — the matching row must still be found
    // even though its key's bloom would reject "no-such"
    val disj = t.scan(col("key") === "no-such" || col("file_no") === 99L)
    assert(disj.count() === 1 && disj.head.getString(0) === "pre-bloom-key")
  }

  test("concurrent appenders on a bloom-indexed table: no lost filters, probes stay sound") {
    val t = fresh()
    t.setBloomColumns("key")
    import spark.implicits._
    // 4 writers x 3 appends race the commit CAS; each writes unique keys
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        val mine = new IncrementalTable(spark, t.path)
        (0 until 3).foreach { i =>
          mine.append(Seq((s"w$w-k$i", w.toLong, i.toLong))
            .toDF("key", "file_no", "seq").coalesce(1))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = t.files(t.latestVersion.get)
    assert(all.size === 12 && t.snapshot().count() === 12)
    // every file carries a bloom row — no writer's index was lost
    val blooms = spark.read.parquet(t.bloomParts(): _*)
      .select("file").as[String].collect().toSet
    assert(all.toSet.subsetOf(blooms), s"missing blooms: ${all.toSet -- blooms}")
    // a point lookup prunes to ~1 file and finds its row
    val kept = t.prunedFiles(all, Seq(col("key") === "w2-k1"))
    assert(kept.size <= 2, s"expected ~1 of 12 files: $kept")
    assert(t.scan(col("key") === "w2-k1").count() === 1)
    // absent key: everything pruned
    assert(t.prunedFiles(all, Seq(col("key") === "nope")).isEmpty)
  }

  test("an empty batch on a bloom-indexed table commits instead of failing the build") {
    val t = fresh()
    import spark.implicits._
    t.setBloomColumns("key")
    t.append(Seq(("k1", 1L)).toDF("key", "v"))
    // an empty streaming micro-batch stages a metadata-only parquet
    // file; the bloom build's max(count) aggregate is then NULL — the
    // commit must survive (there is simply nothing to index)
    val v = t.append(Seq.empty[(String, Long)].toDF("key", "v").coalesce(1))
    assert(t.latestVersion.contains(v))
    assert(t.scan(col("key") === "k1").count() === 1L)
    assert(t.prunedFiles(t.files(v), Seq(col("key") === "k1")).nonEmpty)
  }

  test("a crash-stranded sidecar swap recovers on the next probe") {
    // The pre-round-8 swap was delete-then-rename: a crash between the
    // two left the surviving rows stranded in _blooms_tmp and a later
    // defensive delete destroyed them — the index silently vanished.
    // Simulate both stranding shapes and assert the next access
    // completes the swap instead of reading "no index".
    val t = fresh()
    t.setBloomColumns("key")
    val probes = load(t)
    val all = t.files(t.latestVersion.get)
    val target = probes(3)
    val bdir = java.nio.file.Paths.get(t.path, "_blooms")
    val tmp = java.nio.file.Paths.get(t.path, "_blooms_tmp")
    val aside = java.nio.file.Paths.get(t.path, "_blooms_old")
    // shape 1: live dir renamed aside, complete replacement in tmp
    // (crash after the set-aside, before the promote)
    java.nio.file.Files.move(bdir, tmp)
    assert(t.prunedFiles(all, Seq(col("key") === target)).size <= 3,
      "stranded tmp must be promoted, not read as no-index")
    assert(java.nio.file.Files.exists(bdir) && !java.nio.file.Files.exists(tmp))
    // shape 2: live dir set aside, tmp already promoted... then lost —
    // only the aside copy remains (crash inside a failed promote)
    java.nio.file.Files.move(bdir, aside)
    assert(t.prunedFiles(all, Seq(col("key") === target)).size <= 3,
      "aside copy must be restored, not read as no-index")
    assert(java.nio.file.Files.exists(bdir) && !java.nio.file.Files.exists(aside))
    // no false negatives after both recoveries
    assert(t.scan(col("key") === target).count() === 1L)
  }

  test("bloom config survives appends, snapshot rewrites, and compaction rebuilds filters") {
    val t = fresh()
    t.setBloomColumns("key")
    load(t)
    assert(t.bloomColumns === Seq("key"))
    t.compact(targetFiles = 2)
    assert(t.bloomColumns === Seq("key"), "bloom meta must survive writeSnapshot")
    // compaction restaged everything through recordStats ⇒ the new
    // files have fresh blooms; an absent key still prunes
    val all = t.files(t.latestVersion.get)
    val gone = t.prunedFiles(all, Seq(col("key") === "nope"))
    assert(gone.isEmpty, s"restaged files should carry blooms: kept $gone")
  }
}
