package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class MergeIntoSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private def target = {
    import spark.implicits._
    Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "v", "n")
  }
  private def updates = {
    import spark.implicits._
    Seq((2, "B2", 200L), (3, "c", 999L), (4, "d", 40L)).toDF("id", "v", "n")
  }

  test("update + insert with conditional update (reference delta_merge shape)") {
    val next = MergeInto(target, updates, "target.id = updates.id")
      .whenMatchedUpdate(
        Map("v" -> "updates.v", "n" -> "updates.n"),
        condition = Some("target.v != updates.v"))
      .whenNotMatchedInsert(Map("id" -> "updates.id", "v" -> "updates.v", "n" -> "updates.n"))
      .resolve()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(next.toSeq === Seq(
      (1, "a", 10),    // untouched (no match)
      (2, "B2", 200),  // updated, long 200 cast to target INT
      (3, "c", 30),    // matched but condition false → byte-identical
      (4, "d", 40)))   // inserted
  }

  test("withSchemaEvolution: assigned new columns evolve; off = ignored") {
    import spark.implicits._
    val src = Seq((2, "B2", 200L, "extra2"), (4, "d", 40L, "extra4"))
      .toDF("id", "v", "n", "note")
    def merge(m: MergeInto) = m
      .whenMatchedUpdate(Map("v" -> "updates.v", "note" -> "updates.note"))
      .whenNotMatchedInsert(Map(
        "id" -> "updates.id", "v" -> "updates.v",
        "n" -> "updates.n", "note" -> "updates.note"))
    // OFF (default): the unknown column is silently ignored — the
    // target schema is authoritative (pre-existing contract)
    val flat = merge(MergeInto(target, src, "target.id = updates.id")).resolve()
    assert(flat.columns.toSeq === Seq("id", "v", "n"))
    // ON: `note` evolves — typed from the source, NULL where unassigned
    val next = merge(MergeInto(target, src, "target.id = updates.id")
      .withSchemaEvolution()).resolve()
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(3)) null else r.getString(3)))
    assert(next.toSeq === Seq(
      (1, "a", null),      // untouched row: new column reads NULL
      (2, "B2", "extra2"), // updated row carries the evolved value
      (3, "c", null),
      (4, "d", "extra4"))) // inserted row carries it too
  }

  test("merge condition plans as a hash join, never a nested loop") {
    // equi-parts of the string condition must be extracted as join keys
    // (ExtractEquiJoinKeys) with residuals as filters — a
    // BroadcastNestedLoopJoin here would be O(|target|x|updates|) at scale
    val plan = MergeInto(target, updates,
      "target.id = updates.id AND target.n < 100 AND updates.v != 'zzz'")
      .whenMatchedUpdate(Map("v" -> "updates.v"))
      .whenNotMatchedInsert(Map("id" -> "updates.id", "v" -> "updates.v"))
      .resolve().queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested loop join in merge plan:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected hash/sort-merge join:\n$plan")
  }

  test("partial update-set leaves unlisted target columns alone") {
    val next = MergeInto(target, updates, "target.id = updates.id")
      .whenMatchedUpdate(Map("v" -> "upper(updates.v)"))
      .resolve()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(next.toSeq === Seq((1, "a", 10), (2, "B2", 20), (3, "C", 30)))
  }

  test("whenMatchedDelete with first-match-wins clause ordering") {
    // clause 1: delete matched rows whose incoming n > 500
    // clause 2: otherwise update v
    val next = MergeInto(target, updates, "target.id = updates.id")
      .whenMatchedDelete(Some("updates.n > 500"))
      .whenMatchedUpdate(Map("v" -> "updates.v"))
      .whenNotMatchedInsert(Map("id" -> "updates.id", "v" -> "updates.v", "n" -> "updates.n"))
      .resolve()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(next.toSeq === Seq(
      (1, "a", 10),   // unmatched target kept
      (2, "B2", 20),  // updated by clause 2
      (4, "d", 40)))  // id=3 deleted (n=999 > 500); id=4 inserted
  }

  test("no insert clause drops unmatched source rows") {
    val next = MergeInto(target, updates, "target.id = updates.id")
      .whenMatchedUpdate(Map("n" -> "updates.n"))
      .resolve()
    assert(next.count() === 3) // id=4 not inserted
    assert(next.filter(col("id") === 2).head().getInt(2) === 200)
  }

  test("insert values may be expressions; missing columns become NULL") {
    val next = MergeInto(target, updates, "target.id = updates.id")
      .whenNotMatchedInsert(Map("id" -> "updates.id", "v" -> "concat(updates.v, '!')"))
      .resolve()
      .filter(col("id") === 4).head()
    assert(next.getString(1) === "d!")
    assert(next.isNullAt(2))
  }

  test("NULL clause condition means not-applied, never delete or clause-skip") {
    import spark.implicits._
    // nullable x: comparisons against NULL yield SQL NULL, which MERGE
    // must treat as "clause does not apply" (Delta/SQL semantics) — not
    // as delete-the-row (filter(!NULL) drops) nor as poison for later
    // clauses' first-match-wins chain.
    val t = Seq((1, Option("keep")), (2, None: Option[String]), (3, Option("del")))
      .toDF("id", "x")
    val u = Seq(1, 2, 3).toDF("id")
    val next = MergeInto(t, u, "target.id = updates.id")
      .whenMatchedDelete(Some("target.x = 'del'"))   // NULL for id=2
      .whenMatchedUpdate(Map("x" -> "'updated'"),
        condition = Some("target.x = 'keep'"))       // NULL for id=2
      .resolve()
      .orderBy("id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(next.toSeq === Seq(
      (1, "updated"), // delete cond false -> update clause applies
      (2, null)))     // BOTH conditions NULL -> row untouched, NOT dropped
                      // id=3 deleted by the first clause
  }

  test("NULL by-source condition keeps the target row") {
    import spark.implicits._
    val t = Seq((1, Option("stale")), (2, None: Option[String])).toDF("id", "x")
    val u = Seq(99).toDF("id") // nothing matches
    val next = MergeInto(t, u, "target.id = updates.id")
      .whenNotMatchedBySourceDelete(Some("target.x = 'stale'")) // NULL for id=2
      .resolve()
      .orderBy("id").collect().map(_.getInt(0))
    assert(next.toSeq === Seq(2)) // id=1 deleted; id=2 kept despite NULL cond
  }

  test("NOT MATCHED BY SOURCE update/delete beside an insert clause never " +
    "touch the inserted rows") {
    def withInsert(m: MergeInto) = m
      .whenMatchedUpdate(Map("v" -> "updates.v"))
      .whenNotMatchedInsert(Map("id" -> "updates.id", "v" -> "updates.v", "n" -> "updates.n"))
      .resolve()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    val updated = withInsert(MergeInto(target, updates, "target.id = updates.id")
      .whenNotMatchedBySourceUpdate(Map("v" -> "'orphan'", "n" -> "-1")))
    assert(updated === Seq(
      (1, "orphan", -1), // target-only row: the by-source clause
      (2, "B2", 20),
      (3, "c", 30),
      (4, "d", 40)))     // inserted exactly as the insert clause says
    val deleted = withInsert(MergeInto(target, updates, "target.id = updates.id")
      .whenNotMatchedBySourceDelete())
    assert(deleted === Seq((2, "B2", 20), (3, "c", 30), (4, "d", 40)))
  }

  test("insert values and conditions resolve against the source alone") {
    // `v` and `n` exist on both sides: in an insert they are the source's
    val next = MergeInto(target, updates, "target.id = updates.id")
      .whenNotMatchedInsert(Map("id" -> "id", "v" -> "upper(v)", "n" -> "n + 1"),
        condition = Some("n < 100"))
      .resolve()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(next.toSeq === Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "D", 41)))
    // an inserted row has no target side to read
    intercept[org.apache.spark.sql.AnalysisException] {
      MergeInto(target, updates, "target.id = updates.id")
        .whenNotMatchedInsert(Map("id" -> "updates.id", "v" -> "target.v"))
        .resolve()
    }
  }
}
