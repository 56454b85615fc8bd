package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over a near-duplicate pair list — the step a
  * training-data pipeline runs AFTER pair detection ([[MinHashLSH]] /
  * [[SimHash]] / [[NgramJaccard]]): pairs only say "a ~ b"; dropping
  * duplicates needs the transitive closure so each group keeps exactly
  * one canonical document.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with itself; each round every node takes the minimum label
  * among itself and its neighbors; fixpoint = every node carries the
  * minimum id of its component (converges in O(component diameter)
  * rounds — near-dup clusters are shallow, typically 2-3 rounds).
  *
  * Scale shape: the edge list is only the NEAR-DUP PAIRS — orders of
  * magnitude smaller than the corpus — and every round is one
  * edge-vs-label equi-join + a min-aggregate, all hash-partitioned on
  * node id. Each round materializes its labels ([[materialize]]), so
  * the plan never grows with the iteration count. For adversarial
  * graphs with long chains the standard upgrade is the large-star /
  * small-star algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond"), which converges in O(log n) rounds of the
  * same join shape — [[connectedComponents]] FALLS BACK to it
  * automatically when the diameter budget runs out, so a pathological
  * pair graph degrades to O(log n) rounds instead of failing.
  *
  * Fault tolerance: per-round materialization uses the session's
  * RELIABLE checkpoint dir when one is configured
  * (`spark.sparkContext.setCheckpointDir(...)` — HDFS/S3-backed, so a
  * lost executor late in a long propagation recomputes nothing), and
  * falls back to `localCheckpoint` otherwise. The local fallback
  * stores blocks on executors WITHOUT replication: on executor loss
  * the whole query fails and retries from the source — acceptable
  * for a QUERY (no table state can corrupt, unlike a sink), but for
  * expensive pair lists on preemptible clusters set a checkpoint dir.
  * Note Spark retains reliable checkpoint files unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled —
  * point the dir at scratch storage with a lifecycle rule, the
  * standard operational practice for iterative jobs.
  */
object Clusters {

  /** Cut lineage and pin this round's frame: reliable `checkpoint`
    * when the session has a checkpoint dir (survives executor loss),
    * `localCheckpoint` otherwise (see the object doc's fault-tolerance
    * contract).
    */
  private def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** `(id, cluster_id)` for every node appearing in `pairs`;
    * `cluster_id` = min node id of the connected component.
    *
    * Round shape (optimization-round rework, measured): the edge list
    * is symmetrized, given a SELF-LOOP per node, and hash-partitioned
    * on `dst` ONCE at build — every propagation round then probes the
    * same pre-partitioned frame, so a round is ONE join (the label
    * side re-uses its previous round's `groupBy` partitioning through
    * the alias) + ONE min-aggregate. The self-loop row carries the
    * node's own previous label into the aggregate, which removes the
    * old second join (labels LEFT JOIN neighbor-min) entirely — per
    * propagation step: 1 exchange instead of 3 (guide §2.4: keyed
    * operations share one exchange; remove shuffles outright).
    *
    * @param pairs undirected edges, two columns `aCol`/`bCol`
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 25): DataFrame = {
    val thresh = localEdgeThreshold(pairs.sparkSession)
    // materialize the pair list FIRST: the caller usually hands us the
    // lazy output of a whole near-dup pipeline, and referencing it in
    // both union branches below would execute that pipeline twice
    val p = materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    // TINY-GRAPH SHORT-CIRCUIT (guide §1.2 / §5: model-sized work is
    // driver work, like building a broadcast): the pair list is orders
    // of magnitude smaller than the corpus, and an incremental ingest
    // batch's intra-batch graph is typically tens of edges — the
    // symmetrize + repartition + per-round checkpoint scaffolding below
    // is pure fixed cost there (measured 0.05 → 0.25 s per incremental
    // dedup batch when the round-17 CC rework landed). When the
    // (already materialized) edge list fits a broadcast-sized budget,
    // run union-find on the driver instead: the output — (id, min node
    // id of the component) — is a pure function of the graph, so the
    // result is bit-identical by construction (orderings below match
    // Spark's: numeric for integral ids, unsigned UTF-8 bytes for
    // strings). Big graphs take the distributed path unchanged; the
    // budget is a session conf, 0 disables.
    if (thresh > 0 && localOrdering(p.schema("src").dataType).isDefined &&
        p.schema("dst").dataType == p.schema("src").dataType) {
      val sample = p.take(thresh + 1)
      if (sample.length <= thresh &&
          !sample.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        // a LocalRelation, so a downstream join can broadcast it
        // without a single Spark job
        val dt = p.schema("src").dataType
        val labels = localComponents(
          sample.iterator.map(r => (r.get(0), r.get(1))), localOrdering(dt).get)
        return p.sparkSession.createDataFrame(
          java.util.Arrays.asList(labels.map { case (id, c) => Row(id, c) }: _*),
          StructType(Seq(
            StructField("id", dt, p.schema("src").nullable || p.schema("dst").nullable),
            StructField("cluster_id", dt, nullable = true))))
      }
    }
    // symmetric closure + one self-loop per node (so the min-aggregate
    // below sees the node's own label), deduped, pre-partitioned on
    // the per-round join key
    val edges = materialize(
      p.union(p.select(col("dst").as("src"), col("src").as("dst")))
        .union(p.select(col("src"), col("src").as("dst")))
        .union(p.select(col("dst").as("src"), col("dst")))
        .distinct()
        .repartition(col("dst")))
    // one min-label propagation step: every node takes the min label
    // over its closed neighborhood (self-loop included) — one join +
    // one aggregate, no label re-join
    def step(ls: DataFrame): DataFrame =
      edges.join(ls.select(col("id").as("dst"), col("cluster_id")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("cluster_id").as("cluster_id"))
    // step with a change flag: the self-loop row carries the node's
    // PREVIOUS label, so "did this step change anything" falls out of
    // the same aggregate — no old-vs-new join. If the LAST applied
    // step changed nothing, the labels are a fixpoint.
    def stepChg(ls: DataFrame): DataFrame =
      edges.join(ls.select(col("id").as("dst"), col("cluster_id")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("cluster_id").as("cluster_id"),
          (min(col("cluster_id")) <
            min(when(col("dst") === col("src"), col("cluster_id"))))
            .as("chg"))
    // pointer-jump (label doubling): label(u) <- label(label(u)). A
    // label is always the id of a node in u's OWN component (it arrived
    // via edges), so the jump preserves the component invariant while
    // collapsing chains in O(log D) rounds instead of O(D) — the
    // classic shortcutting upgrade, applied from round 2 on (round 1
    // graphs are usually shallow and the extra join would be pure
    // cost). The convergence certificate stays the propagation step's
    // own no-change flag: a no-change application of the neighborhood-
    // min map is a fixpoint proof regardless of how labels got there,
    // and at fixpoint every label is the component min (induction
    // along any path from the min node).
    def shortcut(ls: DataFrame): DataFrame =
      ls.join(ls.select(col("id").as("cluster_id"),
          col("cluster_id").as("__c2")), Seq("cluster_id"), "left")
        .select(col("id"),
          coalesce(col("__c2"), col("cluster_id")).as("cluster_id"))
    // round 1 folds the init labels (id -> id) into the first step:
    // min over the closed neighborhood of ids is just min(dst)
    val step0 = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("cluster_id"))
    // TWO lazy propagation steps per materialization: near-dup
    // components have tiny diameters, so halving the number of
    // checkpoint+convergence actions (each a fixed-latency job)
    // matters more than the occasional extra lazy join after
    // convergence.
    var next = materialize(stepChg(step0))
    var converged = next.filter(col("chg")).limit(1).isEmpty
    var labels = next.drop("chg")
    var i = 1
    while (!converged && i < maxIter) {
      next = materialize(stepChg(step(shortcut(labels))))
      converged = next.filter(col("chg")).limit(1).isEmpty
      labels = next.drop("chg")
      i += 1
    }
    if (!converged) {
      // adversarial long-chain graph: min-label needs O(diameter)
      // rounds, which just ran out — degrade to the O(log n) star
      // rounds from the (already materialized) edge list instead of
      // failing the query. Partial labels are discarded: star is
      // label-free (it rewrites edges, not labels), and re-deriving
      // from `p` keeps the fallback a pure function of the input.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: diameter budget exhausted after $maxIter " +
          "rounds; falling back to large-star/small-star (O(log n))")
      return connectedComponentsStar(p, "src", "dst")
    }
    labels
  }

  /** `graft.cc.localEdgeThreshold`: the largest edge count that takes
    * the driver-local path (default 100000, 0 disables it). The same
    * budget gates [[FingerprintDedupIndex.dedupBatch]]'s driver-side
    * decisions: a batch decides on the driver only when both its band
    * rows and its candidate pairs (the sum of C(s, 2) over its
    * (band, bv) buckets) fit it. A value
    * that is not an integer in [0, Int.MaxValue - 1] fails here, naming
    * the conf, rather than as a bare NumberFormatException or a
    * negative `take` size.
    */
  private[dedup] def localEdgeThreshold(spark: SparkSession): Int = {
    val key = "graft.cc.localEdgeThreshold"
    val raw = spark.conf.get(key, "100000")
    raw.trim.toIntOption.filter(t => t >= 0 && t < Int.MaxValue).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be an integer between 0 and ${Int.MaxValue - 1} " +
          s"(0 disables the driver-local path), got '$raw'"))
  }

  /** Total order matching Spark's `min` for the supported id types —
    * the local path must pick the SAME component representative the
    * distributed aggregate would ([[graft.functions.ValueOrdering]]).
    */
  private def localOrdering(dt: DataType): Option[Ordering[Any]] =
    graft.functions.ValueOrdering.forType(dt)

  /** Driver-local union-find over an edge list: every node (either
    * endpoint), in first-seen order, paired with its component's
    * minimum id under `ord` — exactly the distributed fixpoint. Shared
    * with [[FingerprintDedupIndex]]'s driver-side batch decisions.
    */
  private[dedup] def localComponents(edges: Iterator[(Any, Any)],
      ord: Ordering[Any]): Seq[(Any, Any)] = {
    val idx = new java.util.HashMap[Any, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def intern(v: Any): Int = {
      val e = idx.get(v)
      if (e != null) e.intValue()
      else {
        idx.put(v, Integer.valueOf(ids.length))
        ids += v
        parent += parent.length
        parent.length - 1
      }
    }
    def find(x0: Int): Int = { // path halving
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      val a = find(intern(u))
      val b = find(intern(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val minOf = new Array[Any](ids.length)
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      if (minOf(r) == null || ord.lt(ids(i), minOf(r))) minOf(r) = ids(i)
      i += 1
    }
    ids.indices.map(k => (ids(k), minOf(find(k))))
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * converges in O(log n) rounds regardless of component diameter —
    * the upgrade for adversarial long-chain graphs where min-label
    * propagation's O(diameter) rounds is unacceptable.
    *
    * large-star: every node points its LARGER neighbors at the minimum
    * of its neighborhood (incl. itself); small-star: the same for its
    * smaller-or-equal neighbors. Both preserve connectivity and strictly
    * shrink star heights; fixpoint = each component is a star centered
    * at its minimum node.
    */
  def connectedComponentsStar(
      pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 50): DataFrame = {
    // nodes derive from the UNFILTERED pair list: a node appearing
    // only as a self-pair (x, x) must still come back as a singleton
    // component (the min-label path keeps it, so this path must too —
    // both the direct caller and the diameter-budget fallback depend
    // on the two outputs being identical)
    val pAll = materialize(
      pairs.select(col(aCol).as("u"), col(bCol).as("v")))
    val p0 = materialize(pAll.filter(col("u") =!= col("v")))
    val nodes = materialize(
      pAll.select(col("u").as("id"))
        .union(pAll.select(col("v").as("id"))).distinct())

    // canonicalize an emitted arc list to an undirected (u < v) edge set
    def canonical(arcs: DataFrame): DataFrame = arcs
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()

    // large-star(u): m = min(Γ(u) ∪ {u}); connect every STRICTLY LARGER
    // neighbor to m, and keep (u, m). small-star(u): m = min(Γ⁻(u) ∪
    // {u}) over the SMALLER neighbors only; connect them and u to m
    // (u's larger neighbors re-point u from their own side).
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val base = if (large) sym else sym.filter(col("v") < col("u"))
      val m = base.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      val repointed = base.join(m, "u")
        .filter(if (large) col("v") > col("u") else lit(true))
        .select(col("v").as("x"), col("m").as("y"))
      val self = m.select(col("u").as("x"), col("m").as("y"))
      canonical(repointed.unionByName(self))
    }

    var edges = materialize(p0
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = materialize(star(star(edges, large = true), large = false))
      // fixpoint: edge sets equal (both canonical + distinct)
      converged = next.count() == edges.count() &&
        next.except(edges).limit(1).isEmpty
      edges = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(s"star rounds did not converge in $maxIter")
    // stars: every edge is (center, member); centers are their own id
    val members = edges.select(col("v").as("id"), col("u").as("cluster_id"))
    val centers = nodes.join(members, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    members.unionByName(centers)
  }
}
