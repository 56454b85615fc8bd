package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{CorpusDedupIndex, ExactDedup, MinHashLSH, NgramJaccard, SimHash, Shingles}
import graft.sim.CosineSim
import graft.text.TextFunctions

/** Driver-contract queries for the training-data pipeline operators
  * (dedup, similarity search, text analysis) over `documents` /
  * `embeddings`, with DuckDB oracles.
  *
  * Shared oracle SQL fragments live in private vals; every hash / rehash
  * / quantization is exact integer arithmetic so both engines agree
  * bit-for-bit (see Shingles/CosineSim Scaladoc).
  */
object PipelineQueries {

  private val K = 8          // minhash signature length
  private val BANDS = 4      // LSH bands (rows per band = 2)
  private val NGRAM = 3      // word shingle width

  private val KMV_K = 256    // KMV sketch size (bottom-k sample)

  // ---------------- Spark queries ----------------

  /** Cross-source shingle-set overlap via the KMV distinct sketch
    * (graft.functions.Kmv): per-source bounded sketches (one partial
    * agg, no shuffle of raw shingles thanks to map-side k-min folding),
    * then all-pairs estimates on the 20-row sketch table. The whole
    * approximate computation is deterministic (sha2-derived hashes), so
    * the oracle replays it exactly in SQL — including the intersection
    * estimator HLL-family sketches cannot express.
    */
  def sourceOverlapKmv(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kmv
    val sh = Shingles.shingleHashesAll(
      Tables.load(spark, dir, "documents"), "source", "text", NGRAM)
    val sketches = sh.groupBy("source")
      .agg(Kmv.sketchAgg(col("h"), KMV_K).as("sk"))
    val a = sketches.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sketches.select(col("source").as("source_b"), col("sk").as("sk_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        Kmv.estimate(col("sk_a")).as("est_a"),
        Kmv.estimate(col("sk_b")).as("est_b"),
        Kmv.intersect(col("sk_a"), col("sk_b")).as("est_common"))
      .orderBy("source_a", "source_b")
  }

  /** Banded range join (see [[RangeJoin]]): for every error event, how
    * many clicks (any user) landed in the preceding 5 minutes. 1-minute
    * bands bound the interval fanout at 6×; the plan is a plain
    * hash-partitioned equi-join on the band — no nested-loop, no
    * broadcast of a fact table.
    */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val FiveMinNs = 300000000000L
    val ev = Tables.load(spark, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
    val intervals = errors
      .withColumn("lo", col("err_ts") - lit(FiveMinNs))
      .withColumn("hi", col("err_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts").as("click_ts"))
    val counts = RangeJoin
      .pointInInterval(clicks, intervals, "click_ts", "lo", "hi",
        bandNanos = 60000000000L)
      .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
    errors.join(counts, Seq("err_id"), "left_outer")
      .select(col("err_id").as("event_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy("event_id")
  }

  /** Concat-and-chunk packing into 2048-token bins, per source shard
    * (see [[graft.text.Packing]]).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    graft.text.Packing.packBins(
      Tables.load(spark, dir, "documents"), "doc_id", "text", "source", 2048L)
      .orderBy("doc_id")

  /** Benchmark decontamination: docs sharing any word 3-gram with the
    * pretend eval set (doc_id < 20) are dropped
    * (see [[graft.text.Decontaminate]]).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.text.Decontaminate.clean(
      docs, docs.filter(col("doc_id") < 20), "doc_id", "text", NGRAM)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Deterministic 20% corpus sample (see [[Sampling]]): retry-stable,
    * seedless, ANSI-replayable — the sampling a distributed pipeline
    * can actually trust.
    */
  def sampleDocuments(spark: SparkSession, dir: String): DataFrame =
    Sampling.byHash(Tables.load(spark, dir, "documents"), "doc_id", 0.2)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  /** Dataset MIXTURE — the mixing step every multi-source training
    * corpus runs: each source gets a target sampling rate (derived
    * here from its numeric suffix, standing in for the mixture-weights
    * config a real pipeline carries), rows are kept by the SAME
    * deterministic 60-bit key hash as [[Sampling.byHash]], and the
    * result rolls up per-source document and token counts. A pure
    * narrow filter plus one partial aggregation: no RNG state to
    * coordinate, retry-stable at 1000 executors, and the mixture is
    * reproducible row-for-row in ANSI SQL.
    */
  /** The mixture-weight config `mix_sources` samples by — shared with
    * its oracle SQL so both sides interpolate the SAME
    * [[Sampling.threshold]] longs (boundary-exact by construction).
    */
  private val mixWeights: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> (i % 5 + 1) / 5.0)

  def mixSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Sampling.stratifiedByHash(docs, "doc_id", "source", mixWeights.toMap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy("source")
  }

  /** Deterministic TRAIN/VAL/TEST split — the assignment every
    * training corpus needs before anything ships to a trainer:
    * [[Sampling.splitByHash]] cumulative hash bands (retry-stable,
    * seedless, joinable to any other table by doc_id, and a row in
    * train can never migrate to test when the fractions are later
    * tuned), rolled up to per-split document/token counts. One narrow
    * projection plus one partial aggregation over THREE groups — at
    * 100 TB the split itself costs a scan, nothing more.
    */
  private[ops] val splitBands: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  def splitDataset(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Sampling.splitByHash(docs, "doc_id", splitBands)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  /** Gopher-style integer quality scoring over the corpus — every
    * feature and the combined [0,1000] milli-score is exact integer
    * arithmetic (see [[graft.text.QualityScore]]), so the hash oracle
    * replays it bit-for-bit. One codegen'd scan, no shuffle.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.QualityScore
    val t = col("text")
    Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(t).cast("long").as("token_cnt"),
      QualityScore.meanWordLenMilli(t).as("mwl_milli"),
      QualityScore.stopHits(t).as("stop_hits"),
      QualityScore.punctMilli(t).as("punct_milli"),
      QualityScore.scoreMilli(t).as("score_milli"))
      .orderBy("doc_id")
  }

  /** Model-based quality filtering ([[graft.text.QualityClassifier]]):
    * a Naive Bayes classifier TRAINED on the corpus's own weak labels
    * (here `lang = 'en'`) and applied back over every document —
    * counting-only training (one vocabulary shuffle, bounded
    * 4096-token model via distributed top-k), broadcast-join scoring
    * with pre-quantized milli-nat LLRs so each document's score is an
    * exact integer sum. The full train+score arc replays in SQL.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier.naiveBayesScores(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      col("lang") === "en")
      .orderBy("doc_id")

  /** LM-perplexity filtering ([[graft.text.NgramLm]]): a bigram model
    * trained on the corpus's `lang = 'en'` slice (CCNet's Wikipedia
    * stand-in) scores every document's negative log-likelihood as an
    * exact milli-nat integer; `keep` is the CCNet low-perplexity gate.
    */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame =
    graft.text.NgramLm.bigramNll(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      col("lang") === "en")
      .orderBy("doc_id")

  /** Temperature-flattened language mixing
    * ([[Sampling.temperatureMixSqrt]]): the √n mixture rule over the
    * corpus's skewed `lang` distribution — the majority language's
    * share shrinks toward the tail's without discarding it, every
    * keep decision a deterministic integer-threshold hash test.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixSqrt(
      Tables.load(spark, dir, "documents").select("doc_id", "lang"),
      "doc_id", "lang", budget = 300L)
      .orderBy("doc_id")

  /** Hard per-group cap ([[Sampling.quotaPerGroup]]): exactly 25 docs
    * per language (fewer where the language is smaller), chosen by the
    * deterministic key-hash order — the "at most N per language"
    * mixture spec, retry-stable and partition-free.
    */
  def sampleQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.quotaPerGroup(
      Tables.load(spark, dir, "documents")
        .select("doc_id", "lang", "source"),
      "doc_id", "lang", quota = 25)
      .orderBy("doc_id")

  /** Deterministic shuffle-and-shard for training export
    * ([[Sampling.shardCorpus]]): every document gets a pseudo-random
    * shard (`hash % 8`) and a within-shard ordinal in hash order — a
    * global permutation with no RNG state, stable under retries,
    * replayed exactly by the oracle.
    */
  def shardCorpus(spark: SparkSession, dir: String): DataFrame =
    Sampling.shardCorpus(
      Tables.load(spark, dir, "documents").select("doc_id", "source"),
      "doc_id", 8)
      .select(col("doc_id"), col("source"), col("shard"), col("pos"))
      .orderBy("doc_id")

  /** Per-source token budgets for `select_token_budget` — like
    * [[mixWeights]], the ONE config both the Spark CASE column and the
    * oracle CASE chain interpolate.
    */
  private[ops] val tokenBudgets: Seq[(String, Long)] =
    (0 until 20).map(i => s"src$i" -> (i % 4 + 1) * 300L)

  /** Token-budget-constrained selection (see [[Curation]]): each
    * source's best-scoring docs until its token budget is spent. One
    * source-partitioned window — no global sort.
    */
  def selectTokenBudget(spark: SparkSession, dir: String): DataFrame =
    Curation.selectByTokenBudget(
      Tables.load(spark, dir, "documents"),
      "doc_id", "text", "source", tokenBudgets)
      .select(col("doc_id"), col("source"), col("token_cnt"),
        col("score_milli"), col("sel_rank"), col("cum_tokens"))
      .orderBy("source", "sel_rank")

  /** The exploded (doc_id, fp) WINNOWING frame both winnow queries
    * share (Schleimer/Wilkerson/Aiken, the MOSS local-fingerprinting
    * scheme): hash every character k-gram of the canonicalized text
    * (rolling window of k), then keep the MINIMUM hash of each w-hash
    * window — a position-robust fingerprint set whose density is
    * ~2/(w+1) regardless of document length, guaranteeing any shared
    * substring of length ≥ w+k−1 yields a shared fingerprint. Emitted
    * exploded so overlap detection is a plain self-join on fp. The
    * per-document winnow is ONE codegen'd scalar-expression call
    * ([[WinnowFpsExpr]], O(n) deque) after a doc_id repartition that
    * spreads the work beyond the corpus's input splits — no UDF, no
    * window exchange.
    */
  private def winnowFpsFrame(spark: SparkSession, dir: String,
      k: Int = 8, w: Int = 16): DataFrame =
    // One codegen'd scalar call per document (see [[WinnowFpsExpr]]):
    // the row-local O(n) deque beats every relational formulation
    // measured here — window-min + DISTINCT pays WindowExec's
    // interpreted O(n·w) frame re-evaluation (~3.2 s at sf0.1),
    // `transform` lambdas evaluate interpreted (~3.9 s), the n·w
    // membership explode pays a 22M-row aggregate (~5.6 s); this is
    // ~0.3 s. The repartition spreads the per-doc work beyond the
    // corpus's few input splits; distinct-ing happens inside the call.
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("__canon"))
      .filter(length(col("__canon")) >= k)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graftexpr.WinnowFpsExpr.column(col("__canon"), k, w))
        .as("fp"))

  /** The per-document winnowing fingerprint sets, exploded and ordered
    * — see [[winnowFpsFrame]] for the scheme and the execution shape.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFpsFrame(spark, dir).orderBy("doc_id", "fp")

  /** Near-duplicate detection OVER the winnowing fingerprints — the
    * scheme's actual use: docs sharing ≥3 rare fingerprints with
    * fingerprint-Jaccard ≥ 0.5 are near-dup pairs. The
    * document-frequency cap (fp shared by 2..50 docs) is the hot-key
    * guard: boilerplate fingerprints common to thousands of documents
    * would otherwise quadratically explode the self-join, the same
    * df-pruning `dedup_ngram_jaccard` applies to shingles. Every join
    * is an equi-join on fp or doc_id; the pair list stays edge-sized.
    */
  /** One persisted winnow frame per (session, dataset): the cache is
    * keyed, not per-call, so repeated invocations (bench warm passes,
    * notebooks) reuse one set of cached blocks instead of leaking a
    * new one each time — the persisted handle never escapes, so the
    * caller could not release it. Lifetime rules live on the shared
    * [[KeyedFrameCache]] (stable session-uuid keys, dead-session sweep
    * + LRU eviction with unpersist, eager [[releaseWinnowCache]]).
    */
  private val winnowCache = new KeyedFrameCache(8)

  /** The media-dedup fingerprint frames (tiny: an id + 2-4 int64s per
    * row) — generated-media decode+hash is the expensive part of those
    * queries and feeds both self-join sides (plus the common-index
    * denominator for video), so it must run once, not per subplan.
    * Sized for the key fan-out: ONE dataset populates several keys
    * (#image, #image256, #audio, #video, #shots, …), so 16 entries keep
    * two datasets used alternately (e.g. sf0.1 and sf1 in one session)
    * from LRU-thrashing the expensive decode+hash passes.
    */
  private val mediaHashCache = new KeyedFrameCache(16)

  /** Corpus-scale TEXT frames feeding multiple subplans — the same
    * rule the winnow and media caches encode (a frame consumed by N
    * branches must persist or its upstream pass re-runs per branch):
    * the BPE tokenizer's post-broadcast-join word frame feeds three
    * branches (hit rows, miss rows, the distinct miss-word table), so
    * uncached the corpus explode+lookup scan ran three times
    * (measured 0.38 → 0.84 s warm at sf0.1 when the zero-OOV rework
    * added the third branch; cached it is one pass).
    *
    * SIZE-aware bound: unlike the media caches' 3-int64 rows, this
    * frame is per word OCCURRENCE — larger than the corpus itself —
    * so the entry bound stays small (2 datasets), MEMORY_AND_DISK
    * spills rather than pinning heap, and [[releaseTextFrameCache]]
    * drops a session's entries eagerly. At full cluster scale the
    * trade inverts per dataset size: persisting a corpus-sized frame
    * to executor disk buys two avoided re-scans — worth it while the
    * frame fits the cluster's scratch, and the knob to turn off is a
    * cache miss away (entries evict LRU; nothing is correctness-
    * bearing).
    */
  private val textFrameCache = new KeyedFrameCache(2)

  /** Corpus FILE identity (length+mtime) for session-cache keys — the
    * bpeMemo / lake-build-cache contract: a dataset regenerated at the
    * same path must miss the cache, not serve a stale persisted frame.
    */
  private def docsFileId(dir: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    s"${src.length}:${src.lastModified}"
  }

  private[ops] def winnowCacheKeys: Set[(String, String)] = winnowCache.keys
  private[ops] def mediaHashCacheKeys: Set[(String, String)] = mediaHashCache.keys
  private[ops] def textFrameCacheKeys: Set[(String, String)] = textFrameCache.keys

  /** Unpersist and drop every text frame cached for `spark`. */
  def releaseTextFrameCache(spark: SparkSession): Unit =
    textFrameCache.release(spark)

  /** Unpersist and drop every winnow frame cached for `spark`. */
  def releaseWinnowCache(spark: SparkSession): Unit = winnowCache.release(spark)

  /** Unpersist and drop every media fingerprint frame cached for `spark`. */
  def releaseMediaHashCache(spark: SparkSession): Unit =
    mediaHashCache.release(spark)

  def winnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the winnow scan feeds FOUR subplans (nf, rare, both join sides)
    // and Spark shares no common subplans beyond exchange reuse — cache
    // it once or the codegen'd canon+winnow pass runs ~4×
    val fps = winnowCache.get(spark, dir)(winnowFpsFrame(spark, dir))
    val nf = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50)).select("fp")
    val filtered = fps.join(rare, Seq("fp"), "left_semi")
    val pairs = filtered.as("a")
      .join(filtered.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(nf.as("x"), col("doc_a") === col("x.doc_id"))
      .join(nf.as("y"), col("doc_b") === col("y.doc_id"))
      .filter(col("n_shared") >= 3 &&
        col("n_shared") * lit(1.0) /
          (col("x.n_fp") + col("y.n_fp") - col("n_shared")) >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
      .orderBy("doc_a", "doc_b")
  }

  /** PII redaction pass (see [[TextFunctions.scrubPii]]): per-doc
    * redaction counts + a hash of the scrubbed text (the oracle replays
    * the same regex chain, so the scrub itself is hash-verified).
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      sha2(TextFunctions.scrubPii(t), 256).as("clean_hash"),
      regexp_count(t, lit(TextFunctions.EmailRe)).cast("long").as("n_email"),
      regexp_count(t, lit(TextFunctions.Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(t, lit(TextFunctions.PhoneRe)).cast("long").as("n_phone"))
      .orderBy("doc_id")
  }

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    ExactDedup.groups(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .orderBy("content_hash")

  /** LINE-level corpus dedup ([[graft.dedup.LineDedup]] — C4 §2.2 /
    * RefinedWeb): each exact line ≥ 10 chars keeps only its first
    * occurrence corpus-wide, docs reassemble from survivors. The
    * synthetic corpus is single-line, so the query first builds a
    * deterministic MULTI-LINE frame with real cross-document
    * boilerplate: doc `i`'s lines are the texts of docs `i`, `i+1`,
    * `i+2` (mod N) — every text recurs as a line in exactly three
    * docs, the shape the operator exists for. Output is per-doc:
    * surviving-line count, new length, and the sha2 of the
    * REASSEMBLED text — a wrong keep-first order, a dropped short
    * line, or a mis-ordered reassembly all change the hash.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text")
    val n = docs.count() // driver literal; the oracle derives the same N
    def shifted(by: Int, as: String) = docs.select(
      pmod(col("doc_id") - by + n, lit(n)).as("doc_id"),
      col("text").as(as))
    val multi = docs
      .join(shifted(1, "l1"), Seq("doc_id"))
      .join(shifted(2, "l2"), Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        concat_ws("\n", col("text"), col("l1"), col("l2")).as("text"))
    graft.dedup.LineDedup.dedupLines(multi.select("doc_id", "text"))
      .join(multi.select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lines_total"),
        col("lines_kept"), length(col("new_text")).cast("long").as("new_len"),
        sha2(col("new_text"), 256).as("new_sha"))
      .orderBy("doc_id")
  }

  /** Per-domain boilerplate stripping over documents with KNOWN chrome
    * injected (a cookie banner above, a per-source footer below — the
    * deterministic fixture both engines construct identically): the
    * injected lines recur in every document of a source and must strip;
    * organic content lines survive unless they genuinely recur.
    */
  def stripBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text")
    val aug = docs.select(col("doc_id"), col("source"),
      concat_ws("\n", lit("COOKIE NOTICE - accept to continue"),
        col("text"),
        concat(lit("(c) site "), col("source"))).as("text"))
    graft.text.Boilerplate.strip(aug, "doc_id", "text", "source",
      minDocFracBp = 5000, minDocs = 3)
      .select(col("doc_id"), col("lines_total"), col("lines_kept"),
        length(col("new_text")).cast("long").as("new_len"),
        sha2(col("new_text"), 256).as("new_sha"))
      .orderBy("doc_id")
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    NgramJaccard.similarPairs(Tables.load(spark, dir, "documents"),
      "doc_id", "text", NGRAM, num = 1, den = 2)
      .orderBy("a", "b")

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDuplicates(Tables.load(spark, dir, "documents"),
      "doc_id", "text", NGRAM, k = K, bands = BANDS, num = 3, den = 10)
      .orderBy("a", "b")

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    SimHash.nearPairs(Tables.load(spark, dir, "documents"),
      "doc_id", "text", maxHamming = 3)
      .orderBy("a", "b")

  /** Threshold 0.4: the synthetic embeddings top out at pairwise cosine
    * ≈0.51, so 0.95-style production thresholds select nothing here.
    * This EXACT variant is the all-pairs correctness baseline —
    * quadratic by definition; [[dedupEmbeddingBlocked]] is the
    * registered 100 TB path.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    CosineSim.similarPairs(Tables.load(spark, dir, "embeddings"),
      "vec_id", "embedding", num = 2, den = 5)
      .orderBy("a", "b")

  /** Scale-safe embedding near-dup: multi-table sign-LSH blocking turns
    * the pair generation into a bucket equi-join (cost Σ bucket², never
    * n²); candidates verified with the same exact integer cosine
    * predicate. The bucketing is deterministic, so the oracle replays
    * it bit-for-bit.
    */
  def dedupEmbeddingBlocked(spark: SparkSession, dir: String): DataFrame =
    CosineSim.blockedSimilarPairs(Tables.load(spark, dir, "embeddings"),
      "vec_id", "embedding", num = 2, den = 5)
      .orderBy("a", "b")

  /** End-to-end SEMANTIC dedup: LSH-blocked embedding-cosine pairs →
    * connected components → keep the minimum id of each duplicate
    * cluster (singletons keep themselves). The full scale path in one
    * operator: bucket equi-join pair generation (never all-pairs),
    * iterative min-label components (no driver graph), one broadcast
    * of the small component map back onto the corpus.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val pairs = CosineSim.blockedSimilarPairs(
      emb, "vec_id", "embedding", num = 2, den = 5)
      .select(col("a"), col("b"))
    val comps = graft.dedup.Clusters.connectedComponents(pairs)
    emb.select(col("vec_id"))
      .join(comps, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("keep",
        (col("vec_id") === col("cluster_id")).cast("long"))
      .orderBy("vec_id")
  }

  /** SemDeDup (Abbas et al. 2023): k-means the embedding corpus, then
    * near-duplicate WITHIN each cluster, then keep one canonical per
    * duplicate component — the published composition of pieces this
    * library already ships: [[graft.sim.KMeans.assign]] (broadcast-
    * argmin assignment, zero vector shuffle) →
    * [[graft.sim.CosineSim.blockedSimilarPairsWithin]] (sign-LSH
    * bucket equi-join SCOPED per cluster — cross-cluster pairs are
    * never candidates, the blocking that makes 100 TB semantic dedup
    * tractable) → min-label components → min-id keep. Output carries
    * both granularities: `kcluster` (the k-means topic) and
    * `cluster_id`/`keep` (the dup component and its canonical).
    * Deterministic end to end, so the oracle replays k-means, the
    * scoped LSH blocking, the exact integer cosine gate and the
    * recursive closure in SQL.
    */
  def semanticDedupClustered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // assignAll keeps the embedding next to its cluster in the SAME
    // narrow broadcast-fold pass — the previous emb.join(assign(...))
    // re-paired every vector with its own assignment through a full
    // vec_id equi-join (two exchanges + sorts of the corpus for a
    // per-row value; optimization guide §2.4)
    val kc = graft.sim.KMeans.assignAll(emb, "vec_id", "embedding",
      k = 8, iterations = 3)
      .withColumnRenamed("cluster_id", "kcluster")
    val pairs = CosineSim.blockedSimilarPairsWithin(
      kc, "vec_id", "embedding", "kcluster",
      num = 2, den = 5)
      .select(col("a"), col("b"))
    val comps = graft.dedup.Clusters.connectedComponents(pairs)
    kc.select(col("vec_id"), col("kcluster"))
      .join(comps, col("vec_id") === col("id"), "left")
      .select(col("vec_id"), col("kcluster"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("keep",
        (col("vec_id") === col("cluster_id")).cast("long"))
      .orderBy("vec_id")
  }

  /** INCREMENTAL SemDeDup ([[graft.sim.SemDedupIndex]]) as one oracled
    * arc — the index twin of [[semanticDedupClustered]], which
    * retrains k-means and rebuilds the LSH scope per call: here
    * k-means trains ONCE on the bootstrap corpus (`vec_id % 3 = 0`),
    * centroids persist, and TWO arriving batches (`% 3 = 1`, then
    * `% 3 = 2`) assign against the stored centroids and near-dedup
    * only within (cluster ∩ bucket) against index + batch — O(batch)
    * per arrival. Batch 1's kept vectors are admitted before batch 2,
    * so batch 2's decisions prove the index grew. The oracle replays
    * the whole multi-batch arc (one k-means train, per-batch
    * assignment, scoped LSH, exact cosine gates, recursive closures)
    * from the raw table in plain SQL.
    */
  def semanticDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incDedupArc(spark, dir, "semdedupinc1",
      base => new graft.sim.SemDedupIndex(spark, base, "vec_id",
        "embedding", k = 8, iterations = 3, num = 2, den = 5),
      source = "embeddings", slice = r => col("vec_id") % 3 === r,
      out = Seq("vec_id", "batch", "kcluster", "status", "kept")) {
      Tables.load(spark, dir, "embeddings")
    }

  def annBruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    CosineSim.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
      .orderBy("q_id", "rank")
  }

  /** ANN via multi-table sign-LSH — statistical, so no byte-exact
    * oracle (the driver records a rows-only check); recall vs the
    * brute-force baseline is asserted in AnnLshSpec.
    */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    graft.sim.AnnLsh.topK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
      .orderBy("q_id", "rank")
  }

  /** Embedding-level decontamination
    * ([[graft.sim.CosineSim.crossContaminatedIds]]): drop "train"
    * vectors (vec_id ≥ 20) whose cosine to any "eval" vector
    * (vec_id < 20) passes 0.35, candidates found only inside shared
    * sign-LSH buckets — the semantic complement of the n-gram
    * `decontaminate` (a paraphrased eval item shares no 3-grams but
    * still sits next to its source in embedding space).
    */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val flagged = graft.sim.CosineSim.crossContaminatedIds(
      emb, "vec_id", "embedding", col("vec_id") < 20L, num = 35, den = 100)
    emb.filter(col("vec_id") >= 20L)
      .join(flagged, Seq("vec_id"), "left_anti")
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** Semantic k-means clustering of the embedding corpus
    * ([[graft.sim.KMeans]]): the full per-vector cluster assignment,
    * deterministic end-to-end (milli quantization, smallest-id init,
    * integer-mean Lloyd updates, lower-cid ties), so the oracle
    * replays the whole k-means in SQL. k=8, 3 iterations — the
    * `ann_ivf_*` training parameters at clustering granularity.
    */
  def clusterEmbeddings(spark: SparkSession, dir: String): DataFrame =
    graft.sim.KMeans.assign(Tables.load(spark, dir, "embeddings"),
      "vec_id", "embedding", k = 8, iterations = 3)
      .orderBy("vec_id")

  /** Semantic clustering → cluster-balanced downsampling, the
    * domain-balancing composition ([[Curation.balanceClusters]]):
    * every k-means cluster contributes the minority cluster's count,
    * chosen hash-deterministically.
    */
  def balanceClusters(spark: SparkSession, dir: String): DataFrame =
    Curation.balanceClusters(
      // materialize the THIN (vec_id, cluster_id) assignment once:
      // balanceClusters reads it in two branches (cluster counts + the
      // per-cluster rank window), so left lazy the broadcast-argmin
      // fold — the interpreted per-row C-way argmin the KMeans scaladoc
      // prices — re-ran per branch. Two int64 columns per corpus row is
      // the cheapest frame in the query (guide §5: persist only when
      // recompute > memory pressure — here recompute is the fold).
      graft.sim.KMeans.assign(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iterations = 3).localCheckpoint(),
      "vec_id")
      .orderBy("vec_id")

  /** Watermarked tumbling-window aggregation (the streaming shape, run
    * batch — watermark is a no-op on batch input; see
    * graft.streaming.Streams).
    */
  def windowedEventCounts(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.windowedEventCounts(Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  /** Dense hourly per-type event series with gap fill + LOCF (see
    * [[TimeSeries.resampleLocf]] for the scale shape).
    */
  def resampleEvents(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.resampleLocf(Tables.events(spark, dir),
      "event_type", "ts_utc", "value")
      .orderBy("event_type", "bucket")

  /** Linear-interpolated variant ([[TimeSeries.resampleInterpolate]]). */
  def resampleInterpolateEvents(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.resampleInterpolate(Tables.events(spark, dir),
      "event_type", "ts_utc", "value")
      .orderBy("event_type", "bucket")

  /** Misra–Gries sketch size for [[heavyHitters]]. The two-pass result
    * is exact iff every item with count ≥ N/HhSupportDenom survives the
    * sketch, which the MG bound guarantees when
    * `HhSketchK + 1 > HhSupportDenom` (see [[graft.functions.MisraGriesAgg]]).
    */
  val HhSketchK = 1023
  val HhSupportDenom = 600L

  /** Per-source support for [[heavyHittersBySource]]: sources are much
    * smaller than the corpus, so the phrase bar sits higher (1/200 of
    * the source's bigrams). Still `< HhSketchK + 1`, so the per-group
    * MG guarantee holds.
    */
  val HhSourceSupportDenom = 200L

  /** Frequent word BIGRAMS (boilerplate phrases) above support
    * `1/HhSupportDenom`, by two-pass bounded-state heavy hitters:
    * pass 1 folds every bigram into one Misra–Gries candidate sketch
    * (≤2k state per map task, provably a superset of the frequent
    * items) while counting N in the same aggregation; pass 2 re-counts
    * ONLY the candidates exactly via a broadcast join. The output is
    * therefore exact and partitioning-independent — identical to a
    * full `groupBy(token)` — but the shuffle carries ≤2k candidate
    * tokens' rows instead of the whole n-gram vocabulary (which at
    * 100 TB is itself corpus-scale).
    *
    * Bigrams are built with the `Shingles.shingleHashesAll` move:
    * explode the start-index range and `element_at` into the carried
    * token array — stays inside whole-stage codegen, no interpreted
    * `transform` lambda, no intermediate array-of-bigrams.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    require(HhSketchK + 1 > HhSupportDenom,
      s"MG guarantee needs k+1 > support denominator " +
        s"($HhSketchK + 1 vs $HhSupportDenom)")
    // the bigram frame feeds BOTH MG passes (sketch + exact recount) —
    // the textFrameCache rule: uncached, the tokenize+explode+concat
    // corpus scan ran once per pass. Key folds corpus FILE identity
    // (the bpejoined contract) so a dataset regenerated at the same
    // path within a session rebuilds instead of serving stale bigrams.
    val bigrams = textFrameCache.get(spark,
        s"$dir#hh_bigrams@${docsFileId(dir)}") {
      Tables.load(spark, dir, "documents")
        .select(TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("tk"), explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
        .select(concat(element_at(col("tk"), col("i")), lit(" "),
          element_at(col("tk"), col("i") + 1)).as("token"))
    }
    val sketch = bigrams.agg(
      count(lit(1)).as("__total"),
      graft.functions.MisraGriesAgg.candidates(HhSketchK)(col("token"))
        .as("__cand"))
    val cands = sketch.select(col("__total"), explode(col("__cand")).as("token"))
    bigrams.join(broadcast(cands), "token")
      .groupBy(col("token"), col("__total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(HhSupportDenom) >= col("__total"))
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** PER-SOURCE frequent bigrams — the GROUPED form of the bounded-
    * state sketch: `groupBy(source).agg(mg)` runs one independent
    * Misra–Gries summary per source (the Aggregator's merge is
    * per-group, so the N/(k+1) survival guarantee holds within each
    * source), and the exact recount applies each source's own support
    * threshold. Finds the boilerplate each source repeats — crawl
    * headers, license blocks — which corpus-wide heavy hitters dilute
    * away when a source is small.
    */
  def heavyHittersBySource(spark: SparkSession, dir: String): DataFrame = {
    // cached for the same two-pass reason as [[heavyHitters]], keyed
    // on corpus file identity for the same staleness reason
    val bigrams = textFrameCache.get(spark,
        s"$dir#hh_bigrams_src@${docsFileId(dir)}") {
      Tables.load(spark, dir, "documents")
        .select(col("source"), TextFunctions.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("source"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"), col("tk"))
        .select(col("source"), concat(element_at(col("tk"), col("i")), lit(" "),
          element_at(col("tk"), col("i") + 1)).as("token"))
    }
    val sketch = bigrams.groupBy(col("source")).agg(
      count(lit(1)).as("__total"),
      graft.functions.MisraGriesAgg.candidates(HhSketchK)(col("token"))
        .as("__cand"))
    val cands = sketch.select(col("source"), col("__total"),
      explode(col("__cand")).as("token"))
    bigrams.join(broadcast(cands), Seq("source", "token"))
      .groupBy(col("source"), col("token"), col("__total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(HhSourceSupportDenom) >= col("__total"))
      .select(col("source"), col("token"), col("cnt"))
      .orderBy(col("source"), col("cnt").desc, col("token"))
  }

  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(t).cast("long").as("token_cnt"),
      TextFunctions.bpeTokenCount(t).cast("long").as("bpe_token_cnt"),
      TextFunctions.charCount(t).cast("long").as("char_cnt"),
      TextFunctions.punctCount(t).cast("long").as("punct_cnt"),
      TextFunctions.wordHits(t, TextFunctions.langLexicons.head._2)
        .cast("long").as("stop_hits"),
      TextFunctions.fingerprint(t).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Context-length cap ([[TextFunctions.truncateTokens]]): every doc
    * cut to its first 64 whitespace tokens — row-local slice+rejoin,
    * the sequence-length guard ahead of packing. Emits the truncated
    * text's sha so the oracle pins the exact rebuilt string.
    */
  def truncateDocs(spark: SparkSession, dir: String): DataFrame = {
    val tks = filter(TextFunctions.tokens(col("text")),
      t => length(t) > 0)
    val nt = TextFunctions.truncateTokens(col("text"), 64)
    Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      size(tks).cast("long").as("n_tokens"),
      least(size(tks), lit(64)).cast("long").as("kept_tokens"),
      length(nt).cast("long").as("trunc_len"),
      sha2(nt, 256).as("trunc_sha"))
      .orderBy("doc_id")
  }

  /** Sliding-window chunking ([[TextFunctions.chunkDocs]]): 32-token
    * windows at stride 24 (8-token overlap) — the RAG/pretraining
    * chunker; row-local explode, no shuffle. Emits the chunk text's
    * sha so the oracle pins exact window boundaries.
    */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.chunkDocs(Tables.load(spark, dir, "documents"),
      "doc_id", "text", size = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        length(col("chunk_text")).cast("long").as("chunk_len"),
        sha2(col("chunk_text"), 256).as("chunk_sha"))
      .orderBy("doc_id", "chunk_id")

  /** BPE training knobs shared by the three queries and their oracles:
    * fixed merge count (part of the deterministic-replay contract) and
    * the vocabulary cap that bounds every training pass by V, not
    * corpus bytes. `BpeLookupCap` is the TOKENIZER's broadcast-table
    * budget: the most frequent `BpeLookupCap` words tokenize through
    * the pre-segmented broadcast lookup, everything rarer through the
    * fallback segmenter — in production the cap is sized to the
    * broadcast budget (e.g. 1M words); here it is deliberately tiny so
    * the fallback path is LIVE at test scale (the corpus has ~31
    * distinct words — a realistic cap would never miss and the
    * fallback would be dead code to the gate).
    */
  private val BpeMerges = 12
  private val BpeVocabCap = 65536
  private val BpeLookupCap = 16

  /** Trained merges AND the capped word-frequency vocabulary,
    * memoized together per corpus FILE identity (dir + length + mtime
    * — the same key contract as the lake build caches, so a
    * regenerated documents.parquet in the same dir retrains instead
    * of serving stale merges). ONE corpus pass serves all three BPE
    * queries: the vocabulary collects once (V-bounded = driver-sized
    * by design), training runs over the collected table, and the
    * segment/tokenize consumers rebuild their V-row frames from the
    * memo instead of re-scanning the corpus per invocation.
    */
  private val bpeMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long),
      (Seq[graft.text.BpeTrainer.Merge], Seq[(String, Long)])]
  private def bpeTrained(spark: SparkSession, dir: String) = {
    val src = new java.io.File(s"$dir/documents.parquet")
    bpeMemo.getOrElseUpdate((dir, src.length, src.lastModified), {
      val wfList = graft.text.BpeTrainer.wordFrequencies(
        Tables.load(spark, dir, "documents"), "text", BpeVocabCap)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      import spark.implicits._
      (graft.text.BpeTrainer.trainFromWordFrequencies(
        wfList.toDF("word", "freq"), BpeMerges), wfList)
    })
  }
  private def bpeMerges(spark: SparkSession, dir: String) =
    bpeTrained(spark, dir)._1
  private def bpeVocabDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrained(spark, dir)._2.toDF("word", "freq")
  }

  /** BPE vocabulary training ([[graft.text.BpeTrainer]]): the learned
    * merge table, rank-ordered — one corpus pass + `BpeMerges`
    * bounded-table rounds, each collecting exactly one argmax row.
    * The oracle replays every round in stacked CTEs (lexical
    * tie-breaks make the argmax deterministic; islands-parity windows
    * reproduce the canonical left-to-right merge scanner).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, dir).toDF().orderBy("merge_rank")
  }

  /** Tokenization with the trained vocabulary: the 200 most frequent
    * words segmented into subword pieces by rank-ordered merge
    * application — a narrow map with the driver-sized merge list in
    * the closure (the full-corpus form shuffles nothing at any scale).
    */
  def bpeSegment(spark: SparkSession, dir: String): DataFrame = {
    val top = bpeVocabDf(spark, dir)
      .orderBy(desc("freq"), asc("word")).limit(200)
    graft.text.BpeTrainer.segment(top, bpeMerges(spark, dir))
      .orderBy(desc("freq"), asc("word"))
  }

  /** Corpus-level tokenization with the trained vocabulary — the
    * shape a 100 TB tokenize pass actually wants, with GPT-2's
    * zero-OOV property: EVERY word segments; none is dropped.
    *
    * Two paths, identical semantics (both apply the same rank-ordered
    * merges via the one canonical scanner):
    *  - HOT: the `BpeLookupCap` most frequent words are segmented once
    *    ([[graft.text.BpeTrainer.segment]]) and BROADCAST — Zipf puts
    *    almost every corpus token here, so the common case is a
    *    broadcast lookup with no per-row merge fold;
    *  - FALLBACK: words that miss the lookup are collected DISTINCT
    *    (vocabulary-scale, not corpus-scale), segmented with the same
    *    merge list, and joined back — a shuffle keyed on exactly the
    *    RARE words (the frequent ones all hit the broadcast, so the
    *    join has no skew by construction).
    * `n_oov` counts fallback-path words per doc (words outside the
    * broadcast table — with an open alphabet nothing is truly out of
    * vocabulary anymore). The per-doc sha covers the in-order piece
    * stream of ALL words, so the hash pins both paths' segmentation.
    */
  def bpeTokenizeDocs(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(spark, dir)
    // `joined` feeds THREE branches (hit rows, miss rows, the distinct
    // miss-word table); the single-scan alternative (full segmentation
    // table, corpus LEFT JOIN on `word`) would trade the extra passes
    // for one corpus-wide SHUFFLE keyed on the most skewed column in
    // the dataset — so instead the frame is PERSISTED once (the
    // winnow/mediaHash multi-subplan cache rule; uncached, the corpus
    // explode+lookup pass re-ran per branch and the query regressed
    // 0.38 → 0.84 s warm at sf0.1). The only shuffle stays on the
    // RARE words.
    // cache key folds corpus FILE identity (length+mtime — the bpeMemo
    // / lake-build-cache contract) so regenerating the dataset at the
    // same path within a session rebuilds instead of serving the stale
    // materialized frame
    val joined = textFrameCache.get(spark,
        s"$dir#bpejoined@${docsFileId(dir)}") {
      val docs = Tables.load(spark, dir, "documents")
      val lookup = graft.text.BpeTrainer.segment(
        bpeVocabDf(spark, dir)
          .orderBy(desc("freq"), asc("word")).limit(BpeLookupCap), merges)
        .select(col("word"), col("pieces"),
          size(split(col("pieces"), " ")).cast("long").as("n_pieces"))
      val words = docs
        .select(col("doc_id"),
          posexplode(split(graft.text.BpeTrainer.asciiLower(col("text")),
            "\\s+")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
      words.join(broadcast(lookup), Seq("word"), "left")
    }
    val hitPath = joined.filter(col("pieces").isNotNull)
      .withColumn("oov", lit(0L))
    val missSeg = graft.text.BpeTrainer.segment(
      joined.filter(col("pieces").isNull).select("word").distinct()
        .withColumn("freq", lit(1L)), merges)
      .select(col("word"), col("pieces"),
        size(split(col("pieces"), " ")).cast("long").as("n_pieces"))
    val missPath = joined.filter(col("pieces").isNull)
      .drop("pieces", "n_pieces")
      .join(missSeg, Seq("word"))
      .withColumn("oov", lit(1L))
    hitPath.unionByName(missPath)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("oov")).as("n_oov"),
        sum(col("n_pieces")).as("n_tokens"),
        sha2(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("pieces")))),
          x => x.getField("pieces"))), 256).as("pieces_sha"))
      .orderBy("doc_id")
  }

  /** EXACT repeated-passage detection (the detection half of exact
    * substring deduplication, Lee et al. 2022): every 16-token window
    * of every document, stride 1 — exhaustive, not sampled like the
    * winnowing fingerprints — as the 16-gram shingle-hash stream
    * ([[graft.dedup.Shingles.shingleHashesAll]]: the explode-index
    * formulation that stays inside whole-stage codegen; an earlier
    * `transform`-lambda draft of this query ran interpreted and ~25%
    * slower); a span is kept iff it appears in ≥ 2 DISTINCT documents.
    * O(corpus tokens) rows, each leaving the task as a 60-bit hash
    * (never span text), into a TWO-LEVEL aggregation — (span, doc)
    * first, so the fat stage is map-side combinable and no
    * countDistinct Expand doubles it; the second level is model-sized.
    * The suffix-array formulation trades this shuffle for a global
    * sort — at cluster scale the hash-group form is the
    * parallel-friendly one, and the ≥2-docs HAVING keeps the output
    * tiny. Top 100 by occurrence (ties by hash — total order, so the
    * LIMIT is deterministic).
    */
  def repeatedSpans(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Shingles.shingleHashesAll(
      Tables.load(spark, dir, "documents"), "doc_id", "text", n = 16)
      .groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), sum("c").as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("h").as("span_h"), col("n_docs"), col("n_occ"),
        col("first_doc"))
      .orderBy(desc("n_occ"), col("span_h"))
      .limit(100)

  /** EXACT repeated-passage REMOVAL ([[graft.dedup.ExactSubstr]]) —
    * the excision half [[repeatedSpans]] detects for: every token
    * covered by a 16-token window that appears in >= 2 distinct
    * documents is cut (Lee et al. 2022's ExactSubstr, cut-everywhere
    * variant), and the corpus is re-emitted with integer cut
    * accounting plus the sha of each doc's kept token stream — the
    * hash pins exact excision boundaries including the
    * overlap/adjacency interval merge.
    */
  def removeRepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.ExactSubstr.removeRepeatedSpans(
      Tables.load(spark, dir, "documents"), "doc_id", "text", n = 16)
      .withColumn("cleaned_sha", sha2(col("cleaned_text"), 256))
      .drop("cleaned_text")
      .orderBy("doc_id")

  /** Ids fanned out for a heavy per-row codec pass: the documents
    * table at test scales is ONE parquet file, so a generator keyed
    * off `doc_id` inherits a single partition and the whole
    * generate→encode→decode chain runs on one core (media_resize_jpeg
    * measured 21 s single-threaded vs ~2 s fanned out). The ids are a
    * few KB — the repartition shuffle is nothing — and at production
    * scale, where the id source is already many-partitioned, the
    * round-robin is a harmless no-op-shaped exchange.
    */
  private def fanoutIds(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)

  /** IMAGE near-duplicate detection ([[graft.multimodal.ImageDedup]]):
    * deterministic synthetic PNG/BMP images (near-dup groups of 4 by
    * construction) are ENCODED and DECODED through the real codecs,
    * perceptually fingerprinted with the published 9×8 dHash from the
    * decoded pixels, and paired by the exact 16-bit-band Hamming
    * blocking (the registered billion-image configuration — 65,536-way
    * band selectivity, pigeonhole-exact for distance <= 3) — the first
    * multimodal dedup operator. The oracle replays the whole pipeline
    * in closed form from the generator rule (cell-constant images make
    * decode→downsample transparent), so the hash match proves codec +
    * grayscale + downsample + gradient hash + banding end to end.
    */
  def imageDedupDhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    // the fingerprint frame feeds both self-join sides; cached so the
    // generate→encode→decode→hash pass runs once, not per side
    val hashes = mediaHashCache.get(spark, dir + "#image") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHashDf(ImageDedup.syntheticImages(ids, "doc_id"), "doc_id")
    }
    ImageDedup.nearDupPairs(hashes, "doc_id", maxHamming = 3, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** JPEG image near-duplicate detection — [[imageDedupDhash]] with
    * the corpus carried through the REAL baseline JPEG codec
    * ([[graft.multimodal.JpegCodec]]): deterministic synthetic GRAY
    * cell-constant images (cells sized to 8×8 JPEG blocks) are
    * ENCODED as baseline 4:2:0 color JFIF — Annex K Huffman tables,
    * FDCT, DC-predicted entropy coding, byte stuffing — then DECODED
    * (Huffman → dequant → IDCT → chroma upsample → color convert),
    * dHashed from the decoded pixels and paired by the same exact
    * 16-bit-band blocking. Block-constant content quantizes on the DC
    * closed form `dec(p) = min(255, 2·((p+1) div 2))`, so the oracle
    * replays generate→encode→decode→hash fully in SQL: the hash match
    * proves the entire entropy-coded codec chain, the first for a
    * LOSSY format (WAV/BMP/PNG round-trip losslessly; here the oracle
    * replays the LOSS itself).
    */
  def imageDedupJpeg(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val hashes = mediaHashCache.get(spark, dir + "#jpeg") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHashDf(ImageDedup.syntheticImagesJpeg(ids, "doc_id"),
        "doc_id")
    }
    ImageDedup.nearDupPairs(hashes, "doc_id", maxHamming = 3, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** [[imageDedupJpeg]] over a PROGRESSIVE (SOF2) corpus
    * ([[graft.multimodal.JpegCodec.encodeGrayProgressive]]): DC
    * successive approximation (first scan at Al=1, a refinement scan
    * for the low bit) plus the AC band scan — the multi-scan
    * coefficient-accumulation decode path real web JPEGs take. The
    * refinement reaches exactly the baseline's quantized values on
    * this gray corpus, so the oracle is the SHARED closed-form SQL:
    * the hash match proves the progressive scan machinery, nothing
    * else differs.
    */
  def imageDedupJpegProgressive(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val hashes = mediaHashCache.get(spark, dir + "#jpegprog") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHashDf(
        ImageDedup.syntheticImagesJpegProgressive(ids, "doc_id"), "doc_id")
    }
    ImageDedup.nearDupPairs(hashes, "doc_id", maxHamming = 3, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** JPEG round-trip over the FULL pixel field: every synthetic JPEG
    * decodes back and the per-image channel SUMS are emitted —
    * unlike the dHash queries (which sample only the 9×8 cell
    * corners), the sums cover every pixel, so the hash match proves
    * every 8×8 block's DC closed form AND that the decoder crops the
    * MCU edge padding exactly (a padded-row leak would inflate the
    * sums). Integer features only (the [[MediaOps.roundTripFeatures]]
    * rule: the driver hashes scalar cells).
    */
  def mediaRoundtripJpeg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.types._
    val imgs = graft.multimodal.ImageDedup.syntheticImagesJpeg(
      fanoutIds(spark, dir), "doc_id")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("w", LongType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)))
    val enc = ExpressionEncoder(outSchema)
    imgs.mapPartitions { rows =>
      rows.map { r =>
        val img = graft.multimodal.JpegCodec.decode(r.getAs[Array[Byte]](2))
        var sr = 0L; var sg = 0L; var sb = 0L
        img.pixels.foreach { p =>
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        }
        org.apache.spark.sql.Row(r.getLong(0), img.width.toLong,
          img.height.toLong, sr, sg, sb)
      }
    }(enc).orderBy("doc_id")
  }

  /** REAL image RESIZE through the lossy codec, oracle-gated — the
    * resize seam ([[MediaOps.MediaDecoder.resize]]) was spec-only
    * until now: 144×128 cell-constant gray JPEGs (16×16 cells aligned
    * to blocks) are decoded, nearest-resampled to 72×64 (source index
    * 2i — cells become exactly 8×8, still block-aligned), RE-ENCODED
    * baseline 4:2:0 and decoded again; per-image channel sums over
    * the final pixels are emitted. The closed form survives BOTH
    * lossy hops because `dec(p)` always lands on an even value and
    * `dec` is idempotent on evens — so the oracle is one `dec()` per
    * cell × 64 pixels, and the hash match proves
    * decode→resample→re-encode→decode end to end.
    */
  def mediaResizeJpeg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.types._
    import graft.multimodal.{JpegCodec, MediaOps}
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("w", LongType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)))
    val enc = ExpressionEncoder(outSchema)
    fanoutIds(spark, dir)
      .mapPartitions { rows =>
        val dec = new MediaOps.JvmMediaDecoder()
        rows.map { r =>
          val id = r.getLong(0)
          val g = id / 4; val v = id % 4
          def grayAt(x: Int, y: Int): Int = {
            val cx = x / 16; val cy = y / 16
            val base =
              (((cx * (7 + g % 5) + cy * (13 + g % 11) + g * 31) % 17) * 15).toInt
            if (cx == 8 && cy < v) ((base + 40 * (cy + 1)) % 256).toInt
            else base
          }
          val bytes = JpegCodec.encode420(144, 128, (x, y) => {
            val p = grayAt(x, y); (p, p, p)
          })
          val img = JpegCodec.decode(
            dec.resize("image", "jpeg", bytes, 72, 64))
          var sr = 0L; var sg = 0L; var sb = 0L
          img.pixels.foreach { p =>
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          }
          org.apache.spark.sql.Row(id, img.width.toLong,
            img.height.toLong, sr, sg, sb)
        }
      }(enc).orderBy("doc_id")
  }

  /** AUDIO near-duplicate detection ([[graft.multimodal.AudioDedup]]):
    * deterministic synthetic PCM clips (near-dup groups of 4 by
    * construction) are ENCODED and DECODED through the real WAV codec,
    * fingerprinted with the Haitsma–Kalker sign-of-energy-delta bits
    * over 65 time windows, and paired by the SAME exact 16-bit-band
    * Hamming blocking as the image operator — one blocking engine for
    * every 64-bit perceptual fingerprint. The oracle replays the whole
    * pipeline in closed form from the generator rule (window-constant
    * amplitudes make decode→energy transparent: E = winlen·A²), so the
    * hash match proves WAV codec + windowing + energy + sign-delta +
    * banding end to end.
    */
  def audioDedupEnergy(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioDedup
    val hashes = mediaHashCache.get(spark, dir + "#audio") {
      val ids = fanoutIds(spark, dir)
      AudioDedup.energyHashDf(AudioDedup.syntheticAudio(ids, "doc_id"),
        "doc_id")
    }
    AudioDedup.nearDupPairs(hashes, "doc_id", maxHamming = 3, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** Image near-dup CLUSTER ASSIGNMENT — the consumer the pair list
    * exists for: near-dup pairs close into connected components
    * ([[graft.dedup.Clusters]]' bounded min-label propagation, the
    * same engine text dedup uses) and each component keeps its min-id
    * member as the canonical (deterministic keep-first; media carries
    * no text-quality score to rank "best" by). Output is the
    * (doc_id, cluster_id, kept) assignment for every image that
    * appears in a near-dup pair — the droppable set is `kept = 0`.
    */
  def imageDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val hashes = mediaHashCache.get(spark, dir + "#image") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHashDf(ImageDedup.syntheticImages(ids, "doc_id"), "doc_id")
    }
    val pairs = ImageDedup.nearDupPairs(hashes, "doc_id",
      maxHamming = 3, bandBits = 16)
    graft.dedup.Clusters.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"),
        when(col("id") === col("cluster_id"), 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }

  /** 256-BIT image near-dup detection
    * ([[graft.multimodal.ImageDedup.dHash256]]): the high-threshold
    * configuration the 64-bit operator documents as its scale
    * successor — 16 rows × 17 cols gradient grid, one 16-bit limb per
    * row, limb-band blocking (pigeonhole-exact to distance 15), and a
    * RELATIONAL exact-Hamming verify. The generated corpus' variants
    * sit up to 9 bits apart — three times past the 64-bit operator's
    * exact ceiling — and the query runs at `maxHamming = 9`.
    */
  def imageDedupDhash256(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val hashes = mediaHashCache.get(spark, dir + "#image256") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHash256Df(ImageDedup.syntheticImages256(ids, "doc_id"),
        "doc_id")
    }
    ImageDedup.nearDupPairs256(hashes, "doc_id", maxHamming = 9)
      .orderBy("id_a", "id_b")
  }

  /** 256-bit Hamming k-NN ([[graft.multimodal.HammingKnn]] — the
    * multi-index on its home code length): every 10th document's
    * 256-bit fingerprint probes the limb-banded index for its 5
    * nearest within radius 9. Same brute-force oracle construction as
    * the 64-bit query.
    */
  def mediaHammingKnn256(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{HammingKnn, ImageDedup}
    val hashes = mediaHashCache.get(spark, dir + "#image256") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHash256Df(ImageDedup.syntheticImages256(ids, "doc_id"),
        "doc_id")
    }
    val probes = hashes.filter(col("doc_id") % 10 === 0)
    HammingKnn.knnWithinRadius256(hashes, probes, "doc_id",
      k = 5, radius = 9)
      .orderBy("probe_id", "rnk")
  }

  /** Hamming-space k-NN over the image fingerprints
    * ([[graft.multimodal.HammingKnn]] — multi-index hashing): every
    * 10th document's fingerprint probes the banded inverted index for
    * its 5 nearest neighbors within radius 3 (exact by pigeonhole).
    * The oracle replays the fingerprints in closed form and ranks by
    * brute force — equality proves the banded probe path loses no
    * neighbor inside the radius.
    */
  def mediaHammingKnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{HammingKnn, ImageDedup}
    val hashes = mediaHashCache.get(spark, dir + "#image") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHashDf(ImageDedup.syntheticImages(ids, "doc_id"), "doc_id")
    }
    val probes = hashes.filter(col("doc_id") % 10 === 0)
    HammingKnn.knnWithinRadius(hashes, probes, "doc_id",
      k = 5, radius = 3, bandBits = 16)
      .orderBy("probe_id", "rnk")
  }

  /** k-NN retrieval against the PERSISTED fingerprint index
    * ([[graft.dedup.FingerprintDedupIndex.knnAgainstIndex]] — the
    * retrieval half of the multi-index layout the incremental dedup
    * decides with, and the media analog of `ann_ivf_index_topk`):
    * the index bootstraps once from the full image-fingerprint corpus
    * ((band, bv)-write-ordered files), then every 10th document
    * probes it for its 5 nearest within radius 3 — probe band values
    * stats-prune the scan, the batch side broadcasts, the bounded
    * top-k finishes. The oracle is the SAME brute-force rank as the
    * in-memory k-NN: a full-corpus index must answer identically.
    */
  def mediaHammingKnnIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.FingerprintDedupIndex
    import graft.multimodal.ImageDedup
    val src = new java.io.File(s"$dir/documents.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified, "mediaknnidx1").hashCode)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_mediaknn_$key"
    val hashes = mediaHashCache.get(spark, dir + "#image") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHashDf(ImageDedup.syntheticImages(ids, "doc_id"), "doc_id")
    }
    val idx = new FingerprintDedupIndex(spark, s"$base/index", "doc_id",
      maxHamming = 3, bandBits = 16)
    if (!idx.exists) idx.bootstrap(hashes)
    idx.knnAgainstIndex(hashes.filter(col("doc_id") % 10 === 0),
      k = 5, radius = 3)
      .orderBy("probe_id", "rnk")
  }

  /** [[mediaHammingKnnIndex]]'s 256-bit sibling
    * ([[graft.dedup.FingerprintDedupIndex256.knnAgainstIndex]]): the
    * persisted limb index bootstraps once from the full 256-bit
    * corpus, every 10th document probes for its 5 nearest within
    * radius 9; the exact distance re-uses the carried corpus arrays
    * against broadcast probe limbs. Same brute-force oracle as the
    * in-memory 256-bit k-NN.
    */
  def mediaHammingKnnIndex256(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.FingerprintDedupIndex256
    import graft.multimodal.ImageDedup
    val src = new java.io.File(s"$dir/documents.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified, "mediaknn256v1").hashCode)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_mediaknn256_$key"
    val hashes = mediaHashCache.get(spark, dir + "#image256") {
      val ids = fanoutIds(spark, dir)
      ImageDedup.dHash256Df(ImageDedup.syntheticImages256(ids, "doc_id"),
        "doc_id")
    }
    val idx = new FingerprintDedupIndex256(spark, s"$base/index", "doc_id",
      maxHamming = 9)
    if (!idx.exists) idx.bootstrap(hashes)
    idx.knnAgainstIndex(hashes.filter(col("doc_id") % 10 === 0),
      k = 5, radius = 9)
      .orderBy("probe_id", "rnk")
  }

  /** The incremental arcs' batch-slice rule, shared VERBATIM between
    * the Spark `expr` and the DuckDB oracle (only the integer-division
    * spelling differs — `div` vs `//`, the caller passes it in).
    * Near-dup groups are keyed `id div 4`; the rule routes group
    * CLASSES so every decision path is gate-covered:
    *  - `g % 4 == 3` → members split between batches 1 and 2 ONLY
    *    (`1 + id % 2`): batch 1 forms an intra-batch component
    *    (`dup_batch` + min-id kept), batch 2 then matches the
    *    batch-1 KEPT — the index-GROWTH path;
    *  - even `g` → the whole group lands in slice `g % 3`: bootstrap
    *    anchors and 4-member intra-batch components;
    *  - remaining odd `g` → members spread `id % 3`: the classic
    *    cross-index `dup_corpus` against bootstrap anchors (and, for
    *    unit matchers, single-unit variants that stay `kept`).
    * A group-aligned-only key (rounds 14's `(id div 4) % 3`) never
    * exercised dup_corpus; a plain `id % 3` gave every group a
    * bootstrap anchor and never exercised dup_batch or growth.
    */
  private def incSliceExpr(id: String, g: String): String =
    s"(CASE WHEN $g % 4 = 3 THEN 1 + ($id % 2) " +
      s"WHEN $g % 2 = 0 THEN $g % 3 ELSE $id % 3 END)"

  /** The shared two-batch incremental-dedup GATE ARC behind every
    * `*_dedup_incremental` query: bootstrap an index from slice 0 of
    * the `rows` frame, drive slices 1 and 2 through dedupBatch→admit,
    * persist the decisions, serve their `out` columns ordered by the
    * first (cached under /tmp keyed on the `source` table's file
    * identity + `tag` — bump the tag when the arc changes). The media
    * arcs' batch membership is [[incSliceExpr]] — routing group classes
    * so `dup_corpus`, `dup_batch`, `kept` AND the index-growth path are
    * all exercised by every gate.
    */
  private def incDedupArc(spark: SparkSession, dir: String, tag: String,
      mkIndex: String => graft.dedup.DedupIndex,
      source: String = "documents",
      slice: Int => Column = r =>
        expr(s"${incSliceExpr("doc_id", "(doc_id div 4)")} = $r"),
      out: Seq[String] = Seq("doc_id", "batch", "status", "kept"))(
      rows: => DataFrame): DataFrame = {
    import graft.lake.IncrementalTable
    val src = new java.io.File(s"$dir/$source.parquet")
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified, tag).hashCode)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_$key"
    val decisions = new IncrementalTable(spark, s"$base/decisions")
    val complete = decisions.exists && decisions.latestVersion.contains(1L)
    if (!complete) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val all = rows
      def part(r: Int) = all.filter(slice(r))
      val idx = mkIndex(s"$base/index")
      idx.bootstrap(part(0))
      val dec = new IncrementalTable(spark, s"$base/decisions")
      val b1 = part(1)
      val d1 = idx.dedupBatch(b1).localCheckpoint()
      idx.admit(b1, d1)
      // REBALANCE before the write (guide §6: coalesce on write): a
      // distributed dedupBatch's decisions inherit its full shuffle
      // partitioning (32+ near-empty partitions for a few hundred rows
      // at test scale; a small 64-bit batch decided on the driver is a
      // local relation, which the hint sizes the same way), and every
      // later snapshot() pays the per-file open cost
      // — measured 66 tiny files / 0.22 s warm snapshot vs 4 files /
      // 0.05 s on the arcs that came out right-sized. AQE sizes the
      // rebalanced partitions by bytes, so a genuinely large batch
      // still writes multiple right-sized files.
      dec.append(d1.withColumn("batch", lit(1L)).hint("rebalance"))
      dec.append(idx.dedupBatch(part(2)).withColumn("batch", lit(2L))
        .hint("rebalance"))
    }
    new IncrementalTable(spark, s"$base/decisions").snapshot()
      .select(out.map(col): _*)
      .orderBy(out.head)
  }

  /** INCREMENTAL media dedup
    * ([[graft.dedup.FingerprintDedupIndex]] — the daily-ingest path):
    * the [[incDedupArc]] two-batch arc on 64-bit image fingerprints —
    * batch 2 deduplicates against corpus ∪ batch-1 kept, proving the
    * index actually GROWS. The oracle replays the full arc (banded
    * cross matches, intra-batch components, membership evolution)
    * from the closed-form fingerprints.
    */
  def mediaDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incDedupArc(spark, dir, "mediainc5",
      base => new graft.dedup.FingerprintDedupIndex(spark, base, "doc_id",
        maxHamming = 3, bandBits = 16)) {
      mediaHashCache.get(spark, dir + "#image") {
        import graft.multimodal.ImageDedup
        val ids = fanoutIds(spark, dir)
        ImageDedup.dHashDf(ImageDedup.syntheticImages(ids, "doc_id"),
          "doc_id")
      }
    }

  /** 256-BIT incremental media dedup
    * ([[graft.dedup.FingerprintDedupIndex256]]): the daily-ingest arc
    * on the limb-array fingerprints the repo registers as the
    * production image configuration — the 64-bit index's schema was
    * hard-wired to `(h_hi, h_lo)`, so the high-threshold path could
    * not be served incrementally. Same two-batch bootstrap→dedup→admit
    * arc as [[mediaDedupIncremental]], at `maxHamming = 9` (3× past
    * the 64-bit exact ceiling); band rows carry the full limb array so
    * verification is relational against the broadcast batch, never a
    * second index scan. The oracle replays the whole arc from the
    * closed-form limbs, exact distances summed per candidate.
    */
  def mediaDedupIncremental256(spark: SparkSession, dir: String): DataFrame =
    incDedupArc(spark, dir, "mediainc256v4",
      base => new graft.dedup.FingerprintDedupIndex256(spark, base,
        "doc_id", maxHamming = 9)) {
      mediaHashCache.get(spark, dir + "#image256") {
        import graft.multimodal.ImageDedup
        val ids = fanoutIds(spark, dir)
        ImageDedup.dHash256Df(ImageDedup.syntheticImages256(ids, "doc_id"),
          "doc_id")
      }
    }

  /** INCREMENTAL alignment-free video dedup
    * ([[graft.dedup.SignatureDedupIndex]]): the daily-ingest arc for
    * the shot-signature matcher — a whole-clip fingerprint cannot
    * serve trimmed near-dups, so the index persists one band row per
    * SHOT and batch clips match indexed clips by the same symmetric
    * distinct-shot overlap gate as [[videoDedupShots]]. Same
    * bootstrap→dedup→admit two-batch arc as the fingerprint indexes,
    * on the trimmed-variant corpus; the oracle replays the full
    * membership evolution from the closed-form shot signatures.
    */
  def videoDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incDedupArc(spark, dir, "vidincv4",
      base => new graft.dedup.SignatureDedupIndex(spark, base, "doc_id",
        "shot_idx", maxHamming = 3, minMatched = 2, bandBits = 16)) {
      import graft.multimodal.VideoDedup
      val hashes = mediaHashCache.get(spark, dir + "#trimshots") {
        val ids = fanoutIds(spark, dir)
        VideoDedup.frameHashDf(
          VideoDedup.syntheticTrimmedShotVideos(ids, "doc_id"),
          "doc_id", stride = 1)
      }
      VideoDedup.shotSignatures(hashes, "doc_id", cutHamming = 8)
    }

  /** [[videoDedupIncremental]]'s audio twin: the SAME persisted
    * unit-signature index over block fingerprints — incremental
    * ingest for offset-robust audio dedup, modality swapped, protocol
    * identical (the index is unit-agnostic by design).
    */
  def audioDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incDedupArc(spark, dir, "audincv4",
      base => new graft.dedup.SignatureDedupIndex(spark, base, "doc_id",
        "block_idx", maxHamming = 3, minMatched = 2, bandBits = 16)) {
      mediaHashCache.get(spark, dir + "#audioblocks") {
        import graft.multimodal.AudioDedup
        val ids = fanoutIds(spark, dir)
        AudioDedup.blockHashDf(AudioDedup.syntheticOffsetAudio(ids, "doc_id"),
          "doc_id", AudioDedup.OffsetBlockSamples)
      }
    }

  /** Energy-based audio segmentation
    * ([[graft.multimodal.AudioDedup.segmentsOf]] — Rabiner–Sambur
    * voice-activity endpointing on the shared 65-window integer-energy
    * grid): active windows (> 20% of the clip's peak energy,
    * clip-relative so gain cancels) merge into segments — the audio
    * analog of text chunking, feeding per-utterance downstream work.
    * One narrow decode pass; the oracle replays threshold, islands and
    * exact energy sums in closed form.
    */
  def audioSegments(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioDedup
    val ids = fanoutIds(spark, dir)
    AudioDedup.segmentsDf(AudioDedup.syntheticAudio(ids, "doc_id"), "doc_id")
      .orderBy("doc_id", "seg_idx")
  }

  /** VIDEO near-duplicate detection ([[graft.multimodal.VideoDedup]]):
    * deterministic synthetic GVID clips (8–10 real PNG/BMP frames;
    * near-dup groups of 4 whose variants REPLACE intro frames) are
    * container-parsed, frame-sampled at stride 2, per-frame dHashed
    * from real decoded pixels, blocked per (frame, 16-bit band), and
    * scored by the EXACT count of matching frame indices — the
    * frame-signature video copy detection shape, on the same banded
    * engine as image and audio dedup. The oracle replays the whole
    * pipeline per frame in closed form from the generator rule.
    */
  def videoDedupFrames(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.VideoDedup
    // per-frame fingerprints feed both self-join sides AND the
    // common-index denominator: cached, or the container parse +
    // per-frame codec pass runs ~3×
    val hashes = mediaHashCache.get(spark, dir + "#video") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(VideoDedup.syntheticVideos(ids, "doc_id"),
        "doc_id", stride = 2)
    }
    VideoDedup.nearDupPairs(hashes,
      "doc_id", maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** Shot-boundary detection ([[graft.multimodal.VideoDedup.shots]]):
    * every frame of a synthetic multi-shot GVID corpus is dHashed,
    * consecutive-frame Hamming distance > 8 marks a cut, and one
    * per-video prefix-sum window rolls cut indicators into the shot
    * table — temporal segmentation, the video analog of the audio
    * segmenter. The oracle replays frame hashes, distances, cuts and
    * the window in closed form.
    */
  def videoShots(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.VideoDedup
    // the frame table feeds BOTH sides of the consecutive-frame join:
    // cached, or the container parse + per-frame codec pass runs twice
    val hashes = mediaHashCache.get(spark, dir + "#shots") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(VideoDedup.syntheticShotVideos(ids, "doc_id"),
        "doc_id", stride = 1)
    }
    VideoDedup.shots(hashes, "doc_id", cutHamming = 8)
      .orderBy("doc_id", "shot_idx")
  }

  /** ALIGNMENT-ROBUST video near-dup
    * ([[graft.multimodal.VideoDedup.shotSignatures]] +
    * [[graft.multimodal.SignatureDedup]]): the trim/offset fix for
    * [[videoDedupFrames]]' same-frame-index matching — the corpus is
    * trimmed variants (variant v DROPS the first v shots of a 4-shot
    * master, shifting every absolute frame index), shot boundaries
    * re-detect relative to content, each shot contributes its
    * keyframe dHash, and clips pair by DISTINCT-matched-shot overlap
    * regardless of position. The frame-index matcher provably misses
    * every one of these pairs (the spec pins it); this query finds
    * exactly the `4 - max(v_a, v_b) >= 2` overlaps. The oracle
    * replays shot content, signatures, banding and both distinct
    * counts in closed form.
    */
  def videoDedupShots(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{SignatureDedup, VideoDedup}
    // the frame table feeds the shot window's lag AND prefix sum (one
    // window spec) but ALSO re-materializes per downstream branch if
    // uncached — same rule as every media fingerprint frame
    val hashes = mediaHashCache.get(spark, dir + "#trimshots") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(
        VideoDedup.syntheticTrimmedShotVideos(ids, "doc_id"),
        "doc_id", stride = 1)
    }
    val sigs = VideoDedup.shotSignatures(hashes, "doc_id", cutHamming = 8)
    SignatureDedup.nearDupPairsBySignature(sigs, "doc_id", "shot_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** Shot-level near-dup CLUSTER ASSIGNMENT — [[imageDedupClusters]]'
    * consumer shape on the alignment-free pair list: shot-signature
    * pairs close into connected components ([[graft.dedup.Clusters]]'
    * bounded min-label propagation) and each component keeps its
    * min-id member as the canonical cut of the clip family. On the
    * trimmed corpus this groups a master video with its trims — the
    * droppable set (`kept = 0`) is exactly what a dedup pass removes.
    */
  def videoDedupShotClusters(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{SignatureDedup, VideoDedup}
    val hashes = mediaHashCache.get(spark, dir + "#trimshots") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(
        VideoDedup.syntheticTrimmedShotVideos(ids, "doc_id"),
        "doc_id", stride = 1)
    }
    val sigs = VideoDedup.shotSignatures(hashes, "doc_id", cutHamming = 8)
    val pairs = SignatureDedup.nearDupPairsBySignature(sigs, "doc_id",
      "shot_idx", maxHamming = 3, minMatched = 2, bandBits = 16)
    graft.dedup.Clusters.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"),
        when(col("id") === col("cluster_id"), 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }

  /** MOTION-JPEG alignment-robust video dedup — [[videoDedupShots]]
    * with every frame carried through the REAL baseline JPEG codec
    * ([[graft.multimodal.VideoDedup.syntheticTrimmedShotVideosJpeg]]):
    * the GVID container's frames are entropy-coded JFIF (the MJPEG
    * shape — the video-family analog of `image_dedup_jpeg`), so shot
    * detection, keyframe signatures and the alignment-free matcher
    * all run over LOSSY-decoded pixels. The oracle replays the loss
    * itself (one `dec()` wrap over the closed-form cell values) plus
    * the whole shot/signature/overlap chain — Huffman, IDCT, chroma
    * and the crop are proven inside a video pipeline end to end.
    */
  def videoDedupShotsJpeg(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{SignatureDedup, VideoDedup}
    val hashes = mediaHashCache.get(spark, dir + "#trimshotsjpeg") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(
        VideoDedup.syntheticTrimmedShotVideosJpeg(ids, "doc_id"),
        "doc_id", stride = 1)
    }
    val sigs = VideoDedup.shotSignatures(hashes, "doc_id", cutHamming = 8)
    SignatureDedup.nearDupPairsBySignature(sigs, "doc_id", "shot_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** [[videoDedupShotsJpeg]] through a REAL ISO-BMFF container
    * ([[graft.multimodal.Mp4Codec]]): the same ids produce
    * bit-identical MJPEG frame bytes, packed as an MP4
    * `jpeg`-in-`vide` track (two-chunk stsc/stsz/stco layout) instead
    * of GVID — so the oracle is the SHARED lossy-shot SQL, and the
    * hash match proves the box walk + sample-table resolution end to
    * end: the container parse is the only new code on the path.
    */
  def videoDedupMp4(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{SignatureDedup, VideoDedup}
    val hashes = mediaHashCache.get(spark, dir + "#trimshotsmp4") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(
        VideoDedup.syntheticTrimmedShotVideosMp4(ids, "doc_id"),
        "doc_id", stride = 1)
    }
    val sigs = VideoDedup.shotSignatures(hashes, "doc_id", cutHamming = 8)
    SignatureDedup.nearDupPairsBySignature(sigs, "doc_id", "shot_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** TEMPORAL ALIGNMENT ESTIMATE for matched clips
    * ([[graft.multimodal.SignatureDedup.nearDupPairsWithOffset]]):
    * the alignment-free matcher implicitly finds the offset between
    * two trimmed cuts — this query EMITS it instead of discarding it.
    * `best_offset` = mode of matched shot-index deltas, deterministic
    * smallest-on-ties, computed inside the same per-pair aggregation
    * as the match counts (no second pass over the banded join). On
    * the trimmed corpus the construction fixes the truth: variants
    * `(v_a, v_b)` of one master differ by exactly `v_b - v_a` leading
    * shots, so every within-group pair's `best_offset` equals the
    * trim length — "id_b is id_a trimmed by k shots", the actionable
    * output a takedown/canonical-cut pipeline needs. The oracle
    * replays the mode over the closed-form matched-unit deltas
    * (re-based to each clip's own 1-based detected-shot ordinals).
    */
  def videoDedupOffsetEstimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{SignatureDedup, VideoDedup}
    val hashes = mediaHashCache.get(spark, dir + "#trimshots") {
      val ids = fanoutIds(spark, dir)
      VideoDedup.frameHashDf(
        VideoDedup.syntheticTrimmedShotVideos(ids, "doc_id"),
        "doc_id", stride = 1)
    }
    val sigs = VideoDedup.shotSignatures(hashes, "doc_id", cutHamming = 8)
    SignatureDedup.nearDupPairsWithOffset(sigs, "doc_id", "shot_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** OFFSET-ROBUST audio near-dup
    * ([[graft.multimodal.AudioDedup.blockHashDf]] +
    * [[graft.multimodal.SignatureDedup]]): the trim fix for the
    * clip-relative 65-window grid — fixed-duration blocks fingerprint
    * independently (a block's bits depend only on its own samples),
    * the corpus is block-aligned trimmed variants (variant v drops
    * the first v of 6 master blocks — a transform that changes EVERY
    * bit of the clip-relative fingerprint, which the spec pins), and
    * clips pair by distinct-matched-block overlap on the same
    * alignment-free engine as video shots. The oracle replays block
    * energies (`64·A²`), sign-delta bits, banding and both distinct
    * counts in closed form.
    */
  def audioDedupOffset(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup, SignatureDedup}
    val sigs = mediaHashCache.get(spark, dir + "#audioblocks") {
      val ids = fanoutIds(spark, dir)
      AudioDedup.blockHashDf(AudioDedup.syntheticOffsetAudio(ids, "doc_id"),
        "doc_id", AudioDedup.OffsetBlockSamples)
    }
    SignatureDedup.nearDupPairsBySignature(sigs, "doc_id", "block_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** The audio twin of [[videoDedupOffsetEstimate]]: block-trimmed
    * clips, same alignment-free engine, and `best_offset` = the mode
    * of matched block-index deltas — "B is A trimmed by k blocks".
    * One engine, two modalities, one shared oracle tail.
    */
  /** [[audioDedupOffset]] through a REAL ISO-BMFF container
    * ([[graft.multimodal.Mp4Codec.encodePcm16]]): the same ids
    * produce bit-identical PCM, packed as an MP4 `sowt`-in-`soun`
    * track (two-chunk stsc layout) instead of WAV — so the oracle is
    * the SHARED block-unit SQL, and the hash match proves the audio
    * sample-table resolution end to end: the container parse is the
    * only new code on the path.
    */
  def audioDedupMp4(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup, SignatureDedup}
    val sigs = mediaHashCache.get(spark, dir + "#audioblocksmp4") {
      val ids = fanoutIds(spark, dir)
      AudioDedup.blockHashDf(
        AudioDedup.syntheticOffsetAudioMp4(ids, "doc_id"),
        "doc_id", AudioDedup.OffsetBlockSamples)
    }
    SignatureDedup.nearDupPairsBySignature(sigs, "doc_id", "block_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  def audioDedupOffsetEstimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup, SignatureDedup}
    val sigs = mediaHashCache.get(spark, dir + "#audioblocks") {
      val ids = fanoutIds(spark, dir)
      AudioDedup.blockHashDf(AudioDedup.syntheticOffsetAudio(ids, "doc_id"),
        "doc_id", AudioDedup.OffsetBlockSamples)
    }
    SignatureDedup.nearDupPairsWithOffset(sigs, "doc_id", "block_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** OVERLAPPING-HOP audio near-dup
    * ([[graft.multimodal.AudioDedup.blockHashDf]] with a hop): the
    * recovery path for trims that are NOT block-aligned — the
    * [[audioDedupOffset]] contract's documented boundary. Fingerprints
    * emit at every 13-window hop (5 per block length), so the corpus'
    * one-hop trims — which change EVERY non-overlapping block
    * fingerprint (the spec pins that miss) — leave all surviving
    * hop-aligned blocks bit-identical, and the same alignment-free
    * engine matches them. The published constant-factor trade
    * (Haitsma–Kalker's sub-fingerprint hop), priced: 5× unit rows
    * through an unchanged plan.
    */
  def audioDedupHop(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup, SignatureDedup}
    val sigs = mediaHashCache.get(spark, dir + "#audiohops") {
      val ids = fanoutIds(spark, dir)
      AudioDedup.blockHashDf(AudioDedup.syntheticHopAudio(ids, "doc_id"),
        "doc_id", AudioDedup.OffsetBlockSamples, AudioDedup.HopSamples)
    }
    SignatureDedup.nearDupPairsBySignature(sigs, "doc_id", "block_idx",
      maxHamming = 3, minMatched = 2, bandBits = 16)
      .orderBy("id_a", "id_b")
  }

  /** End-to-end corpus cleaning, the composition a training-data run
    * actually ships: exact-dedup survivors → minimum length → English
    * prediction → emit with integer quality stats. One narrow scan +
    * one hash-agg semi-join; linear at any scale.
    */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val deduped = graft.dedup.ExactDedup.dedup(docs, "doc_id", "text")
    deduped
      .withColumn("token_cnt", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("token_cnt") >= 30 && col("lang_pred") === "en")
      .select(col("doc_id"), col("token_cnt"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("bpe_token_cnt"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").select(
      col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Intra-document repetition metrics — the Gopher-style quality
    * signal (repeated n-grams ⇒ boilerplate/spam). Two chained
    * hash-aggs: occurrences per (doc, gram), then per-doc totals; all
    * integers. Docs shorter than the gram width emit zeros.
    */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val n = NGRAM
    val toks = TextFunctions.tokens(col("text"))
    val grams = docs
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - n)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        (0 until n).map(j => element_at(col("tk"), col("i") + lit(j + 1))): _*).as("g"))
    val perGram = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val perDoc = perGram.groupBy("doc_id").agg(
      sum("c").as("total_ngrams"),
      count(lit(1)).as("distinct_ngrams"),
      max("c").as("max_ngram_freq"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_ngrams"), lit(0L)).as("total_ngrams"),
        coalesce(col("distinct_ngrams"), lit(0L)).as("distinct_ngrams"),
        coalesce(col("max_ngram_freq"), lit(0L)).as("max_ngram_freq"))
      .orderBy("doc_id")
  }

  /** ROLLUP inventory: per-(source, lang), per-source subtotals and the
    * grand total in ONE aggregation pass (Spark expands grouping sets
    * with partial aggregation — no re-scan per level). Subtotal rows
    * surface as a '<all>' sentinel rather than NULL (nullable group
    * keys are a cross-engine hash hazard; the corpus has no null
    * source/lang, so the sentinel is unambiguous).
    */
  def sourceStatsRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .select(
        coalesce(col("source"), lit("<all>")).as("source"),
        coalesce(col("lang"), lit("<all>")).as("lang"),
        col("n_docs"), col("total_tokens"))
      .orderBy("source", "lang")

  /** Per-(source, lang) corpus inventory: doc counts and exact integer
    * token/char totals — the partition-level accounting a corpus run
    * reports. One narrow scan + one tiny group-agg.
    */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(TextFunctions.tokenCount(col("text")).cast("long")).as("min_tokens"),
        max(TextFunctions.tokenCount(col("text")).cast("long")).as("max_tokens"))
      .orderBy("source", "lang")

  /** The full cleaning pipeline a pretraining-data run ships: near-dup
    * clustering (which subsumes exact dedup — identical docs share all
    * LSH bands and verify at Jaccard 1.0), keep each cluster's minimum
    * id, then length + language gates. One narrow corpus scan feeds the
    * pair pipeline; the final pass is a left-anti against the (tiny)
    * drop list — linear at any scale.
    */
  def corpusCleanNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = MinHashLSH.nearDuplicates(docs,
      "doc_id", "text", NGRAM, k = K, bands = BANDS, num = 3, den = 10)
    val drop = graft.dedup.Clusters.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
      .withColumn("token_cnt", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("token_cnt") >= 30 && col("lang_pred") === "en")
      .select(col("doc_id"), col("token_cnt"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("bpe_token_cnt"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Pair detection → transitive closure: the cluster assignment a
    * dedup pipeline actually keys its keep/drop decision on.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = MinHashLSH.nearDuplicates(Tables.load(spark, dir, "documents"),
      "doc_id", "text", NGRAM, k = K, bands = BANDS, num = 3, den = 10)
    graft.dedup.Clusters.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Canonical-representative selection — the decision a dedup pipeline
    * ships AFTER clustering: keep one member per near-dup cluster, and
    * not an arbitrary one — the HIGHEST-QUALITY member (most tokens,
    * ties to the smallest doc_id; integer score so the oracle replays
    * exactly). Execution shape for 100 TB: the cluster frame is
    * edge-sized (only clustered docs appear), the quality join touches
    * one integer column, and the per-cluster rank partitions by
    * cluster_id — no global sort, no skew (cluster sizes are bounded
    * by the LSH band structure + df caps upstream).
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = MinHashLSH.nearDuplicates(docs,
      "doc_id", "text", NGRAM, k = K, bands = BANDS, num = 3, den = 10)
    val clusters = graft.dedup.Clusters.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val scored = clusters.join(
      docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("token_cnt")),
      Seq("doc_id"))
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    scored
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("token_cnt").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
        col("token_cnt").as("kept_tokens"), col("n_members"))
      .orderBy("cluster_id")
  }

  private val SessionGapUs = 7200000000L // 2 hours

  /** Point-in-time enrichment: each event annotated with the user's most
    * recent error event at-or-before it (the as-of lookup shape feature
    * pipelines run against SCD2 dimensions; oracle = DuckDB's native
    * ASOF JOIN).
    */
  def asofLastError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("vc", expr("cast(round(value * 100) as bigint)"))
    val errs = e.filter(col("event_type") === "error")
      .select("user_id", "ts_us", "vc")
    graft.ops.AsOfJoin.asOf(
      e.select("event_id", "user_id", "ts_us"), errs,
      keyCols = Seq("user_id"), leftTs = "ts_us", rightTs = "ts_us",
      rightPayload = Map("ts_us" -> "err_ts_us", "vc" -> "err_value_cents"))
      // no-match sentinel: nullable columns in oracle-hashed output are
      // a cross-engine comparison hazard
      .withColumn("err_ts_us", coalesce(col("err_ts_us"), lit(-1L)))
      .withColumn("err_value_cents", coalesce(col("err_value_cents"), lit(-1L)))
      .orderBy("event_id")
  }

  /** Batch sessionization (gap-based, window-function form). */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.sessionizeBatch(
      Tables.load(spark, dir, "events").withColumn("ts_us", expr("ts div 1000")),
      "user_id", "ts_us", "event_id", SessionGapUs)
      .orderBy("user_id", "session_no")

  /** Top-5 salient terms per document (integer tf/df ranking). */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.topTermsPerDoc(
      Tables.load(spark, dir, "documents"), "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank")

  /** Sketch aggregates — the 100 TB shape for distinct counts is a
    * bounded-state sketch (exact distinct needs a full shuffle of the
    * key space; sketches merge in fixed memory). Spark's HLL
    * (`approx_count_distinct`) is engine-private and un-oracle-able, so
    * the distinct estimates use the repo's KMV sketch instead — same
    * bounded ≤8 KB state and map-side merge, but deterministic and
    * SQL-replayable, so even the *approximate* numbers hash-match the
    * DuckDB oracle. Percentiles are exact type-7 (linear interpolation,
    * the identical formula on both sides — IEEE double ops are
    * deterministic given operand order); the per-group sort is the
    * price of oracle-ability, and the bounded-memory alternative
    * (KMV's retained hash sample as a quantile sketch) follows the
    * same replay pattern when exactness can be traded away.
    * ApproxStatsSpec asserts accuracy against exact answers.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Kmv
    val ev = Tables.events(spark, dir)
    val sketches = ev.groupBy("event_type").agg(
      round(Kmv.estimate(Kmv.sketchAgg(
        Shingles.baseHash(col("user_id").cast("string")), KMV_K)))
        .cast("long").as("approx_users"),
      round(Kmv.estimate(Kmv.sketchAgg(
        Shingles.baseHash(col("props")), KMV_K)))
        .cast("long").as("approx_props"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("value")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val ranked = ev.filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
    // type-7: h = (n-1)·p, result = x[⌊h⌋+1] + (h−⌊h⌋)·(x[⌊h⌋+2] − x[⌊h⌋+1])
    def lo(p: Double) = floor((col("n") - 1).cast("double") * lit(p)) + 1
    val pct = ranked.groupBy("event_type").agg(
      max(col("n")).as("n"),
      min(when(col("rn") === lo(0.5), col("value"))).as("v50lo"),
      min(when(col("rn") === lo(0.5) + 1, col("value"))).as("v50hi"),
      min(when(col("rn") === lo(0.99), col("value"))).as("v99lo"),
      min(when(col("rn") === lo(0.99) + 1, col("value"))).as("v99hi"))
    def interp(p: Double, vlo: String, vhi: String) = {
      val h = (col("n") - 1).cast("double") * lit(p)
      val frac = h - floor(h).cast("double")
      col(vlo) + frac * (coalesce(col(vhi), col(vlo)) - col(vlo))
    }
    val pcts = pct.select(col("event_type"),
      interp(0.5, "v50lo", "v50hi").as("p50_value"),
      interp(0.99, "v99lo", "v99hi").as("p99_value"))
    sketches.join(pcts, Seq("event_type")).orderBy("event_type")
  }

  /** Multimodal feature extraction end-to-end (synthetic payloads —
    * see MediaOps): binary media → batched decode → feature vector →
    * integer norm via the quantize+dot kernels. Oracled: the DuckDB
    * side replays the float32 histogram fold with REAL casts.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.MediaOps.syntheticFromDocuments(
      Tables.load(spark, dir, "documents"))
    val feats = graft.multimodal.MediaOps.extractFeatures(
      media, new graft.multimodal.MediaOps.FakeDecoder(16))
    feats.select(col("media_id"), col("kind"),
      CosineSim.normQ(CosineSim.quantize(col("features"))).as("feature_norm_q"))
      .orderBy("media_id")
  }

  /** REAL-codec round trip ([[graft.multimodal.MediaOps.roundTripFeatures]]):
    * deterministic BMP/WAV/PNG media generated per doc (the PNG with a
    * different scanline filter per row), decoded back by the pure-JVM
    * codecs, integer features emitted from the DECODED bytes; the
    * oracle derives the same features in closed form from the id — an
    * encoder/decoder bug (row padding, bottom-up order, chunk walk,
    * endianness, DEFLATE framing, filter reconstruction) fails the
    * hash.
    */
  def mediaRoundtrip(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.MediaOps.roundTripFeatures(
      Tables.load(spark, dir, "documents").select("doc_id"))
      .orderBy("doc_id")

  /** IVF ANN — statistical like [[annLshTopK]]: rows-only driver check;
    * recall vs brute force asserted in IvfAnnSpec.
    */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    graft.sim.IvfAnn.topK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
      .orderBy("q_id", "rank")
  }

  /** ANN through the PERSISTED IVF index — the 100 TB serving shape:
    * train once (the first invocation builds the index into a
    * content-keyed temp dir; later ones [[graft.sim.IvfIndex.load]] it),
    * then probing reads ONLY the nprobe `list_id=` partitions
    * (PartitionFilters pinned in IvfIndexSpec). Training, assignment
    * and scoring are the same deterministic integer pipeline as
    * [[annIvfTopK]], so the identical SQL replay oracles both.
    */
  def annIvfIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // content-keyed cache dir: a regenerated embeddings table must not
    // hit a stale index (size+mtime is a sufficient fingerprint here)
    val src = new java.io.File(s"$dir/embeddings.parquet")
    // tag carries the layout era: raw/ became a graft table in r10 —
    // an old /tmp cache must rebuild, not misread
    val key = java.lang.Integer.toHexString(
      (dir, src.length, src.lastModified, "ivfq2").hashCode)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_$key"
    val idx =
      if (new java.io.File(s"$path/centroids").exists)
        graft.sim.IvfIndex.load(spark, path)
      else graft.sim.IvfIndex.build(emb, "vec_id", "embedding", path)
    idx.topK(emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy("q_id", "rank")
  }

  /** INCREMENTAL corpus dedup ([[CorpusDedupIndex]]) as one oracled
    * arc: bootstrap a persistent MinHash-LSH index from half the
    * documents (`doc_id % 4 <= 1`), then dedup TWO arriving batches
    * (`% 4 = 2`, then `% 4 = 3`) against it — batch 1's kept docs are
    * admitted to the index first, so batch 2's decisions prove the
    * index actually grew (a doc near-duplicate of a batch-1 KEPT doc
    * must come back `dup_corpus`). No step ever re-scans corpus text;
    * the oracle replays the whole multi-batch arc from the raw table
    * in plain SQL. Decisions are recorded in a manifest-committed
    * table (one append per batch), which doubles as the build-once
    * completion marker.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incDedupArc(spark, dir, "incdedup1",
      base => new CorpusDedupIndex(spark, base, "doc_id", "text",
        NGRAM, K, BANDS, num = 3, den = 10),
      slice = r => if (r == 0) col("doc_id") % 4 <= 1
        else col("doc_id") % 4 === r + 1) {
      Tables.load(spark, dir, "documents").select("doc_id", "text")
    }

  // ---------------- DuckDB oracle fragments ----------------

  /** tokens CTE (single-space normalized split, = TextFunctions.tokens) */
  private val toksCte =
    raw"""toks AS (
         |  SELECT doc_id,
         |         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
         |  FROM documents)""".stripMargin

  /** distinct word-3-gram 60-bit shingle hashes per doc (= Shingles) */
  private val shCte =
    raw"""sh AS (
         |  SELECT DISTINCT doc_id,
         |         CAST('0x' || substr(sha256(array_to_string(tk[i:i+${NGRAM - 1}], ' ')), 1, 15) AS BIGINT) AS h
         |  FROM toks, unnest(generate_series(1, len(tk) - ${NGRAM - 1})) AS g(i))""".stripMargin

  private val sizesCte =
    "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"

  /** Gopher-style integer quality features + milli-score (replays
    * [[graft.text.QualityScore]]; `//` = the Spark side's exact
    * `(a - pmod(a,b))/b` integer division — both floor on the
    * nonnegative operands here). Requires [[toksCte]].
    */
  private val qualityCte: String = {
    val stops = TextFunctions.langLexicons.head._2
      .map(w => s"'$w'").mkString(",")
    raw"""quality AS (
         |  SELECT doc_id, token_cnt, mwl_milli, stop_hits, punct_milli,
         |         CAST((least(token_cnt, 64) * 250) // 64
         |           + CASE WHEN mwl_milli BETWEEN 3000 AND 10000 THEN 250 ELSE 0 END
         |           + (least(stop_hits, 8) * 250) // 8
         |           + greatest(0, 250 - (punct_milli * 250) // 100) AS BIGINT) AS score_milli
         |  FROM (
         |    SELECT d.doc_id,
         |      CAST(len(tk) AS BIGINT) AS token_cnt,
         |      (CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) * 1000)
         |        // greatest(CAST(len(tk) AS BIGINT), 1) AS mwl_milli,
         |      CAST(len(list_filter(tk, t -> t IN ($stops))) AS BIGINT) AS stop_hits,
         |      (CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()-]', '', 'g')) AS BIGINT) * 1000)
         |        // greatest(CAST(length(text) AS BIGINT), 1) AS punct_milli
         |    FROM documents d JOIN toks ON toks.doc_id = d.doc_id))""".stripMargin
  }

  private def qCte(src: String = "embeddings") =
    s"""q AS (
       |  SELECT vec_id,
       |         -- CAST to DOUBLE first: float×int stays float32 in DuckDB
       |         -- and rounds differently than Spark's double math
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM $src)""".stripMargin

  private val dot = (a: String, b: String) =>
    s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"

  /** MinHash chain (toks/sh/sizes/sig/bands, suffixed `_x`) over an
    * arbitrary `(doc_id, text)` relation — the building block of the
    * `dedup_incremental` oracle, which needs the chain once per corpus
    * era and once per batch.
    */
  private def mhChainFor(x: String, rel: String): String = {
    val mins = (0 until K)
      .map(i => s"min(${Shingles.rehashSql("h", i)}) AS mh$i").mkString(",\n         ")
    val bandSelects = (0 until BANDS).map { j =>
      val cols = (j * 2 until j * 2 + 2)
        .map(i => s"CAST(mh$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $j AS band_no, concat_ws('-', $cols) AS bucket FROM sig_$x"
    }.mkString("\n  UNION ALL\n  ")
    raw"""toks_$x AS MATERIALIZED (
         |  SELECT doc_id,
         |         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
         |  FROM $rel),
         |sh_$x AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |         CAST('0x' || substr(sha256(array_to_string(tk[i:i+${NGRAM - 1}], ' ')), 1, 15) AS BIGINT) AS h
         |  FROM toks_$x, unnest(generate_series(1, len(tk) - ${NGRAM - 1})) AS g(i)),
         |sizes_$x AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh_$x GROUP BY doc_id),
         |sig_$x AS MATERIALIZED (
         |  SELECT doc_id,
         |         $mins
         |  FROM sh_$x GROUP BY doc_id),
         |bands_$x AS MATERIALIZED (
         |  $bandSelects)""".stripMargin
  }

  /** One batch's decision chain against corpus era `c`: cross
    * candidates → exact-Jaccard corpus dups → intra-batch components
    * among the survivors → per-doc status. Mirrors
    * [[CorpusDedupIndex.dedupBatch]] clause for clause.
    */
  private def incDedupDecisions(b: String, c: String, docsRel: String): String =
    s"""cross_$b AS MATERIALIZED (
       |  SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
       |  FROM bands_$b nb JOIN bands_$c cb
       |    ON nb.band_no = cb.band_no AND nb.bucket = cb.bucket),
       |xinter_$b AS MATERIALIZED (
       |  SELECT cc.new_id, cc.corpus_id, count(*) AS inter_size
       |  FROM cross_$b cc
       |    JOIN sh_$b x ON x.doc_id = cc.new_id
       |    JOIN sh_$c y ON y.doc_id = cc.corpus_id AND y.h = x.h
       |  GROUP BY 1, 2),
       |dupc_$b AS MATERIALIZED (
       |  SELECT DISTINCT i.new_id AS doc_id
       |  FROM xinter_$b i
       |    JOIN sizes_$b sa ON sa.doc_id = i.new_id
       |    JOIN sizes_$c sb ON sb.doc_id = i.corpus_id
       |  WHERE 10 * i.inter_size >= 3 * (sa.sz + sb.sz - i.inter_size)),
       |icand_$b AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM bands_$b x JOIN bands_$b y
       |    ON x.band_no = y.band_no AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |iinter_$b AS MATERIALIZED (
       |  SELECT ic.a, ic.b, count(*) AS inter_size
       |  FROM icand_$b ic
       |    JOIN sh_$b x ON x.doc_id = ic.a
       |    JOIN sh_$b y ON y.doc_id = ic.b AND y.h = x.h
       |  GROUP BY 1, 2),
       |ipairs_$b AS MATERIALIZED (
       |  SELECT i.a, i.b
       |  FROM iinter_$b i
       |    JOIN sizes_$b sa ON sa.doc_id = i.a
       |    JOIN sizes_$b sb ON sb.doc_id = i.b
       |  WHERE 10 * i.inter_size >= 3 * (sa.sz + sb.sz - i.inter_size)
       |    AND i.a NOT IN (SELECT doc_id FROM dupc_$b)
       |    AND i.b NOT IN (SELECT doc_id FROM dupc_$b)),
       |nodes_$b AS MATERIALIZED (SELECT a AS id FROM ipairs_$b UNION SELECT b FROM ipairs_$b),
       |edges_$b AS MATERIALIZED (SELECT a AS src, b AS dst FROM ipairs_$b
       |             UNION SELECT b, a FROM ipairs_$b),
       |reach_$b AS (
       |  SELECT id, id AS r FROM nodes_$b
       |  UNION
       |  SELECT e.src, reach_$b.r FROM edges_$b e JOIN reach_$b ON e.dst = reach_$b.id),
       |comp_$b AS MATERIALIZED (SELECT id AS doc_id, min(r) AS cluster_id FROM reach_$b GROUP BY id),
       |dec_$b AS MATERIALIZED (
       |  SELECT d.doc_id,
       |         CASE WHEN dc.doc_id IS NOT NULL THEN 'dup_corpus'
       |              WHEN cp.cluster_id IS NOT NULL AND cp.cluster_id <> d.doc_id
       |                THEN 'dup_batch'
       |              ELSE 'kept' END AS status
       |  FROM $docsRel d
       |    LEFT JOIN dupc_$b dc ON dc.doc_id = d.doc_id
       |    LEFT JOIN comp_$b cp ON cp.doc_id = d.doc_id)""".stripMargin

  private val incDedupOracle: String =
    s"""WITH RECURSIVE
       |docs_c0 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
       |docs_b1 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 2),
       |docs_b2 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
       |${mhChainFor("c0", "docs_c0")},
       |${mhChainFor("b1", "docs_b1")},
       |${incDedupDecisions("b1", "c0", "docs_b1")},
       |docs_c1 AS MATERIALIZED (
       |  SELECT doc_id, text FROM docs_c0
       |  UNION ALL
       |  SELECT d.doc_id, d.text FROM docs_b1 d
       |  WHERE d.doc_id IN (SELECT doc_id FROM dec_b1 WHERE status = 'kept')),
       |${mhChainFor("c1", "docs_c1")},
       |${mhChainFor("b2", "docs_b2")},
       |${incDedupDecisions("b2", "c1", "docs_b2")}
       |SELECT doc_id, CAST(1 AS BIGINT) AS batch, status,
       |       CAST(status = 'kept' AS BIGINT) AS kept
       |FROM dec_b1
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT), status, CAST(status = 'kept' AS BIGINT)
       |FROM dec_b2
       |ORDER BY doc_id""".stripMargin

  /** One batch's SemDeDup decision chain against index membership
    * `idxRel` (batch = `vec_id % 3 = m`): hot-capped batch bucket rows
    * → cluster∩bucket-scoped cross candidates vs the index → exact
    * integer cosine corpus dups → scoped intra-batch components among
    * the survivors → per-vector status. Mirrors
    * [[graft.sim.SemDedupIndex.dedupBatch]] clause for clause; needs
    * CTEs `qall` (quantized vectors), `asg` (kcluster assignment) and
    * `vb` (uncapped bucket rows for ALL vectors — bucketing is a pure
    * function of the vector, so one CTE serves index and batch sides).
    */
  private def semIncDecisions(bt: String, m: Int, idxRel: String): String =
    s"""vb_$bt AS MATERIALIZED (SELECT * FROM vb WHERE vec_id % 3 = $m),
       |vbc_$bt AS MATERIALIZED (
       |  SELECT vec_id, kc, t, b FROM (
       |    SELECT *, count(*) OVER (PARTITION BY kc, t, b) AS bsz FROM vb_$bt)
       |  WHERE bsz <= 1000),
       |xcand_$bt AS MATERIALIZED (
       |  SELECT DISTINCT nw.vec_id AS new_id, cb.vec_id AS corpus_id
       |  FROM vbc_$bt nw JOIN vb cb
       |    ON cb.kc = nw.kc AND cb.t = nw.t AND cb.b = nw.b
       |  WHERE cb.vec_id IN (SELECT vec_id FROM $idxRel)),
       |dupc_$bt AS MATERIALIZED (
       |  SELECT DISTINCT x.new_id AS vec_id
       |  FROM xcand_$bt x JOIN qall a ON a.vec_id = x.new_id
       |                   JOIN qall c ON c.vec_id = x.corpus_id
       |  WHERE ${dot("a.qv", "c.qv")} >= 0
       |    AND ${dot("a.qv", "c.qv")} * ${dot("a.qv", "c.qv")} * 25
       |        >= 4 * ${dot("a.qv", "a.qv")} * ${dot("c.qv", "c.qv")}),
       |ipairs_$bt AS MATERIALIZED (
       |  SELECT p.a, p.b FROM (
       |    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |    FROM vbc_$bt x JOIN vbc_$bt y
       |      ON x.kc = y.kc AND x.t = y.t AND x.b = y.b
       |      AND x.vec_id < y.vec_id) p
       |    JOIN qall xa ON xa.vec_id = p.a JOIN qall yb ON yb.vec_id = p.b
       |  WHERE ${dot("xa.qv", "yb.qv")} >= 0
       |    AND ${dot("xa.qv", "yb.qv")} * ${dot("xa.qv", "yb.qv")} * 25
       |        >= 4 * ${dot("xa.qv", "xa.qv")} * ${dot("yb.qv", "yb.qv")}
       |    AND p.a NOT IN (SELECT vec_id FROM dupc_$bt)
       |    AND p.b NOT IN (SELECT vec_id FROM dupc_$bt)),
       |nodes_$bt AS MATERIALIZED (SELECT a AS id FROM ipairs_$bt UNION SELECT b FROM ipairs_$bt),
       |edges_$bt AS MATERIALIZED (SELECT a AS src, b AS dst FROM ipairs_$bt
       |             UNION SELECT b, a FROM ipairs_$bt),
       |reach_$bt AS (
       |  SELECT id, id AS r FROM nodes_$bt
       |  UNION
       |  SELECT e.src, reach_$bt.r FROM edges_$bt e JOIN reach_$bt ON e.dst = reach_$bt.id),
       |comp_$bt AS MATERIALIZED (SELECT id, min(r) AS cluster_id FROM reach_$bt GROUP BY id),
       |dec_$bt AS MATERIALIZED (
       |  SELECT v.vec_id, a.kc,
       |         CASE WHEN dc.vec_id IS NOT NULL THEN 'dup_corpus'
       |              WHEN cp.cluster_id IS NOT NULL AND cp.cluster_id <> v.vec_id
       |                THEN 'dup_batch'
       |              ELSE 'kept' END AS status
       |  FROM (SELECT vec_id FROM qall WHERE vec_id % 3 = $m) v
       |    JOIN asg a ON a.vec_id = v.vec_id
       |    LEFT JOIN dupc_$bt dc ON dc.vec_id = v.vec_id
       |    LEFT JOIN comp_$bt cp ON cp.id = v.vec_id)""".stripMargin

  /** Shared CTE chain for the MinHash+LSH pipeline up to verified pairs
    * (used by both the pair-list oracle and the cluster oracle).
    */
  private val minhashCtes: String = {
    val mins = (0 until K)
      .map(i => s"min(${Shingles.rehashSql("h", i)}) AS mh$i").mkString(",\n         ")
    val bandSelects = (0 until BANDS).map { j =>
      val cols = (j * 2 until j * 2 + 2)
        .map(i => s"CAST(mh$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $j AS band_no, concat_ws('-', $cols) AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$toksCte, $shCte, $sizesCte,
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS bands_hit
       |  FROM bands x JOIN bands y
       |    ON x.band_no = y.band_no AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS inter_size
       |  FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b AND y.h = x.h
       |  GROUP BY 1, 2)""".stripMargin
  }

  // ---------------- oracles ----------------

  /** One Lloyd iteration of the IVF oracle (see `ann_ivf_topk` below):
    * assign → per-list integer mean. `//` floors in DuckDB while Scala's
    * `Long./` truncates toward zero, hence the sign-split CASE; centroid
    * ids re-compact by `row_number() OVER (ORDER BY list_id)` exactly
    * like IvfAnn's `collect().sortBy(list_id).zipWithIndex`.
    */
  private def ivfLloydIterSql(i: Int): String =
    s"""x$i AS (
       |  SELECT v.vec_id, v.qv, c.cid,
       |         -(CAST(${dot("v.qv", "c.cvec")} AS DOUBLE)) / sqrt(CAST(${dot("c.cvec", "c.cvec")} AS DOUBLE)) AS neg_sim
       |  FROM q v, c${i - 1} c),
       |a$i AS (
       |  SELECT vec_id, qv, cid AS list_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn FROM x$i)
       |  WHERE rn = 1),
       |n$i AS (SELECT list_id, count(*) AS n FROM a$i GROUP BY list_id),
       |s$i AS (SELECT a.list_id, dims.d, sum(a.qv[dims.d]) AS sd FROM a$i a, dims GROUP BY a.list_id, dims.d),
       |c$i AS (
       |  SELECT row_number() OVER (ORDER BY list_id) - 1 AS cid,
       |         list(CASE WHEN sd >= 0 THEN sd // n ELSE -((-sd) // n) END ORDER BY d) AS cvec
       |  FROM s$i JOIN n$i USING (list_id)
       |  GROUP BY list_id)""".stripMargin

  /** Replays IvfAnn.topK end-to-end, INCLUDING training: id-seeded
    * centroids, 3 unrolled Lloyd iterations in exact integer
    * arithmetic, nprobe=4 probe selection, in-list rerank and the
    * double-sim ranking. The whole k-means is deterministic, so the
    * approximate operator hash-matches a pure-SQL replay — and the
    * persisted-index variant (`ann_ivf_index_topk`) computes the same
    * function through parquet partitions, so ONE replay oracles both.
    */
  private val ivfReplaySql: String =
      s"""WITH ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 16)),
         |${ivfLloydIterSql(1)},
         |${ivfLloydIterSql(2)},
         |${ivfLloydIterSql(3)},
         |xf AS (
         |  SELECT v.vec_id, v.qv, c.cid,
         |         -(CAST(${dot("v.qv", "c.cvec")} AS DOUBLE)) / sqrt(CAST(${dot("c.cvec", "c.cvec")} AS DOUBLE)) AS neg_sim
         |  FROM q v, c3 c),
         |af AS (
         |  SELECT vec_id AS nn_id, qv AS cq, cid AS list_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn FROM xf)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, qv AS qq, cid AS list_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn
         |    FROM xf WHERE vec_id < 10)
         |  WHERE rn <= 4),
         |scored AS (
         |  SELECT p.q_id, a.nn_id,
         |         ${dot("p.qq", "a.cq")} AS dot,
         |         ${dot("p.qq", "p.qq")} AS na,
         |         ${dot("a.cq", "a.cq")} AS nb
         |  FROM probes p JOIN af a USING (list_id)
         |  WHERE a.nn_id <> p.q_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) DESC, nn_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, rank, nn_id, dot, na, nb FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin

  /** Closed-form replay of the image-dedup pipeline up to the banded
    * candidate list (shared by `image_dedup_dhash` and the
    * cluster-assignment consumer): the generator's cell grid IS the
    * decoded-downsampled gray grid (cell-constant pixels, dims =
    * 9cw x 8ch), so grayscale→bits→halves→bands→join reproduce the
    * Spark side integer-for-integer without parsing a single PNG
    * byte — the codecs are proven by the MATCH, not reimplemented in
    * SQL. Pre-stripped so consumers can interpolate it into their own
    * stripMargin strings.
    */
  private val imageDhashCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |cell AS (
       |  SELECT id, v, cy, cx,
       |         ((cx*(7 + g % 5) + cy*(13 + g % 11) + g*31) % 17) * 15 AS base
       |  FROM ids, unnest(range(0, 8)) AS r1(cy),
       |       unnest(range(0, 9)) AS r2(cx)),
       |pert AS (
       |  SELECT id, cy, cx,
       |         CASE WHEN cx = 8 AND cy < v
       |              THEN (base + 40 * (cy + 1)) % 256
       |              ELSE base END AS p
       |  FROM cell),
       |gray AS (
       |  SELECT id, cy, cx,
       |         (77*p + 150*((p + 60) % 256) + 29*((p + 120) % 256)) // 256 AS gv
       |  FROM pert),
       |bits AS (
       |  SELECT a.id, a.cy * 8 + a.cx AS j,
       |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
       |  FROM gray a JOIN gray b
       |    ON b.id = a.id AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |hh AS (
       |  SELECT id,
       |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
       |                       ELSE 0 END) AS BIGINT) AS hi,
       |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
       |                       ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY id),
       |bands AS (
       |  SELECT id, hi, lo, k AS band,
       |         CASE WHEN k < 2 THEN (lo >> (16*k)) & 65535
       |              ELSE (hi >> (16*(k-2))) & 65535 END AS bv
       |  FROM hh, unnest(range(0, 4)) AS r(k)),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)""".stripMargin

  /** [[imageDhashCtes]] carried through the LOSSY JPEG round trip:
    * gray content (`r = g = b = p`) rides the exact fixed-point color
    * chain (chroma pinned at 128), every 8×8 block is cell-constant,
    * so the decoded gray is the DC quantization closed form
    * `least(255, 2·((p+1) // 2))` — `(p+1)` keeps the arithmetic
    * non-negative (DuckDB `//` truncates toward zero, Java floorDiv
    * floors; they agree only at >= 0). Everything the SQL does NOT
    * model — Huffman coding, bit stuffing, DC prediction, the IDCT —
    * is exactly what the hash match proves. Pre-stripped like
    * [[imageDhashCtes]].
    */
  private val jpegDhashCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |cell AS (
       |  SELECT id, v, cy, cx,
       |         ((cx*(7 + g % 5) + cy*(13 + g % 11) + g*31) % 17) * 15 AS base
       |  FROM ids, unnest(range(0, 8)) AS r1(cy),
       |       unnest(range(0, 9)) AS r2(cx)),
       |pert AS (
       |  SELECT id, cy, cx,
       |         CASE WHEN cx = 8 AND cy < v
       |              THEN (base + 40 * (cy + 1)) % 256
       |              ELSE base END AS p
       |  FROM cell),
       |gray AS (
       |  SELECT id, cy, cx, least(255, 2 * ((p + 1) // 2)) AS gv
       |  FROM pert),
       |bits AS (
       |  SELECT a.id, a.cy * 8 + a.cx AS j,
       |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
       |  FROM gray a JOIN gray b
       |    ON b.id = a.id AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |hh AS (
       |  SELECT id,
       |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
       |                       ELSE 0 END) AS BIGINT) AS hi,
       |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
       |                       ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY id),
       |bands AS (
       |  SELECT id, hi, lo, k AS band,
       |         CASE WHEN k < 2 THEN (lo >> (16*k)) & 65535
       |              ELSE (hi >> (16*(k-2))) & 65535 END AS bv
       |  FROM hh, unnest(range(0, 4)) AS r(k)),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)""".stripMargin

  /** One incremental-media-dedup batch's oracle CTE group (the
    * [[incDedupOracle]] construction on Hamming fingerprints):
    * cross matches against the `idxCte` membership (self excluded),
    * intra-batch pairs among survivors, recursive min-label
    * components, decisions. `pred(x)` is the batch-membership
    * predicate applied to an id expression.
    */
  private def fpIncCtes(tag: String, idxCte: String,
      pred: String => String): String =
    raw"""cross_$tag AS (
       |  SELECT DISTINCT n.id AS id
       |  FROM bands n JOIN bands c ON c.band = n.band AND c.bv = n.bv
       |  JOIN $idxCte i ON i.id = c.id
       |  WHERE ${pred("n.id")} AND c.id <> n.id
       |    AND bit_count(xor(n.hi, c.hi)) + bit_count(xor(n.lo, c.lo)) <= 3),
       |pairs_$tag AS (
       |  SELECT DISTINCT a.id AS pa, b.id AS pb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
       |  WHERE ${pred("a.id")} AND ${pred("b.id")}
       |    AND a.id NOT IN (SELECT id FROM cross_$tag)
       |    AND b.id NOT IN (SELECT id FROM cross_$tag)
       |    AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |nodes_$tag AS (SELECT pa AS id FROM pairs_$tag
       |               UNION SELECT pb FROM pairs_$tag),
       |edges_$tag AS (SELECT pa AS src, pb AS dst FROM pairs_$tag
       |               UNION SELECT pb, pa FROM pairs_$tag),
       |reach_$tag AS (
       |  SELECT id, id AS r FROM nodes_$tag
       |  UNION
       |  SELECT e.src, reach_$tag.r
       |  FROM edges_$tag e JOIN reach_$tag ON e.dst = reach_$tag.id),
       |comp_$tag AS (SELECT id, min(r) AS cl FROM reach_$tag GROUP BY id),
       |dec_$tag AS (
       |  SELECT h.id AS doc_id,
       |         CASE WHEN h.id IN (SELECT id FROM cross_$tag) THEN 'dup_corpus'
       |              WHEN c.cl IS NOT NULL AND c.cl <> h.id THEN 'dup_batch'
       |              ELSE 'kept' END AS status
       |  FROM hh h LEFT JOIN comp_$tag c ON c.id = h.id
       |  WHERE ${pred("h.id")})""".stripMargin

  /** One 256-bit incremental-dedup batch's oracle CTE group — the
    * [[fpIncCtes]] construction on the `limb(id, band, bv)` table at
    * threshold 9: limb-banded candidates against the `idxCte`
    * membership (self excluded), exact distances summed relationally,
    * intra-batch pairs among survivors, recursive min-label
    * components, decisions (batch ids come from the `ids` CTE).
    */
  private def fpInc256Ctes(tag: String, idxCte: String,
      pred: String => String): String =
    raw"""xcand_$tag AS (
       |  SELECT DISTINCT n.id AS nid, c.id AS cid
       |  FROM limb n JOIN limb c ON c.band = n.band AND c.bv = n.bv
       |  JOIN $idxCte i ON i.id = c.id
       |  WHERE ${pred("n.id")} AND c.id <> n.id),
       |xham_$tag AS (
       |  SELECT x.nid, x.cid, sum(bit_count(xor(ln.bv, lc.bv))) AS h
       |  FROM xcand_$tag x JOIN limb ln ON ln.id = x.nid
       |       JOIN limb lc ON lc.id = x.cid AND lc.band = ln.band
       |  GROUP BY 1, 2),
       |cross_$tag AS MATERIALIZED (
       |  SELECT DISTINCT nid AS id FROM xham_$tag WHERE h <= 9),
       |pcand_$tag AS (
       |  SELECT DISTINCT a.id AS pa, b.id AS pb
       |  FROM limb a JOIN limb b
       |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
       |  WHERE ${pred("a.id")} AND ${pred("b.id")}
       |    AND a.id NOT IN (SELECT id FROM cross_$tag)
       |    AND b.id NOT IN (SELECT id FROM cross_$tag)),
       |pairs_$tag AS MATERIALIZED (
       |  SELECT pa, pb FROM (
       |    SELECT x.pa, x.pb, sum(bit_count(xor(la.bv, lb.bv))) AS h
       |    FROM pcand_$tag x JOIN limb la ON la.id = x.pa
       |         JOIN limb lb ON lb.id = x.pb AND lb.band = la.band
       |    GROUP BY 1, 2) WHERE h <= 9),
       |nodes_$tag AS (SELECT pa AS id FROM pairs_$tag
       |               UNION SELECT pb FROM pairs_$tag),
       |edges_$tag AS (SELECT pa AS src, pb AS dst FROM pairs_$tag
       |               UNION SELECT pb, pa FROM pairs_$tag),
       |reach_$tag AS (
       |  SELECT id, id AS r FROM nodes_$tag
       |  UNION
       |  SELECT e.src, reach_$tag.r
       |  FROM edges_$tag e JOIN reach_$tag ON e.dst = reach_$tag.id),
       |comp_$tag AS (SELECT id, min(r) AS cl FROM reach_$tag GROUP BY id),
       |dec_$tag AS (
       |  SELECT h.id AS doc_id,
       |         CASE WHEN h.id IN (SELECT id FROM cross_$tag) THEN 'dup_corpus'
       |              WHEN c.cl IS NOT NULL AND c.cl <> h.id THEN 'dup_batch'
       |              ELSE 'kept' END AS status
       |  FROM ids h LEFT JOIN comp_$tag c ON c.id = h.id
       |  WHERE ${pred("h.id")})""".stripMargin

  /** Closed-form replay of the 256-bit fingerprints up to the limb
    * table (shared by the dedup and k-NN oracles); pre-stripped like
    * [[imageDhashCtes]].
    */
  private val image256LimbCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |cell AS (
       |  SELECT id, v, cy, cx,
       |         ((cx*(7 + g % 5) + cy*(13 + g % 11) + cx*cy*(3 + g % 7) + g*31) % 17) * 15 AS base
       |  FROM ids, unnest(range(0, 16)) AS r1(cy),
       |       unnest(range(0, 17)) AS r2(cx)),
       |pert AS (
       |  SELECT id, cy, cx,
       |         CASE WHEN cx = 16 AND cy < 3 * v
       |              THEN (base + 40 * (cy + 1)) % 256
       |              ELSE base END AS p
       |  FROM cell),
       |gray AS (
       |  SELECT id, cy, cx,
       |         (77*p + 150*((p + 60) % 256) + 29*((p + 120) % 256)) // 256 AS gv
       |  FROM pert),
       |bits AS (
       |  SELECT a.id, a.cy, a.cx,
       |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
       |  FROM gray a JOIN gray b
       |    ON b.id = a.id AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 16),
       |limb AS MATERIALIZED (
       |  SELECT id, cy AS band,
       |         CAST(sum(bit * (1::BIGINT << cx)) AS BIGINT) AS bv
       |  FROM bits GROUP BY id, cy)""".stripMargin

  /** Closed-form replay of the synthetic audio corpus up to per-window
    * energies (shared by the dedup and segmentation oracles):
    * window-constant ±A samples make E = winlen·A². Pre-stripped like
    * [[imageDhashCtes]].
    */
  private val audioEnergyCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |amp AS (
       |  SELECT id, w,
       |         1 + (CASE WHEN w >= 65 - v
       |              THEN (w*(3 + g % 7) + w*w*(1 + g % 11) + g*13 + 9) % 23
       |              ELSE (w*(3 + g % 7) + w*w*(1 + g % 11) + g*13) % 23
       |              END) * 40 AS a,
       |         80 + (g % 3) * 40 AS winlen
       |  FROM ids, unnest(range(0, 65)) AS r(w)),
       |en AS (
       |  SELECT id, w, CAST(winlen AS BIGINT) * a * a AS e FROM amp)""".stripMargin

  /** Closed-form replay of the TRIMMED-SHOT video corpus up to the
    * per-shot signature table `units(id, u, hi, lo)` (shared by the
    * shot-dedup and incremental-shot-index oracles); pre-stripped like
    * [[imageDhashCtes]]. `ids` carries one row per clip.
    */
  private val trimShotUnitsCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |sh AS (
       |  SELECT id, v, s, g*4 + s AS m
       |  FROM ids, unnest(range(0, 4)) AS r(s) WHERE s >= v),
       |cell AS (
       |  SELECT id, v, s, cy, cx,
       |         (cx*(1 + (m*m + m*131) % 241) +
       |          cy*(1 + (m*m*3 + m*137) % 239) +
       |          cx*cy*(1 + (m*m*7 + m*139) % 233) +
       |          cx*cx*(1 + (m*m*11 + m*149) % 229) + m) % 251 AS base
       |  FROM sh, unnest(range(0, 8)) AS r1(cy),
       |       unnest(range(0, 9)) AS r2(cx)),
       |pert AS (
       |  SELECT id, s, cy, cx,
       |         CASE WHEN cx = 8 AND cy < v
       |              THEN (base + 40 * (cy + 1)) % 256
       |              ELSE base END AS p
       |  FROM cell),
       |gray AS (
       |  SELECT id, s, cy, cx,
       |         (77*p + 150*((p + 60) % 256) + 29*((p + 120) % 256)) // 256 AS gv
       |  FROM pert),
       |bits AS (
       |  SELECT a.id, a.s, a.cy * 8 + a.cx AS j,
       |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
       |  FROM gray a JOIN gray b
       |    ON b.id = a.id AND b.s = a.s AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |units AS MATERIALIZED (
       |  SELECT id, s AS u,
       |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
       |                       ELSE 0 END) AS BIGINT) AS hi,
       |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
       |                       ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY id, s)""".stripMargin

  /** [[trimShotUnitsCtes]] carried through the JPEG round trip: the
    * Motion-JPEG corpus' cells are 8-multiples of constant gray, so
    * the decoded value is the DC closed form — one `dec()` wrap
    * (`least(255, 2*((p+1) // 2))`, non-negative arithmetic for
    * DuckDB's truncating `//`) over the same coprime-moduli content
    * rule, then the identical signature chain. cw = 8·(1 + g%2),
    * ch = 8 (the jpeg generator's block-aligned grid). Pre-stripped
    * like [[imageDhashCtes]].
    */
  private val trimShotUnitsJpegCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |sh AS (
       |  SELECT id, v, s, g*4 + s AS m
       |  FROM ids, unnest(range(0, 4)) AS r(s) WHERE s >= v),
       |cell AS (
       |  SELECT id, v, s, cy, cx,
       |         (cx*(1 + (m*m + m*131) % 241) +
       |          cy*(1 + (m*m*3 + m*137) % 239) +
       |          cx*cy*(1 + (m*m*7 + m*139) % 233) +
       |          cx*cx*(1 + (m*m*11 + m*149) % 229) + m) % 251 AS base
       |  FROM sh, unnest(range(0, 8)) AS r1(cy),
       |       unnest(range(0, 9)) AS r2(cx)),
       |pert AS (
       |  SELECT id, s, cy, cx,
       |         CASE WHEN cx = 8 AND cy < v
       |              THEN (base + 40 * (cy + 1)) % 256
       |              ELSE base END AS p
       |  FROM cell),
       |gray AS (
       |  SELECT id, s, cy, cx, least(255, 2 * ((p + 1) // 2)) AS gv
       |  FROM pert),
       |bits AS (
       |  SELECT a.id, a.s, a.cy * 8 + a.cx AS j,
       |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
       |  FROM gray a JOIN gray b
       |    ON b.id = a.id AND b.s = a.s AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |units AS MATERIALIZED (
       |  SELECT id, s AS u,
       |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
       |                       ELSE 0 END) AS BIGINT) AS hi,
       |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
       |                       ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY id, s)""".stripMargin

  /** One incremental SHOT-SIGNATURE dedup batch's oracle CTE group —
    * the [[fpIncCtes]] construction at clip granularity with the
    * symmetric distinct-unit overlap gate (`least >= 2` at unit
    * Hamming <= 3): cross matches against the `idxCte` membership,
    * intra-batch pairs among survivors, recursive min-label
    * components, decisions. Expects `bands(id, u, hi, lo, band, bv)`
    * and a one-row-per-clip `ids` CTE.
    */
  private def sigIncCtes(tag: String, idxCte: String,
      pred: String => String): String =
    raw"""xm_$tag AS (
       |  SELECT DISTINCT a.id AS nid, a.u AS nu, b.id AS cid, b.u AS cu
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv
       |  JOIN $idxCte i ON i.id = b.id
       |  WHERE ${pred("a.id")} AND b.id <> a.id
       |    AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |cross_$tag AS MATERIALIZED (
       |  SELECT DISTINCT nid AS id FROM (
       |    SELECT nid, cid, count(DISTINCT nu) AS mn, count(DISTINCT cu) AS mc
       |    FROM xm_$tag GROUP BY 1, 2)
       |  WHERE least(mn, mc) >= 2),
       |pm_$tag AS (
       |  SELECT DISTINCT a.id AS pa, a.u AS ua, b.id AS pb, b.u AS ub
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
       |  WHERE ${pred("a.id")} AND ${pred("b.id")}
       |    AND a.id NOT IN (SELECT id FROM cross_$tag)
       |    AND b.id NOT IN (SELECT id FROM cross_$tag)
       |    AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |pairs_$tag AS MATERIALIZED (
       |  SELECT pa, pb FROM (
       |    SELECT pa, pb, count(DISTINCT ua) AS na, count(DISTINCT ub) AS nb
       |    FROM pm_$tag GROUP BY 1, 2)
       |  WHERE least(na, nb) >= 2),
       |nodes_$tag AS (SELECT pa AS id FROM pairs_$tag
       |               UNION SELECT pb FROM pairs_$tag),
       |edges_$tag AS (SELECT pa AS src, pb AS dst FROM pairs_$tag
       |               UNION SELECT pb, pa FROM pairs_$tag),
       |reach_$tag AS (
       |  SELECT id, id AS r FROM nodes_$tag
       |  UNION
       |  SELECT e.src, reach_$tag.r
       |  FROM edges_$tag e JOIN reach_$tag ON e.dst = reach_$tag.id),
       |comp_$tag AS (SELECT id, min(r) AS cl FROM reach_$tag GROUP BY id),
       |dec_$tag AS (
       |  SELECT h.id AS doc_id,
       |         CASE WHEN h.id IN (SELECT id FROM cross_$tag) THEN 'dup_corpus'
       |              WHEN c.cl IS NOT NULL AND c.cl <> h.id THEN 'dup_batch'
       |              ELSE 'kept' END AS status
       |  FROM ids h LEFT JOIN comp_$tag c ON c.id = h.id
       |  WHERE ${pred("h.id")})""".stripMargin

  /** Closed-form replay of the TRIMMED-BLOCK audio corpus up to the
    * per-block fingerprint table `units(id, u, hi, lo)` (shared by
    * the offset-dedup and incremental oracles); `ids` carries one row
    * per clip. Pre-stripped like [[imageDhashCtes]].
    */
  private val audioBlockUnitsCtes: String =
    raw"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |  FROM documents),
       |blk AS (
       |  SELECT id, b, g*6 + b AS m
       |  FROM ids, unnest(range(0, 6)) AS r(b) WHERE b >= v),
       |amp AS (
       |  SELECT id, b, w,
       |         1 + (((w*(1 + ((m*73) % 65521) % 996) +
       |                w*w*(1 + ((m*79) % 65521) % 996) + m) % 997) % 23)
       |             * 40 AS a
       |  FROM blk, unnest(range(0, 65)) AS r(w)),
       |en AS (
       |  SELECT id, b, w, 64 * CAST(a AS BIGINT) * a AS e FROM amp),
       |bits AS (
       |  SELECT a.id, a.b, a.w AS j,
       |         CASE WHEN c.e > a.e THEN 1 ELSE 0 END AS bit
       |  FROM en a JOIN en c ON c.id = a.id AND c.b = a.b AND c.w = a.w + 1
       |  WHERE a.w < 64),
       |units AS MATERIALIZED (
       |  SELECT id, b AS u,
       |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
       |                       ELSE 0 END) AS BIGINT) AS hi,
       |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
       |                       ELSE 0 END) AS BIGINT) AS lo
       |  FROM bits GROUP BY id, b)""".stripMargin

  /** The oracle spelling of [[incSliceExpr]] (DuckDB `//` division). */
  private def incSlicePredSql(r: Int): String => String =
    x => s"${incSliceExpr(x, s"($x // 4)")} = $r"

  /** The full two-batch incremental SIGNATURE-dedup arc's oracle over
    * a given `units(id, u, hi, lo)` + one-row-per-clip `ids` CTE chain
    * ([[trimShotUnitsCtes]] for video shots, [[audioBlockUnitsCtes]]
    * for audio blocks — the SQL scaffold differs only in the units
    * source, matching [[incDedupArc]] on the Spark side): 16-bit
    * banding, [[incSliceExpr]] batch membership (the group-class
    * routing that keeps every status and the growth path
    * gate-covered), two [[sigIncCtes]] batch groups with the
    * membership growing by batch-1 kept.
    */
  private def sigIncArcSql(unitsCtes: String): String = {
    val p = incSlicePredSql _
    raw"""WITH RECURSIVE $unitsCtes,
       |bands AS MATERIALIZED (
       |  SELECT id, u, hi, lo, k AS band,
       |         CASE WHEN k < 2 THEN (lo >> (16*k)) & 65535
       |              ELSE (hi >> (16*(k-2))) & 65535 END AS bv
       |  FROM units, unnest(range(0, 4)) AS r(k)),
       |idx_c0 AS (SELECT id FROM ids WHERE ${p(0)("id")}),
       |${sigIncCtes("b1", "idx_c0", p(1))},
       |idx_c1 AS (SELECT id FROM idx_c0
       |           UNION ALL
       |           SELECT doc_id FROM dec_b1 WHERE status = 'kept'),
       |${sigIncCtes("b2", "idx_c1", p(2))}
       |SELECT doc_id, CAST(1 AS BIGINT) AS batch, status,
       |       CAST(status = 'kept' AS BIGINT) AS kept
       |FROM dec_b1
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT), status, CAST(status = 'kept' AS BIGINT)
       |FROM dec_b2
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared tail of the alignment-free signature-overlap oracles
    * (video shots, audio blocks): expects a `units(id, u, hi, lo)`
    * CTE — one row per clip unit — and replays 16-bit banding,
    * cross-clip unit matches within Hamming 3, the two
    * distinct-matched counts with the `minMatched >= 2` HAVING, and
    * the unit-count denominators joined to survivors. Pre-stripped
    * like [[imageDhashCtes]] (so it carries no margin chars).
    */
  /** The PAIR half of the overlap replay (banding → unit matches →
    * the symmetric distinct-count gate in `agg(id_a, id_b, nma,
    * nmb)`) — shared by [[sigOverlapTail]] and the cluster-assignment
    * oracle's recursive closure.
    */
  private val sigOverlapPairsCtes: String =
    raw"""bands AS (
       |  SELECT id, u, hi, lo, k AS band,
       |         CASE WHEN k < 2 THEN (lo >> (16*k)) & 65535
       |              ELSE (hi >> (16*(k-2))) & 65535 END AS bv
       |  FROM units, unnest(range(0, 4)) AS r(k)),
       |m AS (
       |  SELECT DISTINCT a.id AS id_a, a.u AS ua, b.id AS id_b, b.u AS ub
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
       |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |agg AS (
       |  SELECT id_a, id_b,
       |         count(DISTINCT ua) AS nma, count(DISTINCT ub) AS nmb
       |  FROM m GROUP BY 1, 2
       |  HAVING least(count(DISTINCT ua), count(DISTINCT ub)) >= 2)""".stripMargin

  /** The offset-estimate tail over a `units(id, u, hi, lo)` chain +
    * [[sigOverlapPairsCtes]]: per-pair matched-delta counts with
    * deltas re-based to clip-relative ordinals (both trim generators
    * use `v = id % 4` leading-unit trims, so the re-basing term is
    * `(id_b % 4) - (id_a % 4)` for either modality), the
    * (cnt DESC, off ASC) mode — Spark's deterministic `mode` — and
    * the countDistinct denominators. Pre-stripped like
    * [[imageDhashCtes]].
    */
  private val sigOffsetTail: String =
    raw"""$sigOverlapPairsCtes,
       |deltas AS (
       |  SELECT m.id_a, m.id_b,
       |         (m.ua - m.ub) + (m.id_b % 4) - (m.id_a % 4) AS off,
       |         count(*) AS cnt
       |  FROM m GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT id_a, id_b, off,
       |         row_number() OVER (PARTITION BY id_a, id_b
       |                            ORDER BY cnt DESC, off ASC) AS rn
       |  FROM deltas),
       |nu AS (SELECT id, count(DISTINCT u) AS n FROM units GROUP BY id)
       |SELECT agg.id_a, agg.id_b,
       |       CAST(nma AS BIGINT) AS n_matched_a,
       |       CAST(nmb AS BIGINT) AS n_matched_b,
       |       CAST(na.n AS BIGINT) AS n_units_a,
       |       CAST(nb.n AS BIGINT) AS n_units_b,
       |       CAST(b.off AS BIGINT) AS best_offset
       |FROM agg JOIN nu na ON na.id = agg.id_a
       |         JOIN nu nb ON nb.id = agg.id_b
       |         JOIN best b ON b.id_a = agg.id_a AND b.id_b = agg.id_b
       |                    AND b.rn = 1
       |ORDER BY agg.id_a, agg.id_b""".stripMargin

  private val sigOverlapTail: String =
    raw"""$sigOverlapPairsCtes,
       |nu AS (SELECT id, count(*) AS n FROM units GROUP BY id)
       |SELECT agg.id_a, agg.id_b,
       |       CAST(nma AS BIGINT) AS n_matched_a,
       |       CAST(nmb AS BIGINT) AS n_matched_b,
       |       CAST(na.n AS BIGINT) AS n_units_a,
       |       CAST(nb.n AS BIGINT) AS n_units_b
       |FROM agg JOIN nu na ON na.id = agg.id_a
       |         JOIN nu nb ON nb.id = agg.id_b
       |ORDER BY id_a, id_b""".stripMargin

  /** Brute-force Hamming k-NN over the closed-form image
    * fingerprints: the banded probe path must lose no neighbor within
    * the radius (pigeonhole), so its top-5 equals this exhaustive
    * scan's — shared verbatim by the in-memory operator
    * (`media_hamming_knn`) and the persisted-index retrieval
    * (`media_hamming_knn_index`, whose index bootstraps from the full
    * corpus and must answer identically).
    */
  private val hammingKnnBruteSql: String =
    raw"""WITH $imageDhashCtes,
       |probes AS (SELECT id, hi, lo FROM hh WHERE id % 10 = 0),
       |scored AS (
       |  SELECT p.id AS probe_id, h.id AS neighbor_id,
       |         CAST(bit_count(xor(p.hi, h.hi)) +
       |              bit_count(xor(p.lo, h.lo)) AS BIGINT) AS hamming
       |  FROM probes p JOIN hh h ON h.id <> p.id
       |  WHERE bit_count(xor(p.hi, h.hi)) +
       |        bit_count(xor(p.lo, h.lo)) <= 3),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, hamming,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY hamming, neighbor_id) AS rn
       |  FROM scored)
       |SELECT probe_id, neighbor_id, hamming, CAST(rn AS BIGINT) AS rnk
       |FROM ranked WHERE rn <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** [[hammingKnnBruteSql]]'s 256-bit sibling, shared by the
    * in-memory and persisted-index limb k-NN oracles.
    */
  private val hammingKnn256BruteSql: String =
    raw"""WITH $image256LimbCtes,
       |scored AS (
       |  SELECT p.id AS probe_id, o.id AS neighbor_id,
       |         sum(bit_count(xor(lp.bv, lo.bv))) AS hamming
       |  FROM ids p JOIN ids o ON o.id <> p.id
       |       JOIN limb lp ON lp.id = p.id
       |       JOIN limb lo ON lo.id = o.id AND lo.band = lp.band
       |  WHERE p.id % 10 = 0
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, hamming,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY hamming, neighbor_id) AS rn
       |  FROM scored WHERE hamming <= 9)
       |SELECT probe_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
       |       CAST(rn AS BIGINT) AS rnk
       |FROM ranked WHERE rn <= 5 ORDER BY probe_id, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "ann_ivf_topk" -> ivfReplaySql,
    "ann_ivf_index_topk" -> ivfReplaySql,
    // Replays the KMV sketches (bottom-256 of the sha2-60bit hash
    // family, Beyer et al. estimator with identical double operands)
    // and the manual type-7 percentile formula operand-for-operand.
    "approx_stats" -> {
      def kmvEst(cte: String, hashExpr: String, where: String) =
        s"""${cte}h AS (
           |  SELECT DISTINCT event_type, $hashExpr AS h FROM events WHERE $where),
           |${cte}r AS (
           |  SELECT event_type, h,
           |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           |  FROM ${cte}h),
           |${cte}a AS (
           |  SELECT event_type, max(h) AS hk, count(*) AS n
           |  FROM ${cte}r WHERE rn <= $KMV_K GROUP BY event_type),
           |${cte}e AS (
           |  SELECT event_type,
           |         CASE WHEN n < $KMV_K THEN CAST(n AS DOUBLE)
           |              ELSE ${KMV_K - 1}.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0) END AS est
           |  FROM ${cte}a)""".stripMargin
      val h50 = "CAST(n-1 AS DOUBLE) * CAST(0.5 AS DOUBLE)"
      val h99 = "CAST(n-1 AS DOUBLE) * CAST(0.99 AS DOUBLE)"
      s"""WITH ${kmvEst("u", "CAST('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)", "user_id IS NOT NULL")},
         |${kmvEst("p", "CAST('0x' || substr(sha256(props), 1, 15) AS BIGINT)", "props IS NOT NULL")},
         |vals AS (
         |  SELECT event_type, value,
         |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events WHERE value IS NOT NULL),
         |pct AS (
         |  SELECT event_type, max(n) AS n,
         |    min(CASE WHEN rn = CAST(floor($h50) AS BIGINT) + 1 THEN value END) AS v50lo,
         |    min(CASE WHEN rn = CAST(floor($h50) AS BIGINT) + 2 THEN value END) AS v50hi,
         |    min(CASE WHEN rn = CAST(floor($h99) AS BIGINT) + 1 THEN value END) AS v99lo,
         |    min(CASE WHEN rn = CAST(floor($h99) AS BIGINT) + 2 THEN value END) AS v99hi
         |  FROM vals GROUP BY event_type),
         |pcts AS (
         |  SELECT event_type,
         |    v50lo + ($h50 - floor($h50)) * (COALESCE(v50hi, v50lo) - v50lo) AS p50_value,
         |    v99lo + ($h99 - floor($h99)) * (COALESCE(v99hi, v99lo) - v99lo) AS p99_value
         |  FROM pct)
         |SELECT ue.event_type,
         |       CAST(round(ue.est) AS BIGINT) AS approx_users,
         |       CAST(round(pe.est) AS BIGINT) AS approx_props,
         |       pcts.p50_value, pcts.p99_value
         |FROM ue JOIN pe USING (event_type) JOIN pcts USING (event_type)
         |ORDER BY ue.event_type""".stripMargin
    },
    "pii_scrub" -> {
      val em = TextFunctions.EmailRe.replace("\\", "\\")
      val ip = TextFunctions.Ipv4Re
      val ph = TextFunctions.PhoneRe
      s"""SELECT doc_id,
         |  sha256(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')) AS clean_hash,
         |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phone
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "sample_documents" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |      < ${Sampling.threshold(0.2)}
         |ORDER BY doc_id""".stripMargin,
    "mix_sources" -> {
      // the oracle replays the EXACT per-stratum long thresholds the
      // Spark plan uses (same Sampling.threshold call) — recomputing
      // rate×2^60 in DuckDB DECIMAL arithmetic lands ulps away; and the
      // sum is cast OUTSIDE the aggregate because DuckDB types
      // SUM(BIGINT) as HUGEINT (int128), which hash-mismatches int64
      val cases = mixWeights
        .map { case (s, f) => s"WHEN '$s' THEN ${Sampling.threshold(f)}" }
        .mkString("\n           ")
      raw"""SELECT source, count(*) AS n_docs,
           |       CAST(SUM(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))) AS BIGINT) AS n_tokens
           |FROM documents
           |WHERE CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           |      < CASE source
           |          $cases
           |          ELSE 0 END
           |GROUP BY source ORDER BY source""".stripMargin
    },
    "split_dataset" -> {
      // the oracle interpolates the SAME cumulative-threshold longs the
      // Spark plan resolved (Sampling.cumulativeThresholds — one
      // double-sum, one truncation; recomputing in DuckDB arithmetic
      // would land ulps off the band edges)
      val cuts = Sampling.cumulativeThresholds(splitBands)
      val cases = splitBands.zip(cuts)
        .map { case ((name, _), cut) => s"WHEN h < $cut THEN '$name'" }
        .mkString("\n           ")
      raw"""WITH hashed AS (
           |  SELECT text,
           |         CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
           |  FROM documents)
           |SELECT CASE
           |           $cases
           |       END AS split,
           |       count(*) AS n_docs,
           |       CAST(SUM(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))) AS BIGINT) AS n_tokens
           |FROM hashed
           |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "quality_score" ->
      s"""WITH $toksCte,
         |$qualityCte
         |SELECT doc_id, token_cnt, mwl_milli, stop_hits, punct_milli, score_milli
         |FROM quality ORDER BY doc_id""".stripMargin,
    "quality_classifier" ->
      raw"""WITH ctoks AS (
         |  SELECT doc_id, CAST(lang = 'en' AS INT) AS y, t AS tok
         |  FROM (SELECT doc_id, lang,
         |          string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
         |        FROM documents), unnest(tk) AS u(t)
         |  WHERE length(t) > 0),
         |counts AS (
         |  SELECT tok, CAST(sum(y) AS BIGINT) AS pos, count(*) AS tot
         |  FROM ctoks GROUP BY 1 HAVING count(*) >= 3),
         |kept AS (SELECT * FROM counts ORDER BY tot DESC, tok LIMIT 4096),
         |tots AS (SELECT sum(pos) AS posTot, sum(tot - pos) AS negTot,
         |                count(*) AS v FROM kept),
         |model AS (
         |  SELECT tok,
         |         CAST(round((ln((pos + 1) / CAST(posTot + v AS DOUBLE)) -
         |                     ln((tot - pos + 1) / CAST(negTot + v AS DOUBLE))) * 1000)
         |              AS BIGINT) AS llr_milli
         |  FROM kept, tots),
         |prior AS (
         |  SELECT CAST(round(ln((sum(CAST(lang = 'en' AS INT)) + 1) /
         |           CAST(count(*) - sum(CAST(lang = 'en' AS INT)) + 1 AS DOUBLE)) * 1000)
         |         AS BIGINT) AS prior_milli
         |  FROM documents),
         |ds AS (
         |  SELECT t.doc_id, CAST(sum(m.llr_milli) AS BIGINT) AS tok_milli
         |  FROM ctoks t JOIN model m USING (tok) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(ds.tok_milli, 0) + prior.prior_milli AS score_milli,
         |       CAST(d.lang = 'en' AS INT) AS weak_label,
         |       CASE WHEN COALESCE(ds.tok_milli, 0) + prior.prior_milli > 0
         |            THEN 1 ELSE 0 END AS pred
         |FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id, prior
         |ORDER BY d.doc_id""".stripMargin,
    "mix_temperature" ->
      raw"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |w AS (SELECT lang, n,
         |        CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS wq
         |      FROM c),
         |tot AS (SELECT sum(wq) AS tw FROM w),
         |thr AS (
         |  SELECT lang,
         |         CAST(LEAST(CAST(1152921504606846976 AS HUGEINT),
         |           (CAST(1152921504606846976 AS HUGEINT) * 300 * wq)
         |             / (CAST(tw AS HUGEINT) * n)) AS BIGINT) AS t
         |  FROM w, tot)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN thr USING (lang)
         |WHERE CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) < thr.t
         |ORDER BY d.doc_id""".stripMargin,
    "sample_quota" ->
      raw"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, source,
         |         rank() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
         |  FROM h)
         |SELECT doc_id, lang, source FROM r WHERE rk <= 25
         |ORDER BY doc_id""".stripMargin,
    "shard_corpus" ->
      raw"""WITH hashed AS (
         |  SELECT doc_id, source,
         |         CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM documents)
         |SELECT doc_id, source, h % 8 AS shard,
         |       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |            AS BIGINT) AS pos
         |FROM hashed ORDER BY doc_id""".stripMargin,
    "lm_perplexity" ->
      raw"""WITH toks AS (
         |  SELECT doc_id, CAST(lang = 'en' AS INT) AS is_ref,
         |         list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
         |                     t -> length(t) > 0) AS tk
         |  FROM documents),
         |pairs0 AS (
         |  SELECT doc_id, is_ref, tk[i] AS p0, tk[i + 1] AS c0
         |  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
         |refuni AS (
         |  SELECT t AS tok, count(*) AS cnt
         |  FROM (SELECT unnest(tk) AS t FROM toks WHERE is_ref = 1)
         |  GROUP BY 1),
         |vocab AS (SELECT tok FROM refuni ORDER BY cnt DESC, tok LIMIT 4096),
         |pairs AS (
         |  SELECT doc_id, is_ref,
         |         CASE WHEN vp.tok IS NULL THEN '<unk>' ELSE p0 END AS p,
         |         CASE WHEN vc.tok IS NULL THEN '<unk>' ELSE c0 END AS c
         |  FROM pairs0 LEFT JOIN vocab vp ON vp.tok = p0
         |              LEFT JOIN vocab vc ON vc.tok = c0),
         |vv AS (SELECT count(*) + 1 AS V FROM vocab),
         |cp AS (SELECT p, count(*) AS cp FROM pairs WHERE is_ref = 1 GROUP BY 1),
         |cb AS (SELECT p, c, count(*) AS cb FROM pairs WHERE is_ref = 1
         |       GROUP BY 1, 2 ORDER BY cb DESC, p, c LIMIT 65536),
         |bm AS (
         |  SELECT cb.p, cb.c,
         |         CAST(round(ln(CAST(cb + 1 AS DOUBLE) / CAST(cp + V AS DOUBLE)) * 1000)
         |              AS BIGINT) AS lp_milli
         |  FROM cb JOIN cp USING (p), vv),
         |pm AS (
         |  SELECT p, CAST(round(ln(1.0 / CAST(cp + V AS DOUBLE)) * 1000) AS BIGINT) AS miss_milli
         |  FROM cp, vv),
         |fl AS (SELECT CAST(round(ln(1.0 / CAST(V AS DOUBLE)) * 1000) AS BIGINT) AS floor_milli FROM vv),
         |ds AS (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |         sum(-(COALESCE(bm.lp_milli, pm.miss_milli, fl.floor_milli))) AS nll_milli
         |  FROM pairs LEFT JOIN bm USING (p, c) LEFT JOIN pm USING (p), fl
         |  GROUP BY 1)
         |SELECT t.doc_id,
         |       COALESCE(ds.n_bigrams, 0) AS n_bigrams,
         |       CAST(COALESCE(ds.nll_milli, 0) AS BIGINT) AS nll_milli,
         |       CASE WHEN COALESCE(ds.nll_milli, 0) <= 6000 * COALESCE(ds.n_bigrams, 0)
         |            THEN 1 ELSE 0 END AS keep
         |FROM toks t LEFT JOIN ds ON ds.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "select_token_budget" -> {
      // the oracle interpolates the SAME driver-resolved budget longs
      // the Spark CASE column carries (Curation.budgetCol)
      val cases = tokenBudgets
        .map { case (s, b) => s"WHEN '$s' THEN $b" }
        .mkString("\n           ")
      s"""WITH $toksCte,
         |$qualityCte,
         |sel AS (
         |  SELECT q.doc_id, d.source, q.token_cnt, q.score_milli,
         |         CAST(row_number() OVER w AS BIGINT) AS sel_rank,
         |         CAST(sum(q.token_cnt) OVER (
         |           PARTITION BY d.source ORDER BY q.score_milli DESC, q.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM quality q JOIN documents d ON d.doc_id = q.doc_id
         |  WINDOW w AS (PARTITION BY d.source ORDER BY q.score_milli DESC, q.doc_id))
         |SELECT doc_id, source, token_cnt, score_milli, sel_rank, cum_tokens
         |FROM sel
         |WHERE cum_tokens <= CASE source
         |          $cases
         |          ELSE 0 END
         |ORDER BY source, sel_rank""".stripMargin
    },
    "winnow_fingerprints" ->
      raw"""WITH c AS (
           |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS canon
           |  FROM documents),
           |h AS (
           |  SELECT doc_id,
           |         list_transform(range(1, greatest(len(canon) - 7, 0) + 1),
           |           i -> CAST('0x' || substr(md5(canon[i : i + 7]), 1, 8) AS BIGINT)) AS hashes
           |  FROM c WHERE len(canon) >= 8),
           |m AS (
           |  SELECT doc_id,
           |         list_distinct(list_transform(range(1, greatest(len(hashes) - 15, 1) + 1),
           |           j -> list_min(hashes[j : j + 15]))) AS fps
           |  FROM h)
           |SELECT doc_id, unnest(fps) AS fp FROM m
           |ORDER BY doc_id, fp""".stripMargin,
    "winnow_overlap" ->
      raw"""WITH c AS (
           |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS canon
           |  FROM documents),
           |h AS (
           |  SELECT doc_id,
           |         list_transform(range(1, greatest(len(canon) - 7, 0) + 1),
           |           i -> CAST('0x' || substr(md5(canon[i : i + 7]), 1, 8) AS BIGINT)) AS hashes
           |  FROM c WHERE len(canon) >= 8),
           |m AS (
           |  SELECT doc_id,
           |         list_distinct(list_transform(range(1, greatest(len(hashes) - 15, 1) + 1),
           |           j -> list_min(hashes[j : j + 15]))) AS fps
           |  FROM h),
           |fps AS (SELECT doc_id, unnest(fps) AS fp FROM m),
           |nf AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id),
           |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 50),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
           |  FROM fps a JOIN rare r ON a.fp = r.fp
           |  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
           |FROM pairs p JOIN nf x ON p.doc_a = x.doc_id
           |JOIN nf y ON p.doc_b = y.doc_id
           |WHERE n_shared >= 3
           |  AND n_shared * 1.0 / (x.n_fp + y.n_fp - n_shared) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin,
    "pack_sequences" ->
      raw"""WITH t AS (
           |  SELECT doc_id, source,
           |         CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS token_cnt
           |  FROM documents)
           |SELECT doc_id, source, token_cnt,
           |       CAST(COALESCE(sum(token_cnt) OVER (PARTITION BY source ORDER BY doc_id
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start,
           |       CAST(COALESCE(sum(token_cnt) OVER (PARTITION BY source ORDER BY doc_id
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS bin_id
           |FROM t ORDER BY doc_id""".stripMargin,
    "decontaminate" ->
      raw"""WITH $toksCte, $shCte,
           |bsh AS (SELECT DISTINCT h FROM sh WHERE doc_id < 20),
           |bad AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bsh ON s.h = bsh.h)
           |SELECT d.doc_id, d.source, d.n_chars
           |FROM documents d LEFT JOIN bad ON bad.doc_id = d.doc_id
           |WHERE bad.doc_id IS NULL
           |ORDER BY d.doc_id""".stripMargin,
    "range_join_events" ->
      """SELECT e.event_id, COALESCE(c.n, 0) AS n_clicks
        |FROM events e LEFT JOIN (
        |  SELECT e2.event_id AS eid, count(*) AS n
        |  FROM events e2 JOIN events c2
        |    ON c2.event_type = 'click'
        |   AND epoch_ns(c2.ts) >= epoch_ns(e2.ts) - 300000000000
        |   AND epoch_ns(c2.ts) < epoch_ns(e2.ts)
        |  WHERE e2.event_type = 'error' GROUP BY 1) c ON c.eid = e.event_id
        |WHERE e.event_type = 'error'
        |ORDER BY e.event_id""".stripMargin,
    // KMV replay: bottom-256 distinct shingle hashes per source =
    // row_number over the same sha2-60bit hashes; the estimators mirror
    // graftexpr.KmvSketch's double arithmetic operand-for-operand
    // (2^60 = 1152921504606846976).
    "source_overlap_kmv" ->
      raw"""WITH toks AS (
           |  SELECT source,
           |         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           |  FROM documents),
           |sh AS (
           |  SELECT DISTINCT source,
           |         CAST('0x' || substr(sha256(array_to_string(tk[i:i+${NGRAM - 1}], ' ')), 1, 15) AS BIGINT) AS h
           |  FROM toks, unnest(generate_series(1, len(tk) - ${NGRAM - 1})) AS g(i)),
           |ranked AS (
           |  SELECT source, h,
           |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
           |         count(*) OVER (PARTITION BY source) AS nd
           |  FROM sh),
           |sk AS (SELECT source, h FROM ranked WHERE rn <= $KMV_K),
           |agg AS (SELECT source, max(h) AS hk, count(*) AS n FROM sk GROUP BY source),
           |est AS (
           |  SELECT source,
           |         CASE WHEN n < $KMV_K THEN CAST(n AS DOUBLE)
           |              ELSE ${KMV_K - 1}.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0) END AS est,
           |         CASE WHEN n < $KMV_K THEN 1.0
           |              ELSE CAST(hk AS DOUBLE) / 1152921504606846976.0 END AS theta
           |  FROM agg),
           |pairs AS (
           |  SELECT a.source AS source_a, b.source AS source_b,
           |         a.est AS est_a, b.est AS est_b, LEAST(a.theta, b.theta) AS th
           |  FROM est a JOIN est b ON a.source < b.source),
           |common AS (
           |  SELECT p.source_a, p.source_b, count(*) AS c
           |  FROM pairs p
           |  JOIN sk x ON x.source = p.source_a
           |  JOIN sk y ON y.source = p.source_b AND y.h = x.h
           |  WHERE CAST(x.h AS DOUBLE) < p.th * 1152921504606846976.0
           |  GROUP BY 1, 2)
           |SELECT p.source_a, p.source_b, p.est_a, p.est_b,
           |       COALESCE(c.c, 0) / p.th AS est_common
           |FROM pairs p LEFT JOIN common c
           |  ON c.source_a = p.source_a AND c.source_b = p.source_b
           |ORDER BY p.source_a, p.source_b""".stripMargin,
    // Replays the FakeDecoder byte-histogram fold in SQL with explicit
    // float32 (REAL) casts at every step — bit-identical to the JVM's
    // float arithmetic — then quantize-millis + int64 norm. Verified
    // exact at sf0.01 and sf0.1.
    "media_roundtrip" ->
      raw"""WITH dims AS (
        |  SELECT doc_id, doc_id % 3 AS md,
        |         8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
        |  FROM documents WHERE doc_id % 3 <> 1),
        |ix AS (SELECT doc_id, md, w, h, unnest(range(0, w)) AS x FROM dims),
        |ixy AS (SELECT doc_id, md, w, h, x, unnest(range(0, h)) AS y FROM ix),
        |ipx AS (
        |  SELECT doc_id, md, w, h,
        |         sum(CASE WHEN md = 0 THEN (3*x + 5*y + doc_id) % 256
        |                  ELSE (5*x + 7*y + doc_id) % 256 END) AS sr,
        |         sum(CASE WHEN md = 0 THEN (3*x + 5*y + 2*doc_id) % 256
        |                  ELSE (5*x + 7*y + 3*doc_id) % 256 END) AS sg,
        |         sum(CASE WHEN md = 0 THEN (3*x + 5*y + 7*doc_id) % 256
        |                  ELSE (5*x + 7*y + 11*doc_id) % 256 END) AS sb
        |  FROM ixy GROUP BY 1, 2, 3, 4),
        |irow AS (
        |  SELECT doc_id, CASE WHEN md = 0 THEN 'image' ELSE 'png' END AS kind,
        |         CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
        |         CAST(sr AS BIGINT) AS f2, CAST(sg AS BIGINT) AS f3,
        |         CAST(sb AS BIGINT) AS f4, CAST(-1 AS BIGINT) AS f5
        |  FROM ipx),
        |aud AS (
        |  SELECT doc_id, doc_id % 7 + 2 AS k, 20 + doc_id % 10 AS m,
        |         (doc_id % 5 + 1) * 6000 AS a
        |  FROM documents WHERE doc_id % 3 = 1),
        |arow AS (
        |  SELECT doc_id, 'audio' AS kind,
        |         CAST(2*k*m AS BIGINT) AS f0, CAST(16000 AS BIGINT) AS f1,
        |         CAST((2*k*m*1000)//16000 AS BIGINT) AS f2,
        |         CAST(a AS BIGINT) AS f3, CAST(a*a AS BIGINT) AS f4,
        |         CAST(2*m - 1 AS BIGINT) AS f5
        |  FROM aud)
        |SELECT * FROM (SELECT * FROM irow UNION ALL SELECT * FROM arow)
        |ORDER BY doc_id""".stripMargin,
    "media_features" ->
      """WITH payload AS (
        |  SELECT doc_id AS media_id,
        |         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |         sha256(text) || sha256(text || '#2') AS hx
        |  FROM documents),
        |bytes AS (
        |  SELECT media_id, kind, j,
        |         CAST(('0x' || substr(hx, 2*j + 1, 2)) AS INT) AS b
        |  FROM payload, unnest(generate_series(0, 63)) AS g(j)),
        |feat AS (
        |  SELECT media_id, kind, CAST(j % 16 AS INT) AS dim,
        |         CAST(CAST(CAST(CAST(
        |             CAST(max(CASE WHEN j//16=0 THEN b END) AS REAL)/CAST(255 AS REAL)
        |           + CAST(max(CASE WHEN j//16=1 THEN b END) AS REAL)/CAST(255 AS REAL) AS REAL)
        |           + CAST(max(CASE WHEN j//16=2 THEN b END) AS REAL)/CAST(255 AS REAL) AS REAL)
        |           + CAST(max(CASE WHEN j//16=3 THEN b END) AS REAL)/CAST(255 AS REAL) AS REAL)
        |           / CAST(4 AS REAL) AS REAL) AS f
        |  FROM bytes GROUP BY media_id, kind, j % 16),
        |q AS (
        |  SELECT media_id, kind, round(CAST(f AS DOUBLE) * 1000) AS qv
        |  FROM feat)
        |SELECT media_id, kind,
        |       CAST(sum(CAST(qv AS BIGINT) * CAST(qv AS BIGINT)) AS BIGINT) AS feature_norm_q
        |FROM q GROUP BY media_id, kind ORDER BY media_id""".stripMargin,
    "strip_boilerplate" ->
      raw"""WITH aug AS (
        |  SELECT doc_id, source,
        |         'COOKIE NOTICE - accept to continue' || chr(10) || text ||
        |         chr(10) || '(c) site ' || source AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, source, generate_subscripts(ls, 1) - 1 AS pos,
        |         unnest(ls) AS line
        |  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
        |        FROM aug)),
        |lk AS (SELECT doc_id, source, pos, line, trim(line) AS k FROM l),
        |freq AS (
        |  SELECT source, k, count(DISTINCT doc_id) AS nd
        |  FROM lk WHERE length(k) > 0 GROUP BY 1, 2),
        |dd AS (SELECT source, count(DISTINCT doc_id) AS dd FROM aug GROUP BY 1),
        |boiler AS (
        |  SELECT f.source, f.k FROM freq f JOIN dd USING (source)
        |  WHERE f.nd >= 3 AND f.nd * 10000 >= dd.dd * 5000),
        |kept AS (
        |  SELECT lk.* FROM lk LEFT JOIN boiler b
        |    ON lk.source = b.source AND lk.k = b.k
        |  WHERE b.k IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS lines_kept,
        |         string_agg(line, chr(10) ORDER BY pos) AS new_text
        |  FROM kept GROUP BY 1)
        |SELECT a.doc_id,
        |       CAST(len(string_split(a.text, chr(10))) AS BIGINT) AS lines_total,
        |       COALESCE(r.lines_kept, 0) AS lines_kept,
        |       CAST(length(COALESCE(r.new_text, '')) AS BIGINT) AS new_len,
        |       sha256(COALESCE(r.new_text, '')) AS new_sha
        |FROM aug a LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    "dedup_lines" ->
      raw"""WITH multi AS (
        |  SELECT d.doc_id, d.source,
        |         d.text || chr(10) || s1.text || chr(10) || s2.text AS text
        |  FROM documents d
        |  JOIN documents s1
        |    ON d.doc_id = (s1.doc_id - 1 + (SELECT count(*) FROM documents))
        |                  % (SELECT count(*) FROM documents)
        |  JOIN documents s2
        |    ON d.doc_id = (s2.doc_id - 2 + (SELECT count(*) FROM documents))
        |                  % (SELECT count(*) FROM documents)),
        |l AS (
        |  SELECT doc_id, generate_subscripts(ls, 1) - 1 AS pos,
        |         unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM multi)),
        |k AS (
        |  SELECT doc_id, pos, line,
        |         row_number() OVER (PARTITION BY line
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM l),
        |kept AS (
        |  SELECT doc_id, pos, line FROM k
        |  WHERE rn = 1 OR length(line) < 10),
        |rebuilt AS (
        |  SELECT doc_id,
        |         string_agg(line, chr(10) ORDER BY pos) AS new_text,
        |         CAST(count(*) AS BIGINT) AS lines_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |       CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS lines_total,
        |       r.lines_kept,
        |       CAST(length(r.new_text) AS BIGINT) AS new_len,
        |       sha256(r.new_text) AS new_sha
        |FROM rebuilt r JOIN multi d ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_exact" ->
      raw"""WITH norm AS (
           |  SELECT doc_id,
           |         sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash
           |  FROM documents)
           |SELECT content_hash, min(doc_id) AS keep_id, count(*) AS group_size
           |FROM norm GROUP BY content_hash ORDER BY content_hash""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $toksCte, $shCte, $sizesCte,
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter_size
         |  FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b, inter_size, sa.sz AS a_size, sb.sz AS b_size
         |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |WHERE 2 * inter_size >= 1 * (sa.sz + sb.sz - inter_size)
         |ORDER BY a, b""".stripMargin,

    "dedup_incremental" -> incDedupOracle,

    "dedup_minhash_lsh" ->
      s"""WITH $minhashCtes
         |SELECT c.a, c.b, c.bands_hit, i.inter_size, sa.sz AS a_size, sb.sz AS b_size
         |FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
         |  JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
         |WHERE 10 * i.inter_size >= 3 * (sa.sz + sb.sz - i.inter_size)
         |ORDER BY c.a, c.b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (
         |  SELECT c.a, c.b
         |  FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
         |    JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
         |  WHERE 10 * i.inter_size >= 3 * (sa.sz + sb.sz - i.inter_size)),
         |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" ->
      raw"""WITH RECURSIVE $minhashCtes,
           |pairs AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
           |    JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
           |  WHERE 10 * i.inter_size >= 3 * (sa.sz + sb.sz - i.inter_size)),
           |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
           |edges AS (SELECT a AS src, b AS dst FROM pairs
           |          UNION SELECT b, a FROM pairs),
           |reach AS (
           |  SELECT id, id AS r FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
           |scored AS (
           |  SELECT c.cluster_id, c.doc_id,
           |         CAST(len(string_split(regexp_replace(trim(d.text), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS token_cnt
           |  FROM clusters c JOIN documents d USING (doc_id)),
           |ranked AS (
           |  SELECT *,
           |         row_number() OVER (PARTITION BY cluster_id
           |                            ORDER BY token_cnt DESC, doc_id) AS rn,
           |         count(*) OVER (PARTITION BY cluster_id) AS n_members
           |  FROM scored)
           |SELECT cluster_id, doc_id AS kept_doc, token_cnt AS kept_tokens,
           |       CAST(n_members AS BIGINT) AS n_members
           |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "asof_last_error" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |         event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |errs AS (SELECT user_id, ts_us, vc FROM e WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, e.ts_us,
        |       coalesce(r.ts_us, -1) AS err_ts_us,
        |       coalesce(r.vc, -1) AS err_value_cents
        |FROM e ASOF LEFT JOIN errs r
        |  ON e.user_id = r.user_id AND e.ts_us >= r.ts_us
        |ORDER BY e.event_id""".stripMargin,

    "sessionize_events" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |brk AS (
         |  SELECT user_id, event_id, ts_us,
         |         CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 7200000000
         |              THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
         |                                   ORDER BY ts_us, event_id) AS prev_ts
         |        FROM e)),
         |numbered AS (
         |  SELECT user_id, ts_us,
         |         CAST(sum(brk) OVER (PARTITION BY user_id
         |                             ORDER BY ts_us, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
         |  FROM brk)
         |SELECT user_id, session_no,
         |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
         |       count(*) AS n_events
         |FROM numbered GROUP BY user_id, session_no
         |ORDER BY user_id, session_no""".stripMargin,

    "doc_repetition" ->
      raw"""WITH $toksCte,
           |grams AS (
           |  SELECT doc_id, array_to_string(tk[i:i+${NGRAM - 1}], ' ') AS g
           |  FROM toks, unnest(generate_series(1, len(tk) - ${NGRAM - 1})) AS u(i)
           |  WHERE len(tk) >= $NGRAM),
           |per_gram AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
           |per_doc AS (
           |  SELECT doc_id, sum(c) AS total_ngrams, count(*) AS distinct_ngrams,
           |         max(c) AS max_ngram_freq
           |  FROM per_gram GROUP BY doc_id)
           |SELECT d.doc_id,
           |       CAST(coalesce(p.total_ngrams, 0) AS BIGINT) AS total_ngrams,
           |       CAST(coalesce(p.distinct_ngrams, 0) AS BIGINT) AS distinct_ngrams,
           |       CAST(coalesce(p.max_ngram_freq, 0) AS BIGINT) AS max_ngram_freq
           |FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,

    "source_stats_rollup" ->
      raw"""WITH $toksCte
           |SELECT coalesce(d.source, '<all>') AS source,
           |       coalesce(d.lang, '<all>') AS lang,
           |       count(*) AS n_docs,
           |       CAST(sum(len(tk)) AS BIGINT) AS total_tokens
           |FROM documents d JOIN toks ON toks.doc_id = d.doc_id
           |GROUP BY ROLLUP(d.source, d.lang)
           |ORDER BY source, lang""".stripMargin,

    "source_stats" ->
      raw"""WITH $toksCte
           |SELECT d.source, d.lang,
           |       count(*) AS n_docs,
           |       CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
           |       CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           |       CAST(min(len(tk)) AS BIGINT) AS min_tokens,
           |       CAST(max(len(tk)) AS BIGINT) AS max_tokens
           |FROM documents d JOIN toks ON toks.doc_id = d.doc_id
           |GROUP BY d.source, d.lang
           |ORDER BY d.source, d.lang""".stripMargin,

    "top_terms" ->
      s"""WITH $toksCte,
         |tf AS (
         |  SELECT doc_id, t AS term, count(*) AS tf
         |  FROM toks, unnest(tk) AS u(t) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |         row_number() OVER (PARTITION BY tf.doc_id
         |                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, rank, term, tf, df FROM ranked
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "dedup_simhash" -> {
      val bitSums = (0 until 32)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n         ")
      val sigExpr = (0 until 32)
        .map(b => s"(CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $toksCte,
         |th AS (
         |  SELECT doc_id, CAST('0x' || substr(sha256(t), 1, 15) AS BIGINT) AS h
         |  FROM toks, unnest(tk) AS u(t)),
         |bitsums AS (
         |  SELECT doc_id,
         |         $bitSums
         |  FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, $sigExpr AS simhash FROM bitsums),
         |chunks AS (
         |  SELECT doc_id, simhash, c AS chunk_no, (simhash >> (c * 8)) & 255 AS chunk
         |  FROM sig, unnest(generate_series(0, 3)) AS g(c)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |         x.simhash AS sig_a, y.simhash AS sig_b
         |  FROM chunks x JOIN chunks y
         |    ON x.chunk_no = y.chunk_no AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
         |SELECT a, b, sig_a, sig_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
         |ORDER BY a, b""".stripMargin
    },

    "dedup_embedding" ->
      s"""WITH ${qCte()}
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |       ${dot("x.qv", "y.qv")} AS dot,
         |       ${dot("x.qv", "x.qv")} AS na,
         |       ${dot("y.qv", "y.qv")} AS nb
         |FROM q x JOIN q y ON x.vec_id < y.vec_id
         |WHERE ${dot("x.qv", "y.qv")} >= 0
         |  AND ${dot("x.qv", "y.qv")} * ${dot("x.qv", "y.qv")} * 25
         |      >= 4 * ${dot("x.qv", "x.qv")} * ${dot("y.qv", "y.qv")}
         |ORDER BY a, b""".stripMargin,

    // Replays blockedSimilarPairs end-to-end: 4 tables × 8 planes of
    // the deterministic integer hyperplane family, per-table sign
    // buckets with the hot-bucket cap, DISTINCT pairs from the bucket
    // equi-join, exact integer cosine verify.
    "dedup_embedding_blocked" ->
      s"""WITH ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |planes AS (
         |  SELECT p, list(((2654435761 * d * (p+1) + 40503 * (p+1)) % 2001) - 1000 ORDER BY d) AS pv
         |  FROM generate_series(0, 31) AS gp(p), dims
         |  GROUP BY p),
         |vb AS (
         |  SELECT v.vec_id, p.p // 8 AS t,
         |         sum(CASE WHEN ${dot("v.qv", "p.pv")} >= 0
         |                  THEN (CAST(1 AS BIGINT) << (p.p % 8)) ELSE 0 END) AS b
         |  FROM q v, planes p GROUP BY v.vec_id, p.p // 8),
         |vbc AS (
         |  SELECT *, count(*) OVER (PARTITION BY t, b) AS bsz FROM vb),
         |pairs AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM vbc x JOIN vbc y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
         |  WHERE x.bsz <= 1000 AND y.bsz <= 1000),
         |scored AS (
         |  SELECT pr.a, pr.b,
         |         ${dot("xa.qv", "yb.qv")} AS dot,
         |         ${dot("xa.qv", "xa.qv")} AS na,
         |         ${dot("yb.qv", "yb.qv")} AS nb
         |  FROM pairs pr JOIN q xa ON xa.vec_id = pr.a
         |                JOIN q yb ON yb.vec_id = pr.b)
         |SELECT a, b, dot, na, nb FROM scored
         |WHERE dot >= 0 AND dot * dot * 25 >= 4 * na * nb
         |ORDER BY a, b""".stripMargin,

    // dedup_embedding_blocked's pair chain + dedup_clusters' recursive
    // reach, composed: the whole semantic-dedup pipeline replayed.
    "semantic_dedup" ->
      s"""WITH RECURSIVE ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |planes AS (
         |  SELECT p, list(((2654435761 * d * (p+1) + 40503 * (p+1)) % 2001) - 1000 ORDER BY d) AS pv
         |  FROM generate_series(0, 31) AS gp(p), dims
         |  GROUP BY p),
         |vb AS (
         |  SELECT v.vec_id, p.p // 8 AS t,
         |         sum(CASE WHEN ${dot("v.qv", "p.pv")} >= 0
         |                  THEN (CAST(1 AS BIGINT) << (p.p % 8)) ELSE 0 END) AS b
         |  FROM q v, planes p GROUP BY v.vec_id, p.p // 8),
         |vbc AS (
         |  SELECT *, count(*) OVER (PARTITION BY t, b) AS bsz FROM vb),
         |cpairs AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM vbc x JOIN vbc y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
         |  WHERE x.bsz <= 1000 AND y.bsz <= 1000),
         |scored AS (
         |  SELECT pr.a, pr.b,
         |         ${dot("xa.qv", "yb.qv")} AS dot,
         |         ${dot("xa.qv", "xa.qv")} AS na,
         |         ${dot("yb.qv", "yb.qv")} AS nb
         |  FROM cpairs pr JOIN q xa ON xa.vec_id = pr.a
         |                 JOIN q yb ON yb.vec_id = pr.b),
         |pairs AS (
         |  SELECT a, b FROM scored
         |  WHERE dot >= 0 AND dot * dot * 25 >= 4 * na * nb),
         |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT v.vec_id,
         |       coalesce(c.cluster_id, v.vec_id) AS cluster_id,
         |       CAST(CASE WHEN coalesce(c.cluster_id, v.vec_id) = v.vec_id
         |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM embeddings v LEFT JOIN comp c ON c.id = v.vec_id
         |ORDER BY vec_id""".stripMargin,

    // SemDeDup: the k-means replay (cluster_embeddings' CTE chain)
    // joined INTO the sign-LSH bucket identity — the cap window and
    // the pair join are both scoped per k-means cluster, so a
    // cross-cluster pair cannot appear even as a candidate — then the
    // exact integer cosine gate and the recursive min-label closure
    "semantic_dedup_clustered" ->
      s"""WITH RECURSIVE ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)),
         |${ivfLloydIterSql(1)},
         |${ivfLloydIterSql(2)},
         |${ivfLloydIterSql(3)},
         |xf AS (
         |  SELECT v.vec_id, c.cid,
         |         -(CAST(${dot("v.qv", "c.cvec")} AS DOUBLE)) / sqrt(CAST(${dot("c.cvec", "c.cvec")} AS DOUBLE)) AS neg_sim
         |  FROM q v, c3 c),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn
         |    FROM xf)
         |  WHERE rn = 1),
         |planes AS (
         |  SELECT p, list(((2654435761 * d * (p+1) + 40503 * (p+1)) % 2001) - 1000 ORDER BY d) AS pv
         |  FROM generate_series(0, 31) AS gp(p), dims
         |  GROUP BY p),
         |vb AS (
         |  SELECT v.vec_id, a.cid AS kc, p.p // 8 AS t,
         |         sum(CASE WHEN ${dot("v.qv", "p.pv")} >= 0
         |                  THEN (CAST(1 AS BIGINT) << (p.p % 8)) ELSE 0 END) AS b
         |  FROM q v JOIN asg a USING (vec_id), planes p
         |  GROUP BY v.vec_id, a.cid, p.p // 8),
         |vbc AS (
         |  SELECT *, count(*) OVER (PARTITION BY kc, t, b) AS bsz FROM vb),
         |cpairs AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM vbc x JOIN vbc y ON x.kc = y.kc AND x.t = y.t AND x.b = y.b
         |    AND x.vec_id < y.vec_id
         |  WHERE x.bsz <= 1000 AND y.bsz <= 1000),
         |scored AS (
         |  SELECT pr.a, pr.b,
         |         ${dot("xa.qv", "yb.qv")} AS dot,
         |         ${dot("xa.qv", "xa.qv")} AS na,
         |         ${dot("yb.qv", "yb.qv")} AS nb
         |  FROM cpairs pr JOIN q xa ON xa.vec_id = pr.a
         |                 JOIN q yb ON yb.vec_id = pr.b),
         |pairs AS (
         |  SELECT a, b FROM scored
         |  WHERE dot >= 0 AND dot * dot * 25 >= 4 * na * nb),
         |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT a.vec_id,
         |       CAST(a.cid AS BIGINT) AS kcluster,
         |       coalesce(c.cluster_id, a.vec_id) AS cluster_id,
         |       CAST(CASE WHEN coalesce(c.cluster_id, a.vec_id) = a.vec_id
         |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM asg a LEFT JOIN comp c ON c.id = a.vec_id
         |ORDER BY vec_id""".stripMargin,

    // The incremental SemDeDup arc: ONE k-means train on the bootstrap
    // corpus (vec_id % 3 = 0), then two batches assigned against the
    // FIXED centroids, near-deduped only within (cluster ∩ bucket)
    // against index-so-far ∪ batch, batch 1's kept admitted before
    // batch 2 — the semIncDecisions chain once per batch, with
    // explicit index-membership CTEs (idx0, idx1)
    "semantic_dedup_incremental" ->
      s"""WITH RECURSIVE qall AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id, qv FROM qall WHERE vec_id % 3 = 0),
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)),
         |${ivfLloydIterSql(1)},
         |${ivfLloydIterSql(2)},
         |${ivfLloydIterSql(3)},
         |xf AS (
         |  SELECT v.vec_id, c.cid,
         |         -(CAST(${dot("v.qv", "c.cvec")} AS DOUBLE)) / sqrt(CAST(${dot("c.cvec", "c.cvec")} AS DOUBLE)) AS neg_sim
         |  FROM qall v, c3 c),
         |asg AS MATERIALIZED (
         |  SELECT vec_id, cid AS kc FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn
         |    FROM xf)
         |  WHERE rn = 1),
         |planes AS (
         |  SELECT p, list(((2654435761 * d * (p+1) + 40503 * (p+1)) % 2001) - 1000 ORDER BY d) AS pv
         |  FROM generate_series(0, 31) AS gp(p), dims
         |  GROUP BY p),
         |vb AS MATERIALIZED (
         |  SELECT v.vec_id, a.kc, p.p // 8 AS t,
         |         sum(CASE WHEN ${dot("v.qv", "p.pv")} >= 0
         |                  THEN (CAST(1 AS BIGINT) << (p.p % 8)) ELSE 0 END) AS b
         |  FROM qall v JOIN asg a USING (vec_id), planes p
         |  GROUP BY v.vec_id, a.kc, p.p // 8),
         |idx0 AS MATERIALIZED (SELECT vec_id FROM qall WHERE vec_id % 3 = 0),
         |${semIncDecisions("b1", 1, "idx0")},
         |idx1 AS MATERIALIZED (
         |  SELECT vec_id FROM idx0
         |  UNION ALL
         |  SELECT vec_id FROM dec_b1 WHERE status = 'kept'),
         |${semIncDecisions("b2", 2, "idx1")}
         |SELECT vec_id, CAST(1 AS BIGINT) AS batch, CAST(kc AS BIGINT) AS kcluster,
         |       status, CAST(status = 'kept' AS BIGINT) AS kept
         |FROM dec_b1
         |UNION ALL
         |SELECT vec_id, CAST(2 AS BIGINT), CAST(kc AS BIGINT), status,
         |       CAST(status = 'kept' AS BIGINT)
         |FROM dec_b2
         |ORDER BY vec_id""".stripMargin,

    // Replays AnnLsh.topK end-to-end: the integer hyperplane family,
    // per-table sign buckets, multiprobe (Hamming-1) probe set,
    // DISTINCT candidates (TopKAgg collapses exact dups), exact integer
    // scoring and the double-sim ranking. Deterministic throughout, so
    // the "approximate" operator hash-matches.
    "ann_lsh_topk" ->
      s"""WITH ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |planes AS (
         |  SELECT p, list(((2654435761 * d * (p+1) + 40503 * (p+1)) % 2001) - 1000 ORDER BY d) AS pv
         |  FROM generate_series(0, 35) AS gp(p), dims
         |  GROUP BY p),
         |vb AS (
         |  SELECT v.vec_id, p.p // 6 AS t,
         |         sum(CASE WHEN ${dot("v.qv", "p.pv")} >= 0
         |                  THEN (CAST(1 AS BIGINT) << (p.p % 6)) ELSE 0 END) AS b
         |  FROM q v, planes p GROUP BY v.vec_id, p.p // 6),
         |probes AS (
         |  SELECT vec_id AS q_id, t, b FROM vb WHERE vec_id < 10
         |  UNION ALL
         |  SELECT vec_id, t, xor(b, CAST(1 AS BIGINT) << j)
         |  FROM vb, generate_series(0, 5) AS gj(j) WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT p.q_id, c.vec_id AS nn_id
         |  FROM probes p JOIN vb c ON c.t = p.t AND c.b = p.b
         |  WHERE c.vec_id <> p.q_id),
         |scored AS (
         |  SELECT cand.q_id, cand.nn_id,
         |         ${dot("qq.qv", "cc.qv")} AS dot,
         |         ${dot("qq.qv", "qq.qv")} AS na,
         |         ${dot("cc.qv", "cc.qv")} AS nb
         |  FROM cand JOIN q qq ON qq.vec_id = cand.q_id
         |            JOIN q cc ON cc.vec_id = cand.nn_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) DESC, nn_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, rank, nn_id, dot, na, nb FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH ${qCte()},
         |scored AS (
         |  SELECT qs.vec_id AS q_id, c.vec_id AS nn_id,
         |         ${dot("qs.qv", "c.qv")} AS dot,
         |         ${dot("qs.qv", "qs.qv")} AS na,
         |         ${dot("c.qv", "c.qv")} AS nb
         |  FROM q qs JOIN q c ON qs.vec_id < 10 AND c.vec_id <> qs.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY q_id
         |    ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) DESC,
         |             nn_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, rank, nn_id, dot, na, nb FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "windowed_event_counts" ->
      """SELECT date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)) AS window_start,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "resample_events" ->
      """WITH agg AS (
        |  SELECT event_type,
        |         date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)) AS bucket,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        |  FROM agg GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM spans)
        |SELECT g.event_type, g.bucket,
        |       COALESCE(a.n_events, 0) AS n_events,
        |       a.sum_value,
        |       last_value(a.sum_value IGNORE NULLS) OVER (
        |         PARTITION BY g.event_type ORDER BY g.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid g LEFT JOIN agg a USING (event_type, bucket)
        |ORDER BY 1, 2""".stripMargin,

    "cluster_embeddings" ->
      s"""WITH ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)),
         |${ivfLloydIterSql(1)},
         |${ivfLloydIterSql(2)},
         |${ivfLloydIterSql(3)},
         |xf AS (
         |  SELECT v.vec_id, c.cid,
         |         -(CAST(${dot("v.qv", "c.cvec")} AS DOUBLE)) / sqrt(CAST(${dot("c.cvec", "c.cvec")} AS DOUBLE)) AS neg_sim
         |  FROM q v, c3 c)
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn
         |  FROM xf)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "semantic_decontaminate" ->
      s"""WITH ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |planes AS (
         |  SELECT p, list(((2654435761 * d * (p+1) + 40503 * (p+1)) % 2001) - 1000 ORDER BY d) AS pv
         |  FROM generate_series(0, 31) AS gp(p), dims
         |  GROUP BY p),
         |vb AS (
         |  SELECT v.vec_id, p.p // 8 AS t,
         |         sum(CASE WHEN ${dot("v.qv", "p.pv")} >= 0
         |                  THEN (CAST(1 AS BIGINT) << (p.p % 8)) ELSE 0 END) AS b
         |  FROM q v, planes p GROUP BY v.vec_id, p.p // 8),
         |vbc AS (
         |  SELECT *, count(*) OVER (PARTITION BY t, b) AS bsz FROM vb),
         |flagged AS (
         |  SELECT DISTINCT x.vec_id AS tid
         |  FROM vbc x JOIN vbc y ON x.t = y.t AND x.b = y.b
         |  JOIN q qa ON qa.vec_id = x.vec_id
         |  JOIN q qb ON qb.vec_id = y.vec_id
         |  WHERE x.vec_id >= 20 AND y.vec_id < 20
         |    AND x.bsz <= 1000 AND y.bsz <= 1000
         |    AND ${dot("qa.qv", "qb.qv")} >= 0
         |    AND ${dot("qa.qv", "qb.qv")} * ${dot("qa.qv", "qb.qv")} * 10000 >=
         |        1225 * ${dot("qa.qv", "qa.qv")} * ${dot("qb.qv", "qb.qv")})
         |SELECT vec_id FROM embeddings
         |WHERE vec_id >= 20 AND vec_id NOT IN (SELECT tid FROM flagged)
         |ORDER BY vec_id""".stripMargin,

    "balance_clusters" ->
      s"""WITH ${qCte()},
         |dims AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS d
         |  FROM (SELECT embedding FROM embeddings LIMIT 1)),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
         |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 8)),
         |${ivfLloydIterSql(1)},
         |${ivfLloydIterSql(2)},
         |${ivfLloydIterSql(3)},
         |xf AS (
         |  SELECT v.vec_id, c.cid,
         |         -(CAST(${dot("v.qv", "c.cvec")} AS DOUBLE)) / sqrt(CAST(${dot("c.cvec", "c.cvec")} AS DOUBLE)) AS neg_sim
         |  FROM q v, c3 c),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY neg_sim ASC, cid ASC) AS rn
         |    FROM xf)
         |  WHERE rn = 1),
         |cap AS (
         |  SELECT min(n) AS cap FROM (SELECT count(*) AS n FROM asg GROUP BY cid)),
         |rk AS (
         |  SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY cid
         |    ORDER BY CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
         |             vec_id) AS rk
         |  FROM asg)
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id
         |FROM rk, cap WHERE rk <= cap ORDER BY vec_id""".stripMargin,

    "heavy_hitters_by_source" ->
      raw"""WITH toks AS (
           |  SELECT source, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS tk
           |  FROM documents),
           |big AS (
           |  SELECT source, tk[i] || ' ' || tk[i+1] AS token
           |  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)),
           |tot AS (SELECT source, count(*) AS n FROM big GROUP BY source)
           |SELECT b.source, b.token, count(*) AS cnt
           |FROM big b JOIN tot USING (source)
           |GROUP BY b.source, b.token, tot.n
           |HAVING count(*) * $HhSourceSupportDenom >= tot.n
           |ORDER BY source, cnt DESC, token""".stripMargin,

    "resample_interpolate" ->
      """WITH agg AS (
        |  SELECT event_type,
        |         date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)) AS bucket,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        |  FROM agg GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM spans),
        |g AS (
        |  SELECT g.event_type, g.bucket,
        |         COALESCE(a.n_events, 0) AS n_events, a.sum_value
        |  FROM grid g LEFT JOIN agg a USING (event_type, bucket)),
        |w AS (
        |  SELECT *,
        |    last_value(sum_value IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN sum_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |    first_value(sum_value IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN sum_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM g)
        |SELECT event_type, bucket, n_events, sum_value,
        |       CASE WHEN sum_value IS NOT NULL THEN sum_value
        |            WHEN pv IS NULL OR nv IS NULL THEN COALESCE(pv, nv)
        |            ELSE pv + (nv - pv) *
        |                 (CAST(date_diff('hour', pb, bucket) AS DOUBLE) /
        |                  CAST(date_diff('hour', pb, nb) AS DOUBLE))
        |       END AS interp_value
        |FROM w ORDER BY 1, 2""".stripMargin,

    "heavy_hitters" ->
      s"""WITH $toksCte,
         |big AS (
         |  SELECT tk[i] || ' ' || tk[i+1] AS token
         |  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i))
         |SELECT token, count(*) AS cnt
         |FROM big GROUP BY token
         |HAVING count(*) * $HhSupportDenom >= (SELECT count(*) FROM big)
         |ORDER BY cnt DESC, token""".stripMargin,

    "chunk_docs" ->
      raw"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
         |                     x -> length(x) > 0) AS tk
         |  FROM documents),
         |nz AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
         |st AS (
         |  SELECT doc_id, tk, n, g.i AS start, g.i // 24 AS chunk_id
         |  FROM nz, unnest(range(0, CAST(n AS BIGINT), 24)) AS g(i)),
         |c AS (
         |  SELECT doc_id, chunk_id,
         |         array_to_string(list_slice(tk, start + 1, LEAST(start + 32, n)), ' ') AS ctext,
         |         LEAST(32, n - start) AS ct
         |  FROM st)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |       CAST(ct AS BIGINT) AS chunk_tokens,
         |       CAST(length(ctext) AS BIGINT) AS chunk_len,
         |       sha256(ctext) AS chunk_sha
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "truncate_docs" ->
      raw"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
         |                     x -> length(x) > 0) AS tk
         |  FROM documents),
         |c AS (SELECT doc_id, tk,
         |             array_to_string(list_slice(tk, 1, 64), ' ') AS nt
         |      FROM t)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |       CAST(LEAST(len(tk), 64) AS BIGINT) AS kept_tokens,
         |       CAST(length(nt) AS BIGINT) AS trunc_len,
         |       sha256(nt) AS trunc_sha
         |FROM c ORDER BY doc_id""".stripMargin,
    "repeated_spans" ->
      raw"""WITH $toksCte,
         |w AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(sha256(array_to_string(tk[i:i+15], ' ')), 1, 15) AS BIGINT) AS span_h
         |  FROM toks, unnest(generate_series(1, len(tk) - 15)) AS g(i)),
         |gg AS (
         |  SELECT span_h, count(DISTINCT doc_id) AS nd, count(*) AS no,
         |         min(doc_id) AS first_doc
         |  FROM w GROUP BY 1)
         |SELECT span_h, CAST(nd AS BIGINT) AS n_docs,
         |       CAST(no AS BIGINT) AS n_occ, first_doc
         |FROM gg WHERE nd >= 2 ORDER BY n_occ DESC, span_h LIMIT 100""".stripMargin,
    // The covered-position formulation is the oracle's equivalent of
    // the Spark side's interval merge: the union of merged
    // overlap/adjacent intervals IS the set of covered positions, and
    // contiguity islands over that set are exactly the merged cuts.
    "remove_repeated_spans" ->
      raw"""WITH $toksCte,
         |w AS (
         |  SELECT doc_id, i - 1 AS pos,
         |         CAST('0x' || substr(sha256(array_to_string(tk[i:i+15], ' ')), 1, 15) AS BIGINT) AS h
         |  FROM toks, unnest(generate_series(1, len(tk) - 15)) AS g(i)),
         |dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |hit AS (SELECT doc_id, pos FROM w JOIN dup USING (h)),
         |cov AS (SELECT DISTINCT doc_id, pos + k AS j
         |        FROM hit, unnest(range(0, 16)) AS r(k)),
         |isl AS (SELECT doc_id, j,
         |               j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
         |        FROM cov),
         |hs AS (SELECT doc_id, count(*) AS n_hits FROM hit GROUP BY doc_id),
         |cs AS (SELECT doc_id, count(*) AS cut_tokens,
         |              count(DISTINCT grp) AS n_cuts
         |       FROM isl GROUP BY doc_id),
         |tok AS (SELECT doc_id, j - 1 AS idx, tk[j] AS t
         |        FROM toks, unnest(generate_series(1, len(tk))) AS g(j)),
         |kept AS (SELECT t.doc_id, t.idx, t.t
         |         FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.j = t.idx
         |         WHERE c.j IS NULL),
         |ktxt AS (SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS txt
         |         FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(len(d.tk) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(hs.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(cs.n_cuts, 0) AS BIGINT) AS n_cuts,
         |       CAST(coalesce(cs.cut_tokens, 0) AS BIGINT) AS cut_tokens,
         |       CAST(len(d.tk) - coalesce(cs.cut_tokens, 0) AS BIGINT) AS kept_tokens,
         |       sha256(coalesce(k.txt, '')) AS cleaned_sha
         |FROM toks d
         |LEFT JOIN hs USING (doc_id)
         |LEFT JOIN cs USING (doc_id)
         |LEFT JOIN ktxt k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // [[imageDhashCtes]] carries the whole closed-form image replay;
    // the final select is just the exact-Hamming re-check
    "image_dedup_dhash" ->
      raw"""WITH $imageDhashCtes
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // [[jpegDhashCtes]] replays the LOSSY jpeg round trip in closed
    // form (DC quantization of constant blocks); same exact-Hamming
    // re-check tail as image_dedup_dhash
    "image_dedup_jpeg" ->
      raw"""WITH $jpegDhashCtes
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // The SOF2 twin: progressive encoding reaches the same quantized
    // values on the gray corpus, so decoded pixels — and this SQL —
    // are identical; the hash match proves the multi-scan
    // coefficient-accumulation decode path
    "image_dedup_jpeg_progressive" ->
      raw"""WITH $jpegDhashCtes
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // Full-pixel-field replay: per-cell decoded value × cell area,
    // summed — covers every pixel including the cropped MCU padding
    // (the dHash oracles only touch cell corners). r = g = b by the
    // gray construction, so one sum serves all three channels.
    "media_roundtrip_jpeg" ->
      raw"""WITH ids AS (
         |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
         |  FROM documents),
         |dims AS (
         |  SELECT id, g, v, 8 * (1 + g % 3) AS cw, 8 * (1 + g % 2) AS ch
         |  FROM ids),
         |cell AS (
         |  SELECT id, v, cw, ch, cy, cx,
         |         ((cx*(7 + g % 5) + cy*(13 + g % 11) + g*31) % 17) * 15 AS base
         |  FROM dims, unnest(range(0, 8)) AS r1(cy),
         |       unnest(range(0, 9)) AS r2(cx)),
         |pert AS (
         |  SELECT id, cw, ch, cy, cx,
         |         CASE WHEN cx = 8 AND cy < v
         |              THEN (base + 40 * (cy + 1)) % 256
         |              ELSE base END AS p
         |  FROM cell),
         |sums AS (
         |  SELECT id, CAST(sum(least(255, 2 * ((p + 1) // 2)) * cw * ch)
         |               AS BIGINT) AS s
         |  FROM pert GROUP BY id)
         |SELECT d.id AS doc_id,
         |       CAST(9 * d.cw AS BIGINT) AS w,
         |       CAST(8 * d.ch AS BIGINT) AS h,
         |       s.s AS sum_r, s.s AS sum_g, s.s AS sum_b
         |FROM dims d JOIN sums s ON s.id = d.id
         |ORDER BY doc_id""".stripMargin,
    // Double-lossy replay: dec(p) is even and dec is idempotent on
    // evens, so decode→half-resample→re-encode→decode lands every
    // (now 8×8) cell exactly on dec(p) — one dec() per cell × 64 px
    "media_resize_jpeg" ->
      raw"""WITH ids AS (
         |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
         |  FROM documents),
         |cell AS (
         |  SELECT id, v, cy, cx,
         |         ((cx*(7 + g % 5) + cy*(13 + g % 11) + g*31) % 17) * 15 AS base
         |  FROM ids, unnest(range(0, 8)) AS r1(cy),
         |       unnest(range(0, 9)) AS r2(cx)),
         |pert AS (
         |  SELECT id, cy, cx,
         |         CASE WHEN cx = 8 AND cy < v
         |              THEN (base + 40 * (cy + 1)) % 256
         |              ELSE base END AS p
         |  FROM cell),
         |sums AS (
         |  SELECT id, CAST(sum(least(255, 2 * ((p + 1) // 2)) * 64)
         |               AS BIGINT) AS s
         |  FROM pert GROUP BY id)
         |SELECT id AS doc_id,
         |       CAST(72 AS BIGINT) AS w, CAST(64 AS BIGINT) AS h,
         |       s AS sum_r, s AS sum_g, s AS sum_b
         |FROM sums ORDER BY doc_id""".stripMargin,
    // The cluster-assignment consumer: near-dup pairs close into
    // connected components (recursive reachability, min-id label —
    // the dedup_clusters construction on the image pair graph) and
    // the min-id member is the kept canonical
    "image_dedup_clusters" ->
      raw"""WITH RECURSIVE $imageDhashCtes,
         |pairs AS (
         |  SELECT id_a AS a, id_b AS b FROM cand
         |  WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 3),
         |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id,
         |       CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // Closed-form replay of the 256-bit pipeline on the 17x16 cell
    // grid ([[image256LimbCtes]]): candidates block on limb equality,
    // and the exact Hamming re-joins the limb rows — the same
    // relational verify shape as the Spark side
    "image_dedup_dhash256" ->
      raw"""WITH $image256LimbCtes,
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM limb a JOIN limb b
         |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id),
         |ham AS (
         |  SELECT c.id_a, c.id_b, sum(bit_count(xor(la.bv, lb.bv))) AS h
         |  FROM cand c JOIN limb la ON la.id = c.id_a
         |       JOIN limb lb ON lb.id = c.id_b AND lb.band = la.band
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(h AS BIGINT) AS hamming
         |FROM ham WHERE h <= 9 ORDER BY id_a, id_b""".stripMargin,
    // Full replay of the 256-bit two-batch incremental arc over the
    // closed-form limb fingerprints at threshold 9 — the limb-carried
    // index rows, relational verification, pruning and admit
    // watermarking on the Spark side are proven by the MATCH
    "media_dedup_incremental256" -> {
      val p = incSlicePredSql _
      raw"""WITH RECURSIVE $image256LimbCtes,
         |idx_c0 AS (SELECT id FROM ids WHERE ${p(0)("id")}),
         |${fpInc256Ctes("b1", "idx_c0", p(1))},
         |idx_c1 AS (SELECT id FROM idx_c0
         |           UNION ALL
         |           SELECT doc_id FROM dec_b1 WHERE status = 'kept'),
         |${fpInc256Ctes("b2", "idx_c1", p(2))}
         |SELECT doc_id, CAST(1 AS BIGINT) AS batch, status,
         |       CAST(status = 'kept' AS BIGINT) AS kept
         |FROM dec_b1
         |UNION ALL
         |SELECT doc_id, CAST(2 AS BIGINT), status, CAST(status = 'kept' AS BIGINT)
         |FROM dec_b2
         |ORDER BY doc_id""".stripMargin
    },
    // Brute-force rank over the 256-bit limbs: the limb-banded probe
    // path must lose no neighbor within the radius. Shared verbatim
    // with the persisted-limb-index retrieval (full-corpus index ==
    // in-memory operator, like the 64-bit pair)
    "media_hamming_knn256" -> hammingKnn256BruteSql,
    "media_hamming_knn_index256" -> hammingKnn256BruteSql,
    // Closed-form replay of shot detection: per-frame hashes on the
    // shot-keyed cell rule, consecutive distances, cut indicators
    // (frame 0 always cuts), prefix-sum shot ids, per-shot bounds
    "video_shots" ->
      raw"""WITH ids AS (SELECT doc_id AS id FROM documents),
         |fr AS (
         |  SELECT id, f,
         |         (CASE WHEN f >= 4 THEN 1 ELSE 0 END) +
         |         (CASE WHEN f >= 9 THEN 1 ELSE 0 END) AS s
         |  FROM ids, unnest(range(0, 14)) AS r(f)
         |  WHERE f < 12 + id % 3),
         |cell AS (
         |  SELECT id, f, cy, cx,
         |         ((cx*(7 + (id + s) % 5) + cy*(13 + (id + s) % 11) +
         |           (id + s*7)*31) % 17) * 15 AS p
         |  FROM fr, unnest(range(0, 8)) AS r1(cy),
         |       unnest(range(0, 9)) AS r2(cx)),
         |gray AS (
         |  SELECT id, f, cy, cx,
         |         (77*p + 150*((p + 60) % 256) + 29*((p + 120) % 256)) // 256 AS gv
         |  FROM cell),
         |bits AS (
         |  SELECT a.id, a.f, a.cy * 8 + a.cx AS j,
         |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
         |  FROM gray a JOIN gray b
         |    ON b.id = a.id AND b.f = a.f AND b.cy = a.cy AND b.cx = a.cx + 1
         |  WHERE a.cx < 8),
         |hh AS (
         |  SELECT id, f,
         |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
         |                       ELSE 0 END) AS BIGINT) AS hi,
         |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
         |                       ELSE 0 END) AS BIGINT) AS lo
         |  FROM bits GROUP BY id, f),
         |dist AS (
         |  SELECT a.id, a.f,
         |         bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS d
         |  FROM hh a JOIN hh b ON b.id = a.id AND b.f = a.f - 1),
         |cuts AS (
         |  SELECT h.id, h.f,
         |         CASE WHEN d.d IS NULL OR d.d > 8 THEN 1 ELSE 0 END AS cut
         |  FROM hh h LEFT JOIN dist d ON d.id = h.id AND d.f = h.f),
         |shotid AS (
         |  SELECT id, f,
         |         sum(cut) OVER (PARTITION BY id ORDER BY f) AS shot_idx
         |  FROM cuts)
         |SELECT id AS doc_id, CAST(shot_idx AS BIGINT) AS shot_idx,
         |       CAST(min(f) AS BIGINT) AS start_frame,
         |       CAST(max(f) AS BIGINT) AS end_frame,
         |       CAST(count(*) AS BIGINT) AS n_frames
         |FROM shotid GROUP BY id, shot_idx
         |ORDER BY doc_id, shot_idx""".stripMargin,
    // Full replay of the two-batch incremental arc over the
    // closed-form fingerprints: batch-1 decisions against the
    // bootstrap third, index grows by batch-1 kept, batch-2 decisions
    // against the grown membership — the index tables, pruning and
    // admit watermarking on the Spark side are proven by the MATCH
    "media_dedup_incremental" -> {
      // incSliceExpr slices: group classes route so dup_corpus,
      // dup_batch, kept AND index growth are all gate-covered
      val p = incSlicePredSql _
      raw"""WITH RECURSIVE $imageDhashCtes,
         |idx_c0 AS (SELECT id FROM hh WHERE ${p(0)("id")}),
         |${fpIncCtes("b1", "idx_c0", p(1))},
         |idx_c1 AS (SELECT id FROM idx_c0
         |           UNION ALL
         |           SELECT doc_id FROM dec_b1 WHERE status = 'kept'),
         |${fpIncCtes("b2", "idx_c1", p(2))}
         |SELECT doc_id, CAST(1 AS BIGINT) AS batch, status,
         |       CAST(status = 'kept' AS BIGINT) AS kept
         |FROM dec_b1
         |UNION ALL
         |SELECT doc_id, CAST(2 AS BIGINT), status, CAST(status = 'kept' AS BIGINT)
         |FROM dec_b2
         |ORDER BY doc_id""".stripMargin
    },
    // Brute-force rank over the closed-form fingerprints: the banded
    // probe path must lose no neighbor within the radius (pigeonhole),
    // so its top-5 equals this exhaustive scan's. The SAME brute-force
    // body oracles the persisted-index retrieval (an index bootstrapped
    // from the full corpus answers identically to the in-memory
    // operator — pruning and postings layout are proven by the MATCH)
    "media_hamming_knn" -> hammingKnnBruteSql,
    "media_hamming_knn_index" -> hammingKnnBruteSql,
    // Closed-form replay of the audio-dedup pipeline: the generator's
    // window amplitudes ARE the decoded energies up to the constant
    // winlen factor (window-constant ±A samples → E = winlen·A²), so
    // amplitude→energy→sign-delta bits→halves→bands→join reproduce the
    // Spark side integer-for-integer without parsing a single RIFF
    // byte — the WAV codec is proven by the MATCH (same construction
    // as image_dedup_dhash, one dimension down)
    "audio_dedup_energy" ->
      raw"""WITH $audioEnergyCtes,
         |bits AS (
         |  SELECT a.id, a.w AS j, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
         |  FROM en a JOIN en b ON b.id = a.id AND b.w = a.w + 1
         |  WHERE a.w < 64),
         |hh AS (
         |  SELECT id,
         |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
         |                       ELSE 0 END) AS BIGINT) AS hi,
         |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
         |                       ELSE 0 END) AS BIGINT) AS lo
         |  FROM bits GROUP BY id),
         |bands AS (
         |  SELECT id, hi, lo, k AS band,
         |         CASE WHEN k < 2 THEN (lo >> (16*k)) & 65535
         |              ELSE (hi >> (16*(k-2))) & 65535 END AS bv
         |  FROM hh, unnest(range(0, 4)) AS r(k)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |         a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // Closed-form replay of the segmentation: clip-relative activity
    // threshold (5e > emax — winlen cancels), contiguity islands,
    // per-segment bounds and exact energy sums
    "audio_segments" ->
      raw"""WITH $audioEnergyCtes,
         |mx AS (SELECT id, max(e) AS emax FROM en GROUP BY id),
         |act AS (
         |  SELECT en.id, en.w, en.e
         |  FROM en JOIN mx ON mx.id = en.id
         |  WHERE 5 * en.e > mx.emax),
         |isl AS (
         |  SELECT id, w, e,
         |         w - row_number() OVER (PARTITION BY id ORDER BY w) AS grp
         |  FROM act),
         |seg AS (
         |  SELECT id, grp, min(w) AS start_win, max(w) AS end_win,
         |         count(*) AS n_windows, sum(e) AS sum_energy
         |  FROM isl GROUP BY id, grp)
         |SELECT id AS doc_id,
         |       CAST(row_number() OVER (PARTITION BY id ORDER BY start_win)
         |            AS BIGINT) AS seg_idx,
         |       CAST(start_win AS BIGINT) AS start_win,
         |       CAST(end_win AS BIGINT) AS end_win,
         |       CAST(n_windows AS BIGINT) AS n_windows,
         |       CAST(sum_energy AS BIGINT) AS sum_energy
         |FROM seg ORDER BY doc_id, seg_idx""".stripMargin,
    // Closed-form replay of the video-dedup pipeline: one image-dedup
    // replay PER SAMPLED FRAME (the generator's cell grid is the
    // decoded-downsampled gray grid frame by frame), then the exact
    // per-frame-match count and the common-index denominator — GVID
    // parse, per-frame codecs and the match count are all proven by
    // the hash MATCH
    "video_dedup_frames" ->
      raw"""WITH ids AS (
         |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
         |  FROM documents),
         |fr AS (
         |  SELECT id, g, v, f
         |  FROM ids, unnest(range(0, 9, 2)) AS r(f)
         |  WHERE f < 8 + g % 3),
         |cell AS (
         |  SELECT id, f, cy, cx,
         |         CASE WHEN f < v
         |           THEN ((cx*(11 + g % 3) + cy*(5 + g % 13) + f*7 + g*19) % 17) * 15
         |           ELSE ((cx*(7 + g % 5) + cy*(13 + g % 11) + f*19 + g*31) % 17) * 15
         |         END AS p
         |  FROM fr, unnest(range(0, 8)) AS r1(cy),
         |       unnest(range(0, 9)) AS r2(cx)),
         |gray AS (
         |  SELECT id, f, cy, cx,
         |         (77*p + 150*((p + 60) % 256) + 29*((p + 120) % 256)) // 256 AS gv
         |  FROM cell),
         |bits AS (
         |  SELECT a.id, a.f, a.cy * 8 + a.cx AS j,
         |         CASE WHEN a.gv > b.gv THEN 1 ELSE 0 END AS bit
         |  FROM gray a JOIN gray b
         |    ON b.id = a.id AND b.f = a.f AND b.cy = a.cy AND b.cx = a.cx + 1
         |  WHERE a.cx < 8),
         |hh AS (
         |  SELECT id, f,
         |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
         |                       ELSE 0 END) AS BIGINT) AS hi,
         |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
         |                       ELSE 0 END) AS BIGINT) AS lo
         |  FROM bits GROUP BY id, f),
         |bands AS (
         |  SELECT id, f, hi, lo, k AS band,
         |         CASE WHEN k < 2 THEN (lo >> (16*k)) & 65535
         |              ELSE (hi >> (16*(k-2))) & 65535 END AS bv
         |  FROM hh, unnest(range(0, 4)) AS r(k)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.f AS f,
         |         a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.f = b.f AND a.id < b.id),
         |m AS (
         |  SELECT id_a, id_b, count(*) AS n_matched
         |  FROM cand
         |  WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 3
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |com AS (
         |  SELECT m.id_a, m.id_b, count(*) AS n_common
         |  FROM m JOIN fr a ON a.id = m.id_a
         |         JOIN fr b ON b.id = m.id_b AND b.f = a.f
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_matched AS BIGINT) AS n_matched,
         |       CAST(n_common AS BIGINT) AS n_common
         |FROM m JOIN com USING (id_a, id_b)
         |ORDER BY id_a, id_b""".stripMargin,
    // Closed-form replay of the alignment-robust video dedup: shot
    // content (keyed by MASTER shot index, trimmed per variant),
    // keyframe hashes, then the shared signature-overlap tail —
    // Spark's cut detection must recover exactly the master shot
    // partition or its signature set (and the hash) diverges
    "video_dedup_shots" ->
      raw"""WITH $trimShotUnitsCtes,
         |$sigOverlapTail""".stripMargin,
    // The Motion-JPEG twin: the same chain over LOSSY frames — the
    // units CTE swaps in the dec()-wrapped cell values
    "video_dedup_shots_jpeg" ->
      raw"""WITH $trimShotUnitsJpegCtes,
         |$sigOverlapTail""".stripMargin,
    // The ISO-BMFF twin: bit-identical MJPEG frames in a real MP4
    // container — same oracle; the hash match proves the box walk +
    // stsc/stsz/stco sample extraction (Mp4Codec), nothing else
    // differs
    "video_dedup_mp4" ->
      raw"""WITH $trimShotUnitsJpegCtes,
         |$sigOverlapTail""".stripMargin,
    // Recursive min-label closure over the shot-signature pair list
    // (the image_dedup_clusters construction on the overlap-gated
    // pairs): components keep their min id as canonical
    "video_dedup_shot_clusters" ->
      raw"""WITH RECURSIVE $trimShotUnitsCtes,
         |$sigOverlapPairsCtes,
         |nodes AS (SELECT id_a AS nid FROM agg
         |          UNION SELECT id_b FROM agg),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM agg
         |          UNION SELECT id_b, id_a FROM agg),
         |reach AS (
         |  SELECT nid, nid AS r FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.nid)
         |SELECT nid AS doc_id, min(r) AS cluster_id,
         |       CAST(CASE WHEN nid = min(r) THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM reach GROUP BY nid ORDER BY doc_id""".stripMargin,
    // The overlap tail plus the matched-delta MODE: deltas re-based to
    // each clip's own 0/1-based detected-unit ordinal (absolute master
    // index minus the variant's trim v — the basis shift cancels in
    // differences), counted over the DISTINCT matched unit pairs,
    // mode ties to the smallest offset — exactly Spark's deterministic
    // mode over (ua - ub). Shared by the video-shot and audio-block
    // offset oracles ([[sigOffsetTail]]).
    "video_dedup_offset_estimate" ->
      raw"""WITH $trimShotUnitsCtes,
         |$sigOffsetTail""".stripMargin,
    // The audio twin: the SAME offset tail over the trimmed-block
    // units — "B is A trimmed by k blocks", the actionable output
    "audio_dedup_offset_estimate" ->
      raw"""WITH $audioBlockUnitsCtes,
         |$sigOffsetTail""".stripMargin,
    // Full replay of the two-batch INCREMENTAL shot-signature arc:
    // batch clips match the index membership by the SAME symmetric
    // distinct-unit overlap gate, components among survivors, index
    // grows by kept — the persisted unit postings, pruning and admit
    // watermarking on the Spark side are proven by the MATCH
    "video_dedup_incremental" -> sigIncArcSql(trimShotUnitsCtes),
    // Closed-form replay of the offset-robust audio dedup: per-block
    // energies (64·A² — the fixed 64-sample sub-windows land exactly
    // on the long-math grid), sign-delta bits per block, then the
    // same signature-overlap tail as video shots
    "audio_dedup_offset" ->
      raw"""WITH $audioBlockUnitsCtes,
         |$sigOverlapTail""".stripMargin,
    // The ISO-BMFF audio twin: bit-identical PCM in a real MP4 sowt
    // track — same oracle; the hash match proves the audio-track
    // sample extraction (Mp4Codec), nothing else differs
    "audio_dedup_mp4" ->
      raw"""WITH $audioBlockUnitsCtes,
         |$sigOverlapTail""".stripMargin,
    // The audio twin of video_dedup_incremental: the SAME persisted
    // unit-signature index protocol over block fingerprints — the
    // membership-evolution replay swaps only the units chain
    "audio_dedup_incremental" -> sigIncArcSql(audioBlockUnitsCtes),
    // Closed-form replay of the overlapping-hop audio dedup: ONE
    // master window timeline per group (amplitudes keyed by absolute
    // window index), per-variant hop trim, a fingerprint per
    // hop-aligned 65-window block, then the shared overlap tail
    "audio_dedup_hop" ->
      raw"""WITH ids AS (
         |  SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
         |  FROM documents),
         |en AS (
         |  SELECT id, w, 64 * CAST(a AS BIGINT) * a AS e
         |  FROM (SELECT id, w,
         |          1 + (((w*(1 + ((g*73) % 65521) % 996) +
         |                 w*w*(1 + ((g*79) % 65521) % 996) + g) % 997) % 23)
         |              * 40 AS a
         |        FROM ids, unnest(range(0, 390)) AS r(w))),
         |hop AS (
         |  SELECT id, u FROM ids, unnest(range(0, 26)) AS r(u)
         |  WHERE u >= v),
         |bitsrc AS (
         |  SELECT id, u, j, u*13 + j AS w
         |  FROM hop, unnest(range(0, 64)) AS r(j)),
         |bits AS (
         |  SELECT b.id, b.u, b.j,
         |         CASE WHEN e2.e > e1.e THEN 1 ELSE 0 END AS bit
         |  FROM bitsrc b JOIN en e1 ON e1.id = b.id AND e1.w = b.w
         |       JOIN en e2 ON e2.id = b.id AND e2.w = b.w + 1),
         |units AS (
         |  SELECT id, u,
         |         CAST(sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
         |                       ELSE 0 END) AS BIGINT) AS hi,
         |         CAST(sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
         |                       ELSE 0 END) AS BIGINT) AS lo
         |  FROM bits GROUP BY id, u),
         |$sigOverlapTail""".stripMargin,
    // Full replay of BPE training: one stacked-CTE group per merge
    // rank (pair count → lexically-tie-broken argmax → islands-parity
    // canonical merge), generated by BpeTrainer.oracleSql.
    "bpe_train" -> graft.text.BpeTrainer.oracleSql(BpeMerges, BpeVocabCap,
      "SELECT * FROM (" + (1 to BpeMerges).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, " +
          s"a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$i")
        .mkString(" UNION ALL ") + ") ORDER BY merge_rank"),
    "bpe_segment" -> graft.text.BpeTrainer.oracleSql(BpeMerges, BpeVocabCap,
      s"""SELECT word, freq, array_to_string(syms, ' ') AS pieces
         |FROM (SELECT * FROM w$BpeMerges ORDER BY freq DESC, word LIMIT 200)
         |ORDER BY freq DESC, word""".stripMargin),
    // finalSelect CONTINUES the WITH list (leading comma): corpus
    // words in position order, segmentation from the union of the
    // training chain's final word table (w$N) and the OOV apply chain
    // (ov$N) — every corpus word is in exactly one of them, so the
    // join is total (zero-OOV); n_oov counts words outside the
    // tokenizer's top-`BpeLookupCap` broadcast lookup
    "bpe_tokenize_docs" -> graft.text.BpeTrainer.oracleSql(
      BpeMerges, BpeVocabCap, withOovChain = true, finalSelect =
      s""", dw0 AS (
         |  SELECT doc_id, words,
         |         unnest(range(1, len(words) + 1)) AS pos
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(
         |            ${graft.text.BpeTrainer.asciiLowerSql("text")},
         |            '\\s+') AS words
         |        FROM documents)),
         |dw AS (
         |  SELECT doc_id, pos, words[pos] AS word FROM dw0
         |  WHERE length(words[pos]) > 0),
         |seg AS (
         |  SELECT word, array_to_string(syms, ' ') AS pieces,
         |         len(syms) AS np
         |  FROM w$BpeMerges
         |  UNION ALL
         |  SELECT word, array_to_string(syms, ' '), len(syms)
         |  FROM ov$BpeMerges),
         |lk AS (SELECT word FROM wf ORDER BY freq DESC, word
         |       LIMIT $BpeLookupCap),
         |dj AS (
         |  SELECT d.doc_id, d.pos, s.pieces, s.np,
         |         CASE WHEN l.word IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM dw d JOIN seg s USING (word)
         |  LEFT JOIN lk l ON l.word = d.word)
         |SELECT doc_id,
         |       count(*) AS n_words,
         |       CAST(sum(oov) AS BIGINT) AS n_oov,
         |       CAST(sum(np) AS BIGINT) AS n_tokens,
         |       sha256(string_agg(pieces, ' ' ORDER BY pos)) AS pieces_sha
         |FROM dj GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "text_stats" ->
      raw"""WITH $toksCte
           |SELECT d.doc_id,
           |  CAST(len(tk) AS BIGINT) AS token_cnt,
           |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS bpe_token_cnt,
           |  CAST(length(text) AS BIGINT) AS char_cnt,
           |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()-]', '', 'g')) AS BIGINT) AS punct_cnt,
           |  CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_hits,
           |  sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
           |FROM documents d JOIN toks ON toks.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,

    "corpus_clean" -> {
      val hits = TextFunctions.langLexicons.map { case (lang, ws) =>
        s"len(list_filter(tk, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS h_$lang"
      }.mkString(",\n         ")
      val langs = TextFunctions.langLexicons.map(_._1)
      val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
      val cases = langs
        .map(l => s"WHEN h_$l = best AND h_$l > 0 THEN '$l'").mkString(" ")
      raw"""WITH $toksCte,
           |norm AS (
           |  SELECT doc_id,
           |         sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash
           |  FROM documents),
           |keep AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY content_hash),
           |hits AS (SELECT doc_id, $hits FROM toks),
           |pred AS (
           |  SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
           |  FROM (SELECT *, $best AS best FROM hits))
           |SELECT d.doc_id,
           |  CAST(len(tk) AS BIGINT) AS token_cnt,
           |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS bpe_token_cnt,
           |  sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
           |FROM documents d
           |JOIN toks ON toks.doc_id = d.doc_id
           |JOIN pred ON pred.doc_id = d.doc_id
           |WHERE d.doc_id IN (SELECT doc_id FROM keep)
           |  AND len(tk) >= 30 AND pred.lang_pred = 'en'
           |ORDER BY d.doc_id""".stripMargin
    },

    "corpus_clean_neardup" -> {
      val hits = TextFunctions.langLexicons.map { case (lang, ws) =>
        s"len(list_filter(tk, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS h_$lang"
      }.mkString(",\n         ")
      val langs = TextFunctions.langLexicons.map(_._1)
      val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
      val cases = langs
        .map(l => s"WHEN h_$l = best AND h_$l > 0 THEN '$l'").mkString(" ")
      raw"""WITH RECURSIVE $minhashCtes,
           |pairs AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
           |    JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
           |  WHERE 10 * i.inter_size >= 3 * (sa.sz + sb.sz - i.inter_size)),
           |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
           |edges AS (SELECT a AS src, b AS dst FROM pairs
           |          UNION SELECT b, a FROM pairs),
           |reach AS (
           |  SELECT id, id AS r FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |dropped AS (SELECT id FROM reach GROUP BY id HAVING min(r) <> id),
           |hits AS (SELECT doc_id, $hits FROM toks),
           |pred AS (
           |  SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
           |  FROM (SELECT *, $best AS best FROM hits))
           |SELECT d.doc_id,
           |  CAST(len(tk) AS BIGINT) AS token_cnt,
           |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS bpe_token_cnt,
           |  sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
           |FROM documents d
           |JOIN toks ON toks.doc_id = d.doc_id
           |JOIN pred ON pred.doc_id = d.doc_id
           |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
           |  AND len(tk) >= 30 AND pred.lang_pred = 'en'
           |ORDER BY d.doc_id""".stripMargin
    },

    "lang_id" -> {
      val hits = TextFunctions.langLexicons.map { case (lang, ws) =>
        s"len(list_filter(tk, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS h_$lang"
      }.mkString(",\n       ")
      val langs = TextFunctions.langLexicons.map(_._1)
      val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
      val cases = langs
        .map(l => s"WHEN h_$l = best AND h_$l > 0 THEN '$l'").mkString("\n         ")
      s"""WITH $toksCte,
         |hits AS (
         |  SELECT doc_id,
         |       $hits
         |  FROM toks),
         |scored AS (SELECT *, $best AS best FROM hits)
         |SELECT doc_id,
         |       CASE $cases
         |         ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact _,
    "dedup_lines" -> dedupLines _,
    "strip_boilerplate" -> stripBoilerplate _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "source_overlap_kmv" -> sourceOverlapKmv _,
    "range_join_events" -> rangeJoinEvents _,
    "pack_sequences" -> packSequences _,
    "decontaminate" -> decontaminate _,
    "sample_documents" -> sampleDocuments _,
    "mix_sources" -> mixSources _,
    "split_dataset" -> splitDataset _,
    "quality_score" -> qualityScore _,
    "quality_classifier" -> qualityClassifier _,
    "lm_perplexity" -> lmPerplexity _,
    "shard_corpus" -> shardCorpus _,
    "mix_temperature" -> mixTemperature _,
    "sample_quota" -> sampleQuota _,
    "select_token_budget" -> selectTokenBudget _,
    "winnow_fingerprints" -> winnowFingerprints _,
    "winnow_overlap" -> winnowOverlap _,
    "pii_scrub" -> piiScrub _,
    "dedup_minhash_lsh" -> dedupMinhashLsh _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_embedding" -> dedupEmbedding _,
    "dedup_embedding_blocked" -> dedupEmbeddingBlocked _,
    "semantic_dedup" -> semanticDedup _,
    "semantic_dedup_clustered" -> semanticDedupClustered _,
    "semantic_dedup_incremental" -> semanticDedupIncremental _,
    "ann_brute_topk" -> annBruteTopK _,
    "ann_lsh_topk" -> annLshTopK _,
    "ann_ivf_topk" -> annIvfTopK _,
    "ann_ivf_index_topk" -> annIvfIndexTopK _,
    "approx_stats" -> approxStats _,
    "media_features" -> mediaFeatures _,
    "media_roundtrip" -> mediaRoundtrip _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_keep_best" -> dedupKeepBest _,
    "corpus_clean_neardup" -> corpusCleanNearDup _,
    "sessionize_events" -> sessionizeEvents _,
    "asof_last_error" -> asofLastError _,
    "top_terms" -> topTerms _,
    "doc_repetition" -> docRepetition _,
    "source_stats" -> sourceStats _,
    "source_stats_rollup" -> sourceStatsRollup _,
    "windowed_event_counts" -> windowedEventCounts _,
    "resample_events" -> resampleEvents _,
    "resample_interpolate" -> resampleInterpolateEvents _,
    "heavy_hitters" -> heavyHitters _,
    "heavy_hitters_by_source" -> heavyHittersBySource _,
    "cluster_embeddings" -> clusterEmbeddings _,
    "balance_clusters" -> balanceClusters _,
    "semantic_decontaminate" -> semanticDecontaminate _,
    "text_stats" -> textStats _,
    "truncate_docs" -> truncateDocs _,
    "chunk_docs" -> chunkDocs _,
    "bpe_train" -> bpeTrain _,
    "bpe_segment" -> bpeSegment _,
    "bpe_tokenize_docs" -> bpeTokenizeDocs _,
    "repeated_spans" -> repeatedSpans _,
    "remove_repeated_spans" -> removeRepeatedSpans _,
    "image_dedup_dhash" -> imageDedupDhash _,
    "image_dedup_jpeg" -> imageDedupJpeg _,
    "image_dedup_jpeg_progressive" -> imageDedupJpegProgressive _,
    "media_roundtrip_jpeg" -> mediaRoundtripJpeg _,
    "media_resize_jpeg" -> mediaResizeJpeg _,
    "image_dedup_clusters" -> imageDedupClusters _,
    "image_dedup_dhash256" -> imageDedupDhash256 _,
    "media_hamming_knn" -> mediaHammingKnn _,
    "media_hamming_knn256" -> mediaHammingKnn256 _,
    "media_hamming_knn_index" -> mediaHammingKnnIndex _,
    "media_hamming_knn_index256" -> mediaHammingKnnIndex256 _,
    "media_dedup_incremental" -> mediaDedupIncremental _,
    "media_dedup_incremental256" -> mediaDedupIncremental256 _,
    "video_dedup_incremental" -> videoDedupIncremental _,
    "audio_dedup_incremental" -> audioDedupIncremental _,
    "audio_dedup_energy" -> audioDedupEnergy _,
    "audio_segments" -> audioSegments _,
    "video_dedup_frames" -> videoDedupFrames _,
    "video_shots" -> videoShots _,
    "video_dedup_shots" -> videoDedupShots _,
    "video_dedup_shots_jpeg" -> videoDedupShotsJpeg _,
    "video_dedup_mp4" -> videoDedupMp4 _,
    "video_dedup_shot_clusters" -> videoDedupShotClusters _,
    "video_dedup_offset_estimate" -> videoDedupOffsetEstimate _,
    "audio_dedup_offset" -> audioDedupOffset _,
    "audio_dedup_mp4" -> audioDedupMp4 _,
    "audio_dedup_offset_estimate" -> audioDedupOffsetEstimate _,
    "audio_dedup_hop" -> audioDedupHop _,
    "lang_id" -> langId _,
    "corpus_clean" -> corpusClean _
  )
}
