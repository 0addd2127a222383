package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import TextOps._

/** Training-corpus curation surface over the `documents` table: benchmark
  * decontamination, sequence packing, and deterministic stratified sampling.
  *
  * These are the remaining pipeline stages a large-scale training-data flow
  * runs AFTER dedup ([[Dedup]]) and quality filtering ([[TextAnalysis]]):
  * remove eval-set overlap, pack documents into fixed token budgets, and
  * rebalance the language/source mixture. The reference pipeline (an event
  * shipper) has none of these — they are LLM-data-pipeline extensions like
  * SURVEY.md §2.8's, each with a DuckDB oracle.
  *
  * Scale design (100 TB): decontamination joins corpus n-gram hashes against
  * the (small) benchmark hash set — keyed equi-join, AQE broadcasts the
  * benchmark side when it fits; packing is one window per source partition
  * (the shard key at scale); sampling is a per-stratum threshold broadcast +
  * a stateless hash filter. No all-pairs products, no corpus-sized driver
  * state anywhere.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  /** Decontamination n-gram length. 13 is the common published setting for
    * web-scale corpora; 8 keeps the check meaningful on the testdata's
    * 10–99-token documents (a 13-gram would skip the shortest docs
    * entirely). */
  val ContamN = 8

  // ---------------------------------------------------------------- c01
  /** Benchmark decontamination: documents with doc_id % 20 == 0 stand in for
    * the held-out eval set; every other document is flagged with the number
    * of distinct full 8-grams it shares with that set.
    *
    * Candidates come from an equi-join on the 60-bit md5 n-gram hash (8-byte
    * shuffle keys, not ~60-char strings). The benchmark side distincts to a
    * hash set that is tiny next to the corpus — at scale it is a separate
    * table (see [[CurationOps.contaminationCounts]], which takes one) and
    * AQE broadcasts it; here both sides derive from one table, so the split
    * is by id predicate. Emitting a flag for EVERY corpus doc (not just
    * contaminated ones) keeps the result non-vacuous at any SF. */
  val c01Decontaminate: Q = (s, dir) => {
    import s.implicits._
    val g = docs(s, dir)
      .withColumn("tk", toks($"text"))
      // array_distinct: per-doc distinct n-grams, so the per-doc hit count
      // below is "distinct contaminated n-grams" with no multiplicity
      .select($"doc_id", explode_outer(array_distinct(ngramsExact($"tk", ContamN))).as("ng"))
      .filter($"ng".isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select($"doc_id", h60($"ng").as("h"))
    val bench = g.filter($"doc_id" % 20 === 0).select($"h").distinct()
    val hits = g.filter($"doc_id" % 20 =!= 0)
      .join(bench, Seq("h"))
      .groupBy($"doc_id").agg(count(lit(1)).as("hit"))
    docs(s, dir).filter($"doc_id" % 20 =!= 0).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"hit", lit(0L)).as("n_bad"),
        when($"hit".isNotNull, 1L).otherwise(0L).as("contaminated"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c02
  /** Sequence packing: concatenate each source's documents in doc_id order
    * and split the stream at 512-token boundaries — every doc gets the bin
    * index and in-bin start offset of its first token (the standard
    * concat-then-chunk packing used to fill fixed context windows).
    *
    * One running-sum window per `source` partition — at scale `source` is
    * the ingest shard key, so the window never sees more than one shard's
    * rows and the plan is a single sort within each hash partition. */
  val c02PackSequences: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    docs(s, dir)
      .select($"source", $"doc_id", size(toks($"text")).cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin", expr("(cum - n_tok) div 512"))
      .withColumn("start_off", ($"cum" - $"n_tok") % 512)
      .select($"source", $"doc_id", $"n_tok", $"bin", $"start_off")
      .orderBy($"source", $"doc_id")
  }

  // ---------------------------------------------------------------- c03
  /** Deterministic balanced stratified sample: each language is downsampled
    * to (approximately) the size of the smallest language, by keeping a doc
    * iff a salted md5 hash of its id falls under the stratum's integer
    * threshold floor(min_cnt*1e6 / cnt). Hash-threshold sampling is the
    * scale form of stratified sampling: no shuffle of the corpus, no state —
    * the same doc is kept or dropped identically on every run and every
    * engine (the hash is the cross-engine [[TextOps.h60]]).
    *
    * The per-stratum threshold table is |strata| rows — broadcast by
    * construction (stratified sampling only makes sense on low-cardinality
    * strata). The smallest stratum's threshold is exactly 1e6, so it is kept
    * in full. */
  val c03StratifiedSample: Q = (s, dir) => {
    import s.implicits._
    val counts = docs(s, dir)
      .groupBy($"lang").agg(count(lit(1)).as("cnt")) // |strata| rows
    // 1-row global min via crossJoin, not an empty-partition window (same
    // result; avoids the all-rows-to-one-partition window shape)
    val thr = counts.crossJoin(broadcast(counts.agg(min($"cnt").as("mn"))))
      .withColumn("thr", expr("(mn * 1000000) div cnt"))
      .select($"lang", $"thr")
    docs(s, dir)
      .join(broadcast(thr), Seq("lang"))
      .filter(h60(concat(lit("samp"), $"doc_id".cast("string"))) % 1000000 < $"thr")
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c04
  /** Data-mixture weights: per-language doc/token totals, each language's
    * token share, and the upsampling weight that would equalize the mixture
    * (weight = uniform-target tokens / actual tokens — the number a sampler
    * like [[CurationOps.sampleStratified]] consumes to hit a target mix).
    *
    * One |strata|-row aggregation + a 1-row total cross-joined back —
    * driver/executor state is O(|strata|) regardless of corpus size. */
  val c04MixtureWeights: Q = (s, dir) => {
    import s.implicits._
    val perLang = docs(s, dir)
      .withColumn("n_tok", size(toks($"text")).cast("long"))
      .groupBy($"lang").agg(count(lit(1)).as("docs"), sum($"n_tok").as("tokens"))
    val tot = perLang.agg(sum($"tokens").as("tot"), count(lit(1)).as("nl"))
    perLang.crossJoin(broadcast(tot))
      .select($"lang", $"docs", $"tokens",
        round($"tokens".cast("double") / $"tot" + 1e-9, 4).as("share"),
        round(($"tot".cast("double") / $"nl") / $"tokens" + 1e-9, 4).as("weight"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- c05
  /** The composed curation pipeline — the flagship end-to-end flow a
    * training-data run executes, each stage one of this engine's proven
    * operators applied in sequence:
    *
    *   1. quality gate: ≥ 20 whitespace tokens (t02's n_tok signal)
    *   2. language confidence: the t01 stopword vote must agree with the
    *      declared `lang`
    *   3. exact dedup among survivors: keep the lowest doc_id per md5(text)
    *      group (d01's greedy contract)
    *   4. decontamination: drop the benchmark docs (doc_id % 20 == 0) and
    *      any survivor sharing a full 8-gram with them (c01)
    *
    * Stage order matters and is part of the contract (dedup after the
    * filters, decontamination last). One corpus scan feeds stages 1–3
    * (narrow signals + one digest window); stage 4 reuses c01's hash
    * semi-join shape. Output: the surviving corpus, with the per-doc
    * signals that justified keeping it. */
  val c05CurationPipeline: Q = (s, dir) => {
    import s.implicits._
    val base = docs(s, dir)
      .withColumn("tk", toks($"text"))
      .withColumn("n_tok", size($"tk").cast("long"))
    // stages 1+2: quality + language agreement (narrow, no shuffle)
    val filtered = base
      .filter($"n_tok" >= 20 && TextAnalysis.predLang($"tk") === $"lang")
    // stage 3: exact dedup among survivors (32-byte digest shuffle)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text")).orderBy($"doc_id")
    val deduped = filtered
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    // stage 4: decontamination vs the id-split benchmark — SINGLE-PASS form:
    // an anti-join against flagged ids would reference `deduped` twice and
    // recompute the whole quality/lang/window chain per side (measured: 6
    // corpus scans, no exchange reuse — column pruning differentiates the
    // subtrees). Instead each survivor's n-grams left-join the benchmark
    // hash set ONCE (null n-gram rows ride along so gram-less docs survive)
    // and a per-doc max(hit)=0 filter replaces the anti-join.
    val bench = docs(s, dir).filter($"doc_id" % 20 === 0)
      .withColumn("tk", toks($"text"))
      .select(explode_outer(array_distinct(ngramsExact($"tk", ContamN))).as("ng"))
      .filter($"ng".isNotNull)
      .select(h60($"ng").as("bh")).distinct()
    deduped.filter($"doc_id" % 20 =!= 0)
      .select($"doc_id", $"lang", $"n_tok",
        explode_outer(array_distinct(ngramsExact($"tk", ContamN))).as("ng"))
      .withColumn("h", h60($"ng"))
      .join(bench, $"h" === $"bh", "left")
      .groupBy($"doc_id")
      .agg(first($"lang").as("lang"), first($"n_tok").as("n_tok"),
        max(when($"bh".isNotNull, 1L).otherwise(0L)).as("hit"))
      .filter($"hit" === 0L)
      .select($"doc_id", $"lang", $"n_tok")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c06
  /** Bloom-prefiltered decontamination — the oracle row for
    * [[CurationOps.decontaminateBloom]]: same id-split benchmark as c01, but
    * the corpus probes a distributed Bloom sketch of the benchmark grams
    * scan-side and only candidate docs enter the exact gram join. The result
    * is EXACT (no Bloom false negatives; false positives die in the verify
    * join), so the DuckDB twin is the plain shared-gram anti-join — identical
    * output to [[CurationOps.decontaminate]] is the operator's contract
    * (CurationSpec asserts it in-engine; this row proves it against an
    * independent engine). */
  /** Per-dir-content memo of c06's benchmark Bloom sketch (round 20, the
    * cachedModel/cachedMerges rule): the id-split benchmark is a pure
    * function of `documents`, its sketch bytes are partitioning-
    * independent (bitwise-OR composition), and the exact verification
    * join makes the result sketch-independent anyway — a deployment
    * maintains the eval-suite sketch once, the corpus probe is the
    * per-run job. Keyed and evicted by [[graft.Tables.memoByContent]]. */
  private val sketchCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Byte])]()
  private def cachedC06Sketch(s: SparkSession, dir: String): (Long, Array[Byte]) = {
    import s.implicits._
    graft.Tables.memoByContent(sketchCache, "c06sketch", dir, "documents")(
      CurationOps.benchmarkSketch(
        docs(s, dir).filter($"doc_id" % 20 === 0), "doc_id", "text",
        n = ContamN))
  }

  val c06DecontaminateBloom: Q = (s, dir) => {
    import s.implicits._
    val corpus = docs(s, dir).filter($"doc_id" % 20 =!= 0)
    val bench  = docs(s, dir).filter($"doc_id" % 20 === 0)
    CurationOps.decontaminateBloom(corpus, bench, "doc_id", "text",
        n = ContamN, knownSketch = Some(cachedC06Sketch(s, dir)))
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c07
  /** Temperature sampling at alpha = 0.5, half the token budget — the oracle
    * row for [[CurationOps.sampleTemperature]]: low-resource languages are
    * upweighted relative to their natural share (the multilingual-pretraining
    * standard), high-resource ones downsampled to fit the budget; membership
    * is the deterministic salted-hash threshold, so DuckDB replays the exact
    * same kept set. */
  val c07TemperatureSample: Q = (s, dir) => {
    import s.implicits._
    CurationOps.sampleTemperature(docs(s, dir), "lang", "doc_id", "text",
      alpha = 0.5, budgetFrac = 0.5)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c08
  /** Overlapping token-window chunking (32-token windows, 8-token overlap)
    * — the oracle row for [[CurationOps.chunkTokens]]: every document
    * becomes its RAG/context-window chunk rows, the last chunk ragged, and
    * both engines must agree on every chunk boundary and byte of re-joined
    * text. */
  val c08RagChunks: Q = (s, dir) => {
    import s.implicits._
    CurationOps.chunkTokens(docs(s, dir), "doc_id", "text",
      chunkLen = 32, overlap = 8)
      .orderBy($"doc_id", $"chunk_idx")
  }

  // ---------------------------------------------------------------- c09
  /** Deterministic 8-shard training assignment — the oracle row for
    * [[CurationOps.assignShards]]: shard membership and the dense within-
    * shard position both derive from salted md5 hashes, so DuckDB replays
    * the identical (shard, pos) for every document. */
  val c09TrainShards: Q = (s, dir) => {
    import s.implicits._
    CurationOps.assignShards(docs(s, dir), "doc_id", shards = 8)
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  // ---------------------------------------------------------------- c10
  /** DSIR importance weights against the English slice — the oracle row for
    * [[CurationOps.dsirWeights]]: both engines must agree on every
    * document's mean unigram log-likelihood ratio (target = `lang = 'en'`)
    * and the derived selection flag. */
  val c10DsirWeights: Q = (s, dir) => {
    import s.implicits._
    CurationOps.dsirWeights(docs(s, dir), "doc_id", "text",
      targetPred = $"lang" === "en")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c11
  /** Leakage-safe split over the d06 near-dup pair graph — the oracle row
    * for [[CurationOps.splitLeakageSafe]]: DuckDB recomputes the simhash
    * pairs, reaches components with a recursive CTE (the d07 fixpoint
    * formulation), and replays the salted group hash, so both engines must
    * agree on every document's (split_group, split) — including that near-
    * duplicate documents never straddle the train/held-out boundary. */
  val c11LeakageSplit: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    CurationOps.splitLeakageSafe(d, "doc_id",
      Dedup.sigPairs(s, dir), "id_a", "id_b")
      .select($"doc_id", $"split_group", $"split")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c17
  /** Soft dedup over the d06 near-dup pair graph — the oracle row for
    * [[CurationOps.softDedupWeights]]: DuckDB recomputes the simhash pairs,
    * reaches components with the d07 recursive fixpoint, counts each
    * group, and divides — both engines must agree on every document's
    * (dup_group, group_size, weight), the weights being exact IEEE
    * divisions of exact integers. */
  val c17SoftDedupWeights: Q = (s, dir) => {
    import s.implicits._
    // serves the persisted component-label table (round-17): the weight
    // projection is the per-invocation work; pair join + component fold
    // ran once at table build (values bit-identical — exact integers)
    CurationOps.softDedupWeightsFromComponents(docs(s, dir), "doc_id",
      Dedup.sigComponentsTable(s, dir))
      .select($"doc_id", $"dup_group", $"group_size", $"weight")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c19
  /** c19: [[CurationOps.sampleWeighted]] fed by [[CurationOps
    * .softDedupWeights]] — the composition c17's scaladoc promises: a
    * 100-doc mass-proportional sample (Efraimidis–Spirakis order
    * statistic, deterministic md5-derived uniforms) over the 1/|near-dup
    * cluster| weights, so each duplicated content unit contributes ~one
    * document in expectation while every variant stays eligible. The
    * DuckDB twin rides the whole c17 chain (simhash pairs → recursive
    * components → group sizes → weights) and replays the key:
    * round(pow(u, 1/w) + 1e-9, 6), wkey DESC with doc-id ties, LIMIT 100. */
  val c19WeightedSample: Q = (s, dir) => {
    import s.implicits._
    // the served-component composition (round-17): repeated weighted draws
    // against an unchanged corpus pay one scan of the stored label
    // relation + the shuffle-free key projection — never the pair stage
    val weighted = CurationOps.softDedupWeightsFromComponents(docs(s, dir),
      "doc_id", Dedup.sigComponentsTable(s, dir))
    CurationOps.sampleWeighted(weighted, "doc_id", "weight", n = 100)
      .select($"sample_rank", $"doc_id", $"dup_group", $"weight", $"wkey")
      .orderBy($"sample_rank")
  }

  // ---------------------------------------------------------------- c18
  /** Cluster-balanced coreset over the s15 k-means structure — the oracle
    * row for [[CurationOps.coresetSample]]: fit the pinned deterministic
    * clustering (k = 4, 2 Lloyd rounds on the vec_id < 256 slice), assign
    * the whole table, keep the 25 rows nearest each centroid. The DuckDB
    * twin replays the full training ([[Similarity.kmeansSql]]) and ranks
    * on the same rounded distance, so every surviving (vec_id, cluster,
    * dist2, coreset_rank) is exact. */
  val c18CoresetSample: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val cents = Similarity.kmeansFit(e.filter($"vec_id" < 256), "vec_id", "v",
      k = 4, iters = 2)
    val asg = Similarity.kmeansAssign(e, "vec_id", "v", cents)
    CurationOps.coresetSample(asg, "vec_id", "cluster", "dist2", perCluster = 25)
      .select($"vec_id", $"cluster", $"dist2", $"coreset_rank")
      .orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- c12
  /** CCNet-style perplexity tercile bucketing on the t12 bigram-LM score —
    * the oracle row for [[CurationOps.perplexityBuckets]]: both engines
    * must agree on every document's (score, bucket), including that equal
    * scores never straddle a bucket boundary. */
  val c12PerplexityBuckets: Q = (s, dir) => {
    import s.implicits._
    val scored = TextAnalysis.bigramSurprise(docs(s, dir), "doc_id", "text")
    CurationOps.perplexityBuckets(scored, "doc_id", "bi_surprise")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c13
  /** Token-budget prefix sampling at 2/5 of the corpus's tokens — the
    * oracle row for [[CurationOps.sampleTokenBudget]]: DuckDB replays the
    * straightforward global form (one cumulative window over hash order),
    * the Spark side runs the bucketed histogram form — identical keep sets
    * prove the decomposition exact at every SF. */
  val c13TokenBudget: Q = (s, dir) => {
    import s.implicits._
    CurationOps.sampleTokenBudget(docs(s, dir), "doc_id", "text", 2L, 5L)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- c14
  /** Per-source unigram KL divergence against the whole corpus — the oracle
    * row for [[CurationOps.klDrift]]: every term derives from exact integer
    * counts and the per-source sum is a sorted fold, so DuckDB replays the
    * drift numbers bit-for-bit (list_sort + list_reduce, the t07/c10
    * playbook). */
  val c14KlDrift: Q = (s, dir) => {
    import s.implicits._
    CurationOps.klDrift(docs(s, dir), "text", "source")
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- c15
  /** One-pass rollup corpus report — the oracle row for
    * [[CurationOps.corpusReport]]: integer-only accounting, DuckDB replays
    * the rollup with the same `(all)` subtotal labels. */
  val c15CorpusReport: Q = (s, dir) => {
    import s.implicits._
    CurationOps.corpusReport(docs(s, dir), "text", "source", "lang")
      .orderBy($"source_grp", $"lang_grp")
  }

  // ---------------------------------------------------------------- c16
  /** Mixture epoch/repetition plan — [[CurationOps.mixturePlan]] with
    * explicit target weights over 4 named sources and a 20k-token budget:
    * heavy weights plan multiple FULL EPOCHS plus a fractional remainder
    * pass (the repeat-curated-sources setting); unweighted sources plan
    * to zero but stay in the report. */
  val c16MixturePlan: Q = (s, dir) => {
    import s.implicits._
    CurationOps.mixturePlan(docs(s, dir), "source", "text",
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      budgetTokens = 20000L)
      .orderBy($"source")
  }

  val queries: Map[String, Q] = Map(
    "c16_mixture_plan" -> c16MixturePlan,
    "c15_corpus_report" -> c15CorpusReport,
    "c14_kl_drift" -> c14KlDrift,
    "c13_token_budget" -> c13TokenBudget,
    "c01_decontaminate" -> c01Decontaminate,
    "c12_perplexity_buckets" -> c12PerplexityBuckets,
    "c11_leakage_split" -> c11LeakageSplit,
    "c17_soft_dedup_weights" -> c17SoftDedupWeights,
    "c19_weighted_sample" -> c19WeightedSample,
    "c18_coreset_sample" -> c18CoresetSample,
    "c06_decontaminate_bloom" -> c06DecontaminateBloom,
    "c07_temperature_sample" -> c07TemperatureSample,
    "c02_pack_sequences" -> c02PackSequences,
    "c03_stratified_sample" -> c03StratifiedSample,
    "c04_mixture_weights" -> c04MixtureWeights,
    "c05_curation_pipeline" -> c05CurationPipeline,
    "c08_rag_chunks" -> c08RagChunks,
    "c09_train_shards" -> c09TrainShards,
    "c10_dsir_weights" -> c10DsirWeights)

  private val toksCte =
    """WITH l AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  /** The c17 soft-dedup chain (simhash pairs → recursive components →
    * group sizes → labeled corpus `lab`) — shared by the c17 and c19
    * twins; ends after the `lab` CTE, no trailing comma. */
  private val softDedupCte =
    """WITH RECURSIVE l AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        | t AS (SELECT doc_id, unnest(toks) AS tok FROM l),
        | h AS (
        |  SELECT doc_id,
        |   CAST(CAST(('0x' || substr(md5(tok),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS hm
        |  FROM t),
        | g AS (SELECT doc_id, hm, count(*) AS cnt FROM h GROUP BY doc_id, hm),
        | b AS (
        |  SELECT doc_id, j,
        |   sum(CASE WHEN (hm >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS sgn
        |  FROM g, (SELECT unnest(range(0,30)) AS j) GROUP BY doc_id, j),
        | sig AS (
        |  SELECT doc_id,
        |   CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM b GROUP BY doc_id),
        | bands AS (
        |  SELECT doc_id, simhash, bd, (simhash >> (15*bd)) & 32767 AS bv
        |  FROM sig, (SELECT unnest(range(0,2)) AS bd)),
        | cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   any_value(a.simhash) AS sa, any_value(b.simhash) AS sb
        |  FROM bands a JOIN bands b ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        | pairs AS (
        |  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 1),
        | e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        | n AS (SELECT DISTINCT src AS id FROM e),
        | reach(id, r) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        | comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        | sz AS (SELECT component, count(*) AS gsz FROM comp GROUP BY component),
        | lab AS (
        |  SELECT d.doc_id,
        |   CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS dup_group,
        |   CAST(coalesce(s.gsz, 1) AS BIGINT) AS group_size
        |  FROM documents d
        |  LEFT JOIN comp c ON d.doc_id = c.id
        |  LEFT JOIN sz s ON c.component = s.component)""".stripMargin

  val oracles: Map[String, String] = Map(
    // integer token counts, a VALUES weight table, floor/DIV/mod plan math
    "c16_mixture_plan" ->
      """WITH l AS (
        |  SELECT source,
        |   len(list_filter(string_split_regex(text, '\s+'),
        |     x -> length(x) > 0)) AS ntok
        |  FROM documents),
        | a AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS available_tokens
        |       FROM l GROUP BY source),
        | w (source, w) AS (VALUES
        |  ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
        | p AS (
        |  -- CAST the weight to DOUBLE before multiplying: a DECIMAL 0.3
        |  -- times 20000 is exactly 6000 where double 0.3 * 20000 floors
        |  -- to 5999 — the oracle must run the SAME float arithmetic
        |  SELECT a.source, a.available_tokens,
        |   CAST(floor(coalesce(CAST(w.w AS DOUBLE), 0.0) * 20000) AS BIGINT) AS target_tokens
        |  FROM a LEFT JOIN w ON a.source = w.source)
        |SELECT source, available_tokens, target_tokens,
        | target_tokens // available_tokens AS full_epochs,
        | round(CAST(target_tokens % available_tokens AS DOUBLE)
        |   / available_tokens + 1e-9, 4) AS frac_rate
        |FROM p ORDER BY source""".stripMargin,
    // the same rollup lattice, integer stats only, same subtotal labels
    "c15_corpus_report" ->
      """WITH l AS (
        |  SELECT source, lang, length(text) AS nchr,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> length(x) > 0)) AS ntok
        |  FROM documents)
        |SELECT coalesce(source, '(all)') AS source_grp,
        | coalesce(lang, '(all)') AS lang_grp,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(ntok) AS BIGINT) AS n_tokens,
        | CAST(sum(nchr) AS BIGINT) AS n_chars,
        | CAST(max(ntok) AS BIGINT) AS max_doc_tokens
        |FROM l GROUP BY ROLLUP (source, lang)
        |ORDER BY source_grp, lang_grp""".stripMargin,
    // one (source, token) count table; corpus totals re-aggregated from it;
    // per-source KL as the sorted fold over integer-count-derived terms
    "c14_kl_drift" ->
      (toksCte +
        """, t AS (SELECT source, unnest(toks) AS tok FROM l),
          | st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          |        FROM t GROUP BY source, tok),
          | tt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY tok),
          | tot AS (SELECT CAST(sum(ct) AS BIGINT) AS T FROM tt),
          | ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS s FROM st GROUP BY source)
          |SELECT st.source, any_value(ts.s) AS n_tokens,
          | CAST(count(*) AS BIGINT) AS vocab,
          | round(list_reduce(list_sort(list(
          |   (CAST(st.c AS DOUBLE) / CAST(ts.s AS DOUBLE))
          |   * ln((CAST(st.c AS DOUBLE) / CAST(ts.s AS DOUBLE))
          |        / (CAST(tt.ct AS DOUBLE) / CAST(tot.T AS DOUBLE))))),
          |   (a, x) -> a + x) + 1e-9, 4) + 0.0 AS kl_corpus
          |FROM st JOIN tt USING (tok) JOIN ts USING (source) CROSS JOIN tot
          |GROUP BY st.source ORDER BY st.source""".stripMargin),
    // d07's simhash-pair + recursive-reachability machinery, then the
    // salted component hash decides the split (same h60-md5 form as c09)
    "c11_leakage_split" ->
      """WITH RECURSIVE l AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        | t AS (SELECT doc_id, unnest(toks) AS tok FROM l),
        | h AS (
        |  SELECT doc_id,
        |   CAST(CAST(('0x' || substr(md5(tok),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS hm
        |  FROM t),
        | g AS (SELECT doc_id, hm, count(*) AS cnt FROM h GROUP BY doc_id, hm),
        | b AS (
        |  SELECT doc_id, j,
        |   sum(CASE WHEN (hm >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS sgn
        |  FROM g, (SELECT unnest(range(0,30)) AS j) GROUP BY doc_id, j),
        | sig AS (
        |  SELECT doc_id,
        |   CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM b GROUP BY doc_id),
        | bands AS (
        |  SELECT doc_id, simhash, bd, (simhash >> (15*bd)) & 32767 AS bv
        |  FROM sig, (SELECT unnest(range(0,2)) AS bd)),
        | cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   any_value(a.simhash) AS sa, any_value(b.simhash) AS sb
        |  FROM bands a JOIN bands b ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        | pairs AS (
        |  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 1),
        | e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        | n AS (SELECT DISTINCT src AS id FROM e),
        | reach(id, r) AS (
        |  SELECT id, id FROM n
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        | comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        | sg AS (
        |  SELECT d.doc_id,
        |   CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS split_group
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        | pc AS (
        |  SELECT doc_id, split_group,
        |   CAST(CAST(('0x' || substr(md5('split' || CAST(split_group AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 100 AS pct
        |  FROM sg)
        |SELECT doc_id, split_group,
        | CASE WHEN pct < 90 THEN 'train' WHEN pct < 95 THEN 'val' ELSE 'test' END AS split
        |FROM pc ORDER BY doc_id""".stripMargin,
    // the s15 staged Lloyd replay with the per-cluster nearest-rank tail
    "c18_coreset_sample" ->
      Similarity.kmeansSql(k = 4, iters = 2, dim = 64, coresetPerCluster = 25),
    // the c11 simhash-pair + recursive-component machinery, then the
    // group-size count and the exact-integer IEEE division
    "c17_soft_dedup_weights" ->
      (softDedupCte +
        """
          |SELECT doc_id, dup_group, group_size,
          | CAST(1 AS DOUBLE) / group_size AS weight
          |FROM lab ORDER BY doc_id""".stripMargin),
    // the whole c17 chain + the Efraimidis-Spirakis order-statistic key
    "c19_weighted_sample" ->
      (softDedupCte +
        """,
          | wt AS (
          |  SELECT doc_id, dup_group,
          |   CAST(1 AS DOUBLE) / group_size AS weight
          |  FROM lab),
          | keyed AS (
          |  SELECT doc_id, dup_group, weight,
          |   round(pow(
          |     (CAST(CAST(('0x' || substr(md5('ws:' || doc_id),1,15)) AS UBIGINT)
          |       % 1048576 + 1 AS DOUBLE)) / 1048576.0,
          |     1.0 / weight) + 1e-9, 6) AS wkey
          |  FROM wt),
          | top AS (
          |  SELECT * FROM keyed ORDER BY wkey DESC, doc_id LIMIT 100)
          |SELECT CAST(row_number() OVER (ORDER BY wkey DESC, doc_id) AS BIGINT)
          |  AS sample_rank, doc_id, dup_group, weight, wkey
          |FROM top ORDER BY sample_rank""".stripMargin),
    "c01_decontaminate" ->
      (toksCte +
        """, g AS (
          |  SELECT DISTINCT doc_id,
          |   CAST(CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),1,15)) AS UBIGINT) AS BIGINT) AS h
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-6)) AS i FROM l)),
          | b AS (SELECT DISTINCT h FROM g WHERE doc_id % 20 = 0),
          | n AS (
          |  SELECT g.doc_id, count(*) AS hit
          |  FROM g JOIN b ON g.h = b.h
          |  WHERE g.doc_id % 20 != 0 GROUP BY g.doc_id)
          |SELECT d.doc_id,
          | CAST(coalesce(n.hit, 0) AS BIGINT) AS n_bad,
          | CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS contaminated
          |FROM documents d LEFT JOIN n ON d.doc_id = n.doc_id
          |WHERE d.doc_id % 20 != 0
          |ORDER BY d.doc_id""".stripMargin),
    "c06_decontaminate_bloom" ->
      (toksCte +
        """, g AS (
          |  SELECT DISTINCT doc_id,
          |   CAST(CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),1,15)) AS UBIGINT) AS BIGINT) AS h
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-6)) AS i FROM l)),
          | b AS (SELECT DISTINCT h FROM g WHERE doc_id % 20 = 0),
          | bad AS (
          |  SELECT DISTINCT g.doc_id FROM g JOIN b ON g.h = b.h
          |  WHERE g.doc_id % 20 != 0)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |WHERE d.doc_id % 20 != 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
          |ORDER BY d.doc_id""".stripMargin),
    "c07_temperature_sample" ->
      (toksCte +
        """, p AS (
          |  SELECT lang, CAST(sum(len(toks)) AS DOUBLE) AS tokens
          |  FROM l GROUP BY lang),
          | tt AS (SELECT sum(tokens) AS tot FROM p),
          | zz AS (SELECT sum(pow(tokens / tot, 0.5)) AS z FROM p, tt),
          | thr AS (
          |  SELECT lang,
          |   CAST(floor(least(1.0,
          |     pow(tokens / tot, 0.5) / z * 0.5 * tot / tokens) * 1e6 + 1e-7)
          |    AS BIGINT) AS thr
          |  FROM p, tt, zz)
          |SELECT d.doc_id, d.lang
          |FROM documents d JOIN thr ON d.lang = thr.lang
          |WHERE CAST(CAST(('0x' || substr(md5('temp' || CAST(d.doc_id AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 1000000 < thr.thr
          |ORDER BY d.doc_id""".stripMargin),
    "c02_pack_sequences" ->
      (toksCte +
        """, c AS (
          |  SELECT source, doc_id, len(toks) AS n_tok,
          |   sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
          |  FROM l)
          |SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
          | CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
          | CAST((cum - n_tok) % 512 AS BIGINT) AS start_off
          |FROM c ORDER BY source, doc_id""".stripMargin),
    "c03_stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        | r AS (SELECT lang, (min(cnt) OVER () * 1000000) // cnt AS thr FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(CAST(('0x' || substr(md5('samp' || CAST(d.doc_id AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 1000000 < r.thr
        |ORDER BY d.doc_id""".stripMargin,
    "c04_mixture_weights" ->
      (toksCte +
        """, p AS (
          |  SELECT lang, count(*) AS docs, sum(len(toks)) AS tokens
          |  FROM l GROUP BY lang),
          | t AS (SELECT sum(tokens) AS tot, count(*) AS nl FROM p)
          |SELECT lang, CAST(docs AS BIGINT) AS docs, CAST(tokens AS BIGINT) AS tokens,
          | round(CAST(tokens AS DOUBLE) / tot + 1e-9, 4) AS share,
          | round((CAST(tot AS DOUBLE) / nl) / tokens + 1e-9, 4) AS weight
          |FROM p, t ORDER BY lang""".stripMargin),
    "c08_rag_chunks" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        | s AS (SELECT doc_id, toks, len(toks) AS n FROM l WHERE len(toks) > 0),
        | st AS (
        |  SELECT doc_id, toks,
        |   unnest(range(0, greatest(n - 8 - 1, 0) + 1, 24)) AS start
        |  FROM s)
        |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
        | array_to_string(toks[start+1:start+32], ' ') AS chunk_text,
        | CAST(len(toks[start+1:start+32]) AS BIGINT) AS n_tok
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "c09_train_shards" ->
      """WITH a AS (
        | SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 8 AS shard,
        |  CAST(CAST(('0x' || substr(md5('shard:ord' || CAST(doc_id AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) AS ord
        | FROM documents)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
        |FROM a ORDER BY shard, pos""".stripMargin,
    "c10_dsir_weights" ->
      (toksCte +
        s""", u AS (SELECT doc_id, (lang = 'en') AS tgt, unnest(toks) AS tok FROM l),
          | f AS (
          |  SELECT tok, CAST(count(*) AS DOUBLE) AS ca,
          |   CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS ct
          |  FROM u GROUP BY tok),
          | t AS (SELECT sum(ca) AS ta, sum(ct) AS tt, CAST(count(*) AS DOUBLE) AS v FROM f),
          | sc AS (
          |  SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
          |   ${TextOps.foldMeanSql(
              "ln((f.ct + 0.5) / (t.tt + 0.5 * t.v)) - ln((f.ca + 0.5) / (t.ta + 0.5 * t.v))")} AS dsir_logratio
          |  FROM u JOIN f USING (tok), t GROUP BY u.doc_id)
          |SELECT doc_id, n_tok, dsir_logratio,
          | CAST(CASE WHEN dsir_logratio > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
          |FROM sc ORDER BY doc_id""".stripMargin),
    "c05_curation_pipeline" -> {
      val scores = TextAnalysis.stop
        .map { case (l, ws) => s"${TextAnalysis.duckCount(ws)} AS s_$l" }
        .mkString(",\n   ")
      val mx = "greatest(" + TextAnalysis.stop.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val pred = TextAnalysis.stop.reverse.foldLeft("'und'") { case (alt, (l, _)) =>
        s"CASE WHEN s_$l = mx AND mx > 0 THEN '$l' ELSE $alt END"
      }
      s"""WITH l AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS toks
         |  FROM documents),
         | sc AS (
         |  SELECT doc_id, lang, text, toks, len(toks) AS n_tok,
         |   $scores
         |  FROM l),
         | m AS (SELECT *, $mx AS mx FROM sc),
         | f AS (
         |  SELECT doc_id, lang, text, toks, CAST(n_tok AS BIGINT) AS n_tok
         |  FROM m WHERE n_tok >= 20 AND ($pred) = lang),
         | d AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM f),
         | dd AS (SELECT doc_id, lang, n_tok, toks FROM d WHERE rn = 1),
         | bg AS (
         |  SELECT DISTINCT
         |   CAST(CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),1,15)) AS UBIGINT) AS BIGINT) AS h
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-6)) AS i FROM l)
         |  WHERE doc_id % 20 = 0),
         | ce AS (
         |  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS ng
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-6)) AS i
         |        FROM dd WHERE doc_id % 20 != 0)),
         | cg AS (
         |  SELECT DISTINCT doc_id FROM ce
         |  WHERE CAST(CAST(('0x' || substr(md5(ng),1,15)) AS UBIGINT) AS BIGINT) IN (SELECT h FROM bg))
         |SELECT doc_id, lang, n_tok FROM dd
         |WHERE doc_id % 20 != 0 AND doc_id NOT IN (SELECT doc_id FROM cg)
         |ORDER BY doc_id""".stripMargin
    },
    "c12_perplexity_buckets" ->
      (toksCte +
        s""", b AS (
          |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg, toks[i] AS t1
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM l)),
          | fb AS (SELECT bg, CAST(count(*) AS DOUBLE) AS cb FROM b GROUP BY bg),
          | ff AS (SELECT t1, CAST(count(*) AS DOUBLE) AS cf FROM b GROUP BY t1),
          | sc AS (
          |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_big,
          |   ${TextOps.foldMeanSql("-ln(fb.cb / ff.cf)")} AS bi_surprise
          |  FROM b JOIN fb USING (bg) JOIN ff USING (t1)
          |  GROUP BY b.doc_id),
          | h AS (SELECT bi_surprise AS s, count(*) AS c FROM sc GROUP BY 1),
          | cm AS (SELECT s, CAST(sum(c) OVER (ORDER BY s) AS BIGINT) AS cum FROM h),
          | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc)
          |SELECT sc.doc_id, sc.n_big, sc.bi_surprise,
          | CASE WHEN cm.cum * 3 <= n.n THEN 'head'
          |      WHEN cm.cum * 3 <= n.n * 2 THEN 'middle'
          |      ELSE 'tail' END AS bucket
          |FROM sc JOIN cm ON sc.bi_surprise = cm.s CROSS JOIN n
          |ORDER BY sc.doc_id""".stripMargin),
    // c13: the straightforward global form — ONE cumulative window over
    // (h, doc_id) order; the Spark side's bucketed decomposition must keep
    // the identical set. h is the c03/c09 md5-60bit salted hash; budget is
    // integer floor(T*2/5).
    "c13_token_budget" ->
      (toksCte +
        """, n AS (
          |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
          |   CAST(CAST(('0x' || substr(md5('budget' || CAST(doc_id AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) AS h
          |  FROM l),
          | t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tt FROM n),
          | c AS (
          |  SELECT doc_id, n_tok,
          |   CAST(coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
          |  FROM n)
          |SELECT c.doc_id, c.n_tok FROM c CROSS JOIN t
          |WHERE c.cb < (t.tt * 2) // 5
          |ORDER BY c.doc_id""".stripMargin)
    )
}
