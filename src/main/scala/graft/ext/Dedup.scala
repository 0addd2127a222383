package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import TextOps._

/** Training-data deduplication surface over the `documents` table.
  *
  * Five independent dedup strategies, each a first-class query with a DuckDB
  * oracle (BASELINE.json gate). The reference pipeline has no dedup — these
  * are the LLM-data-pipeline extensions the engine adds on top of the
  * reference's event-shipping scope (SURVEY.md §2.8).
  *
  * Scale design (100 TB): every strategy is one explode + one hash-partitioned
  * aggregation/join on a key whose cardinality grows with the data (shingle
  * hash, band signature, simhash) — never an all-pairs product. Candidate
  * pairs only materialize inside a bucket/block, which is the standard
  * MinHash-LSH trick for making near-dup detection linear-ish in corpus size.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  /** Content-addressed per-dir simhash SIGNATURE TABLE — the persisted
    * 8-byte/doc fingerprint relation shared by the five 2×15-band consumers
    * (d06/d07/d11/d16/c11), built AT MOST ONCE per dir (the q38 layout_s
    * discipline: Bench times the one-time build in its `sigs` section; the
    * sweeps then measure the band-join/component/argmax plans a deployment
    * actually re-runs against the stored table). Addressed by the dir's
    * [[graft.Tables.dirHash]] PLUS the stat+footer fingerprint of
    * documents.parquet, so a regenerated corpus under an unchanged path
    * gets a fresh table.
    * Signatures are integers ([[DedupOps.withSimhash]]), so the table is
    * bit-identical to the inline computation (DedupOpsSpec pins pairs
    * parity) and every oracle row stays exact. */
  private[ext] def simhashSigTable(s: SparkSession, dir: String): DataFrame =
    Tables.cachedDerived(s, dir, "documents", "simhash_30")(
      DedupOps.withSimhash(
          docs(s, dir).select(col("doc_id"), col("text")), "text", "simhash", 30)
        .select(col("doc_id"), col("simhash")))

  /** Content-addressed per-dir MinHash BAND-POSTING table — the
    * [[simhashSigTable]] discipline extended to the MinHash family
    * (round-13 NEXT #3): the (doc_id, band, bsig) relation of the d02
    * configuration (16 affine hm-permutations, 4 bands × 4 rows, word
    * 3-shingles), built at most once per dir-content and persisted SORTED
    * on the (band, bsig) join/window key, so every consumer (d02's greedy
    * keep, d09's cross-corpus semi-join) re-runs only the band-bucket
    * plan a deployment runs against its stored index — not the
    * tokenize+shingle+16-min signature pass. Postings are integers/strings
    * of integers, so the table is bit-identical to the inline computation
    * (DedupOpsSpec pins parity) and every oracle row stays exact. d09's
    * corpus/reference SPLIT commutes with posting construction (postings
    * are per-doc), so both sides filter the one shared table. */
  private[ext] def minhashPostTable(s: SparkSession, dir: String): DataFrame =
    Tables.cachedDerived(s, dir, "documents", "minhash_post_16x4x4_sh3")(
      DedupOps.bandPostings(docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", bands = 4, rowsPerBand = 4, shingleLen = 3)
        .repartitionByRange(col("band"), col("bsig"))
        .sortWithinPartitions(col("band"), col("bsig")))

  /** Content-addressed per-dir distinct (doc, 60-bit shingle hash) relation
    * — the d12 sketch-accuracy serving table: the tokenize + 3-shingle +
    * h60 + distinct pass is the expensive half of
    * [[DedupOps.minhashEstimates]]; signatures, band postings, and the
    * exact intersection all re-derive from this relation with keyed
    * aggregations only. Sorted by (__id, __h) for the per-doc folds. */
  private[ext] def minhashHashTable(s: SparkSession, dir: String): DataFrame =
    Tables.cachedDerived(s, dir, "documents", "minhash_h60_sh3")(
      DedupOps.minhashShingleHashes(
          docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text",
          shingleLen = 3)
        .repartitionByRange(col("__id"))
        .sortWithinPartitions(col("__id"), col("__h")))

  /** The shared 2×15-band Hamming-1 pair relation over [[simhashSigTable]]. */
  private[ext] def sigPairs(s: SparkSession, dir: String): DataFrame =
    DedupOps.simhashPairsFromSigs(simhashSigTable(s, dir), "doc_id", "simhash",
      bands = 2, bitsPerBand = 15, maxHamming = 1)

  /** Content-addressed per-dir COMPONENT-LABEL table over [[sigPairs]] —
    * the (id, component, group_size) relation of the d06 near-dup graph,
    * persisted with the [[simhashSigTable]] discipline (round-16 verdict
    * #3): the c17/c19/d07 consumers each re-ran the pair join + the
    * union-find/min-label component fold PER INVOCATION (at the 100×
    * scale-up c19 spent 31 s rebuilding this chain every call), while the
    * labels are a pure function of the signature table the store already
    * content-addresses. Keyed on the documents.parquet stat+footer
    * fingerprint (through [[graft.Tables.cachedDerived]]), so a
    * regenerated corpus rebuilds and repeat invocations in one JVM — or a
    * later JVM on the same dir — run ZERO pair-stage jobs: the steady
    * state is one parquet scan of a pair-graph-sized relation.
    * Labels/sizes are exact integers, bit-identical to the inline
    * computation (PlanSpec pins the zero-job serving; the oracle rows stay
    * exact because the values are unchanged). Only ids that appear in the
    * pair graph have rows — unpaired docs are size-1 by construction and
    * never enter the table (the [[CurationOps.softDedupWeights]] left-join
    * contract). */
  private[ext] def sigComponentsTable(s: SparkSession, dir: String): DataFrame =
    Tables.cachedDerived(s, dir, "documents", "simhash_comp_2x15h1") {
      val comp = DedupOps.connectedComponents(sigPairs(s, dir), "id_a", "id_b")
      val sizes = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("group_size"))
      comp.join(sizes, Seq("component"))
        .select(col("id"), col("component"), col("group_size"))
    }

  // ---------------------------------------------------------------- d01
  /** Exact dedup: group by md5(text) — grouping on the 128-bit digest instead
    * of the full text keeps shuffle rows tiny at 100 TB (32 bytes vs ~kB). */
  val d01ExactDedup: Q = (s, dir) => {
    import s.implicits._
    docs(s, dir)
      .groupBy(md5($"text").as("digest"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  // ---------------------------------------------------------------- d02
  /** MinHash + LSH near-dup dedup: word 3-shingles → 16 affine minhash
    * permutations → 4 bands of 4 → band-signature buckets. A doc is kept iff
    * no smaller doc_id shares any band bucket (greedy keep-first).
    *
    * Serves the PERSISTED [[minhashPostTable]] (built once per dir-content;
    * Bench times that build in its `sigs` section), so the steady-state
    * plan is what a deployment re-runs against its stored index: one
    * band-bucket window + one doc-keyed aggregation over the (band,
    * bsig)-sorted posting relation — keys whose cardinality scales with
    * the corpus, no quadratic blowup. The inline signature construction
    * lives in [[DedupOps.bandPostings]] (DedupOpsSpec pins served ≡ inline
    * bit-exact). */
  val d02MinhashLsh: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"band", $"bsig")
    minhashPostTable(s, dir)
      .withColumn("mn", min($"__id").over(w))
      .groupBy($"__id")
      .agg(min($"mn").as("gmin"))
      .select($"__id".as("doc_id"),
        when($"gmin" === $"__id", 1L).otherwise(0L).as("kept"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d03
  /** SimHash fingerprint: per-token 30-bit md5 hash, bit-majority weighted by
    * token frequency → one 30-bit fingerprint per doc. Near-dup docs land on
    * nearby (often equal) fingerprints; grouping on the fingerprint is the
    * scale path (no pairs). */
  val d03Simhash: Q = (s, dir) => {
    import s.implicits._
    val th = docs(s, dir)
      .withColumn("tk", toks($"text")) // outer explode: no inferred-filter re-eval (see d02)
      .select($"doc_id", explode_outer($"tk").as("tok"))
      .filter($"tok".isNotNull)
      .select($"doc_id", hm($"tok").as("hm"))
      .groupBy($"doc_id", $"hm").agg(count(lit(1)).as("cnt"))
    th.select($"doc_id", $"hm", $"cnt", explode(sequence(lit(0), lit(29))).as("j"))
      .withColumn("contr",
        when(expr("(shiftright(hm, j) & 1)") === 1, $"cnt").otherwise(-$"cnt"))
      .groupBy($"doc_id", $"j").agg(sum($"contr").as("sgn"))
      .groupBy($"doc_id")
      .agg(sum(when($"sgn" > 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
        .otherwise(0L)).as("simhash"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d04
  /** N-gram Jaccard near-dup pairs: distinct word 3-shingles per doc, blocked
    * by `lang`, candidate pairs generated ONLY by co-occurring shingles (an
    * inverted-index join — the all-pairs product never materializes), exact
    * Jaccard |A∩B| / (|A|+|B|−|A∩B|) ≥ 0.5 reported.
    *
    * Jaccard is a ratio of integers, so the 0.5 threshold is float-safe. */
  val d04NgramJaccard: Q = (s, dir) => {
    import s.implicits._
    // Delegates to the size-adaptive library operator: below the switch the
    // count-based inverted-index plan runs (single scan, hash-joined 8-byte
    // shingle hashes, ReusedExchange self-join, sizes riding on the shingle
    // rows — see DedupOps.jaccardPairs); past it, the PPJoin prefix variant
    // with the document-frequency cap takes over (rarest-first prefixes +
    // stop filter — the hot-shingle defense that survives a boilerplate
    // shingle shared by 1% of a 100 TB corpus, see DedupOps.prefixParts).
    // At the oracle SFs the switch picks the count-based plan, so the DuckDB
    // compare exercises the same numbers either way.
    DedupOps.jaccardPairsAuto(docs(s, dir), "doc_id", "text", "lang", 0.5)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b"),
        round($"jaccard", 4).as("jacc"))
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------- d05
  /** Embedding-cosine near-dup pairs: vectors blocked by `label` (the coarse
    * cluster id), exact double-precision cosine within each block, pairs with
    * round(cos,4) ≥ 0.35. Blocking caps the pair count at Σ block², the
    * standard trade for avoiding the full n² product at scale. */
  val d05EmbeddingNearDup: Q = (s, dir) => {
    import s.implicits._
    // Delegates to the adaptive library operator (like d04): the switch
    // routes by threshold first, size second — at this WEAK threshold (0.35,
    // per-plane agreement p≈0.61) the label-blocked exact plan is the
    // measured right pick at any size below block-outgrows-memory, while
    // near-dup-threshold callers past the size switch get the banded-LSH
    // plan whose buckets subdivide every label block (DedupOps
    // .cosinePairsAuto). Pre-filter at 0.3495 < 0.34995: every pair whose
    // round(cos,4) ≥ 0.35 survives it, so the rounded post-filter below is
    // exactly d05's oracle predicate.
    DedupOps.cosinePairsAuto(Tables.loadSpread(s, dir, "embeddings"),
        "vec_id", "embedding", Some("label"), 0.3495)
      .withColumn("cos", round($"cosine", 4))
      .filter($"cos" >= 0.35)
      .select($"id_a".as("vec_a"), $"id_b".as("vec_b"), $"cos")
      .orderBy($"vec_a", $"vec_b")
  }

  // ---------------------------------------------------------------- d06
  /** SimHash Hamming near-dup pairs: d03's 30-bit fingerprint, banded 2×15
    * bits (the fewest-widest banding the Hamming-1 budget allows — see the
    * band-sizing note on [[DedupOps.simhashPairs]]; 3×10 produced 6.3× the
    * candidates for the same exact output), pairs within Hamming distance 1
    * via the band equi-join index (exact by pigeonhole). The scale path
    * d03's equal-fingerprint grouping can't provide: near-misses in ≤1 bit
    * surface as pairs without any all-pairs product. */
  val d06SimhashHamming: Q = (s, dir) => {
    import s.implicits._
    sigPairs(s, dir)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"hamming")
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------- d07
  /** Near-dup clusters: connected components over d06's Hamming-pair graph,
    * labeling every paired doc with its component's minimum doc_id. The
    * DuckDB twin computes reachability with a recursive CTE — an
    * independent fixpoint formulation proving the iterative min-label
    * propagation ([[DedupOps.connectedComponents]]) labels identically. */
  val d07NearDupComponents: Q = (s, dir) => {
    import s.implicits._
    // serves the persisted [[sigComponentsTable]] (round-17): the steady
    // state a deployment re-runs is one scan of the stored label relation,
    // not the pair join + component fold — values are identical integers
    sigComponentsTable(s, dir)
      .select($"id".as("doc_id"), $"component")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d11
  /** Duplicate-cluster statistics — the dedup REPORT every pipeline
    * publishes next to its keep set: cluster-size histogram over the d06
    * near-dup component structure, singletons included (a doc with no
    * near-dup is a size-1 cluster). `n_docs` per size row sums to the
    * corpus count; `cluster_size > 1` rows quantify the dup mass the d02/
    * d07 collapse would remove. All-integer output. The DuckDB twin reuses
    * the c11 recursive-reachability machinery, then the same histogram. */
  val d11DupStats: Q = (s, dir) => {
    import s.implicits._
    // serves the persisted [[sigComponentsTable]] (round-17) — the
    // histogram re-runs two keyed aggs, never the pair stage
    DedupOps.componentStatsFromLabels(docs(s, dir), "doc_id",
      sigComponentsTable(s, dir))
      .orderBy($"cluster_size")
  }

  // ---------------------------------------------------------------- d08
  /** Exact-substring span masking over the corpus (8-token windows repeated
    * in ≥ 2 distinct docs) — the oracle row for
    * [[DedupOps.maskRepeatedSpans]]: both engines must agree on every
    * masked position and every byte of rebuilt text. */
  val d08SpanMask: Q = (s, dir) => {
    import s.implicits._
    DedupOps.maskRepeatedSpans(docs(s, dir), "doc_id", "text", n = 8, minDocs = 2)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d09
  /** Cross-corpus near-dup decontamination on the c01 id-split (reference =
    * every 20th doc) — the oracle row for
    * [[DedupOps.dropNearDuplicatesAgainst]]: both engines must agree on
    * exactly which corpus docs share a MinHash band bucket with the
    * reference slice. */
  val d09CrossCorpusNearDup: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    // the corpus/reference split commutes with posting construction
    // (postings are per-doc), so both sides filter the ONE persisted
    // posting table instead of re-running the signature pass twice
    val posts = minhashPostTable(s, dir)
    DedupOps.dropNearDuplicatesAgainstFromPostings(
        d.filter($"doc_id" % 20 =!= 0),
        posts.filter($"__id" % 20 =!= 0), posts.filter($"__id" % 20 === 0),
        "doc_id")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d10
  /** Corpus-level line dedup — the oracle row for [[DedupOps.dedupLines]].
    * The corpus has no newlines, so the query line-ifies deterministically
    * (a line break every 8 tokens — the t08/t13 synthetic-injection
    * pattern, replayed by the oracle): both engines must agree on every
    * surviving line, every rebuilt text byte, and the kept/removed counts.
    * Replica docs (the d01 exact-dup population) guarantee repeated lines
    * exist. */
  val d10LineDedup: Q = (s, dir) => {
    import s.implicits._
    val lineified = docs(s, dir)
      .withColumn("__tk", toks($"text"))
      .withColumn("text8",
        array_join(
          transform(
            sequence(lit(0),
              greatest(ceil(size($"__tk") / lit(8.0)).cast("int"), lit(1)) - 1),
            g => array_join(slice($"__tk", g * lit(8) + 1, lit(8)), " ")),
          "\n"))
      .select($"doc_id", $"text8")
    DedupOps.dedupLines(lineified, "doc_id", "text8").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d12
  /** MinHash sketch accuracy audit — [[DedupOps.minhashEstimates]] on the
    * d02 configuration: per LSH candidate pair, the sketch estimate
    * (equal components / 16) NEXT TO the exact Jaccard over the distinct
    * 3-shingle sets, both md5-derived and DuckDB-replayed bit-for-bit —
    * the oracle-checkable counterpart to q26's engine-specific sketches. */
  val d12MinhashAccuracy: Q = (s, dir) => {
    import s.implicits._
    // serve the persisted distinct (doc, h60 shingle hash) relation — the
    // expensive tokenize+shingle half; signatures, postings and the exact
    // intersection re-derive with keyed aggregations (bit-identical)
    DedupOps.minhashEstimatesFromHashes(minhashHashTable(s, dir))
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------- d14
  /** Containment-pair audit — [[DedupOps.containmentPairs]] on the d04
    * blocking (lang) at threshold 0.8: the asymmetric C(A→B) = |A∩B|/|A|
    * report that catches excerpt/superset duplication symmetric Jaccard
    * misses. The corpus's exact duplicates surface at containment 1.0 in
    * BOTH directions; near-supersets only in one. */
  val d14ContainmentPairs: Q = (s, dir) => {
    import s.implicits._
    DedupOps.containmentPairs(docs(s, dir), "doc_id", "text", "lang", 0.8)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"n_inter",
        $"n_a", $"n_b", $"cont_a_in_b", $"cont_b_in_a")
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------- d13
  /** CDC duplicate audit — [[DedupOps.cdcChunkStats]] at the default
    * 8-char window / divisor 64 (expected ~64-char chunks): per doc, how
    * many content-defined chunks it carries and how many are byte-
    * identical to a chunk of ANOTHER doc. The corpus's engineered exact
    * duplicates surface at dup_frac 1.0; partially-copied docs surface at
    * the copied fraction — per chunk, not per doc. */
  val d13CdcChunks: Q = (s, dir) => {
    import s.implicits._
    DedupOps.cdcChunkStats(docs(s, dir), "doc_id", "text")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d15
  /** Oracle-checkable SemDeDup — the oracle twin of
    * [[DedupOps.semanticDedup]]. That operator clusters with
    * [[Similarity.trainCoarse]], whose means are the same id-sorted Lloyd
    * fold as every trainer here (the same bits at every partitioning), but
    * whose md5 training sample and corpus-sized nlist are not staged in
    * the DuckDB twin; it stays spec-covered. This row clusters with the
    * s15-pinned [[Similarity.kmeansFit]] over UNIT vectors — L2 argmin on
    * the unit sphere IS the cosine clustering (d² = 2 − 2·cos) — so the
    * whole pipeline (normalize → Lloyd → assign → within-cluster cosine
    * pairs → drop the higher id of every pair) replays in DuckDB
    * bit-for-bit. Output: the SURVIVORS with their cluster id.
    *
    * Scale shape: training is slice-bounded; assignment is the
    * plan-literal projection; pairs materialize only inside clusters
    * (corpus²/nlist expected work — the SemDeDup candidate-bounding
    * story); the drop set joins back id-keyed. */
  val d15SemanticDedup: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    val uv = Similarity.unitVecs(e, "vec_id", "embedding", "vec_id")
    // cluster model memoized per dir-content (round 20, Similarity
    // .cachedFit): the corpus maintains its SemDeDup clustering once, the
    // dedup pass is the per-run job; kmeansFit is bit-replayable so the
    // rows are identical hit or miss. Bench times the fit in `train`.
    val cents = Similarity.cachedFit("d15", dir)(
      Similarity.kmeansFit(uv.filter($"vec_id" < 256), "vec_id", "__u",
        k = 8, iters = 2))
    val asg = Similarity.kmeansAssign(uv, "vec_id", "__u", cents)
      .select($"vec_id", $"cluster")
    val withCid = e.join(asg, Seq("vec_id"))
    // round 21 (guide §2.3/§2.4): the drop set via the block-keyed
    // CosineDropAgg aggregation — bit-identical to the cosinePairs
    // self-join it replaces (DedupOpsSpec pins the equivalence), with the
    // cluster rows shuffled once instead of Σ cluster² pair rows carrying
    // two embedding payloads each through the join
    val drop = DedupOps.cosineDropIds(withCid, "vec_id", "embedding", "cluster", 0.35)
      .select($"id_b".as("vec_id"))
    withCid.join(drop, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cluster").orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- d16
  /** Quality-aware near-dup resolution — the oracle row for
    * [[DedupOps.keepBestPerGroup]]: the c11 simhash pair graph, components
    * by the d07 recursive fixpoint, then keep the LONGEST member of every
    * group (token count DESC, doc_id ASC) instead of c11/d02's lowest-id
    * rule — both engines must agree on every survivor AND its group label.
    * Scores are exact integers, so the argmax replays trivially. */
  val d16KeepBestDedup: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val scored = d.withColumn("n_tok", size(toks($"text")).cast("long"))
    // serves the persisted [[sigComponentsTable]] (round-17) — only the
    // keep-best window and the label join run per invocation
    DedupOps.keepBestPerGroupFromLabels(scored, "doc_id", "n_tok",
      sigComponentsTable(s, dir))
      .select($"doc_id", $"dup_group", $"n_tok")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d17
  /** URL canonicalization + canonical-URL dedup — the provenance-keyed
    * dedup step a web corpus runs BEFORE any content hashing (the same
    * page recrawled under `www.`/default-port/fragment/tracking-param
    * variants is the cheapest duplicate class to kill, and no text-level
    * method needs to see it). [[DedupOps.canonicalizeUrl]] normalizes:
    * lowercase scheme+host, strip `www.` and the scheme's default port,
    * drop the fragment, drop `utm_*`/`fbclid`/`gclid` tracking params,
    * sort the surviving query params, strip trailing path slashes. Keep
    * the lowest doc_id per canonical URL.
    *
    * The oracle injects deterministic synthetic provenance URLs derived
    * from doc_id (the t08/t13 pattern — the corpus has none): five variant
    * classes per 10-host cycle, engineered so classes 0+1 and 2+3
    * canonicalize together across case/www/port/fragment/tracking noise.
    * Pure string/integer outputs — exact in any engine.
    *
    * Scale shape: canonicalization is a shuffle-free codegen'd projection;
    * the dedup is one window partitioned by the canonical URL (group
    * sizes are recrawl multiplicities — tiny), the d02 band-window
    * shape. */
  val d17UrlDedup: Q = (s, dir) => {
    import s.implicits._
    val base = concat(lit("site"), pmod($"doc_id", lit(10)).cast("string"),
      lit(".example.com"))
    val url = when(pmod($"doc_id", lit(5)) === 0,
        concat(lit("https://"), base, lit("/a/b")))
      .when(pmod($"doc_id", lit(5)) === 1,
        concat(lit("HTTPS://WWW."), upper(base), lit(":443/a/b#frag")))
      .when(pmod($"doc_id", lit(5)) === 2,
        concat(lit("https://"), base, lit("/a/b?utm_source=x&b=2&a=1")))
      .when(pmod($"doc_id", lit(5)) === 3,
        concat(lit("https://"), base, lit("/a/b?a=1&b=2&gclid=zzz")))
      .otherwise(concat(lit("http://"), base, lit(":80/c/")))
    DedupOps.dedupByCanonicalUrl(
        docs(s, dir).select($"doc_id", url.as("url")), "doc_id", "url")
      .select($"doc_id", $"canon_url", $"kept", $"n_copies")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- d18
  /** The PRODUCTION cluster-sizing rule under oracle (round-17 verdict
    * #6): d15 pins the deterministic SemDeDup pipeline at the FIXED
    * witness k = 8, but [[DedupOps.semanticDedup]]'s production default
    * derives `nlist` from the corpus via
    * [[DedupOps.semanticDedupNlist]] — `max(16, min(4096,
    * ceil(n / 4096)))` — the rule that keeps in-cluster pair work linear
    * at 100 TB. This row runs the SAME deterministic pipeline with k
    * computed by that exact integer rule from count(*), and the DuckDB
    * twin recomputes k from its own count(*) with the identical integer
    * arithmetic — so the corpus-PROPORTIONAL path has a green row at
    * every scale (k = 16 at both gate scales, 49 at the 100× probe)
    * instead of only spec coverage. The training slice widens with k
    * (`vec_id < max(256, k)` — Lloyd needs at least k seed rows) and
    * both engines derive the same bound. */
  val d18SemanticDedupAuto: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    val k = DedupOps.semanticDedupNlist(
      Tables.cachedCount(s, dir, "embeddings"))
    val uv = Similarity.unitVecs(e, "vec_id", "embedding", "vec_id")
    // the auto-nlist fit IS the s38 IVF-leg coarse model (same slice, same
    // k rule, same deterministic kmeansFit) — serve it from that memo
    // (round 20) instead of re-running Lloyd per invocation; bit-identical
    // by construction, one model per corpus content across d18 and s38
    val cents = Similarity.ivfLegModel(s, dir, k)
    val asg = Similarity.kmeansAssign(uv, "vec_id", "__u", cents)
      .select($"vec_id", $"cluster")
    val withCid = e.join(asg, Seq("vec_id"))
    // round 21: same CosineDropAgg re-plan as d15 (bit-identical drop set,
    // one cluster-keyed exchange instead of the pair-materializing join)
    val drop = DedupOps.cosineDropIds(withCid, "vec_id", "embedding", "cluster", 0.35)
      .select($"id_b".as("vec_id"))
    withCid.join(drop, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cluster").orderBy($"vec_id")
  }

  val queries: Map[String, Q] = Map(
    "d18_semantic_dedup_auto" -> d18SemanticDedupAuto,
    "d17_url_dedup" -> d17UrlDedup,
    "d16_keepbest_dedup" -> d16KeepBestDedup,
    "d15_semantic_dedup" -> d15SemanticDedup,
    "d13_cdc_chunks" -> d13CdcChunks,
    "d14_containment" -> d14ContainmentPairs,
    "d01_exact_dedup" -> d01ExactDedup,
    "d10_line_dedup" -> d10LineDedup,
    "d12_minhash_accuracy" -> d12MinhashAccuracy,
    "d02_minhash_lsh" -> d02MinhashLsh,
    "d03_simhash" -> d03Simhash,
    "d04_ngram_jaccard" -> d04NgramJaccard,
    "d05_embedding_neardup" -> d05EmbeddingNearDup,
    "d06_simhash_hamming" -> d06SimhashHamming,
    "d07_neardup_components" -> d07NearDupComponents,
    "d08_span_mask" -> d08SpanMask,
    "d09_crosscorpus_neardup" -> d09CrossCorpusNearDup,
    "d11_dup_stats" -> d11DupStats)

  /** Shared DuckDB SQL prelude: tokens per doc (same split + empty-filter as
    * [[TextOps.toks]]). */
  private val toksCte =
    """WITH l AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  /** The d13 boundary hash as a direct window sum: for window end `p`,
    * Σ unicode(ch[p−d]) · 31^d mod (2³¹−1) over d = 7…0 — each term
    * reduced mod M before the sum (sum of 8 sub-M terms fits BIGINT), so
    * it equals [[graft.functions.CdcBoundaries]]'s rolling value exactly.
    * Power literals come from the SAME powMod the expression uses —
    * the two engines cannot drift. Every unicode() is cast to BIGINT
    * first: DuckDB INTEGER×INTEGER overflow ERRORS rather than wraps. */
  private val cdcWindowHashSql: String =
    (7 to 0 by -1).map { d =>
      val ref = if (d == 0) "p" else s"p-$d"
      s"CAST(unicode(ch[$ref]) AS BIGINT) * ${graft.functions.CdcBoundaries.powMod(d)} % 2147483647"
    }.mkString("(", " + ", ") % 2147483647")

  /** Generated DuckDB twin of [[d15SemanticDedup]]: unit-normalize, the
    * s15 Lloyd staging (lowest-id seeds, argmin CTEs, id-sorted element
    * fold means) over the unit-vector slice, whole-table argmin
    * assignment, within-cluster raw-cosine pairs (the d05 expression on
    * the ORIGINAL vectors), and the higher-id drop — every float the same
    * expression shape the s15/s01/d05 oracles already prove exact. */
  private def d15Sql(k: Int, iters: Int, dim: Int, threshold: Double): String =
    semanticDedupSql(k.toString, iters, dim, threshold)

  /** [[d15Sql]] with the cluster count as a SQL EXPRESSION over the
    * corpus row count `n` (the `kk` CTE evaluates it against
    * `SELECT count(*) AS n FROM er`), so the d18 twin can replay
    * [[DedupOps.semanticDedupNlist]]'s integer rule from its own
    * count(*). The Lloyd staging is k-independent (the argmin folds GROUP
    * BY over whatever c_r holds), so only the seed CTE and the training
    * slice consume k. */
  private def semanticDedupSql(kSql: String, iters: Int, dim: Int,
      threshold: Double): String = {
    def d2(v: String, cv: String) =
      s"(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)) + list_dot_product($cv, $cv)"
    val zeros = s"list_transform(range(1, ${dim + 1}), i -> CAST(0 AS DOUBLE))"
    val rounds = (1 to iters).map { r =>
      val prev = s"c${r - 1}"
      s""" a$r AS MATERIALIZED (
         |  SELECT t.vec_id, (min({'d': ${d2("t.v", "c.v")}, 'c': c.cl})).c AS cl
         |  FROM tr t, $prev c GROUP BY t.vec_id),
         | m$r AS MATERIALIZED (
         |  SELECT cl, list_transform(s, z -> z / n) AS v FROM (
         |   SELECT a.cl, count(*) AS n,
         |    list_reduce(list_prepend($zeros, list(t.v ORDER BY t.vec_id)),
         |      (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS s
         |   FROM a$r a JOIN tr t USING (vec_id) GROUP BY a.cl) q2),
         | c$r AS MATERIALIZED (
         |  SELECT $prev.cl, coalesce(m$r.v, $prev.v) AS v
         |  FROM $prev LEFT JOIN m$r USING (cl)),""".stripMargin
    }.mkString("\n")
    s"""WITH er AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |   sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
       |  FROM embeddings),
       | kk AS (SELECT $kSql AS k FROM (SELECT count(*) AS n FROM er)),
       | u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM er),
       | tr AS (SELECT vec_id, v FROM u
       |  WHERE vec_id < (SELECT GREATEST(256, k) FROM kk)),
       | c0 AS MATERIALIZED (
       |  SELECT cl, v FROM (
       |   SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
       |   FROM tr) z
       |  WHERE cl < (SELECT k FROM kk)),
       |$rounds
       | asg AS MATERIALIZED (
       |  SELECT t.vec_id, (min({'d': ${d2("t.v", "c.v")}, 'c': c.cl})).c AS cid
       |  FROM u t, c$iters c GROUP BY t.vec_id),
       | pr AS (
       |  SELECT DISTINCT ay.vec_id AS id_b
       |  FROM asg ax JOIN asg ay ON ax.cid = ay.cid AND ax.vec_id < ay.vec_id
       |  JOIN er x ON x.vec_id = ax.vec_id
       |  JOIN er y ON y.vec_id = ay.vec_id
       |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= $threshold)
       |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster
       |FROM asg a WHERE a.vec_id NOT IN (SELECT id_b FROM pr)
       |ORDER BY a.vec_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // same injected provenance URLs, same canonicalization chain (RE2-safe
    // regex subset — no backrefs/lookaround — so both dialects agree),
    // same canonical-URL window
    "d17_url_dedup" ->
      """WITH u0 AS (
        |  SELECT doc_id,
        |   CASE doc_id % 5
        |    WHEN 0 THEN 'https://site' || (doc_id % 10) || '.example.com/a/b'
        |    WHEN 1 THEN 'HTTPS://WWW.' || upper('site' || (doc_id % 10) || '.example.com') || ':443/a/b#frag'
        |    WHEN 2 THEN 'https://site' || (doc_id % 10) || '.example.com/a/b?utm_source=x&b=2&a=1'
        |    WHEN 3 THEN 'https://site' || (doc_id % 10) || '.example.com/a/b?a=1&b=2&gclid=zzz'
        |    ELSE 'http://site' || (doc_id % 10) || '.example.com:80/c/'
        |   END AS url
        |  FROM documents),
        | p AS (
        |  SELECT doc_id, url,
        |   lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
        |   regexp_replace(lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 2)), '^www\.', '') AS h1,
        |   regexp_replace(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 3), '/+$', '') AS pth,
        |   regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$', 4) AS q0
        |  FROM u0),
        | c AS (
        |  SELECT doc_id, url, scheme,
        |   CASE WHEN scheme = 'http' THEN regexp_replace(h1, ':80$', '')
        |        WHEN scheme = 'https' THEN regexp_replace(h1, ':443$', '')
        |        ELSE h1 END AS host, pth,
        |   coalesce(array_to_string(list_sort(list_filter(
        |     string_split(regexp_replace(q0, '^\?', ''), '&'),
        |     x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)='))), '&'), '') AS qq
        |  FROM p),
        | canon AS (
        |  SELECT doc_id,
        |   CASE WHEN scheme = '' OR host = '' THEN url
        |        ELSE scheme || '://' || host || pth ||
        |         CASE WHEN qq = '' THEN '' ELSE '?' || qq END END AS canon_url
        |  FROM c)
        |SELECT doc_id, canon_url,
        | CAST(doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS BIGINT) AS kept,
        | count(*) OVER (PARTITION BY canon_url) AS n_copies
        |FROM canon ORDER BY doc_id""".stripMargin,
    // the c11 simhash-pair + recursive-component machinery, then the
    // keep-best argmax (n_tok DESC, doc_id ASC) per group — integer scores,
    // so the winner replays exactly
    "d16_keepbest_dedup" ->
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
        | sc AS (
        |  SELECT l.doc_id,
        |   CAST(coalesce(c.component, l.doc_id) AS BIGINT) AS dup_group,
        |   CAST(len(l.toks) AS BIGINT) AS n_tok
        |  FROM l LEFT JOIN comp c ON l.doc_id = c.id),
        | best AS (
        |  SELECT doc_id, dup_group, n_tok,
        |   row_number() OVER (PARTITION BY dup_group
        |     ORDER BY n_tok DESC, doc_id) AS rk
        |  FROM sc)
        |SELECT doc_id, dup_group, n_tok FROM best WHERE rk = 1
        |ORDER BY doc_id""".stripMargin,
    "d15_semantic_dedup" -> d15Sql(k = 8, iters = 2, dim = 64, threshold = 0.35),
    // the same deterministic pipeline with k derived from count(*) by the
    // EXACT semanticDedupNlist integer rule — `//` is DuckDB integer
    // division, matching Scala's Long `(n + 4095) / 4096`
    "d18_semantic_dedup_auto" -> semanticDedupSql(
      kSql = "CAST(GREATEST(16, LEAST(4096, (n + 4095) // 4096)) AS INTEGER)",
      iters = 2, dim = 64, threshold = 0.35),
    // the c11 recursive-reachability machinery (same simhash pairs, same
    // component fixpoint), then the all-integer cluster-size histogram
    "d11_dup_stats" ->
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
        | lab AS (
        |  SELECT d.doc_id,
        |   CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS comp
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        | sizes AS (SELECT comp, count(*) AS sz FROM lab GROUP BY comp)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        | CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    // the d02 signature machinery, then per-pair component equality AND
    // exact set intersection from one distinct (doc, 60-bit hash) relation
    "d12_minhash_accuracy" ->
      (toksCte +
        """, sh AS (
          |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM l)),
          | hs AS (
          |  SELECT DISTINCT doc_id,
          |   CAST(CAST(('0x' || substr(md5(sh),1,15)) AS UBIGINT) AS BIGINT) AS h
          |  FROM sh),
          | sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM hs GROUP BY doc_id),
          | sig AS (
          |  SELECT doc_id, k,
          |   min((CAST(2*k+1 AS BIGINT) * (h % 2147483647) + (12345 + 41*k)) % 2147483647) AS mh
          |  FROM hs, (SELECT unnest(range(0,16)) AS k) GROUP BY doc_id, k),
          | band AS (
          |  SELECT doc_id, k // 4 AS band,
          |   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS bsig
          |  FROM sig GROUP BY doc_id, k // 4),
          | pairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM band a JOIN band b
          |   ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
          | eq AS (
          |  SELECT p.doc_a, p.doc_b,
          |   CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_eq
          |  FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a
          |   JOIN sig sb ON sb.doc_id = p.doc_b AND sa.k = sb.k
          |  GROUP BY p.doc_a, p.doc_b),
          | iv AS (
          |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
          |  FROM pairs p JOIN hs ha ON ha.doc_id = p.doc_a
          |   JOIN hs hb ON hb.doc_id = p.doc_b AND ha.h = hb.h
          |  GROUP BY p.doc_a, p.doc_b)
          |SELECT e.doc_a, e.doc_b, e.n_eq,
          | CAST(coalesce(iv.i, 0) AS BIGINT) AS n_inter,
          | CAST(za.nsh + zb.nsh - coalesce(iv.i, 0) AS BIGINT) AS n_union,
          | round(CAST(e.n_eq AS DOUBLE) / 16 + 1e-9, 4) AS est_sim,
          | round(CAST(coalesce(iv.i, 0) AS DOUBLE)
          |   / (za.nsh + zb.nsh - coalesce(iv.i, 0)) + 1e-9, 4) AS true_sim
          |FROM eq e
          | JOIN sz za ON za.doc_id = e.doc_a
          | JOIN sz zb ON zb.doc_id = e.doc_b
          | LEFT JOIN iv ON iv.doc_a = e.doc_a AND iv.doc_b = e.doc_b
          |ORDER BY e.doc_a, e.doc_b""".stripMargin),
    "d02_minhash_lsh" ->
      (toksCte +
        """, sh AS (
          |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM l)),
          | h AS (
          |  SELECT doc_id,
          |   CAST(CAST(('0x' || substr(md5(sh),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS hm
          |  FROM sh),
          | sig AS (
          |  SELECT doc_id, k,
          |   min((CAST(2*k+1 AS BIGINT) * hm + (12345 + 41*k)) % 2147483647) AS mh
          |  FROM h, (SELECT unnest(range(0,16)) AS k) GROUP BY doc_id, k),
          | band AS (
          |  SELECT doc_id, k // 4 AS band,
          |   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS bsig
          |  FROM sig GROUP BY doc_id, k // 4),
          | bmin AS (
          |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bsig) AS mn FROM band)
          |SELECT doc_id, CAST(CASE WHEN min(mn) = doc_id THEN 1 ELSE 0 END AS BIGINT) AS kept
          |FROM bmin GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "d03_simhash" ->
      (toksCte +
        """, t AS (SELECT doc_id, unnest(toks) AS tok FROM l),
          | h AS (
          |  SELECT doc_id,
          |   CAST(CAST(('0x' || substr(md5(tok),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS hm
          |  FROM t),
          | g AS (SELECT doc_id, hm, count(*) AS cnt FROM h GROUP BY doc_id, hm),
          | b AS (
          |  SELECT doc_id, j,
          |   sum(CASE WHEN (hm >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS sgn
          |  FROM g, (SELECT unnest(range(0,30)) AS j) GROUP BY doc_id, j)
          |SELECT doc_id,
          | CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
          |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // boundaries, chunk substrings and digests replayed char-for-char:
    // same rolling polynomial (recomputed per window as the power-staged
    // sum — every term reduced mod M before summing, so the direct sum
    // equals the Spark side's rolling value), same doc-end boundary
    "d13_cdc_chunks" ->
      s"""WITH c AS (
        |  SELECT doc_id, text,
        |   list_filter(string_split(text, ''), ch -> length(ch) > 0) AS ch
        |  FROM documents),
        | b AS (
        |  SELECT doc_id, text, len(ch) AS n,
        |   CASE WHEN len(ch) >= 8 THEN
        |    list_filter(range(8, len(ch) + 1), p ->
        |     ($cdcWindowHashSql) % 64 = 0)
        |   ELSE [] END AS bs
        |  FROM c),
        | bb AS (
        |  -- conditional append, NOT list_distinct: DuckDB's list_distinct
        |  -- does not guarantee order, and bounds must stay ascending
        |  SELECT doc_id, text,
        |   CASE WHEN n > 0 THEN
        |    (CASE WHEN len(bs) > 0 AND bs[-1] = n THEN bs
        |          ELSE list_append(bs, n) END)
        |   ELSE [] END AS bounds
        |  FROM b),
        | k AS (
        |  SELECT doc_id, text, bounds,
        |   generate_subscripts(bounds, 1) AS i, unnest(bounds) AS p
        |  FROM bb),
        | inst AS (
        |  SELECT doc_id,
        |   md5(substr(text,
        |     (CASE WHEN i = 1 THEN 0 ELSE bounds[i-1] END) + 1,
        |     p - (CASE WHEN i = 1 THEN 0 ELSE bounds[i-1] END))) AS dg
        |  FROM k),
        | f AS (
        |  SELECT dg, count(*) AS df FROM (SELECT DISTINCT doc_id, dg FROM inst)
        |  GROUP BY dg),
        | per AS (
        |  SELECT inst.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |   CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |  FROM inst JOIN f USING (dg) GROUP BY inst.doc_id)
        |SELECT d.doc_id,
        | CAST(coalesce(per.n_chunks, 0) AS BIGINT) AS n_chunks,
        | CAST(coalesce(per.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
        | CASE WHEN coalesce(per.n_chunks, 0) > 0
        |  THEN round(CAST(per.n_dup_chunks AS DOUBLE) / per.n_chunks + 1e-9, 4)
        |  ELSE 0.0 END AS dup_frac
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // d04's inverted-index machinery; both asymmetric ratios, the filter on
    // the larger direction (unrounded, same float expression both engines)
    "d14_containment" ->
      (toksCte +
        """, shs AS (
          |  SELECT DISTINCT doc_id, lang, array_to_string(toks[i:i+2], ' ') AS s
          |  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks)+1)) AS i FROM l)),
          | sh AS (
          |  SELECT doc_id, lang,
          |   CAST(CAST(('0x' || substr(md5(s),1,15)) AS UBIGINT) AS BIGINT) AS sh
          |  FROM shs),
          | sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
          | inter AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
          |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT doc_a, doc_b, i AS n_inter, sa.n AS n_a, sb.n AS n_b,
          | round(CAST(i AS DOUBLE) / sa.n + 1e-9, 4) AS cont_a_in_b,
          | round(CAST(i AS DOUBLE) / sb.n + 1e-9, 4) AS cont_b_in_a
          |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
          |WHERE greatest(CAST(i AS DOUBLE) / sa.n, CAST(i AS DOUBLE) / sb.n) >= 0.8
          |ORDER BY doc_a, doc_b""".stripMargin),
    "d04_ngram_jaccard" ->
      (toksCte +
        """, shs AS (
          |  SELECT DISTINCT doc_id, lang, array_to_string(toks[i:i+2], ' ') AS s
          |  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks)+1)) AS i FROM l)),
          | sh AS (
          |  SELECT doc_id, lang,
          |   CAST(CAST(('0x' || substr(md5(s),1,15)) AS UBIGINT) AS BIGINT) AS sh
          |  FROM shs),
          | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          | inter AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT doc_a, doc_b,
          | round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jacc
          |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
          |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin),
    "d05_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |   sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    "d06_simhash_hamming" ->
      (toksCte +
        """, t AS (SELECT doc_id, unnest(toks) AS tok FROM l),
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
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
          |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
          |ORDER BY doc_a, doc_b""".stripMargin),
    "d07_neardup_components" ->
      (toksCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, t AS (SELECT doc_id, unnest(toks) AS tok FROM l),
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
          |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
          |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
          |FROM reach GROUP BY id
          |ORDER BY doc_id""".stripMargin),
    "d08_span_mask" ->
      (toksCte +
        """, g AS (
          |  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], ' ')) AS gh
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-6)) AS i FROM l)),
          | rep AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
          | cov AS (
          |  SELECT DISTINCT doc_id, unnest(range(i, i+8)) AS p
          |  FROM g JOIN rep USING (gh)),
          | tp AS (
          |  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS tok
          |  FROM l),
          | rb AS (
          |  SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS clean_text,
          |   count(*) AS n_kept
          |  FROM tp ANTI JOIN cov USING (doc_id, p)
          |  GROUP BY doc_id)
          |SELECT l.doc_id, coalesce(rb.clean_text, '') AS clean_text,
          | CAST(coalesce(rb.n_kept, 0) AS BIGINT) AS n_kept,
          | CAST(len(l.toks) - coalesce(rb.n_kept, 0) AS BIGINT) AS n_removed
          |FROM l LEFT JOIN rb ON l.doc_id = rb.doc_id
          |ORDER BY l.doc_id""".stripMargin),
    "d09_crosscorpus_neardup" ->
      (toksCte +
        """, sh AS (
          |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM l)),
          | h AS (
          |  SELECT doc_id,
          |   CAST(CAST(('0x' || substr(md5(sh),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS hm
          |  FROM sh),
          | sig AS (
          |  SELECT doc_id, k,
          |   min((CAST(2*k+1 AS BIGINT) * hm + (12345 + 41*k)) % 2147483647) AS mh
          |  FROM h, (SELECT unnest(range(0,16)) AS k) GROUP BY doc_id, k),
          | band AS (
          |  SELECT doc_id, k // 4 AS band,
          |   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS bsig
          |  FROM sig GROUP BY doc_id, k // 4),
          | refb AS (SELECT DISTINCT band, bsig FROM band WHERE doc_id % 20 = 0),
          | bad AS (
          |  SELECT DISTINCT b.doc_id FROM band b JOIN refb USING (band, bsig)
          |  WHERE b.doc_id % 20 != 0)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |WHERE d.doc_id % 20 != 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
          |ORDER BY d.doc_id""".stripMargin),
    "d10_line_dedup" ->
      (toksCte +
        """, inj AS (
          |  SELECT doc_id,
          |   list_filter(
          |     list_transform(
          |       range(0, greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)),
          |       g -> array_to_string(toks[g*8+1 : g*8+8], ' ')),
          |     x -> length(x) > 0) AS lns
          |  FROM l),
          | occ AS (
          |  SELECT doc_id, generate_subscripts(lns, 1) AS p, unnest(lns) AS ln
          |  FROM inj),
          | fst AS (
          |  SELECT doc_id, p, ln,
          |   row_number() OVER (PARTITION BY md5(ln) ORDER BY doc_id, p) AS rn
          |  FROM occ),
          | rb AS (
          |  SELECT doc_id,
          |   array_to_string(list(ln ORDER BY p), chr(10)) AS clean_text,
          |   count(*) AS n_kept
          |  FROM fst WHERE rn = 1 GROUP BY doc_id)
          |SELECT i.doc_id, coalesce(rb.clean_text, '') AS clean_text,
          | CAST(coalesce(rb.n_kept, 0) AS BIGINT) AS n_kept,
          | CAST(len(i.lns) - coalesce(rb.n_kept, 0) AS BIGINT) AS n_removed
          |FROM inj i LEFT JOIN rb ON i.doc_id = rb.doc_id
          |ORDER BY i.doc_id""".stripMargin))
}
