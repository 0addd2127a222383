package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import TextOps._

/** Text-analysis surface over `documents`: language-ID heuristic, quality
  * scoring, token statistics, and a rolling-hash document fingerprint
  * (winnowing-style). LLM-pipeline extensions (SURVEY.md §2.8 scope); the
  * reference's nearest analogue is its dotted-path field extraction
  * (s12v/awsbeats streams/partition_key.go:26-39) — these generalize that
  * "inspect the payload" idea into scoring/fingerprinting operators.
  *
  * All per-doc work is narrow (no shuffle until the final per-doc aggregate),
  * codegen'd built-ins only — linear scans at 100 TB.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  /** Stopword lists for the n-gram/stopword language-ID vote. Tiny and
    * plan-constant — broadcast-free literal arrays. */
  private[ext] val stop: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private[ext] def countIn(tk: Column, words: Seq[String]): Column =
    size(filter(tk, t => array_contains(array(words.map(lit): _*), t))).cast("long")

  /** The t01 stopword-vote language prediction as a single Column over a
    * materialized token-array column ("und" when no stopword hits) — shared
    * with the composed curation pipeline (c05). */
  private[ext] def predLang(tk: Column): Column = {
    val scores = stop.map { case (l, ws) => l -> countIn(tk, ws) }
    val mx = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), alt) =>
      when(s === mx && mx > 0, lit(l)).otherwise(alt)
    }
  }

  // ---------------------------------------------------------------- t01
  /** Language-ID by stopword vote: count tokens hitting each language's
    * stopword list; predict the first language (in declared order) achieving
    * the max score. */
  val t01LangId: Q = (s, dir) => {
    import s.implicits._
    val base = docs(s, dir).withColumn("tk", toks($"text"))
    val scored = stop.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang", countIn($"tk", words))
    }
    val mx = greatest(stop.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = stop.foldRight(lit("und"): Column) { case ((l, _), alt) =>
      when(col(s"s_$l") === mx && mx > 0, lit(l)).otherwise(alt)
    }
    scored
      .select($"doc_id", pred.as("pred_lang"), mx.as("score"), $"lang".as("labeled"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t02
  /** Quality scoring: token count, mean token length, stopword ratio,
    * non-alphanumeric ratio, and a composite quality score. */
  val t02Quality: Q = (s, dir) => {
    import s.implicits._
    docs(s, dir)
      .withColumn("tk", toks($"text"))
      .withColumn("n_tok", size($"tk").cast("long"))
      .withColumn("sum_len", aggregate($"tk", lit(0L), (acc, t) => acc + length(t)))
      .withColumn("n_stop", countIn($"tk", stop.head._2))
      .withColumn("n_punct", length(regexp_replace($"text", "[a-z0-9\\s]", "")).cast("long"))
      .select(
        $"doc_id",
        $"n_tok",
        round($"sum_len".cast("double") / $"n_tok", 4).as("avg_tok_len"),
        round($"n_stop".cast("double") / $"n_tok", 4).as("stop_ratio"),
        round($"n_punct".cast("double") / length($"text"), 4).as("punct_ratio"),
        round(least($"n_tok".cast("double") / 100.0, lit(1.0)) *
          (lit(1.0) - $"n_stop".cast("double") / $"n_tok"), 4).as("quality"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t03
  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (alpha runs / digit runs / single other chars). */
  val t03TokenStats: Q = (s, dir) => {
    import s.implicits._
    docs(s, dir)
      .select(
        $"doc_id",
        size(toks($"text")).cast("long").as("n_ws"),
        regexp_count($"text", lit("[a-z]+")).cast("long").as("n_alpha"),
        regexp_count($"text", lit("[0-9]+")).cast("long").as("n_num"),
        regexp_count($"text", lit("[^a-z0-9\\s]")).cast("long").as("n_other"),
        length($"text").cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t04
  /** Document fingerprint: rolling window hash over consecutive token hashes
    * w_i = (3·h_i + 5·h_{i+1} + 7·h_{i+2}) mod P (winnowing-style);
    * fingerprint = min window hash, plus the distinct-window count. Docs with
    * <3 tokens have no window and are absent (consistent with the oracle). */
  val t04Fingerprint: Q = (s, dir) => {
    import s.implicits._
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    docs(s, dir)
      .withColumn("tk", toks($"text")) // outer: no inferred-filter re-eval (see TextOps)
      .select($"doc_id", posexplode_outer($"tk").as(Seq("pos", "tok")))
      .filter($"tok".isNotNull)
      .select($"doc_id", $"pos", hm($"tok").as("h"))
      .withColumn("h1", lead($"h", 1).over(byDoc))
      .withColumn("h2", lead($"h", 2).over(byDoc))
      .filter($"h2".isNotNull)
      .withColumn("w", (lit(3L) * $"h" + lit(5L) * $"h1" + lit(7L) * $"h2") % P)
      .groupBy($"doc_id")
      .agg(min($"w").as("fingerprint"), countDistinct($"w").as("n_windows"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t05
  /** Repetition signals (Gopher-style quality filters): fraction of tokens
    * in the most-frequent unigram, fraction of tokens occurring more than
    * once, fraction of bigrams in the most-frequent bigram, and a
    * `repetitive` flag at the published-ish thresholds (dup-unigram > 0.3 or
    * top-bigram > 0.18). Repetitive boilerplate is the main failure mode
    * n-gram dedup misses inside a single document.
    *
    * Two keyed aggregations (per-doc unigram and bigram counts) joined on
    * doc_id — narrow shuffles whose key count grows with the corpus, linear
    * at 100 TB. The flag compares UNROUNDED ratios (identical integer-ratio
    * doubles in both engines); displayed ratios get the +1e-9 half-way-tie
    * guard (see the verify notes: 1/32 = .03125 rounds differently per
    * engine without it). */
  val t05Repetition: Q = (s, dir) => {
    import s.implicits._
    val base = docs(s, dir).withColumn("tk", toks($"text"))
    val uni = base
      .select($"doc_id", explode_outer($"tk").as("tok"))
      .filter($"tok".isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_tok"),
        max($"c").as("top_uni"),
        sum(when($"c" > 1, $"c").otherwise(0L)).as("dup_uni"))
    val bi = base
      .withColumn("bg", ngramsExact($"tk", 2))
      .select($"doc_id", explode_outer($"bg").as("b"))
      .filter($"b".isNotNull)
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(sum($"c").as("n_big"), max($"c").as("top_bi"))
    val dupFrac = $"dup_uni".cast("double") / $"n_tok"
    val topBiFrac = coalesce($"top_bi".cast("double") / $"n_big", lit(0.0))
    uni.join(bi, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tok",
        round($"top_uni".cast("double") / $"n_tok" + 1e-9, 4).as("top_uni_frac"),
        round(dupFrac + 1e-9, 4).as("dup_uni_frac"),
        round(topBiFrac + 1e-9, 4).as("top_bi_frac"),
        when(dupFrac > 0.3 || topBiFrac > 0.18, 1L).otherwise(0L).as("repetitive"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t06
  /** Exact corpus heavy hitters: tokens present in ≥ 2% of documents, with
    * document frequency and fraction. This is the quantity the d04 df-cap
    * (hot-shingle stop filter) and stopword lists are tuned against — at
    * 100 TB it is one token-keyed aggregation plus a 1-row total broadcast,
    * and the output is bounded by 1/0.02 = at most 50·avg_doc_len tokens. */
  val t06CommonTokens: Q = (s, dir) => {
    import s.implicits._
    val t = docs(s, dir)
      .withColumn("tk", toks($"text"))
      .select($"doc_id", explode_outer(array_distinct($"tk")).as("tok"))
      .filter($"tok".isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    t.groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter($"df".cast("double") / $"n_docs" >= 0.02)
      .select($"tok", $"df",
        round($"df".cast("double") / $"n_docs" + 1e-9, 4).as("df_frac"))
      .orderBy($"df".desc, $"tok")
  }

  // ---------------------------------------------------------------- t07
  /** Unigram cross-entropy per document — the CCNet-style LM-perplexity
    * quality proxy with the corpus's own unigram distribution standing in
    * for the language model: surprise(d) = mean over d's token INSTANCES of
    * −ln(count(t)/total_tokens). Documents built from rare/garbled tokens
    * score high; formulaic boilerplate scores low — both tails are the ones
    * a curation pipeline clips.
    *
    * Scale shape: one token-keyed aggregation builds the frequency table,
    * one 1-row total broadcast, and one token-keyed join back to the token
    * instances (vocab-sized build side — keyed hash join; AQE broadcasts it
    * when the vocabulary fits) followed by a doc-keyed mean via
    * [[TextOps.foldMean]] (order-deterministic sorted fold). No driver-side
    * state, no all-pairs anything. */
  /** Generic form of t07 over any (id, text) frame. */
  def unigramSurprise(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val inst = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(idCol), explode_outer(col("__tk")).as("__tok"))
      .filter(col("__tok").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    val freq = inst.groupBy(col("__tok")).agg(count(lit(1)).cast("double").as("__cnt"))
    val tot = freq.agg(sum(col("__cnt")).as("__tot"))
    inst
      .join(freq, Seq("__tok"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        TextOps.foldMean(-log(col("__cnt") / col("__tot")), count(lit(1)))
          .as("surprise"))
  }

  val t07UnigramSurprise: Q = (s, dir) => {
    import s.implicits._
    unigramSurprise(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t08
  /** PII redaction patterns (name, regex, replacement) — public shapes
    * (email, IPv4, NANP-style phone), written in the RE2 ∩ java.util.regex
    * dialect (character classes, bounded repeats, `\b`; no lookaround, no
    * backreferences) so Spark and the DuckDB oracle match identically.
    * Applied IN ORDER, each stage counting on the previous stage's output,
    * so an IPv4 inside an already-redacted email domain is never
    * double-counted. */
  private[ext] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>"))

  /** PII redaction, the standard pre-training scrub (e.g. Dolma/FineWeb
    * pipelines): replace emails, IPv4 addresses and phone numbers with typed
    * placeholder tokens and count each category. Pure codegen'd regexp
    * projection — linear scan, no shuffle, embarrassingly parallel at any
    * scale. Returns (idCol, redacted, n_email, n_ip, n_phone). */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = piiPatterns.zipWithIndex.foldLeft(
      df.select(col(idCol), col(textCol).as("__s0"))) {
      case (acc, ((name, pat, rep), i)) =>
        acc.withColumn(s"n_$name",
            regexp_count(col(s"__s$i"), lit(pat)).cast("long"))
          .withColumn(s"__s${i + 1}", regexp_replace(col(s"__s$i"), pat, rep))
    }
    staged.select(col(idCol) +:
      col(s"__s${piiPatterns.size}").as("redacted") +:
      piiPatterns.map { case (n, _, _) => col(s"n_$n") }: _*)
  }

  /** The t08 oracle row injects deterministic synthetic PII derived from
    * doc_id (the corpus itself is PII-free, which would make a redaction
    * oracle a trivial pass-through) — both engines build the same injected
    * text, so they must agree on every redacted byte and every count. */
  val t08PiiRedact: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).withColumn("text", concat($"text",
      when(pmod($"doc_id", lit(3)) === 0, concat(lit(" mail user"),
        $"doc_id".cast("string"), lit("@example.com"))).otherwise(lit("")),
      when(pmod($"doc_id", lit(4)) === 0, concat(lit(" from 10."),
        pmod($"doc_id", lit(200)).cast("string"), lit(".0."),
        pmod($"doc_id", lit(250)).cast("string"))).otherwise(lit("")),
      when(pmod($"doc_id", lit(5)) === 0, concat(lit(" call "),
        (pmod($"doc_id", lit(900)) + 100).cast("string"), lit("-555-"),
        lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit(""))))
    redactPii(injected, "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t09
  /** Cross-source n-gram overlap matrix — the dataset-analysis staple for
    * "how much does slice A repeat slice B" (cross-dump overlap in
    * CommonCrawl curation): for every unordered source pair, the count of
    * distinct 3-shingle hashes both contain and the Jaccard overlap of their
    * shingle sets. Zero-overlap pairs are kept (left join + coalesce).
    *
    * Scale shape: one distinct over (source, shingle-hash) — gram-keyed
    * shuffle — then a gram-hash equi self-join whose per-key fan-out is
    * bounded by |sources|², and |sources|-row side tables the optimizer
    * broadcasts. The corpus itself is scanned once; no all-pairs anything. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val gs = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(srcCol).as("__src"),
        explode_outer(shingles3(col("__tk"))).as("__sh"))
      .filter(col("__sh").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__src"), h60(col("__sh")).as("__gh"))
      .distinct()
    val sizes = gs.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val common = gs.as("a")
      .join(gs.as("b"),
        col("a.__gh") === col("b.__gh") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val pairs = sizes.as("x")
      .join(sizes.as("y"), col("x.__src") < col("y.__src"))
      .select(col("x.__src").as("src_a"), col("y.__src").as("src_b"),
        col("x.__n").as("n_a"), col("y.__n").as("n_b"))
    pairs.join(common, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")) + 1e-9, 4)
          .as("jaccard"))
  }

  val t09SourceOverlap: Q = (s, dir) => {
    import s.implicits._
    sourceOverlap(docs(s, dir), "source", "text").orderBy($"src_a", $"src_b")
  }

  // ---------------------------------------------------------------- t10
  /** Linear text-classifier inference — the classifier-based filtering
    * step of modern curation pipelines (fastText-style bag-of-words: the
    * quality/educational-value scorers of FineWeb-edu/DCLM): score =
    * sigmoid(bias + mean over token instances of weight(token)),
    * out-of-vocabulary tokens weigh 0, `label` = score ≥ 0.5. `weights` is
    * a caller-supplied (token, weight) model — training happens offline;
    * this operator is the corpus-scale inference pass. Zero-token docs are
    * absent (nothing to score).
    *
    * Scale shape: token instances left-join the vocab-sized weights table
    * (AQE broadcasts a fitting model — a fastText vocab is ≤ millions of
    * rows) followed by one doc-keyed mean; the corpus never shuffles
    * whole. */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, bias: Double = 0.0): DataFrame = {
    val cols = weights.columns
    require(cols.length == 2, s"weights must be (token, weight), got ${cols.toSeq}")
    val w = weights.select(col(cols(0)).as("__tok"), col(cols(1)).as("__w"))
    val inst = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(idCol), explode_outer(col("__tk")).as("__tok"))
      .filter(col("__tok").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    val score = round(lit(1.0) /
      (lit(1.0) + exp(-(lit(bias) + avg(coalesce(col("__w"), lit(0.0)))))) + 1e-9, 4)
    inst.join(w, Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), score.as("score"))
      .withColumn("label", (col("score") >= 0.5).cast("long"))
  }

  /** The t10 oracle derives a deterministic model from the corpus itself
    * (the t06 heavy-hitter vocabulary with md5-derived weights in [-1, 1])
    * so DuckDB can rebuild the identical model and replay the inference. */
  val t10ClassifierFilter: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val n = d.agg(count(lit(1)).as("n_docs"))
    val weights = d
      .withColumn("tk", toks($"text"))
      .select(explode_outer(array_distinct($"tk")).as("tok"))
      .filter($"tok".isNotNull)
      .groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter($"df".cast("double") / $"n_docs" >= 0.02)
      .select($"tok", ((h60(concat(lit("w:"), $"tok")) % 2001 - 1000) / 1000.0).as("w"))
    scoreLinear(d, "doc_id", "text", weights).orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t11
  /** The stopwords whose PRESENCE (≥ 2 distinct) the Gopher rule-set
    * requires — a document with none of these is unlikely to be running
    * English prose. */
  private[ext] val gopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule filter (Rae et al. 2021, Appendix A) — the
    * published heuristic rule-set complementing t02's composite score and
    * t05's repetition signals: token-count bounds, mean-token-length bounds,
    * symbol-to-word ratio (# / ellipsis), bullet-start and ellipsis-end line
    * fractions, alphabetic-word fraction, and required-stopword presence.
    * `pass` ANDs all seven rules on the UNROUNDED ratios (identical
    * integer-ratio doubles in both engines, the t05 contract); displayed
    * ratios take the +1e-9 half-way-tie guard.
    *
    * Pure codegen'd scalar projection over one tokenize — no shuffle, no
    * join; embarrassingly parallel at 100 TB. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val base = df
      .withColumn("__tk", toks(t))
      .withColumn("__ln", split(t, "\n"))
      .withColumn("n_tok", size(col("__tk")).cast("long"))
      .withColumn("__sumlen",
        aggregate(col("__tk"), lit(0L), (acc, x) => acc + length(x)))
      .withColumn("__nsym",
        (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("long"))
      .withColumn("__nbul",
        size(filter(col("__ln"), l =>
          substring(l, 1, 2) === "- " || substring(l, 1, 2) === "* ")).cast("long"))
      .withColumn("__nell",
        size(filter(col("__ln"), l => l.endsWith("..."))).cast("long"))
      .withColumn("__nalpha", // any-case: 'NASA' is an alphabetic word
        size(filter(col("__tk"), x => x.rlike("[a-zA-Z]"))).cast("long"))
      .withColumn("n_stop_hit",
        size(filter(array(gopherStop.map(lit): _*),
          w => array_contains(col("__tk"), w))).cast("long"))
    // explicit zero-token guard: Spark's x/0 is NULL but DuckDB's ieee
    // division yields inf/nan — both engines must emit NULL for empty docs
    def overTok(c: Column): Column =
      when(col("n_tok") > 0, c.cast("double") / col("n_tok"))
    val meanLen = overTok(col("__sumlen"))
    val symR = overTok(col("__nsym"))
    val bulR = col("__nbul").cast("double") / size(col("__ln"))
    val ellR = col("__nell").cast("double") / size(col("__ln"))
    val alpR = overTok(col("__nalpha"))
    val pass = col("n_tok").between(50L, 100000L) &&
      meanLen >= 3.0 && meanLen <= 10.0 && symR <= 0.1 &&
      bulR <= 0.9 && ellR <= 0.3 && alpR >= 0.8 && col("n_stop_hit") >= 2L
    base.select(col(idCol), col("n_tok"),
      round(meanLen + 1e-9, 4).as("mean_tok_len"),
      round(symR + 1e-9, 4).as("sym_ratio"),
      round(bulR + 1e-9, 4).as("bullet_frac"),
      round(ellR + 1e-9, 4).as("ellipsis_frac"),
      round(alpR + 1e-9, 4).as("alpha_frac"),
      col("n_stop_hit"),
      when(col("n_tok") > 0 && pass, 1L).otherwise(0L).as("pass"))
  }

  val t11GopherRules: Q = (s, dir) => {
    import s.implicits._
    gopherRules(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t12
  /** Bigram-LM cross-entropy per document — the next step up from t07's
    * unigram surprise, the same CCNet "perplexity under a corpus LM" quality
    * proxy but with first-order context: surprise(d) = mean over d's bigram
    * INSTANCES of −ln P(t₂|t₁), where P(t₂|t₁) = c(t₁t₂) / c(t₁·) and
    * c(t₁·) counts t₁'s occurrences in bigram-prefix position (so the
    * conditional sums to 1 exactly; the model is the corpus itself, so every
    * scored bigram is in-vocabulary and no smoothing is needed). Formulaic
    * word-by-word boilerplate scores LOW even when its unigrams are rare;
    * garbled token soup scores HIGH even when built from common words — the
    * two tails t07 cannot separate.
    *
    * Scale shape: one tokenize → bigram explode, ONE bigram-keyed count
    * (vocabulary-bounded keyed aggregation with map-side combine) from which
    * the prefix distribution derives by a vocabulary-sized re-aggregation —
    * the corpus is tokenized twice (model build + scoring probe), never a
    * third time for the prefixes — then two keyed joins back to the
    * instances and one doc-keyed mean. The corpus never shuffles whole;
    * linear at 100 TB. Docs with < 2 tokens have no bigram and are absent
    * (the t04 contract). */
  def bigramSurprise(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val inst = df
      .withColumn("__tk", toks(col(textCol)))
      .withColumn("__bgs", ngramsExact(col("__tk"), 2))
      .select(col(idCol), explode_outer(col("__bgs")).as("__bg"))
      .filter(col("__bg").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .withColumn("__t1", substring_index(col("__bg"), " ", 1))
    val fb = inst.groupBy(col("__bg")).agg(count(lit(1)).cast("double").as("__cb"))
    // c(t1·) = sum of c(t1 t2) over the bigram VOCABULARY, not the corpus
    val ff = fb
      .groupBy(substring_index(col("__bg"), " ", 1).as("__t1"))
      .agg(sum(col("__cb")).as("__cf"))
    inst
      .join(fb, Seq("__bg"))
      .join(ff, Seq("__t1"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_big"),
        TextOps.foldMean(-log(col("__cb") / col("__cf")), count(lit(1)))
          .as("bi_surprise"))
  }

  val t12BigramSurprise: Q = (s, dir) => {
    import s.implicits._
    bigramSurprise(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t13
  /** Normalized URL domains per document: every `http(s)://host` match,
    * lowercased, `www.` stripped — the extraction half of URL-based
    * curation (RefinedWeb/C4 blocklist filtering). The host pattern skips an
    * optional userinfo prefix (`user@host` must yield the HOST, or a blocked
    * domain hides behind any `x@`) and is label-structured so it can never
    * end in a dot (a sentence-ending `bad.spam.net.` must still hit the
    * blocklist). Pure codegen'd regexp projection; the regex is RE2 ∩
    * java.util.regex (the t08 dialect discipline — non-capturing groups, no
    * lookaround) so DuckDB replays it byte-for-byte. */
  private[ext] val hostPattern =
    "https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)*)"

  def urlDomains(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      transform(
        regexp_extract_all(col(textCol), lit(hostPattern), lit(1)),
        u => regexp_replace(lower(u), "^www\\.", "")).as("domains"))

  /** URL blocklist filtering: per doc, the URL count, how many hit the
    * blocklist, and the keep decision (no blocked domain). The blocklist is
    * a plan-literal array — the production seam swaps it for a broadcast
    * join against a blocklist table when it outgrows a literal (same shape
    * as t10's weights). Scale: one scan, no shuffle, no join. */
  def urlFilter(df: DataFrame, idCol: String, textCol: String,
      blocked: Seq[String]): DataFrame = {
    val blockedArr = array(blocked.map(lit): _*)
    urlDomains(df, idCol, textCol)
      .select(col(idCol),
        size(col("domains")).cast("long").as("n_urls"),
        size(filter(col("domains"), d => array_contains(blockedArr, d)))
          .cast("long").as("n_blocked"))
      .withColumn("kept",
        (col("n_blocked") === 0L).cast("long"))
  }

  /** The t13 oracle row injects deterministic synthetic URLs derived from
    * doc_id (the corpus has none — the t08 pattern): every third doc gets a
    * clean link (one of 7 hosts, `www.`-prefixed half the time to exercise
    * normalization), every fifth a blocklisted one. */
  val t13UrlFilter: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).withColumn("text", concat($"text",
      when(pmod($"doc_id", lit(3)) === 0,
        concat(lit(" see https://"),
          when(pmod($"doc_id", lit(2)) === 0, lit("www.")).otherwise(lit("")),
          lit("site"), pmod($"doc_id", lit(7)).cast("string"),
          lit(".example.com/page"))).otherwise(lit("")),
      when(pmod($"doc_id", lit(5)) === 0,
        concat(lit(" ref http://bad"), pmod($"doc_id", lit(2)).cast("string"),
          lit(".spam.net/x"))).otherwise(lit(""))))
    urlFilter(injected, "doc_id", "text", Seq("bad0.spam.net", "bad1.spam.net"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t14
  /** Distributed BPE merge training (Sennrich et al. 2016): learn `nMerges`
    * subword merges from the corpus. The corpus is scanned ONCE into a
    * word-frequency table (the textbook scalable formulation — BPE trains on
    * the freq-weighted word VOCABULARY, never the running text); each
    * iteration then (a) counts freq-weighted adjacent symbol pairs over the
    * vocab, (b) takes the top pair (freq desc, then (left, right) asc — the
    * deterministic tie-break both engines replay), and (c) merges every
    * greedy left-to-right occurrence via a codegen'd `aggregate` fold over
    * each word's symbol array. Driver state is ONE row per iteration (the
    * winning pair); per-iteration jobs touch only the vocab.
    *
    * Returns the merge table (rank, left, right, pair_freq). Scale shape:
    * one corpus-keyed aggregation + nMerges vocab-sized jobs. The vocab is
    * PERSISTED after that first pass — `cur` is lazy, so without the pin
    * every iteration's top-pair job would re-run the corpus tokenize+agg
    * from scratch (measured 5.6x on 10x data; 1.3x with the pin). A
    * production run at large nMerges would also localCheckpoint the symbol
    * state every ~32 merges to cap the fold-chain plan depth — the seam is
    * the `cur` chain below. */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // one corpus pass: freq-weighted word vocabulary, split into symbols
    val vocab = df
      .withColumn("__tk", toks(col(textCol)))
      .select(explode_outer(col("__tk")).as("__w"))
      .filter(col("__w").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .withColumn("__sym",
        expr("transform(sequence(1, length(__w)), i -> substring(__w, i, 1))"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = vocab
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val top = cur
        // single-symbol words have no pair — and Spark's sequence(1, 0) is
        // the DESCENDING [1, 0], which would index out of bounds (the
        // shinglesN gotcha in TextOps)
        .filter(size(col("__sym")) >= 2)
        .select(col("__f"), explode_outer(
          expr("""transform(sequence(1, size(__sym) - 1),
                 |  i -> struct(element_at(__sym, i) AS l,
                 |              element_at(__sym, i + 1) AS r))""".stripMargin))
          .as("__p"))
        .filter(col("__p").isNotNull)
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__f")).as("__pf"))
        .orderBy(col("__pf").desc, col("__l"), col("__r"))
        .limit(1).as[(String, String, Long)].collect()
      if (top.nonEmpty) {
        val (l, r, pf) = top.head
        merges += ((rank, l, r, pf))
        // greedy left-to-right merge of every (l, r) occurrence: the fold
        // consumes its own output, so overlapping runs (l = r) merge at
        // even offsets exactly as sequential BPE does
        cur = cur.withColumn("__sym",
          aggregate(col("__sym"),
            array().cast("array<string>"),
            (acc, x) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && x === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                .otherwise(concat(acc, array(x)))))
      }
    }
    // the result below is driver-local (built from the collected winners),
    // so the vocab pin can be released before returning
    vocab.unpersist(blocking = false)
    merges.result()
      .toDF("rank", "left", "right", "pair_freq")
      .select(col("rank").cast("long"), col("left"), col("right"), col("pair_freq"))
  }

  /** Apply a learned merge list to a corpus: segment every word with the
    * merges in rank order (same greedy fold as training). The merge list
    * rides the plan as literals — chained folds, one per merge, so cap the
    * list (~64) or checkpoint between groups when applying deep vocabularies.
    * Returns (idCol, n_words, n_subwords).
    *
    * Scale shape (round-13, the bpeTrain discipline applied to serving):
    * the folds run over the DISTINCT-WORD vocabulary, not the word-instance
    * stream — a Zipf-distributed corpus repeats its words ~corpus/vocab
    * times each, so folding per instance re-pays the per-merge fold chain
    * thousands of times per common word. Segment the vocab once, join the
    * per-word subword count back to the instances (vocab-keyed; AQE
    * broadcasts it when the vocabulary fits), aggregate per document. */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val inst = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(idCol), explode_outer(col("__tk")).as("__w"))
      .filter(col("__w").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    val vocab = inst.select(col("__w")).distinct()
      .withColumn("__sym",
        expr("transform(sequence(1, length(__w)), i -> substring(__w, i, 1))"))
    val segmented = merges.foldLeft(vocab) { case (acc0, (l, r)) =>
      acc0.withColumn("__sym",
        aggregate(col("__sym"),
          array().cast("array<string>"),
          (acc, x) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(x)))))
    }
    val wlen = segmented.select(col("__w"), size(col("__sym")).cast("long").as("__ns"))
    inst.join(wlen, Seq("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__ns")).as("n_subwords"))
  }

  val t14BpeMerges: Q = (s, dir) => {
    import s.implicits._
    bpeTrain(docs(s, dir), "text", nMerges = 8).orderBy($"rank")
  }

  /** The trained (left, right) merge list for `<dir>/documents.parquet`,
    * memoized per JVM on the dir's content fingerprint — the
    * [[graft.ext.Similarity]] cachedModel discipline applied to the BPE
    * tokenizer (round 20): t27 and t28 each retrained the SAME
    * deterministic 8-merge vocabulary from scratch on every invocation
    * (~2 s of vocab-sized driver-iterated jobs at sf0.1 — nobody retrains
    * the tokenizer per corpus pass at 100 TB; training it once per corpus
    * content is the deployment shape). Results are identical hit or miss
    * (bpeTrain is deterministic: exact integer pair counts, total
    * orderBy); what changes is what Bench measures — the one-time fit
    * lands in the `train` section, the sweeps measure segmentation.
    * t14's own OUTPUT is the merge table, so t14 keeps training inline —
    * this memo only feeds the operators that CONSUME the tokenizer.
    * Keyed and evicted by [[Tables.memoByContent]]. */
  private val mergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private[graft] def cachedMerges(s: SparkSession, dir: String,
      nMerges: Int): Seq[(String, String)] = {
    import s.implicits._
    Tables.memoByContent(mergesCache, s"bpe$nMerges", dir, "documents")(
      bpeTrain(docs(s, dir), "text", nMerges)
        .orderBy($"rank").select($"left", $"right")
        .as[(String, String)].collect().toSeq)
  }

  // ---------------------------------------------------------------- t27
  /** BPE end-to-end (round-12 verdict #7): train the t14 merge table, then
    * TOKENIZE THE CORPUS WITH IT — per-document word and subword counts
    * under the learned vocabulary. t14's oracle replays training only; this
    * row closes the loop from tokenizer training to the token-count
    * consumers (c13/c16 token budgets can run on BPE counts instead of
    * whitespace counts — CurationSpec pins that wiring). The DuckDB twin
    * extends the t14 staging with one more recursive fold (the final merge
    * applied) and joins the segmented vocabulary back to the doc word
    * stream — every output an exact integer. */
  val t27BpeSegment: Q = (s, dir) => {
    import s.implicits._
    // merge table served from the per-dir-content memo (round 20): the
    // tokenizer is trained once per corpus content, segmentation is the
    // steady-state cost — Bench times the one-time fit in `train`
    val d = docs(s, dir)
    val merges = cachedMerges(s, dir, nMerges = 8)
    bpeSegment(d, "doc_id", "text", merges).orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t28
  /** Tokenizer fertility by language — subwords per word under the trained
    * t14/t27 BPE, the standard tokenizer-quality report (a high-fertility
    * language pays more sequence length per word; the number that drives
    * per-language token budgets and vocab-size decisions). Integer sums
    * from the t27 segmentation joined to the language column; fertility is
    * the one float, derived from exact integers at the very end. */
  val t28BpeFertility: Q = (s, dir) => {
    import s.implicits._
    val d = docs(s, dir)
    val merges = cachedMerges(s, dir, nMerges = 8)
    bpeSegment(d, "doc_id", "text", merges)
      .join(d.select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("n_words"),
        sum($"n_subwords").as("n_subwords"))
      .withColumn("fertility",
        round($"n_subwords" / $"n_words" + 1e-9, 4))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- t15
  /** Interpolated Kneser-Ney bigram cross-entropy per document — t12's
    * CCNet-style quality proxy under the smoothing KenLM (CCNet's actual
    * scorer) uses, instead of t12's unsmoothed MLE:
    *
    *   P(t₂|t₁) = (c(t₁t₂) − D)/c(t₁·) + λ(t₁)·P_cont(t₂)
    *   λ(t₁)    = D·N₁₊(t₁·)/c(t₁·)        (reserved mass)
    *   P_cont(t₂) = N₁₊(·t₂)/N₁₊(··)       (continuation probability)
    *
    * with absolute discount D, N₁₊(t₁·)/N₁₊(·t₂) the distinct successor /
    * predecessor counts and N₁₊(··) the total distinct bigram types. Summed
    * over the whole vocabulary the conditional is exactly 1 (the discounted
    * mass is redistributed by continuation weight), so frequent-but-
    * promiscuous continuations ("the", "of") stop dominating the way raw
    * frequency makes them in t12 — the classic KN insight ("Francisco" is
    * frequent but only ever follows "San"). The model is the corpus itself,
    * so every scored bigram is in-vocabulary; smoothing still changes every
    * probability, not just unseen ones.
    *
    * Scale shape: one tokenize → bigram explode, ONE bigram-keyed count; all
    * four smoothing statistics (prefix totals, successor counts, predecessor
    * counts, type total) derive from that bigram VOCABULARY by vocab-sized
    * re-aggregations — never a corpus re-scan. The per-bigram probability
    * table assembles vocab-side (two keyed joins + a broadcast 1-row total),
    * then ONE keyed join back to the instances (vs t12's two) and a
    * doc-keyed mean. Linear at 100 TB; the corpus never shuffles whole. */
  def knSurprise(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1): $discount")
    val inst = df
      .withColumn("__tk", toks(col(textCol)))
      .withColumn("__bgs", ngramsExact(col("__tk"), 2))
      .select(col(idCol), explode_outer(col("__bgs")).as("__bg"))
      .filter(col("__bg").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    // NO explicit repartition(__bg) here (round-21 audit, the d08
    // gram-exchange pattern considered and REJECTED on plan evidence): the
    // two consumers prune `inst` to different columns (the vocabulary count
    // drops idCol), so an explicit exchange is NOT reused — and it would
    // force the full instance stream (corpus × tokens) through the wire
    // where the default plan map-side partial-aggregates to vocab-sized
    // partial counts before its shuffle and broadcasts the assembled
    // probability table onto the UNSHUFFLED instances (SMJ only when the
    // vocabulary outgrows the broadcast threshold — the planner's call).
    // The duplicated tokenize (executed plan: 2 scans) is the cheaper side
    // of that trade at every scale.
    inst.join(knStats(inst, discount), Seq("__bg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_big"),
        TextOps.foldMean(-log(col("__p")), count(lit(1))).as("kn_surprise"))
  }

  /** The per-bigram KN probability table (`__bg`, `__p`) behind
    * [[knSurprise]], exposed so the unit-sum property (Σ over the vocabulary
    * of P(t₂|t₁) = 1 per prefix) is testable. `inst` must carry a `__bg`
    * bigram column; every output row is a distinct observed bigram. */
  private[graft] def knStats(inst: DataFrame, discount: Double): DataFrame = {
    val fb = inst.groupBy(col("__bg")).agg(count(lit(1)).cast("double").as("__cb"))
    // prefix totals + distinct-successor counts: one vocab-sized re-agg
    val ff = fb
      .groupBy(substring_index(col("__bg"), " ", 1).as("__t1"))
      .agg(sum(col("__cb")).as("__cf"), count(lit(1)).cast("double").as("__nf"))
    // continuation counts: distinct predecessors per suffix token
    val bw = fb
      .groupBy(substring_index(col("__bg"), " ", -1).as("__t2"))
      .agg(count(lit(1)).cast("double").as("__nb"))
    val tot = fb.agg(count(lit(1)).cast("double").as("__T"))
    fb.withColumn("__t1", substring_index(col("__bg"), " ", 1))
      .withColumn("__t2", substring_index(col("__bg"), " ", -1))
      .join(ff, Seq("__t1"))
      .join(bw, Seq("__t2"))
      .crossJoin(broadcast(tot))
      .select(col("__bg"),
        (((col("__cb") - lit(discount)) / col("__cf")) +
          (lit(discount) * col("__nf") / col("__cf")) *
            (col("__nb") / col("__T"))).as("__p"))
  }

  val t15KnSurprise: Q = (s, dir) => {
    import s.implicits._
    knSurprise(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t16
  /** Unicode NFC normalization over a text column — the canonical-composition
    * pass that precedes hashing/dedup in every multilingual curation pipeline
    * (decomposed `e`+U+0301 and precomposed U+00E9 render identically but
    * fingerprint differently, so un-normalized corpora silently lose near-dup
    * recall). Backed by the codegen'd [[graft.functions.NfcNormalize]]
    * expression (JDK `java.text.Normalizer`, UAX #15) with an `isNormalized`
    * zero-allocation fast path — the common all-ASCII row never rewrites.
    * Scale: pure scalar projection inside WholeStageCodegen; no shuffle. */
  def normalizeNfc(df: DataFrame, textCol: String,
      outCol: String = "norm_text"): DataFrame =
    df.withColumn(outCol, graft.functions.NfcNormalize.normalize(col(textCol)))

  /** The t16 oracle row injects deterministic non-NFC text derived from
    * doc_id (the synthetic corpus is pure ASCII — the t08/t13 injection
    * pattern): every third doc gets decomposed accents plus the Angstrom
    * sign U+212B (composes to U+00C5), the next third the precomposed forms
    * (exercising the no-change fast path), the rest stay ASCII. DuckDB's
    * `nfc_normalize` (utf8proc) and the JDK normalizer are both UAX #15
    * conformant, which is what makes the twin byte-exact; codepoints are
    * spelled chr()/\u-escaped on each side so both engines see identical
    * input bytes. */
  val t16NfcNormalize: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat($"text",
      when(pmod($"doc_id", lit(3)) === 0,
        lit(" cafe\u0301 \u212Bngstro\u0308m"))
        .when(pmod($"doc_id", lit(3)) === 1,
          lit(" caf\u00e9 \u00c5ngstr\u00f6m"))
        .otherwise(lit(""))).as("raw"))
    normalizeNfc(injected, "raw")
      .select($"doc_id", $"norm_text",
        ($"norm_text" =!= $"raw").cast("long").as("changed"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t17
  /** Accent folding — NFC(strip Mn/Mc/Me(NFD)) via the codegen'd
    * [[graft.functions.StripAccents]] expression: the search/index
    * normalization step that makes "café"/"cafe" collide while leaving
    * non-accent letters (ł, ß, ligatures) intact. Pure scalar projection,
    * pure-ASCII rows return the input instance. */
  def stripAccents(df: DataFrame, textCol: String,
      outCol: String = "folded_text"): DataFrame =
    df.withColumn(outCol, graft.functions.StripAccents.fold(col(textCol)))

  /** The t17 oracle: DuckDB `strip_accents` (utf8proc) on deterministic
    * injected text — decomposed accents, precomposed accents, and a mixed
    * row whose stroke-letter/eszett must survive folding (the negative
    * case), and a SPACING/ENCLOSING-mark row: Devanagari ka+i-matra
    * (U+0915 U+093F) and Tamil na+i-matra (U+0BA8 U+0BBF) are Mc, the
    * combining enclosing circle (U+20DD) is Me \u2014 utf8proc STRIPMARK
    * removes ALL mark classes, not just Mn (pinned after the round-9
    * latent-divergence finding).
    * Codepoints chr()/\u-spelled on each side (the t16 discipline). */
  val t17StripAccents: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat($"text",
      when(pmod($"doc_id", lit(5)) === 0,
        lit(" cafe\u0301 \u212Bngstro\u0308m"))
        .when(pmod($"doc_id", lit(5)) === 1,
          lit(" caf\u00e9 \u00c5ngstr\u00f6m"))
        .when(pmod($"doc_id", lit(5)) === 2,
          lit(" na\u00efve \u0142\u00f3d\u017a stra\u00dfe"))
        .when(pmod($"doc_id", lit(5)) === 3,
          lit(" \u0915\u093f \u0ba8\u0bbf a\u20ddb"))
        .otherwise(lit(""))).as("raw"))
    stripAccents(injected, "raw")
      .select($"doc_id", $"folded_text",
        ($"folded_text" =!= $"raw").cast("long").as("changed"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t18
  /** HTML-to-text extraction — the first step of every web-scrape curation
    * pipeline (CommonCrawl → C4/RefinedWeb): drop script/style blocks
    * wholesale, strip remaining tags, decode the common entities, collapse
    * whitespace. Entity decode runs AFTER tag stripping (so `&lt;tag&gt;`
    * stays visible text) and `&amp;` decodes LAST (the classic
    * double-decode bug, pinned by spec). All patterns are RE2 ∩ java.util
    * .regex (the t08 dialect discipline — inline `(?is)` flags, non-greedy,
    * no backreferences: script/style are separate patterns because RE2 has
    * no `\1`), so DuckDB replays the chain byte-for-byte.
    * Scale: one codegen'd scalar projection — no shuffle, no UDF. */
  def stripHtml(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val noScript = regexp_replace(col(textCol),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (from, to)) =>
        regexp_replace(acc, from, to)
      }
    df.select(col(idCol),
      trim(regexp_replace(decoded, "\\s+", " ")).as("clean_text"),
      size(regexp_extract_all(col(textCol), lit("<[^>]+>"), lit(0)))
        .cast("long").as("n_tags"))
  }

  /** The t18 oracle injects deterministic synthetic HTML (the corpus is
    * plain text — t08/t13 pattern): markup for every 3rd doc, a script+style
    * block (with a bare `<` inside the script body) for every 5th, entities
    * for every 4th — additive, so doc 0 carries all three. */
  val t18StripHtml: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat($"text",
      when(pmod($"doc_id", lit(3)) === 0,
        lit(" <div class=\"x\"><p>para <b>bold</b></p></div>"))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(5)) === 0,
        lit(" <script type=\"a\">var x = 1 < 2;</script>" +
          "<style>p { color: red }</style>")).otherwise(lit("")),
      when(pmod($"doc_id", lit(4)) === 0,
        lit(" AT&amp;T &lt;tag&gt; 1&nbsp;2 &#39;q&#39; &quot;w&quot;"))
        .otherwise(lit(""))).as("raw"))
    stripHtml(injected, "doc_id", "raw").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t19
  /** Character-entropy quality signal: Shannon entropy (nats) of the
    * character distribution of the document HEAD (first `headChars` chars —
    * scoring a bounded prefix is the CCNet/quality-filter convention and
    * also bounds per-doc cost). Computed as `H = ln n − (Σ_c cnt_c·ln
    * cnt_c)/n` so every input to the float math is an exact integer count.
    * Very low entropy marks character-level boilerplate/repetition spam
    * (`aaaa…`, ASCII-art, padding) that token-level t05 can miss; very high
    * entropy marks binary-ish noise. Returns (idCol, n_head_chars,
    * distinct_chars, char_entropy, low_entropy).
    *
    * Determinism: distinct chars sort before the fold and counts are
    * integers, so both engines sum bit-identical doubles in the same order
    * (Spark sorts UTF-16 units, DuckDB UTF-8 bytes — identical orders for
    * BMP text; the corpus is ASCII and the oracle's injection sticks to
    * BMP).
    *
    * Scale: a pure shuffle-free codegen'd projection; per-doc cost is
    * O(distinct × headChars) ≤ alphabet·2000 — constant per document. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String,
      headChars: Int = 2000, lowBar: Double = 2.5): DataFrame = {
    val ch = filter(split(substring(col(textCol), 1, headChars), ""),
      c => length(c) > 0)
    df.withColumn("__ch", ch)
      .withColumn("__n", size(col("__ch")).cast("long"))
      .withColumn("__cnts", transform(sort_array(array_distinct(col("__ch"))),
        c => size(filter(col("__ch"), y => y === c)).cast("double")))
      .withColumn("char_entropy",
        when(col("__n") > 0, round(
          log(col("__n").cast("double")) -
            aggregate(transform(col("__cnts"), n => n * log(n)),
              lit(0.0d), (a, x) => a + x) / col("__n").cast("double")
            + 1e-9, 4))
          .otherwise(lit(0.0d)))
      .select(col(idCol), col("__n").as("n_head_chars"),
        size(col("__cnts")).cast("long").as("distinct_chars"),
        col("char_entropy"),
        (col("char_entropy") < lowBar).cast("long").as("low_entropy"))
  }

  /** The t19 oracle: every 6th doc gets a BMP multilingual prefix (CJK +
    * precomposed accents — pins the non-ASCII sort agreement), every 7th a
    * 1500-char two-symbol run that drags its head under the bar (t08/t13
    * injection pattern; the raw corpus is ASCII with healthy entropy).
    * PREpended so the injection always lands inside the scored head. */
  val t19CharEntropy: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat(
      when(pmod($"doc_id", lit(6)) === 0, lit("的是了在我 éàü "))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(7)) === 0,
        lit("ab" * 750 + " ")).otherwise(lit("")),
      $"text").as("raw"))
    charEntropy(injected, "doc_id", "raw").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t20
  /** C4-style sentence-structure rules (Raffel et al. 2020 §2.2: keep pages
    * with ≥3 sentences, lines ending in terminal punctuation, a minimum of
    * words): segments on terminal-punctuation runs `[.!?]+`, counts
    * non-empty sentences and their words, checks the terminal-ending rule,
    * and emits the composite keep decision. The mean divides two exact
    * integers, so the only float op is one division + round — no ordering
    * surface. All patterns are RE2 ∩ java.util.regex (the t08 dialect
    * discipline) so DuckDB replays the segmentation byte-for-byte.
    * Scale: one shuffle-free codegen'd projection. */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String,
      minSentences: Int = 3, minWords: Int = 5): DataFrame = {
    val segs = filter(transform(split(col(textCol), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    df.withColumn("__segs", segs)
      .withColumn("__wc", transform(col("__segs"),
        s => size(toks(s)).cast("long")))
      .withColumn("n_sentences", size(col("__segs")).cast("long"))
      .withColumn("n_sentence_words",
        aggregate(col("__wc"), lit(0L), (a, x) => a + x))
      .withColumn("ends_terminal",
        col(textCol).rlike("[.!?]\\s*$").cast("long"))
      .withColumn("mean_sentence_words",
        when(col("n_sentences") > 0,
          round(col("n_sentence_words").cast("double")
            / col("n_sentences").cast("double") + 1e-9, 4))
          .otherwise(lit(0.0d)))
      .withColumn("keep_c4",
        (col("n_sentences") >= minSentences && col("ends_terminal") === 1 &&
          col("n_sentence_words") >= minWords).cast("long"))
      .select(col(idCol), col("n_sentences"), col("n_sentence_words"),
        col("ends_terminal"), col("mean_sentence_words"), col("keep_c4"))
  }

  /** The t20 oracle injection (the corpus has NO sentence punctuation —
    * t08/t13 pattern): every 3rd doc gains three full sentences, every 4th
    * a terminal tail claim; other docs stay one unterminated segment, so
    * every rule fires on a known subset. */
  val t20SentenceStats: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat($"text",
      when(pmod($"doc_id", lit(3)) === 0,
        lit(" One two three. Four five six! Seven eight nine?"))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(4)) === 0, lit(" Tail claim."))
        .otherwise(lit(""))).as("raw"))
    sentenceStats(injected, "doc_id", "raw").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t21
  /** Writing-system (Unicode script) detection — the step BEFORE language
    * ID in multilingual pipelines (t01's stopword vote only works once the
    * script is known to be spaced Latin-like; CJK/Cyrillic/Greek/Arabic
    * route to different tokenizers entirely). Counts characters per script
    * block via literal-range character classes (actual BMP range endpoints
    * embedded in the pattern, so Java regex and RE2 compile the identical
    * class), picks the dominant script with a deterministic
    * declaration-order tie-break (the t01 fold), and emits the dominant
    * share of script-classified chars. 'und' when nothing matches any
    * block. The ratio divides two exact integers. Scale: one shuffle-free
    * codegen'd regexp projection. */
  private[ext] val scripts: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-zÀ-ɏ]",
    "cjk" -> "[一-鿿぀-ヿ]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "arabic" -> "[؀-ۿ]")

  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counted = scripts.foldLeft(df) { case (acc, (name, cls)) =>
      acc.withColumn(s"n_$name",
        size(regexp_extract_all(col(textCol), lit(cls), lit(0))).cast("long"))
    }
    val total = scripts.map { case (n, _) => col(s"n_$n") }.reduce(_ + _)
    val mx = greatest(scripts.map { case (n, _) => col(s"n_$n") }: _*)
    val dominant = scripts.foldRight(lit("und"): Column) { case ((n, _), alt) =>
      when(col(s"n_$n") === mx && mx > 0, lit(n)).otherwise(alt)
    }
    counted.select(
      col(idCol) +: scripts.map { case (n, _) => col(s"n_$n") } :+
        dominant.as("script") :+
        when(total > 0, round(mx.cast("double") / total.cast("double") + 1e-9, 4))
          .otherwise(lit(0.0d)).as("script_share"): _*)
  }

  /** The t21 oracle injection (the corpus is ASCII Latin): every 5th doc a
    * CJK run, every 7th Cyrillic, every 9th Greek — mod-overlapping docs
    * exercise the dominant-script vote and the tie-break. */
  val t21ScriptProfile: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat($"text",
      when(pmod($"doc_id", lit(5)) === 0, lit(" 汉字漢字かなカナ汉字漢字"))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(7)) === 0, lit(" привет мир данные"))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(9)) === 0, lit(" αλφα βητα"))
        .otherwise(lit(""))).as("raw"))
    scriptProfile(injected, "doc_id", "raw").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t22
  /** Sequence-length histogram + packing audit — the pre-training check
    * run before choosing a context length: token counts bucketed by
    * power-of-2 (floor-log2 via the BINARY-DIGIT-COUNT of the count, an
    * all-integer derivation both engines compute identically — no float
    * log2 whose exact-power values round unpredictably), with per-bucket
    * doc/token totals and the padding waste greedy one-doc-per-chunk
    * packing would pay at `seqLen` (ceil-div chunks × seqLen − tokens).
    * Read next to c02's actual packing: buckets dominated by padding are
    * the ones packing recovers.
    *
    * Scale shape: one scan, a ≤64-row histogram aggregation, and a
    * cumulative window OVER THE HISTOGRAM (never the corpus) — the c12
    * discipline. All outputs exact integers. */
  def lengthBuckets(df: DataFrame, textCol: String, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val per = df
      .select(size(toks(col(textCol))).cast("long").as("__n"))
      .withColumn("__blen",
        when(col("__n") > 0, length(conv(col("__n"), 10, 2))).otherwise(lit(0)))
      .withColumn("bucket_lo",
        when(col("__blen") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), __blen - 1)")).otherwise(lit(0L)))
      .withColumn("__chunks",
        when(col("__n") > 0, expr(s"(__n + ${seqLen - 1}) DIV $seqLen"))
          .otherwise(lit(0L)))
    val hist = per.groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        sum(col("__chunks")).as("n_chunks"),
        sum(col("__chunks") * seqLen - col("__n")).as("n_padding"))
    // histogram-sized single-partition window (≤64 rows), never the corpus
    val cumW = Window.orderBy(col("bucket_lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_tokens", sum(col("n_tokens")).over(cumW))
  }

  val t22LengthBuckets: Q = (s, dir) => {
    import s.implicits._
    lengthBuckets(docs(s, dir), "text", seqLen = 512).orderBy($"bucket_lo")
  }

  // ---------------------------------------------------------------- t23
  /** Cross-document n-gram novelty — the memorization/boilerplate audit:
    * per doc, how many of its DISTINCT full `n`-grams appear in at least
    * one OTHER document (document frequency ≥ 2 over per-doc-distinct
    * grams), and the novel fraction. High-shared docs are templated or
    * duplicated content the dedup family then localizes; the operator is
    * c01's decontamination machinery turned inward (corpus vs itself).
    *
    * Scale shape: one gram explode (60-bit md5 keys), one gram-keyed df
    * count, one gram-keyed join back, one doc-keyed count — all shuffles
    * carry 8-byte keys; nothing is corpus-broadcast. Gram-less docs
    * (< n tokens) report novel_frac 1.0 via the left join. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val g = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(idCol).as("__id"),
        explode_outer(array_distinct(ngramsExact(col("__tk"), n))).as("__ng"))
      .filter(col("__ng").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), h60(col("__ng")).as("__h"))
    // per-doc distinct grams -> the gram count IS document frequency.
    // The gram chain evaluates once per consumer (df agg + join back):
    // exchange reuse cannot bind because column pruning gives the two
    // branches different scans (df needs only text -> __h), and forcing a
    // shared exchange just feeds the runtime broadcast join a useless
    // shuffle — two linear scans is the right declarative trade (t07's
    // accepted shape).
    val dfreq = g.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val per = g.join(dfreq, Seq("__h"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol))
      .join(per.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round((col("n_grams") - col("n_shared")).cast("double")
            / col("n_grams") + 1e-9, 4))
          .otherwise(lit(1.0d)).as("novel_frac"))
  }

  val t23NgramNovelty: Q = (s, dir) => {
    import s.implicits._
    ngramNovelty(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t24
  /** Flesch reading-ease readability — the classic quality signal
    * (206.835 − 1.015·W/S − 84.6·Syl/W) with the standard regex syllable
    * approximation: a word's syllable count is its number of vowel-letter
    * runs `[aeiouyAEIOUY]+`, floored at 1. Sentences are the t20
    * segmentation (`[.!?]+`, empty segments dropped). All three inputs are
    * exact integers; the score is one fixed-shape double expression both
    * engines evaluate identically (the oracle CASTs its constants to
    * DOUBLE so DuckDB cannot run the arithmetic in DECIMAL). Shuffle-free
    * projection — linear scan at any scale. Docs with no words or no
    * sentences score 0.0 by convention. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val segs = filter(transform(split(col(textCol), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    df.withColumn("__tk", toks(col(textCol)))
      .withColumn("n_words", size(col("__tk")).cast("long"))
      .withColumn("n_sentences", size(segs).cast("long"))
      .withColumn("n_syllables",
        aggregate(transform(col("__tk"), wd =>
          greatest(lit(1L),
            size(regexp_extract_all(wd, lit("[aeiouyAEIOUY]+"), lit(0))).cast("long"))),
          lit(0L), (a, x) => a + x))
      .withColumn("flesch",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          round(lit(206.835d)
            - lit(1.015d) * (col("n_words").cast("double")
              / col("n_sentences").cast("double"))
            - lit(84.6d) * (col("n_syllables").cast("double")
              / col("n_words").cast("double"))
            + 1e-9, 4))
          .otherwise(lit(0.0d)))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch"))
  }

  /** The t24 oracle injection — the t20 sentence injection verbatim, so
    * every-3rd docs gain real sentence structure and every-4th a terminal
    * tail; unpunctuated docs stay one long segment (deeply negative Flesch,
    * exercising the negative-score path). */
  val t24Readability: Q = (s, dir) => {
    import s.implicits._
    val injected = docs(s, dir).select($"doc_id", concat($"text",
      when(pmod($"doc_id", lit(3)) === 0,
        lit(" One two three. Four five six! Seven eight nine?"))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(4)) === 0, lit(" Tail claim."))
        .otherwise(lit(""))).as("raw"))
    readability(injected, "doc_id", "raw").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t25
  /** Lexical diversity — type-token ratio and hapax legomena count, the
    * classic vocabulary-richness signals (low TTR flags templated/looped
    * text from the vocabulary side the way t05's repetition flags it from
    * the frequency side; hapax share feeds vocabulary-growth estimates).
    * One (doc, token) count aggregation — doc-keyed shuffle with 8-byte-
    * hashable keys; token-less docs report 0/0/0 and ttr 0.0 via the left
    * join. */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val inst = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(idCol).as("__id"), explode_outer(col("__tk")).as("__tok"))
      .filter(col("__tok").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    val per = inst.groupBy(col("__id"), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    df.select(col(idCol))
      .join(per.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          round(col("n_types").cast("double") / col("n_tokens") + 1e-9, 4))
          .otherwise(lit(0.0d)).as("ttr"))
  }

  val t25LexicalDiversity: Q = (s, dir) => {
    import s.implicits._
    lexicalDiversity(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- t26
  /** Zipf rank-frequency fit — least-squares slope/intercept of
    * (ln rank, ln count) over the corpus's top-`topN` tokens: natural text
    * sits near slope −1; generated/templated corpora drift visibly (the
    * corpus-health check next to c15's integer accounting). Rank is
    * `row_number` over (count DESC, token ASC) — fully deterministic at
    * ties, including the cut at rank `topN`.
    *
    * Determinism: all four regression sums (Σx, Σy, Σx², Σxy) are
    * rank-ordered left folds over the topN points (the c10 sorted-fold
    * discipline), and slope/intercept are ONE fixed-shape expression both
    * engines evaluate on identical doubles. Scale shape: one token-keyed
    * count, a distributed orderBy().limit(topN) (TakeOrdered — no global
    * sort materialized), then a topN-row window + fold — every
    * single-partition step is topN-sized, never vocabulary-sized. */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 500): DataFrame = {
    val counts = df
      .withColumn("__tk", toks(col(textCol)))
      .select(explode_outer(col("__tk")).as("__tok"))
      .filter(col("__tok").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok")).limit(topN)
    // window over <= topN rows only (the limit ran first) — bounded
    val w = Window.orderBy(col("__c").desc, col("__tok"))
    val pts = counts
      .withColumn("__rk", row_number().over(w).cast("long"))
      .select(col("__rk"), log(col("__rk").cast("double")).as("__x"),
        log(col("__c").cast("double")).as("__y"))
    def fsum(arr: Column, f: Column => Column): Column =
      aggregate(transform(arr, e => f(e)), lit(0.0d), (a, b) => a + b)
    pts
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("__rk"), col("__x"), col("__y"))))
          .as("__arr"))
      .select(col("n"),
        fsum(col("__arr"), _.getField("__x")).as("__sx"),
        fsum(col("__arr"), _.getField("__y")).as("__sy"),
        fsum(col("__arr"), e => e.getField("__x") * e.getField("__x")).as("__sxx"),
        fsum(col("__arr"), e => e.getField("__x") * e.getField("__y")).as("__sxy"))
      .withColumn("__slope",
        (col("n") * col("__sxy") - col("__sx") * col("__sy"))
          / (col("n") * col("__sxx") - col("__sx") * col("__sx")))
      .select(col("n").as("n_terms"),
        round(col("__slope") + 1e-9, 4).as("slope"),
        round((col("__sy") - col("__slope") * col("__sx")) / col("n") + 1e-9, 4)
          .as("intercept"))
  }

  val t26ZipfFit: Q = (s, dir) => zipfFit(docs(s, dir), "text")

  // ---------------------------------------------------------------- t29
  /** Distinctive terms per document group by LIFT — in-group relative
    * frequency over corpus relative frequency, the label a cluster/source/
    * slice gets in a corpus report ("what over-indexes here"). lift =
    * (cnt·corpus_total) / (group_total·corpus_cnt): both products are
    * exact integers and the score is ONE IEEE division, so ranking and
    * output replay bit-for-bit (no logs, no idf transcendentals — the
    * integer-ratio discipline of c17/c04). At web scale the integer
    * products can exceed 2⁶³ — there the double-product form trades the
    * last ulp for range; this exact form is correct to ~4·10¹⁸ token-pairs.
    *
    * Scale shape: one (group, token) count off a single scan, two
    * vocab-sized re-aggs (the t12 pattern — the corpus never tokenizes
    * twice), a 1-row total broadcast, and a group-partitioned top-n window
    * over the vocab-sized frame. */
  def clusterTermLift(grouped: DataFrame, groupCol: String, textCol: String,
      topN: Int): DataFrame = {
    require(topN >= 1, s"topN >= 1, got $topN")
    val tc = grouped
      .withColumn("__tk", toks(col(textCol)))
      .select(col(groupCol), explode_outer(col("__tk")).as("__tok"))
      .filter(col("__tok").isNotNull)
      .groupBy(col(groupCol), col("__tok")).agg(count(lit(1)).as("cnt"))
    val gt = tc.groupBy(col(groupCol)).agg(sum(col("cnt")).as("__gtot"))
    val cc = tc.groupBy(col("__tok")).agg(sum(col("cnt")).as("__ccnt"))
    val tot = cc.agg(sum(col("__ccnt")).as("__tot"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__lift").desc, col("__tok"))
    tc.join(gt, Seq(groupCol)).join(cc, Seq("__tok"))
      .crossJoin(broadcast(tot))
      .withColumn("__lift",
        (col("cnt") * col("__tot")).cast("double") / (col("__gtot") * col("__ccnt")))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= topN)
      .select(col(groupCol), col("term_rank"), col("__tok").as("token"),
        col("cnt"), round(col("__lift") + 1e-9, 4).as("lift"))
  }

  /** t29: [[clusterTermLift]] over the s15 embedding clusters — label each
    * k-means cluster with its five highest-lift tokens (`embeddings.vec_id`
    * keys `documents.doc_id`). The DuckDB twin replays the staged training
    * ([[Similarity.kmeansSql]] custom tail), the token counts, and the
    * single-division lift. */
  val t29ClusterTerms: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    // cluster model memoized per dir-content (round 20, Similarity
    // .cachedFit): t29 labels the MAINTAINED s15 clusters — the fit is the
    // corpus's one-time model, the lift report the per-run job; kmeansFit
    // is bit-replayable so rows are identical hit or miss
    val cents = Similarity.cachedFit("t29", dir)(
      Similarity.kmeansFit(e.filter($"vec_id" < 256), "vec_id", "v",
        k = 4, iters = 2))
    val asg = Similarity.kmeansAssign(e, "vec_id", "v", cents)
      .select($"vec_id", $"cluster")
    val d = docs(s, dir).join(asg, $"doc_id" === $"vec_id")
    clusterTermLift(d, "cluster", "text", topN = 5)
      .orderBy($"cluster", $"term_rank")
  }

  val queries: Map[String, Q] = Map(
    "t26_zipf_fit" -> t26ZipfFit,
    "t25_lexical_diversity" -> t25LexicalDiversity,
    "t24_readability" -> t24Readability,
    "t23_ngram_novelty" -> t23NgramNovelty,
    "t22_length_buckets" -> t22LengthBuckets,
    "t21_script_profile" -> t21ScriptProfile,
    "t20_sentence_stats" -> t20SentenceStats,
    "t19_char_entropy" -> t19CharEntropy,
    "t01_lang_id" -> t01LangId,
    "t02_quality" -> t02Quality,
    "t03_token_stats" -> t03TokenStats,
    "t04_fingerprint" -> t04Fingerprint,
    "t05_repetition" -> t05Repetition,
    "t06_common_tokens" -> t06CommonTokens,
    "t07_unigram_surprise" -> t07UnigramSurprise,
    "t08_pii_redact" -> t08PiiRedact,
    "t09_source_overlap" -> t09SourceOverlap,
    "t10_classifier_filter" -> t10ClassifierFilter,
    "t11_gopher_rules" -> t11GopherRules,
    "t12_bigram_surprise" -> t12BigramSurprise,
    "t13_url_filter" -> t13UrlFilter,
    "t14_bpe_merges" -> t14BpeMerges,
    "t27_bpe_segment" -> t27BpeSegment,
    "t28_bpe_fertility" -> t28BpeFertility,
    "t29_cluster_terms" -> t29ClusterTerms,
    "t15_kn_surprise" -> t15KnSurprise,
    "t16_nfc_normalize" -> t16NfcNormalize,
    "t17_strip_accents" -> t17StripAccents,
    "t18_strip_html" -> t18StripHtml)

  /** Generated DuckDB twin of [[bpeTrain]]: one word-frequency CTE, then per
    * merge rank k a pair-count CTE (p_k), a deterministic top-1 CTE (t_k),
    * and a RECURSIVE fold CTE (f_k) that replays the greedy left-to-right
    * merge element by element — the exact `aggregate` fold semantics, so the
    * whole iterative training (not just one stage) is cross-engine-proven.
    *
    * Every stage CTE is `AS MATERIALIZED` and the recursion carries its
    * remaining-symbols state in the ROW (no join back to the previous stage
    * inside the recursive part): without both, DuckDB re-inlines the chain
    * and the k-th stage re-evaluates everything before it once per
    * recursion level — measured exponential (minutes at sf0.001). */
  private[ext] def bpeOracleSql(nMerges: Int, segment: Boolean = false): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH RECURSIVE wf AS MATERIALIZED (
        |  SELECT w, count(*) AS f FROM (
        |    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> length(x) > 0)) AS w FROM documents) GROUP BY w),
        | s0 AS MATERIALIZED (
        |  SELECT w, f, list_transform(range(1, length(w) + 1),
        |    i -> substr(w, i, 1)) AS sym FROM wf)""".stripMargin)
    for (k <- 1 to nMerges) {
      // segment mode also folds the FINAL merge through the vocabulary —
      // training itself never needs the post-last-merge symbol state
      val foldToo = k < nMerges || segment
      val mkSym = if (foldToo)
        s""",
           | s$k AS MATERIALIZED (SELECT w, f, acc AS sym FROM f$k WHERE len(rest) = 0)""".stripMargin
      else ""
      sb.append(s""",
        | p$k AS MATERIALIZED (
        |  SELECT l, r, sum(f) AS pf FROM (
        |   SELECT f, sym[i] AS l, sym[i + 1] AS r FROM (
        |    SELECT f, sym, unnest(range(1, len(sym))) AS i FROM s${k - 1}))
        |  GROUP BY l, r),
        | t$k AS MATERIALIZED (SELECT l, r, pf FROM p$k ORDER BY pf DESC, l, r LIMIT 1)""".stripMargin)
      if (foldToo) sb.append(s""",
        | f$k(w, f, rest, acc, ml, mr) AS (
        |  SELECT s.w, s.f, s.sym, CAST([] AS VARCHAR[]), t.l, t.r
        |  FROM s${k - 1} s, t$k t
        |  UNION ALL
        |  SELECT w, f, rest[2:len(rest)],
        |   CASE WHEN len(acc) > 0 AND acc[-1] = ml AND rest[1] = mr
        |    THEN acc[1:len(acc) - 1] || [ml || mr]
        |    ELSE acc || [rest[1]] END,
        |   ml, mr
        |  FROM f$k WHERE len(rest) > 0)$mkSym""".stripMargin)
    }
    if (!segment)
      sb.append((1 to nMerges).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS rank, l AS "left", r AS "right",
           | CAST(pf AS BIGINT) AS pair_freq FROM t$k""".stripMargin)
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY rank"))
    else
      // t27: join the fully-merged vocabulary back to the doc word stream —
      // wf IS the corpus vocabulary, so every instance matches
      sb.append(s""",
        | dw AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
        |    x -> length(x) > 0)) AS w
        |  FROM documents)
        |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum(len(s$nMerges.sym)) AS BIGINT) AS n_subwords
        |FROM dw JOIN s$nMerges ON dw.w = s$nMerges.w
        |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin)
    sb.toString
  }

  /** t28 twin: the t27 per-doc segmentation aggregated by language —
    * integer sums, fertility derived at the end (same +1e-9 round guard
    * both engines apply). */
  private[ext] def bpeFertilitySql(nMerges: Int): String = {
    val base = bpeOracleSql(nMerges, segment = true)
    // swap t27's final select for the per-language rollup
    val cut = base.lastIndexOf("SELECT dw.doc_id,")
    base.substring(0, cut) +
      s""", seg AS MATERIALIZED (
         |  SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |   CAST(sum(len(s$nMerges.sym)) AS BIGINT) AS n_subwords
         |  FROM dw JOIN s$nMerges ON dw.w = s$nMerges.w
         |  GROUP BY dw.doc_id)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(seg.n_words) AS BIGINT) AS n_words,
         | CAST(sum(seg.n_subwords) AS BIGINT) AS n_subwords,
         | round(CAST(sum(seg.n_subwords) AS DOUBLE)
         |   / CAST(sum(seg.n_words) AS DOUBLE) + 1e-9, 4) + 0.0 AS fertility
         |FROM seg JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  private val toksCte =
    """WITH l AS (
      |  SELECT doc_id, lang, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  private[ext] def duckCount(words: Seq[String]): String =
    "CAST(len(list_filter(toks, t -> list_contains([" +
      words.map(w => s"'$w'").mkString(",") + "], t))) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    // all-integer: binary-digit-count bucketing, ceil-div chunks, histogram
    // cumulative window — replayed with bin()/<<///
    "t22_length_buckets" ->
      """WITH l AS (
        |  SELECT len(list_filter(string_split_regex(text, '\s+'),
        |    x -> length(x) > 0)) AS n
        |  FROM documents),
        | b AS (
        |  SELECT n,
        |   CASE WHEN n > 0 THEN (CAST(1 AS BIGINT) << (length(bin(CAST(n AS BIGINT))) - 1))
        |        ELSE CAST(0 AS BIGINT) END AS bucket_lo,
        |   CASE WHEN n > 0 THEN (n + 511) // 512 ELSE 0 END AS chunks
        |  FROM l),
        | h AS (
        |  SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n) AS BIGINT) AS n_tokens,
        |   CAST(sum(chunks) AS BIGINT) AS n_chunks,
        |   CAST(sum(chunks * 512 - n) AS BIGINT) AS n_padding
        |  FROM b GROUP BY bucket_lo)
        |SELECT bucket_lo, n_docs, n_tokens, n_chunks, n_padding,
        | CAST(sum(n_tokens) OVER (ORDER BY bucket_lo) AS BIGINT) AS cum_tokens
        |FROM h ORDER BY bucket_lo""".stripMargin,
    // c01's gram-hash machinery turned corpus-vs-itself: per-doc-distinct
    // 8-gram 60-bit hashes, df count, shared = df >= 2
    "t23_ngram_novelty" ->
      (toksCte +
        """, g AS (
          |  SELECT DISTINCT doc_id,
          |   CAST(CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),1,15)) AS UBIGINT) AS BIGINT) AS h
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-6)) AS i FROM l)),
          | f AS (SELECT h, count(*) AS df FROM g GROUP BY h),
          | p AS (
          |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |   CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
          |  FROM g JOIN f USING (h) GROUP BY g.doc_id)
          |SELECT d.doc_id,
          | CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
          | CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
          | CASE WHEN coalesce(p.n_grams, 0) > 0
          |  THEN round(CAST(p.n_grams - p.n_shared AS DOUBLE)
          |    / p.n_grams + 1e-9, 4)
          |  ELSE 1.0 END AS novel_frac
          |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
          |ORDER BY d.doc_id""".stripMargin),
    // same literal-range classes (identical in Java regex and RE2), same
    // declaration-order dominant vote, one integer division
    "t21_script_profile" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   (CASE WHEN doc_id % 5 = 0 THEN ' 汉字漢字かなカナ汉字漢字' ELSE '' END) ||
        |   (CASE WHEN doc_id % 7 = 0 THEN ' привет мир данные' ELSE '' END) ||
        |   (CASE WHEN doc_id % 9 = 0 THEN ' αλφα βητα' ELSE '' END) AS raw
        |  FROM documents),
        | c AS (
        |  SELECT doc_id,
        |   CAST(len(regexp_extract_all(raw, '[A-Za-zÀ-ɏ]')) AS BIGINT) AS n_latin,
        |   CAST(len(regexp_extract_all(raw, '[一-鿿぀-ヿ]')) AS BIGINT) AS n_cjk,
        |   CAST(len(regexp_extract_all(raw, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
        |   CAST(len(regexp_extract_all(raw, '[Ͱ-Ͽ]')) AS BIGINT) AS n_greek,
        |   CAST(len(regexp_extract_all(raw, '[؀-ۿ]')) AS BIGINT) AS n_arabic
        |  FROM inj),
        | m AS (
        |  SELECT *, greatest(n_latin, n_cjk, n_cyrillic, n_greek, n_arabic) AS mx,
        |   n_latin + n_cjk + n_cyrillic + n_greek + n_arabic AS tot
        |  FROM c)
        |SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_greek, n_arabic,
        | CASE WHEN n_latin = mx AND mx > 0 THEN 'latin'
        |      WHEN n_cjk = mx AND mx > 0 THEN 'cjk'
        |      WHEN n_cyrillic = mx AND mx > 0 THEN 'cyrillic'
        |      WHEN n_greek = mx AND mx > 0 THEN 'greek'
        |      WHEN n_arabic = mx AND mx > 0 THEN 'arabic'
        |      ELSE 'und' END AS script,
        | CASE WHEN tot > 0
        |  THEN round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE) + 1e-9, 4)
        |  ELSE 0.0 END AS script_share
        |FROM m ORDER BY doc_id""".stripMargin,
    // same injection, same [.!?]+ segmentation, integer counts; the mean is
    // one division of two exact integers
    // rank-ordered regression folds; one fixed-shape slope/intercept
    // expression; signed-zero guards on both rounded outputs
    "t26_zipf_fit" ->
      (toksCte +
        """, u AS (SELECT unnest(toks) AS tok FROM l),
          | f AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
          | r AS (
          |  SELECT tok, c,
          |   CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rk
          |  FROM f ORDER BY c DESC, tok LIMIT 500),
          | p AS (SELECT rk, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM r),
          | s AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x ORDER BY rk)),
          |     (a, v) -> a + v) AS sx,
          |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(y ORDER BY rk)),
          |     (a, v) -> a + v) AS sy,
          |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x * x ORDER BY rk)),
          |     (a, v) -> a + v) AS sxx,
          |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x * y ORDER BY rk)),
          |     (a, v) -> a + v) AS sxy
          |  FROM p),
          | t AS (
          |  SELECT n, sx, sy, sxy,
          |   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
          |  FROM s)
          |SELECT n AS n_terms,
          | round(slope + 1e-9, 4) + 0.0 AS slope,
          | round((sy - slope * sx) / n + 1e-9, 4) + 0.0 AS intercept
          |FROM t""".stripMargin),
    // one (doc, token) count; types/hapax from it; ttr with the nudge
    "t25_lexical_diversity" ->
      (toksCte +
        """, u AS (SELECT doc_id, unnest(toks) AS tok FROM l),
          | f AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
          | p AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          |   CAST(count(*) AS BIGINT) AS n_types,
          |   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
          |  FROM f GROUP BY doc_id)
          |SELECT d.doc_id,
          | CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
          | CAST(coalesce(p.n_types, 0) AS BIGINT) AS n_types,
          | CAST(coalesce(p.n_hapax, 0) AS BIGINT) AS n_hapax,
          | CASE WHEN coalesce(p.n_tokens, 0) > 0
          |  THEN round(CAST(p.n_types AS DOUBLE) / p.n_tokens + 1e-9, 4)
          |  ELSE 0.0 END AS ttr
          |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
          |ORDER BY d.doc_id""".stripMargin),
    // t20's injection + segmentation, the regex syllable floor at 1, and
    // ONE fixed-shape double expression (constants CAST to DOUBLE so the
    // arithmetic cannot run in DECIMAL); + 0.0 guards the signed zero
    "t24_readability" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   (CASE WHEN doc_id % 3 = 0
        |     THEN ' One two three. Four five six! Seven eight nine?' ELSE '' END) ||
        |   (CASE WHEN doc_id % 4 = 0 THEN ' Tail claim.' ELSE '' END) AS raw
        |  FROM documents),
        | st AS (
        |  SELECT doc_id,
        |   list_filter(string_split_regex(raw, '\s+'), x -> length(x) > 0) AS tk,
        |   len(list_filter(list_transform(string_split_regex(raw, '[.!?]+'),
        |     s -> trim(s)), s -> length(s) > 0)) AS n_seg
        |  FROM inj),
        | c AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
        |   CAST(n_seg AS BIGINT) AS n_sentences,
        |   CAST(coalesce(list_sum(list_transform(tk,
        |     w -> greatest(1, len(regexp_extract_all(w, '[aeiouyAEIOUY]+'))))), 0)
        |    AS BIGINT) AS n_syllables
        |  FROM st)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | CASE WHEN n_words > 0 AND n_sentences > 0
        |  THEN round(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    + 1e-9, 4) + 0.0
        |  ELSE 0.0 END AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    "t20_sentence_stats" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   (CASE WHEN doc_id % 3 = 0
        |     THEN ' One two three. Four five six! Seven eight nine?' ELSE '' END) ||
        |   (CASE WHEN doc_id % 4 = 0 THEN ' Tail claim.' ELSE '' END) AS raw
        |  FROM documents),
        | seg AS (
        |  SELECT doc_id, raw,
        |   list_filter(list_transform(string_split_regex(raw, '[.!?]+'),
        |     s -> trim(s)), s -> length(s) > 0) AS segs
        |  FROM inj),
        | st AS (
        |  SELECT doc_id, raw, CAST(len(segs) AS BIGINT) AS n_sentences,
        |   CAST(coalesce(list_sum(list_transform(segs,
        |     s -> len(list_filter(string_split_regex(s, '\s+'),
        |       x -> length(x) > 0)))), 0) AS BIGINT) AS n_sentence_words
        |  FROM seg)
        |SELECT doc_id, n_sentences, n_sentence_words,
        | CAST(CASE WHEN regexp_matches(raw, '[.!?]\s*$') THEN 1 ELSE 0 END
        |   AS BIGINT) AS ends_terminal,
        | CASE WHEN n_sentences > 0
        |  THEN round(CAST(n_sentence_words AS DOUBLE)
        |    / CAST(n_sentences AS DOUBLE) + 1e-9, 4)
        |  ELSE 0.0 END AS mean_sentence_words,
        | CAST(CASE WHEN n_sentences >= 3
        |   AND regexp_matches(raw, '[.!?]\s*$')
        |   AND n_sentence_words >= 5 THEN 1 ELSE 0 END AS BIGINT) AS keep_c4
        |FROM st ORDER BY doc_id""".stripMargin,
    // same injection, same bounded head, same ln-count entropy identity;
    // the fold runs over sorted distinct chars in both engines
    "t19_char_entropy" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |   (CASE WHEN doc_id % 6 = 0 THEN '的是了在我 éàü ' ELSE '' END) ||
        |   (CASE WHEN doc_id % 7 = 0 THEN repeat('ab', 750) || ' ' ELSE '' END) ||
        |   text AS raw
        |  FROM documents),
        | ch AS (
        |  SELECT doc_id,
        |   list_filter(string_split(substr(raw, 1, 2000), ''),
        |     c -> length(c) > 0) AS ch
        |  FROM inj),
        | st AS (
        |  SELECT doc_id, ch, CAST(len(ch) AS BIGINT) AS n,
        |   list_transform(list_sort(list_distinct(ch)),
        |     c -> CAST(len(list_filter(ch, y -> y = c)) AS DOUBLE)) AS cnts
        |  FROM ch),
        | e AS (
        |  SELECT doc_id, n, CAST(len(cnts) AS BIGINT) AS distinct_chars,
        |   CASE WHEN n > 0 THEN round(ln(CAST(n AS DOUBLE)) -
        |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(cnts, x -> x * ln(x))),
        |       (a, x) -> a + x) / CAST(n AS DOUBLE) + 1e-9, 4) + 0.0
        |    ELSE 0.0 END AS char_entropy
        |  FROM st)
        |SELECT doc_id, n AS n_head_chars, distinct_chars, char_entropy,
        | CAST(CASE WHEN char_entropy < 2.5 THEN 1 ELSE 0 END AS BIGINT)
        |  AS low_entropy
        |FROM e ORDER BY doc_id""".stripMargin,
    "t01_lang_id" -> {
      val scores = stop.map { case (l, ws) => s"${duckCount(ws)} AS s_$l" }.mkString(",\n   ")
      val mx = "greatest(" + stop.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val pred = stop.reverse.foldLeft("'und'") { case (alt, (l, _)) =>
        s"CASE WHEN s_$l = mx AND mx > 0 THEN '$l' ELSE $alt END"
      }
      toksCte +
        s""", sc AS (
           |  SELECT doc_id, lang,
           |   $scores
           |  FROM l),
           | m AS (SELECT *, $mx AS mx FROM sc)
           |SELECT doc_id, $pred AS pred_lang, mx AS score, lang AS labeled
           |FROM m ORDER BY doc_id""".stripMargin
    },
    "t02_quality" ->
      (toksCte +
        s""", q AS (
           |  SELECT doc_id, toks, text,
           |   CAST(len(toks) AS BIGINT) AS n_tok,
           |   CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
           |   ${duckCount(stop.head._2)} AS n_stop,
           |   CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct
           |  FROM l)
           |SELECT doc_id, n_tok,
           | round(CAST(sum_len AS DOUBLE) / n_tok, 4) AS avg_tok_len,
           | round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stop_ratio,
           | round(CAST(n_punct AS DOUBLE) / length(text), 4) AS punct_ratio,
           | round(least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) *
           |   (1.0 - CAST(n_stop AS DOUBLE) / n_tok), 4) AS quality
           |FROM q ORDER BY doc_id""".stripMargin),
    "t03_token_stats" ->
      (toksCte +
        """
          |SELECT doc_id,
          | CAST(len(toks) AS BIGINT) AS n_ws,
          | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
          | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
          | CAST(len(regexp_extract_all(text, '[^a-z0-9\s]')) AS BIGINT) AS n_other,
          | CAST(length(text) AS BIGINT) AS n_chars
          |FROM l ORDER BY doc_id""".stripMargin),
    "t04_fingerprint" ->
      (toksCte +
        """, h AS (
          |  SELECT doc_id, i,
          |   CAST(CAST(('0x' || substr(md5(toks[i]),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS h0,
          |   CAST(CAST(('0x' || substr(md5(toks[i+1]),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS h1,
          |   CAST(CAST(('0x' || substr(md5(toks[i+2]),1,15)) AS UBIGINT) % 2147483647 AS BIGINT) AS h2
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-1)) AS i FROM l)),
          | w AS (SELECT doc_id, (3*h0 + 5*h1 + 7*h2) % 2147483647 AS w FROM h)
          |SELECT doc_id, min(w) AS fingerprint,
          | CAST(count(DISTINCT w) AS BIGINT) AS n_windows
          |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "t05_repetition" ->
      (toksCte +
        """, u AS (SELECT doc_id, unnest(toks) AS tok FROM l),
          | uc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
          | us AS (
          |  SELECT doc_id, sum(c) AS n_tok, max(c) AS top_uni,
          |   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_uni
          |  FROM uc GROUP BY doc_id),
          | b AS (
          |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM l)),
          | bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
          | bs AS (SELECT doc_id, sum(c) AS n_big, max(c) AS top_bi FROM bc GROUP BY doc_id)
          |SELECT us.doc_id, CAST(us.n_tok AS BIGINT) AS n_tok,
          | round(CAST(top_uni AS DOUBLE) / us.n_tok + 1e-9, 4) AS top_uni_frac,
          | round(CAST(dup_uni AS DOUBLE) / us.n_tok + 1e-9, 4) AS dup_uni_frac,
          | round(coalesce(CAST(top_bi AS DOUBLE) / bs.n_big, 0) + 1e-9, 4) AS top_bi_frac,
          | CAST(CASE WHEN CAST(dup_uni AS DOUBLE) / us.n_tok > 0.3
          |   OR coalesce(CAST(top_bi AS DOUBLE) / bs.n_big, 0) > 0.18
          |  THEN 1 ELSE 0 END AS BIGINT) AS repetitive
          |FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
          |ORDER BY us.doc_id""".stripMargin),
    "t06_common_tokens" ->
      (toksCte +
        """, t AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM l),
          | n AS (SELECT count(*) AS n_docs FROM documents),
          | d AS (SELECT tok, count(*) AS df FROM t GROUP BY tok)
          |SELECT tok, CAST(df AS BIGINT) AS df,
          | round(CAST(df AS DOUBLE) / n_docs + 1e-9, 4) AS df_frac
          |FROM d, n WHERE CAST(df AS DOUBLE) / n_docs >= 0.02
          |ORDER BY df DESC, tok""".stripMargin),
    "t07_unigram_surprise" ->
      (toksCte +
        s""", u AS (SELECT doc_id, unnest(toks) AS tok FROM l),
          | f AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM u GROUP BY tok),
          | tt AS (SELECT sum(cnt) AS tot FROM f)
          |SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
          | ${foldMeanSql("-ln(f.cnt / tt.tot)")} AS surprise
          |FROM u JOIN f ON u.tok = f.tok, tt
          |GROUP BY u.doc_id ORDER BY u.doc_id""".stripMargin),
    "t08_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   CASE WHEN doc_id % 3 = 0
        |    THEN ' mail user' || doc_id || '@example.com' ELSE '' END ||
        |   CASE WHEN doc_id % 4 = 0
        |    THEN ' from 10.' || (doc_id % 200) || '.0.' || (doc_id % 250) ELSE '' END ||
        |   CASE WHEN doc_id % 5 = 0
        |    THEN ' call ' || (doc_id % 900 + 100) || '-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS s0
        |  FROM documents),
        | s1 AS (
        |  SELECT doc_id,
        |   CAST(len(regexp_extract_all(s0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |   regexp_replace(s0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s
        |  FROM inj),
        | s2 AS (
        |  SELECT doc_id, n_email,
        |   CAST(len(regexp_extract_all(s, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
        |   regexp_replace(s, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS s
        |  FROM s1),
        | s3 AS (
        |  SELECT doc_id, n_email, n_ip,
        |   CAST(len(regexp_extract_all(s, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
        |   regexp_replace(s, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS s
        |  FROM s2)
        |SELECT doc_id, s AS redacted, n_email, n_ip, n_phone
        |FROM s3 ORDER BY doc_id""".stripMargin,
    "t09_source_overlap" ->
      """WITH l AS (
        |  SELECT source,
        |   list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        | sh AS (
        |  SELECT DISTINCT source,
        |   CAST(CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')),1,15)) AS UBIGINT) AS BIGINT) AS gh
        |  FROM (SELECT source, toks, unnest(range(1, len(toks)+1)) AS i FROM l)),
        | sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
        | cm AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.gh = b.gh AND a.source < b.source
        |  GROUP BY 1, 2),
        | pr AS (
        |  SELECT x.source AS src_a, y.source AS src_b, x.n AS n_a, y.n AS n_b
        |  FROM sz x JOIN sz y ON x.source < y.source)
        |SELECT pr.src_a, pr.src_b, pr.n_a, pr.n_b,
        | coalesce(cm.n_common, 0) AS n_common,
        | round(CAST(coalesce(cm.n_common, 0) AS DOUBLE) /
        |   (pr.n_a + pr.n_b - coalesce(cm.n_common, 0)) + 1e-9, 4) AS jaccard
        |FROM pr LEFT JOIN cm ON pr.src_a = cm.src_a AND pr.src_b = cm.src_b
        |ORDER BY pr.src_a, pr.src_b""".stripMargin,
    "t10_classifier_filter" ->
      (toksCte +
        """, u AS (SELECT doc_id, unnest(toks) AS tok FROM l),
          | t AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM l),
          | n AS (SELECT count(*) AS n_docs FROM documents),
          | v AS (
          |  SELECT tok,
          |   (CAST(CAST(('0x' || substr(md5('w:' || tok),1,15)) AS UBIGINT) % 2001 AS BIGINT) - 1000) / 1000.0 AS w
          |  FROM (SELECT tok, count(*) AS df FROM t GROUP BY tok), n
          |  WHERE CAST(df AS DOUBLE) / n_docs >= 0.02),
          | sc AS (
          |  SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
          |   round(1.0 / (1.0 + exp(-avg(coalesce(v.w, 0.0)))) + 1e-9, 4) AS score
          |  FROM u LEFT JOIN v USING (tok) GROUP BY u.doc_id)
          |SELECT doc_id, n_tok, score,
          | CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS label
          |FROM sc ORDER BY doc_id""".stripMargin),
    "t11_gopher_rules" ->
      (toksCte +
        s""", g AS (
           |  SELECT doc_id, toks, text,
           |   string_split(text, chr(10)) AS lns,
           |   CAST(len(toks) AS BIGINT) AS n_tok,
           |   CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sumlen,
           |   CAST(len(regexp_extract_all(text, '#')) +
           |     len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS nsym,
           |   CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS nalpha,
           |   CAST(len(list_filter([${gopherStop.map(w => s"'$w'").mkString(",")}],
           |     w -> list_contains(toks, w))) AS BIGINT) AS n_stop_hit
           |  FROM l),
           | r AS (
           |  SELECT doc_id, n_tok, n_stop_hit,
           |   CASE WHEN n_tok > 0 THEN CAST(sumlen AS DOUBLE) / n_tok END AS mean_len,
           |   CASE WHEN n_tok > 0 THEN CAST(nsym AS DOUBLE) / n_tok END AS sym_r,
           |   CAST(len(list_filter(lns, x -> substr(x,1,2) IN ('- ', '* ')))
           |     AS DOUBLE) / len(lns) AS bul_r,
           |   CAST(len(list_filter(lns, x -> right(x,3) = '...'))
           |     AS DOUBLE) / len(lns) AS ell_r,
           |   CASE WHEN n_tok > 0 THEN CAST(nalpha AS DOUBLE) / n_tok END AS alp_r
           |  FROM g)
           |SELECT doc_id, n_tok,
           | round(mean_len + 1e-9, 4) AS mean_tok_len,
           | round(sym_r + 1e-9, 4) AS sym_ratio,
           | round(bul_r + 1e-9, 4) AS bullet_frac,
           | round(ell_r + 1e-9, 4) AS ellipsis_frac,
           | round(alp_r + 1e-9, 4) AS alpha_frac,
           | n_stop_hit,
           | CAST(CASE WHEN n_tok > 0 AND n_tok BETWEEN 50 AND 100000
           |   AND mean_len >= 3.0 AND mean_len <= 10.0 AND sym_r <= 0.1
           |   AND bul_r <= 0.9 AND ell_r <= 0.3 AND alp_r >= 0.8
           |   AND n_stop_hit >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
           |FROM r ORDER BY doc_id""".stripMargin),
    "t12_bigram_surprise" ->
      (toksCte +
        s""", b AS (
          |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg, toks[i] AS t1
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM l)),
          | fb AS (SELECT bg, CAST(count(*) AS DOUBLE) AS cb FROM b GROUP BY bg),
          | ff AS (SELECT t1, CAST(count(*) AS DOUBLE) AS cf FROM b GROUP BY t1)
          |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_big,
          | ${foldMeanSql("-ln(fb.cb / ff.cf)")} AS bi_surprise
          |FROM b JOIN fb USING (bg) JOIN ff USING (t1)
          |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
    "t13_url_filter" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   CASE WHEN doc_id % 3 = 0
        |    THEN ' see https://' ||
        |      CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
        |      'site' || (doc_id % 7) || '.example.com/page' ELSE '' END ||
        |   CASE WHEN doc_id % 5 = 0
        |    THEN ' ref http://bad' || (doc_id % 2) || '.spam.net/x' ELSE '' END AS t
        |  FROM documents),
        | d AS (
        |  SELECT doc_id,
        |   list_transform(regexp_extract_all(t,
        |     'https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1),
        |     u -> regexp_replace(lower(u), '^www\.', '')) AS doms
        |  FROM inj),
        | f AS (
        |  SELECT doc_id, doms,
        |   len(list_filter(doms,
        |     x -> list_contains(['bad0.spam.net','bad1.spam.net'], x))) AS nb
        |  FROM d)
        |SELECT doc_id,
        | CAST(len(doms) AS BIGINT) AS n_urls,
        | CAST(nb AS BIGINT) AS n_blocked,
        | CAST(CASE WHEN nb = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM f ORDER BY doc_id""".stripMargin,
    "t14_bpe_merges" -> bpeOracleSql(8),
    "t27_bpe_segment" -> bpeOracleSql(8, segment = true),
    "t28_bpe_fertility" -> bpeFertilitySql(8),
    // the s15 staged Lloyd replay, then token counts joined through the
    // assignment and the single-division lift rank
    "t29_cluster_terms" -> Similarity.kmeansSql(k = 4, iters = 2, dim = 64,
      customTail = """, asg AS (SELECT vec_id, CAST((p).c AS BIGINT) AS cl FROM fin),
        | dl AS (
        |  SELECT a.cl,
        |   list_filter(string_split_regex(d.text, '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents d JOIN asg a ON d.doc_id = a.vec_id),
        | t AS (SELECT cl, unnest(toks) AS tok FROM dl),
        | tc AS (SELECT cl, tok, count(*) AS cnt FROM t GROUP BY cl, tok),
        | gt AS (SELECT cl, sum(cnt) AS gtot FROM tc GROUP BY cl),
        | cc AS (SELECT tok, sum(cnt) AS ccnt FROM tc GROUP BY tok),
        | tt AS (SELECT sum(ccnt) AS tot FROM cc),
        | sc AS (
        |  SELECT tc.cl, tc.tok, tc.cnt,
        |   CAST(tc.cnt * tt.tot AS DOUBLE) / (gt.gtot * cc.ccnt) AS lift
        |  FROM tc JOIN gt USING (cl) JOIN cc USING (tok), tt),
        | rk AS (
        |  SELECT cl, tok, cnt, lift,
        |   row_number() OVER (PARTITION BY cl ORDER BY lift DESC, tok) AS r
        |  FROM sc)
        |SELECT cl AS "cluster", CAST(r AS BIGINT) AS term_rank, tok AS token,
        | CAST(cnt AS BIGINT) AS cnt, round(lift + 1e-9, 4) + 0.0 AS lift
        |FROM rk WHERE r <= 5 ORDER BY "cluster", term_rank""".stripMargin),
    "t15_kn_surprise" ->
      (toksCte +
        s""", b AS (
          |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM l)),
          | fb AS (SELECT bg, CAST(count(*) AS DOUBLE) AS cb FROM b GROUP BY bg),
          | ff AS (SELECT split_part(bg, ' ', 1) AS t1, sum(cb) AS cf,
          |   CAST(count(*) AS DOUBLE) AS nf FROM fb GROUP BY 1),
          | bw AS (SELECT split_part(bg, ' ', 2) AS t2,
          |   CAST(count(*) AS DOUBLE) AS nb FROM fb GROUP BY 1),
          | tot AS (SELECT CAST(count(*) AS DOUBLE) AS T FROM fb),
          | st AS (
          |  SELECT bg, ((cb - 0.75) / cf) + (0.75 * nf / cf) * (nb / T) AS p
          |  FROM fb
          |  JOIN ff ON split_part(fb.bg, ' ', 1) = ff.t1
          |  JOIN bw ON split_part(fb.bg, ' ', 2) = bw.t2
          |  CROSS JOIN tot)
          |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_big,
          | ${foldMeanSql("-ln(st.p)")} AS kn_surprise
          |FROM b JOIN st USING (bg)
          |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
    // t16: codepoints spelled via chr() so the SQL stays pure ASCII in
    // transport; 769=U+0301 combining acute, 8491=U+212B ANGSTROM SIGN,
    // 776=U+0308 combining diaeresis; 233/197/246 = precomposed é/Å/ö.
    "t16_nfc_normalize" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   CASE WHEN doc_id % 3 = 0
        |    THEN ' cafe' || chr(769) || ' ' || chr(8491) || 'ngstro' ||
        |         chr(776) || 'm'
        |   WHEN doc_id % 3 = 1
        |    THEN ' caf' || chr(233) || ' ' || chr(197) || 'ngstr' ||
        |         chr(246) || 'm'
        |   ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm_text,
        | CAST(CASE WHEN nfc_normalize(raw) <> raw THEN 1 ELSE 0 END AS BIGINT)
        |   AS changed
        |FROM inj ORDER BY doc_id""".stripMargin,
    // t17: 239=U+00EF ï, 322=U+0142 ł, 243=U+00F3 ó, 378=U+017A ź,
    // 223=U+00DF ß; accents fold, stroke-letter and eszett survive.
    // 2325/2367 = Devanagari ka + i-matra (Mc), 2984/3007 = Tamil na + i
    // (Mc), 8413 = combining enclosing circle (Me): all marks strip.
    "t17_strip_accents" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   CASE WHEN doc_id % 5 = 0
        |    THEN ' cafe' || chr(769) || ' ' || chr(8491) || 'ngstro' ||
        |         chr(776) || 'm'
        |   WHEN doc_id % 5 = 1
        |    THEN ' caf' || chr(233) || ' ' || chr(197) || 'ngstr' ||
        |         chr(246) || 'm'
        |   WHEN doc_id % 5 = 2
        |    THEN ' na' || chr(239) || 've ' || chr(322) || chr(243) || 'd' ||
        |         chr(378) || ' stra' || chr(223) || 'e'
        |   WHEN doc_id % 5 = 3
        |    THEN ' ' || chr(2325) || chr(2367) || ' ' || chr(2984) ||
        |         chr(3007) || ' a' || chr(8413) || 'b'
        |   ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id, strip_accents(raw) AS folded_text,
        | CAST(CASE WHEN strip_accents(raw) <> raw THEN 1 ELSE 0 END AS BIGINT)
        |   AS changed
        |FROM inj ORDER BY doc_id""".stripMargin,
    // t18: same regex chain, DuckDB needs the explicit 'g' flag (default
    // replaces only the first match); chr(39) injects the quote the &#39;
    // entity decodes to without SQL-escaping gymnastics.
    "t18_strip_html" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |   CASE WHEN doc_id % 3 = 0
        |    THEN ' <div class="x"><p>para <b>bold</b></p></div>'
        |    ELSE '' END ||
        |   CASE WHEN doc_id % 5 = 0
        |    THEN ' <script type="a">var x = 1 < 2;</script>' ||
        |         '<style>p { color: red }</style>'
        |    ELSE '' END ||
        |   CASE WHEN doc_id % 4 = 0
        |    THEN ' AT&amp;T &lt;tag&gt; 1&nbsp;2 &#39;q&#39; &quot;w&quot;'
        |    ELSE '' END AS raw
        |  FROM documents),
        | s1 AS (SELECT doc_id, raw,
        |   regexp_replace(raw, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS a
        |  FROM inj),
        | s2 AS (SELECT doc_id, raw,
        |   regexp_replace(a, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS a
        |  FROM s1),
        | s3 AS (SELECT doc_id, raw, regexp_replace(a, '<[^>]+>', ' ', 'g') AS a
        |  FROM s2),
        | s4 AS (SELECT doc_id, raw,
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |     regexp_replace(regexp_replace(a,
        |     '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |     '&#39;', CAST(chr(39) AS VARCHAR), 'g'), '&nbsp;', ' ', 'g'),
        |     '&amp;', '&', 'g') AS a
        |  FROM s3)
        |SELECT doc_id, trim(regexp_replace(a, '\s+', ' ', 'g')) AS clean_text,
        | CAST(len(regexp_extract_all(raw, '<[^>]+>')) AS BIGINT) AS n_tags
        |FROM s4 ORDER BY doc_id""".stripMargin)
}
