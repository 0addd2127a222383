package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextOps._

/** Library-facing dedup / similarity operators, parameterized by column and
  * threshold — the generic forms of the oracle-checked d01–d05/s01–s02
  * queries (which pin specific columns so DuckDB can replay them). A user of
  * the engine calls these on their own tables.
  *
  * Every operator keeps the d01–d05 scale contract: one explode + keyed
  * shuffles only, candidate pairs materialize only inside a
  * bucket/block/posting list — never an all-pairs product.
  */
object DedupOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup: keep one row per duplicate group (the one with the lowest
    * `keepBy`). Grouping happens on the md5 of the listed columns so the
    * shuffle carries 32-byte digests, not full rows. */
  def dropExactDuplicates(df: DataFrame, cols: Seq[String], keepBy: String): DataFrame = {
    // NUL separator / SOH null-sentinel (as escapes — raw control bytes would
    // make git treat this source file as binary).
    val digest = md5(concat_ws("\u0000",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*))
    val w = Window.partitionBy(digest).orderBy(col(keepBy))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Per-doc MinHash band postings (__id, band, bsig) in the d02 signature
    * layout — the candidate unit both [[dropNearDuplicatesMinhash]] and the
    * incremental streaming dedup
    * ([[graft.streaming.CurationStream.nearDedupBatch]]) key on. */
  private[graft] def bandPostings(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, shingleLen: Int): DataFrame = {
    val n = bands * rowsPerBand
    val sh = df
      .withColumn("__tk", toks(col(textCol)))
      .withColumn("__shs", array_distinct(shinglesN(col("__tk"), shingleLen)))
      .select(col(idCol).as("__id"), explode_outer(col("__shs")).as("__sh"))
      .filter(col("__sh").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), hm(col("__sh")).as("__hm"))
    val aggs = (0 until n).map(k => min(perm(k, col("__hm"))).as(s"__mh$k"))
    val sig = sh.groupBy(col("__id")).agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(i =>
          col(s"__mh${rowsPerBand * b + i}").cast("string")): _*).as("bsig"))
    }
    sig.select(col("__id"), explode(array(bandCols: _*)).as("__bb"))
      .select(col("__id"), col("__bb.band").as("band"), col("__bb.bsig").as("bsig"))
  }

  /** MinHash-LSH near-dup removal: word-shingle minhash signatures in
    * `bands`×`rowsPerBand` layout; a row is dropped when any band bucket
    * contains a row with a smaller `idCol` (greedy keep-first, like d02).
    *
    * Scale contract (100 TB): the final join is a LEFT ANTI against the set
    * of ids that LOST the greedy — i.e. only the duplicates, a small
    * fraction of the corpus — with no broadcast hint (a keep-set semi-join
    * would carry one id per retained doc ≈ the whole corpus; AQE may still
    * broadcast the drop-set when it genuinely fits, which is the right
    * call). Docs that produce no shingle rows (null/empty text) never enter
    * the shingle relation, so the anti-join retains them — they are not
    * duplicates of anything. */
  def dropNearDuplicatesMinhash(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, shingleLen: Int = 3): DataFrame =
    dropNearDuplicatesMinhashFromPostings(df,
      bandPostings(df, idCol, textCol, bands, rowsPerBand, shingleLen), idCol)

  /** [[dropNearDuplicatesMinhash]] from a pre-built (served or inline)
    * posting relation in the [[bandPostings]] shape `(__id, band, bsig)` —
    * the serving path against a persisted posting index (see
    * [[graft.ext.Dedup]]'s minhashPostTable): only the band-bucket window
    * + greedy keep re-run, never the signature pass. Served ≡ inline
    * bit-exact (postings are integers/strings of integers). */
  def dropNearDuplicatesMinhashFromPostings(df: DataFrame, posts: DataFrame,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col("band"), col("bsig"))
    val dropIds = posts
      .withColumn("__mn", min(col("__id")).over(w))
      .groupBy(col("__id")).agg(min(col("__mn")).as("__gmin"))
      .filter(col("__gmin") =!= col("__id"))
      .select(col("__id"))
    df.join(dropIds.withColumnRenamed("__id", idCol), Seq(idCol), "left_anti")
  }

  /** Cross-corpus MinHash near-dup drop — near-dup DECONTAMINATION: remove
    * every corpus doc whose MinHash signature collides with a REFERENCE doc
    * (eval/benchmark set, an earlier training corpus, opt-out content) in
    * any LSH band. Same signature layout as [[dropNearDuplicatesMinhash]],
    * pointed across two tables instead of within one; where c01/c06 catch
    * verbatim n-gram overlap, this catches paraphrase-level near-duplicates.
    * Docs with no shingles (null/empty text) produce no postings and are
    * always kept.
    *
    * Scale contract (100 TB): the reference's (band, bsig) posting set is
    * distinct'd and is benchmark-sized, so AQE broadcasts the semi-join
    * build side when it fits; the corpus then sheds non-colliding rows
    * before the final LEFT ANTI, which carries only the matched ids. */
  def dropNearDuplicatesAgainst(corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, bands: Int = 4, rowsPerBand: Int = 4,
      shingleLen: Int = 3): DataFrame =
    dropNearDuplicatesAgainstFromPostings(corpus,
      bandPostings(corpus, idCol, textCol, bands, rowsPerBand, shingleLen),
      bandPostings(reference, idCol, textCol, bands, rowsPerBand, shingleLen),
      idCol)

  /** [[dropNearDuplicatesAgainst]] from pre-built (served or inline)
    * posting relations in the [[bandPostings]] shape `(__id, band, bsig)` —
    * the serving path when a deployment persists its posting index (see
    * [[graft.ext.Dedup]]'s minhashPostTable): the signature pass never
    * re-runs, only the semi-join + anti-join a stored index answers.
    * Postings are integers/strings of integers, so served ≡ inline
    * bit-exact (DedupOpsSpec). Same scale contract as the inline form:
    * the reference posting set distinct's to benchmark-sized, AQE
    * broadcasts it when it fits, and the final LEFT ANTI carries only the
    * matched ids. */
  def dropNearDuplicatesAgainstFromPostings(corpus: DataFrame,
      corpusPosts: DataFrame, refPosts: DataFrame, idCol: String): DataFrame = {
    val rp = refPosts.select(col("band"), col("bsig")).distinct()
    val dropIds = corpusPosts.join(rp, Seq("band", "bsig"), "left_semi")
      .select(col("__id")).distinct()
    corpus.join(dropIds.withColumnRenamed("__id", idCol), Seq(idCol), "left_anti")
  }

  /** Token hash for a `bits`-wide simhash: the folded 31-bit [[hm]] only
    * carries signal in bits 0..30, so wider fingerprints (the 100 TB
    * setting — band buckets saturate as the corpus grows, see
    * [[simhashPairs]]) draw from the unfolded 60-bit [[h60]]. */
  private def simTokHash(tok: Column, bits: Int): Column =
    if (bits > 30) h60(tok) else hm(tok)

  /** SimHash fingerprint column (near-dup docs land on equal/nearby values;
    * group on it for d03-style clustering). */
  def withSimhash(df: DataFrame, textCol: String, out: String = "simhash",
      bits: Int = 30): DataFrame = {
    require(bits >= 1 && bits <= 60, "token hash provides 60 bits")
    val key = df.columns.map(col)
    val th = df
      .withColumn("__tk", toks(col(textCol)))
      .select((key :+ explode_outer(col("__tk")).as("__tok")): _*)
      .filter(col("__tok").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select((key :+ simTokHash(col("__tok"), bits).as("__hm")): _*)
      .groupBy((key :+ col("__hm")): _*).agg(count(lit(1)).as("__cnt"))
    th
      .select((key ++ Seq(col("__hm"), col("__cnt"),
        explode(sequence(lit(0), lit(bits - 1))).as("__j"))): _*)
      .withColumn("__contr",
        when(expr("(shiftright(__hm, __j) & 1)") === 1, col("__cnt")).otherwise(-col("__cnt")))
      .groupBy((key :+ col("__j")): _*).agg(sum(col("__contr")).as("__sgn"))
      .groupBy(key: _*)
      .agg(sum(when(col("__sgn") > 0, expr("shiftleft(CAST(1 AS BIGINT), __j)"))
        .otherwise(0L)).as(out))
  }

  /** SimHash near-dup PAIRS — the scale path for simhash clustering: where
    * [[withSimhash]]/d03 only group EQUAL fingerprints, this finds pairs
    * within Hamming distance `maxHamming` by banding the fingerprint
    * (`bands` bands of `bitsPerBand` bits) and equi-joining band values —
    * the classic simhash index. By pigeonhole, a pair at Hamming ≤
    * `bands - 1` must agree on at least one whole band, so for
    * `maxHamming <= bands - 1` candidate generation is EXACT, not
    * approximate; the final `bit_count(xor)` check is then a pure filter.
    *
    * Scale shape: one per-doc aggregation for the fingerprint, then a
    * self-equi-join on (band, bandValue) — hash-partitioned, never an
    * all-pairs product; signatures ride on the band rows (no join-back).
    * Returns (id_a, id_b, hamming).
    *
    * Band sizing: simhash bits of natural-language docs are CORRELATED
    * (common vocabulary dominates the majority vote), so narrow bands
    * saturate — measured at sf0.1, 3×10-bit bands put 17% of the corpus in
    * one bucket (1.49M candidates) while 2×15-bit bands cut candidates 6.3×
    * for the SAME exact output. Use the fewest bands the Hamming budget
    * allows (bands = maxHamming + 1) with the widest bits, and widen the
    * fingerprint as the corpus grows. Run AFTER exact dedup: identical docs
    * share every bucket and contribute quadratic pairs by definition. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 2, bitsPerBand: Int = 15, maxHamming: Int = 1): DataFrame = {
    val bits = bands * bitsPerBand
    require(bits <= 60, "token hash provides 60 bits")
    val sig = df
      .withColumn("__tk", toks(col(textCol)))
      .select(col(idCol).as("__id"), explode_outer(col("__tk")).as("__tok"))
      .filter(col("__tok").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), simTokHash(col("__tok"), bits).as("__hm"))
      .groupBy(col("__id"), col("__hm")).agg(count(lit(1)).as("__cnt"))
      .select(col("__id"), col("__hm"), col("__cnt"),
        explode(sequence(lit(0), lit(bits - 1))).as("__j"))
      .withColumn("__contr",
        when(expr("(shiftright(__hm, __j) & 1)") === 1, col("__cnt")).otherwise(-col("__cnt")))
      .groupBy(col("__id"), col("__j")).agg(sum(col("__contr")).as("__sgn"))
      .groupBy(col("__id"))
      .agg(sum(when(col("__sgn") > 0, expr("shiftleft(CAST(1 AS BIGINT), __j)"))
        .otherwise(0L)).as("__sig"))
    simhashPairsFromSigs(sig, "__id", "__sig", bands, bitsPerBand, maxHamming)
  }

  /** The banding + pair half of [[simhashPairs]] over PRECOMPUTED
    * fingerprints — the production seam at 100 TB: signatures are 8 bytes
    * per document ([[withSimhash]]'s output, the thing a pipeline
    * materializes once as a table), and every downstream pair/cluster/
    * keep-best query bands and joins THAT table instead of re-tokenizing
    * the corpus. `sigs` carries (idCol, sigCol) with the fingerprint in the
    * low `bands × bitsPerBand` bits; the pigeonhole-exactness and band-
    * sizing notes on [[simhashPairs]] apply unchanged. */
  def simhashPairsFromSigs(sigs: DataFrame, idCol: String, sigCol: String,
      bands: Int = 2, bitsPerBand: Int = 15, maxHamming: Int = 1): DataFrame = {
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs bands >= ${maxHamming + 1} for exact candidates")
    val sig = sigs.select(col(idCol).as("__id"), col(sigCol).cast("long").as("__sig"))
    val mask = (1L << bitsPerBand) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("bd"),
        expr(s"shiftright(__sig, ${bitsPerBand * b}) & $mask").as("bv"))
    }
    val bandRows = sig
      .select(col("__id"), col("__sig"), explode(array(bandCols: _*)).as("__bb"))
      .select(col("__id"), col("__sig"),
        col("__bb.bd").as("__bd"), col("__bb.bv").as("__bv"))
    // same ReusedExchange self-join shape as jaccardPairs/lshParts
    val pp = bandRows.repartition(col("__bd"), col("__bv"))
    pp.as("a").hint("merge").join(pp.as("b"),
        col("a.__bd") === col("b.__bd") && col("a.__bv") === col("b.__bv") &&
          col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(first(col("a.__sig")).as("__sa"), first(col("b.__sig")).as("__sb"))
      .withColumn("hamming", expr("bit_count(__sa ^ __sb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** [[simhashPairsFromSigs]] with candidate generation RESTRICTED to pairs
    * touching the `probe` side — the incremental-maintenance shape
    * (round-18 verdict #3): a micro-batch's new fingerprints probe the
    * accumulated signature index, generating exactly the pair-graph edges
    * the batch adds (new–new and new–old); edges among `index`-only rows
    * are never re-derived. For any ingestion split, the union over batches
    * of `simhashPairsAcross(newSigs_B, sigs_≤B)` equals
    * `simhashPairsFromSigs(allSigs)` — every pair is generated by its
    * later endpoint's batch — with identical hamming values (spec-pinned
    * through the streamed component store).
    *
    * Scale shape: one (band, bandValue) equi-join of batch-sized probe
    * postings against the index postings — hash-partitioned, pruned to
    * colliding buckets; the probe side is micro-batch-sized. Returns
    * (id_a, id_b, hamming) with id_a < id_b, deduped across bands.
    *
    * CONTRACT (round-19 ADVICE #3): each side must map every id to ONE
    * signature — the per-pair signature resolution after the band join
    * picks `first()` within a (id_a, id_b) group, which is exact when all
    * of a group's rows carry identical sigs and nondeterministic
    * otherwise. [[graft.streaming.CurationStream.componentBatch]] upholds
    * it by (a) anti-joining the accumulated index against the batch's
    * doc_ids before probing (the batch's signature wins a batch-vs-index
    * collision) and (b) treating a CHANGED document as a NEW doc_id — the
    * sigs store is append-only per batch, so re-ingesting an old doc_id
    * with different text across committed batches leaves two live
    * signatures in the index and is outside the store's contract. */
  def simhashPairsAcross(probe: DataFrame, index: DataFrame, idCol: String,
      sigCol: String, bands: Int = 2, bitsPerBand: Int = 15,
      maxHamming: Int = 1): DataFrame = {
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs bands >= ${maxHamming + 1} for exact candidates")
    val mask = (1L << bitsPerBand) - 1
    def bandRows(df: DataFrame): DataFrame = {
      val sig = df.select(col(idCol).cast("long").as("__id"),
        col(sigCol).cast("long").as("__sig"))
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("bd"),
          expr(s"shiftright(__sig, ${bitsPerBand * b}) & $mask").as("bv"))
      }
      sig.select(col("__id"), col("__sig"), explode(array(bandCols: _*)).as("__bb"))
        .select(col("__id"), col("__sig"),
          col("__bb.bd").as("__bd"), col("__bb.bv").as("__bv"))
    }
    bandRows(probe).as("a")
      .join(bandRows(index).as("b"),
        col("a.__bd") === col("b.__bd") && col("a.__bv") === col("b.__bv") &&
          col("a.__id") =!= col("b.__id"))
      .select(least(col("a.__id"), col("b.__id")).as("id_a"),
        greatest(col("a.__id"), col("b.__id")).as("id_b"),
        when(col("a.__id") < col("b.__id"), col("a.__sig"))
          .otherwise(col("b.__sig")).as("__sa"),
        when(col("a.__id") < col("b.__id"), col("b.__sig"))
          .otherwise(col("a.__sig")).as("__sb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("__sa")).as("__sa"), first(col("__sb")).as("__sb"))
      .withColumn("hamming", expr("bit_count(__sa ^ __sb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components of a near-dup PAIR graph: every id that appears
    * in a pair is labeled with the MINIMUM id reachable from it (the
    * component representative) — the cluster-collapse step that turns the
    * pair-producing operators ([[jaccardPairs]] / [[simhashPairs]] /
    * [[cosinePairs]]) into a dedup decision: keep the representative, drop
    * the rest. Near-dup similarity is not transitive, so pairs alone
    * over-keep (A~B, B~C but A gets kept twice under per-pair greedy);
    * components make the drop set well-defined.
    *
    * Size-adaptive, like the `*Auto` operators: the pair relation is orders
    * of magnitude smaller than the corpus (only duplicates appear in it), so
    * UP TO `maxDriverEdges` edges the component labeling is a driver-side
    * union-find with path compression and union-to-minimum (exact,
    * effectively linear, finishes in milliseconds where the iterative form
    * pays per-round scheduling). PAST the cap — a pair graph too big to
    * collect is possible at 100 TB — the distributed path runs min-label
    * propagation WITH POINTER JUMPING: each round takes the per-node minimum
    * of (own label, neighbors' labels, label-of-own-label), and the
    * pointer-jump term doubles the propagation distance per round, so
    * convergence is O(log n) rounds, not O(diameter). Measured on a
    * pathological graph (self-measured sf1.0: one stopword-heavy quasi-chain
    * component spanning 25k of 50k docs, diameter > 20): 24 rounds ≈
    * 1.6·log₂(n) — plain neighbor-min propagation does NOT terminate there
    * in any reasonable bound. Every distributed step is a keyed join +
    * min-aggregation over the pair relation; `maxIters` (default 50,
    * comfortably past the log bound) raises rather than return a partial
    * labeling, and a localCheckpoint per round truncates the
    * otherwise-exponential lineage. Both paths produce identical labels
    * (spec-asserted). Returns (id, component). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50, maxDriverEdges: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    // undirected edge list, normalized src < dst, deduped
    val e0 = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    if (e0.count() <= maxDriverEdges) {
      // driver union-find: union-to-minimum keeps every root the component's
      // minimum id, so find(x) IS the component label
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      e0.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      import spark.implicits._
      parent.keys.toSeq.map(id => (id, find(id)))
        .toDF("id", "component")
    } else {
      val e = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      var labels = e.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
        .localCheckpoint(true)
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        val neighbor = e
          .join(labels.select(col("id").as("dst"), col("component")), Seq("dst"))
          .select(col("src").as("id"), col("component"))
        // pointer jump: component(component(id)) — the label a node's current
        // representative has moved on to; composing it each round doubles the
        // effective propagation distance (log-round convergence)
        val jump = labels
          .join(labels.select(col("id").as("component"), col("component").as("__c2")),
            Seq("component"))
          .select(col("id"), col("__c2").as("component"))
        // convergence detection folded into the SAME per-id aggregation:
        // the labels rows carry their current component through as __old
        // (min ignores the nulls on neighbor/jump rows — every id has
        // exactly one labels row, so min(__old) IS the previous label), and
        // "changed" becomes a cheap scan of the just-checkpointed result
        // instead of a second shuffle join back against the previous labels
        val next = labels
          .select(col("id"), col("component"), col("component").as("__old"))
          .union(neighbor.withColumn("__old", lit(null).cast("long")))
          .union(jump.withColumn("__old", lit(null).cast("long")))
          .groupBy(col("id")).agg(min(col("component")).as("component"),
            min(col("__old")).as("__old"))
          .localCheckpoint(true)
        changed = next.filter(col("component") =!= col("__old")).count()
        labels = next.select(col("id"), col("component"))
        it += 1
      }
      require(changed == 0,
        s"connectedComponents did not converge within $maxIters rounds - raise maxIters")
      labels
    }
  }

  /** Canonicalize a URL column — the web-corpus provenance normalization
    * (see [[graft.ext.Dedup.d17UrlDedup]]): lowercase scheme and host,
    * strip `www.` and the scheme's default port (:80 http, :443 https),
    * drop the fragment, drop `utm_*`/`fbclid`/`gclid` tracking params,
    * SORT the surviving query params (binary order — param order never
    * distinguishes pages), strip trailing path slashes. Built from
    * codegen'd string/regexp/array primitives only, so it is a shuffle-free
    * projection and replays in any engine with the same regex dialect
    * subset (no backrefs, no lookaround). A string that doesn't parse as
    * scheme://host... passes through unchanged. */
  def canonicalizeUrl(u: Column): Column = {
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$"
    val scheme = lower(regexp_extract(u, pat, 1))
    val host0 = lower(regexp_extract(u, pat, 2))
    val host1 = regexp_replace(host0, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host1, ":80$", ""))
      .when(scheme === "https", regexp_replace(host1, ":443$", ""))
      .otherwise(host1)
    val path = regexp_replace(regexp_extract(u, pat, 3), "/+$", "")
    val q0 = regexp_extract(u, pat, 4)
    val params = filter(
      split(regexp_replace(q0, "^\\?", ""), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)="))
    val query = array_join(array_sort(params), "&")
    when(scheme === "" || host === "", u)
      .otherwise(concat(scheme, lit("://"), host, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** Dedup by canonical URL: every row gets its [[canonicalizeUrl]] key,
    * the group's lowest id wins (`kept` = 1), and `n_copies` reports the
    * recrawl multiplicity. One shuffle-free canonicalization projection +
    * one window partitioned by the canonical URL (group sizes are recrawl
    * multiplicities — never corpus-scaled). */
  def dedupByCanonicalUrl(df: DataFrame, idCol: String,
      urlCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_url"))
    df.withColumn("canon_url", canonicalizeUrl(col(urlCol)))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("kept",
        (col(idCol) === min(col(idCol)).over(w)).cast("long"))
  }

  /** DBSCAN-style density clustering over a precomputed neighbor-pair
    * graph: a point with >= `minPts` neighbors is a CORE; clusters are the
    * connected components of the core-core subgraph (label = minimum core
    * id); a non-core point with a core neighbor is a BORDER and joins its
    * minimum core neighbor's cluster (the deterministic tie-break for the
    * classic "border reachable from two clusters" ambiguity); everything
    * else is NOISE (cluster −1). The density model k-means lacks: clusters
    * of arbitrary shape, an explicit outlier verdict, and no k to choose —
    * the curation use is isolating dense near-duplicate regions and
    * surfacing low-density junk in one pass.
    *
    * The neighbor graph is an INPUT (the [[keepBestPerGroup]] /
    * [[graft.ext.CurationOps.softDedupWeights]] composition discipline):
    * feed [[cosinePairs]] for exact in-block neighbors, [[cosinePairsLsh]]
    * at scale — density semantics then inherit that generator's
    * eps-neighborhood. `minPts` counts NEIGHBORS, self excluded.
    *
    * Scale shape: every aggregation and join here is pair-graph- or
    * node-keyed (degree count, two semi-joins, the size-adaptive
    * [[connectedComponents]], the border min-agg) — the corpus-sized side
    * appears once, in the final label join. All-integer labels. */
  def dbscan(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts >= 1, got $minPts")
    val p = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // localCheckpoint: the doubled edge list feeds THREE consumers (degree
    // count, the core-core semi-joins, the border min-agg) — without the
    // pin each re-derives the full pair generator (s24's bucket join +
    // exact-dot verification ran ~3x per call; the s08/s09 multi-consumer
    // slice discipline). Pair-graph-sized, so the checkpoint is cheap by
    // this operator's own scale contract (round 20; measured 3.9 -> 2.8 s
    // at sf0.1 on s24).
    val e = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val ids = df.select(col(idCol).cast("long").as("id"))
    val withDeg = ids.join(deg, ids("id") === deg("src"), "left")
      .select(col("id"), coalesce(col("__deg"), lit(0L)).as("degree"))
    val core = withDeg.filter(col("degree") >= minPts).select(col("id"))
    val coreEdges = e
      .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
    val comp = connectedComponents(coreEdges, "src", "dst")
    // a core with no CORE neighbor is its own singleton cluster
    val coreLab = core.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("__cc"))
    val borderLab = e
      .join(coreLab.select(col("id").as("dst"), col("__cc")), Seq("dst"))
      .groupBy(col("src")).agg(min(col("__cc")).as("__bc"))
    withDeg
      .join(coreLab, Seq("id"), "left")
      .join(borderLab.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("__cc"), col("__bc"), lit(-1L)).as("cluster"),
        when(col("__cc").isNotNull, "core")
          .when(col("__bc").isNotNull, "border")
          .otherwise("noise").as("role"))
  }

  /** [[dbscan]] with its neighbor generator DERIVED from the target eps —
    * the closed parameter loop (round-13 NEXT #5): the caller states the
    * MEANINGFUL numbers (cosine eps, minPts, a signature-size budget) and
    * [[LshTuning.tuneCosine]] picks the (bands, planesPerBand) hyperplane
    * layout minimizing S-curve error mass at that eps, instead of the
    * layout being hand-tuned per corpus. Candidates then verify on the
    * exact cosine ([[cosinePairsLsh]]), so precision is exact and recall
    * is the tuned OR-of-ANDs amplification — on witness data with planted
    * clusters DedupOpsSpec pins tuned-layout clustering ≡ exact-all-pairs
    * clustering. Same scale shape as its parts: banded candidates, never
    * all-pairs; pair-graph-keyed labeling. */
  def dbscanTuned(df: DataFrame, idCol: String, vecCol: String, eps: Double,
      minPts: Int, signatureBudget: Int = 24, dim: Int = 64,
      blockCol: Option[String] = None): DataFrame = {
    val (bands, planes) = LshTuning.tuneCosine(eps, signatureBudget)
    log.info(s"dbscanTuned: eps=$eps budget=$signatureBudget -> " +
      s"bands=$bands planesPerBand=$planes " +
      s"(inflection p=${LshTuning.inflection(bands, planes)})")
    val pairs = cosinePairsLsh(df, idCol, vecCol, eps, blockCol,
      planes, bands, dim)
    dbscan(df, idCol, pairs, "id_a", "id_b", minPts)
  }

  /** Duplicate-cluster size statistics over a near-dup pair graph — the
    * dedup report: every corpus row labels with its
    * [[connectedComponents]] component (itself when unpaired — singletons
    * are size-1 clusters), then the cluster-size histogram
    * (cluster_size, n_clusters, n_docs). `n_docs` sums to the corpus row
    * count; rows with cluster_size > 1 quantify removable duplicate mass.
    *
    * Scale shape: components run over the PAIR graph only (orders of
    * magnitude smaller than the corpus); the label join back is a
    * small-side join AQE broadcasts; the two histogram aggregations are
    * component-count- then size-count-sized. All-integer outputs. */
  def componentStats(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame =
    componentStatsFromLabels(df, idCol,
      connectedComponents(pairs, aCol, bCol))

  /** [[componentStats]] fed by a PRECOMPUTED (id, component) label
    * relation — the [[graft.ext.Dedup.sigComponentsTable]] serving seam
    * (round-17): the histogram is two keyed aggregations off the corpus
    * scan + one small-side label join; the pair stage ran once at table
    * build. Output identical — exact integers either way. */
  def componentStatsFromLabels(df: DataFrame, idCol: String,
      components: DataFrame): DataFrame = {
    val comp = components.select(col("id").as("__cid"), col("component"))
    val sizes = df.select(col(idCol).cast("long").as("__id"))
      .join(comp, col("__id") === col("__cid"), "left")
      .select(coalesce(col("component"), col("__id")).as("__comp"))
      .groupBy(col("__comp")).agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
  }

  /** Exact-substring span masking — the distributable fixed-window form of
    * Lee et al. 2022's ExactSubstr deduplication ("Deduplicating Training
    * Data Makes Language Models Better", the suffix-array step): every token
    * position covered by an `n`-token window occurring in at least `minDocs`
    * DISTINCT documents is removed and the document re-joined from the
    * surviving tokens. Any repeated cross-document span of length ≥ n is a
    * union of repeated n-windows, so whole repeated spans vanish while
    * unique text stays; spans repeated only WITHIN one document are
    * deliberately untouched (that is the t05 repetition-signal family's
    * job). Returns (idCol, clean_text, n_kept, n_removed), clean_text = ""
    * when everything was repeated.
    *
    * Scale shape (re-planned round 21 — guide §2.3 "shuffle keys and
    * metadata instead of payloads"): occurrence rows are (doc, position,
    * 8-byte gram hash); the document-frequency aggregation and the cover
    * join are gram-hash-keyed (the d04 inverted-index shape — a suffix
    * array needs a dedicated host, this needs only keyed shuffles); the
    * covered positions then collapse to ONE int-array per affected doc
    * (bounded by document length — the same bound the old collect_list
    * rebuild had) and the rebuild is a PROJECTION over the token array
    * (`array_except` of the position range, linear per doc). The token
    * STRINGS never shuffle: the old plan posexplode'd every token a second
    * time, anti-joined all (doc, position) token rows against the covered
    * set, re-aggregated the kept tokens with collect_list, and joined a
    * third tokenize for the total count — three token-payload exchanges
    * and three tokenize evaluations, versus one int-payload exchange and
    * two tokenize evaluations now. DedupOpsSpec pins the old rebuild
    * program as the equivalence reference. */
  def maskRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 2 && minDocs >= 2, s"need n >= 2 and minDocs >= 2")
    val tk = df.select(col(idCol).as("__id"), toks(col(textCol)).as("__tk"))
    // every n-window occurrence with its 0-based start position
    val occ = tk
      .select(col("__id"), posexplode_outer(ngramsExact(col("__tk"), n))
        .as(Seq("__i", "__ng")))
      .filter(col("__ng").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), col("__i"), h60(col("__ng")).as("__gh"))
      // explicit gram-hash repartition (round 20; claim corrected round
      // 21): the document-frequency aggregation and the cover join both
      // need the occurrences keyed by __gh. The r20 note claimed ONE
      // ReusedExchange serves both — the round-21 executed plan shows that
      // is NOT so (the consumers prune to different column sets, so the
      // two REPARTITION_BY_COL exchanges stay separate; the ReusedExchange
      // in the plan is the loadSpread round-robin). The repartition still
      // WINS on measurement — same-session sf1.0 A/B: 5.53 s with vs
      // 6.52 s without — because each consumer's downstream
      // ENSURE_REQUIREMENTS exchange is satisfied by the explicit
      // partitioning (countDistinct's two-level rewrite re-shuffles
      // nothing). Kept on that evidence, not the reuse story.
      .repartition(col("__gh"))
    val rep = occ.groupBy(col("__gh"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__gh"))
    // per-doc covered-position SET (collect_set dedups in the aggregation —
    // the old plan's standalone .distinct() exchange is folded in); int
    // positions only, bounded by document length
    val covSet = occ.join(rep, Seq("__gh"))
      .select(col("__id"),
        explode_outer(sequence(col("__i"), col("__i") + (n - 1))).as("__p"))
      .filter(col("__p").isNotNull)
      .groupBy(col("__id"))
      .agg(collect_set(col("__p")).as("__cov"))
    // rebuild as a projection: kept positions = ascending position range
    // minus the covered set (array_except is hash-based and keeps the
    // left argument's order, so tokens stay in original order — the old
    // array_sort(collect_list(struct(__p, __tok))) contract); element_at
    // indices are p+1 ∈ [1, ntok], always in bounds under ANSI. The
    // sequence is guarded: sequence(0, -1) on an empty token array would
    // DESCEND (the shinglesN gotcha), and a null text yields a null size
    // whose `when` also routes to the empty branch — reproducing the old
    // plan's join-miss "" / 0 row exactly (and its null __ntok arithmetic
    // for n_removed).
    val kept = when(size(col("__tk")) > 0,
      array_except(
        sequence(lit(0), size(col("__tk")) - 1),
        coalesce(col("__cov"), array().cast("array<int>"))))
      .otherwise(array().cast("array<int>"))
    tk.join(covSet, Seq("__id"), "left")
      .withColumn("__kept", kept)
      .select(col("__id").as(idCol),
        array_join(transform(col("__kept"),
          p => element_at(col("__tk"), p + 1)), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__tk")).cast("long") - size(col("__kept")).cast("long"))
          .as("n_removed"))
  }

  /** Corpus-level line/paragraph dedup (the Dolma paragraph policy, C4's
    * line step): split `textCol` on newlines, drop empty lines, keep only
    * the globally FIRST occurrence (smallest (id, position)) of each
    * distinct line — every later occurrence, in the same doc or any other,
    * is removed — then rebuild the text from the survivors in original
    * order. Returns (idCol, clean_text, n_kept, n_removed) where the counts
    * are LINES, not tokens (d08 masks sub-line token spans; this drops
    * whole repeated lines).
    *
    * Scale shape: one explode + ONE line-keyed shuffle (the first-occurrence
    * window partitions on the 128-bit line digest; line text rides that
    * shuffle once because the rebuild needs it anyway) + a doc-keyed
    * rebuild. Never all-pairs; duplicate-heavy lines skew a partition only
    * as far as one row per occurrence, and AQE skew handling splits those. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nonEmpty = filter(split(col(textCol), "\n"), l => length(l) > 0)
    val ln = df
      .select(col(idCol).as("__id"), posexplode_outer(nonEmpty).as(Seq("__p", "__ln")))
      .filter(col("__ln").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    val w = Window.partitionBy(md5(col("__ln"))).orderBy(col("__id"), col("__p"))
    val rebuilt = ln
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("__id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(__p, __ln))), e -> e.__ln)"),
        "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("__id"), size(nonEmpty).cast("long").as("__nl"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__nl") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Exact n-gram Jaccard near-dup pairs above `threshold`, blocked by
    * `blockCol` (inverted-index candidates, like d04). Returns
    * (id_a, id_b, jaccard). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleLen: Int = 3): DataFrame = {
    // sizes ride on the shingle rows through the join (see Dedup.d04): no
    // separate sizes branch, no broadcast joins, one corpus scan
    val sh = df
      .withColumn("__tk", toks(col(textCol)))
      .withColumn("__shs", array_distinct(shinglesN(col("__tk"), shingleLen)))
      .select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        size(col("__shs")).cast("long").as("__n"), explode_outer(col("__shs")).as("__s"))
      .filter(col("__s").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), col("__blk"), col("__n"), h60(col("__s")).as("__sh"))
    val shp = sh.repartition(col("__blk"), col("__sh"))
    shp.as("a").hint("merge").join(shp.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__sh") === col("b.__sh") &&
          col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("__inter"),
        first(col("a.__n")).as("__na"), first(col("b.__n")).as("__nb"))
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("__na") + col("__nb") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidate generation + per-doc hash arrays for the PPJoin prefix
    * filter — the measurable core of [[jaccardPairsPrefix]], exposed so
    * specs can count candidates under each configuration.
    *
    * @param freqOrder true = canonical PPJoin ordering: shingles sorted by
    *   ASCENDING document frequency (ties by hash), so prefixes index the
    *   RAREST shingles — strictly better pruning than hash order for one
    *   extra counting pass (the df aggregation), and the reason a corpus-wide
    *   boilerplate shingle usually never enters any prefix. false = the
    *   round-1 hash ordering (kept for measurement).
    * @param maxDf document-frequency cap — the standard SSJoin stop filter:
    *   prefix postings whose shingle occurs in more than `maxDf` docs of the
    *   block are dropped from CANDIDATE GENERATION, bounding any single
    *   posting list's pair blowup at maxDf²/2 regardless of how hot a
    *   boilerplate shingle gets. With the cap active a pair can be missed
    *   only when EVERY prefix shingle it shares is above the cap — i.e. the
    *   overlap is pure boilerplate; Long.MaxValue (the default) keeps the
    *   operator exact.
    * @return (candidates (id_a, id_b), docs (__id, __blk, __hs, __n)) */
  private[graft] def prefixParts(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleLen: Int,
      maxDf: Long, freqOrder: Boolean): (DataFrame, DataFrame) = {
    val postings = df
      .withColumn("__tk", toks(col(textCol)))
      .withColumn("__hs", array_distinct(
        transform(array_distinct(shinglesN(col("__tk"), shingleLen)), s => h60(s))))
      .select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        explode_outer(col("__hs")).as("__h"))
      .filter(col("__h").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    // one extra keyed aggregation: document frequency per (block, shingle)
    val dfreq = postings.groupBy(col("__blk"), col("__h"))
      .agg(count(lit(1)).as("__df"))
    // per-doc ordered (df, h) structs: struct comparison is lexicographic,
    // so sort_array gives ascending-df (rarest-first) with hash tie-break —
    // a total order within the block, as the prefix theorem requires
    val ordKey =
      if (freqOrder) struct(col("__df"), col("__h"))
      else struct(col("__h"), col("__df")) // hash order (df still carried for the cap)
    val ordered = postings.join(dfreq, Seq("__blk", "__h"))
      .groupBy(col("__id"), col("__blk"))
      .agg(sort_array(collect_list(ordKey)).as("__ord"))
      .withColumn("__n", size(col("__ord")).cast("long"))
    val docsH = ordered.select(col("__id"), col("__blk"),
      transform(col("__ord"), e => e.getField("__h")).as("__hs"), col("__n"))
    // prefix length |X| - ceil(t*|X|) + 1
    val posting = ordered
      .withColumn("__prefix", slice(col("__ord"), lit(1),
        (col("__n") - ceil(lit(threshold) * col("__n")) + 1).cast("int")))
      .select(col("__id"), col("__blk"), explode_outer(col("__prefix")).as("__p"))
      .filter(col("__p").isNotNull && col("__p").getField("__df") <= maxDf)
      .select(col("__id"), col("__blk"), col("__p").getField("__h").as("__h"))
    val pp = posting.repartition(col("__blk"), col("__h"))
    val candidates = pp.as("a").hint("merge").join(pp.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__h") === col("b.__h") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    (candidates, docsH)
  }

  /** PPJoin-style prefix-filtered Jaccard pairs — same output contract as
    * [[jaccardPairs]] (proven equal by DedupOpsSpec at the default cap),
    * much less candidate generation at scale.
    *
    * Theory (SSJoin/PPJoin): order each doc's shingle set by a global total
    * order — canonically ASCENDING DOCUMENT FREQUENCY (see [[prefixParts]]).
    * If J(A,B) ≥ t, the prefixes of length |X| − ⌈t·|X|⌉ + 1 must share an
    * element — so only prefix shingles are indexed, shrinking the inverted
    * index by factor ≈ t and the candidate pairs superlinearly.
    * Verification then computes the EXACT intersection from the two docs'
    * full hash arrays (array_intersect), so the prefix filter only prunes
    * work, never changes surfaced jaccard values.
    *
    * Scale shape: one df-counting aggregation, one per-doc array build, a
    * candidate join that shuffles only sub-cap prefix postings, and a
    * verification join of candidate pairs (≪ co-occurrence pairs) back to
    * the per-doc arrays — all keyed hash joins, no all-pairs product, and
    * with `maxDf` set no single hot key can exceed maxDf²/2 pairs. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleLen: Int = 3,
      maxDf: Long = Long.MaxValue, observeCandidates: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val (candidates0, docsH) = prefixParts(df, idCol, textCol, blockCol,
      threshold, shingleLen, maxDf, freqOrder = true)
    // pruning-effectiveness telemetry: each execution reports how many
    // candidate pairs survived the prefix filter + df cap (observed metric,
    // same exact-attribution mechanism as the plan picks). Costs one
    // accumulator-backed count over candidates — `observeCandidates = false`
    // opts a production caller out.
    val candidates = if (!observeCandidates) candidates0 else candidates0.observe(
      s"graft.jaccard.candidates.${planTagSeq.incrementAndGet()}",
      count(lit(1)).as("n_candidates"))
    val da = docsH.select(col("__id").as("id_a"), col("__hs").as("__ha"), col("__n").as("__na"))
    val db = docsH.select(col("__id").as("id_b"), col("__hs").as("__hb"), col("__n").as("__nb"))
    candidates
      .join(da, Seq("id_a")).join(db, Seq("id_b"))
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("__na") + col("__nb") - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Size-adaptive Jaccard pairs — the adoption seam for the two plans:
    * below `switchBytes` of estimated scan the count-based [[jaccardPairs]]
    * wins (measured round 1: the prefix variant's verification joins cost
    * more than pruning saves on a 5k-doc corpus); above it, candidate pairs
    * dominate and [[jaccardPairsPrefix]] with the df cap is the plan that
    * survives 100 TB. The estimate comes from Catalyst plan statistics — no
    * extra job. */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleLen: Int = 3,
      maxDf: Long = 100000L, switchBytes: Long = 4L << 30): DataFrame = {
    val (choice, est) = jaccardPairsAutoChoice(df, switchBytes)
    val result =
      if (choice == "count")
        jaccardPairs(df, idCol, textCol, blockCol, threshold, shingleLen)
      else
        jaccardPairsPrefix(df, idCol, textCol, blockCol, threshold, shingleLen, maxDf)
    tagPlanPick(result, "jaccardPairsAuto", "graft.jaccard.plan", choice,
      s"estimated scan $est B, switch at $switchBytes B")
  }

  private val planTagSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Telemetry for the auto operators' plan pick: an engine log line plus an
    * OBSERVED METRIC attached to the returned plan itself (`df.observe`).
    * Unlike a thread-local job property — which is captured at job-submit
    * time and can tag a LATER job on the same thread with a stale pick —
    * the observation travels with the query: every execution of the returned
    * DataFrame reports `{choice}` under a `graft.jaccard.plan.N` /
    * `graft.cosine.plan.N` metric name in its own QueryExecution events
    * (visible to `QueryExecutionListener`s, the SQL UI and the event log),
    * so attribution is exact even across interleaved builds and reused
    * threads, and nothing is left behind after the action returns. The
    * suffix N keeps names unique when several auto operators compose into
    * one query (Spark requires observation names to be unique per plan).
    * For a driver-side answer without running the query, call
    * [[jaccardPairsAutoChoice]]/[[cosinePairsAutoChoice]]. */
  private def tagPlanPick(result: DataFrame, op: String, metricKey: String,
      choice: String, detail: String): DataFrame = {
    log.info(s"$op: picked '$choice' plan ($detail)")
    // coalesce: max(lit) is null on an empty result set; the pick is a plan
    // constant, so report it even when the query returns zero rows
    result.observe(s"$metricKey.${planTagSeq.incrementAndGet()}",
      coalesce(max(lit(choice)), lit(choice)).as("choice"))
  }

  /** The [[jaccardPairsAuto]] switch decision, exposed for telemetry and
    * specs: ("count" | "prefix", estimated input bytes from Catalyst plan
    * statistics — no extra job). */
  def jaccardPairsAutoChoice(df: DataFrame,
      switchBytes: Long = 4L << 30): (String, BigInt) = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (if (est <= switchBytes) "count" else "prefix", est)
  }

  /** Cosine near-dup pairs over an embedding column above `threshold`,
    * blocked by `blockCol` (like d05). */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val e = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__nrm", graft.functions.VectorExprs.l2(col("__v")))
    val a = e.select(col("__id").as("id_a"), col("__blk"), col("__v").as("__va"), col("__nrm").as("__na"))
    val b = e.select(col("__id").as("id_b"), col("__blk"), col("__v").as("__vb"), col("__nrm").as("__nb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.VectorExprs.dot(col("__va"), col("__vb"))
          / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** The DISTINCT dropped ids of [[cosinePairs]]' keep-lowest-id contract —
    * `{b : ∃ a < b in b's block with cosine(a,b) ≥ threshold}` — as ONE
    * block-keyed aggregation ([[graft.functions.Aggregators.CosineDropAgg]];
    * round 21, guide §2.3 "aggregate before you shuffle" / §2.4 "remove
    * shuffles outright"). The consumers that only anti-join the drop set
    * (d15/d18/[[semanticDedup]]) paid [[cosinePairs]]' full self-join for
    * it: the clustered subtree evaluated TWICE (both join sides), Σ block²
    * pair rows each carrying two full embedding payloads through the join,
    * and no early exit — a row already proven dropped kept pairing. This
    * form shuffles each block's rows ONCE (linear bytes — exactly the one
    * side the join already moved), replays the pair scan in `finish` over
    * primitive arrays with per-candidate early exit, and emits just the
    * dropped ids. Results are bit-identical to
    * `cosinePairs(...).select("id_b").distinct()` for unique-id inputs —
    * the CosineDropAgg scaladoc lists the IEEE/NaN/±0.0 replay contract,
    * and DedupOpsSpec pins the equivalence against the join plan. A
    * zero-norm vector fails the query on both plans, but not necessarily
    * at the identical pair: the early exit can skip a pair the join
    * divides first.
    *
    * Null-block rows never pair in [[cosinePairs]] (the self-join's
    * equality condition skips null keys), so their vectors are nulled in
    * the input projection — a null VECTOR row neither drops nor is dropped
    * on either plan (see the in-code note for why this must not be a
    * Filter). Requires an integral, non-null id (the engine's ids are longs)
    * — the long-keyed ordering must match the join's `id_a < id_b`; a null
    * id fails the query with an error that names the column. */
  def cosineDropIds(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"cosineDropIds needs an integral id column, got ${idType.simpleString}")
    val agg = udaf(new graft.functions.Aggregators.CosineDropAgg(threshold),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Double])]())
    // Null blocks are neutralized IN the projection (vector nulled ⇒ the
    // aggregator never pairs the row), NOT with a `.filter(isNotNull)`:
    // when blockCol is a derived expression (d15/d18's kmeans assignment —
    // interpreted HOF normalization under literal-folded centroids), the
    // optimizer pushes a filter below the projection and INLINES the whole
    // assignment expression into the Filter condition, re-evaluating it
    // per row (guide §4.4's duplication, measured 6.0 s vs 0.6 s for this
    // aggregation at sf1.0). A multiply-referenced non-cheap expression in
    // a projection is NOT collapsed (CollapseProject's cost guard), so the
    // assignment stays evaluated once.
    // A null id has no place in the `id_a < id_b` order, and the
    // aggregator's primitive-long input encoder does not reject it (the
    // query ran to completion), so fail here and name the column.
    val id = when(col(idCol).isNull,
        raise_error(lit(s"cosineDropIds: null id in column '$idCol'")))
      .otherwise(col(idCol).cast("long"))
    df.select(col(blockCol).as("__blk"), id.as("__id"),
        when(col(blockCol).isNotNull,
          transform(col(vecCol), x => x.cast("double"))).as("__v"))
      .groupBy(col("__blk"))
      .agg(agg(col("__id"), col("__v")).as("__drop"))
      .select(explode(col("__drop")).as("__dropId"))
      .select(col("__dropId").cast(idType).as("id_b"))
  }

  /** Banded-LSH candidate generation for [[cosinePairsLsh]] — exposed so
    * specs can count candidates under each (planesPerBand, bands) setting.
    *
    * Each vector gets `bands` independent signatures of `planesPerBand`
    * random-hyperplane bits (deterministic md5-derived planes, folded into
    * the plan as literals — agreeing exactly with s02's bucketOf family);
    * a pair is a candidate iff it agrees on ALL bits of AT LEAST ONE band
    * (the classic OR-of-ANDs amplification), optionally further confined to
    * `blockCol` when the caller's semantics are per-block.
    *
    * @return (candidates (id_a, id_b), docs (__id, __v, __nrm)) */
  /** `probes > 0` turns on MARGIN-BASED MULTI-PROBE (Lv et al., "Multi-Probe
    * LSH", VLDB 2007): besides its exact bucket, each vector also probes the
    * `probes` buckets obtained by flipping the band bits whose hyperplane
    * projection is CLOSEST to zero (the bits most likely to disagree with a
    * true neighbor's signature). Candidates grow by a constant (1+probes)
    * factor — independent of the band width — where matching the same
    * recall by re-banding (more, narrower bands) shifts the whole S-curve
    * and multiplies candidates by the band count. Probe-bit ranking is on
    * `round(abs(projection), 6)` with bit-index tie-break — the round-6
    * cross-engine determinism contract, replayed by the DuckDB twins. The
    * probe side joins against the EXACT-signature index only (probe↔probe
    * buckets are not matched), so a pair is caught when the band signatures
    * agree exactly or differ in one bit that is among EITHER endpoint's
    * `probes` weakest.
    *
    * Round-17 spill fix (the 100×-probe find): candidates now carry their
    * EXACT `cosine`, computed inside the bucket join from vector payloads
    * riding the postings. The previous shape emitted bare id pairs and
    * joined the (symmetrized) edge list back to the vectors TWICE — at the
    * 100× scale-up that meant shuffling ~10⁹ edge rows with 512-byte
    * vector payloads (~500 GB of shuffle write), which died in the sort
    * spill at targetBucket 128 and ran 250 s at 32. Carrying the payload
    * on the posting side instead costs n·bands·(1+probes) rows × ~540 B —
    * LINEAR in the corpus — and every downstream consumer
    * ([[cosinePairsLsh]]'s threshold filter, [[knnGraph]]'s ranking)
    * handles only narrow (id_a, id_b, cosine) rows (~24 B) after the
    * in-bucket projection. The dot is multiplication-commutative per term
    * with a fixed addition order, so cos(a,b) is bit-identical to
    * cos(b,a) and identical across duplicate band collisions — the
    * `.distinct()` dedup and every oracle row are unchanged. */
  private[graft] def lshParts(df: DataFrame, idCol: String, vecCol: String,
      blockCol: Option[String], planesPerBand: Int, bands: Int,
      dim: Int, probes: Int = 0): (DataFrame, DataFrame) = {
    val e = df.select(col(idCol).as("__id"),
        blockCol.map(col).getOrElse(lit(0)).as("__blk"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      // the hyperplanes have exactly `dim` components, so a wider embedding
      // would SILENTLY hash only its first `dim` components and recall would
      // degrade with no signal — mismatches must error instead. NULL
      // embeddings pass through (they hash to the zero signature and their
      // null cosine fails every threshold — no pairs, no misleading
      // dim-mismatch error for what is a missing input, not a wrong-width one)
      .withColumn("__v",
        when(col("__v").isNull, col("__v"))
          .when(size(col("__v")) === dim, col("__v"))
          .otherwise(raise_error(concat(
            lit(s"cosine-LSH dim mismatch: hyperplanes have $dim components " +
              "but the embedding has "),
            size(col("__v")).cast("string"),
            lit(" - pass dim = <actual embedding width>")))
            .cast("array<double>")))
      .withColumn("__nrm", graft.functions.VectorExprs.l2(col("__v")))
    val bandCols = (0 until bands).map { b =>
      val projs = (0 until planesPerBand).map { i =>
        val plane = array(Similarity.hyperplane(b * planesPerBand + i, dim).map(lit): _*)
        graft.functions.VectorExprs.dot(col("__v"), plane)
      }
      val bits = projs.zipWithIndex.map { case (p, i) =>
        when(p > 0.0d, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      if (probes == 0) struct(lit(b).as("band"), bits.as("bsig"),
        array().cast("array<bigint>").as("pb"))
      else {
        // the `probes` weakest-margin bits, pre-flipped into probe
        // signatures: sort (round(|proj|,6), bitIdx, mask) lexicographically
        // — the mask rides along so the flip is pure Column bit-math
        val sorted = array_sort(array(projs.zipWithIndex.map { case (p, i) =>
          struct(round(abs(p), 6).as("m"), lit(i).as("i"),
            lit(1L << i).as("k"))
        }: _*))
        val pb = transform(slice(sorted, 1, math.min(probes, planesPerBand)),
          f => bits.bitwiseXOR(f.getField("k")))
        struct(lit(b).as("band"), bits.as("bsig"), pb.as("pb"))
      }
    }
    val entries = e
      // null embeddings never enter the postings: they can produce no pair
      // (their cosine is null), and since every null row hashes to the
      // all-zero signature they would otherwise pile into ONE bucket whose
      // self-join is quadratic in the null-row count
      .filter(col("__v").isNotNull)
      .select(col("__id"), col("__blk"), col("__v"), col("__nrm"),
        explode(array(bandCols: _*)).as("__bb"))
    // vector payload rides the posting so the bucket join emits EXACT
    // cosines directly — see the spill-fix note on this method's scaladoc
    val posting = entries.select(col("__id"), col("__blk"),
      col("__bb.band").as("__band"), col("__bb.bsig").as("__bsig"),
      col("__v"), col("__nrm"))
    // same ReusedExchange self-join shape as the shingle operators: one scan,
    // hash-partitioned on the bucket key, candidate pairs only inside buckets
    val pp = posting.repartition(col("__blk"), col("__band"), col("__bsig"))
    val inBucketCos =
      graft.functions.VectorExprs.dot(col("a.__v"), col("b.__v")) /
        (col("a.__nrm") * col("b.__nrm"))
    val candidates =
      if (probes == 0)
        pp.as("a").hint("merge").join(pp.as("b"),
            col("a.__blk") === col("b.__blk") && col("a.__band") === col("b.__band") &&
              col("a.__bsig") === col("b.__bsig") && col("a.__id") < col("b.__id"))
          .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
            inBucketCos.as("cosine"))
          .distinct()
      else {
        // probe side = exact entry ∪ flipped variants; it joins the
        // EXACT-signature index, so each pair normalizes via least/greatest
        // (a may probe b's bucket without b probing a's). The cosine needs
        // no matching swap: per-term multiplication commutes and the
        // addition order is the dimension order, so cos(a,b) ≡ cos(b,a)
        // bit-for-bit and duplicates collapse in the distinct.
        val probeSide = posting.unionAll(
          entries.select(col("__id"), col("__blk"),
              col("__bb.band").as("__band"), explode(col("__bb.pb")).as("__bsig"),
              col("__v"), col("__nrm")))
          .repartition(col("__blk"), col("__band"), col("__bsig"))
        probeSide.as("a").hint("merge").join(pp.as("b"),
            col("a.__blk") === col("b.__blk") && col("a.__band") === col("b.__band") &&
              col("a.__bsig") === col("b.__bsig") && col("a.__id") =!= col("b.__id"))
          .select(least(col("a.__id"), col("b.__id")).as("id_a"),
            greatest(col("a.__id"), col("b.__id")).as("id_b"),
            inBucketCos.as("cosine"))
          .distinct()
      }
    (candidates, e.select(col("__id"), col("__v"), col("__nrm")))
  }

  /** Cosine near-dup pairs via banded random-hyperplane LSH blocking — the
    * scale path for [[cosinePairs]] when the caller's block column is
    * low-cardinality (or absent): a fixed `label` block pairs Σ block² rows,
    * ≈ n²/|labels| when label cardinality doesn't grow with the data, while
    * LSH buckets subdivide every block by 2^planesPerBand per band so no
    * single bucket's pair count tracks the corpus square. Verification joins
    * candidates back to the full vectors and computes EXACT cosine, so
    * precision is exact; recall is the standard OR-of-ANDs amplification
    * 1 − (1 − p^w)^L with p = 1 − θ/π per hyperplane.
    *
    * Crossover guidance (measured on the testdata, DedupOpsSpec): for true
    * near-dup thresholds (cos ≥ ~0.9, p ≥ 0.85) wide bands prune hard at
    * ~full recall — the 100 TB setting. For weak-similarity thresholds
    * (~0.35, p ≈ 0.61) full recall needs narrow bands (w=2, L=12), whose
    * candidate volume exceeds coarse blocking at small n — there the
    * label-blocked [[cosinePairs]] stays the right plan until blocks outgrow
    * memory. Pick by threshold, not corpus size. */
  def cosinePairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCol: Option[String] = None,
      planesPerBand: Int = 2, bands: Int = 12, dim: Int = 64): DataFrame = {
    val (candidates, _) = lshParts(df, idCol, vecCol, blockCol,
      planesPerBand, bands, dim)
    // the exact cosine is computed inside the bucket join (the round-17
    // lshParts spill fix) — verification is the same expression on the
    // same doubles, only without re-joining the corpus vectors
    candidates
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Threshold/size-adaptive cosine pairs — the adoption seam routing
    * embedding near-dup to its scale path, mirroring [[jaccardPairsAuto]].
    *
    * The crossover is measured in DedupOpsSpec and is governed by the
    * THRESHOLD first, size second (see [[cosinePairsLsh]]): at true near-dup
    * thresholds (cos ≥ ~0.9, per-plane agreement p ≥ 0.85) wide LSH bands
    * prune hard at ~full recall, so past `switchBytes` of estimated scan the
    * banded plan is the one that survives 100 TB — a fixed `blockCol` pairs
    * Σ block² ≈ n²/|labels| rows when label cardinality doesn't grow with
    * the data. At weak thresholds the hyperplane agreement probability is
    * too low for wide bands (full recall needs narrow bands whose candidate
    * volume exceeds coarse blocking), so the label-blocked exact plan stays
    * the right pick regardless of size — routing there is not a cop-out but
    * the measured crossover. With `blockCol = None` there is no exact plan
    * to fall back to and LSH is always taken.
    *
    * Both sides verify candidates on the exact cosine, so precision is
    * always exact; recall is 1.0 on the block side and the OR-of-ANDs
    * amplification 1 − (1 − p^w)^L on the LSH side. Telemetry: engine log +
    * best-effort `graft.cosine.plan` job property (see [[logPlanPick]]). */
  def cosinePairsAuto(df: DataFrame, idCol: String, vecCol: String,
      blockCol: Option[String], threshold: Double,
      switchBytes: Long = 4L << 30, lshMinThreshold: Double = 0.8,
      planesPerBand: Int = 6, bands: Int = 6, dim: Int = 64): DataFrame = {
    val (choice, est) =
      cosinePairsAutoChoice(df, blockCol, threshold, switchBytes, lshMinThreshold)
    val result =
      if (choice == "block")
        cosinePairs(df, idCol, vecCol, blockCol.get, threshold)
      else
        cosinePairsLsh(df, idCol, vecCol, threshold, blockCol,
          planesPerBand, bands, dim)
    tagPlanPick(result, "cosinePairsAuto", "graft.cosine.plan", choice,
      s"threshold $threshold (lsh floor $lshMinThreshold), " +
        s"estimated scan $est B, switch at $switchBytes B")
  }

  /** The [[cosinePairsAuto]] switch decision, exposed for telemetry and
    * specs: ("block" | "lsh", estimated input bytes from Catalyst plan
    * statistics — no extra job). LSH is taken when there is no block column,
    * or when the scan estimate exceeds `switchBytes` AND the threshold is
    * high enough (≥ `lshMinThreshold`) for wide bands to hold ~full recall. */
  def cosinePairsAutoChoice(df: DataFrame, blockCol: Option[String],
      threshold: Double, switchBytes: Long = 4L << 30,
      lshMinThreshold: Double = 0.8): (String, BigInt) = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val lsh = blockCol.isEmpty || (est > switchBytes && threshold >= lshMinThreshold)
    (if (lsh) "lsh" else "block", est)
  }

  /** Approximate k-nearest-neighbor GRAPH over the corpus — every vector's
    * top-`k` neighbors by exact cosine among its banded-LSH candidates (the
    * [[lshParts]] OR-of-ANDs blocking, symmetrized: a candidate pair feeds
    * BOTH endpoints' rankings). The primitive under NN-descent refinement,
    * graph-based ANN serving, and local-neighborhood diversity analysis —
    * distinct from [[knn]], whose query set is small and broadcast; here
    * the corpus ranks against itself.
    *
    * Ranking is on round(cos, 6) with neighbor-id tie-break — the s01
    * determinism contract — and emits (src, rk, dst, cos6). A vector whose
    * buckets hold no other member emits no rows (its neighborhood is
    * unknown at this banding, not empty — callers wanting guaranteed
    * degree re-run with narrower bands or union a [[knn]] pass).
    *
    * Scale: candidate volume is Σ bucket² per band — no all-pairs; the
    * exact cosine is computed INSIDE the bucket join (the round-17
    * [[lshParts]] spill fix: the old shape shuffled the symmetrized edge
    * list through two corpus-vector joins with 512-byte payloads — ~500 GB
    * of shuffle transient at the 100× scale-up, sort-spill-bound at
    * 250 s; the payload-carrying posting keeps every post-bucket row a
    * narrow (src, dst, cos6) triple — measured at the same 100× probe:
    * 109 s at the default 32 shuffle partitions, 91 s at
    * SPARK_GRAFT_SHUFFLE=128, identical rows). The per-src ranking window
    * shuffles only those narrow candidate edges (bucket-bounded,
    * ≈ n·E[bucket] rows, never n²), hash-partitioned on src; the window's
    * rank filter cuts to k·n rows. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      planesPerBand: Int = 4, bands: Int = 4, dim: Int = 64,
      probes: Int = 0, rankPlan: String = "window"): DataFrame = {
    require(rankPlan == "window" || rankPlan == "heap",
      s"rankPlan must be 'window' or 'heap', got '$rankPlan'")
    val (candidates, _) =
      lshParts(df, idCol, vecCol, None, planesPerBand, bands, dim, probes)
    val cand6 = candidates.select(col("id_a"), col("id_b"),
      round(col("cosine"), 6).as("cos6"))
    val sym = cand6.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos6"))
      .unionAll(cand6.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos6")))
    if (rankPlan == "window") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("cos6").desc, col("dst"))
      sym.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("src"), col("rk"), col("dst"), col("cos6"))
    } else {
      // bounded-heap ranking (the s01/knn tradeoff, size-adaptive here via
      // [[knnGraphAuto]]): the window form SORT-shuffles EVERY symmetrized
      // candidate edge to its src partition — the dominant shuffle once the
      // dedup'd candidate volume outgrows local shuffle capacity — where
      // the typed aggregator gets map-side combine, so each map partition
      // contributes at most k rows per src to the exchange. Same ordering
      // contract (cos6 DESC, dst ASC — TopKAgg's tie rule), same rows.
      val heap = udaf(new graft.functions.Aggregators.TopKAgg(k),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
      sym.groupBy(col("src"))
        .agg(heap(col("cos6"), col("dst")).as("__top"))
        .select(col("src"), posexplode(col("__top")).as(Seq("__p", "__t")))
        .select(col("src"), (col("__p") + 1).cast("long").as("rk"),
          col("__t._1").as("dst"), col("__t._2").as("cos6"))
    }
  }

  /** Band-signature width for [[knnGraphAuto]]: the smallest `w` with
    * `2^w ≥ n / targetBucket`, floored at `minPlanes` and capped so the
    * whole signature fits the 60-bit token hash. EXACT integer loop — the
    * DuckDB twin computes the same value as `ceil(log2(n / target))`,
    * which agrees at every boundary (powers of two are exact in any
    * correctly-rounded log2; between them the true log is irrational, so
    * a ±1-ulp libm difference can never cross an integer). */
  private[graft] def adaptivePlanes(n: Long, targetBucket: Long,
      bands: Int, minPlanes: Int = 4): Int = {
    var w = 0
    // double-space compare: the shifted product is exact in a double while
    // targetBucket < 2^53 (a power-of-two multiply only moves the exponent),
    // and `targetBucket << w` can overflow Long at bands = 1 (w up to 59)
    while (w < 60 / bands && targetBucket.toDouble * math.pow(2, w) < n.toDouble)
      w += 1
    math.max(minPlanes, w)
  }

  /** [[knnGraph]] with the band width DERIVED from the corpus size — the
    * scale path the fixed banding lacks: with `planesPerBand` frozen, the
    * per-band bucket count is constant, so bucket sizes grow LINEARLY with
    * the corpus and the in-bucket candidate volume QUADRATICALLY
    * (measured: s26 at fixed 4×4 banding ran 2.3 s on sf0.1 and 49.9 s on
    * the 10× scale-up — a 21.7× ratio). Widening the signature by
    * ceil(log2(n / targetBucket)) bits holds E[bucket] ≈ targetBucket, so
    * candidates grow ≈ n · targetBucket — linear. The count is served by
    * [[graft.Tables.cachedCount]] when the caller passes `knownCount`; the tradeoff is the
    * S-curve shifting right as bands widen (per-pair collision probability
    * p^w), i.e. the graph finds only CLOSER neighbors at bigger n — the
    * standard LSH contract, measured per-banding by the s29 recall row and
    * QUANTIFIED by [[LshTuning.graphCosineHorizon]] (logged per
    * invocation): the smallest neighbor cosine served at ≥ 0.9 model
    * recall is ≈ 0.40 at the gate-scale width 4, ≈ 0.94 at the 10× width
    * 10, ≈ 0.97 at the 100× width 13 — at scale this is a near-dup /
    * closest-neighbor structure by construction. */
  def knnGraphAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      bands: Int = 4, targetBucket: Long = 32L, dim: Int = 64,
      probes: Int = KnnGraphProbes, knownCount: Option[Long] = None,
      rankPlan: String = "auto",
      heapRankRows: Long = KnnGraphHeapRows,
      targetHorizon: Option[Double] = None,
      horizonRecall: Double = 0.9): DataFrame = {
    // `knownCount` lets callers reading a stable table pass the memoized
    // [[graft.Tables.cachedCount]] so repeat invocations run zero count jobs
    val n = knownCount.getOrElse(df.count())
    // `targetHorizon = Some(c)` closes the round-17 gauge loop (verdict
    // #3): instead of accepting the default banding's horizon, the caller
    // STATES the smallest neighbor cosine the graph must serve at
    // `horizonRecall`, and (bands, probes) are derived from the
    // [[LshTuning.graphModelRecall]] model via [[tuneGraphConfig]] — the
    // probeBudget discipline for the banded graph.
    val (useBands, useProbes) = targetHorizon match {
      case Some(c) =>
        val (b2, q2, modelR) =
          tuneGraphConfig(n, c, horizonRecall, targetBucket, minBands = 1)
        if (modelR < horizonRecall)
          log.warn(f"knnGraphAuto: horizon target (cos=$c%.3f at recall " +
            f"$horizonRecall%.2f) UNREACHABLE within the config space at " +
            f"n=$n - best model recall $modelR%.3f at bands=$b2 probes=$q2; " +
            "route recall-sensitive mid-cosine search to a coarser index " +
            "(ivfKnn) instead")
        else
          log.info(f"knnGraphAuto: horizon target (cos=$c%.3f at recall " +
            f"$horizonRecall%.2f) -> bands=$b2 probes=$q2 " +
            f"(model recall $modelR%.3f)")
        (b2, q2)
      case None => (bands, probes)
    }
    val w = adaptivePlanes(n, targetBucket, useBands)
    // width saturation: past n = targetBucket·2^(60/bands) the 60-bit
    // signature budget caps w, E[bucket] grows past targetBucket, and the
    // candidate volume genuinely goes quadratic — the estimate below stays
    // honest, but the caller should know the linear-growth contract ended
    // double-space compare (round-18 ADVICE #4): `targetBucket << w`
    // overflows Long when targetBucket·2^w ≥ 2^63 (bands = 1 allows w up
    // to 60 via the minPlanes floor), flipping the flag at extreme configs
    val saturated = targetBucket.toDouble * math.pow(2, w) < n.toDouble
    if (saturated)
      log.warn(s"knnGraphAuto: band width saturated at w=$w " +
        s"(60-bit signature budget / $useBands bands) with n=$n - " +
        f"E[bucket]=${n.toDouble / (1L << w)}%.0f > targetBucket=" +
        s"$targetBucket; candidate volume grows quadratically from here " +
        "(fewer, wider bands or an IVF route recover linear growth)")
    // expected symmetrized candidate-edge volume: 2 directions × n postings
    // per band × (1 + probes) probe variants × E[bucket] = n/2^w partners,
    // times the MEASURED union-bound calibration (band/probe collisions
    // dedup in the distinct — round-17 ADVICE #3): at the 100× probe the
    // formula gave 1.17e8 vs ~1e8 actual post-distinct edges (ratio 0.85);
    // at the 10× probe the plans tie, so residual miscalibration near the
    // switch boundary costs ~nothing by measurement.
    val estEdges = KnnGraphEstCalibration *
      2.0 * n * useBands * (1 + useProbes) * (n.toDouble / (1L << w))
    // session-conf override for measurement sweeps (bench mains wire
    // SPARK_GRAFT_KNN_RANK through): only consulted in "auto" mode, so an
    // explicit caller pick always wins
    val confPlan = df.sparkSession.conf
      .getOption("spark.graft.knngraph.rankPlan")
      .filter(p => p == "window" || p == "heap")
    val plan = rankPlan match {
      case "auto" => confPlan.getOrElse(
        if (estEdges > heapRankRows) "heap" else "window")
      case p => p
    }
    log.info(s"knnGraphAuto: planesPerBand=$w (bands=$useBands, " +
      s"target=$targetBucket, probes=$useProbes) rankPlan=$plan " +
      f"(estEdges=$estEdges%.3g, switch at $heapRankRows) " +
      f"cosineHorizon@0.9=${LshTuning.graphCosineHorizon(0.9, w, useBands, useProbes)}%.3f")
    tagPlanPick(
      knnGraph(df, idCol, vecCol, k, planesPerBand = w, bands = useBands,
        dim = dim, probes = useProbes, rankPlan = plan),
      "knnGraphAuto", "graft.knngraph.rank", plan,
      f"estimated symmetrized edges $estEdges%.3g, switch at $heapRankRows")
  }

  /** Calibration of [[knnGraphAuto]]'s union-bound edge estimate to the
    * post-distinct rows the ranking actually shuffles, measured at the
    * 100× probe (est 1.17e8 vs ~1e8 distinct candidate edges): band and
    * probe collisions of the same pair dedup in the candidate
    * `.distinct()`, so the raw product over-counts by the expected
    * collision multiplicity. Near-duplicate pairs collide in many bands,
    * but they are few; the measured corpus-level ratio is what the
    * switch should consume.
    *
    * Measurement config (for future re-calibration — round-18 ADVICE #5):
    * the 100× embeddings scale-up (`scripts/gen_sf.py` ×100 of sf0.1) at
    * the DEFAULT banding — bands = 4, targetBucket = 32,
    * probes = [[KnnGraphProbes]] = 2, adaptive width from
    * [[adaptivePlanes]] at that n — comparing the union-bound formula
    * (1.17e8) against the post-`.distinct()` candidate-edge count the
    * ranking stage actually shuffled (~1e8, read off the s26 SQL plan
    * metrics; `scripts/sweep_s26.py` re-runs the probe). A single-point
    * multiplicative calibration applied at every n: collision multiplicity
    * rises with E[bucket] overlap, so small corpora over-discount
    * slightly — harmless by measurement, because near the window→heap
    * switch boundary the two plans tie (10× probe: 17.8 s vs 18.0 s). */
  val KnnGraphEstCalibration: Double = 0.85

  /** Derive the CHEAPEST (bands, probes) whose [[LshTuning
    * .graphModelRecall]] meets `horizonRecall` for neighbors at
    * `targetHorizon` cosine, given the corpus size (the band width at
    * each candidate band count is [[adaptivePlanes]]' — wider corpora get
    * wider signatures until the 60-bit budget caps them). Cost is the
    * expected candidate volume 2·n·bands·(1+probes)·E[bucket] — the REAL
    * shuffle cost, which a 60-bit-capped narrow width inflates through
    * E[bucket] = n/2^w (so the sweep prices saturation honestly instead
    * of assuming E[bucket] = targetBucket). Returns the best-recall
    * config when the target is unreachable everywhere — callers compare
    * the returned model recall against the target and log/route
    * ([[knnGraphAuto]] does). Deterministic driver-side math. */
  private[graft] def tuneGraphConfig(n: Long, targetHorizon: Double,
      horizonRecall: Double, targetBucket: Long, minBands: Int = 1,
      maxBands: Int = 12, maxProbes: Int = 3): (Int, Int, Double) = {
    require(targetHorizon > -1.0 && targetHorizon < 1.0,
      s"targetHorizon in (-1,1): $targetHorizon")
    require(horizonRecall > 0.0 && horizonRecall < 1.0,
      s"horizonRecall in (0,1): $horizonRecall")
    require(minBands >= 1 && maxBands >= minBands,
      s"need 1 <= minBands <= maxBands, got $minBands..$maxBands")
    val configs = for {
      b <- minBands to maxBands
      w = adaptivePlanes(n, targetBucket, b)
      q <- 0 to math.min(maxProbes, math.max(0, w - 1))
    } yield {
      val r = LshTuning.graphModelRecall(targetHorizon, w, b, q)
      val cost = 2.0 * n * b * (1 + q) * (n.toDouble / (1L << w))
      (b, q, r, cost)
    }
    val ok = configs.filter(_._3 >= horizonRecall)
    if (ok.nonEmpty) {
      val (b, q, r, _) = ok.minBy { case (b, q, _, cost) => (cost, b, q) }
      (b, q, r)
    } else {
      val (b, q, r, _) = configs.maxBy { case (b, q, r, cost) =>
        (r, -cost, -b, -q)
      }
      (b, q, r)
    }
  }

  /** [[knnGraphAuto]]'s window→heap ranking switch, in estimated
    * symmetrized candidate-edge rows. Below it the window rank (codegen'd
    * tungsten sort) wins single-node (the s01 note: the aggregator's
    * per-row buffer encoding dominates while the shuffle it caps is not
    * the bottleneck); above it the edge sort-shuffle is the thing that
    * dies first (the round-17 100× probe: after the lshParts spill fix,
    * the last decade of s26 was the (src)-keyed ranking sort over ~10⁸
    * narrow edges), and the bounded heap's map-side combine caps the
    * exchange at k rows per map partition per src. Measured (one JVM per
    * run, count() protocol): at the 10× scale-up (~9.4M est edges) the
    * plans tie — 17.8 s window vs 18.0 s heap; at the 100× scale-up
    * (~117M est edges) the heap wins 1.35× — 100.3 s vs 74.5 s. 2²⁵ ≈
    * 33.5M edges ≈ 0.8 GB of narrow rows sits between the two measured
    * regimes. */
  val KnnGraphHeapRows: Long = 1L << 25

  /** The tuned multi-probe default for [[knnGraphAuto]] — probe the two
    * weakest-margin bit flips per band on top of the exact bucket. Chosen
    * over re-banding (the [[LshTuning.tune]] route) because the candidate
    * multiplier is a CONSTANT (1+2)× at any corpus size, where hitting the
    * same recall with more/narrower bands multiplies candidates by the band
    * count and shifts the S-curve with n. Measured by the s29 recall row at
    * the production banding (the config s26 actually serves): mean recall@3
    * 0.44 → 0.90 at the driver gate scales. The `targetBucket = 32`
    * default pairs with it so TOTAL per-vector candidate volume
    * bands·(1+probes)·2·E[bucket] ≈ 768 stays well below the old
    * exact-only design (~4096/vector at target 512): measured at the 10×
    * scale-up probes=2 at target 512 ran 85 s where the shrunken bucket
    * runs at the exact-only plan's time with 2× the recall; at the 100×
    * scale-up (200k vectors) the target-128 constant still spilled local
    * shuffle disk, where target 32 — the same linear-in-n volume at a
    * quarter the constant — survives. */
  val KnnGraphProbes: Int = 2

  /** Quality-aware near-dup resolution: keep the BEST-scoring member of
    * every near-duplicate group instead of the lowest id — the rule a real
    * curation pipeline wants ("among these paraphrases, keep the longest /
    * highest-quality one"), composing any `*Pairs` operator with any scoring
    * column (token count, t02 quality, a classifier score). Groups come
    * from [[connectedComponents]] over the pair relation; within a group
    * the winner is (scoreCol DESC, id ASC) — deterministic, engine-
    * replayable. Unpaired documents survive untouched. Output: the
    * surviving rows plus their `dup_group` (component minimum id; own id
    * when unpaired).
    *
    * Scale shape: the component labeling runs on the pair graph only
    * (duplicates ≪ corpus — the size-adaptive [[connectedComponents]]
    * machinery) and ONLY PAIRED rows enter the keep-best window (partition
    * = one duplicate group, a handful of rows); the unpaired bulk of the
    * corpus passes through with a projection — no corpus-sized shuffle
    * anywhere (the [[graft.ext.CurationOps.splitLeakageSafe]] shape with an
    * argmax instead of a hash split). */
  def keepBestPerGroup(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    keepBestPerGroupFromLabels(df, idCol, scoreCol,
      connectedComponents(pairs, aCol, bCol))

  /** [[keepBestPerGroup]] fed by a PRECOMPUTED (id, component) label
    * relation — the [[graft.ext.Dedup.sigComponentsTable]] serving seam
    * (round-17): only the keep-best window (paired rows only) and the
    * label join run per invocation. Output identical to the inline form
    * over the pairs the table was built from. */
  def keepBestPerGroupFromLabels(df: DataFrame, idCol: String,
      scoreCol: String, components: DataFrame): DataFrame = {
    val comp = components.select(col("id").as("__cid"), col("component"))
    val grouped = df
      .join(comp, col(idCol).cast("long") === col("__cid"), "left")
      .withColumn("dup_group",
        coalesce(col("component"), col(idCol).cast("long")))
      .drop("__cid")
    val unpaired = grouped.filter(col("component").isNull).drop("component")
    val w = Window.partitionBy(col("dup_group"))
      .orderBy(col(scoreCol).desc, col(idCol))
    val bestOfPaired = grouped.filter(col("component").isNotNull)
      .drop("component")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    unpaired.unionByName(bestOfPaired)
  }

  /** SemDeDup-style semantic dedup: cluster the embedding space with the IVF
    * coarse quantizer ([[Similarity.trainCoarse]]: seeded k-means whose
    * id-sorted means give the same centroid bits at every partitioning, so
    * the drop set does too; the centroid matrix is driver-side KBs folded
    * into the plan as literals), then inside each
    * cluster drop every row whose cosine to a LOWER-id row reaches
    * `threshold` (the same greedy keep-first contract as
    * [[dropNearDuplicatesMinhash]]). Rows the clustering cannot embed
    * (null/empty vectors) never enter the pair stage and are retained.
    *
    * Scale shape: pair candidates exist only inside a cluster — Σ cluster²
    * with cluster count SIZED WITH THE CORPUS (the round-12 verdict #5
    * k-sizing rule): by default (`nlist = 0`) the operator counts the
    * embeddable rows and picks `nlist = n / targetClusterSize` via
    * [[semanticDedupNlist]], which keeps expected in-cluster pair work at
    * ~n × targetClusterSize — LINEAR in the corpus — instead of the n²/k
    * blowup a fixed k suffers at 100 TB (a fixed k = 8 makes every
    * "cluster" ~n/8 of the corpus; d15's k = 8 is the ORACLE-WITNESS
    * config, not a production default). The auto k caps at 4096 because
    * assignment folds the k×dim centroid matrix into the plan as literals;
    * past that, cluster with the s20 [[Similarity.kmeansFitParallelRefined]]
    * pipeline and pass the explicit `nlist`. The final join is a LEFT ANTI
    * against the dropped ids only (duplicates ≪ corpus), no broadcast
    * hint. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 0, iters: Int = 2,
      trainSampleRows: Long = 262144L, targetClusterSize: Long = 4096L): DataFrame = {
    val embedded = df.filter(col(vecCol).isNotNull)
    // one count job per call: the auto k and the training sample's rate
    // both size from it
    val rows = if (nlist > 0) None else Some(embedded.count())
    val k = rows.fold(nlist)(semanticDedupNlist(_, targetClusterSize))
    // k-means trains on the deterministic hash sample (the ivfKnn/pqKnn
    // practice — centroid placement needs a density sketch, not the corpus);
    // cluster ASSIGNMENT below always runs over every row
    val centroids = Similarity.withTrainSample(embedded, idCol, vecCol,
      trainSampleRows, rows)(Similarity.trainCoarse(_, k, iters))
    val clustered = embedded
      .withColumn("__cid", Similarity.assignExpr(
        transform(col(vecCol), x => x.cast("double")), centroids))
    // round 21: the drop set via ONE block-keyed aggregation instead of the
    // cosinePairs self-join — bit-identical ids ([[cosineDropIds]]), linear
    // shuffle bytes, one evaluation of the clustered subtree
    val drop = cosineDropIds(clustered, idCol, vecCol, "__cid", threshold)
      .select(col("id_b").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]]'s default cluster-count rule: `n / targetClusterSize`
    * clusters (floored at 16 so tiny corpora still partition, capped at
    * 4096 — the practical limit for literal-folded centroid assignment).
    * With k ∝ n the expected in-cluster pair work Σ cluster² stays
    * ~n × targetClusterSize, linear in the corpus; a FIXED k would go
    * quadratic. Pure driver arithmetic, exposed for sizing audits. */
  def semanticDedupNlist(n: Long, targetClusterSize: Long = 4096L): Int = {
    require(targetClusterSize > 0, s"targetClusterSize > 0, got $targetClusterSize")
    math.max(16L, math.min(4096L,
      (n + targetClusterSize - 1) / targetClusterSize)).toInt
  }

  /** Brute-force cosine top-k: broadcast the (small) query set, stream the
    * corpus (like s01). Returns (query_id, rank, id, cosine).
    *
    * Ranking uses the bounded-heap
    * [[graft.functions.Aggregators.TopKAgg]], not a window rank: map-side
    * combine caps the shuffle at k rows per (map partition, query) instead
    * of shuffling all |queries| × |corpus| scored rows (ties break on lower
    * id, identical to the window ordering the s01 oracle twin uses). */
  def knn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), transform(col(vecCol), x => x.cast("double")).as(s"__v_$id"))
        .withColumn(s"__n_$id", graft.functions.VectorExprs.l2(col(s"__v_$id")))
    val c = prep(corpus, "id")
    val q = prep(queries, "query_id")
    val topk = udaf(new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
    broadcast(q).join(c, col("query_id") =!= col("id"))
      .withColumn("cosine",
        graft.functions.VectorExprs.dot(col("__v_query_id"), col("__v_id"))
          / (col("__n_query_id") * col("__n_id")))
      .groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__t")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__t._1").as("id"), col("__t._2").as("cosine"))
  }

  /** Hard-negative mining — [[knn]] with a PER-QUERY label-mismatch
    * predicate: for each query, the top-k most-similar corpus rows whose
    * `labelCol` differs from the query's own. The contrastive-training
    * mining primitive (the negatives an embedding model actually learns
    * from); s14's `knnFiltered` covers the static-predicate case, this one
    * the query-dependent case, which must ride the join condition.
    *
    * Scale shape is knn's: queries broadcast, the corpus streams map-side
    * with the label test fused into the same codegen'd stage as the dot
    * product, and [[graft.functions.Aggregators.TopKAgg]] caps the ranking
    * exchange at k rows per map partition per query. Oracle row:
    * s23_hard_negatives (window form, same ranking contract). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), col(labelCol).as(s"__l_$id"),
          transform(col(vecCol), x => x.cast("double")).as(s"__v_$id"))
        .withColumn(s"__n_$id", graft.functions.VectorExprs.l2(col(s"__v_$id")))
    val c = prep(corpus, "id")
    val q = prep(queries, "query_id")
    val topk = udaf(new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
    broadcast(q).join(c, col("query_id") =!= col("id")
        && col("__l_query_id") =!= col("__l_id"))
      // rank on round(cos, 6) — the documented s23/s01 contract; feeding
      // the raw cosine to the heap could diverge the k-th pick on a
      // 6-digit tie whose raw bits differ
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("__v_query_id"), col("__v_id"))
          / (col("__n_query_id") * col("__n_id")), 6))
      .groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__t")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__t._1").as("id"), col("__t._2").as("cosine"))
  }

  /** Content-defined chunking (CDC) duplicate audit — the rsync/LBFS/
    * FastCDC boundary idea, the dedup primitive fixed-size and fixed-n-gram
    * chunking both lack: a chunk boundary falls wherever the hash of the
    * trailing `window` characters ≡ 0 (mod `divisor`), so boundaries are
    * INSERTION-ROBUST — editing one sentence shifts only the chunks
    * around it, and every chunk after the next boundary re-aligns and
    * deduplicates again (fixed-size chunks lose alignment at the first
    * inserted byte). Expected chunk length ≈ `divisor` chars. Per doc:
    * chunk count, chunks whose digest appears in ≥ 2 DOCUMENTS (cross-doc
    * duplicated content), and the duplicated fraction.
    *
    * Scale shape: boundary detection is ONE codegen'd O(len) rolling-hash
    * scan per row ([[graft.functions.CdcBoundaries]] — round 11 used a
    * per-window md5, O(len·window) digest work, the most expensive query
    * on the board at sf1.0); chunks slice straight out of the text by
    * code-point `substr`, no char-array materialization. The digest df
    * count and join are chunk-digest-keyed — 16-byte keys, cardinality
    * grows with corpus content. The rolling polynomial and the chunk
    * digests are both SQL-replayable, so the DuckDB twin stays
    * bit-for-bit (power-staged window sums — see the d13 oracle). */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 2 && divisor >= 2, "need window >= 2 and divisor >= 2")
    val withChunks = df
      // Spark length() and substr() both count code points, as do DuckDB
      // length()/substr[]/unicode() — the cross-engine contract the twin
      // rides on
      .withColumn("__len", length(col(textCol)))
      // boundary END positions: p in [window, len] with the rolling hash of
      // the window ending at p ≡ 0 (mod divisor); the doc end is always a
      // boundary
      .withColumn("__bs",
        graft.functions.CdcBoundaries.cdcBoundaries(col(textCol), window, divisor))
      .withColumn("__bounds",
        when(col("__len") > 0,
          array_distinct(concat(col("__bs"), array(col("__len")))))
          .otherwise(array().cast("array<int>")))
      // guard the empty-text/null row: sequence(1, 0) DESCENDS through 0
      // and element_at(…, 0) throws "SQL array indices start at 1" — the
      // shinglesN footgun; an empty chunk list also matches the DuckDB
      // twin, which emits no chunk rows for empty docs
      .withColumn("__chunks",
        when(size(col("__bounds")) > 0,
          transform(sequence(lit(1), size(col("__bounds"))), i => {
            val prev = when(i === 1, lit(0))
              .otherwise(element_at(col("__bounds"), i - 1))
            col(textCol).substr(prev + 1, element_at(col("__bounds"), i) - prev)
          })).otherwise(array().cast("array<string>")))
    val inst = withChunks
      .select(col(idCol).as("__id"), explode_outer(col("__chunks")).as("__c"))
      .filter(col("__c").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), md5(col("__c")).as("__dg"))
    // the chunk chain evaluates once per consumer (df agg + join back) —
    // the same two-linear-scans trade as ngramNovelty (see the note there)
    val dfreq = inst
      .groupBy(col("__dg")).agg(countDistinct(col("__id")).as("__df"))
    val per = inst.join(dfreq, Seq("__dg"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
    df.select(col(idCol))
      .join(per.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        when(coalesce(col("n_chunks"), lit(0L)) > 0,
          round(col("n_dup_chunks").cast("double") / col("n_chunks") + 1e-9, 4))
          .otherwise(lit(0.0d)).as("dup_frac"))
  }

  /** Asymmetric set-CONTAINMENT pairs — C(A→B) = |A∩B| / |A| over distinct
    * shingle sets: the excerpt/quote/superset detector symmetric Jaccard
    * structurally misses (a short doc fully contained in a long one has
    * Jaccard ≈ |A|/|B| ≈ 0 but containment 1.0 — the "boilerplate wrapper
    * around a copied article" shape). Emits one row per unordered pair
    * whose LARGER direction reaches `threshold`, with both directions
    * reported so the caller can tell A-in-B from B-in-A.
    *
    * Scale shape: identical to [[jaccardPairs]] — one explode, the
    * inverted shingle-hash index inside `blockCol` blocks, sizes riding on
    * the shingle rows; pairs only materialize on shared shingles. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, shingleLen: Int = 3): DataFrame = {
    val sh = df
      .withColumn("__tk", toks(col(textCol)))
      .withColumn("__shs", array_distinct(shinglesN(col("__tk"), shingleLen)))
      .select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        size(col("__shs")).cast("long").as("__n"), explode_outer(col("__shs")).as("__s"))
      .filter(col("__s").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), col("__blk"), col("__n"), h60(col("__s")).as("__sh"))
    val shp = sh.repartition(col("__blk"), col("__sh"))
    shp.as("a").hint("merge").join(shp.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__sh") === col("b.__sh") &&
          col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"),
        first(col("a.__n")).as("n_a"), first(col("b.__n")).as("n_b"))
      .withColumn("cont_a_in_b", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b_in_a", col("n_inter").cast("double") / col("n_b"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        round(col("cont_a_in_b") + 1e-9, 4).as("cont_a_in_b"),
        round(col("cont_b_in_a") + 1e-9, 4).as("cont_b_in_a"))
  }

  /** [[knn]] over only the corpus rows satisfying `pred` — PRE-FILTER
    * vector search (the s14 semantics: the predicate restricts the
    * candidate universe BEFORE ranking, so exactly k results return and
    * every one satisfies the filter; post-filtering a full-corpus top-k
    * under-returns when the filter is selective). The predicate pushes to
    * the corpus scan, so at scale no dot product is computed for a row the
    * filter excludes. */
  def knnFiltered(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, pred: Column): DataFrame =
    knn(corpus.filter(pred), queries, idCol, vecCol, k)

  /** MinHash sketch accuracy, measured on the corpus itself: for every LSH
    * candidate pair (the d02 band buckets), BOTH the sketch's similarity
    * estimate (equal components / n) AND the exact Jaccard over the
    * distinct shingle sets — the operator that turns the MinHash unbiased-
    * estimator property (P[h_min equal] = J) from a paper claim into an
    * auditable per-pair report, and the empirical input [[LshTuning]]'s
    * closed-form S-curve is calibrated against. q26's sketches are
    * engine-specific and can only be rows-only checked; THIS sketch is
    * md5-derived, so estimate and truth are both bit-replayable by the
    * DuckDB twin.
    *
    * Scale shape: signatures are n longs per doc (one doc-keyed agg);
    * candidate pairs exist only inside (band, bsig) buckets — never
    * all-pairs; the exact-Jaccard join re-keys the pair list by 60-bit
    * shingle hash, so its cost is pairs × shared-grams, bounded by the
    * banding. All divisions round via the +1e-9 nudge on both engines.
    *
    * @return (doc_a, doc_b, n_eq, n_inter, n_union, est_sim, true_sim) */
  def minhashEstimates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, shingleLen: Int = 3): DataFrame =
    minhashEstimatesFromHashes(
      minhashShingleHashes(df, idCol, textCol, shingleLen), bands, rowsPerBand)

  /** The distinct (doc, 60-bit shingle hash) relation under
    * [[minhashEstimates]] — factored out so a deployment can persist it
    * (the tokenize + shingle + distinct pass is the expensive half; see
    * [[graft.ext.Dedup]]'s minhashHashTable) and re-derive signatures,
    * postings, and exact intersections with keyed aggregations only. */
  def minhashShingleHashes(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3): DataFrame =
    df.withColumn("__tk", toks(col(textCol)))
      .withColumn("__shs", array_distinct(shinglesN(col("__tk"), shingleLen)))
      .select(col(idCol).as("__id"), explode_outer(col("__shs")).as("__sh"))
      .filter(col("__sh").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("__id"), h60(col("__sh")).as("__h"))
      .distinct()

  /** [[minhashEstimates]] from a pre-built (served or inline)
    * [[minhashShingleHashes]] relation: signature mins, band postings,
    * candidate pairs, sketch estimate, and exact Jaccard — all keyed
    * aggregations/joins over `hs`; bit-identical whether `hs` comes from
    * the inline pass or a persisted parquet table (integers only). */
  def minhashEstimatesFromHashes(hs: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val n = bands * rowsPerBand
    val aggs = (0 until n).map(k =>
      min(perm(k, col("__h") % P)).as(s"__mh$k")) :+
      count(lit(1)).as("__nsh")
    val sig = hs.groupBy(col("__id")).agg(aggs.head, aggs.tail: _*)
      .withColumn("__sig", array((0 until n).map(k => col(s"__mh$k")): _*))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(i =>
          col(s"__mh${rowsPerBand * b + i}").cast("string")): _*).as("bsig"))
    }
    val posts = sig.select(col("__id"), explode(array(bandCols: _*)).as("__bb"))
      .select(col("__id"), col("__bb.band").as("band"), col("__bb.bsig").as("bsig"))
    // one row per candidate pair however many bands collide
    val pairs = posts.as("a").join(posts.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b")).distinct()
    val withSig = pairs
      .join(sig.select(col("__id").as("doc_a"), col("__sig").as("__sa"),
        col("__nsh").as("__na")), Seq("doc_a"))
      .join(sig.select(col("__id").as("doc_b"), col("__sig").as("__sb"),
        col("__nsh").as("__nb")), Seq("doc_b"))
      .withColumn("n_eq",
        size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y),
          b => b)).cast("long"))
    // exact intersection: pair list re-keyed by shingle hash (left join —
    // a collision-only pair with zero shared grams still reports)
    val inter = pairs
      .join(hs.select(col("__id").as("doc_a"), col("__h")), Seq("doc_a"))
      .join(hs.select(col("__id").as("doc_b"), col("__h")), Seq("doc_b", "__h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("__i"))
    withSig.join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_inter", coalesce(col("__i"), lit(0L)))
      .withColumn("n_union", col("__na") + col("__nb") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_eq"), col("n_inter"),
        col("n_union"),
        round(col("n_eq").cast("double") / n + 1e-9, 4).as("est_sim"),
        round(col("n_inter").cast("double") / col("n_union") + 1e-9, 4)
          .as("true_sim"))
  }
}
