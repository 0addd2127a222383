package graft

import graft.ext.{Dedup, DedupOps, Similarity}
import graft.operators.Skew
import org.apache.spark.sql.functions._

/** The generic library operators must agree with their oracle-checked query
  * twins (d01/d02/d04/d05/s01 pin specific columns; DedupOps parameterizes
  * them), and the salted join must be semantics-preserving. */
class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, dir, "documents")
  private def embs = Tables.load(spark, dir, "embeddings")

  test("dropExactDuplicates keeps exactly d01's keep set") {
    val kept = DedupOps.dropExactDuplicates(docs, Seq("text"), keepBy = "doc_id")
      .select($"doc_id").as[Long].collect().sorted
    val oracle = Dedup.d01ExactDedup(spark, dir)
      .select($"keep_id").as[Long].collect().sorted
    assert(kept.toSeq == oracle.toSeq)
  }

  test("dropNearDuplicatesMinhash keeps exactly d02's kept set") {
    val kept = DedupOps.dropNearDuplicatesMinhash(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted
    val oracle = Dedup.d02MinhashLsh(spark, dir)
      .filter($"kept" === 1L).select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == oracle.toSeq)
  }

  test("zero-token and null docs survive every shingle operator (no crash, retained)") {
    // sequence(1,0) is descending in Spark — unguarded shinglesN threw at
    // runtime on empty/whitespace-only text (ADVICE r01). Degenerate docs
    // must flow through, and non-shingleable docs must be RETAINED by the
    // dedup (they are not duplicates of anything).
    val degenerate = Seq(
      (100001L, "", "en"), (100002L, "   \t  \n ", "en"), (100003L, null: String, "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = docs.select($"doc_id", $"text", $"lang").unionByName(degenerate)
    val kept = DedupOps.dropNearDuplicatesMinhash(corpus, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(Set(100001L, 100002L, 100003L).subsetOf(kept),
      "non-shingleable docs must be retained, not silently dropped")
    // pair operators: degenerate docs contribute no pairs but must not crash
    assert(DedupOps.jaccardPairs(degenerate, "doc_id", "text", "lang", 0.5).count() == 0)
    assert(DedupOps.jaccardPairsPrefix(degenerate, "doc_id", "text", "lang", 0.5).count() == 0)
    assert(degenerate.select(graft.ext.TextOps.shinglesN(
      graft.ext.TextOps.toks($"text"), 3).as("sh")).agg(sum(size($"sh"))).head.getLong(0) == 0)
  }

  test("dropNearDuplicatesMinhash joins without a broadcast hint (100 TB contract)") {
    // The final join must anti-join the duplicates-only drop set with no
    // explicit broadcast: a hinted corpus-sized build side OOMs at scale.
    // (AQE may still choose a runtime broadcast when the drop set is small —
    // that is correct and allowed; the assertion is on the HINT.)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val res = DedupOps.dropNearDuplicatesMinhash(docs, "doc_id", "text")
    val hinted = res.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.nonEmpty) ||
        j.hint.rightHint.exists(_.strategy.nonEmpty) => j
    }
    assert(hinted.isEmpty, s"unexpected join-strategy hint:\n${res.queryExecution.optimizedPlan}")
    val anti = res.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType.toString == "LeftAnti" => j }
    assert(anti.nonEmpty, "expected a left-anti join against the drop set")
  }

  test("jaccardPairs matches d04 at the same threshold") {
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("j"))
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val oracle = Dedup.d04NgramJaccard(spark, dir)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(pairs.toSeq == oracle.toSeq)
  }

  test("jaccardPairsPrefix prunes candidates but returns exactly jaccardPairs") {
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"jaccard", 4).as("j"))
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val full = norm(DedupOps.jaccardPairs(docs, "doc_id", "text", "lang", t))
      val pref = norm(DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", "lang", t))
      assert(pref == full, s"prefix filter changed results at t=$t")
    }
  }

  test("freq-ordered prefixes prune at least as hard as hash order (measured)") {
    // Canonical PPJoin orders shingles by ascending document frequency so
    // prefixes index the rarest shingles; hash order was round 1's choice.
    // Same exact output either way (ordering only moves the prefix), fewer
    // or equal candidates with freq order.
    for (t <- Seq(0.3, 0.5)) {
      val hash = DedupOps.prefixParts(docs, "doc_id", "text", "lang",
        t, 3, Long.MaxValue, freqOrder = false)._1.count()
      val freq = DedupOps.prefixParts(docs, "doc_id", "text", "lang",
        t, 3, Long.MaxValue, freqOrder = true)._1.count()
      info(s"t=$t candidates: hash-order=$hash freq-order=$freq")
      assert(freq <= hash, s"freq order must not generate more candidates (t=$t)")
    }
  }

  test("hot-shingle defense: the df cap bounds a boilerplate shingle's blowup") {
    // 40 short docs sharing three boilerplate shingles (df=40) with unique
    // tails: prefix length 4 of 6 forces exactly one hot shingle into every
    // prefix -> 40*39/2 = 780 candidates without the cap. Plus one genuine
    // twin pair with rare shingles. The cap drops the hot postings (bounding
    // any posting list at maxDf²/2 pairs) but keeps the real pair.
    val hot = ((1 to 40).map(i =>
        (i.toLong, s"the same old tired boilerplate unique$i", "en")) ++ Seq(
        (101L, "alpha beta gamma delta epsilon zeta", "en"),
        (102L, "alpha beta gamma delta epsilon zeta", "en")))
      .toDF("doc_id", "text", "lang")
    def cand(maxDf: Long) = DedupOps.prefixParts(hot, "doc_id", "text", "lang",
      0.5, 3, maxDf, freqOrder = true)._1.count()
    val (uncapped, capped) = (cand(Long.MaxValue), cand(10L))
    info(s"hot-shingle candidates: uncapped=$uncapped capped=$capped")
    assert(uncapped == 40L * 39 / 2 + 1, "one hot shingle per prefix = full blowup")
    assert(capped == 1, "cap must keep only the rare-shingle candidate")
    // the surfaced pairs: boilerplate overlaps are below threshold anyway
    // (J = 3/9), the twin pair survives the cap with its exact jaccard
    val out = DedupOps.jaccardPairsPrefix(hot, "doc_id", "text", "lang", 0.5,
      maxDf = 10L).select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((101L, 102L, 1.0)))
  }

  test("jaccardPairsAuto picks the count-based plan for small corpora") {
    // adoption seam: below the switch it must produce jaccardPairs' exact
    // output (and at the oracle SFs the switch always lands there)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"jaccard", 4).as("j"))
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(norm(DedupOps.jaccardPairsAuto(docs, "doc_id", "text", "lang", 0.5))
      == norm(DedupOps.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)))
    // forcing the switch to zero exercises the prefix+cap path end-to-end
    assert(norm(DedupOps.jaccardPairsAuto(docs, "doc_id", "text", "lang", 0.5,
        switchBytes = 0L))
      == norm(DedupOps.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)))
  }

  /** Collect `graft.*` observed metrics whose name (sans the uniqueness
    * suffix) matches `nameFilter`, fired by `body`'s actions. Delivery via
    * QueryExecutionListener is async — poll up to 30s for `expected` hits. */
  private def observedMetrics(expected: Int, nameFilter: String => Boolean)(
      body: => Unit): Seq[(String, org.apache.spark.sql.Row)] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.Row)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          val key = name.replaceAll("\\.\\d+$", "")
          if (name.startsWith("graft.") && nameFilter(key)) hits.add((key, row))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (hits.size() < expected && System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      hits.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The plan-pick metrics only: (metricKeySansSeq, choice). */
  private def observedPlanPicks(expected: Int)(body: => Unit): Seq[(String, String)] =
    observedMetrics(expected, _.contains(".plan"))(body)
      .map { case (k, row) => (k, row.getString(0)) }

  test("jaccardPairsAuto surfaces its plan pick on both sides of the switch") {
    val (small, est) = DedupOps.jaccardPairsAutoChoice(docs)
    assert(small == "count" && est > 0)
    assert(DedupOps.jaccardPairsAutoChoice(docs, switchBytes = 0L)._1 == "prefix")
    // the pick travels WITH the returned plan as an observed metric, so every
    // execution reports the plan it actually ran (exact attribution — no
    // thread-local job property that could go stale across interleaved builds)
    val picks = observedPlanPicks(expected = 2) {
      DedupOps.jaccardPairsAuto(docs, "doc_id", "text", "lang", 0.5,
        switchBytes = 0L).collect()
      DedupOps.jaccardPairsAuto(docs, "doc_id", "text", "lang", 0.5).collect()
    }
    assert(picks.contains(("graft.jaccard.plan", "prefix")), s"got $picks")
    assert(picks.contains(("graft.jaccard.plan", "count")), s"got $picks")
    // nothing left behind on the submitting thread after the actions return
    assert(spark.sparkContext.getLocalProperty("graft.jaccard.plan") == null)
  }

  test("jaccardPairsPrefix reports its candidate count as an observed metric") {
    val expected = DedupOps.prefixParts(docs, "doc_id", "text", "lang",
      0.5, 3, Long.MaxValue, freqOrder = true)._1.count()
    val ms = observedMetrics(1, _.contains(".candidates")) {
      DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.5).collect()
    }
    assert(ms.nonEmpty, "candidate-count metric must be observed")
    assert(ms.head._1 == "graft.jaccard.candidates" && ms.head._2.getLong(0) == expected,
      s"metric must report the true surviving-candidate count $expected; got $ms")
  }

  test("jaccardPairsPrefix candidate metric can be opted out, output unchanged") {
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"jaccard", 6).as("j"))
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val on  = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.5)
    val off = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.5,
      observeCandidates = false)
    assert(norm(off) == norm(on))
    // the opted-out plan carries NO observation at all (checked on the
    // query's own execution — no async listener needed for an absence)
    assert(off.queryExecution.observedMetrics.isEmpty,
      s"expected no observed metrics, got ${off.queryExecution.observedMetrics.keys}")
    assert(on.queryExecution.observedMetrics.nonEmpty)
  }

  test("cosine-LSH passes null embeddings through instead of a dim-mismatch error") {
    // a missing embedding is not a wrong-width one: rows with null vectors
    // must not raise, and they surface in no pair (their cosine is null)
    val withNull = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(64)(0.5f)),
      (3L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val pairs = DedupOps.cosinePairsLsh(withNull, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)), s"got $pairs")
  }

  test("cosinePairs matches d05 at the same threshold") {
    // d05 filters on round(cos,4) >= 0.35; the generic op on the raw cosine.
    // Compare on the pairs both report above a slightly-safe threshold.
    val pairs = DedupOps.cosinePairs(embs, "vec_id", "embedding", "label", 0.35)
      .filter(round($"cosine", 4) >= 0.35)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().sortBy(identity)
    val oracle = Dedup.d05EmbeddingNearDup(spark, dir)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().sortBy(identity)
    assert(pairs.toSeq == oracle.toSeq)
  }

  test("cosineDropIds ≡ cosinePairs' distinct dropped ids (the join-plan reference)") {
    // The round-21 aggregation re-plan (CosineDropAgg) must reproduce the
    // join plan's drop set EXACTLY, degenerate rows included: a null vector
    // never pairs on either plan (null cosine fails every threshold), a
    // null block never self-joins, and an overflow-NaN cosine (Inf/Inf from
    // huge components — NO division by zero, which ANSI mode makes an ERROR
    // on both plans) is GREATEST under Spark's DoubleType `>=`, so it pairs
    // with its blockmates on BOTH plans (the nanSafeCompareDoubles contract
    // the aggregator replays).
    val huge = Seq.fill(64)(1.0e200) // dot/norms overflow to Inf; cos = NaN
    val base = embs.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"),
      $"label".cast("int").as("label"))
    val extra = Seq(
      (900000L, Some(huge), Some(99)),                // NaN pair (with 900001)
      (900001L, Some(huge), Some(99)),
      (900002L, None: Option[Seq[Double]], Some(0)),  // null vector
      (900003L, Some(Seq.tabulate(64)(i => 0.01 * i)), None: Option[Int]),
      (900004L, Some(Seq.tabulate(64)(i => 0.01 * i)), None: Option[Int]))
      .toDF("vec_id", "embedding", "label")
    val corpus = base.unionByName(extra)
    for (th <- Seq(0.35, 0.12, 0.9)) {
      val ref = DedupOps.cosinePairs(corpus, "vec_id", "embedding", "label", th)
        .select($"id_b").distinct().as[Long].collect().sorted.toSeq
      val got = DedupOps.cosineDropIds(corpus, "vec_id", "embedding", "label", th)
        .select($"id_b").as[Long].collect().sorted.toSeq
      assert(got == ref, s"drop sets diverged at threshold $th")
      assert(got.contains(900001L),
        "the overflow-NaN cosine is greatest under Spark's >= and must drop")
      assert(!got.contains(900002L) && !got.contains(900003L) &&
        !got.contains(900004L),
        "null-vector and null-block rows must never be dropped")
    }
    // ANSI parity: a ZERO-norm vector makes the join plan's Catalyst
    // division raise DIVIDE_BY_ZERO (Spark 4 default) — the aggregation
    // plan must fail loudly too, not silently NaN-drop
    val zero = Seq(
      (1L, Seq.fill(4)(0.0), 7),
      (2L, Seq(1.0, 0.0, 0.0, 0.0), 7)).toDF("vec_id", "embedding", "label")
    intercept[Exception] {
      DedupOps.cosinePairs(zero, "vec_id", "embedding", "label", 0.35).collect()
    }
    val thrown = intercept[Exception] {
      DedupOps.cosineDropIds(zero, "vec_id", "embedding", "label", 0.35).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(thrown).exists(_.contains("DIVIDE_BY_ZERO")),
      s"aggregator must replay the ANSI zero-divisor failure, got $thrown")
    // a null id fails loudly and names the column
    val nullId = corpus.unionByName(
      Seq((None: Option[Long], Some(Seq.fill(64)(0.5)), Some(3)))
        .toDF("vec_id", "embedding", "label"))
    val nullThrown = intercept[Exception] {
      DedupOps.cosineDropIds(nullId, "vec_id", "embedding", "label", 0.35).collect()
    }
    assert(rootMessages(nullThrown).exists(_.contains("null id in column 'vec_id'")),
      s"null id must name its column, got $nullThrown")
  }

  test("cosinePairsLsh (label ∧ band blocking) finds exactly the label-blocked pairs") {
    // The bucketed variant of the verdict's d05 scale caveat: same semantics
    // as cosinePairs(label) — within-label pairs above threshold — but no
    // bucket's pair count tracks Σ block². At this weak threshold (0.35,
    // p≈0.61/plane) full recall needs narrow bands (w=2, L=12 — measured
    // deterministic on the md5 planes + testdata); precision is exact by
    // construction (candidates verify on the true cosine).
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"cosine", 4).as("c"))
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val lsh = DedupOps.cosinePairsLsh(embs, "vec_id", "embedding", 0.35,
      blockCol = Some("label"), planesPerBand = 2, bands = 12)
    val blocked = DedupOps.cosinePairs(embs, "vec_id", "embedding", "label", 0.35)
    assert(norm(lsh) == norm(blocked))
    // scale shape: candidate generation must be a bucket equi-join, never an
    // all-pairs product
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "LSH candidate generation must not fall back to an all-pairs join")
  }

  test("cosinePairsAuto routes by threshold first, size second") {
    // weak threshold (0.35, p≈0.61/plane): the exact block plan is the
    // measured pick at ANY size — wide bands can't hold recall there
    assert(DedupOps.cosinePairsAutoChoice(embs, Some("label"), 0.35)._1 == "block")
    assert(DedupOps.cosinePairsAutoChoice(embs, Some("label"), 0.35,
      switchBytes = 0L)._1 == "block")
    // near-dup threshold past the size switch: the banded-LSH scale plan
    assert(DedupOps.cosinePairsAutoChoice(embs, Some("label"), 0.95,
      switchBytes = 0L)._1 == "lsh")
    // small corpus stays exact even at near-dup thresholds
    assert(DedupOps.cosinePairsAutoChoice(embs, Some("label"), 0.95)._1 == "block")
    // no block column: LSH is the only non-quadratic plan
    assert(DedupOps.cosinePairsAutoChoice(embs, None, 0.35)._1 == "lsh")
  }

  test("cosinePairsAuto output parity and telemetry on both sides of the switch") {
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", round($"cosine", 4).as("c"))
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val exact = norm(DedupOps.cosinePairs(embs, "vec_id", "embedding", "label", 0.35))
    val picks = observedPlanPicks(expected = 2) {
      // block side (default switch): must BE the exact plan
      assert(norm(DedupOps.cosinePairsAuto(embs, "vec_id", "embedding",
        Some("label"), 0.35)) == exact)
      // LSH side, forced via switchBytes=0 + a floor at the query threshold,
      // with the banding measured full-recall at 0.35 on this data (w=2, L=12
      // — the same configuration the label∧band test pins): identical output
      assert(norm(DedupOps.cosinePairsAuto(embs, "vec_id", "embedding",
        Some("label"), 0.35, switchBytes = 0L, lshMinThreshold = 0.35,
        planesPerBand = 2, bands = 12)) == exact)
    }
    assert(picks.contains(("graft.cosine.plan", "block")), s"got $picks")
    assert(picks.contains(("graft.cosine.plan", "lsh")), s"got $picks")
    assert(spark.sparkContext.getLocalProperty("graft.cosine.plan") == null)
  }

  test("cosine-LSH rejects embeddings whose width != dim (no silent truncation)") {
    // the hyperplanes have exactly `dim` components: a 768-dim embedding with
    // the default dim=64 used to hash only its first 64 components — recall
    // silently degraded; now it must raise
    val wide = (1L to 4L).map(i => (i, Array.fill(768)(0.01 * i)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      DedupOps.cosinePairsLsh(wide, "vec_id", "embedding", 0.9).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dim mismatch")),
      s"expected the dim-mismatch error, got: ${messages(e).mkString(" | ")}")
    // the guard admits matching widths (testdata embeddings are 64-dim)
    assert(DedupOps.cosinePairsLsh(embs, "vec_id", "embedding", 0.9999,
      blockCol = Some("label")).count() >= 0)
  }

  test("cosinePairsLsh at a near-dup threshold: wide bands prune hard at full recall") {
    // The 100 TB setting the variant exists for: true near-duplicates
    // (cos ≥ ~0.95) against a random background. Wide bands (w=6) give each
    // band 64 buckets; deterministic seeded data + md5 planes make the
    // measurement exact.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val base = (0 until 300).map(i => (i.toLong, vec()))
    val planted = (0 until 10).map { i =>
      val (id, v) = base(i * 7)
      (1000L + id, v.zipWithIndex.map { case (x, d) => x + 0.02 * ((d % 5) - 2) })
    }
    val df = (base ++ planted).toDF("id", "v")
    val (cand, _) = DedupOps.lshParts(df, "id", "v", None,
      planesPerBand = 6, bands = 6, dim = 64)
    val nCand = cand.count()
    val all = 310L * 309 / 2
    assert(nCand < all / 5, s"pruning too weak: $nCand of $all pairs are candidates")
    val pairs = DedupOps.cosinePairsLsh(df, "id", "v", 0.95,
        planesPerBand = 6, bands = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = planted.map { case (pid, _) => (pid - 1000L, pid) }.toSet
    assert(expected.subsetOf(pairs),
      s"planted near-dups missed: ${expected -- pairs}")
  }

  test("knn matches s01 for the same query set") {
    val got = DedupOps.knn(embs, embs.filter($"vec_id" < 20), "vec_id", "embedding", 5)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    val oracle = Similarity.s01KnnBrute(spark, dir)
      .select($"qid", $"rk", $"vec_id").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    // ties at equal cosine can order differently (s01 ranks on round(cos,6));
    // compare the (query, rank) -> id only where ranks are stable, else sets
    val gotSets = got.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val oraSets = oracle.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(gotSets == oraSets)
  }

  test("dbscan: core/border/noise semantics, border min-attach, singleton core") {
    val ids = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L) ++ Seq(11L, 12L, 13L, 14L) ++
      Seq(20L, 21L, 22L, 23L)).toDF("id")
    // two K4 cliques (cores), 5 bridges both at degree 2 < minPts (border,
    // min-attach -> 1; its presence must NOT merge the cliques), 6 and 7
    // isolated (noise), 20 is a hub whose spokes are all non-core
    // (singleton-core cluster labeled by itself)
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val pairs = (k4a ++ k4b ++ Seq((1L, 5L), (11L, 5L),
      (20L, 21L), (20L, 22L), (20L, 23L))).toDF("a", "b")
    val got = DedupOps.dbscan(ids, "id", pairs, "a", "b", minPts = 3)
      .select($"id", $"cluster", $"role").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    (1L to 4L).foreach(i => assert(got(i) == (1L, "core")))
    (11L to 14L).foreach(i => assert(got(i) == (11L, "core")))
    assert(got(5L) == (1L, "border"), "border attaches to its MIN core cluster")
    assert(got(6L) == (-1L, "noise"))
    assert(got(7L) == (-1L, "noise"))
    assert(got(20L) == (20L, "core"), "a core with no core neighbor labels itself")
    (21L to 23L).foreach(i => assert(got(i) == (20L, "border")))
  }

  test("knnGraphAuto: band width scales with the corpus; small corpus equals fixed banding") {
    // the exact-integer width loop vs the oracle's ceil(log2(n/512)):
    // boundary agreement at powers of two and the floor/cap clamps
    def sqlW(n: Long) = math.min(15, math.max(4,
      math.ceil(math.log(n / 512.0) / math.log(2.0)).toInt))
    for (n <- Seq(1L, 500L, 512L, 513L, 1024L, 5000L, 50000L, 65536L,
        65537L, 500000L, 524288L, 524289L, 100000000L, Long.MaxValue / 4)) {
      val got = DedupOps.adaptivePlanes(n, 512L, bands = 4)
      assert(got == sqlW(n), s"n=$n: loop=$got sql=${sqlW(n)}")
    }
    assert(DedupOps.adaptivePlanes(Long.MaxValue / 4, 512L, 4) == 15,
      "width must cap at the 60-bit signature budget")
    // at the 500-vector testdata the auto width floors to 4, so the auto
    // graph is bit-identical to a fixed 4x4 banding at the same probe count
    val auto = DedupOps.knnGraphAuto(embs, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    val fixed = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3,
        probes = DedupOps.KnnGraphProbes)
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(auto == fixed, "auto width must floor to the fixed banding on a small corpus")
    assert(auto.nonEmpty)
  }

  test("knnGraph ranking plans: bounded heap ≡ window bit-exact; auto switches on edge volume") {
    // one contract, two plans (the exactPercentilesAuto discipline): the
    // heap route must return the identical rows, ranks, and cos6 doubles
    val win = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3,
        probes = DedupOps.KnnGraphProbes)
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    val heap = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3,
        probes = DedupOps.KnnGraphProbes, rankPlan = "heap")
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(heap == win, "heap and window rankings must be bit-identical")
    // auto on the 500-vector corpus (estEdges ~ 375k) stays on the window
    val autoDf = DedupOps.knnGraphAuto(embs, "vec_id", "embedding", k = 3)
    autoDf.collect()
    assert(autoDf.queryExecution.executedPlan.toString.contains("Window"),
      "small corpus must keep the window rank")
    // forcing the threshold to 1 row flips the pick to the bounded heap:
    // no Window node, same rows
    val forcedDf = DedupOps.knnGraphAuto(embs, "vec_id", "embedding", k = 3,
      heapRankRows = 1L)
    val forced = forcedDf
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(forced == win, "the switch must not change results")
    assert(!forcedDf.queryExecution.executedPlan.toString.contains("Window"),
      "past the threshold the rank must be the bounded-heap aggregate")
  }

  test("knnGraphAuto: a stated cosine horizon derives (bands, probes) from the model; rows stay a valid knn graph") {
    // round-17 verdict #3: the caller states the horizon instead of
    // accepting the default banding's. At the 500-vector corpus the
    // default (4 bands, 2 probes, w=4) models 0.879 at cos 0.35 — asking
    // for that exact contract must reproduce a config meeting it, and the
    // result must BE knnGraph at the derived config (bit-identical).
    val (b, q, r) = DedupOps.tuneGraphConfig(500L, 0.35, 0.85, 32L)
    assert(r >= 0.85)
    val viaTarget = DedupOps.knnGraphAuto(embs, "vec_id", "embedding", k = 3,
        targetHorizon = Some(0.35), horizonRecall = 0.85)
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    val w = DedupOps.adaptivePlanes(500L, 32L, b)
    val direct = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3,
        planesPerBand = w, bands = b, probes = q)
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(viaTarget == direct,
      "the horizon-derived graph must equal knnGraph at the tuned config")
    assert(viaTarget.nonEmpty)
    // an unreachable horizon still returns a graph (best-effort config,
    // warning logged) rather than failing the pipeline
    assert(DedupOps.knnGraphAuto(embs, "vec_id", "embedding", k = 3,
      targetHorizon = Some(0.05), horizonRecall = 0.99).count() > 0)
  }

  test("knnGraphAuto: session conf overrides the rank-plan switch in auto mode only") {
    // the sweep knob (SPARK_GRAFT_KNN_RANK -> spark.graft.knngraph.rankPlan):
    // identical rows, forced physical rank
    val win = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3,
        probes = DedupOps.KnnGraphProbes)
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    try {
      spark.conf.set("spark.graft.knngraph.rankPlan", "heap")
      val df = DedupOps.knnGraphAuto(embs, "vec_id", "embedding", k = 3)
      val got = df.as[(Long, Long, Long, Double)].collect()
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == win, "the forced heap plan must not change results")
      assert(!df.queryExecution.executedPlan.toString.contains("Window"),
        "conf=heap must route the ranking off the window plan")
      // an explicit caller pick always beats the conf
      val explicit = DedupOps.knnGraphAuto(embs, "vec_id", "embedding",
        k = 3, rankPlan = "window")
      explicit.collect()
      assert(explicit.queryExecution.executedPlan.toString.contains("Window"),
        "an explicit rankPlan must override the session conf")
    } finally spark.conf.unset("spark.graft.knngraph.rankPlan")
  }

  test("bucketPlanes (s02/s12/s24 single-band width) agrees with the twins' ceil-log2 formula") {
    def sqlW(n: Long) = math.min(20, math.max(8,
      math.ceil(math.log(n / 256.0) / math.log(2.0)).toInt))
    for (n <- Seq(1L, 256L, 257L, 500L, 5000L, 50000L, 65536L, 65537L,
        131072L, 131073L, 500000L, 1000000L, 268435456L, Long.MaxValue / 4)) {
      val got = Similarity.bucketPlanes(n)
      assert(got == sqlW(n), s"n=$n: loop=$got sql=${sqlW(n)}")
    }
    // the floor keeps every verify/bench SF (n <= 65536) on the historical
    // 8-plane buckets — pre-adaptive outputs unchanged there
    assert(Similarity.bucketPlanes(500L) == 8 &&
      Similarity.bucketPlanes(5000L) == 8 && Similarity.bucketPlanes(50000L) == 8)
    assert(Similarity.bucketPlanes(Long.MaxValue / 4) == 20, "cap at 20 planes")
  }

  test("dbscanTuned: layout derived from eps; clustering equals exact-all-pairs dbscan") {
    // round-13 NEXT #5: the caller states eps/minPts/budget, tuneCosine
    // picks the banding. Witness: three planted DIRECTION clusters (scale
    // variants of one direction — pairwise cosine exactly ~1, so both the
    // exact generator and any banded layout must find them) plus two
    // orthogonal noise vectors; eps = 0.95 keeps cross-cluster candidates
    // out (exact verification), minPts = 2 makes all planted members core.
    val dirs4 = Seq(
      Seq(1.0f, 0.0f, 0.0f, 0.0f),
      Seq(0.0f, 1.0f, 0.0f, 0.0f),
      Seq(0.0f, 0.0f, 1.0f, 0.0f))
    val pts = (for ((d, ci) <- dirs4.zipWithIndex; j <- 0 until 3)
      yield ((ci * 10 + j).toLong, d.map(_ * (j + 1)))).toDF("id", "v")
      .union(Seq((90L, Seq(0.5f, -0.5f, 0.5f, -0.5f)),
        (91L, Seq(-0.5f, 0.5f, 0.5f, 0.5f))).toDF("id", "v"))
    val exactPairs = DedupOps.cosinePairs(
      pts.withColumn("blk", lit(0)), "id", "v", "blk", 0.95)
    val exact = DedupOps.dbscan(pts, "id", exactPairs, "id_a", "id_b", minPts = 2)
      .select($"id", $"cluster", $"role").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    val tuned = DedupOps.dbscanTuned(pts, "id", "v", eps = 0.95, minPts = 2,
        signatureBudget = 24, dim = 4)
      .select($"id", $"cluster", $"role").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(tuned == exact,
      s"tuned-layout clustering must equal exact-pairs clustering:\n$tuned\nvs\n$exact")
    // the witness is non-vacuous: three clusters found, noise flagged
    assert(exact.count(_._3 == "core") == 9 && exact.count(_._3 == "noise") == 2,
      s"witness shape: $exact")
    // the derived layout's S-curve inflection sits near the target: mapped
    // back through the hyperplane identity it brackets eps
    val (bands, planes) = graft.ext.LshTuning.tuneCosine(0.95, 24)
    val pInfl = graft.ext.LshTuning.inflection(bands, planes)
    val cosInfl = math.cos(math.Pi * (1.0 - pInfl))
    assert(cosInfl > 0.5 && cosInfl < 0.999,
      s"inflection cosine $cosInfl (bands=$bands planes=$planes) far from eps")
  }

  test("hardNegatives matches s23; every negative has a different label") {
    val got = DedupOps.hardNegatives(embs, embs.filter($"vec_id" < 20),
        "vec_id", "embedding", "label", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
    val oracle = Similarity.s23HardNegatives(spark, dir)
      .select($"qid", $"neg_id").as[(Long, Long)].collect()
    // same set-per-query contract as the knn test: s23 ranks on round(cos,6)
    val gotSets = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val oraSets = oracle.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(gotSets == oraSets)
    val labels = embs.select($"vec_id", $"label".cast("long"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (q, n) =>
      assert(labels(q) != labels(n), s"negative $n shares query $q's label")
    }
  }

  test("mmrRerank: demotes near-duplicates of already-picked results") {
    val corpus = Seq(
      (1L, Seq(0.9, 0.1, 0.0, 0.0)), // highest relevance
      (2L, Seq(0.9, 0.11, 0.0, 0.0)), // near-dup of 1, 2nd by pure relevance
      (3L, Seq(0.5, 0.0, 0.8, 0.0))) // diverse, 3rd by pure relevance
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
      k = 3, nCand = 3, lambda = 0.5)
      .select($"mmr_rank", $"id", $"rel").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    // pure relevance would order 1, 2, 3; MMR demotes the near-dup 2
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L))
    val rel = got.map(r => r._2 -> r._3).toMap
    assert(rel(2L) > rel(3L), "precondition: 2 outranks 3 on pure relevance")
  }

  test("mmrRerank (MmrAgg single-pass) ≡ the windowed k-stage greedy reference") {
    // the round-19 plan, kept here as the independent reference: window
    // top-nCand candidates, then k−1 join+agg+argmax stages — the exact
    // DataFrame program mmrRerank ran before the round-20 MmrAgg re-plan
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, lit, max, round, row_number, transform}
    // unitVecs is private[ext]; its exact projection, restated
    def unit(df: org.apache.spark.sql.DataFrame, idCol: String,
        vecCol: String, idOut: String) = df
      .select(col(idCol).as(idOut),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__nrm", graft.functions.VectorExprs.l2(col("__v")))
      .withColumn("__u", transform(col("__v"), x => x / col("__nrm")))
      .drop("__v", "__nrm")
    def reference(corpus: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame, idCol: String,
        vecCol: String, k: Int, nCand: Int, lambda: Double) = {
      val c = unit(corpus, idCol, vecCol, "id")
      val q = unit(queries, idCol, vecCol, "query_id")
        .select(col("query_id"), col("__u").as("__qu"))
      val wC = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("id"))
      val cands = broadcast(q).join(c, col("query_id") =!= col("id"))
        .withColumn("rel",
          round(graft.functions.VectorExprs.dot(col("__qu"), col("__u")), 6))
        .withColumn("__rk", row_number().over(wC))
        .filter(col("__rk") <= nCand)
        .select(col("query_id"), col("id"), col("rel"), col("__u"))
        .localCheckpoint(true)
      val wPick = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("id"))
      def argmax(scored: org.apache.spark.sql.DataFrame, rank: Int) = scored
        .withColumn("__p", row_number().over(wPick))
        .filter(col("__p") === 1)
        .select(col("query_id"), col("id"), col("rel"), col("__u"),
          col("score"), lit(rank.toLong).as("mmr_rank"))
      var selected = argmax(cands.withColumn("score", col("rel")), 1)
      var remaining = cands.join(
        selected.select(col("query_id"), col("id")), Seq("query_id", "id"),
        "left_anti")
      for (j <- 2 to k) {
        val sel = selected.select(col("query_id"), col("__u").as("__su"))
        val scored = remaining
          .join(sel, Seq("query_id"))
          .groupBy(col("query_id"), col("id"))
          .agg(max(col("rel")).as("rel"), max(col("__u")).as("__u"),
            max(graft.functions.VectorExprs.dot(col("__u"), col("__su")))
              .as("__msim"))
          .withColumn("score",
            lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__msim"))
        val pick = argmax(scored, j)
        selected = selected.unionByName(pick)
        remaining = remaining.join(
          pick.select(col("query_id"), col("id")), Seq("query_id", "id"),
          "left_anti")
      }
      selected.select(col("query_id"), col("mmr_rank"), col("id"),
        (col("rel") + lit(0.0)).as("rel"),
        (round(col("score") + lit(1e-9), 4) + lit(0.0)).as("score"))
    }
    val q = embs.filter($"vec_id" < 7)
    val want = reference(embs, q, "vec_id", "embedding",
        k = 5, nCand = 12, lambda = 0.7)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    val got = Similarity.mmrRerank(embs, q, "vec_id", "embedding",
        k = 5, nCand = 12, lambda = 0.7)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(want.nonEmpty && got.toSeq == want.toSeq,
      s"MmrAgg diverged from the windowed greedy reference:\n" +
        s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("knnGraph = top-k exact-cosine ranking over the symmetrized LSH candidate set") {
    import org.apache.spark.sql.expressions.Window
    val got = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.nonEmpty, "graph should have edges on the real embeddings")
    // re-derive from cosinePairsLsh at a pass-everything threshold with the
    // SAME banding: symmetrize, round-6, rank, cut at k — must agree exactly
    val cand = DedupOps.cosinePairsLsh(embs, "vec_id", "embedding",
      threshold = -2.0, blockCol = None, planesPerBand = 4, bands = 4)
    val sym = cand.select($"id_a".as("src"), $"id_b".as("dst"), $"cosine")
      .unionAll(cand.select($"id_b", $"id_a", $"cosine"))
      .withColumn("cos6", round($"cosine", 6))
    val w = Window.partitionBy($"src").orderBy($"cos6".desc, $"dst")
    val expected = sym
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3).select($"src", $"rk", $"dst", $"cos6")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected)
    // no self edges, degree bounded by k
    assert(got.forall(e => e._1 != e._3))
    assert(got.groupBy(_._1).forall(_._2.size <= 3))
  }

  test("multi-probe knnGraph: exact-bucket edges survive, recall strictly improves") {
    import org.apache.spark.sql.expressions.Window
    // ground truth: brute-force top-3 (the s29 truth side)
    val e = embs.select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.VectorExprs.l2($"v"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    val truth = e.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
      .join(e, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(
        graft.functions.VectorExprs.dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3).select($"qid", $"vec_id")
    def recall(probes: Int): Double = {
      val g = DedupOps.knnGraph(embs, "vec_id", "embedding", k = 3,
          probes = probes)
        .select($"src".as("qid"), $"dst".as("vec_id"))
      Similarity.recallAtK(truth, g, "qid", "vec_id", k = 3)
        .agg(avg($"recall")).as[Double].head()
    }
    val r0 = recall(0)
    val r2 = recall(DedupOps.KnnGraphProbes)
    assert(r2 > r0 + 0.2,
      s"probing the weakest-margin flips must lift recall substantially: " +
        s"probes=0 -> $r0, probes=2 -> $r2")
    assert(r2 >= 0.8, s"tuned operating point must clear mean recall 0.8: $r2")
    // the probe candidate set is a SUPERSET of the exact-bucket set: every
    // probes=0 edge whose endpoints still rank top-3 under the union can
    // only gain candidates, never lose them — check set containment at the
    // candidate level via a pass-everything threshold
    val c0 = DedupOps.cosinePairsLsh(embs, "vec_id", "embedding",
        threshold = -2.0, blockCol = None, planesPerBand = 4, bands = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val (cand2, _) = DedupOps.lshParts(
      embs.toDF(), "vec_id", "embedding", None, 4, 4, 64,
      probes = DedupOps.KnnGraphProbes)
    val c2 = cand2.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(c0.subsetOf(c2),
      s"multi-probe candidates must contain every exact-bucket pair " +
        s"(missing ${(c0 -- c2).take(3)})")
    assert(c2.size > c0.size, "probing must add candidates")
  }

  test("knnBinary: hand-computed Hamming ranks; udaf form equals the s10 window form") {
    // 64-dim sign patterns: id2 flips dims 0..2 (ham 3), id3 flips 0..9
    // (ham 10), id4 flips everything (ham 64) relative to the query id1
    def vec(flip: Int) = (0 until 64).map(d => if (d < flip) -1.0 else 1.0)
    val df = Seq((1L, vec(0)), (2L, vec(3)), (3L, vec(10)), (4L, vec(64)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnBinary(df, df.filter($"vec_id" === 1), "vec_id",
        "embedding", k = 3)
      .select($"query_id", $"rank", $"id", $"hamming")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got == Seq((1L, 1L, 2L, 3L), (1L, 2L, 3L, 10L), (1L, 3L, 4L, 64L)),
      s"got $got")
    // on the real embeddings the bounded-heap form and the oracle-checked
    // window form agree EXACTLY — integer distances, same lower-id tie-break
    val api = Similarity.knnBinary(embs, embs.filter($"vec_id" < 20),
        "vec_id", "embedding", k = 5)
      .select($"query_id", $"rank", $"id", $"hamming")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val win = Similarity.s10BinaryKnn(spark, dir)
      .select($"query_id", $"rank", $"id", $"hamming")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(api == win)
  }

  test("projectJl: md5-derived planes, 16 dims, deterministic, useful recall") {
    // a one-hot input reads plane row j at the hot dimension
    val hot = Seq((1L, 5.0 +: Seq.fill(63)(0.0))).toDF("vec_id", "embedding")
    val y = Similarity.projectJl(hot, "embedding").select($"vjl")
      .as[Seq[Double]].collect().head
    assert(y.length == 16)
    val expected = (0 until 16).map(j =>
      5.0 * (((graft.ext.TextOps.h60Local(s"jl:$j:0") % 2001L) - 1000L) / 1000.0))
    assert(y == expected, s"got $y")
    // JL preserves STRUCTURE: on clustered data (3 well-separated axis
    // clusters + deterministic jitter) the reduced-space top-5 stays inside
    // the query's cluster. (On the structureless uniform test embeddings
    // ANY 4x reduction scrambles the — nearly tied — top-5; that recall is
    // data noise, not an operator property, so it is not asserted.)
    def jitter(i: Int, d: Int) =
      ((graft.ext.TextOps.h60Local(s"jit:$i:$d") % 201L) - 100L) / 1000.0
    val clustered = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, (0 until 64).map(d =>
        (if (d / 21 == c) 1.0 else 0.0) + jitter(i, d)))
    }.toDF("vec_id", "embedding")
    val exact = DedupOps.knn(clustered, clustered.filter($"vec_id" < 6),
        "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
    val red = Similarity.projectJl(clustered, "embedding")
      .select($"vec_id", $"vjl".as("embedding"))
    val reduced = DedupOps.knn(red, red.filter($"vec_id" < 6),
        "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
    def sameCluster(rows: Array[(Long, Long)]) =
      rows.count { case (q, id) => q % 3 == id % 3 } / rows.length.toDouble
    assert(sameCluster(exact) == 1.0, "exact KNN must respect the planted clusters")
    assert(sameCluster(reduced) >= 0.9,
      s"JL reduction must preserve the cluster structure: ${sameCluster(reduced)}")
  }

  test("knnBinaryRerank: covering refine equals brute; hamming prefilter recalls usefully") {
    val queries = embs.filter($"vec_id" < 20)
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // refine*k >= corpus: stage 1 keeps everything -> exact brute result
    val covering = Similarity.knnBinaryRerank(embs, queries, "vec_id",
        "embedding", k = 5, refine = 1000)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(covering == brute)
    // production shape: 50 Hamming candidates from the whole corpus still
    // recover a useful share of the exact top-5
    val fast = Similarity.knnBinaryRerank(embs, queries, "vec_id",
        "embedding", k = 5, refine = 10)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      (fast.getOrElse(q, Set.empty[Long]) & brute(q)).size / 5.0
    }.sum / brute.size
    assert(recall >= 0.3, s"binary-rerank recall collapsed: $recall")
  }

  test("recallAtK: per-query intersection counts; zero-hit queries still report") {
    def r4(x: Double) = math.round((x + 1e-9) * 1e4) / 1e4
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("q", "id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 30L),
      (2L, 40L), (2L, 41L)).toDF("q", "id")
    val got = Similarity.recallAtK(truth, approx, "q", "id", k = 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, r4(2.0 / 3)), (2L, 0L, 0.0)), s"got $got")
  }

  test("ivfKnn with full probe equals brute-force; partial probe recalls most") {
    val queries = embs.filter($"vec_id" < 20)
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // nprobe == nlist probes every list -> identical to brute force
    val full = Similarity.ivfKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, iters = 1)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(full == brute)
    // partial probe: correctness-vs-cost knob; recall stays useful
    val part = Similarity.ivfKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3, iters = 2)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      val hit = part.getOrElse(q, Set.empty[Long]) & brute(q)
      hit.size.toDouble / brute(q).size
    }
    assert(recall.sum / recall.size > 0.5,
      s"mean recall@5 too low: ${recall.sum / recall.size}")
    // sampled quantizer training (the 100 TB practice: Lloyd never iterates
    // the full corpus) must not change full-probe correctness — centroid
    // positions shift, the probed candidate set is still everything
    val sampled = Similarity.ivfKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, iters = 1, trainSampleRows = 64L)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sampled == brute,
      "full-probe result must be training-sample-independent")
  }

  test("pqKnn: exact when the refine window covers the corpus; useful recall at defaults") {
    val queries = embs.filter($"vec_id" < 20)
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // refine*k >= corpus size -> ADC candidate set is the whole corpus and
    // the exact rerank makes the result identical to brute force
    val limit = Similarity.pqKnn(embs, queries, "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, iters = 1, refine = 200)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(limit == brute)
    // ...and stays exact under sampled codebook training: codebooks shape
    // only the ADC ordering, which the covering rerank window erases
    val sampled = Similarity.pqKnn(embs, queries, "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, iters = 1, refine = 200, trainSampleRows = 64L)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sampled == brute,
      "covering-rerank result must be training-sample-independent")
    // default refine: approximate recall must stay useful
    val approx = Similarity.pqKnn(embs, queries, "vec_id", "embedding", k = 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      (approx.getOrElse(q, Set.empty[Long]) & brute(q)).size.toDouble / brute(q).size
    }
    assert(recall.sum / recall.size > 0.5,
      s"mean PQ recall@5 too low: ${recall.sum / recall.size}")
  }

  test("ivfPqKnn: covering configuration equals brute-force; pruned+quantized recalls most") {
    val queries = embs.filter($"vec_id" < 20)
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // nprobe == nlist makes every list a candidate source AND
    // refine*k >= corpus keeps every ADC candidate -> identical to brute
    val cover = Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, iters = 1, refine = 200)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(cover == brute)
    // training is deterministic: a second fit reproduces every double
    def fit() = Similarity.ivfPqTrain(embs, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, iters = 1)
    assert(fit() == fit(), "IVF-PQ training must be bit-reproducible")
    // ...independent of sampled coarse+PQ training (both ride one sample):
    // training shapes only list assignment and ADC ordering, and the
    // covering configuration erases both
    val sampled = Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, iters = 1,
        refine = 200, trainSampleRows = 64L)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sampled == brute,
      "covering result must be training-sample-independent")
    // production shape: pruned lists x quantized scoring; recall floor
    val approx = Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3, m = 8, ksub = 16, iters = 2, refine = 4)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      (approx.getOrElse(q, Set.empty[Long]) & brute(q)).size.toDouble / brute(q).size
    }
    assert(recall.sum / recall.size > 0.4,
      s"mean IVF-PQ recall@5 too low: ${recall.sum / recall.size}")
  }

  test("ivfPqKnn byResidual: covering equals brute; residual recall is competitive") {
    val queries = embs.filter($"vec_id" < 20)
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the exact-cosine rerank makes the covering configuration brute-force
    // REGARDLESS of how the ADC ordered candidates — residual included
    val cover = Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 16, iters = 1,
        refine = 200, byResidual = true)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(cover == brute)
    def fit() = Similarity.ivfPqTrain(embs, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, iters = 1, byResidual = true)
    assert(fit() == fit(), "residual IVF-PQ training must be bit-reproducible")
    // production shape: the residual codes spend their ksub cells on the
    // within-list spread, so recall at the same budget must stay at least
    // in the same band as the non-residual path
    def recallAt(residual: Boolean): Double = {
      val got = Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = 3, m = 8, ksub = 16, iters = 2,
          refine = 4, byResidual = residual)
        .select($"query_id", $"id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = brute.keys.toSeq.map { q =>
        (got.getOrElse(q, Set.empty[Long]) & brute(q)).size.toDouble / brute(q).size
      }
      rs.sum / rs.size
    }
    val rRes = recallAt(residual = true)
    assert(rRes > 0.4, s"mean residual IVF-PQ recall@5 too low: $rRes")
  }

  test("list-sorted code table: written-index search equals inline; probes prune row groups") {
    // round-12 verdict #6: the q38/bm25 layout discipline on the ANN
    // postings — persist the code table sorted by list id, push the probed
    // ids into the scan, and a non-covering search reads only those lists'
    // row groups instead of the whole table.
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_codes").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hconf.get("parquet.block.size"))
    // small row groups so the sorted layout yields many — the unit under
    // test is stats-based group skipping, which one giant group would mask
    hconf.set("parquet.block.size", "4096")
    try {
      val queries = embs.filter($"vec_id" < 5)
      val model = Similarity.ivfPqTrain(embs, "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 16, iters = 1)
      val codes = Similarity.ivfPqEncode(model, embs, "vec_id", "embedding")
      Similarity.saveIvfPqCodes(codes, dir)
      val loaded = Similarity.loadIvfPqCodes(spark, dir)
      val idxRows = loaded.count()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"query_id", $"rank", $"id").as[(Long, Long, Long)]
          .collect().sortBy(t => (t._1, t._2)).toSeq
      val inline = Similarity.ivfPqSearch(model, codes, embs, queries,
        "vec_id", "embedding", k = 5, nprobe = 2, refine = 2)
      val onDisk = Similarity.ivfPqSearch(model, loaded, embs, queries,
        "vec_id", "embedding", k = 5, nprobe = 2, refine = 2,
        pruneLists = true)
      assert(rows(onDisk) == rows(inline),
        "search on the written index must equal the inline search")
      // mechanism: a pruned scan of the sorted table must SKIP most groups —
      // probe the two SMALLEST lists (k-means lists skew, and probing the
      // fattest lists would legitimately read much of the table)
      val someLists = loaded.groupBy($"__cid").count()
        .orderBy($"count", $"__cid").limit(2)
        .select($"__cid").as[Int].collect().toSeq
      val matched = loaded.filter($"__cid".isInCollection(someLists)).count()
      val thrKey = "spark.sql.parquet.pushdown.inFilterThreshold"
      val thrOld = spark.conf.getOption(thrKey)
      spark.conf.set(thrKey, "100001")
      try {
        val probe = loaded.filter($"__cid".isInCollection(someLists))
        probe.collect()
        val scanRows = probe.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        // the scan must emit ~the probed lists' rows (plus boundary row
        // groups), never the whole table
        assert(scanRows > 0 && scanRows < idxRows / 2,
          s"list-sorted index must prune row groups: scan emitted $scanRows " +
            s"of $idxRows (probed lists hold $matched)")
      } finally thrOld match {
        case Some(v) => spark.conf.set(thrKey, v)
        case None => spark.conf.unset(thrKey)
      }
    } finally {
      oldBlock match {
        case Some(v) => hconf.set("parquet.block.size", v)
        case None => hconf.unset("parquet.block.size")
      }
    }
  }

  test("cachedCodes is model-content-addressed: a perturbed model misses the cache") {
    // round-14 verdict #1: the persisted code table must be keyed on the
    // MODEL fingerprint too — a later JVM whose float training came out
    // bit-different must rebuild codes, never serve the stale table.
    val model = Similarity.pqTrain(embs, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 1)
    // flip the last mantissa bit of one sub-centroid coordinate — the
    // smallest possible bit-divergence a re-trained model could show
    val cb = model.codebooks
    val perturbed = model.copy(codebooks = cb.updated(0, cb(0).updated(0,
      cb(0)(0).updated(0, java.lang.Double.longBitsToDouble(
        java.lang.Double.doubleToRawLongBits(cb(0)(0)(0)) ^ 1L)))))
    assert(Similarity.modelFingerprint(model) !=
      Similarity.modelFingerprint(perturbed),
      "one flipped centroid bit must change the model fingerprint")
    var builds = 0
    def serve(m: AnyRef) = {
      Similarity.cachedCodes(spark, dir, "spec_cm", m, listSorted = false) {
        builds += 1
        Similarity.pqEncode(model, embs, "vec_id", "embedding")
      }.count()
    }
    serve(model)
    assert(builds == 1, "first call must build the code table")
    serve(model)
    assert(builds == 1, "same (data, model) must serve the persisted table")
    serve(perturbed)
    assert(builds == 2, "a bit-different model must MISS the cache and rebuild")
    serve(perturbed)
    assert(builds == 2, "the rebuilt table serves under the perturbed key")
    // superseded generations of the tag are evicted on write: only the
    // perturbed-model directory remains
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_derived")
    val dirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("spec_cm-")).map(_.getName).toSeq
    assert(dirs.size == 1, s"superseded code tables must be evicted: $dirs")
  }

  test("cachedDerived: stores for different source dirs coexist (no cross-dir eviction)") {
    // round-15 ADVICE #1: eviction was name-wide while fingerprints differ
    // across data dirs, so a gate JVM on sf0.001 and a bench JVM on sf1
    // evicted each other's live table. The dir hash in the store name must
    // keep both generations on disk, and re-serving either dir must NOT
    // rebuild.
    val dirA = "/root/testdata/sf0.001"
    val dirB = "/root/testdata/sf0.01"
    // drop persisted entries from earlier runs so build counting is exact
    val store = new java.io.File(sys.props("java.io.tmpdir"), "graft_derived")
    Option(store.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains("spec_xdir")).foreach { f =>
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory)
            Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete(): Unit
        }
        rm(f)
      }
    var builds = 0
    def serve(d: String) =
      Tables.cachedDerived(spark, d, "documents", "spec_xdir") {
        builds += 1
        spark.range(1).toDF("v")
      }.count()
    serve(dirA); serve(dirB)
    assert(builds == 2, "each dir builds its own table once")
    serve(dirA); serve(dirB)
    assert(builds == 2,
      "re-serving either dir must hit its persisted table — publishing for " +
        "one dir must not evict the other's")
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_derived")
    val entries = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("spec_xdir-")).map(_.getName).toSeq
    assert(entries.size == 2, s"both dirs' tables must coexist: $entries")
  }

  test("cachedDerived: a family publish evicts SIBLING parameterizations of the same dir, keeps other dirs") {
    // round-17 ADVICE #1: the bucket table folds its adaptive width into
    // the store NAME (s02bucket_w8 vs _w9), so same-name eviction leaked
    // the old width's store (a full float-corpus copy) when a regenerated
    // corpus crossed the width boundary. Publishing with `family` must
    // evict every sibling parameterization FOR THE SAME DIR and leave a
    // different dir's entries alone.
    val dirA = "/root/testdata/sf0.001"
    val dirB = "/root/testdata/sf0.01"
    val store = new java.io.File(sys.props("java.io.tmpdir"), "graft_derived")
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory)
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(): Unit
    }
    Option(store.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("spec_fam_w")).foreach(rm)
    def serve(d: String, w: Int) =
      Tables.cachedDerived(spark, d, "documents", s"spec_fam_w$w",
        family = Some("spec_fam_w"))(spark.range(w.toLong).toDF("v")).count()
    def names() = Option(store.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("spec_fam_w")).toSeq.sorted
    serve(dirA, 8); serve(dirB, 8)
    assert(names().size == 2, s"two dirs coexist: ${names()}")
    // dirA crosses a "width boundary": publishing w9 must evict dirA's w8
    // sibling and keep dirB's w8 untouched
    serve(dirA, 9)
    val after = names()
    assert(after.size == 2 && after.exists(_.startsWith("spec_fam_w9-")),
      s"sibling eviction must drop dirA's stale width only: $after")
    // dirB's entry survived and still serves without a rebuild
    assert(serve(dirB, 8) == 8L)
    assert(names().size == 2, s"dirB's store must survive: ${names()}")
    // a non-prefix family is a contract violation, not a silent no-op
    intercept[IllegalArgumentException] {
      Tables.cachedDerived(spark, dirA, "documents", "spec_fam_w9",
        family = Some("other_prefix"))(spark.range(1).toDF("v"))
    }
    // the '<family><digits>' contract validates BEFORE any build/publish
    // (round-19 ADVICE #1: it used to run on the eviction path, after the
    // violating store was already published — and not at all on cached
    // reads): a non-digit param segment fails with NO store left behind
    intercept[IllegalArgumentException] {
      Tables.cachedDerived(spark, dirA, "documents", "spec_fam_wBAD",
        family = Some("spec_fam_w"))(spark.range(1).toDF("v"))
    }
    assert(!names().exists(_.startsWith("spec_fam_wBAD")),
      "a contract-violating name must not publish a store")
  }

  test("materialized ANN model path equals inline bit-for-bit, incl. relational round-trip") {
    // The train/encode/search seam (round-11 verdict #3): a deployment
    // trains once, persists the model + code table, and serves query
    // batches from them. Parity contract: the decomposed path — including
    // a round-trip of the model through its relational form — returns the
    // SAME rows as the inline pqKnn/ivfPqKnn, raw IEEE bits included.
    val queries = embs.filter($"vec_id" < 10)
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select($"query_id", $"rank", $"id", $"cosine").as[(Long, Long, Long, Double)]
        .collect().toSeq
        .map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4)))
        .sortBy(t => (t._1, t._2))
    def cbBits(c: IndexedSeq[IndexedSeq[Seq[Double]]]): Seq[Long] =
      c.flatten.flatten.map(java.lang.Double.doubleToRawLongBits)
    // PQ
    val pqInline = Similarity.pqKnn(embs, queries, "vec_id", "embedding",
      k = 5, iters = 1)
    val pqModel = Similarity.pqTrain(embs, "vec_id", "embedding", iters = 1)
    val pqRt = Similarity.PqModel.fromDF(pqModel.toDF(spark))
    assert(pqRt.m == pqModel.m && pqRt.dsub == pqModel.dsub)
    assert(cbBits(pqRt.codebooks) == cbBits(pqModel.codebooks),
      "PQ codebooks must round-trip bit-exactly")
    val pqMat = Similarity.pqSearch(pqRt,
      Similarity.pqEncode(pqRt, embs, "vec_id", "embedding"),
      embs, queries, "vec_id", "embedding", k = 5)
    assert(bits(pqMat) == bits(pqInline),
      "materialized PQ path must equal inline bit-for-bit")
    // IVF-PQ (residual mode — exercises centroids + residual flag too)
    val ivfInline = Similarity.ivfPqKnn(embs, queries, "vec_id", "embedding",
      k = 5, iters = 1, byResidual = true)
    val ivfModel = Similarity.ivfPqTrain(embs, "vec_id", "embedding",
      iters = 1, byResidual = true)
    // this one round-trips through an ACTUAL parquet table (save/load),
    // the deployment path; the PQ case above covers the in-memory DF form
    val mdir = java.nio.file.Files.createTempDirectory("graft_pqmodel").toString
    Similarity.saveIvfPqModel(ivfModel, spark, s"$mdir/ivfpq")
    val ivfRt = Similarity.IvfPqModel.load(spark, s"$mdir/ivfpq")
    assert(ivfRt.byResidual && ivfRt.nlist == ivfModel.nlist)
    assert(ivfRt.centroids.flatten.map(java.lang.Double.doubleToRawLongBits) ==
        ivfModel.centroids.flatten.map(java.lang.Double.doubleToRawLongBits),
      "coarse centroids must round-trip bit-exactly")
    val ivfMat = Similarity.ivfPqSearch(ivfRt,
      Similarity.ivfPqEncode(ivfRt, embs, "vec_id", "embedding"),
      embs, queries, "vec_id", "embedding", k = 5)
    assert(bits(ivfMat) == bits(ivfInline),
      "materialized IVF-PQ path must equal inline bit-for-bit")
  }

  test("dropNearDuplicatesAgainst drops corpus docs colliding with the reference, keeps the rest") {
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // identical -> all bands collide
      (2L, "totally different words here entirely now"),
      (3L, "")) // no shingles -> no postings -> kept
      .toDF("doc_id", "text")
    val kept = DedupOps.dropNearDuplicatesAgainst(corpus, ref, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L), s"got $kept")
    // an empty reference drops nothing
    val none = DedupOps.dropNearDuplicatesAgainst(corpus, ref.limit(0), "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(none == Seq(1L, 2L, 3L))
  }

  test("embeddingOutliers flags vectors below the centroid-cosine threshold") {
    // label 0: two identical unit vectors -> centroid = themselves, cos 1.0
    // label 1: orthogonal pair -> centroid (0.5, 0.5), cos = 0.5/0.7071... = 0.7071
    val d = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(1.0f, 0.0f)),
      (3L, 1, Array(1.0f, 0.0f)), (4L, 1, Array(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.embeddingOutliers(d, "vec_id", "embedding", "label",
        threshold = 0.8)
      .as[(Long, Int, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 0, 1.0, 0L), (2L, 0, 1.0, 0L),
      (3L, 1, 0.7071, 1L), (4L, 1, 0.7071, 1L)), s"got $got")
  }

  test("componentStats: cluster-size histogram with singletons; doc totals preserved") {
    val d = (1L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // one 3-cluster {1,2,3}, one 2-cluster {5,6}, singletons 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = DedupOps.componentStats(d, "doc_id", pairs, "id_a", "id_b")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)), s"got $got")
    assert(got.map(_._3).sum == 7L, "n_docs must cover the corpus")
  }

  test("connectedComponents labels pair graphs with the min reachable id") {
    // chain 1-2, 2-3 plus disjoint pair 10-11 plus triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    def labelsOf(df: org.apache.spark.sql.DataFrame, maxDriverEdges: Long) =
      DedupOps.connectedComponents(df, "id_a", "id_b", maxDriverEdges = maxDriverEdges)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // driver union-find path (default: graph fits)
    assert(labelsOf(pairs, 5000000L) == expected)
    // distributed min-label + pointer-jump path (forced) must agree exactly
    assert(labelsOf(pairs, 0L) == expected)
    // a long chain converges within the log-round bound on both paths
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(labelsOf(chain, 0L).forall(_._2 == 1L))
    assert(labelsOf(chain, 5000000L).forall(_._2 == 1L))
    // the real d06 graph: both paths produce identical labelings
    val real = DedupOps.simhashPairs(docs, "doc_id", "text",
      bands = 2, bitsPerBand = 15, maxHamming = 1)
    assert(labelsOf(real.select($"id_a", $"id_b"), 0L)
      == labelsOf(real.select($"id_a", $"id_b"), 5000000L))
    // too few distributed rounds raises instead of returning a partial labeling
    val e = intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(chain, "id_a", "id_b",
        maxIters = 2, maxDriverEdges = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("maskRepeatedSpans removes cross-doc repeated windows, keeps unique and within-doc text") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8" // the 8-token window docs A and B share
    val data = Seq(
      (1L, s"a1 a2 $span"),              // span at positions 2..9
      (2L, s"$span b1"),                 // span at positions 0..7
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"), // unique -> untouched
      (4L, "s1 s2 s3"),                  // <8 tokens: no windows -> untouched
      (5L, "e1 e2 e3 e4 e5 e6 e7 e8 e1 e2 e3 e4 e5 e6 e7 e8")) // within-doc repeat only
      .toDF("doc_id", "text")
    val got = DedupOps.maskRepeatedSpans(data, "doc_id", "text", n = 8, minDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a1 a2", 2L, 8L),
      (2L, "b1", 1L, 8L),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9", 9L, 0L),
      (4L, "s1 s2 s3", 3L, 0L),
      (5L, "e1 e2 e3 e4 e5 e6 e7 e8 e1 e2 e3 e4 e5 e6 e7 e8", 16L, 0L)),
      s"got $got")
    // a doc that is ENTIRELY a repeated span comes back empty, not absent
    val wipe = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val wiped = DedupOps.maskRepeatedSpans(wipe, "doc_id", "text", 8, 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(wiped == Seq((1L, "", 0L, 8L), (2L, "", 0L, 8L)))
  }

  test("maskRepeatedSpans (projection rebuild) ≡ the anti-join/collect_list reference") {
    // The round-21 rebuild re-plan must reproduce the old program's rows
    // EXACTLY on real docs plus the degenerate classes: null text (null
    // __ntok arithmetic!), empty/whitespace text, fully-masked docs, docs
    // shorter than the window. The reference below restates the pre-r21
    // rebuild verbatim: posexplode the tokens again, anti-join covered
    // (doc, position) rows, collect_list the kept tokens, join the
    // token-count frame back.
    import graft.ext.TextOps.{toks, ngramsExact, h60}
    val degenerate = Seq(
      (800001L, null: String), (800002L, ""), (800003L, "   \t  "),
      (800004L, "w1 w2 w3")).toDF("doc_id", "text")
    val corpus = docs.select($"doc_id", $"text").unionByName(degenerate)
    val (n, minDocs) = (8, 2)
    val reference = {
      val tk = corpus.select($"doc_id".as("__id"), toks($"text").as("__tk"))
      val occ = tk
        .select($"__id", posexplode_outer(ngramsExact($"__tk", n)).as(Seq("__i", "__ng")))
        .filter($"__ng".isNotNull)
        .select($"__id", $"__i", h60($"__ng").as("__gh"))
        .repartition($"__gh")
      val rep = occ.groupBy($"__gh")
        .agg(countDistinct($"__id").as("__df"))
        .filter($"__df" >= minDocs).select($"__gh")
      val cov = occ.join(rep, Seq("__gh"))
        .select($"__id", explode_outer(sequence($"__i", $"__i" + (n - 1))).as("__p"))
        .filter($"__p".isNotNull).distinct()
      val pos = tk.select($"__id", posexplode_outer($"__tk").as(Seq("__p", "__tok")))
        .filter($"__tok".isNotNull)
      val rebuilt = pos.join(cov, Seq("__id", "__p"), "left_anti")
        .groupBy($"__id")
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(__p, __tok))), e -> e.__tok)"),
          " ").as("clean_text"),
          count(lit(1)).as("n_kept"))
      tk.select($"__id", size($"__tk").cast("long").as("__ntok"))
        .join(rebuilt, Seq("__id"), "left")
        .select($"__id".as("doc_id"),
          coalesce($"clean_text", lit("")).as("clean_text"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          ($"__ntok" - coalesce($"n_kept", lit(0L))).as("n_removed"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"clean_text", $"n_kept",
        $"n_removed".cast("string").as("n_removed")) // null-safe compare
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    val got = rows(DedupOps.maskRepeatedSpans(corpus, "doc_id", "text", n, minDocs))
    val ref = rows(reference)
    assert(got == ref, s"rebuild diverged:\n got=${got.take(8)}\n ref=${ref.take(8)}")
    // the null-text row must keep the old plan's null n_removed arithmetic
    assert(got.find(_._1 == 800001L).exists(r =>
      r._2 == "" && r._3 == 0L && r._4 == null),
      s"null-text row diverged: ${got.find(_._1 == 800001L)}")
  }

  test("simhashPairs banded index equals brute-force all-pairs at the threshold") {
    // pigeonhole exactness: at maxHamming <= bands-1 the band equi-join must
    // surface EXACTLY the pairs an all-pairs hamming scan finds
    val banded = DedupOps.simhashPairs(docs, "doc_id", "text",
        bands = 2, bitsPerBand = 15, maxHamming = 1)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    // any exact banding returns the same pairs — 3x10 must agree with 2x15
    val banded3x10 = DedupOps.simhashPairs(docs, "doc_id", "text",
        bands = 3, bitsPerBand = 10, maxHamming = 1)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == banded3x10)
    val sig = DedupOps.withSimhash(docs.select($"doc_id", $"text"), "text")
      .select($"doc_id", $"simhash")
    val a = sig.select($"doc_id".as("id_a"), $"simhash".as("sa"))
    val b = sig.select($"doc_id".as("id_b"), $"simhash".as("sb"))
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter($"hamming" <= 1)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute)
    assert(banded.nonEmpty, "testdata near-dups must surface (vacuous otherwise)")
  }

  test("60-bit simhash: banded index equals brute force; finer than 30-bit") {
    // the 100 TB fingerprint width: 2x30-bit bands from the unfolded h60
    val banded = DedupOps.simhashPairs(docs, "doc_id", "text",
        bands = 2, bitsPerBand = 30, maxHamming = 1)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val sig = DedupOps.withSimhash(docs.select($"doc_id", $"text"), "text", bits = 60)
      .select($"doc_id", $"simhash")
    val a = sig.select($"doc_id".as("id_a"), $"simhash".as("sa"))
    val b = sig.select($"doc_id".as("id_b"), $"simhash".as("sb"))
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter($"hamming" <= 1)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute)
    // exact-duplicate text has an identical fingerprint at ANY width: a
    // copied doc must surface against its original at hamming 0 (the
    // testdata itself has no byte-identical docs — synthesize one)
    val copied = docs.select($"doc_id", $"text").unionByName(
      docs.filter($"doc_id" === 7L).select(($"doc_id" + 900000L).as("doc_id"), $"text"))
    val withDup = DedupOps.simhashPairs(copied, "doc_id", "text",
        bands = 2, bitsPerBand = 30, maxHamming = 1)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(withDup.contains((7L, 900007L, 0L)))
  }

  test("simhashPairsFromSigs over a persisted signature table equals the inline pairs") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val inline = DedupOps.simhashPairs(d, "doc_id", "text",
        bands = 2, bitsPerBand = 15, maxHamming = 1)
      .as[(Long, Long, Long)].collect().toSet
    // the production shape: d03's withSimhash output (8 bytes/doc — what a
    // 100 TB pipeline stores) round-tripped through parquet, then banded
    val dir = java.nio.file.Files.createTempDirectory("simhash_sigs").toString
    DedupOps.withSimhash(d.select($"doc_id", $"text"), "text", "simhash", 30)
      .select($"doc_id", $"simhash").write.mode("overwrite").parquet(dir)
    val fromTable = DedupOps.simhashPairsFromSigs(
        spark.read.parquet(dir), "doc_id", "simhash",
        bands = 2, bitsPerBand = 15, maxHamming = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromTable == inline,
      "pairs from the persisted signature table must equal inline pairs")
    assert(inline.nonEmpty)
  }

  test("minhash served from persisted posting/hash tables equals the inline computations") {
    // round-13 NEXT #3: d02/d09/d12 now serve persisted relations (the
    // d06 simhashSigTable discipline); parity contract: postings and
    // shingle hashes are integers/strings of integers, so a parquet
    // round-trip must leave every consumer's output bit-identical.
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tmp = java.nio.file.Files.createTempDirectory("minhash_srv")
    // d02 keep flags from a round-tripped posting table ≡ inline
    val postsInline = DedupOps.bandPostings(d.select($"doc_id", $"text"),
      "doc_id", "text", bands = 4, rowsPerBand = 4, shingleLen = 3)
    postsInline.write.mode("overwrite").parquet(s"$tmp/posts")
    val posts = spark.read.parquet(s"$tmp/posts")
    def keepSet(p: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"band", $"bsig")
      p.withColumn("mn", min($"__id").over(w))
        .groupBy($"__id").agg(min($"mn").as("gmin"))
        .select($"__id", when($"gmin" === $"__id", 1L).otherwise(0L).as("kept"))
        .as[(Long, Long)].collect().toSet
    }
    assert(keepSet(posts) == keepSet(postsInline),
      "d02 keep flags from the persisted posting table must equal inline")
    // d09 drop set from filtered shared postings ≡ the two-pass inline form
    val inline09 = DedupOps.dropNearDuplicatesAgainst(
        d.filter($"doc_id" % 20 =!= 0), d.filter($"doc_id" % 20 === 0),
        "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val served09 = DedupOps.dropNearDuplicatesAgainstFromPostings(
        d.filter($"doc_id" % 20 =!= 0),
        posts.filter($"__id" % 20 =!= 0), posts.filter($"__id" % 20 === 0),
        "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(served09 == inline09,
      "d09 survivors from the shared posting table must equal inline")
    // d12 estimates from a round-tripped shingle-hash table ≡ inline
    DedupOps.minhashShingleHashes(d.select($"doc_id", $"text"),
      "doc_id", "text", shingleLen = 3).write.mode("overwrite").parquet(s"$tmp/hs")
    def estRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"n_eq", $"n_inter", $"n_union",
          $"est_sim", $"true_sim")
        .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
        .map(t => t.copy(_6 = java.lang.Double.doubleToRawLongBits(t._6).toDouble,
          _7 = java.lang.Double.doubleToRawLongBits(t._7).toDouble)).toSet
    val inline12 = estRows(DedupOps.minhashEstimates(d, "doc_id", "text"))
    val served12 = estRows(DedupOps.minhashEstimatesFromHashes(
      spark.read.parquet(s"$tmp/hs")))
    assert(served12 == inline12,
      "d12 estimates from the persisted hash table must equal inline (raw bits)")
    assert(inline12.nonEmpty && served09.nonEmpty)
  }

  test("keepBestPerGroup keeps the argmax per component; unpaired rows pass through") {
    val rows = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 1L))
      .toDF("doc_id", "score")
    // components: {1,2,3} (chained), {4} via no pair, 9 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = DedupOps.keepBestPerGroup(rows, "doc_id", "score",
        pairs, "id_a", "id_b")
      .select($"doc_id", $"dup_group", $"score")
      .as[(Long, Long, Long)].collect().toSet
    // group {1,2,3}: scores 10/30/30 — tie between 2 and 3 goes to the
    // LOWER id; group label is the component minimum (1)
    // 4 and 9 are unpaired: survive with their own id as group
    assert(kept == Set((2L, 1L, 30L), (4L, 4L, 5L), (9L, 9L, 1L)))
  }

  test("canonicalizeUrl: case/www/default-port/fragment/tracking/param-order/trailing-slash noise collapses; non-URLs pass through") {
    val cases = Seq(
      // scheme+host case, www, https default port, fragment
      ("HTTPS://WWW.Ex.COM:443/a/b#frag", "https://ex.com/a/b"),
      ("https://ex.com/a/b", "https://ex.com/a/b"),
      // http default port + trailing slashes
      ("http://ex.com:80/c///", "http://ex.com/c"),
      // NON-default port for the scheme is kept
      ("http://ex.com:443/c", "http://ex.com:443/c"),
      // tracking params dropped, survivors sorted
      ("https://ex.com/p?utm_source=x&b=2&a=1", "https://ex.com/p?a=1&b=2"),
      ("https://ex.com/p?a=1&gclid=z&b=2&fbclid=y", "https://ex.com/p?a=1&b=2"),
      // all params tracking -> no query at all
      ("https://ex.com/p?utm_campaign=c", "https://ex.com/p"),
      // utm must be a prefix of the NAME, not a substring
      ("https://ex.com/p?xutm_a=1", "https://ex.com/p?xutm_a=1"),
      // not scheme://host -> unchanged
      ("not a url", "not a url"),
      ("/relative/path", "/relative/path"))
    val got = cases.toDF("url", "want")
      .select(DedupOps.canonicalizeUrl($"url").as("got"), $"want")
      .as[(String, String)].collect()
    got.foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("dedupByCanonicalUrl: variants group, lowest id kept, multiplicity counted") {
    val rows = Seq(
      (1L, "https://ex.com/a"),
      (2L, "HTTPS://WWW.EX.COM:443/a#f"),
      (3L, "https://ex.com/a?utm_source=t"),
      (7L, "https://ex.com/b?b=2&a=1"),
      (8L, "https://ex.com/b?a=1&b=2"),
      (9L, "https://other.com/z")).toDF("doc_id", "url")
    val out = DedupOps.dedupByCanonicalUrl(rows, "doc_id", "url")
      .select($"doc_id", $"canon_url", $"kept", $"n_copies")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, "https://ex.com/a", 1L, 3L),
      (2L, "https://ex.com/a", 0L, 3L),
      (3L, "https://ex.com/a", 0L, 3L),
      (7L, "https://ex.com/b?a=1&b=2", 1L, 2L),
      (8L, "https://ex.com/b?a=1&b=2", 0L, 2L),
      (9L, "https://other.com/z", 1L, 1L)))
  }

  test("semanticDedup drops in-cluster near-identical vectors, keeps the rest") {
    // append exact duplicates of three corpus vectors under higher ids: an
    // exact copy lands in the same k-means cluster, cosine 1.0 >= any
    // threshold, so greedy keep-first must drop exactly the copies
    val dups = embs.filter($"vec_id".isin(3L, 17L, 101L))
      .select(($"vec_id" + 100000L).as("vec_id"), $"label", $"embedding")
    val corpus = embs.select($"vec_id", $"label", $"embedding").unionByName(dups)
    val kept = DedupOps.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.999, nlist = 8, iters = 1)
      .select($"vec_id").as[Long].collect().toSet
    assert(Seq(100003L, 100017L, 100101L).forall(!kept.contains(_)),
      "exact duplicate vectors must be dropped")
    assert(Seq(3L, 17L, 101L).forall(kept.contains), "originals must be kept")
    // determinism: seeded k-means + greedy drop is reproducible
    val again = DedupOps.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.999, nlist = 8, iters = 1)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == again)
    // null-vector rows never enter the pair stage and are retained
    val withNull = corpus.unionByName(
      Seq((200001L, 0, null: Array[Float])).toDF("vec_id", "label", "embedding"))
    val keptNull = DedupOps.semanticDedup(withNull, "vec_id", "embedding",
        threshold = 0.999, nlist = 8, iters = 1)
      .select($"vec_id").as[Long].collect().toSet
    assert(keptNull.contains(200001L))
  }

  test("semanticDedup with nlist = 0 counts the embeddable rows once") {
    // the auto k and the training sample's rate share one count job, so
    // the auto default runs exactly the jobs of the explicit nlist it
    // resolves to (a second count made it one job more)
    val corpus = embs.select($"vec_id", $"embedding")
    val k = DedupOps.semanticDedupNlist(
      corpus.filter($"embedding".isNotNull).count(), targetClusterSize = 16L)
    val sc = spark.sparkContext
    def jobs(nlist: Int): Int = {
      val group = s"semdedup-jobs-$nlist"
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == group))
            n.incrementAndGet(): Unit
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group)
      try {
        // training runs eagerly; the returned frame is never executed
        DedupOps.semanticDedup(corpus, "vec_id", "embedding",
          threshold = 0.999, nlist = nlist, iters = 1, targetClusterSize = 16L)
        drainListenerBus()
        n.get
      } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    }
    val explicit = jobs(k)
    assert(explicit > 0, "training must run jobs")
    assert(jobs(0) == explicit,
      "nlist = 0 must add no job over the explicit k it resolves to")
  }

  test("semanticDedup default k scales with the corpus (round-12 verdict #5)") {
    import DedupOps.semanticDedupNlist
    // floor, proportional region, cap
    assert(semanticDedupNlist(1000L) == 16)
    assert(semanticDedupNlist(4096L * 64) == 64)
    assert(semanticDedupNlist(4096L * 1024) == 1024)
    assert(semanticDedupNlist(1L << 40) == 4096,
      "past the literal-assignment cap, callers pass explicit nlist (s20 pipeline)")
    // k doubles when the corpus doubles: in-cluster pair work stays linear
    assert(semanticDedupNlist(4096L * 128) == 2 * semanticDedupNlist(4096L * 64))
    // targetClusterSize rescales the rule
    assert(semanticDedupNlist(4096L * 64, targetClusterSize = 2048L) == 128)
    // the auto default (nlist = 0) behaves like the pinned-k run on real
    // data: planted exact duplicates drop, originals stay — here the corpus
    // is big enough relative to targetClusterSize that k comes from the
    // scaling rule, not the floor
    val dups = embs.filter($"vec_id".isin(3L, 17L))
      .select(($"vec_id" + 100000L).as("vec_id"), $"label", $"embedding")
    val corpus = embs.select($"vec_id", $"label", $"embedding").unionByName(dups)
    val n = corpus.filter($"embedding".isNotNull).count()
    assert(semanticDedupNlist(n, targetClusterSize = 16L) > 16)
    val kept = DedupOps.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.999, iters = 1, targetClusterSize = 16L)
      .select($"vec_id").as[Long].collect().toSet
    assert(Seq(100003L, 100017L).forall(!kept.contains(_)))
    assert(Seq(3L, 17L).forall(kept.contains))
  }

  test("knnInt8: codes bounded, per-dim error <= step/2, high recall vs exact") {
    val queries = embs.filter($"vec_id" < 20)
    val ranges = Similarity.int8Ranges(embs, "embedding")
    val enc = Similarity.encodeInt8(embs, "embedding", ranges)
    // every code is an 8-bit level
    assert(enc.select(explode($"codes").as("c"))
      .filter($"c" < 0 || $"c" > 255).count() == 0)
    // affine reconstruction: per-dimension |x - dequant(code)| <= step/2
    // (half-up rounding's exact bound) + float-noise epsilon
    val viol = enc
      .withColumn("__y", expr(
        """transform(codes, (c, i) ->
          |  element_at(q_min, i+1) + CAST(c AS DOUBLE) *
          |  (element_at(q_max, i+1) - element_at(q_min, i+1)) / 255.0)""".stripMargin))
      .withColumn("__excess", expr(
        """aggregate(zip_with(
          |  zip_with(transform(embedding, x -> CAST(x AS DOUBLE)), __y,
          |           (a, b) -> abs(a - b)),
          |  zip_with(q_max, q_min, (a, b) -> (a - b) / 255.0),
          |  (e, s) -> e - s / 2), 0D, (acc, v) -> greatest(acc, v))""".stripMargin))
      .filter($"__excess" > 1e-9).count()
    assert(viol == 0, "reconstruction error exceeded step/2 on some dimension")
    // constant dimensions encode as code 0 and reconstruct exactly
    val const = Seq((1L, Array(1.0f, 5.0f)), (2L, Array(2.0f, 5.0f)),
      (3L, Array(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val cenc = Similarity.encodeInt8(const, "embedding",
      Similarity.int8Ranges(const, "embedding"))
    assert(cenc.select(element_at($"codes", 2)).as[Int].collect().forall(_ == 0))
    // out-of-calibration values saturate at the code-domain edges instead
    // of overflowing (a query vector beyond the corpus min/max)
    val oob = Similarity.encodeInt8(
      Seq((9L, Array(99.0f, 5.0f)), (10L, Array(-99.0f, 5.0f)))
        .toDF("vec_id", "embedding"),
      "embedding", Similarity.int8Ranges(const, "embedding"))
      .select($"vec_id", element_at($"codes", 1)).as[(Long, Int)].collect().toMap
    assert(oob == Map(9L -> 255, 10L -> 0))
    // 256-level quantization barely moves 64-dim cosines: recall@5 vs exact
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val q8 = Similarity.knnInt8(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      (q8.getOrElse(q, Set.empty[Long]) & brute(q)).size.toDouble / brute(q).size
    }
    assert(recall.sum / recall.size > 0.9,
      s"int8 recall@5 too low: ${recall.sum / recall.size}")
  }

  test("dedupLines keeps only the globally first occurrence of each line") {
    val d = Seq(
      (1L, "alpha beta\nshared line\ngamma"),
      (2L, "shared line\ndelta\nshared line"), // cross-doc AND within-doc dup
      (3L, "\n\n"),                            // empty lines only -> empty doc
      (4L, "unique here")).toDF("doc_id", "text")
    val got = DedupOps.dedupLines(d, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "alpha beta\nshared line\ngamma", 3L, 0L),
      (2L, "delta", 1L, 2L),
      (3L, "", 0L, 0L),
      (4L, "unique here", 1L, 0L)), s"got $got")
  }

  test("minhashEstimates: hand-checked sketch estimate and exact Jaccard per pair") {
    // Two heavily-overlapping docs (one word changed near the end) plus one
    // unrelated doc: the overlapping pair must surface as an LSH candidate
    // with est_sim = n_eq/16 and true_sim = |inter|/|union| computed by hand
    // from the shingle sets; the unrelated doc must pair with nothing.
    val words = (1 to 100).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.dropRight(2) :+ "CHANGED" :+ words.last).mkString(" ")
    val other = (1 to 100).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, other)).toDF("doc_id", "text")
    val out = DedupOps.minhashEstimates(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(!out.keySet.exists { case (x, y) => x == 3L || y == 3L },
      "unrelated doc must not enter any band bucket")
    out.get((1L, 2L)).foreach { case (nEq, nInter, nUnion, est, truth) =>
      // exact Jaccard from the shingle-set definition (3-shingles with
      // shorter tails, per-doc distinct): docs differ only at one interior
      // position, so exactly the <= 3 shingles touching it differ
      def shs(toks: Seq[String]) =
        (1 to toks.size).map(i => toks.slice(i - 1, i + 2).mkString(" ")).toSet
      val (sa, sb) = (shs(words), shs(words.dropRight(2) :+ "CHANGED" :+ words.last))
      val (i, u) = ((sa & sb).size.toLong, (sa | sb).size.toLong)
      assert(nInter == i && nUnion == u, s"exact sets: got ($nInter,$nUnion), want ($i,$u)")
      assert(math.abs(truth - (i.toDouble / u + 1e-9)) < 5e-5)
      assert(est == math.rint((nEq / 16.0 + 1e-9) * 1e4) / 1e4)
      assert(nEq >= 1 && nEq <= 16)
    }
    // the pair (1,2) shares >= 1 full band by construction of the test data
    // (97 of 100 shingles identical, J ~= 0.94 -> P[>=1 band] ~= 0.998, and
    // the md5 hashing is deterministic); if LSH missed it the estimate audit
    // has no subject — fail loudly rather than vacuously pass
    assert(out.contains((1L, 2L)), "expected near-identical pair as LSH candidate")
  }

  test("kmeansFit converges on planted clusters; deterministic across partitionings") {
    // Two tight planted clusters; init = the 2 lowest ids (one in each
    // cluster by construction), so one Lloyd round already separates them.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (2L, Seq(0.2f, 0.0f)), (4L, Seq(0.0f, 0.2f)),
      (1L, Seq(10.0f, 10.0f)), (3L, Seq(10.2f, 10.0f)), (5L, Seq(10.0f, 10.2f)))
      .toDF("vec_id", "v")
    val outs = Seq(1, 3, 6).map { p =>
      val cents = Similarity.kmeansFit(pts.repartition(p), "vec_id", "v", k = 2, iters = 2)
      cents.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
    assert(outs.tail.forall(_ == outs.head),
      "centroids differ bit-wise across input partitionings")
    val assign = Similarity.kmeansAssign(pts, "vec_id", "v",
      Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 2))
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(Set(0L, 2L, 4L).map(assign) == Set(0L) &&
      Set(1L, 3L, 5L).map(assign) == Set(1L),
      s"planted clusters not separated: $assign")
  }

  test("kmeansFitSpherical: clusters by DIRECTION where plain k-means splits by magnitude; unit centroids; deterministic") {
    // Two planted DIRECTIONS (x-ish ids 0-2, y-ish ids 3-5) with one huge-
    // magnitude member (id 2 at ~100x). Plain Lloyd on the raw vectors
    // converges to {the big vector} vs {everything else} — magnitude wins;
    // spherical must recover the directions.
    val pts = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.05f)), (2L, Seq(100.0f, 1.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.05f, 0.9f)), (5L, Seq(0.02f, 1.1f)))
      .toDF("vec_id", "v")
    val cents = Similarity.kmeansFitSpherical(pts, "vec_id", "v", k = 2, iters = 2)
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12, s"centroid not unit-norm: $n")
    }
    // raw-vector assignment against unit centroids is direction-correct:
    // argmin d2 = argmax v·c when every c is unit (the ||v||² term is
    // constant per row)
    val sph = Similarity.kmeansAssign(pts, "vec_id", "v", cents)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(Set(0L, 1L, 2L).map(sph).size == 1 && Set(3L, 4L, 5L).map(sph).size == 1 &&
      sph(0L) != sph(3L), s"spherical must cluster by direction: $sph")
    val plain = Similarity.kmeansAssign(pts, "vec_id", "v",
      Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 2))
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(plain(2L) != plain(0L),
      s"precondition: plain k-means splits the big vector off by magnitude: $plain")
    // determinism: bit-identical centroids at 1/3/6 input partitions
    val outs = Seq(1, 3, 6).map { p =>
      Similarity.kmeansFitSpherical(pts.repartition(p), "vec_id", "v", k = 2, iters = 2)
        .map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
    assert(outs.tail.forall(_ == outs.head),
      "spherical centroids differ bit-wise across input partitionings")
  }

  test("kmeansFitSpherical: a zero-norm member mean keeps the previous centroid (no NaN poisoning)") {
    // Adversarial antipodal symmetry: with k=1 the two opposite unit
    // vectors land in one cluster whose mean is the exact zero vector —
    // unguarded renormalization divides 0/0 and every later assignment
    // is NaN. The guard keeps the previous centroid (round-14 ADVICE #3).
    val pts = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "v")
    val cents = Similarity.kmeansFitSpherical(pts, "vec_id", "v", k = 1, iters = 3)
    assert(cents.forall(_.forall(x => !x.isNaN)),
      s"zero-mean cluster must not yield NaN centroids: ${cents.map(_.toSeq)}")
    // the kept centroid is the initial one: the lowest-id unit vector
    assert(cents.head.toSeq == Seq(1.0, 0.0),
      s"guard must keep the previous centroid: ${cents.head.toSeq}")
  }

  test("topComponentFit recovers a planted dominant direction; projections separate along it") {
    // variance planted along the x-axis (spread -4..4) dwarfs the y-jitter
    // (±0.2): the fitted top component must align with x, and projections
    // must order the points by their x coordinate
    val pts = Seq(
      (0L, Seq(-4.0f, 0.1f)), (1L, Seq(-2.0f, -0.2f)), (2L, Seq(-1.0f, 0.2f)),
      (3L, Seq(1.0f, -0.1f)), (4L, Seq(2.0f, 0.2f)), (5L, Seq(4.0f, -0.2f)))
      .toDF("vec_id", "v")
    val (mu, v) = Similarity.topComponentFit(pts, "vec_id", "v")
    assert(math.abs(mu(0)) < 1e-9 && math.abs(mu(1)) < 0.05,
      s"mean ~ origin: ${mu.toSeq}")
    assert(math.abs(v(0)) > 0.99, s"component must align with x: ${v.toSeq}")
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-12,
      "component must be unit-norm")
    // determinism across input partitionings (the collect is id-sorted)
    val (_, v3) = Similarity.topComponentFit(pts.repartition(3), "vec_id", "v")
    assert(v.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      v3.toSeq.map(java.lang.Double.doubleToRawLongBits),
      "fit must be bit-deterministic across partitionings")
    // projections (x - mu)·v order the points along the planted axis
    val sgn = math.signum(v(0))
    val proj = pts.collect().map(r => (r.getLong(0),
      sgn * ((r.getSeq[Float](1)(0) - mu(0)) * v(0) +
        (r.getSeq[Float](1)(1) - mu(1)) * v(1)))).sortBy(_._2).map(_._1).toSeq
    assert(proj == Seq(0L, 1L, 2L, 3L, 4L, 5L),
      s"projection order must follow the planted axis: $proj")
  }

  test("topComponentFit: the driver-collect bound is self-enforcing (round-17 verdict #4)") {
    val pts = (0 until 10).map(i =>
      (i.toLong, Seq(i.toFloat, 0.1f * i))).toDF("vec_id", "v")
    // over the cap -> FAIL, never silently truncate (truncation would
    // change the fitted component under the caller's named sample)
    val boom = intercept[IllegalArgumentException] {
      Similarity.topComponentFit(pts, "vec_id", "v", maxSample = 9)
    }
    assert(boom.getMessage.contains("maxSample"))
    // at the cap exactly: fits, bit-identical to the unbounded default
    val (mu, v) = Similarity.topComponentFit(pts, "vec_id", "v", maxSample = 10)
    val (mu2, v2) = Similarity.topComponentFit(pts, "vec_id", "v")
    assert(mu.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      mu2.toSeq.map(java.lang.Double.doubleToRawLongBits) &&
      v.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
        v2.toSeq.map(java.lang.Double.doubleToRawLongBits),
      "the bound must not perturb an in-bound fit")
  }

  test("removeTopComponent kills the dominant direction; off-axis signal survives") {
    val pts = Seq(
      (0L, Seq(-4.0f, 0.1f)), (1L, Seq(-2.0f, -0.2f)), (2L, Seq(-1.0f, 0.2f)),
      (3L, Seq(1.0f, -0.1f)), (4L, Seq(2.0f, 0.2f)), (5L, Seq(4.0f, -0.2f)))
      .toDF("vec_id", "v")
    val (mu, v) = Similarity.topComponentFit(pts, "vec_id", "v")
    val out = Similarity.removeTopComponent(pts, "vec_id", "v", mu, v)
      .select($"vec_id", $"v").as[(Long, Seq[Double])].collect().toMap
    // every transformed vector is orthogonal to the removed component
    out.values.foreach { x =>
      val proj = x.zip(v).map { case (a, b) => a * b }.sum
      assert(math.abs(proj) < 1e-9, s"residual must be orthogonal: $proj")
    }
    // the x-spread collapses (was -4..4) while the y-jitter survives
    val xs = out.values.map(_.head).toSeq
    assert(xs.forall(x => math.abs(x) < 0.2),
      s"dominant-axis coordinates must collapse: $xs")
    val ys = out.values.map(_(1))
    assert(ys.exists(y => math.abs(y) > 0.05),
      s"off-axis signal must survive: ${ys.toSeq}")
    // schema contract: vecCol replaced in place, other columns untouched
    assert(out.keySet == (0L to 5L).toSet)
  }

  test("ABTT retrieval: planted-common-direction corpus ranks signal neighbors better after the transform") {
    import org.apache.spark.sql.expressions.Window
    // Mu & Viswanath 2018's setting, synthesized deterministically: every
    // vector = alpha_i * e0 + signal_i, where the common-direction
    // coefficient alpha_i varies over [1, 19] (the top-variance axis the
    // power iteration must find) UNCORRELATED with the signal, and
    // signal_i lives on dims 1..7 (hash-mixed pseudo-random in [-1, 1]).
    // Ground truth is the brute cosine top-3 in the SIGNAL subspace. Raw
    // cosine is dominated by the alpha products/norms, so its ranking
    // disagrees with the signal truth; removeTopComponent strips e0 and
    // recovers it — the published retrieval improvement, pinned.
    def h(i: Int, d: Int): Double = {
      var x = i * 2654435761L ^ d * 0x9E3779B97F4A7C15L
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      (x & 0xffffL).toDouble / 0xffffL.toDouble * 2.0 - 1.0
    }
    val dim = 8
    val data = (0 until 40).map { i =>
      val v = Array.fill(dim)(0.0)
      v(0) = 10.0 + 9.0 * h(i, 99)
      for (d <- 1 until dim) v(d) = h(i, d)
      (i.toLong, v.toSeq.map(_.toFloat))
    }
    val pts = data.toDF("vec_id", "v")
    val sig = data.map { case (i, v) => (i, v.drop(1)) }.toDF("vec_id", "v")
    def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val e = df.select($"vec_id",
          transform($"v", x => x.cast("double")).as("vv"))
        .withColumn("nrm", graft.functions.VectorExprs.l2($"vv"))
      val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
      e.select($"vec_id".as("qid"), $"vv".as("qv"), $"nrm".as("qn"))
        .join(e, $"qid" =!= $"vec_id")
        .withColumn("cos6", round(
          graft.functions.VectorExprs.dot($"qv", $"vv") / ($"qn" * $"nrm"), 6))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3).select($"qid", $"vec_id")
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (k, a) => k -> a.map(_._2).toSet }
    }
    val truth = top3(sig)
    def recall(m: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        (t intersect m.getOrElse(q, Set())).size / 3.0 }.sum / truth.size
    val raw = recall(top3(pts))
    val (mu, v) = Similarity.topComponentFit(pts, "vec_id", "v")
    assert(math.abs(v(0)) > 0.99,
      s"fit must find the planted common direction: ${v.toSeq}")
    val abtt = recall(top3(
      Similarity.removeTopComponent(pts, "vec_id", "v", mu, v)))
    assert(raw < 0.7, s"raw cosine must be confounded by the common direction: $raw")
    assert(abtt > 0.85, s"ABTT must recover the signal ranking: $abtt")
    assert(abtt > raw + 0.25, s"transform must improve retrieval: $raw -> $abtt")
  }

  test("s02 multi-probe: probed recall dominates exact-bucket recall per query and lifts the mean") {
    // the probe list contains the exact bucket (mask 0), so the probed
    // candidate set is a superset per query — recall can only improve
    val rows = SparkEntry.queries("s33_ann_probe_gain")(spark, dir)
      .as[(Long, Double, Double)].collect()
    assert(rows.length == 20)
    rows.foreach { case (q, ex, pr) =>
      assert(pr >= ex, s"query $q: probed recall $pr < exact $ex")
    }
    val (meanEx, meanPr) = (rows.map(_._2).sum / 20, rows.map(_._3).sum / 20)
    assert(meanPr > meanEx + 0.2,
      s"probing must lift mean recall@5 substantially: $meanEx -> $meanPr")
    // round-17 done condition (verdict #1): the budgeted margin-ordered
    // family at the S02TargetRecall = 0.8 target must hit mean
    // recall@5 >= 0.7 at the gate scales (measured 0.81 at sf0.001,
    // 0.82 at sf0.01 — the analytic model said 0.80 at budget 148)
    assert(meanPr >= 0.7,
      s"tuned probe budget must reach the 0.7 recall floor: $meanPr")
  }

  test("kCenterPicks: farthest-point traversal covers the extremes before densifying") {
    // a tight blob at the origin (ids 0..9) plus three distant outposts:
    // k-center must pick the start (lowest id) then ALL THREE outposts —
    // by decreasing distance — before any second blob member (the
    // coverage-vs-density contrast with coresetSample, which picks
    // nearest-to-centroid representatives)
    val blob = (0L to 9L).map(i =>
      (i, Seq((i % 3).toFloat * 0.01f, (i % 2).toFloat * 0.01f)))
    val outposts = Seq(
      (100L, Seq(10.0f, 0.0f)), (101L, Seq(0.0f, 20.0f)),
      (102L, Seq(-30.0f, -30.0f)))
    val pts = (blob ++ outposts).toDF("vec_id", "v")
    val picks = Similarity.kCenterPicks(pts, "vec_id", "v", k = 4)
    assert(picks.map(_._1) == Seq(0L, 102L, 101L, 100L),
      s"start at the lowest id, then outposts by decreasing distance: " +
        s"${picks.map(_._1)}")
    // assignment: every blob point lands on center 0, outposts on themselves
    val asg = Similarity.kmeansAssign(pts, "vec_id", "v", picks.map(_._2))
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    (0L to 9L).foreach(i => assert(asg(i) == 0L, s"blob $i -> ${asg(i)}"))
    assert(asg(102L) == 1L && asg(101L) == 2L && asg(100L) == 3L)
    // determinism across partitionings (the argmax is a global TakeOrdered)
    val picks3 = Similarity.kCenterPicks(pts.repartition(3), "vec_id", "v", k = 4)
    assert(picks3.map(_._1) == picks.map(_._1))
  }

  test("kCenterPicks guards: empty input fails fast; k past the distinct points stops instead of duplicating (ADVICE r16 #4)") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "v")
    val ex = intercept[IllegalArgumentException] {
      Similarity.kCenterPicks(empty, "vec_id", "v", k = 2)
    }
    assert(ex.getMessage.contains("empty"), ex.getMessage)
    // two distinct points (one duplicated): k = 5 must return exactly 2
    // picks — the argmax score hits 0 once every point coincides with a
    // pick, and continuing would only re-pick duplicates
    val pts = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f))).toDF("vec_id", "v")
    val picks = Similarity.kCenterPicks(pts, "vec_id", "v", k = 5)
    assert(picks.map(_._1) == Seq(0L, 1L), s"got ${picks.map(_._1)}")
  }

  test("clusterQuality: tight well-separated clusters score near-1 silhouette; counts and inertia check out") {
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (2L, Seq(0.2f, 0.0f)), (4L, Seq(0.0f, 0.2f)),
      (1L, Seq(10.0f, 10.0f)), (3L, Seq(10.2f, 10.0f)), (5L, Seq(10.0f, 10.2f)))
      .toDF("vec_id", "v")
    val cents = Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 2)
    val q = Similarity.clusterQuality(pts, "vec_id", "v", cents)
      .select($"cluster", $"n", $"inertia", $"mean_sil")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(q.map(_._2) == Seq(3L, 3L), s"3 members per planted cluster: $q")
    // members are ~0.19 from their own centroid and ~14 from the other:
    // simplified silhouette ≈ 1 − 0.19/14; inertia per cluster is the
    // within-cluster square sum (2/3 · 0.04 · 2 ≈ 0.0533)
    assert(q.forall(_._4 > 0.95), s"well-separated clusters must score near 1: $q")
    assert(q.forall(r => r._3 > 0.0 && r._3 < 0.1), s"inertia out of range: $q")
    // the own-centroid distance aggregated here is the one kmeansAssign
    // emits: per-cluster inertia ≈ Σ dist2 (both sides 4-digit rounded)
    val byAssign = Similarity.kmeansAssign(pts, "vec_id", "v", cents)
      .groupBy($"cluster").agg(sum($"dist2").as("s"))
      .select($"cluster", $"s").as[(Long, Double)].collect().toMap
    q.foreach { r =>
      assert(math.abs(r._3 - byAssign(r._1)) < 1e-3,
        s"inertia disagrees with the assignment distances: $q vs $byAssign")
    }
    intercept[IllegalArgumentException] {
      Similarity.clusterQuality(pts, "vec_id", "v", cents.take(1))
    }
  }

  test("kmeansFitPp: ++ init separates clusters the lowest-id seeds all miss; deterministic across partitionings") {
    // All four lowest ids (0-3) sit in planted cluster A; B has only
    // higher ids. Lowest-id init with k=2 seeds BOTH centroids inside A —
    // one Lloyd round must then split A while B's members drag one
    // centroid over. The ++ md5-race picks the second seed by max
    // D²·weight, which lands in B (every B point is far from seed 0 while
    // A points have near-zero D²), so even ZERO Lloyd rounds separate the
    // planted clusters.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.2f, 0.0f)), (2L, Seq(0.0f, 0.2f)),
      (3L, Seq(0.2f, 0.2f)),
      (10L, Seq(10.0f, 10.0f)), (11L, Seq(10.2f, 10.0f)), (12L, Seq(10.0f, 10.2f)))
      .toDF("vec_id", "v")
    val cents = Similarity.kmeansFitPp(pts, "vec_id", "v", k = 2, iters = 0)
    val assign = Similarity.kmeansAssign(pts, "vec_id", "v", cents)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(Set(0L, 1L, 2L, 3L).map(assign).size == 1 &&
      Set(10L, 11L, 12L).map(assign).size == 1 &&
      assign(0L) != assign(10L),
      s"++ init must separate the planted clusters with zero Lloyd rounds: $assign")
    // determinism: bit-identical centroids at 1/3/6 input partitions
    val outs = Seq(1, 3, 6).map { p =>
      Similarity.kmeansFitPp(pts.repartition(p), "vec_id", "v", k = 2, iters = 2)
        .map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
    assert(outs.tail.forall(_ == outs.head),
      "++ centroids differ bit-wise across input partitionings")
  }

  test("d15 deterministic SemDeDup: survivors carry NO intra-cluster pair above threshold; drops non-vacuous") {
    // The operator's guarantee: after dropping the higher id of every
    // within-cluster pair at cosine >= t, no surviving pair can violate t
    // inside a cluster (a violating pair's higher id would be in the drop
    // set). Re-checking the survivors against the SAME pair machinery
    // must find nothing.
    val e = Tables.load(spark, dir, "embeddings")
    val out = graft.ext.Dedup.d15SemanticDedup(spark, dir)
    val nAll = e.count(); val nSurv = out.count()
    assert(nSurv < nAll && nSurv > 0, s"drops must be non-vacuous: $nSurv of $nAll")
    val viol = DedupOps.cosinePairs(e.join(out, Seq("vec_id")),
      "vec_id", "embedding", "cluster", 0.35)
    assert(viol.isEmpty,
      s"survivors still contain near-dup pairs: ${viol.collect().mkString(",")}")
  }

  test("kmeansFitParallel: one oversampled round separates planted clusters; deterministic across partitionings") {
    // Same planted layout as the ++ test (all low ids in cluster A). One
    // race round with l = 2 must surface at least one far (cluster-B)
    // candidate — B points carry D² ≈ 200 vs A's ≤ 0.08 into the md5 race
    // — and the weighted reduction then separates the planted clusters.
    // One corpus pass for the batch vs k−1 sequential passes for ++: the
    // 100 TB init shape.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.2f, 0.0f)), (2L, Seq(0.0f, 0.2f)),
      (3L, Seq(0.2f, 0.2f)),
      (10L, Seq(10.0f, 10.0f)), (11L, Seq(10.2f, 10.0f)), (12L, Seq(10.0f, 10.2f)))
      .toDF("vec_id", "v")
    val cents = Similarity.kmeansFitParallel(pts, "vec_id", "v",
      k = 2, rounds = 1, l = 2, candIters = 2)
    val assign = Similarity.kmeansAssign(pts, "vec_id", "v", cents)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(Set(0L, 1L, 2L, 3L).map(assign).size == 1 &&
      Set(10L, 11L, 12L).map(assign).size == 1 &&
      assign(0L) != assign(10L),
      s"k-means‖ must separate the planted clusters: $assign")
    val outs = Seq(1, 3, 6).map { p =>
      Similarity.kmeansFitParallel(pts.repartition(p), "vec_id", "v",
        k = 2, rounds = 1, l = 2, candIters = 2)
        .map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
    assert(outs.tail.forall(_ == outs.head),
      "k-means‖ centroids differ bit-wise across input partitionings")
  }

  test("kmeansFitParallelRefined: refinement never increases inertia; planted clusters separate") {
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.2f, 0.0f)), (2L, Seq(0.0f, 0.2f)),
      (3L, Seq(0.2f, 0.2f)),
      (10L, Seq(10.0f, 10.0f)), (11L, Seq(10.2f, 10.0f)), (12L, Seq(10.0f, 10.2f)))
      .toDF("vec_id", "v")
    def inertia(cents: Seq[Array[Double]]): Double =
      Similarity.kmeansAssign(pts, "vec_id", "v", cents)
        .agg(sum($"dist2")).head.getDouble(0)
    val init = Similarity.kmeansFitParallel(pts, "vec_id", "v",
      k = 2, rounds = 1, l = 2, candIters = 1)
    val refined = Similarity.kmeansFitParallelRefined(pts, "vec_id", "v",
      k = 2, rounds = 1, l = 2, candIters = 1, refineIters = 2)
    // Lloyd monotonicity: each assignment+mean round can only lower the
    // within-cluster squared distance (up to rounding in dist2)
    assert(inertia(refined) <= inertia(init) + 1e-6,
      s"refinement increased inertia: ${inertia(init)} -> ${inertia(refined)}")
    val assign = Similarity.kmeansAssign(pts, "vec_id", "v", refined)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(Set(0L, 1L, 2L, 3L).map(assign).size == 1 &&
      Set(10L, 11L, 12L).map(assign).size == 1 &&
      assign(0L) != assign(10L),
      s"refined pipeline must separate the planted clusters: $assign")
  }

  test("kmeansFitWeighted: uniform weights equal kmeansFit bit-wise; heavy weight pulls the centroid") {
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (2L, Seq(0.2f, 0.0f)), (4L, Seq(0.0f, 0.2f)),
      (1L, Seq(10.0f, 10.0f)), (3L, Seq(10.2f, 10.0f)), (5L, Seq(10.0f, 10.2f)))
      .toDF("vec_id", "v")
    // w = 1.0 everywhere: numerator multiplies by 1.0 (IEEE-exact) and the
    // denominator folds 1.0s to exactly n — bit-identical to the
    // unweighted fit
    val uni = Similarity.kmeansFitWeighted(pts.withColumn("w", lit(1.0d)),
      "vec_id", "v", "w", k = 2, iters = 2)
    val plain = Similarity.kmeansFit(pts, "vec_id", "v", k = 2, iters = 2)
    assert(uni.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq) ==
      plain.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq),
      "uniform weights must reproduce the unweighted centroids bit-wise")
    // weight 100 on the far corner of cluster B drags B's centroid to it
    val w = pts.withColumn("w",
      when($"vec_id" === 3L, lit(100.0d)).otherwise(lit(1.0d)))
    val heavy = Similarity.kmeansFitWeighted(w, "vec_id", "v", "w", k = 2, iters = 2)
    val bIdx = heavy.indices.maxBy(i => heavy(i)(0)) // B lives near x=10
    assert(math.abs(heavy(bIdx)(0) - 10.2) < 0.01,
      s"weight-100 member must dominate its centroid: ${heavy(bIdx).toSeq}")
    assert(math.abs(plain(plain.indices.maxBy(i => plain(i)(0)))(0) - 10.2) > 0.01,
      "sanity: the unweighted centroid must NOT sit on the heavy point")
  }

  test("knnTruncated: covering refine equals brute force; prefix-16 recall stays useful") {
    val queries = embs.filter($"vec_id" < 20)
    val brute = DedupOps.knn(embs, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // refine*k >= corpus: stage 1 keeps everything, the exact rerank makes
    // the result brute-force REGARDLESS of the prefix quality
    val cover = Similarity.knnTruncated(embs, queries, "vec_id", "embedding",
        k = 5, dPrefix = 4, refine = 200)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(cover == brute,
      "covering-refine truncated search must equal brute force")
    // production shape (the s18 oracle configuration, 16-of-64 prefix,
    // refine 10): recall floor is modest BY CONSTRUCTION — the synthetic
    // embeddings are not MRL-trained, so the prefix carries only its
    // proportional share of the signal; real Matryoshka embeddings
    // concentrate it (that is the operator's point). The covering
    // assertion above is the correctness contract; this pins the plumbing
    // recalls usefully even on structure-free vectors.
    val approx = Similarity.knnTruncated(embs, queries, "vec_id", "embedding",
        k = 5, dPrefix = 16, refine = 10)
      .select($"query_id", $"id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      (approx.getOrElse(q, Set.empty[Long]) & brute(q)).size.toDouble / brute(q).size
    }
    assert(recall.sum / recall.size > 0.3,
      s"mean truncated recall@5 too low: ${recall.sum / recall.size}")
  }

  test("cdcChunkStats: exact copies fully duplicated; chunking is insertion-robust") {
    // Deterministic pseudo-random base text (~800 chars -> ~12 chunks at
    // divisor 64). Doc 2 = byte-identical copy (dup_frac 1.0 both ways);
    // doc 3 = the same text with a short PREFIX INSERTION — boundaries
    // re-align at the first content-defined boundary past the edit, so all
    // but the first couple of chunks must still deduplicate against doc 1
    // (the property fixed-size chunking loses at the first inserted byte);
    // doc 4 shares nothing.
    val rnd = new scala.util.Random(42)
    val base = (1 to 800).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val other = (1 to 800).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    val df = Seq((1L, base), (2L, base), (3L, "XYZ!" + base), (4L, other))
      .toDF("doc_id", "text")
    val out = DedupOps.cdcChunkStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 == 1.0 && out(2L)._4 == 1.0,
      s"exact copies must be fully duplicated: ${out(1L)} ${out(2L)}")
    val (_, n3, dup3, _) = out(3L)
    assert(n3 > 5, s"expected several chunks, got $n3")
    assert(dup3 >= n3 - 2 && dup3 > 0,
      s"insertion must only disturb the chunks around the edit: $dup3 of $n3 duplicated")
    assert(out(4L)._3 == 0L, s"unrelated doc shares nothing: ${out(4L)}")
  }

  test("cdcChunkStats: empty and null text yield 0 chunks, no crash") {
    // Regression (round-11 ADVICE): empty __bounds made sequence(1, 0)
    // DESCEND through index 0 and element_at(…, 0) threw "SQL array
    // indices start at 1". These rows must come back 0-chunk / 0.0 —
    // matching the DuckDB twin, which emits no chunk rows for them.
    val df = Seq((1L, "some real content here to chunk normally some real content"),
      (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = DedupOps.cdcChunkStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 3, s"every input row must survive: $out")
    assert(out(1L)._2 > 0, s"non-empty doc must chunk: ${out(1L)}")
    Seq(2L, 3L).foreach { id =>
      assert(out(id) == ((id, 0L, 0L, 0.0)),
        s"degenerate doc $id must be 0-chunk: ${out(id)}")
    }
  }

  test("containmentPairs: subset doc hits 1.0 one-way where Jaccard stays low") {
    // B = A plus a long unique suffix: every shingle of A appears in B
    // (the first |A| window positions are identical), so C(A->B) = 1.0
    // while Jaccard = |A|/|B| is small; the reverse direction must NOT
    // report contained. An unrelated doc pairs with nothing at 0.8.
    val aw = (1 to 10).map(i => s"w$i")
    val bw = aw ++ (1 to 40).map(i => s"x$i")
    val df = Seq((1L, aw.mkString(" "), "en"), (2L, bw.mkString(" "), "en"),
      (3L, (1 to 30).map(i => s"z$i").mkString(" "), "en")).toDF("doc_id", "text", "lang")
    val out = DedupOps.containmentPairs(df, "doc_id", "text", "lang", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out.keySet == Set((1L, 2L)), s"pairs: ${out.keySet}")
    val (i, na, nb, aInB, bInA) = out((1L, 2L))
    // A emits 10 shingle windows; 8 are interior-identical in B, the last
    // two tail windows of A ("w9 w10", "w10") continue into x1 x2 in B —
    // but shinglesN keeps SHORTER TAILS only at the end of the doc, so
    // those two differ: inter = 8, |A| = 10 -> C(A->B) = 0.8 exactly
    assert(na == 10L && i == 8L && aInB == 0.8, s"got i=$i na=$na aInB=$aInB")
    assert(nb == 50L && bInA < 0.5, s"got nb=$nb bInA=$bInA")
  }

  test("saltedJoin returns exactly the unsalted join result") {
    val li = Tables.load(spark, dir, "lineitem").select($"l_orderkey", $"l_quantity")
    val o = Tables.load(spark, dir, "orders").select($"o_orderkey", $"o_totalprice")
    val salted = Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", salt = 7)
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("q"))
    val plain = li.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("q"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("simhashPairsAcross: the union over any ingestion split equals simhashPairsFromSigs") {
    // the incremental-maintenance contract, tested DIRECTLY: every pair's
    // later endpoint's batch generates it, with identical hamming values
    val sigs = DedupOps.withSimhash(docs.select($"doc_id", $"text"),
      "text", "simhash", 30).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"hamming")
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val full = rows(DedupOps.simhashPairsFromSigs(sigs, "doc_id", "simhash"))
    assert(full.nonEmpty, "witness corpus must have near-dup pairs")
    for (k <- Seq(2, 3)) {
      val slices = (0 until k).map(i => sigs.filter($"doc_id" % k === i))
      val incremental = (0 until k).flatMap { b =>
        val seen = slices.take(b + 1).reduce(_ unionByName _)
        rows(DedupOps.simhashPairsAcross(slices(b), seen,
          "doc_id", "simhash"))
      }.sortBy(t => (t._1, t._2))
      assert(incremental == full, s"$k-way split must reproduce the batch pairs")
    }
  }

  test("ivfKnnAuto: a target forcing full probe equals brute force; defaults derive the documented config") {
    val e = Tables.loadSpread(spark, dir, "embeddings")
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"id")
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    // targetRecall = 1.0 is legal (full probe is exact) and must derive
    // nprobe = nlist: the candidate set is the whole corpus, so the
    // result equals full-probe ivfKnn (itself oracle-proven ≡ brute, s03)
    assert(graft.ext.LshTuning.ivfNprobe(1.0, 8) == 8)
    val auto = Similarity.ivfKnnAuto(e, q, "vec_id", "embedding", k = 5,
      targetRecall = 1.0, nlist = 8)
    val full = Similarity.ivfKnn(e, q, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 8)
    assert(rows(auto) == rows(full),
      "a full-probe-deep target must reproduce the exact result")
    // the default nlist rule is the d18 sizing; the derived nprobe meets
    // the model target (LshTuningSpec pins the rule itself)
    assert(graft.ext.DedupOps.semanticDedupNlist(500L) == 16)
    assert(graft.ext.LshTuning.ivfNprobe(0.95, 16) == 14)
  }
}
