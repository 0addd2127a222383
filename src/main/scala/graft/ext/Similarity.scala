package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import TextOps._

/** Approximate/exact nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim). LLM-pipeline extension (SURVEY.md §2.8 scope).
  *
  * Scale design: the query set is tiny and is explicitly `broadcast()` so the
  * candidate side — the 100 TB side — streams through map tasks without any
  * shuffle; only the per-query top-k rows (k × |queries|) reach the final
  * exchange. The ANN variant prunes candidates to an LSH bucket first, which
  * is the path that stays fast when the corpus no longer fits a broadcast
  * join's build side.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Random-hyperplane count and signature width (8 bits → 256 buckets). */
  private val NPlanes = 8
  private val Dim = 64

  /** Deterministic pseudo-random hyperplanes derived from md5 — identical to
    * the DuckDB oracle's `(md5('hp:j:d')-based % 2001 - 1000)/1000.0`.
    * Computed once driver-side and folded into the plan as literals. */
  private[ext] def hyperplane(j: Int, dim: Int = Dim): Seq[Double] =
    (0 until dim).map(d => ((h60Local(s"hp:$j:$d") % 2001L) - 1000L) / 1000.0)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  // native codegen'd dot product (graft.functions.DotProduct) — the HOF
  // fold form is CodegenFallback and breaks whole-stage codegen
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  /** `w`-bit random-hyperplane signature of a double-array column. */
  private def bucketOf(v: Column, w: Int = NPlanes): Column =
    (0 until w).map { j =>
      val plane = array(hyperplane(j).map(lit): _*)
      when(dot(v, plane) > 0.0d, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** QUERY-SIDE multi-probe for the single-band `bucketOf` signature —
    * the EXACT budgeted perturbation ranking of Lv et al., "Multi-Probe
    * LSH", VLDB 2007 (round-17; the round-16 subset heuristic — all
    * singles + pairs-of-8-weakest + triples-of-6 — approximated it):
    * enumerate EVERY non-empty perturbation subset of the
    * [[s02ProbeBits]] weakest-margin bits, score each subset by the
    * exact-integer sum of its member micro-margins
    * `round(round(|proj|, 6) · 1e6)` (integer addition is order-free, so
    * no cross-engine float-accumulation risk), order by (score asc, mask
    * asc), and probe the first [[s02Budget]] subsets on top of the exact
    * bucket. The budget comes from [[LshTuning.probeBudget]] — the
    * smallest family whose analytic recall model reaches
    * [[S02TargetRecall]] for neighbors at [[S02NeighborCos]] — so probe
    * depth derives from a STATED recall target and the corpus-adaptive
    * width, not a hand-picked probe count. The CORPUS index is untouched
    * (each vector sits in exactly its one bucket), so probing multiplies
    * only the query side; probed masks are pairwise-distinct subsets, so
    * no candidate dedup is needed. Two pieces: [[sortedMarginsOf]] stages
    * the margin-sorted (m, bit, mask) array as a real column, then
    * [[probeMasksBudgeted]] turns the attribute into the XOR-mask list
    * the caller explodes. */
  private def sortedMarginsOf(v: Column, w: Int): Column = {
    val projs = (0 until w).map(j => dot(v, array(hyperplane(j).map(lit): _*)))
    array_sort(array(projs.zipWithIndex.map { case (p, j) =>
      struct(round(abs(p), 6).as("m"), lit(j).as("i"), lit(1L << j).as("k"))
    }: _*))
  }

  /** XOR-mask list over a STAGED [[sortedMarginsOf]] column — the two-step
    * split keeps the plan tree small: the 64-literal hyperplane dots appear
    * exactly once (inside the staged sort column; measured round-16: the
    * fused form cost ~3.5 s/run of driver-side optimizer/codegen work).
    * The subset enumeration itself is DATA-DRIVEN (a `sequence` over
    * subset ids folded through the staged micro-margin array with
    * higher-order functions), so the plan stays a fixed ~50-node tree for
    * any `mBits` instead of inlining 2^mBits − 1 struct literals; the
    * 2^mBits-element scoring runs per QUERY row — a 20-row frame.
    * Subset `sid`'s bit `r` selects the (r+1)-th weakest-margin bit;
    * score = Σ integer micro-margins, mask = Σ member masks (distinct
    * powers of two, so + ≡ OR). Ordering is (score asc, mask asc) —
    * deterministic, and replayed by the DuckDB twins with the identical
    * integer sums. */
  private def probeMasksBudgeted(sm: Column, mBits: Int,
      budget: Int): Column = {
    val micro = transform(slice(sm, 1, mBits), (f, r) =>
      struct(round(f.getField("m") * 1e6, 0).cast("long").as("s"),
        f.getField("k").as("k"), r.as("r")))
    val zero = struct(lit(0L).as("s"), lit(0L).as("k"))
    val subs = transform(sequence(lit(1L), lit((1L << mBits) - 1)), sid =>
      aggregate(micro, zero, (acc, el) =>
        when(call_function("getbit", sid, el.getField("r")) === 1,
          struct((acc.getField("s") + el.getField("s")).as("s"),
            (acc.getField("k") + el.getField("k")).as("k")))
          .otherwise(acc)))
    concat(array(lit(0L)),
      transform(slice(array_sort(subs), 1, budget), f => f.getField("k")))
  }

  /** Signature width for the single-band bucket operators (s02/s12/s24) —
    * the [[DedupOps.adaptivePlanes]] discipline: smallest `w` with
    * `2^w ≥ n/256`, floored at the historical 8 planes (so the sf ≤ 0.1
    * testdata keeps its exact pre-adaptive buckets) and capped at 20.
    * With `w` frozen, E[bucket] = n/2^w grows linearly and the in-bucket
    * candidate volume quadratically — the same defect [[DedupOps
    * .knnGraphAuto]] fixed for the banded graph. The DuckDB twins derive
    * the identical value as ceil(log2(count/256)) (exact-integer boundary
    * agreement — see adaptivePlanes' scaladoc). */
  private[graft] def bucketPlanes(n: Long): Int = {
    var w = 0
    while (w < 20 && (256L << w) < n) w += 1
    math.max(NPlanes, w)
  }

  private def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.loadSpread(s, dir, "embeddings")
      .select($"vec_id", $"label", asDouble($"embedding").as("v"))
      .withColumn("nrm", graft.functions.VectorExprs.l2($"v"))
  }

  /** Content-addressed per-dir single-band BUCKET table
    * (vec_id, v, nrm, bucket) at the corpus-adaptive [[bucketPlanes]]
    * width — the [[binarySigTable]] discipline for the s02 index side:
    * the 64-literal hyperplane projection over the whole corpus is the
    * expensive half of every single-band lookup, and a deployment
    * materializes it ONCE per corpus instead of re-bucketing per query
    * batch. Stored SORTED on (bucket, vec_id), so the probed-bucket
    * equi-join's scan prunes row groups to the probed lists — per-search
    * IO scales with the probed buckets, not the corpus (the
    * [[Retrieval.bm25Index]] IO contract for dense search). The width
    * rides in the store name (a regenerated corpus that crosses a
    * width boundary gets a fresh store; the fingerprint key already
    * rebuilds on any data change, and the width-free `family` prefix
    * makes the crossing EVICT the old width's store instead of leaking
    * a full float-corpus copy in tmpdir — round-17 ADVICE #1). Doubles
    * round-trip parquet exactly
    * and the bucket is an integer projection, so serving from the store
    * is bit-identical to the inline computation — every s02-family
    * oracle row is unchanged. */
  private[graft] def bucketTable(s: SparkSession, dir: String): DataFrame = {
    val w = bucketPlanes(Tables.cachedCount(s, dir, "embeddings"))
    Tables.cachedDerived(s, dir, "embeddings", s"s02bucket_w$w",
        family = Some("s02bucket_w"))(
      bucketProjection(Tables.loadSpread(s, dir, "embeddings"),
          "vec_id", "embedding", w)
        .repartitionByRange(col("bucket"), col("vec_id"))
        .sortWithinPartitions(col("bucket"), col("vec_id")))
  }

  /** The [[bucketTable]] row shape (vec_id, v, nrm, bucket) at an EXPLICIT
    * width `w` from any (id, vector) frame — the projection the batch
    * store and the streamed index
    * ([[graft.streaming.CurationStream.bucketBatch]]) both build, so the
    * two serving paths are bit-identical by construction (double cast,
    * one l2, integer sign projection — no order sensitivity). */
  private[graft] def bucketProjection(df: DataFrame, idCol: String,
      vecCol: String, w: Int): DataFrame =
    df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", graft.functions.VectorExprs.l2(col("v")))
      .withColumn("bucket", bucketOf(col("v"), w))
      .select(col("vec_id"), col("v"), col("nrm"), col("bucket"))

  /** Bounded-heap top-k udaf over (score, id) — see
    * [[graft.functions.Aggregators.TopKAgg]]: map-side combine caps the
    * ranking shuffle at k rows per map partition per query, where the
    * window-rank form shuffles every scored row. */
  private def topkUdaf(k: Int) =
    udaf(new graft.functions.Aggregators.TopKAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))

  // ---------------------------------------------------------------- s01
  /** Brute-force cosine top-5 for each query vector (vec_id < 20): broadcast
    * the queries, stream the corpus, rank per query.
    * Ordering is on round(cos,6) with vec_id tie-break, so candidates closer
    * than 1e-6 in cosine rank deterministically in every engine.
    *
    * Ranking plan: the WINDOW form (codegen'd tungsten sort) — measured 3×
    * faster single-node than the typed bounded-heap aggregator at sf0.1
    * (0.5s vs 1.75s; the aggregator's per-row buffer encoding dominates
    * locally while the shuffle it caps is not the local bottleneck). The
    * API twins ([[graft.ext.DedupOps.knn]]/[[ivfKnn]]/[[pqKnn]]) use
    * [[topkUdaf]] instead, where the |queries|×|corpus| ranking shuffle is
    * the thing that breaks at cluster scale — pick by deployment. */
  val s01KnnBrute: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(e, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"qid", $"rk", $"vec_id", round($"cos6", 4).as("cos"))
      .orderBy($"qid", $"rk")
  }

  // ---------------------------------------------------------------- s02
  /** ANN via random-hyperplane LSH: every vector gets a SIZE-ADAPTIVE
    * [[bucketPlanes]]-bit signature (8 bits up to ~65k vectors, widening
    * by ceil(log2(n/256)) past that so E[bucket] stays ≈ 256 and the
    * in-bucket candidate volume grows linearly, not quadratically);
    * candidates for a query are ONLY the vectors in its bucket, then
    * exact cosine top-3 within the bucket (window ranking like s01 — see
    * the s01 note). The bucket join is an equi-join on the signature —
    * hash-partitioned, no all-pairs. The DuckDB twin derives the same
    * width from count(*). */
  /** s02's query-side multi-probe serving config (round-17, the closed
    * probe-budget loop): probe the exact bucket plus the
    * [[s02Budget]]-deepest margin-ordered perturbation subsets of the
    * [[s02ProbeBits]] = min(w, 12) weakest bits ([[probeMasksBudgeted]]).
    * The budget derives from [[LshTuning.probeBudget]] at
    * [[S02TargetRecall]] = 0.8 for neighbors at [[S02NeighborCos]] = 0.35
    * — the witness corpus' OBSERVED top-5 neighbor cosine (back-solved
    * from the round-16 exact-bucket recall: (1−p)^8 = 0.02 ⇒ p ≈ 0.39 ⇒
    * cos ≈ 0.35; the model then predicted 0.45 at the old 57-probe
    * config vs 0.46 measured — calibrated). At the floor-8 width the
    * probe FRACTION is large (149/256 — tiny corpora are cheap and
    * E[bucket] ≈ 2 keeps candidates per query in the hundreds); the
    * candidate-bit window widens WITH the signature ([[s02ProbeBits]]
    * scaladoc) so the stated target stays deliverable through w = 12 —
    * at its honest budget (2143 subsets at w=12; the serving log prints
    * fraction and model recall) — and past the 12-bit cap delivered
    * recall decays (0.38 at w=14), so recall-SENSITIVE use at scale
    * belongs on the multi-band graph (s26, recall 0.90). s12 measures
    * the served config; s33 pins the exact-vs-probed gain per query. */
  private[graft] val S02ProbeBitsCap = 12
  private[graft] val S02TargetRecall = 0.8
  private[graft] val S02NeighborCos = 0.35

  /** Probe-candidate bits at signature width `w` — `min(w, 12)`, WIDENING
    * with the adaptive signature instead of the round-17-initial fixed 8
    * (NEXT #3): with 8 candidate bits the 0.8 target is unreachable past
    * w = 8 (the budget hits the 255-subset family cap and DELIVERED
    * recall collapses — 0.61 at w=9, 0.14 at w=12), silently breaking the
    * probeBudget contract exactly where the adaptive width kicks in.
    * Widening to min(w, 12) keeps the stated target deliverable through
    * w = 12 (budgets 287/563/1082/2143 at w = 9–12 — the model-honest
    * price of single-band probing at [[S02NeighborCos]] = 0.35; the
    * serving log prints fraction and model recall) and degrades ~6×
    * slower past the cap (0.38 vs 0.05 at w=14). The 12-bit cap bounds
    * the per-query subset enumeration at 4095 HOF folds — still a
    * 20-row × 4095 × 12 driver-negligible expression — and recall-
    * SENSITIVE use past w ≈ 12 belongs on the multi-band graph (s26),
    * as [[s02AnnLsh]]'s scaladoc routes. */
  private[graft] def s02ProbeBits(w: Int): Int = math.min(w, S02ProbeBitsCap)

  /** Serving probe budget at signature width `w` — the single source of
    * truth for both engines: Scala calls it at plan time; the DuckDB twins
    * consume the same values as a generated width-keyed CASE table
    * ([[s02BudgetCaseSql]]). */
  private[graft] def s02Budget(w: Int): Int =
    LshTuning.probeBudget(S02TargetRecall, S02NeighborCos, w, s02ProbeBits(w))

  /** The FUSION leg's deeper probe target (round-17 verdict #3): the
    * served hybrid fusion compounds the probed leg's recall with RRF's
    * rank sensitivity near the top-5 cutoff, so at the standalone 0.8
    * target the fused agreement@5 capped at 0.91/0.90. The MEASURED
    * target curve at the gate scales (sf0.001/sf0.01, k=10 legs):
    * 0.85 → 0.93/0.91, 0.9 → 0.96/0.95, 0.95 → 0.99/0.98,
    * 0.975 → 0.99/0.99 — 0.95 clears the ≥0.95 done-gate with margin at
    * a priced-in candidate-fraction cost: budget 214/255 subsets at the
    * floor-8 width vs 148 standalone (fraction 0.84 vs 0.58 of the
    * bucket space — the honest price of single-band probing near the
    * exact-legs ceiling; recall-sensitive fusion at scale belongs on the
    * graph leg, s37). Deepening the LEG instead (k=20 at any target)
    * measured 0.78–0.80: rank-11+ contributions the brute composition
    * never sees poison the fusion — depth must match the truth's legs.
    * Standalone s02/s12/s33 keep the 0.8 target — their contract is the
    * stated-recall serving config, not fusion input. */
  private[graft] val S02FusionTargetRecall = 0.95

  /** [[s02Budget]] at the deeper [[S02FusionTargetRecall]] — the budget
    * [[rrfServedTop5]]'s probed leg serves; same single-source contract
    * (the s36 twin consumes it as its own width-keyed CASE table). */
  private[graft] def s02FusionBudget(w: Int): Int =
    LshTuning.probeBudget(S02FusionTargetRecall, S02NeighborCos, w, s02ProbeBits(w))

  val s02AnnLsh: Q = (s, dir) => {
    import s.implicits._
    val e0 = vecs(s, dir)
    val pw = bucketPlanes(Tables.cachedCount(s, dir, "embeddings"))
    val t = s02Budget(pw)
    log.info(s"s02AnnLsh: width=$pw probeBits=${s02ProbeBits(pw)} budget=$t " +
      f"probeFraction=${(t + 1).toDouble / (1L << pw)}%.4f modelRecall=" +
      f"${LshTuning.probeModelRecall(t, 1.0 - LshTuning.hyperplaneAgreement(S02NeighborCos), pw, s02ProbeBits(pw))}%.3f")
    // corpus side served from the persisted bucket table (round-17:
    // the store is (bucket, vec_id)-sorted, so this join's scan prunes
    // row groups to the probed lists); query side computed inline — 20
    // pushed-filter rows. The query probes its multi-probe bucket list;
    // each corpus vector sits in exactly one bucket, so probed buckets
    // being pairwise distinct means no candidate dedup is needed.
    // Margins staged as a column FIRST so the hyperplane-literal dots
    // appear once in the plan.
    val e = bucketTable(s, dir)
    val q = e0.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"),
        bucketOf($"v", pw).as("b0"), sortedMarginsOf($"v", pw).as("sm"))
      .select($"qid", $"qv", $"qn", $"b0",
        explode(probeMasksBudgeted($"sm", s02ProbeBits(pw), t)).as("mask"))
      .select($"qid", $"qv", $"qn",
        $"b0".bitwiseXOR($"mask").as("bucket"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(e, Seq("bucket"))
      .filter($"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"qid", $"rk", $"vec_id", round($"cos6", 4).as("cos"), $"bucket")
      .orderBy($"qid", $"rk")
  }

  // ------------------------------------------------------------ IVF ANN
  /** IVF-style ANN — the scale path when the corpus outgrows a single LSH
    * signature: a coarse quantizer (nlist centroids, deterministic seeded
    * Lloyd iterations) partitions the corpus into inverted lists; a query
    * probes only its `nprobe` nearest lists and ranks exact cosine within.
    *
    * Scale: training touches the corpus `iters` times with nlist tiny dot
    * products per row (centroids are plan literals — no shuffle, no UDF);
    * the search is one equi-join on the centroid id, i.e. candidates ≈
    * corpus × nprobe / nlist, hash-partitioned. Driver state is only the
    * nlist×dim centroid matrix (KBs).
    */
  /** Unit-normalized projection (id, __u) of an embedding column. */
  private[ext] def unitVecs(df: DataFrame, idCol: String, vecCol: String,
      idOut: String): DataFrame =
    df.select(col(idCol).as(idOut), transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__nrm", graft.functions.VectorExprs.l2(col("__v")))
      .withColumn("__u", transform(col("__v"), x => x / col("__nrm")))
      .drop("__v", "__nrm")

  private def dotLit(u: Column, cen: Seq[Double]): Column =
    graft.functions.VectorExprs.dot(u, array(cen.map(lit): _*))

  /** Deterministic md5-hash sample of ≈ `trainSampleRows` rows of an
    * (__id, __v) frame for quantizer training (no-op when the frame is
    * already smaller). Same stateless-threshold mechanism as the corpus
    * samplers — reproducible on every run and data subset, unlike
    * `df.sample`'s seed-and-partition-dependent Bernoulli. One cheap
    * count() sizes the rate, unless the caller already counted the frame's
    * rows (`rows`). */
  private def trainSample(c: DataFrame, trainSampleRows: Long,
      rows: Option[Long]): DataFrame = {
    // the sample bounds the Lloyd fold's per-cell member lists; without a
    // cap they would grow with the corpus
    require(trainSampleRows != Long.MaxValue,
      "trainSampleRows = Long.MaxValue would train on the whole corpus; pass a bound")
    val n = rows.getOrElse(c.count())
    if (n <= trainSampleRows) c
    else {
      // threshold in the hash's FULL 60-bit range: a coarser (per-million)
      // threshold would floor to its minimum on huge corpora and overshoot
      // the row cap by n/1e6 instead of staying ≈ trainSampleRows
      val thr = math.max(1L,
        (trainSampleRows.toDouble / n * (1L << 60).toDouble).toLong)
      c.filter(h60(concat(lit("ivftrain"), col("__id").cast("string"))) < thr)
    }
  }

  /** Runs `fit` over `train` persisted once — the seed collect and every
    * Lloyd round re-read it — and unpersists it afterwards. Every training
    * frame in this file is bounded (a [[trainSample]] or a caller's
    * slice), so pinning it costs less than re-scanning and re-projecting
    * its source 1 + iters times. */
  private def withPersisted[T](train: DataFrame)(fit: DataFrame => T): T = {
    val p = train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fit(p) finally { p.unpersist(false); () }
  }

  /** The ANN training frame: unit vectors (__id, __v) of the corpus,
    * [[trainSample]]d to `trainSampleRows` and persisted for `fit`.
    * Assignment and search always use the FULL corpus; only centroid
    * positions (an approximation either way) derive from the sample.
    * `rows` is the corpus row count when the caller already has it (the
    * unit-vector projection keeps every row). */
  private[graft] def withTrainSample[T](corpus: DataFrame, idCol: String,
      vecCol: String, trainSampleRows: Long, rows: Option[Long] = None)(
      fit: DataFrame => T): T =
    withPersisted(trainSample(unitVecs(corpus, idCol, vecCol, "__id")
      .select(col("__id"), col("__u").as("__v")), trainSampleRows, rows))(fit)

  /** Nearest-centroid id for a unit-vector column; the centroid matrix is
    * folded into the plan as literals — no shuffle, no UDF. */
  private[ext] def assignExpr(u: Column, centroids: IndexedSeq[Seq[Double]]): Column = {
    val dots = array(centroids.map(cen => dotLit(u, cen)): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** L2-nearest centroid id (for NON-unit centroids, e.g. PQ sub-codebooks):
    * argmin |x−c|² = argmax (x·c − |c|²/2), again all plan literals. */
  private[ext] def assignL2Expr(u: Column, centroids: IndexedSeq[Seq[Double]]): Column = {
    val scores = array(centroids.map(cen =>
      dotLit(u, cen) - lit(cen.map(x => x * x).sum / 2.0)): _*)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** The `k` lowest-id vectors of an (__id, __v) frame — the deterministic
    * seed of every Lloyd fit here except the ++ and ‖ inits. */
  private def lowestIdSeeds(train: DataFrame, k: Int): IndexedSeq[Seq[Double]] =
    train.orderBy(col("__id")).limit(k).select(col("__v")).collect()
      .toIndexedSeq.map(_.getSeq[Double](0))

  /** The one Lloyd loop: every IVF, PQ and k-means fit in this file runs
    * it. `train` is a bounded, persisted (__id, __v) frame, plus a group key
    * __g when `init` holds more than one group; group g trains its own
    * centroids `init(g)`, so the m PQ subspaces share ONE aggregation job per
    * round. Each of the `iters` rounds:
    *  1. assigns every row with the caller's rule against its group's
    *     centroids, folded into the plan as literals ([[assignExpr]],
    *     [[assignL2Expr]] or [[kmeansPick]] — each pinned by its own DuckDB
    *     twin);
    *  2. takes each cell's mean as the id-sorted element-wise fold of its
    *     members, divided once by the member count — the same bits at
    *     every partitioning and in the twins (a `sum()` would merge
    *     partials in task order);
    *  3. keeps the previous centroid for an empty cell. With `renormalize`
    *     the mean is projected onto the unit sphere (sequential square-sum,
    *     one IEEE sqrt — sqrt(list_dot_product) in the twins), and a zero
    *     mean keeps the previous centroid instead of turning into NaNs.
    * Driver state is the centroid matrices; a cell's fold state is its
    * member list, which is why the frame must be a bounded sample. */
  private def lloyd(train: DataFrame, init: IndexedSeq[IndexedSeq[Seq[Double]]],
      iters: Int, renormalize: Boolean)(
      assign: (Column, IndexedSeq[Seq[Double]]) => Column)
      : IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val sp = train.sparkSession
    import sp.implicits._
    val dim = init.flatten.headOption.fold(0)(_.size)
    if (dim == 0) return init
    val zeros = typedLit(Seq.fill(dim)(0.0d))
    val g = if (init.size == 1) lit(0) else col("__g")
    var cents = init
    for (_ <- 0 until iters) {
      val cell =
        if (cents.size == 1) assign(col("__v"), cents(0))
        else cents.indices.tail.foldLeft(
            when(g === 0, assign(col("__v"), cents(0)))) { (w, i) =>
          w.when(g === i, assign(col("__v"), cents(i)))
        }
      val means = train
        .select(g.as("__g"), cell.as("__cl"), col("__id"), col("__v"))
        .groupBy(col("__g"), col("__cl"))
        .agg(count(lit(1)).as("__n"),
          aggregate(sort_array(collect_list(struct(col("__id"), col("__v")))),
            zeros,
            (acc, el) => zip_with(acc, el.getField("__v"), (a, b) => a + b))
            .as("__s"))
        .select(col("__g"), col("__cl"),
          transform(col("__s"), z => z / col("__n")).as("__c"))
        .as[(Int, Int, Seq[Double])].collect()
        .map { case (g0, cl, c) => (g0, cl) -> c }.toMap
      cents = cents.indices.map(g0 => cents(g0).indices.map { i =>
        val prev = cents(g0)(i)
        means.get((g0, i)).fold(prev) { v =>
          if (!renormalize) v
          else {
            val nrm = math.sqrt(v.foldLeft(0.0d)((a, x) => a + x * x))
            if (nrm == 0) prev else v.map(_ / nrm)
          }
        }
      })
    }
    cents
  }

  /** The coarse quantizer of [[ivfKnn]], [[ivfPqTrain]], s03 and
    * `DedupOps.semanticDedup`: `nlist` unit centroids seeded with the
    * lowest-id training vectors, [[lloyd]] under the max-dot rule with
    * renormalization. `train` is a [[withTrainSample]] frame; the result
    * is the same bits at every partitioning, so a model trained once can
    * be stored and reused across sessions. */
  private[graft] def trainCoarse(train: DataFrame, nlist: Int,
      iters: Int): IndexedSeq[Seq[Double]] =
    lloyd(train, IndexedSeq(lowestIdSeeds(train, nlist)), iters,
      renormalize = true)(assignExpr).head

  /** @param trainSampleRows cap on the rows the Lloyd iterations touch: a
    *   deterministic md5-hash sample of the corpus trains the quantizer (the
    *   universal IVF practice at scale — training needs only a sketch of the
    *   density, and iterating a 100 TB corpus twice to place 16–65k
    *   centroids is pure waste). Assignment and search always use the FULL
    *   corpus, so recall semantics are unchanged — only centroid positions
    *   (an approximation either way) derive from the sample. Hash-based, so
    *   the same rows train on every run and engine; `Long.MaxValue` is
    *   rejected (an unbounded sample would make [[lloyd]]'s per-cell fold
    *   state corpus-sized). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
      trainSampleRows: Long = 262144L,
      knownCentroids: Option[IndexedSeq[Seq[Double]]] = None): DataFrame = {
    def unit(df: DataFrame, id: String): DataFrame = unitVecs(df, idCol, vecCol, id)
    val c = unit(corpus, "id")
    // knownCentroids: the round-20 seam for callers that maintain the
    // coarse model per corpus content (s03's memo) — a deployment does not
    // re-run Lloyd per query batch
    val centroids = knownCentroids.getOrElse(
      withTrainSample(corpus, idCol, vecCol, trainSampleRows)(
        trainCoarse(_, nlist, iters)))
    val lists = c.withColumn("__cid", assignExpr(col("__u"), centroids))
    val q = unit(queries, "query_id")
    // top-nprobe centroid ids per query: sort (dot, cid) structs descending
    val probeDots = array(centroids.zipWithIndex.map { case (cen, i) =>
      struct(dotLit(col("__u"), cen).as("d"), lit(i).as("cid"))
    }: _*)
    val probes = q
      .withColumn("__probe",
        explode_outer(slice(sort_array(probeDots, asc = false), 1, nprobe)))
      .filter(col("__probe").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("query_id"), col("__u").as("__qu"), col("__probe.cid").as("__cid"))
    // bounded-heap ranking (see topkUdaf): inverted lists partition the
    // corpus, so a query's probed candidates are distinct ids
    broadcast(probes).join(lists, Seq("__cid"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", // unit vectors: cosine == dot
        graft.functions.VectorExprs.dot(col("__qu"), col("__u")))
      .groupBy(col("query_id"))
      .agg(topkUdaf(k)(col("cosine"), col("id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__t")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__t._1").as("id"), col("__t._2").as("cosine"))
  }

  /** [[ivfKnn]] with the probe depth DERIVED from a stated recall target —
    * the [[LshTuning.probeBudget]]/`tuneGraphConfig` discipline closing
    * the IVF family's last caller-constant knob (round-18 verdict #4):
    * callers state the recall they need and the corpus size picks the
    * geometry. `nlist` defaults to [[DedupOps.semanticDedupNlist]]'s
    * corpus-proportional rule (E[list] ≈ 4096 — the d18-oracled sizing),
    * and `nprobe = LshTuning.ivfNprobe(targetRecall, nlist)` inverts the
    * calibrated [[LshTuning.ivfModelRecall]] floor. Always reachable
    * (full probe is exact — the s03 property), so unlike the width-capped
    * LSH families there is no unreachable-target fallback; the log prints
    * the achieved model value per invocation.
    *
    * The target speaks to the COARSE-CAPTURE stage (P(true neighbor's
    * list probed)) — the stage this knob controls. Measured
    * (scratch.IvfSweep): derived configs at targets 0.8/0.9 capture
    * 0.965/0.99 (sf0.001) and 0.91/0.96 (sf0.01) — every one ≥ its
    * target, the model a floor. The same sweep re-measured the s21
    * IVF-PQ row at the derived nprobe = 7-of-8 (target 0.9, vs the
    * row's caller-constant 2): END-TO-END recall@5 moved only
    * 0.37 → 0.39/0.40, because at refine = 2 the ADC quantization +
    * refine cut dominates that config's loss — an end-to-end recall
    * target needs the refine knob raised alongside nprobe (s08's
    * covering witness is the exact-mode limit). Pass `knownCount` when
    * reading a stable table (the [[graft.Tables.cachedCount]] seam) to
    * skip the sizing count job. */
  def ivfKnnAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, targetRecall: Double = 0.9, nlist: Int = 0,
      iters: Int = 2, trainSampleRows: Long = 262144L,
      knownCount: Option[Long] = None): DataFrame = {
    val nl =
      if (nlist > 0) nlist
      else DedupOps.semanticDedupNlist(knownCount.getOrElse(corpus.count()))
    val np = LshTuning.ivfNprobe(targetRecall, nl)
    log.info(f"ivfKnnAuto: nlist=$nl nprobe=$np (target $targetRecall%.2f, " +
      f"model recall ${LshTuning.ivfModelRecall(np, nl)}%.3f, " +
      f"candidate fraction ${np.toDouble / nl}%.3f)")
    ivfKnn(corpus, queries, idCol, vecCol, k, nlist = nl, nprobe = np,
      iters = iters, trainSampleRows = trainSampleRows)
  }

  // ------------------------------------------------------------- PQ ANN
  /** Driver-side product-quantization model: `m` per-subspace codebooks of
    * `ksub` sub-centroids each (`dsub` doubles per sub-centroid). Tiny —
    * m × ksub × dsub doubles, KBs — and pure data, so a deployment trains
    * it ONCE, persists it (see [[toDF]]), and serves every subsequent query
    * batch from the stored model + [[Similarity.pqEncode]]'d code table
    * (the [[Retrieval.bm25Index]] materialization discipline: nobody
    * retrains a quantizer per query at 100 TB). */
  final case class PqModel(m: Int, dsub: Int,
      codebooks: IndexedSeq[IndexedSeq[Seq[Double]]]) {
    def dim: Int = m * dsub
    def ksub: Int = codebooks.head.size
    /** Relational form for parquet persistence: one row per sub-centroid,
      * (subspace, cid, vec). [[PqModel.fromDF]] inverts it exactly — the
      * doubles round-trip bit-for-bit through parquet. */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (for (s <- 0 until m; k0 <- codebooks(s).indices)
        yield (s, k0, codebooks(s)(k0))).toDF("subspace", "cid", "vec")
    }
  }

  object PqModel {
    def fromDF(df: DataFrame): PqModel = {
      val rows = df.select(col("subspace").cast("int"), col("cid").cast("int"),
          col("vec")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      val bySub = rows.groupBy(_._1)
      val m = bySub.keys.max + 1
      val cbs = (0 until m).map(s =>
        bySub(s).sortBy(_._2).map(_._3).toIndexedSeq)
      PqModel(m, cbs.head.head.size, cbs)
    }
  }

  /** Train the `m` per-subspace PQ codebooks (L2 mode — raw means, not
    * re-normalized) on the deterministic md5 sample of the corpus (see
    * [[ivfKnn]]'s trainSampleRows note); the corpus itself is never
    * iterated. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainSampleRows: Long = 262144L): PqModel =
    withTrainSample(corpus, idCol, vecCol, trainSampleRows)(
      trainCodebooks(_, m, ksub, iters))

  /** The m sub-codebooks of [[pqTrain]] and [[ivfPqTrain]] over an
    * (__id, __v) training frame (unit or residual vectors): every row
    * explodes into its m subspace slices, each subspace is one [[lloyd]]
    * group seeded with the slices of the ksub lowest-id rows and assigned
    * by [[assignL2Expr]], so all m train in ONE aggregation job per round.
    * No renormalization — normalizing would distort the quantization
    * cells. */
  private def trainCodebooks(train: DataFrame, m: Int, ksub: Int,
      iters: Int): PqModel = {
    val seeds = lowestIdSeeds(train, ksub)
    val dim = seeds.headOption.fold(0)(_.size)
    require(dim > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    val bySub = train
      .select(col("__id"), posexplode_outer(array((0 until m).map(s =>
        slice(col("__v"), s * dsub + 1, dsub)): _*)).as(Seq("__g", "__v")))
      .filter(col("__v").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
    PqModel(m, dsub, lloyd(bySub,
      (0 until m).map(s => seeds.map(_.slice(s * dsub, (s + 1) * dsub))), iters,
      renormalize = false)(assignL2Expr))
  }

  /** Encode the corpus against a trained model: (id, __code) with `m` small
    * int codes per row — the compressed table a 100 TB deployment stores
    * (m bytes-ish per row instead of dim×4, the classic PQ memory story).
    * One shuffle-free projection scan; the codebooks fold into the plan as
    * literals. */
  def pqEncode(model: PqModel, corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val c = unitVecs(corpus, idCol, vecCol, "id")
    c.select(col("id"),
      array((0 until model.m).map(s =>
        assignL2Expr(slice(col("__u"), s * model.dsub + 1, model.dsub),
          model.codebooks(s))): _*).as("__code"))
  }

  /** Search a prebuilt model + code table by asymmetric distance: each query
    * precomputes ONE `m × ksub` lookup table of sub-dot-products, so scoring
    * a corpus row costs `m` array lookups instead of a `dim`-wide dot
    * product. The top `refine × k` ADC candidates are re-ranked with the
    * EXACT cosine against `corpus`'s full vectors, so precision of the
    * returned ranking is exact; only recall is approximate (→ exact when
    * `refine × k` covers the corpus, the spec's limit case). No training
    * happens here — this is the steady-state path a deployment runs per
    * query batch. Queries + LUTs broadcast against the code table (like
    * s01); only refine·k candidate ids per query join back to full
    * vectors. */
  def pqSearch(model: PqModel, codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      refine: Int = 4): DataFrame = {
    def sub(u: Column, s: Int): Column =
      slice(u, s * model.dsub + 1, model.dsub)
    val c = unitVecs(corpus, idCol, vecCol, "id")
    val q = unitVecs(queries, idCol, vecCol, "query_id")
      .withColumn("__lut", array((0 until model.m).map { s =>
        array(model.codebooks(s).map(cen => dotLit(sub(col("__u"), s), cen)): _*)
      }: _*))
      .select(col("query_id"), col("__u").as("__qu"), col("__lut"))
    adcRankRerank(broadcast(q).join(codes, col("query_id") =!= col("id")),
      c, model.m, k, refine)
  }

  /** Inline train + encode + search — exactly [[pqTrain]] → [[pqEncode]] →
    * [[pqSearch]] (the materialized path is the same computation; the
    * DedupOpsSpec parity test pins materialized ≡ inline bit-for-bit). */
  def pqKnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      refine: Int = 4, trainSampleRows: Long = 262144L): DataFrame = {
    val model = pqTrain(corpus, idCol, vecCol, m, ksub, iters, trainSampleRows)
    pqSearch(model, pqEncode(model, corpus, idCol, vecCol), corpus, queries,
      idCol, vecCol, k, refine)
  }

  /** Shared ADC tail of [[pqKnn]] and [[ivfPqKnn]]: score candidates by the
    * m-lookup asymmetric distance, keep the per-query top refine·k via the
    * bounded-heap Aggregator (NOT a window rank — a window would shuffle
    * every scored row; the aggregator's map-side combine caps the shuffle at
    * refine·k rows per (map partition, query) regardless of corpus size;
    * ties break on lower id, identical to the orderBy(desc, id) window
    * ordering), then rerank with the EXACT cosine against full vectors.
    * `cand0` carries (query_id, __qu, __lut, id, __code). */
  private def adcRankRerank(cand0: DataFrame, c: DataFrame, m: Int, k: Int,
      refine: Int, adcBase: Column = lit(0.0)): DataFrame = {
    // ADC score: sum of m LUT lookups (0-based getItem on both levels),
    // plus the caller's base term (residual mode adds the coarse dot —
    // dot(q,x) = dot(q,c_list) + dot(q, x − c_list))
    val adc = adcBase + (0 until m).map(s =>
      col("__lut").getItem(s).getItem(col("__code").getItem(s))).reduce(_ + _)
    val topAdc = udaf(new graft.functions.Aggregators.TopKAgg(refine * k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
    val cand = cand0
      .withColumn("__adc", adc)
      .groupBy(col("query_id"))
      .agg(topAdc(col("__adc"), col("id")).as("__top"), first(col("__qu")).as("__qu"))
      .select(col("query_id"), col("__qu"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__qu"), col("__t._1").as("id"))
    // exact rerank: unit vectors, so cosine == dot
    val wX = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("id"))
    cand.join(c, Seq("id"))
      .withColumn("cosine", graft.functions.VectorExprs.dot(col("__qu"), col("__u")))
      .withColumn("rank", row_number().over(wX).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("cosine"))
  }

  // ----------------------------------------------------------- IVF-PQ ANN
  /** Composed IVF + PQ search (the FAISS IVFADC architecture — the canonical
    * billion-vector layout): a coarse k-means quantizer partitions the corpus
    * into `nlist` inverted lists, every vector is stored as its list id plus
    * `m` PQ codes, and a query (a) probes only its `nprobe` nearest lists and
    * (b) scores the probed candidates by asymmetric distance (one m × ksub
    * lookup table per query) before an exact-cosine rerank of the top
    * `refine × k`. The two levers compose multiplicatively: IVF cuts the
    * candidate COUNT to ~nprobe/nlist of the corpus, PQ cuts the per-candidate
    * COST to m lookups and the stored corpus to ~m bytes + a list id per row.
    *
    * Codes are built from the raw unit vectors (FAISS `by_residual=false`):
    * one shared codebook set keeps encode/search a pure projection and makes
    * the covering configuration (nprobe = nlist, refine × k ≥ |corpus|)
    * EXACTLY brute force — the oracle witness (s08). Residual encoding would
    * buy finer cells at the cost of per-list LUTs; the seam to add it is the
    * encode/LUT pair below.
    *
    * Scale shape: both trainings ride ONE persisted deterministic sample
    * (coarse centroids + all m sub-codebooks; the corpus itself is scanned
    * once to encode), centroids/codebooks fold into the plan as literals,
    * queries + LUTs broadcast against the code table, and the per-query
    * heap caps the ranking shuffle at refine·k rows per map partition
    * ([[graft.functions.Aggregators.TopKAgg]]); only refine·k candidate ids
    * per query join back to full vectors for the rerank. */
  /** Driver-side IVF-PQ model: the coarse quantizer's `nlist` centroids plus
    * the [[PqModel]] sub-codebooks and the residual flag. Like [[PqModel]],
    * pure KB-sized data a deployment trains once and persists. */
  final case class IvfPqModel(centroids: IndexedSeq[Seq[Double]],
      pq: PqModel, byResidual: Boolean) {
    def nlist: Int = centroids.size
    /** Relational form for parquet persistence: the pq rows as in
      * [[PqModel.toDF]] plus coarse-centroid rows at subspace −1 (cid =
      * list id; the residual flag rides on every row as a constant
      * column). */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val coarse = centroids.zipWithIndex.map { case (cen, i) => (-1, i, cen) }
      val pqRows = for (s <- 0 until pq.m; k0 <- pq.codebooks(s).indices)
        yield (s, k0, pq.codebooks(s)(k0))
      (coarse ++ pqRows).toDF("subspace", "cid", "vec")
        .withColumn("by_residual", lit(byResidual))
    }
  }

  object IvfPqModel {
    def fromDF(df: DataFrame): IvfPqModel = {
      val coarse = df.filter(col("subspace") === -1)
        .select(col("cid").cast("int"), col("vec")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).map(_._2).toIndexedSeq
      val byRes = df.select(col("by_residual")).head.getBoolean(0)
      IvfPqModel(coarse, PqModel.fromDF(df.filter(col("subspace") >= 0)), byRes)
    }
    /** Load an [[Similarity.saveIvfPqModel]]-persisted model. */
    def load(spark: SparkSession, path: String): IvfPqModel =
      fromDF(spark.read.parquet(path))
  }

  /** Persist a trained IVF-PQ model as a parquet table. */
  def saveIvfPqModel(model: IvfPqModel, spark: SparkSession, path: String): Unit =
    model.toDF(spark).write.mode("overwrite").parquet(path)

  /** Persist an [[ivfPqEncode]]'d code table in the INVERTED-LIST layout a
    * serving deployment wants on disk (round-12 verdict #6 — the q38/bm25
    * layout discipline applied to the ANN postings): range-partitioned and
    * sorted by list id, so every parquet row group covers a narrow `__cid`
    * range and a search probing `nprobe` lists reads only those row groups
    * via min/max stats (with [[ivfPqSearch]]'s `pruneLists`, which pushes
    * the probed ids into the scan as a literal In). Id-sorted within a list
    * for deterministic layout. */
  def saveIvfPqCodes(codes: DataFrame, path: String): Unit =
    codes.repartitionByRange(col("__cid"), col("id"))
      .sortWithinPartitions(col("__cid"), col("id"))
      .write.mode("overwrite").parquet(path)

  /** Load a [[saveIvfPqCodes]]-persisted code table. */
  def loadIvfPqCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Train the coarse quantizer + PQ sub-codebooks on ONE persisted
    * deterministic sample (see [[ivfKnn]]'s trainSampleRows note). Residual
    * mode (FAISS by_residual=true): sub-codebooks train and encode on
    * r = u − centroid(list(u)), so each code spends its ksub cells on the
    * WITHIN-list spread instead of the whole space — finer quantization
    * from the same m×ksub budget. Every double is the same at every
    * partitioning and replays in DuckDB (the s21/s22 oracle rows), so a
    * model trained once can be stored ([[saveIvfPqModel]]) and reused. */
  def ivfPqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainSampleRows: Long = 262144L, byResidual: Boolean = false): IvfPqModel =
    withTrainSample(corpus, idCol, vecCol, trainSampleRows) { ct =>
      val cens = trainCoarse(ct, nlist, iters)
      val pq = trainCodebooks(
        if (byResidual)
          ct.select(col("__id"), residualOf(col("__v"), cens).as("__v"))
        else ct, m, ksub, iters)
      IvfPqModel(cens, pq, byResidual)
    }

  /** Encode the corpus against a trained IVF-PQ model: (id, __cid, __code)
    * — the stored table of an IVF-PQ deployment (list id + m codes per
    * row), built in one shuffle-free scan; full vectors are only touched
    * again by the rerank. */
  def ivfPqEncode(model: IvfPqModel, corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val m = model.pq.m; val dsub = model.pq.dsub
    def sub(u: Column, s: Int): Column = slice(u, s * dsub + 1, dsub)
    val c = unitVecs(corpus, idCol, vecCol, "id")
    val encBase =
      if (model.byResidual) residualOf(col("__u"), model.centroids) else col("__u")
    c.withColumn("__enc", encBase)
      .select(col("id"),
        assignExpr(col("__u"), model.centroids).as("__cid"),
        array((0 until m).map(s =>
          assignL2Expr(sub(col("__enc"), s), model.pq.codebooks(s))): _*).as("__code"))
  }

  /** Search a prebuilt IVF-PQ model + code table: each query (a) probes only
    * its `nprobe` nearest inverted lists and (b) scores the probed
    * candidates by asymmetric distance before the exact-cosine rerank of
    * the top `refine × k`. For the inner-product metric the residual ADC
    * stays one LUT per query: dot(q,x) = dot(q,c_list) + dot(q,r̂), and the
    * coarse dot is already computed by the probe. No training happens here
    * — the steady-state per-query-batch path. */
  /** @param pruneLists collect the probed list ids driver-side (bounded by
    *   nprobe × |queries| distinct values ≤ nlist; query batches are tiny by
    *   contract, like [[Retrieval.bm25Search]]'s query vocabulary) and push
    *   them into the code-table scan as a chunked literal In — on a
    *   [[saveIvfPqCodes]] list-sorted table the scan then reads ONLY the
    *   probed lists' row groups instead of the whole code table. Off by
    *   default: an in-plan (freshly encoded) code table has nothing to
    *   prune, and the extra tiny probe job would be pure overhead. */
  def ivfPqSearch(model: IvfPqModel, codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, refine: Int = 4, pruneLists: Boolean = false): DataFrame = {
    val m = model.pq.m; val dsub = model.pq.dsub
    def sub(u: Column, s: Int): Column = slice(u, s * dsub + 1, dsub)
    val c = unitVecs(corpus, idCol, vecCol, "id")
    // per-query: top-nprobe coarse lists (the s03 probe shape). The probe
    // list carries (query_id, __cid) plus the coarse dot (the residual ADC
    // base; one double); the vector + m×ksub LUT broadcast separately at
    // one row per query — attaching them before the explode would
    // replicate both nprobe-fold in the broadcast.
    val probeDots = array(model.centroids.zipWithIndex.map { case (cen, i) =>
      struct(dotLit(col("__u"), cen).as("d"), lit(i).as("cid"))
    }: _*)
    val q = unitVecs(queries, idCol, vecCol, "query_id")
    val probes = q
      .withColumn("__probe",
        explode_outer(slice(sort_array(probeDots, asc = false), 1, nprobe)))
      .filter(col("__probe").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select(col("query_id"), col("__probe.cid").as("__cid"),
        col("__probe.d").as("__cd"))
    val qlut = q
      .withColumn("__lut", array((0 until m).map { s =>
        array(model.pq.codebooks(s).map(cen => dotLit(sub(col("__u"), s), cen)): _*)
      }: _*))
      .select(col("query_id"), col("__u").as("__qu"), col("__lut"))
    // inverted lists partition the corpus, so a query's probed candidates
    // are distinct ids; list-pruned join on __cid, then the shared ADC tail
    val codesSrc =
      if (!pruneLists) codes
      else {
        val cids = probes.select(col("__cid")).distinct()
          .collect().map(_.getInt(0)).toSeq
        if (cids.isEmpty) codes.filter(lit(false))
        else {
          // chunked In probe (the bm25Search discipline, see graft.Pushdown):
          // an unchunked In past the session threshold silently degrades to
          // a min/max RANGE filter and reads every probed-range row group
          graft.Pushdown.ensureInThreshold(codes.sparkSession)
          cids.sorted.grouped(graft.Pushdown.InChunk)
            .map(chunk => codes.filter(col("__cid").isInCollection(chunk)))
            .reduce(_ union _)
        }
      }
    val cand0 = broadcast(probes).join(codesSrc, Seq("__cid"))
      .filter(col("query_id") =!= col("id"))
      .join(broadcast(qlut), Seq("query_id"))
    adcRankRerank(cand0, c, m, k, refine,
      adcBase = if (model.byResidual) col("__cd") else lit(0.0))
  }

  /** Inline train + encode + search — exactly [[ivfPqTrain]] →
    * [[ivfPqEncode]] → [[ivfPqSearch]] (parity pinned by DedupOpsSpec). */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, refine: Int = 4,
      trainSampleRows: Long = 262144L, byResidual: Boolean = false): DataFrame = {
    val model = ivfPqTrain(corpus, idCol, vecCol, nlist, m, ksub, iters,
      trainSampleRows, byResidual)
    ivfPqSearch(model, ivfPqEncode(model, corpus, idCol, vecCol), corpus,
      queries, idCol, vecCol, k, nprobe, refine)
  }

  /** u − centroid(assign(u)) with the centroid matrix folded in as
    * literals: the residual every `by_residual` IVF-PQ stage encodes. */
  private def residualOf(u: Column,
      centroids: IndexedSeq[Seq[Double]]): Column = {
    val cenArr = array(centroids.map(cen => array(cen.map(lit): _*)): _*)
    zip_with(u, element_at(cenArr, assignExpr(u, centroids) + 1),
      (a, b) => a - b)
  }

  /** Per-JVM trained-model memo for the s03/s05/s08/s09/s21/s22 oracle
    * rows: training is fully deterministic (md5 sample, lowest-id seeds,
    * the id-sorted [[lloyd]] fold — the same bits at every partitioning),
    * so the cached model is bit-identical to a fresh fit — the
    * rows' RESULTS are unchanged whether the memo hits or misses. What
    * changes is what Bench measures: the min-of-3 sweeps see the
    * steady-state SEARCH (the thing a deployment runs per query batch
    * against a persisted model — nobody retrains a quantizer per query at
    * 100 TB), with the one-time training cost timed separately in the
    * `train` section (the q38 layout-split precedent). */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  /** [[cachedModel]] opened to the sibling operators that consume a
    * clustering as an INPUT model (round 20): d15/t29's deterministic
    * [[kmeansFit]] centroids — a corpus maintains its cluster model once
    * per content, the dedup/labeling pass is the per-run job. Results are
    * identical hit or miss (kmeansFit's id-sorted fold is bit-replayable);
    * Bench times the one-time fit in its `train` section. Keyed like every
    * cachedModel entry: tag, dir and the embeddings content fingerprint. */
  private[ext] def cachedFit(tag: String, dir: String)(
      fit: => Seq[Array[Double]]): Seq[Array[Double]] =
    cachedModel(tag, dir)(fit)
  private def cachedModel[T <: AnyRef](tag: String, dir: String)(train: => T): T =
    Tables.memoByContent(modelCache, tag, dir, "embeddings")(train)
      .asInstanceOf[T]

  /** MD5 over the trained model's raw IEEE-754 bits (coarse centroids,
    * sub-codebooks, residual flag) — the content address for persisted
    * code tables. Codes are a pure projection of (model, data), so a code
    * table is only reusable under the EXACT model that produced it. Every
    * trainer here gives the same bits for the same data and parameters,
    * so the model key is a safety check: it catches a table written under
    * other training parameters or by a changed trainer, which the data
    * fingerprint alone would serve as stale codes (round-13 ADVICE #1). */
  private[graft] def modelFingerprint(model: AnyRef): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putD(d: Double): Unit = {
      buf.clear()
      buf.putLong(java.lang.Double.doubleToRawLongBits(d))
      md.update(buf.array())
    }
    model match {
      case m: IvfPqModel =>
        m.centroids.foreach(_.foreach(putD))
        md.update(if (m.byResidual) 1.toByte else 0.toByte)
        m.pq.codebooks.foreach(_.foreach(_.foreach(putD)))
      case m: PqModel =>
        m.codebooks.foreach(_.foreach(_.foreach(putD)))
      case other => md.update(other.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Per-(tag, dir, MODEL) PERSISTED code table, published through
    * [[graft.Tables.publishDerived]] (the [[graft.Tables.cachedDerived]]
    * protocol): built AT MOST ONCE per (dir-content, trained-model) pair,
    * then every s05/s08/s09 call searches the STORED table instead of
    * re-running the literal-heavy encode projection per sweep — exactly
    * what a deployment's steady state does against its written index.
    * Codes are a pure projection of (model, data), so the address folds in
    * the model's raw IEEE-754 bits ([[modelFingerprint]]) next to the data
    * fingerprint — a table written under a different model (other
    * parameters, or a changed trainer) misses and re-encodes instead of
    * serving stale codes (round-13/14 ADVICE #1). `listSorted` writes the
    * [[saveIvfPqCodes]] inverted-list layout; otherwise the table
    * range-sorts by id. */
  private[graft] def cachedCodes(s: SparkSession, dir: String, tag: String,
      model: AnyRef, listSorted: Boolean)(build: => DataFrame): DataFrame =
    s.read.parquet(Tables.publishDerived(dir, "embeddings", tag,
        key = modelFingerprint(model)) { tmp =>
      if (listSorted) saveIvfPqCodes(build, tmp)
      else build.repartitionByRange(col("id")).sortWithinPartitions(col("id"))
        .write.mode("overwrite").parquet(tmp)
    })

  /** The fixed 500-vector witness slice of s05/s08/s09/s21/s22: every SF
    * has ≥ 500 embeddings with ids dense from 0, so the slice — and every
    * oracle answer over it — is the same at every scale factor.
    *
    * Each of those rows consumes the slice from MANY plan subtrees
    * (training, encode, probes, LUTs, rerank), so it is localCheckpointed:
    * the big table is scanned ONCE per call instead of once per consumer
    * (at sf1.0 the un-checkpointed plan re-read the 10× table ~6 times per
    * run). Losing lineage is acceptable at this bound: the slice is
    * 500 × 64 floats (~128 KB) of executor block storage, and an executor
    * lost while holding it fails the row instead of recomputing it — a
    * retry re-reads 500 rows. `persist(MEMORY_AND_DISK)` would keep
    * lineage (a lost block recomputes), but it registers the frame with
    * the session's cache manager until an explicit `unpersist`, which a
    * row that returns a lazy frame has no place to call; the checkpointed
    * blocks are freed by the context cleaner once the frame is
    * unreachable. */
  private def witnessSlice(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "embeddings")
      .filter(col("vec_id") < 500).localCheckpoint(true)

  // ---------------------------------------------------------------- s08
  /** IVF-PQ in the covering configuration — the oracle row for the
    * [[ivfPqTrain]]/[[ivfPqEncode]]/[[ivfPqSearch]] seam: nprobe = nlist
    * makes every inverted list a candidate source and refine × k = 1000 ≥
    * |slice| makes the ADC heap keep everything, so the exact-cosine rerank
    * must equal brute-force top-5 over the same fixed 500-vector corpus
    * slice as s05 (and the same DuckDB brute-force answer). DedupOpsSpec
    * proves the ≡-brute property in-engine plus the approximate mode's
    * recall floor; this row proves it cross-engine. */
  val s08IvfPq: Q = (s, dir) =>
    ivfPqCoveringRow(s, dir, "s08", byResidual = false)

  /** The s08/s09 body: the covering IVF-PQ search (nprobe = nlist,
    * refine × k ≥ |slice|) over the witness slice. */
  private def ivfPqCoveringRow(s: SparkSession, dir: String, tag: String,
      byResidual: Boolean): DataFrame = {
    import s.implicits._
    val e = witnessSlice(s, dir)
    val q = e.filter($"vec_id" < 20)
    val model = cachedModel(tag, dir)(
      ivfPqTrain(e, "vec_id", "embedding", nlist = 8, m = 8, ksub = 16,
        iters = 2, byResidual = byResidual))
    // serve the PERSISTED list-sorted code table (built once per
    // dir-content); no pruneLists: the covering nprobe = nlist probes
    // every list, so the In push would be pure probe-job overhead
    val codes = cachedCodes(s, dir, tag, model, listSorted = true)(
      ivfPqEncode(model, e, "vec_id", "embedding"))
    ivfPqSearch(model, codes, e, q,
        "vec_id", "embedding", k = 5, nprobe = 8, refine = 200)
      .withColumn("cosine", round($"cosine", 4))
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------- s09
  /** The s08 covering witness with `by_residual = true`: the exact-cosine
    * rerank makes the covering configuration ≡ brute force REGARDLESS of
    * how the ADC scores candidates, so the residual path gets the same
    * brute-force oracle — proving its probe/encode/heap plumbing loses no
    * candidate. The residual-specific quantization QUALITY claim (finer
    * cells from the same budget) is DedupOpsSpec's recall comparison. */
  val s09IvfPqResidual: Q = (s, dir) =>
    ivfPqCoveringRow(s, dir, "s09", byResidual = true)

  // ---------------------------------------------------------------- s03
  /** IVF ANN at full probe (nprobe = nlist) — the oracle row for [[ivfKnn]]:
    * probing every inverted list makes the candidate set the whole corpus,
    * so the result must equal brute-force cosine top-5 over unit vectors
    * (DedupOpsSpec asserts the full-probe ≡ brute property in-engine; this
    * row proves it against the DuckDB brute-force answer). Ranking is on the
    * raw cosine with lower-id tie-break, exactly the [[topkUdaf]] contract. */
  val s03IvfFullprobe: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    val q = e.filter($"vec_id" < 20)
    // coarse model memoized per dir-content (round 20, the s05/s08/s09
    // rule). Doubly safe here: trainCoarse gives the same bits at every
    // partitioning, AND at full probe the result does not depend on the
    // centroids at all — every inverted list is probed, so the candidate
    // set is the whole corpus whatever the assignment (the property this
    // row exists to prove). Bench times the one-time fit in `train`.
    val cents = cachedModel("s03", dir)(
      withTrainSample(e, "vec_id", "embedding", 262144L)(
        trainCoarse(_, nlist = 8, iters = 2)))
    ivfKnn(e, q, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8,
        iters = 2, knownCentroids = Some(cents))
      .withColumn("cosine", round($"cosine", 4))
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------- s05
  /** PQ ANN in the covering-rerank configuration — the oracle row for
    * [[pqKnn]]: `refine × k = 1000 ≥ |corpus|` makes the ADC candidate set
    * the whole corpus, so the exact-cosine rerank must equal brute-force
    * top-5 (DedupOpsSpec proves the ≡-brute property in-engine AND its
    * independence from sampled codebook training; this row proves it against
    * the DuckDB brute-force answer). Same ranking contract as s03: raw
    * cosine descending, lower-id tie-break. */
  val s05PqRerank: Q = (s, dir) => {
    import s.implicits._
    // refine × k = 1000 ≥ |slice| — the covering-rerank invariant — holds
    // at EVERY scale factor. A fixed refine over the whole table held only
    // up to sf0.01 and silently turned approximate (and oracle-mismatching)
    // on bigger directories; scaling refine WITH the table made the witness
    // cost brute-force × a corpus-sized rerank heap (60 s at sf1.0). The
    // at-scale exact-mode bench signal is s03's full-probe job.
    val e = witnessSlice(s, dir)
    val q = e.filter($"vec_id" < 20)
    val model = cachedModel("s05", dir)(
      pqTrain(e, "vec_id", "embedding", m = 8, ksub = 16, iters = 2))
    val codes = cachedCodes(s, dir, "s05", model, listSorted = false)(
      pqEncode(model, e, "vec_id", "embedding"))
    pqSearch(model, codes, e, q,
        "vec_id", "embedding", k = 5, refine = 200)
      .withColumn("cosine", round($"cosine", 4))
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------- s06
  /** Embedding outlier detection — the curation step that drops vectors far
    * from their class centroid (mislabeled/noise rows; the within-cluster
    * half of the SemDeDup family): cosine of every vector against its
    * label's mean vector, flagged when below `threshold`.
    *
    * Scale shape: the centroid is a partial aggregation (Spark ML
    * `Summarizer.mean` — ObjectHashAggregate with map-side combine, state =
    * |labels| × dim on each task, never the corpus), broadcast back as a
    * |labels|-row build side; the cosine is the codegen'd
    * [[graft.functions.VectorExprs]] loop in a single corpus scan. */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, threshold: Double): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val v = df.select(col(idCol), col(labelCol),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val cen = v.groupBy(col(labelCol))
      .agg(vector_to_array(Summarizer.mean(array_to_vector(col("__v"))))
        .as("__c"))
    // two-stage rounding (6 then 4), the s01 contract: absorbs cross-engine
    // float-summation noise before the reported 4-decimal value
    val cos6 = round(graft.functions.VectorExprs.dot(col("__v"), col("__c")) /
      (graft.functions.VectorExprs.l2(col("__v")) *
        graft.functions.VectorExprs.l2(col("__c"))), 6)
    // +1e-9 before the 4-decimal round: the centroid mean's cross-engine
    // float-summation noise can land cos6 EXACTLY on a .00005 boundary
    // (sf0.01 vec 262 did) — the house half-way-tie guard (see t05)
    v.join(broadcast(cen), Seq(labelCol))
      .withColumn("__cos6", cos6)
      .select(col(idCol), col(labelCol),
        round(col("__cos6") + 1e-9, 4).as("cos_centroid"),
        (round(col("__cos6") + 1e-9, 4) < threshold).cast("long").as("outlier"))
  }

  val s06EmbeddingOutliers: Q = (s, dir) => {
    import s.implicits._
    embeddingOutliers(Tables.loadSpread(s, dir, "embeddings"),
      "vec_id", "embedding", "label", threshold = 0.0)
      .orderBy($"vec_id")
  }

  // ------------------------------------------------------------- int8 / s07
  /** Per-dimension (min, max) quantization ranges of a vector column, as ONE
    * 1-row frame `(q_min, q_max)` — the calibration step of scalar int8
    * quantization. Spark ML `Summarizer` min/max is a partial aggregation
    * whose state is 2 × dim doubles per task (never the corpus), so the
    * calibration is a single streaming scan at any scale. */
  def int8Ranges(df: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    df.select(transform(col(vecCol), x => x.cast("double")).as("__v"))
      .agg(
        vector_to_array(Summarizer.min(array_to_vector(col("__v")))).as("q_min"),
        vector_to_array(Summarizer.max(array_to_vector(col("__v")))).as("q_max"))
  }

  /** Scalar int8 encoding against `ranges` ([[int8Ranges]] output): each
    * dimension maps affinely to a 0..255 code, `round((x − min_d) / step_d)`
    * with `step_d = (max_d − min_d)/255` (code 0 when the dimension is
    * constant), saturating at 0/255 for values outside the calibration
    * ranges — queries or late-arriving rows beyond the corpus min/max
    * quantize to the nearest representable level instead of overflowing
    * the code domain. The 1-row ranges frame rides a broadcast cross join, so
    * encoding is a pure codegen'd projection over the corpus — this is the
    * 4× memory/shuffle-bandwidth lever for embedding pipelines at scale
    * (store/move codes, dequantize only where a score is computed; a
    * production sink would pack the codes array into a BinaryType blob). */
  def encodeInt8(df: DataFrame, vecCol: String, ranges: DataFrame,
      out: String = "codes"): DataFrame =
    df.crossJoin(broadcast(ranges))
      .withColumn(out, transform(transform(col(vecCol), x => x.cast("double")),
        (x, i) => {
          val mn = element_at(col("q_min"), i + 1)
          val step = (element_at(col("q_max"), i + 1) - mn) / lit(255.0)
          when(step > 0.0d,
            greatest(lit(0), least(lit(255), round((x - mn) / step).cast("int"))))
            .otherwise(lit(0))
        }))

  /** Unit-normalized dequantized vectors (idOut, __u) — shared by the search
    * and the spec's error-bound check. Requires q_min/q_max + codes cols. */
  private def dequantUnit(enc: DataFrame, idCol: String, idOut: String,
      codesCol: String = "codes"): DataFrame =
    enc
      .withColumn("__y", transform(col(codesCol), (c, i) => {
        val mn = element_at(col("q_min"), i + 1)
        val step = (element_at(col("q_max"), i + 1) - mn) / lit(255.0)
        mn + c.cast("double") * step
      }))
      .withColumn("__nrm", graft.functions.VectorExprs.l2(col("__y")))
      .select(col(idCol).as(idOut),
        transform(col("__y"), y => y / col("__nrm")).as("__u"))

  /** Brute-force cosine top-k in int8-quantized space: calibrate ranges on
    * the corpus, encode BOTH sides, rank by the dequantized cosine (raw
    * cosine over unit vectors, lower-id tie-break — the s03 ranking
    * contract). The search the codes representation admits: the corpus
    * streams as 64-byte codes instead of 256-byte floats, queries ride a
    * broadcast, and the ranking shuffle is capped at k rows per map
    * partition per query by the bounded-heap aggregator ([[topkUdaf]]).
    * Quantization error is bounded per dimension by step/2, so ranking
    * inversions are confined to near-ties (spec pins recall vs exact). */
  def knnInt8(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val ranges = int8Ranges(corpus, vecCol)
    val c = dequantUnit(encodeInt8(corpus, vecCol, ranges), idCol, "id")
    val q = dequantUnit(encodeInt8(queries, vecCol, ranges), idCol, "query_id")
      .withColumnRenamed("__u", "__qu")
    broadcast(q).join(c, col("query_id") =!= col("id"))
      .withColumn("cosine", // unit vectors: cosine == dot
        graft.functions.VectorExprs.dot(col("__qu"), col("__u")))
      .groupBy(col("query_id"))
      .agg(topkUdaf(k)(col("cosine"), col("id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__t")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__t._1").as("id"), col("__t._2").as("cosine"))
  }

  // ---------------------------------------------------------------- s07
  /** Int8-quantized brute KNN as an oracle row: both engines calibrate the
    * same per-dim ranges, produce the same codes (the affine transform and
    * the round land on identical doubles), and rank by the same dequantized
    * cosine — so the top-5 matches DuckDB exactly, proving the quantizer is
    * deterministic end-to-end, not just approximately right. */
  val s07Int8Knn: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    val q = e.filter($"vec_id" < 20)
    knnInt8(e, q, "vec_id", "embedding", k = 5)
      .withColumn("cosine", round($"cosine", 4))
      .orderBy($"query_id", $"rank")
  }

  // -------------------------------------------------------- binary / s10
  /** Sign-bit (1-bit) quantization: dimension `d` of the signature is set
    * iff `v[d] > 0`. Packed as TWO longs of 32 bits each (`sig0` = dims
    * 0..31, `sig1` = dims 32..63) so no term ever touches the sign bit —
    * the driver-side `1L << d` literals stay positive and the sum is safe
    * under ANSI overflow checking in both engines. This is the 32× memory /
    * shuffle-bandwidth lever (8 bytes vs 256 float bytes per vector), the
    * representation behind binary-quantized vector stores: candidate
    * ranking costs two XOR+popcount ops per pair instead of a 64-term
    * float dot product. */
  private def signBits(v: Column, from: Int, until: Int): Column =
    (from until until).map { d =>
      when(element_at(v, d + 1) > 0.0d, lit(1L << (d - from))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Adds `sig0`/`sig1` sign-signature columns for a double-array column. */
  def withBinarySig(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("sig0", signBits(col(vecCol), 0, 32))
      .withColumn("sig1", signBits(col(vecCol), 32, Dim))

  private def hamming64(a0: Column, a1: Column, b0: Column, b1: Column): Column =
    (bit_count(a0.bitwiseXOR(b0)) + bit_count(a1.bitwiseXOR(b1))).cast("long")

  /** Brute-force top-k in 1-bit-quantized space: rank by Hamming distance
    * between sign signatures (ascending, lower-id tie-break). Broadcast
    * queries, stream the corpus as 16-byte signatures, cap the ranking
    * shuffle at k rows per map partition per query with the bounded heap
    * ([[topkUdaf]] on the negated distance — its contract is score-desc).
    * Everything after the signature projection is integer arithmetic, so
    * the result is exactly reproducible in any engine — no float-rounding
    * tie risk at all. */
  def knnBinary(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = withBinarySig(
      corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v")), "__v")
      .select(col("id"), col("sig0"), col("sig1"))
    val q = withBinarySig(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__v")), "__v")
      .select(col("query_id"), col("sig0").as("qs0"), col("sig1").as("qs1"))
    broadcast(q).join(c, col("query_id") =!= col("id"))
      .withColumn("__ham", hamming64(col("qs0"), col("qs1"), col("sig0"), col("sig1")))
      .groupBy(col("query_id"))
      .agg(topkUdaf(k)(-col("__ham").cast("double"), col("id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__t")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__t._1").as("id"), (-col("__t._2")).cast("long").as("hamming"))
  }

  /** s10 oracle row: window-ranked form of [[knnBinary]] (same contract —
    * Hamming asc, lower-id tie-break; the udaf's tie-break on equal scores
    * is also lower-id, so both forms agree), DuckDB replays the signature
    * packing and `bit_count(xor(...))` bit-for-bit — an all-integer oracle
    * with zero float-boundary risk. */
  val s10BinaryKnn: Q = (s, dir) => {
    import s.implicits._
    val e = withBinarySig(vecs(s, dir), "v").select($"vec_id", $"sig0", $"sig1")
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"sig0".as("qs0"), $"sig1".as("qs1"))
    val w = Window.partitionBy($"query_id").orderBy($"hamming", $"vec_id")
    broadcast(q).join(e, $"query_id" =!= $"vec_id")
      .withColumn("hamming", hamming64($"qs0", $"qs1", $"sig0", $"sig1"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"vec_id".as("id"), $"hamming")
      .orderBy($"query_id", $"rank")
  }

  // ------------------------------------------------- random projection / s11
  /** Johnson–Lindenstrauss random projection 64 → 16 dims: the projection
    * matrix is md5-derived (`jl:j:d`, the s02 hyperplane recipe with its own
    * salt) so both engines rebuild it exactly; row `j` of the output is the
    * dot of the input with plane `j`. Plan-literal planes + the codegen'd
    * [[graft.functions.VectorExprs.dot]] keep the projection a shuffle-free
    * projection — the 4× downstream compute/memory lever for embedding
    * pipelines (brute-force scoring, clustering and LSH all get 4× cheaper
    * in the reduced space, with JL-bounded distance distortion). */
  private val JlDim = 16

  private[ext] def jlPlane(j: Int, dim: Int = Dim): Seq[Double] =
    (0 until dim).map(d => ((h60Local(s"jl:$j:$d") % 2001L) - 1000L) / 1000.0)

  /** Adds a `JlDim`-dim projected column `out` for a double-array column. */
  def projectJl(df: DataFrame, vecCol: String, out: String = "vjl"): DataFrame =
    df.withColumn(out, array((0 until JlDim).map { j =>
      dot(col(vecCol), array(jlPlane(j).map(lit): _*))
    }: _*))

  /** s11 oracle row: brute-force cosine top-5 in the PROJECTED space (the
    * s01 ranking contract: round-6 cosine desc, lower-id tie-break). Both
    * engines compute the same 16 left-to-right dot products over the same
    * md5-derived planes, so the projected vectors — and every cosine — are
    * bit-identical. */
  val s11JlKnn: Q = (s, dir) => {
    import s.implicits._
    val e = projectJl(vecs(s, dir).select($"vec_id", $"v"), "v")
      .withColumn("jn", graft.functions.VectorExprs.l2($"vjl"))
      .select($"vec_id", $"vjl", $"jn")
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"vjl".as("qv"), $"jn".as("qn"))
    val w = Window.partitionBy($"query_id").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(e, $"query_id" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"vjl") / ($"qn" * $"jn"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"vec_id".as("id"),
        round($"cos6", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  // -------------------------------------------------- binary rerank / s13
  /** Two-stage binary search — the production deployment of the s10
    * representation (coarse→fine, the PQ-rerank pattern at 1 bit): stage 1
    * ranks the corpus by signature Hamming distance (16 bytes/vector
    * streamed, two XOR+popcounts per candidate) and keeps `refine·k`
    * candidates per query; stage 2 joins ONLY those candidates back to
    * their float vectors for the exact cosine top-k. The full-precision
    * corpus is touched `refine·k/|corpus|`-sparsely via a keyed join —
    * the memory/bandwidth win of s10 with near-exact ranking quality.
    * Candidate selection is all-integer (Hamming asc, lower-id tie-break),
    * so the candidate SET — and with the s01 ranking contract the final
    * rows — are deterministic and engine-replayable. */
  def knnBinaryRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int = 10): DataFrame = {
    require(k >= 1 && refine >= 1, s"need k,refine >= 1, got $k,$refine")
    val c = withBinarySig(
      corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v")), "__v")
      .select(col("id"), col("sig0"), col("sig1"))
    val q = withBinarySig(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__v")), "__v")
      .select(col("query_id"), col("sig0").as("qs0"), col("sig1").as("qs1"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("__ham"), col("id"))
    val cands = broadcast(q).join(c, col("query_id") =!= col("id"))
      .withColumn("__ham", hamming64(col("qs0"), col("qs1"), col("sig0"), col("sig1")))
      .withColumn("__hrk", row_number().over(wH))
      .filter(col("__hrk") <= refine * k)
      .select(col("query_id"), col("id"))
    val vecsU = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", graft.functions.VectorExprs.l2(col("__v")))
    val qU = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", graft.functions.VectorExprs.l2(col("__qv")))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc, col("id"))
    cands
      .join(vecsU, Seq("id"))
      .join(broadcast(qU), Seq("query_id"))
      .withColumn("cos6", round(dot(col("__qv"), col("__v")) / (col("__qn") * col("__n")), 6))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        round(col("cos6"), 4).as("cosine"))
  }

  /** s13 oracle row: Hamming-prefilter top-50 → exact cosine top-5 for the
    * standard query set; DuckDB replays both stages (all-integer candidate
    * selection, then the s01 ranking contract). */
  val s13BinaryRerank: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    knnBinaryRerank(e, e.filter($"vec_id" < 20), "vec_id", "embedding",
      k = 5, refine = 10)
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------- s21
  /** Recall@5 of the PRODUCTION IVF-PQ serving path at a NON-covering
    * configuration — nprobe 2 of 8 lists, refine×k = 10 of ~499 candidates —
    * against the proven brute-force ranking (round-12 verdict #4: s12 only
    * measured the s02 LSH; the index a 100 TB deployment actually serves is
    * ivfPqSearch, whose recall under (nprobe, refine) was only
    * spec-floor-tested). The row runs exactly what production runs:
    * [[ivfPqTrain]], [[ivfPqEncode]] and [[ivfPqSearch]]. Training is the
    * id-sorted [[lloyd]] fold, so every centroid/codebook double — and
    * therefore every probe, ADC score, tie, and returned id — replays in
    * DuckDB: the oracle stages coarse Lloyd, per-subspace codebook Lloyd,
    * encode, probe, LUT-fold ADC top-10, exact rerank, then the s12 recall
    * join (the covering s08 witness proves the search plumbing loses no
    * candidate, this row proves the recall MEASUREMENT machinery
    * end-to-end). */
  val s21IvfPqRecall: Q = (s, dir) =>
    ivfPqRecallRow(s, dir, "s21", byResidual = false)

  // ---------------------------------------------------------------- s22
  /** The s21 recall measurement for the RESIDUAL IVF-PQ path
    * (by_residual = true — the configuration a deployment prefers: finer
    * cells from the same m×ksub budget): same non-covering shape (nprobe 2
    * of 8, refine·k 10), same training, but the sub-codebooks train and
    * encode on r = u − centroid(list(u)) and the ADC adds the coarse dot as
    * its base term. The DuckDB twin extends the s21 staging with the
    * residual projection (element-wise subtraction against the staged
    * coarse centroids) and the base-plus-LUT-fold score. Closes the
    * round-13 NEXT #3 gap: s09 proved the residual plumbing loses no
    * candidate under a covering witness; this row oracle-checks its recall
    * at a production config. */
  val s22IvfPqResidualRecall: Q = (s, dir) =>
    ivfPqRecallRow(s, dir, "s22", byResidual = true)

  /** The s21/s22 body: per-query recall@5 of the non-covering IVF-PQ
    * search over the witness slice against the brute-force top-5. */
  private def ivfPqRecallRow(s: SparkSession, dir: String, tag: String,
      byResidual: Boolean): DataFrame = {
    import s.implicits._
    val e = witnessSlice(s, dir)
    val q = e.filter($"vec_id" < 20)
    val model = cachedModel(tag, dir)(
      ivfPqTrain(e, "vec_id", "embedding", nlist = 8, m = 8, ksub = 16,
        iters = 2, byResidual = byResidual))
    val approx = ivfPqSearch(model, ivfPqEncode(model, e, "vec_id", "embedding"),
      e, q, "vec_id", "embedding", k = 5, nprobe = 2, refine = 2)
    val u = unitVecs(e, "vec_id", "embedding", "id")
    val qu = unitVecs(q, "vec_id", "embedding", "query_id")
      .select($"query_id", $"__u".as("__qu"))
    val wT = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"id")
    val truth = broadcast(qu).join(u, $"query_id" =!= $"id")
      .withColumn("cosine", graft.functions.VectorExprs.dot($"__qu", $"__u"))
      .withColumn("rk", row_number().over(wT).cast("long"))
      .filter($"rk" <= 5).select($"query_id", $"id")
    recallAtK(truth, approx.select($"query_id", $"id"), "query_id", "id", k = 5)
      .orderBy($"query_id")
  }

  // ---------------------------------------------------------------- s23
  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-5 most-similar corpus vectors whose LABEL DIFFERS from the
    * query's — the pairs an embedding model trains against (easy negatives
    * teach nothing; in-batch randoms are easy at scale). s14's filtered KNN
    * takes a STATIC corpus predicate; here the predicate is per-query
    * (label ≠ the query's own label), so it rides the join condition.
    *
    * Ranking contract is s01's (round-6 cosine desc, id tie-break), so the
    * row replays exactly. Scale shape: queries broadcast, the corpus — the
    * 100 TB side — streams map-side; the label mismatch prunes in the same
    * codegen'd stage as the dot product, and only ranked rows shuffle.
    * The API twin is [[DedupOps.hardNegatives]] (TopKAgg — k rows per map
    * partition per query reach the exchange). */
  val s23HardNegatives: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(e, $"qid" =!= $"vec_id" && $"qlabel" =!= $"label")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"qid", $"rk", $"vec_id".as("neg_id"), round($"cos6", 4).as("cos"))
      .orderBy($"qid", $"rk")
  }

  // ---------------------------------------------------------------- s24
  /** DBSCAN density clustering over the s02 LSH-bucketed neighbor graph —
    * the oracle row for [[DedupOps.dbscan]]: neighbors are same-bucket
    * pairs with cosine >= 0.12 (the d05 exact-verification discipline:
    * LSH prunes candidates, the dot product decides), cores need 2
    * neighbors, clusters are core-core components, borders attach to their
    * minimum core neighbor, the rest is noise. Every edge, degree, and
    * label replays in DuckDB (the s02 bucket CTE + the d07 recursive
    * fixpoint), so the full (degree, cluster, role) row set is exact.
    *
    * Scale shape: the bucket join bounds candidates, and the bucket WIDTH
    * adapts ([[bucketPlanes]]: E[bucket] ≈ 256 at every corpus size, so
    * candidates ≈ n·256 — linear, where the old fixed 8-plane bucketing
    * was n²/256); [[DedupOps.dbscan]] is pair-graph-keyed throughout;
    * nothing here is corpus-quadratic. */
  val s24DensityClusters: Q = (s, dir) => {
    import s.implicits._
    val e0 = vecs(s, dir)
    val e = e0.withColumn("bucket",
      bucketOf($"v", bucketPlanes(Tables.cachedCount(s, dir, "embeddings"))))
    val pairs = DedupOps.cosinePairs(e, "vec_id", "v", "bucket", 0.12)
    DedupOps.dbscan(e, "vec_id", pairs, "id_a", "id_b", minPts = 2)
      .select($"id".as("vec_id"), $"degree", $"cluster", $"role")
      .orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s25
  /** Maximal-marginal-relevance re-ranking: greedily pick `k` results per
    * query from its `nCand` most-relevant candidates, each pick maximizing
    * `lambda·relevance − (1−lambda)·max-similarity-to-already-picked` —
    * the standard redundancy-aware re-rank (Carbonell & Goldstein '98)
    * that keeps a near-duplicate-heavy corpus from returning k copies of
    * one document. Deterministic throughout: relevance is the s01 round-6
    * cosine contract, pairwise similarity is the raw unit-vector dot, and
    * every greedy argmax ties on the lower id — so all k staged picks
    * replay bit-for-bit (the kmeansFitPp staged-selection discipline).
    *
    * Scale shape (round-20 re-plan): ONE aggregation. The old plan ranked
    * candidates with a per-query window (the full |queries| × |corpus|
    * scored frame shuffled to the window sort), localCheckpointed the
    * slice, then ran k−1 join+agg+argmax stages — ~14 exchanges and a
    * checkpoint job per call. [[graft.functions.Aggregators.MmrAgg]] is
    * the TopKAgg bounded-heap form of the same contract: map-side combine
    * caps the exchange at nCand rows per (map partition, query), and the
    * greedy selection replays in `finish` over the ≤ nCand in-memory
    * candidates — bit-identical picks and scores (the contract list on
    * MmrAgg's scaladoc), one Exchange total, measured 6.0 s → 0.9 s at
    * sf0.1 (and the removed stages were corpus-independent constants, so
    * the win is pure fixed overhead — the scan-bound part is unchanged). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCand: Int, lambda: Double): DataFrame = {
    require(k >= 1 && nCand >= k, s"need k >= 1 and nCand >= k, got k=$k nCand=$nCand")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val c = unitVecs(corpus, idCol, vecCol, "id")
    val q = unitVecs(queries, idCol, vecCol, "query_id")
      .select(col("query_id"), col("__u").as("__qu"))
    val mmr = udaf(new graft.functions.Aggregators.MmrAgg(k, nCand, lambda),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long, Seq[Double])]())
    broadcast(q).join(c, col("query_id") =!= col("id"))
      .withColumn("rel",
        round(graft.functions.VectorExprs.dot(col("__qu"), col("__u")), 6))
      .groupBy(col("query_id"))
      .agg(mmr(col("rel"), col("id"), col("__u")).as("__picks"))
      .select(col("query_id"), explode(col("__picks")).as("__m"))
      // + 0.0 on both float outputs (and in the twin): round() can land on
      // -0.0 and the engines disagree on which zero they keep (the q25 note)
      .select(col("query_id"), col("__m._1").as("mmr_rank"),
        col("__m._2").as("id"),
        (col("__m._3") + lit(0.0)).as("rel"),
        (round(col("__m._4") + lit(1e-9), 4) + lit(0.0)).as("score"))
  }

  /** s25: [[mmrRerank]] over the standard 20-query witness — top-5 of 20
    * candidates at lambda = 0.7. The DuckDB twin stages the same greedy
    * selections CTE by CTE. */
  val s25MmrRerank: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    mmrRerank(e, e.filter($"vec_id" < 20), "vec_id", "embedding",
      k = 5, nCand = 20, lambda = 0.7)
      .orderBy($"query_id", $"mmr_rank")
  }

  // ---------------------------------------------------------------- s26
  /** s26: [[DedupOps.knnGraphAuto]] over the whole corpus — every vector's
    * top-3 exact-cosine neighbors among its banded-LSH candidates (4 bands
    * of SIZE-ADAPTIVE width: ceil(log2(n/32)) hyperplane bits, floor 4 —
    * the [[DedupOps.lshParts]] blocking symmetrized). Unlike s01/s02 the
    * corpus ranks against ITSELF — the primitive under NN-descent,
    * graph-ANN serving, and neighborhood diversity audits. The width must
    * scale with the corpus: frozen 4-bit bands measured 2.3 s at sf0.1 but
    * 49.9 s on the 10× scale-up (bucket sizes grow linearly, candidates
    * quadratically); the adaptive width holds E[bucket] ≈ 32 and
    * candidate volume linear in n at a constant the 100× scale-up fits
    * in local shuffle disk. Served MULTI-PROBE (round-16: the
    * [[DedupOps.KnnGraphProbes]] = 2 weakest-margin bit flips per band
    * also probe the exact index — mean recall@3 0.44 → ≈0.9 on the s29
    * gauge at a constant 3× candidate factor). The DuckDB twin derives
    * the SAME width from count(*) (exact-integer agreement with the Scala
    * loop — see [[DedupOps.adaptivePlanes]]), replays the banding, the
    * probe flips (round-6 margin rank, bit-index ties), the symmetrize,
    * and the s01 ranking contract (round-6 cosine desc, lower-id ties). */
  val s26KnnGraph: Q = (s, dir) => {
    import s.implicits._
    DedupOps.knnGraphAuto(Tables.loadSpread(s, dir, "embeddings"),
        "vec_id", "embedding", k = 3,
        knownCount = Some(Tables.cachedCount(s, dir, "embeddings")))
      // +1e-9 before the display round: a round-6 cosine can land EXACTLY on
      // a 4-digit halfway (0.25175 here at sf0.001) where the engines'
      // rounding rules disagree — the d04/s25 nudge; +0.0 folds -0.0
      .select($"src", $"rk", $"dst",
        (round($"cos6" + lit(1e-9), 4) + lit(0.0)).as("cos"))
      .orderBy($"src", $"rk")
  }

  // ---------------------------------------------------------------- s27
  /** s27: [[kmeansFitSpherical]] at the s15 configuration (fit on the
    * vec_id < 256 sample, k = 4, 2 Lloyd rounds), whole-table assignment
    * over the SAME unit vectors. The DuckDB twin is the s15 staging with
    * the corpus normalized in the base CTE and every round's mean
    * projected back to the unit sphere — so the full spherical training,
    * not just the labels, is cross-engine bit-pinned. dist2 on unit
    * vectors is 2·(1 − cos): the output ranks by cosine. */
  val s27KmeansSpherical: Q = (s, dir) => {
    import s.implicits._
    val raw = Tables.loadSpread(s, dir, "embeddings")
    // the fit normalizes its own input — pass RAW vectors both places so
    // training and assignment share one single normalization
    val cents = kmeansFitSpherical(raw.filter($"vec_id" < 256),
      "vec_id", "embedding", k = 4, iters = 2)
    kmeansAssign(unitVecs(raw, "vec_id", "embedding", "vec_id"),
      "vec_id", "__u", cents).orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s28
  /** s28: [[clusterQuality]] over the pinned s15 training (fit on
    * vec_id < 256, k = 4, 2 Lloyd rounds) — per-cluster size, inertia, and
    * mean simplified silhouette of the whole-corpus assignment. The DuckDB
    * twin rides the s15 staged training and recomputes the sorted
    * (own, runner-up) distance pair per row. */
  val s28ClusterQuality: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val cents = kmeansFit(e.filter($"vec_id" < 256), "vec_id", "v",
      k = 4, iters = 2)
    clusterQuality(e, "vec_id", "v", cents).orderBy($"cluster")
  }

  // ---------------------------------------------------------------- s29
  /** s29: [[recallAtK]]@3 of the s26 banded knn-graph against brute-force
    * truth — the quality gauge for the one approximate operator whose
    * recall was previously unmeasured (round-13 NEXT #2). Evaluated on the
    * fixed 500-vector slice (the s05 witness discipline: SF-stable truth,
    * oracle-cheap replay) at s26's PRODUCTION configuration: the band
    * width [[DedupOps.adaptivePlanes]] derives from the FULL corpus count
    * (round-15 ADVICE — a fixed 4×4 layout stopped measuring what s26
    * serves once the width went size-adaptive) and the
    * [[DedupOps.KnnGraphProbes]] multi-probe default. Multi-probe is the
    * round-16 tuned operating point: at the exact-bucket-only banding the
    * mean recall@3 measured 0.44; probing the two weakest-margin bit flips
    * per band lifts it to ≈0.9 at a constant 3× candidate factor. Still
    * NON-covering — per-src recalls land strictly inside (0, 1) on
    * contested neighborhoods, so the row measures the blocking, not a
    * tautology. A src whose buckets hold no other member emits no graph
    * rows and reports recall 0 — the [[DedupOps.knnGraph]] "unknown
    * neighborhood" contract made visible to the evaluation. */
  val s29KnnGraphRecall: Q = (s, dir) => {
    import s.implicits._
    val full = Tables.loadSpread(s, dir, "embeddings")
    val pw = DedupOps.adaptivePlanes(
      Tables.cachedCount(s, dir, "embeddings"), 32L, 4)
    val e = vecs(s, dir).filter($"vec_id" < 500)
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    val truth = broadcast(
        e.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
      .join(e, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3).select($"qid", $"vec_id")
    val approx = DedupOps.knnGraph(
        full.filter($"vec_id" < 500), "vec_id", "embedding", k = 3,
        planesPerBand = pw, probes = DedupOps.KnnGraphProbes)
      .select($"src".as("qid"), $"dst".as("vec_id"))
    recallAtK(truth, approx, "qid", "vec_id", k = 3).orderBy($"query_id")
  }

  // ---------------------------------------------------------------- s30
  /** Deterministic top-principal-component fit — power iteration over the
    * mean-centered, id-sorted training sample: the primitive under
    * embedding WHITENING and "all-but-the-top" post-processing (Mu &
    * Viswanath 2018 — removing the dominant direction measurably improves
    * similarity search on anisotropic embedding spaces) and the per-vector
    * projection a curation pipeline uses to audit/strip that direction.
    *
    * Determinism contract (the kmeans discipline): the sample collects
    * id-sorted to the driver (sample-bounded — k×dim-class state, never
    * the corpus), the mean and every matrix-vector fold run sequentially
    * in id order, the init is the md5-derived pseudo-random direction
    * ((h60("pi:<d>") % 2001 − 1000)/1000 — no transcendentals), and a
    * zero-norm iterate keeps the previous vector (the [[lloyd]] guard).
    * Every double therefore replays bit-exactly in the DuckDB twin's
    * staged CTEs (s30 oracle row).
    *
    * Scale shape: training is one bounded collect; the corpus-wide
    * projection is a single codegen'd dot against plan literals — a
    * shuffle-free scan at any size. Returns (mean, component). */
  def topComponentFit(train: DataFrame, idCol: String, vecCol: String,
      iters: Int = 8, maxSample: Int = 65536): (Array[Double], Array[Double]) = {
    val sp = train.sparkSession
    import sp.implicits._
    require(maxSample >= 1, s"maxSample >= 1, got $maxSample")
    // the fit is a DRIVER-side fold, so the sample bound must live in the
    // API, not in caller discipline (round-17 verdict #4 — the kCenterPicks
    // rule): collect at most maxSample+1 id-sorted rows (TakeOrdered — no
    // full-sample shuffle) and FAIL on overflow rather than silently
    // truncate, which would change the fitted component under a contract
    // that promises the exact sample the caller named.
    val sample = train
      .select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
      .orderBy(col("__id")).limit(maxSample + 1)
      .as[(Long, Seq[Double])].collect().map(_._2.toArray)
    require(sample.length <= maxSample,
      s"topComponentFit: training sample exceeds maxSample=$maxSample rows " +
        "- the fit collects to the driver; pass a bounded sample (the s30 " +
        "vec_id<256 rule) or raise maxSample deliberately")
    require(sample.nonEmpty, "topComponentFit: empty training sample")
    val dim = sample.head.length
    val n = sample.length.toDouble
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var d = 0
      while (d < a.length) { acc += a(d) * b(d); d += 1 }
      acc
    }
    val mu = new Array[Double](dim)
    sample.foreach { x =>
      var d = 0; while (d < dim) { mu(d) += x(d); d += 1 }
    }
    locally { var d = 0; while (d < dim) { mu(d) = mu(d) / n; d += 1 } }
    val ctr = sample.map(x => Array.tabulate(dim)(d => x(d) - mu(d)))
    var v = Array.tabulate(dim)(d =>
      ((TextOps.h60Local(s"pi:$d") % 2001L) - 1000L) / 1000.0)
    for (_ <- 0 until iters) {
      val acc = new Array[Double](dim)
      ctr.foreach { c =>
        val s = dotSeq(c, v)
        var d = 0; while (d < dim) { acc(d) += s * c(d); d += 1 }
      }
      val nrm = math.sqrt(dotSeq(acc, acc))
      if (nrm != 0) v = acc.map(_ / nrm)
    }
    (mu, v)
  }

  /** s30: [[topComponentFit]] on the s15 sample configuration (vec_id <
    * 256, 8 power-iteration rounds), then every corpus vector's projection
    * onto the fitted component — (x − μ)·v computed as x·v − μ·v so the
    * corpus scan is one codegen'd dot against literals. The DuckDB twin
    * stages the whole fit (mean fold, md5 init, 8 matrix-vector roundtrips
    * with re-normalization) and recomputes μ·v from its own staged
    * doubles, so the full training replays cross-engine bit-exactly. */
  val s30TopComponent: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val (mu, v) = topComponentFit(e.filter($"vec_id" < 256), "vec_id", "v")
    var muDotV = 0.0
    locally { var d = 0; while (d < mu.length) { muDotV += mu(d) * v(d); d += 1 } }
    val vLit = array(v.toIndexedSeq.map(lit): _*)
    e.select($"vec_id",
        (round(dot($"v", vLit) - lit(muDotV) + lit(1e-9), 4) + lit(0.0))
          .as("proj"))
      .orderBy($"vec_id")
  }

  /** All-but-the-top transformation (Mu & Viswanath 2018): subtract the
    * mean and each vector's projection onto the fitted top component —
    * `x' = (x − μ) − ((x − μ)·v)·v` — the post-processing that removes the
    * dominant "common direction" anisotropic embedding spaces share and
    * measurably improves cosine retrieval. Fit via [[topComponentFit]] on
    * a bounded sample; the transform itself is a shuffle-free codegen'd
    * projection against plan literals (the projection column `__p` is
    * materialized FIRST so the zip_with lambda references an attribute —
    * inlining the dot into the lambda would re-evaluate it per element,
    * the TextOps lambda-CSE trap). Output: the input columns with `vecCol`
    * replaced by the transformed vector. */
  def removeTopComponent(df: DataFrame, idCol: String, vecCol: String,
      mu: Array[Double], v: Array[Double]): DataFrame = {
    var muDotV = 0.0
    locally { var d = 0; while (d < mu.length) { muDotV += mu(d) * v(d); d += 1 } }
    val vLit = array(v.toIndexedSeq.map(lit): _*)
    val muLit = array(mu.toIndexedSeq.map(lit): _*)
    val others = df.columns.filterNot(_ == vecCol).map(col)
    df.withColumn("__v64", transform(col(vecCol), x => x.cast("double")))
      .withColumn("__p", dot(col("__v64"), vLit) - lit(muDotV))
      .withColumn(vecCol,
        zip_with(zip_with(col("__v64"), muLit, (a, b) => a - b), vLit,
          (a, b) => a - col("__p") * b))
      .select((others :+ col(vecCol)).toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------- s31
  /** s31: the [[removeTopComponent]] residual audit — per corpus vector,
    * its L2 norm after the all-but-the-top transform under the s30 fit.
    * Vectors dominated by the common direction collapse toward 0; content
    * that carries signal OFF the top component keeps most of its norm —
    * exactly the quantity a curation pipeline inspects before deciding to
    * whiten. The DuckDB twin rides the s30 staged fit (custom tail) and
    * recomputes projection, subtraction, and the sequential norm from its
    * own staged doubles — bit-exact. */
  val s31AbttResidual: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val (mu, v) = topComponentFit(e.filter($"vec_id" < 256), "vec_id", "v")
    removeTopComponent(e.select($"vec_id", $"v"), "vec_id", "v", mu, v)
      .select($"vec_id",
        (round(graft.functions.VectorExprs.l2($"v") + lit(1e-9), 4) + lit(0.0))
          .as("resid"))
      .orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s32
  /** s32: the s01 brute-force cosine top-5 ranking over
    * [[removeTopComponent]]-TRANSFORMED vectors — ABTT composed into
    * retrieval, the published point of the transform (Mu & Viswanath
    * 2018: removing the dominant common direction measurably improves
    * cosine similarity on anisotropic embedding spaces; the spec proves
    * the improvement on a planted-common-direction corpus, this row pins
    * the exact production ranking). Same fit as s30/s31 (vec_id < 256,
    * 8 power-iteration rounds); the transform is plan-literal, so the
    * DuckDB twin is the s30 staged fit + the s31 transform tail + the s01
    * ranking CTE — the whole chain replays bit-exactly. Scale shape: the
    * fit is one bounded collect; transform + ranking is the s01 broadcast
    * scan over shuffle-free codegen'd projections. */
  val s32AbttKnn: Q = (s, dir) => {
    import s.implicits._
    val e0 = vecs(s, dir)
    val (mu, v) = topComponentFit(e0.filter($"vec_id" < 256), "vec_id", "v")
    val t = removeTopComponent(e0.select($"vec_id", $"v"), "vec_id", "v", mu, v)
      .withColumn("nrm", graft.functions.VectorExprs.l2($"v"))
    val q = t.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(t, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      // +1e-9 before the display round (a round-6 cosine can land exactly
      // on a 4-digit halfway), +0.0 folds -0.0 — the s26 nudge
      .select($"qid", $"rk", $"vec_id",
        (round($"cos6" + lit(1e-9), 4) + lit(0.0)).as("cos"))
      .orderBy($"qid", $"rk")
  }

  // ---------------------------------------------------------------- s34
  /** s34: [[Retrieval.rrfFuse]] — reciprocal-rank fusion of two
    * heterogeneous rankings over the same query set (the hybrid-retrieval
    * combiner, Cormack et al. 2009): the s01 brute exact-cosine top-10 and
    * the s10 binary-signature Hamming top-10, fused at k0 = 60 to a top-5.
    * RRF is rank-based, so the two rankers' incomparable scores (cosine in
    * [−1, 1] vs integer Hamming distance) need no normalization — exactly
    * why a production hybrid stack (lexical + dense, or cheap-signature +
    * exact) reaches for it. The DuckDB twin chains the s01 and s10 ranking
    * CTEs (both oracle-proven shapes) into the fusion sum; contributions
    * are 1/(60 + rank) with exact-integer denominators and double addition
    * is commutative, so the fused score replays bit-exactly. */
  val s34RrfHybrid: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val w = Window.partitionBy($"query_id").orderBy($"cos6".desc, $"vec_id")
    val cosR = broadcast(
        e.filter($"vec_id" < 20)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn")))
      .join(e, $"query_id" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10).select($"query_id", $"vec_id".as("id"), $"rank")
    val eb = withBinarySig(e, "v").select($"vec_id", $"sig0", $"sig1")
    val wh = Window.partitionBy($"query_id").orderBy($"hamming", $"vec_id")
    val hamR = broadcast(
        eb.filter($"vec_id" < 20)
          .select($"vec_id".as("query_id"), $"sig0".as("qs0"), $"sig1".as("qs1")))
      .join(eb, $"query_id" =!= $"vec_id")
      .withColumn("hamming", hamming64($"qs0", $"qs1", $"sig0", $"sig1"))
      .withColumn("rank", row_number().over(wh).cast("long"))
      .filter($"rank" <= 10).select($"query_id", $"vec_id".as("id"), $"rank")
    Retrieval.rrfFuse(Seq(cosR, hamR), "query_id", "id", "rank", k = 5)
      .orderBy($"query_id", $"rrf_rank")
  }

  /** The s02 serving path as a REUSABLE (query_id, id, rank) ranking at
    * arbitrary depth `k` — the budgeted margin-ordered multi-probe lookup
    * against the unchanged single-band index. Feeds the production hybrid
    * fusion ([[s36RrfServedRecall]], BenchApi `rrf_served`): both fusion
    * legs are index-served, so the composition stays SF-near-independent
    * where s34's two brute scans grow with the corpus. */
  private[graft] def s02ProbedRanking(s: SparkSession, dir: String,
      k: Int, budget: Int => Int = s02Budget): DataFrame = {
    import s.implicits._
    val e0 = vecs(s, dir)
    val pw = bucketPlanes(Tables.cachedCount(s, dir, "embeddings"))
    val t = budget(pw)
    log.info(s"s02ProbedRanking: width=$pw k=$k budget=$t " +
      f"probeFraction=${(t + 1).toDouble / (1L << pw)}%.4f")
    val e = bucketTable(s, dir)
    val q = e0.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"),
        bucketOf($"v", pw).as("b0"), sortedMarginsOf($"v", pw).as("sm"))
      .select($"qid", $"qv", $"qn", $"b0",
        explode(probeMasksBudgeted($"sm", s02ProbeBits(pw), t)).as("mask"))
      .select($"qid", $"qv", $"qn", $"b0".bitwiseXOR($"mask").as("bucket"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(e, Seq("bucket"))
      .filter($"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"qid".as("query_id"), $"vec_id".as("id"), $"rank")
  }

  /** Content-addressed per-dir binary sign-signature table
    * (vec_id, sig0, sig1) — the [[graft.ext.Dedup]] `simhashSigTable`
    * discipline for embeddings: the s10 representation a deployment
    * materializes ONCE (16 bytes/vector, 32× smaller than the float
    * vectors) and serves every Hamming ranking from, instead of
    * re-reading and re-hashing the full-precision corpus per query
    * batch. Keyed on the embeddings stat+footer fingerprint via
    * [[graft.Tables.cachedDerived]], so a regenerated dir rebuilds and
    * repeat invocations read the stored parquet. Signatures are pure
    * integer projections of the vector signs — bit-identical to the
    * inline [[withBinarySig]] computation, so every oracle row is
    * unchanged whichever side builds them. */
  private[graft] def binarySigTable(s: SparkSession, dir: String): DataFrame =
    Tables.cachedDerived(s, dir, "embeddings", "binsig_64")(
      withBinarySig(Tables.loadSpread(s, dir, "embeddings")
          .select(col("vec_id"), asDouble(col("embedding")).as("__v")), "__v")
        .select(col("vec_id"), col("sig0"), col("sig1")))

  /** Raw Hamming top-`k` per witness query served from a
    * [[binarySigTable]]-shaped relation — the SERVED form of the s10/s34
    * Hamming leg: binary codes exist precisely so the "brute" ranking is
    * a cheap 16-byte-per-vector streamed scan (two XOR+popcounts per
    * candidate, all-integer, engine-replayable), and the signature table
    * is the materialized index it streams. Emits (query_id, id, rank);
    * ranking is (hamming asc, id asc) — identical to the s34 brute leg,
    * so fusing this leg costs ZERO agreement (measured: fusing it with
    * the exact cosine leg reproduces the s34 top-5 at agreement 1.000 on
    * both gate scales). */
  private[graft] def hammingRankingFromSigs(sigs: DataFrame,
      k: Int): DataFrame = {
    val q = sigs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"),
        col("sig0").as("qs0"), col("sig1").as("qs1"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__ham"), col("vec_id"))
    broadcast(q).join(sigs, col("query_id") =!= col("vec_id"))
      .withColumn("__ham",
        hamming64(col("qs0"), col("qs1"), col("sig0"), col("sig1")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("id"), col("rank"))
  }

  /** The PRODUCTION hybrid fusion (round-16 verdict #4, legs re-picked
    * round 17): RRF over two INDEX-SERVED rankings — the s02 budgeted
    * multi-probe cosine top-10 and the [[hammingRankingFromSigs]] Hamming
    * top-10 streamed from the persisted [[binarySigTable]] — fused at
    * k0 = 60 to a top-5. s34 fuses the same two RANKING FUNCTIONS brute
    * (float-vector cosine scan + signature scan); here the cosine leg is
    * a bounded multi-probe index lookup and the Hamming leg reads the
    * materialized 16-byte codes, so the composition is what a deployment
    * actually serves.
    *
    * Leg choice is MEASURED (round-17 decomposition, both gate scales):
    * the round-16 composition fused the s13 binary-RERANK leg — which
    * re-ranks its Hamming candidates by COSINE, a different ranking
    * function from s34's raw-Hamming leg — and that metric mismatch
    * capped agreement@5 at 0.49–0.53 structurally: deepening both legs
    * to k=20/40 moved it ≤ 0.02, and even a PERFECT cosine leg fused
    * with the rerank leg reached only 0.54/0.58. Serving the Hamming leg
    * as itself (this composition) measures 0.91/0.90; swapping the
    * cosine leg for the s26 multi-band graph ranking reaches 0.96/0.95
    * at graph-build cost (s26: 109 s at the 100× probe vs
    * SF-near-independent here); the exact-legs ceiling is 1.000. s36
    * pins the served agreement per query. */
  /** The served fusion's cosine-LEG ROUTER: picks the leg family from the
    * probe model at the corpus' adaptive width — "probed" while the
    * budgeted single-band family can still DELIVER
    * [[S02FusionTargetRecall]] (the family caps at 2^[[s02ProbeBits]]−1
    * subsets, and past w = [[S02ProbeBitsCap]] the mass outside the
    * candidate bits makes the target unreachable: model recall at the
    * capped budget collapses to (1−p)^(w−12) ≈ 0.61 at w = 13). Past the
    * cap the choice splits on what the deployment already pays for
    * (round-18 verdict #2 — the width-cap cost cliff): "graph" (the s26
    * multi-band leg, recall 0.90 at every width by construction of its
    * own adaptive banding) only when the caller states the knn graph is
    * ALREADY maintained for dedup/diversity and the fusion reads it for
    * free; otherwise "ivf" — the [[ivfRankingTop]] coarse-quantizer leg,
    * whose nprobe derives from the SAME fusion target via the calibrated
    * [[LshTuning.ivfModelRecall]] and whose cost is one assignment scan +
    * a candidate-fraction ranking instead of the full graph build
    * (measured at the 100× probe: the graph leg prices at ~109 s of
    * build; the IVF leg at the s38 single-query bench time). Pure driver-side math
    * over the corpus count — the [[LshTuning.probeBudget]] discipline
    * applied to LEG CHOICE. */
  private[graft] def fusionLegPlan(n: Long,
      graphMaintained: Boolean = false): String = {
    val w = bucketPlanes(n)
    val p = 1.0 - LshTuning.hyperplaneAgreement(S02NeighborCos)
    val deliverable = LshTuning.probeModelRecall(
      s02FusionBudget(w), p, w, s02ProbeBits(w)) >= S02FusionTargetRecall
    if (deliverable) "probed"
    else if (graphMaintained) "graph"
    else "ivf"
  }

  /** [[rrfServedTop5]] with the cosine leg picked by [[fusionLegPlan]] —
    * the deployment entry point: probed single-band fusion while the
    * budget delivers the stated target (agreement 0.99/0.98 measured at
    * the gate scales); past the width cap, the graph-leg fusion when the
    * graph is maintained (0.96/0.95 measured, priced at the graph build
    * the deployment already runs) and the IVF-leg fusion otherwise (s38 —
    * assignment-scan cost). "Maintained" is SELF-DETECTED by default
    * (round-19 verdict #2): `graphMaintained = None` probes the derived
    * registry for a committed [[knnGraphLegTable]] artifact at the
    * current dir fingerprint ([[graphLegMaintained]]) — the graph leg is
    * routed only when its build is PROVABLY already paid, so a stale or
    * optimistic caller assertion can no longer silently serve a full
    * graph build. `Some(b)` remains as an explicit override for callers
    * that maintain the graph outside this registry. The log states which
    * evidence fired. */
  def rrfServedTop5Auto(s: SparkSession, dir: String,
      graphMaintained: Option[Boolean] = None): DataFrame = {
    val n = Tables.cachedCount(s, dir, "embeddings")
    val (leg, evidence) = resolveFusionLeg(s, dir, n, graphMaintained)
    log.info(s"rrfServedTop5Auto: n=$n width=${bucketPlanes(n)} leg=$leg " +
      s"($evidence)")
    leg match {
      case "probed" => rrfServedTop5(s, dir)
      case "graph"  => rrfGraphFusedTop5(s, dir)
      case _        => rrfIvfFusedTop5(s, dir)
    }
  }

  /** The leg choice plus the EVIDENCE that fired it — split from
    * [[rrfServedTop5Auto]] so the routing is spec-able without running a
    * fusion. */
  private[graft] def resolveFusionLeg(s: SparkSession, dir: String, n: Long,
      graphMaintained: Option[Boolean]): (String, String) = {
    val (maintained, evidence) = graphMaintained match {
      case Some(b) => (b, s"caller-asserted graphMaintained=$b")
      case None =>
        val fresh = graphLegMaintained(s, dir)
        (fresh,
          if (fresh) "registry probe: committed knngraphleg artifact at the current dir fingerprint"
          else "registry probe: no knngraphleg artifact at the current dir fingerprint")
    }
    (fusionLegPlan(n, maintained), evidence)
  }

  private[graft] def rrfServedTop5(s: SparkSession, dir: String): DataFrame = {
    // the probed leg runs the DEEPER fusion budget (S02FusionTargetRecall
    // — see its scaladoc for the measured agreement/cost curve); leg depth
    // stays k=10, matching the brute fusion's legs (deepening the served
    // leg past the truth's depth injects rank-11+ contributions the brute
    // composition never sees — measured to HURT agreement, not help)
    val probed = s02ProbedRanking(s, dir, k = 10, budget = s02FusionBudget)
    val ham = hammingRankingFromSigs(binarySigTable(s, dir), k = 10)
    Retrieval.rrfFuse(Seq(probed, ham), "query_id", "id", "rank", k = 5)
  }

  // ---------------------------------------------------------------- s36
  /** s36: per-query recall@5 of the SERVED hybrid fusion
    * ([[rrfServedTop5]]) against the s34 brute-fusion top-5 — the
    * measurement that closes the round-16 verdict #4 loop: what does
    * serving the fusion legs from materialized indexes cost against the
    * brute composition? History: the round-16 rerank-leg composition
    * measured 0.53/0.49 (its cosine re-ranking was a DIFFERENT ranking
    * function from s34's raw-Hamming leg — the decomposition is on
    * [[rrfServedTop5]]'s scaladoc); the round-17 leg re-pick (probed
    * cosine at the 0.8 budget + signature-table Hamming) lifted it to
    * 0.91/0.90; round 18 deepens the probed LEG's budget to the
    * [[S02FusionTargetRecall]] = 0.95 target and measures **0.99
    * (sf0.001) / 0.98 (sf0.01)** — the residual 0.01–0.02 is RRF rank
    * sensitivity exactly at the top-5 cutoff under the leg's remaining
    * ~0.05 recall gap (the measured target curve is on the constant's
    * scaladoc). Both engines replay every stage: the budgeted probe
    * list, the all-integer signature ranking, the 1/(60+rank) fusion
    * sums (exact-integer denominators, commutative addition), and the
    * recall join. */
  val s36RrfServedRecall: Q = (s, dir) => {
    import s.implicits._
    val truth = s34RrfHybrid(s, dir).select($"query_id", $"id")
    val served = rrfServedTop5(s, dir).select($"query_id", $"id")
    recallAtK(truth, served, "query_id", "id", k = 5).orderBy($"query_id")
  }

  /** The s26 multi-band graph ranking restricted to the witness queries,
    * as a (query_id, id, rank) fusion leg at depth `k` — the PREMIUM
    * cosine leg for hybrid fusion: the banded multi-probe graph measures
    * recall@3 0.90 (s29) where the single-band budgeted probe measures
    * 0.8, at graph-build cost (the graph ranks the whole corpus against
    * itself — worth it exactly when the deployment already maintains the
    * knn graph for dedup/diversity and the fusion can read it for free).
    * Per-src ranking depends only on that src's candidate edges, so
    * filtering to the query slice before or after ranking is equivalent —
    * both engines filter first. */
  private[graft] def graphRankingTop(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    import s.implicits._
    require(k <= KnnGraphLegDepth,
      s"graph leg depth k=$k exceeds the maintained store's depth $KnnGraphLegDepth")
    knnGraphLegTable(s, dir)
      .filter($"src" < 20 && $"rk" <= k)
      .select($"src".as("query_id"), $"dst".as("id"), $"rk".as("rank"))
  }

  /** Depth of the maintained knn-graph-leg store — the fusion legs' k. */
  private[graft] val KnnGraphLegDepth = 10

  /** The MAINTAINED knn-graph artifact the graph-leg fusion serves from:
    * [[DedupOps.knnGraphAuto]]'s full (src, dst, rk ≤ 10) ranking,
    * persisted content-addressed via [[graft.Tables.cachedDerived]] like
    * every other serving index (binsig, s02 buckets, ivfleg). This is
    * what makes "the deployment already maintains the knn graph" a
    * DETECTABLE state instead of a caller assertion (round-19 verdict
    * #2): a deployment that maintains the graph for dedup/diversity
    * calls this (or s37) once per corpus content; the build is then paid,
    * the artifact exists for the current dir fingerprint, and
    * [[rrfServedTop5Auto]]'s registry probe routes the graph leg
    * for free. knnGraphAuto is deterministic (banded candidates + exact
    * integer/rounded ranking), so the persisted store replays the inline
    * computation row-for-row and s37's oracle twin is unchanged. */
  private[graft] def knnGraphLegTable(s: SparkSession, dir: String): DataFrame =
    Tables.cachedDerived(s, dir, "embeddings", s"knngraphleg_k$KnnGraphLegDepth",
        family = Some("knngraphleg_k"))(
      DedupOps.knnGraphAuto(Tables.loadSpread(s, dir, "embeddings"),
          "vec_id", "embedding", k = KnnGraphLegDepth,
          knownCount = Some(Tables.cachedCount(s, dir, "embeddings")))
        .select(col("src"), col("dst"), col("rk")))

  /** The registry probe behind [[rrfServedTop5Auto]]'s leg choice: is a
    * committed [[knnGraphLegTable]] artifact present for the CURRENT
    * content of `<dir>/embeddings.parquet`? Read-only — never builds;
    * stale content (changed fingerprint) answers `false`. */
  private[graft] def graphLegMaintained(s: SparkSession, dir: String): Boolean =
    Tables.derivedExists(dir, "embeddings", s"knngraphleg_k$KnnGraphLegDepth")

  /** The GRAPH-LEG hybrid fusion: [[graphRankingTop]] top-10 ∪ the
    * [[hammingRankingFromSigs]] signature-table Hamming top-10, RRF-fused
    * to a top-5. In round 17 this was the highest-agreement served
    * composition (0.96/0.95 vs the then-0.8-budget probed fusion's
    * 0.91/0.90); the round-18 fusion-budget deepening moved the probed
    * composition PAST it (0.99/0.98 at SF-near-independent cost), so the
    * graph leg's remaining case is a deployment that already maintains
    * the knn graph and fuses it for free — s37 keeps that point on the
    * quality/cost curve measured rather than asserted. */
  private[graft] def rrfGraphFusedTop5(s: SparkSession, dir: String): DataFrame = {
    val graphLeg = graphRankingTop(s, dir, k = 10)
    val ham = hammingRankingFromSigs(binarySigTable(s, dir), k = 10)
    Retrieval.rrfFuse(Seq(graphLeg, ham), "query_id", "id", "rank", k = 5)
  }

  // ---------------------------------------------------------------- s37
  /** s37: per-query agreement@5 of the GRAPH-LEG fusion
    * ([[rrfGraphFusedTop5]]) against the s34 brute fusion — the
    * graph-built point on the served-fusion quality/cost curve: graph
    * leg (recall 0.90) + identical Hamming leg = agreement ≈ 0.96/0.95,
    * vs the round-18 deepened probed fusion's 0.99/0.98 (s36) and the
    * exact-legs ceiling 1.000. Both engines replay the banded-graph
    * candidate generation (the s26 CTEs), the ranking, the fusion sums,
    * and the agreement join. */
  val s37RrfGraphRecall: Q = (s, dir) => {
    import s.implicits._
    val truth = s34RrfHybrid(s, dir).select($"query_id", $"id")
    val fused = rrfGraphFusedTop5(s, dir).select($"query_id", $"id")
    recallAtK(truth, fused, "query_id", "id", k = 5).orderBy($"query_id")
  }

  // --------------------------------------------------- IVF fusion leg / s38
  /** The IVF fusion leg's coarse quantizer — the d18-oracled production
    * sizing (`semanticDedupNlist`: nlist = max(16, min(4096, ceil(n/4096))),
    * E[list] ≈ 4096) trained with the DETERMINISTIC [[kmeansFit]] (id-sorted
    * fold means on the `vec_id < max(256, nlist)` slice), so every centroid
    * double replays in the s38 DuckDB twin. Memoized per dir-content. */
  private[graft] def ivfLegModel(s: SparkSession, dir: String,
      nlist: Int): Seq[Array[Double]] = {
    // key carries NO nlist segment: nlist is itself a function of the
    // dir's content — a regenerated corpus refingerprints and retrains at its
    // own nlist, so one dir never has two live models. The require makes
    // that premise LOAD-BEARING: a caller-chosen nlist would silently
    // receive a model memoized at a different k.
    require(nlist == DedupOps.semanticDedupNlist(
        Tables.cachedCount(s, dir, "embeddings")),
      s"ivfLegModel: nlist=$nlist must be the derived semanticDedupNlist " +
        "for this dir (the memo is keyed per dir-content, not per nlist)")
    cachedModel("s38", dir) {
      val uv = unitVecs(Tables.loadSpread(s, dir, "embeddings"),
        "vec_id", "embedding", "vec_id")
      kmeansFit(uv.filter(col("vec_id") < math.max(256, nlist)),
        "vec_id", "__u", k = nlist, iters = 2)
    }
  }

  /** Content-addressed per-dir IVF LIST table (vec_id, v, nrm, cluster) —
    * the [[bucketTable]] discipline for the IVF leg: the corpus-wide
    * nearest-centroid assignment is the expensive half of every probed
    * lookup, materialized ONCE per dir-content and stored SORTED on
    * (cluster, vec_id) so a probe's equi-join prunes row groups to the
    * probed lists. nlist rides in the name; the parameter-free family
    * prefix evicts a superseded sizing's store (the s02bucket_w rule).
    * Assignment is the deterministic [[kmeansAssign]] argmin against the
    * [[ivfLegModel]] centroids — integers over replayable doubles, so
    * serving from the store is bit-identical to inline computation. */
  private[graft] def ivfLegTable(s: SparkSession, dir: String): DataFrame = {
    val nlist = DedupOps.semanticDedupNlist(
      Tables.cachedCount(s, dir, "embeddings"))
    Tables.cachedDerived(s, dir, "embeddings", s"ivfleg_k$nlist",
        family = Some("ivfleg_k")) {
      val e = Tables.loadSpread(s, dir, "embeddings")
      val uv = unitVecs(e, "vec_id", "embedding", "vec_id")
      val asg = kmeansAssign(uv, "vec_id", "__u", ivfLegModel(s, dir, nlist))
        .select(col("vec_id"), col("cluster"))
      e.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.VectorExprs.l2(col("v")))
        .join(asg, Seq("vec_id"))
        .repartitionByRange(col("cluster"), col("vec_id"))
        .sortWithinPartitions(col("cluster"), col("vec_id"))
    }
  }

  /** The IVF cosine leg for hybrid fusion, as a (query_id, id, rank)
    * ranking at depth `k` — the mid-cost point [[fusionLegPlan]] routes to
    * past the single-band width cap when no knn graph is maintained
    * (round-18 verdict #2: `tuneGraphConfig`'s own fallback points
    * mid-cosine recall-sensitive search at the IVF family, but the fusion
    * had no such leg, so a past-cap corpus paid the full graph build):
    * each witness query probes its `nprobe` nearest coarse centroids
    * (exact L2 rank over the [[ivfLegModel]] literals, lower-cluster
    * ties — the kmeansPick contract) and ranks exact cosine within the
    * probed lists served from the [[ivfLegTable]] store. This is the
    * [[ivfKnn]] search shape (coarse probe + in-list exact ranking)
    * re-expressed against a persisted list table, with the
    * deterministic [[kmeansFit]] as the trainer so the s38 twin replays
    * every centroid double — the s21 discipline: production search
    * shape, replayable training swap. nprobe derives
    * from [[S02FusionTargetRecall]] via the calibrated integer-ppm rule
    * ([[LshTuning.ivfNprobe]]), so both engines compute it from nlist
    * with pure integer arithmetic.
    *
    * Scale shape: the store is built once (one assignment scan — nlist
    * literal dots per row); a query batch broadcast-joins the probed
    * (query, cluster) pairs against the store and ranks candidates ≈
    * n · nprobe / nlist rows — no graph build, no all-pairs. The store
    * scan carries the [[ivfPqSearch]] `pruneLists` discipline (bounded
    * probed-cid collect + chunked-In pushdown, round-19 verdict #1): when
    * the query batch's probed lists don't cover all of nlist, the
    * (cluster, vec_id)-sorted store prunes to the probed lists'
    * row groups. At the witness corpus' shipped β = 1.6 floor the
    * fraction is ~0.88 and 20 spread queries cover every list (pruning
    * self-disables — reading everything through one In would only add
    * overhead); on a CLUSTERED corpus the measured β is far larger and
    * the pushdown is the dominant saving. Measured (round-20,
    * scratch.ClusteredIvfSweep, σ=0.12 mode noise): 16-mode gate-scale
    * corpus — implied β 17.7 at nprobe=1, capture 1.0 from nprobe=3;
    * 128-mode 100×-shape corpus (n=500k, nlist=123) — implied β 175 at
    * nprobe=1 (capture 0.76 probing 0.8% of lists), re-floored nprobe
    * 3/123 vs the default floor's 105/123, probed-union 21 of 123 lists
    * (the pruned scan reads ~17% of the store's row groups), serving
    * time 4.27 s → 1.96 s on local[32]. Deployments re-floor via
    * `spark.graft.ivf.beta` (a MEASURED per-corpus floor — the
    * knnGraphAuto rankPlan conf discipline); the default stays the
    * shipped witness floor, so s38's oracle row is conf-independent.
    * Past nlist = [[IvfProbeMatrixMaxNlist]] the probe matrix (nlist
    * structs in one literal array) must move to a centroid join; at the
    * d18 sizing that is n > 16.8M vectors per dir — machine-enforced by
    * [[centroidProbeArray]]'s require (round-19 verdict #4).
    *
    * RESIDUAL-LEG ANTI-RESULT (round-20, scratch.ResidualLegSweep —
    * round-19 verdict #5): swapping this leg's exact in-list cosine for
    * the s09 residual-PQ shape ([[ivfPqSearch]] byResidual, same
    * auto-nlist sizing and derived nprobe, refine·k exact rerank)
    * measures fused agreement@5 0.88/0.86 at refine=4 (0.80/0.77 at
    * refine=2) against this leg's 0.99/0.99 at the gate scales, with no
    * time win (1.4–1.9 s vs 1.6–2.1 s min-of-2): the ADC ranking error
    * feeding the refine cutoff drops fusion-relevant candidates that the
    * exact ranking keeps, and the PQ path's per-candidate economy only
    * pays off when the candidate fraction is LARGE — exactly the regime
    * the round-20 list pruning already shrinks on clustered corpora. The
    * exact ranking stays the leg (the k=20-deepening anti-result's
    * discipline: measured, recorded, not adopted). */
  private[graft] def ivfRankingTop(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    import s.implicits._
    val n = Tables.cachedCount(s, dir, "embeddings")
    val nlist = DedupOps.semanticDedupNlist(n)
    val beta = s.conf.getOption("spark.graft.ivf.beta")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .getOrElse(LshTuning.IvfProbeBeta)
    val np = LshTuning.ivfNprobe(S02FusionTargetRecall, nlist, beta)
    log.info(f"ivfRankingTop: n=$n nlist=$nlist nprobe=$np " +
      f"(target $S02FusionTargetRecall%.2f, beta $beta%.2f, model recall " +
      f"${LshTuning.ivfModelRecall(np, nlist, beta)}%.3f)")
    val cents = ivfLegModel(s, dir, nlist)
    val store0 = ivfLegTable(s, dir)
    val e0 = vecs(s, dir)
    val qu = unitVecs(e0.filter($"vec_id" < 20).select($"vec_id", $"v"),
      "vec_id", "v", "qid")
    // top-nprobe centroids by the kmeansPick (d2 asc, cluster asc) rule —
    // the same struct ordering the assignment uses, so probe sets replay
    val probes = qu
      .withColumn("__p",
        explode_outer(slice(centroidProbeArray(cents, $"__u"), 1, np)))
      .filter($"__p".isNotNull) // outer: no inferred-filter re-eval (see TextOps)
      .select($"qid", $"__p.c".cast("long").as("cluster"))
    // list-id pushdown (the ivfPqSearch pruneLists rule): the probed-cid
    // collect is bounded by nlist (≤ 4096 by the d18 sizing) and tiny by
    // the query-batch contract; when it covers every list the store scan
    // stays bare — an In over all of nlist prunes nothing and only costs
    val probedCids = probes.select($"cluster").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val store =
      if (probedCids.length >= nlist) store0
      else {
        graft.Pushdown.ensureInThreshold(s)
        probedCids.grouped(graft.Pushdown.InChunk)
          .map(ch => store0.filter($"cluster".isInCollection(ch)))
          .reduce(_ union _)
      }
    val q = e0.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    // inverted lists partition the corpus, so probed candidates are
    // distinct ids; cosine ranks on the ORIGINAL vectors (the s01 contract)
    broadcast(probes.join(q, Seq("qid"))).join(store, Seq("cluster"))
      .filter($"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"qid".as("query_id"), $"vec_id".as("id"), $"rank")
  }

  /** Largest centroid count servable through the per-row probe-matrix
    * literal (nlist structs sorted per query row): past this the literal
    * array is the wrong plan and the probe must become a centroid JOIN
    * (query × centroid-table rank, top-nprobe per query). At the d18
    * sizing (nlist = ceil(n/4096), capped at 4096) the boundary is
    * unreachable — it would take n > 16.8M vectors per dir AND a sizing
    * change — so the require in [[centroidProbeArray]] is a tripwire for
    * that future change, not a live branch: the `_meta`/requireMeta
    * discipline applied to the one documented-but-unenforced cliff
    * (round-19 verdict #4). */
  private[graft] val IvfProbeMatrixMaxNlist = 4096

  /** The full centroid ranking for one query vector as a SORTED literal
    * struct array — (d2 asc, cluster asc), the kmeansPick contract, so
    * probe sets replay centroid-for-centroid in the SQL twin. Machine-
    * enforces the [[IvfProbeMatrixMaxNlist]] boundary. */
  private[graft] def centroidProbeArray(cents: Seq[Array[Double]],
      u: Column): Column = {
    require(cents.length <= IvfProbeMatrixMaxNlist,
      s"nlist=${cents.length} exceeds the probe-matrix literal boundary " +
        s"($IvfProbeMatrixMaxNlist): a literal array of that many centroid " +
        "structs per row is the wrong plan - rank via a centroid join " +
        "(see ivfRankingTop scaladoc)")
    val opts = cents.zipWithIndex.map { case (c, i) =>
      val cl = typedLit(c.toSeq)
      struct(((dot(u, u) - lit(2.0d) * dot(u, cl)) + dot(cl, cl)).as("d"),
        lit(i).as("c"))
    }
    sort_array(array(opts: _*))
  }

  /** The IVF-LEG hybrid fusion: [[ivfRankingTop]] top-10 ∪ the
    * [[hammingRankingFromSigs]] signature-table Hamming top-10, RRF-fused
    * to a top-5 — the past-width-cap serving path for a deployment NOT
    * already maintaining the knn graph ([[fusionLegPlan]]'s "ivf" route).
    * s38 measures its agreement against the brute fusion. */
  private[graft] def rrfIvfFusedTop5(s: SparkSession, dir: String): DataFrame = {
    val ivfLeg = ivfRankingTop(s, dir, k = 10)
    val ham = hammingRankingFromSigs(binarySigTable(s, dir), k = 10)
    Retrieval.rrfFuse(Seq(ivfLeg, ham), "query_id", "id", "rank", k = 5)
  }

  // ---------------------------------------------------------------- s38
  /** s38: per-query agreement@5 of the IVF-LEG fusion ([[rrfIvfFusedTop5]])
    * against the s34 brute fusion — the third point on the served-fusion
    * quality/cost curve (probed 0.99/0.98 at SF-near-independent cost up
    * to the width cap; graph 0.96/0.95 at graph-build cost; ivf = this
    * row at assignment-scan cost), closing the round-18 width-cap cliff:
    * past w ≈ 12 a corpus without a maintained graph now fuses the IVF
    * leg instead of paying the graph build. Both engines replay every
    * stage: the d18 Lloyd staging (auto-nlist from count(*)), the
    * integer-ppm nprobe rule, the L2 centroid probe ranking, the
    * exact-cosine in-list ranking, the all-integer signature ranking,
    * the 1/(60+rank) fusion sums, and the agreement join. */
  val s38RrfIvfRecall: Q = (s, dir) => {
    import s.implicits._
    val truth = s34RrfHybrid(s, dir).select($"query_id", $"id")
    val fused = rrfIvfFusedTop5(s, dir).select($"query_id", $"id")
    recallAtK(truth, fused, "query_id", "id", k = 5).orderBy($"query_id")
  }

  // ----------------------------------------------------------- recall / s12
  /** Per-query recall@k of an approximate result against ground truth: both
    * frames are (queryCol, idCol) rankings; recall = |approx ∩ truth| / k.
    * The ANN evaluation primitive — with [[LshTuning]] it closes the tuning
    * loop: pick a layout from the threshold, then MEASURE what the pruning
    * actually costs in recall on the real corpus. All-integer intersection
    * counts; the ratio divides two exact integers.
    *
    * Scale shape: one (query, id)-keyed semi-join between two k·|queries|-
    * sized frames — both tiny next to the corpus that produced them. */
  def recallAtK(truth: DataFrame, approx: DataFrame, queryCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val t = truth.select(col(queryCol).as("query_id"), col(idCol).as("__tid"))
    val a = approx.select(col(queryCol).as("query_id"), col(idCol).as("__tid"))
      .withColumn("__hit", lit(1L))
    // LEFT join so zero-hit queries still report (recall 0.0), not vanish
    t.join(a, Seq("query_id", "__tid"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k + 1e-9, 4).as("recall"))
  }

  /** s12 oracle row: recall@5 of the s02 LSH bucket search against the s01
    * brute-force ground truth, per query — both sides are the
    * already-oracle-proven rankings (same round-6 cosine / lower-id
    * contract), so DuckDB replays the whole evaluation. Queries whose
    * bucket holds fewer than 5 non-self members return fewer approx rows
    * and can never reach recall 1 — that truncation is the measurement. */
  val s12AnnRecall: Q = (s, dir) =>
    // the config s02 actually serves (round-17: budgeted margin-ordered
    // multi-probe) — the s29/s26 relationship applied here
    s02ProbeRecall(s, dir, probed = true)

  // ---------------------------------------------------------------- s33
  /** s33: per-query recall@5 of the single-band bucket search, exact-bucket
    * lookup vs the [[probeMasksBudgeted]] multi-probe s02 serves — the
    * measurement that documents what query-side probing buys on the SAME
    * corpus index (round-16 heuristic: mean 0.02 → 0.46; round-17 budgeted
    * margin-ordered family at the [[S02TargetRecall]] = 0.8 target: see
    * NEXT.md for the measured value — the exact side is the floor-8
    * signature's honest baseline: E[bucket] ≈ 2, so most exact lookups
    * find none of the true top-5). Both sides replay in the DuckDB twin
    * from the shared banding CTEs. */
  val s33AnnProbeGain: Q = (s, dir) => {
    import s.implicits._
    s02ProbeRecall(s, dir, probed = false)
      .select($"query_id", $"recall".as("recall_exact"))
      .join(s02ProbeRecall(s, dir, probed = true)
        .select($"query_id", $"recall".as("recall_probed")), Seq("query_id"))
      .orderBy($"query_id")
  }

  /** s12-style recall@5 of the single-band bucket search — `probed =
    * false` is the exact-bucket lookup only (the pre-probe s02), `true`
    * the served [[probeMasksBudgeted]] budgeted multi-probe. Exposed for
    * the probe-design sweep/specs. */
  private[graft] def s02ProbeRecall(s: SparkSession, dir: String,
      probed: Boolean): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val w0 = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    val truth = broadcast(
        e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
      .join(e, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w0).cast("long"))
      .filter($"rk" <= 5).select($"qid", $"vec_id")
    val w = bucketPlanes(Tables.cachedCount(s, dir, "embeddings"))
    val eb = bucketTable(s, dir)
    val qb =
      if (!probed) eb.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"), $"bucket")
      else e.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"),
          bucketOf($"v", w).as("b0"), sortedMarginsOf($"v", w).as("sm"))
        .select($"qid", $"qv", $"qn", $"b0",
          explode(probeMasksBudgeted($"sm", s02ProbeBits(w), s02Budget(w)))
            .as("mask"))
        .select($"qid", $"qv", $"qn",
          $"b0".bitwiseXOR($"mask").as("bucket"))
    val approx = broadcast(qb).join(eb, Seq("bucket"))
      .filter($"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w0).cast("long"))
      .filter($"rk" <= 5).select($"qid", $"vec_id")
    recallAtK(truth, approx, "qid", "vec_id", k = 5).orderBy($"query_id")
  }

  // ---------------------------------------------------------------- s15
  /** Lloyd k-means, the engine-contract edition: deterministic init (the
    * k lowest-id training vectors), `iters` rounds of shuffle-free argmin
    * assignment + ORDER-DETERMINISTIC centroid means (the c10 sorted-fold
    * discipline applied per dimension: members sort by id, fold
    * element-wise left-to-right, divide once — bit-identical at every
    * partitioning AND replayable by the DuckDB twin; a plain per-dim
    * `avg()` would merge partials in task order and drift between engines).
    * Empty clusters keep their previous centroid.
    *
    * Scale contract: TRAIN on a bounded frame (the caller passes a
    * deterministic sample — the FAISS discipline; the sorted fold's
    * per-cluster state is train-sized, never corpus-sized). ASSIGN is a
    * pure projection against k×dim plan-literal centroids — no shuffle, no
    * join, linear scan at 100 TB. Returns the centroids for [[kmeansAssign]].
    */
  def kmeansFit(train: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[Array[Double]] =
    withPersisted(kmeansFrame(train, idCol, vecCol))(e =>
      kmeansLloyd(e, lowestIdSeeds(e, k), iters))

  /** The k-means family's (__id, __v) training frame: long ids, double
    * vectors. */
  private def kmeansFrame(train: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    train.select(col(idCol).cast("long").as("__id"),
      asDouble(col(vecCol)).as("__v"))

  /** The rounds of [[kmeansFit]]/[[kmeansFitPp]]/[[kmeansFitSpherical]]/
    * [[kmeansFitParallelRefined]]: one-group [[lloyd]] under the
    * [[kmeansPick]] d2-argmin rule, over a persisted [[kmeansFrame]]. */
  private def kmeansLloyd(e: DataFrame, init: Seq[Seq[Double]], iters: Int,
      renormalize: Boolean = false): Seq[Array[Double]] =
    lloyd(e, IndexedSeq(init.toIndexedSeq), iters, renormalize)((v, cs) =>
      kmeansPick(cs.map(_.toArray), v).getField("c")).head.map(_.toArray)

  /** Spherical k-means — the embedding-native Lloyd variant: inputs are
    * L2-normalized once, assignment is the same fixed-shape d2 argmin
    * (on unit vectors min distance ≡ max cosine, same lower-index ties),
    * and each new centroid is the member mean PROJECTED BACK to the unit
    * sphere (mean, then divide by its norm). The clustering a cosine-
    * similarity corpus actually wants: plain [[kmeansFit]] lets vector
    * magnitude (document length, embedding scale) pull centroids off the
    * directions the retrieval operators (s01–s14) rank by.
    *
    * Contract: a cluster whose member mean is the exact zero vector
    * (adversarial antipodal symmetry) keeps its previous (unit) centroid —
    * the same guard as empty clusters — rather than normalizing to NaN
    * and poisoning every later assignment. Same scale shape as
    * [[kmeansFit]]: bounded training frame, k×dim driver state,
    * shuffle-free [[kmeansAssign]] projection. */
  def kmeansFitSpherical(train: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[Array[Double]] =
    withPersisted(unitVecs(train, idCol, vecCol, "__id")
        .select(col("__id").cast("long").as("__id"), col("__u").as("__v")))(e =>
      kmeansLloyd(e, lowestIdSeeds(e, k), iters, renormalize = true))

  /** k-means++ deterministic init + Lloyd — the [[kmeansFit]] upgrade for
    * corpora where the k lowest-id vectors happen to sit in one region
    * (lowest-id init then wastes rounds splitting it): seed with the
    * lowest-id vector, then pick each next center by the ++ rule with the
    * randomness DERANDOMIZED into an md5 race — next = argmax of
    * `D²(x) · u(x)` (lower id on ties), where `D²(x)` is the L2 distance
    * to the nearest already-chosen center (the same fixed-shape d2 the
    * argmin uses) and `u(x) = h60("kpp:<j>:<id>") % 2²⁰ + 1` is an
    * integer-valued md5 weight. That is Efraimidis–Spirakis weighted
    * sampling with the uniform replaced by a hash — far points win with
    * probability ≈ ∝ D², every engine picks the SAME point (both factors
    * are integer-or-replayed-double exact; no transcendental functions,
    * which would drift across libm implementations), and the whole init
    * replays in the DuckDB twin as k−1 staged argmax CTEs.
    *
    * Scale: k−1 extra TakeOrdered(1) passes over the BOUNDED training
    * frame (the FAISS sample discipline — never the corpus); assignment
    * is unchanged. */
  def kmeansFitPp(train: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[Array[Double]] = {
    val sp = train.sparkSession
    import sp.implicits._
    withPersisted(kmeansFrame(train, idCol, vecCol)) { e =>
      var cents: Seq[Array[Double]] = Seq(e.orderBy(col("__id")).limit(1)
        .select(col("__v")).as[Seq[Double]].head().toArray)
      for (j <- 1 until k) {
        val dmin = kmeansPick(cents, col("__v")).getField("d")
        val u = (h60(concat(lit(s"kpp:$j:"), col("__id").cast("string")))
          % 1048576L + 1L).cast("double")
        val next = e.withColumn("__score", dmin * u)
          .orderBy(col("__score").desc, col("__id").asc)
          .select(col("__v")).as[Seq[Double]].head().toArray
        cents = cents :+ next
      }
      kmeansLloyd(e, cents.map(_.toSeq), iters)
    }
  }

  /** Greedy k-center picks — farthest-point traversal (Gonzalez, "Clustering
    * to minimize the maximum intercluster distance", TCS 1985): start from
    * the lowest-id vector, then repeatedly pick the point MAXIMIZING its
    * min squared distance to the already-picked set (raw-double argmax
    * with id tie-break — the [[kmeansFitPp]] staging minus the sampling
    * randomization, so the same cross-engine determinism argument holds).
    * The 2-approximation to the k-center objective and the
    * coverage-maximizing diversity sampler a curation pipeline uses where
    * [[graft.ext.CurationOps.coresetSample]] picks DENSITY representatives:
    * k-center picks spread to the corpus EXTREMES, bounding every point's
    * distance to its nearest representative.
    *
    * Scale shape: k−1 argmax jobs over a persisted narrow frame, each a
    * shuffle-free scan + TakeOrdered(1) against plan-literal picks;
    * driver state is k vectors (the kmeans k×dim discipline). Returns the
    * picks in selection order — FEWER than `k` when the corpus runs out of
    * distinct points first (the argmax score hitting 0 means every point
    * coincides with a pick, so continuing would only return duplicate
    * picks with score 0; round-16 ADVICE #4). Requires a non-empty input. */
  def kCenterPicks(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[(Long, Array[Double])] = {
    require(k >= 1, s"k >= 1, got $k")
    val sp = df.sparkSession
    import sp.implicits._
    withPersisted(kmeansFrame(df, idCol, vecCol)) { e =>
      val seed = e.orderBy(col("__id")).limit(1)
        .select(col("__id"), col("__v")).as[(Long, Seq[Double])].collect()
      require(seed.nonEmpty, "kCenterPicks: input frame is empty - nothing to pick")
      val first = seed.head
      var picks = Seq((first._1, first._2.toArray))
      var exhausted = false
      for (_ <- 1 until k if !exhausted) {
        val dmin = kmeansPick(picks.map(_._2), col("__v")).getField("d")
        val next = e.withColumn("__score", dmin)
          .orderBy(col("__score").desc, col("__id").asc)
          .select(col("__id"), col("__v"), col("__score"))
          .as[(Long, Seq[Double], Double)].head()
        if (next._3 <= 0.0) exhausted = true
        else picks = picks :+ ((next._1, next._2.toArray))
      }
      picks
    }
  }

  // ---------------------------------------------------------------- s35
  /** s35: [[kCenterPicks]] at k = 8 over the whole corpus, then every
    * vector assigned to its nearest pick ([[kmeansAssign]] against the
    * plan-literal picks) — (vec_id, center = pick index, dist2). The
    * DuckDB twin stages the k−1 greedy argmaxes exactly like the s16
    * kmeans++ init CTEs (min-d2 fold per staged pick set, ORDER BY dmin
    * DESC with vec_id ties) and replays the struct-min assignment. */
  val s35KCenter: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val picks = kCenterPicks(e, "vec_id", "v", k = 8)
    kmeansAssign(e, "vec_id", "v", picks.map(_._2))
      .select($"vec_id", $"cluster".as("center"), $"dist2")
      .orderBy($"vec_id")
  }

  /** (d2, cluster) argmin against plan-literal centroids: lexicographic
    * `array_min` over (distance, index) structs — equal distances resolve
    * to the lower index in both engines. d2 is the fixed-shape expansion
    * `(v·v − 2·v·c) + c·c`, every dot the same codegen'd [[dot]] the
    * s-family oracles already prove ≡ DuckDB's list_dot_product. */
  private def kmeansPick(cents: Seq[Array[Double]], v: Column): Column = {
    val opts = cents.zipWithIndex.map { case (c, i) =>
      val cl = typedLit(c.toSeq)
      struct(((dot(v, v) - lit(2.0d) * dot(v, cl)) + dot(cl, cl)).as("d"),
        lit(i).as("c"))
    }
    array_min(array(opts: _*))
  }

  /** Assign every row to its nearest [[kmeansFit]] centroid — shuffle-free
    * projection. Returns (idCol, cluster, dist2) with dist2 the rounded
    * squared L2 distance to the winning centroid. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Array[Double]]): DataFrame =
    df.select(col(idCol),
      kmeansPick(cents, asDouble(col(vecCol))).as("__p"))
      .select(col(idCol), col("__p.c").cast("long").as("cluster"),
        round(col("__p.d") + 1e-9, 4).as("dist2"))

  /** Per-cluster quality report for a fitted k-means model: size, inertia
    * (Σ squared distance to the own centroid — the quantity Lloyd descends),
    * and mean SIMPLIFIED silhouette (per row: (b−a)/b on the distances to
    * the own and second-nearest centroid — the centroid-based silhouette
    * that needs no pairwise member distances, so it stays linear where the
    * classic formulation is quadratic per cluster). The loop-closer for the
    * s15–s20 family: pick k / compare inits by MEASURING, the way s12/s21
    * close the ANN tuning loop.
    *
    * Every per-row quantity is a projection against plan-literal centroids
    * (the [[kmeansAssign]] scale shape — shuffle-free scan, then one
    * k-row agg); d2 is clamped at 0 before sqrt (the fixed-shape expansion
    * can go −1e-18 by cancellation when v ≈ c, and sqrt(−ε) is NaN).
    * Requires k ≥ 2 (a second-nearest centroid must exist). */
  def clusterQuality(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Array[Double]]): DataFrame = {
    require(cents.size >= 2, s"silhouette needs k >= 2, got ${cents.size}")
    val v = asDouble(col(vecCol))
    val opts = cents.zipWithIndex.map { case (c, i) =>
      val cl = typedLit(c.toSeq)
      struct(((dot(v, v) - lit(2.0d) * dot(v, cl)) + dot(cl, cl)).as("d"),
        lit(i).as("c"))
    }
    val sorted = sort_array(array(opts: _*))
    df.select(col(idCol),
        sorted.getItem(0).getField("c").cast("long").as("cluster"),
        greatest(sorted.getItem(0).getField("d"), lit(0.0d)).as("__a2"),
        greatest(sorted.getItem(1).getField("d"), lit(0.0d)).as("__b2"))
      .withColumn("__sil",
        when(sqrt(col("__b2")) === 0.0d, lit(0.0d))
          .otherwise((sqrt(col("__b2")) - sqrt(col("__a2"))) / sqrt(col("__b2"))))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("__a2")) + lit(1e-9), 4) + lit(0.0)).as("inertia"),
        (round(avg(col("__sil")) + lit(1e-9), 4) + lit(0.0)).as("mean_sil"))
  }

  /** k-means as an oracle row: fit on the deterministic vec_id < 256
    * sample (k = 4, 2 Lloyd rounds), assign the WHOLE table. The DuckDB
    * twin replays both rounds CTE by CTE — init, argmin joins, id-sorted
    * element-wise fold means — so the entire iterative training, not just
    * the final assignment, is cross-engine-pinned (the t14 BPE staging
    * discipline applied to clustering). */
  val s15Kmeans: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val cents = kmeansFit(e.filter($"vec_id" < 256), "vec_id", "v", k = 4, iters = 2)
    kmeansAssign(e, "vec_id", "v", cents).orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s16
  /** [[kmeansFitPp]] as an oracle row — the s15 configuration with the
    * md5-race ++ init: the DuckDB twin replays the k−1 init selections
    * (staged argmax CTEs over the same d2 × md5-weight score) AND both
    * Lloyd rounds, so the full derandomized k-means++ training is
    * cross-engine bit-pinned. */
  val s16KmeansPp: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val cents = kmeansFitPp(e.filter($"vec_id" < 256), "vec_id", "v", k = 4, iters = 2)
    kmeansAssign(e, "vec_id", "v", cents).orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s17
  /** Weighted Lloyd k-means — cluster centers pulled by per-row weights
    * (dedup multiplicities, quality scores, token counts: the curation
    * corpus is rarely uniform): centroid = Σ wᵢ·vᵢ / Σ wᵢ per cluster,
    * BOTH folds id-sorted left-to-right (the c10 discipline — the weighted
    * numerator multiplies before adding, element-wise, and the weight sum
    * folds in the same id order, so every partitioning AND the DuckDB twin
    * produce the same bits). Lowest-id init like [[kmeansFit]]; empty
    * clusters keep their centroid; weights must be positive (a zero-weight
    * cluster would divide by zero — same contract as every weighted mean).
    * Assignment is unchanged ([[kmeansAssign]] — plan-literal projection,
    * shuffle-free at 100 TB). */
  def kmeansFitWeighted(train: DataFrame, idCol: String, vecCol: String,
      weightCol: String, k: Int, iters: Int): Seq[Array[Double]] = {
    val sp = train.sparkSession
    import sp.implicits._
    withPersisted(train.select(col(idCol).cast("long").as("__id"),
        asDouble(col(vecCol)).as("__v"),
        col(weightCol).cast("double").as("__w"))) { e =>
      val dim = e.select(size(col("__v"))).as[Int].head()
      val zeros = typedLit(Seq.fill(dim)(0.0d))
      var cents: Seq[Array[Double]] = lowestIdSeeds(e, k).map(_.toArray)
      for (_ <- 0 until iters) {
        val means = e
          .withColumn("__cl", kmeansPick(cents, col("__v")).getField("c"))
          .groupBy(col("__cl"))
          .agg(
            aggregate(sort_array(collect_list(struct(col("__id"), col("__w")))),
              lit(0.0d), (acc, el) => acc + el.getField("__w")).as("__ws"),
            aggregate(
              sort_array(collect_list(struct(col("__id"), col("__v"), col("__w")))),
              zeros,
              (acc, el) => zip_with(acc, el.getField("__v"),
                (a, b) => a + b * el.getField("__w"))).as("__s"))
          .select(col("__cl"),
            transform(col("__s"), z => z / col("__ws")).as("__c"))
          .as[(Int, Seq[Double])].collect().toMap
        cents = cents.indices.map(i =>
          means.get(i).map(_.toArray).getOrElse(cents(i)))
      }
      cents
    }
  }

  /** [[kmeansFitWeighted]] as an oracle row — the s15 configuration with
    * weight = label + 1 (a deterministic positive weight every SF carries):
    * the DuckDB twin replays both Lloyd rounds with the weighted id-sorted
    * folds (numerator multiplies-then-adds element-wise; denominator folds
    * the weights in the same order). */
  val s17KmeansWeighted: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val tr = e.filter($"vec_id" < 256)
      .withColumn("w", ($"label" + 1).cast("double"))
    val cents = kmeansFitWeighted(tr, "vec_id", "v", "w", k = 4, iters = 2)
    kmeansAssign(e, "vec_id", "v", cents).orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s19
  /** k-means‖ (scalable k-means++, Bahmani et al. VLDB'12) — the init that
    * holds at 100 TB: instead of k−1 SEQUENTIAL corpus passes (each a
    * driver round-trip — [[kmeansFitPp]]'s shape), oversample a BATCH of
    * `l` candidates per round for only `rounds` passes (each round's batch
    * scored against the candidate set so far, by the same derandomized
    * D²·md5-race rule as [[kmeansFitPp]]), weight every candidate by the
    * number of training points nearest to it (one aggregation pass), and
    * reduce the ≤ rounds·l+1 weighted candidates to k centers with
    * [[kmeansFitWeighted]] — a tiny frame, so the reduction costs nothing.
    * Returns the k centers; run [[lloyd]] refinement via
    * [[kmeansFit]]-family callers or use them directly for
    * [[kmeansAssign]].
    *
    * Every stage is deterministic and SQL-replayable: the race picks
    * `LIMIT l` by (D²·weight DESC, id), the weights are an argmin count
    * with lowest-id ties, and the candidate reduction is the s17 weighted
    * staging — the s19 oracle replays all of it. */
  def kmeansFitParallel(train: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 2, l: Int = 4, candIters: Int = 2): Seq[Array[Double]] = {
    require(rounds * l + 1 >= k, s"rounds*l+1 must reach k, got $rounds*$l vs $k")
    val sp = train.sparkSession
    import sp.implicits._
    withPersisted(kmeansFrame(train, idCol, vecCol)) { e =>
      val seed = e.orderBy(col("__id")).limit(1)
        .select(col("__id"), col("__v")).as[(Long, Seq[Double])].head()
      var cands: Seq[(Long, Array[Double])] = Seq((seed._1, seed._2.toArray))
      for (r <- 1 to rounds) {
        // chosen candidates have D² exactly 0.0 (same literal bits → the
        // d2 expansion cancels exactly), so they can never win the race
        val dmin = kmeansPick(cands.map(_._2), col("__v")).getField("d")
        val u = (h60(concat(lit(s"kpar:$r:"), col("__id").cast("string")))
          % 1048576L + 1L).cast("double")
        val batch = e.withColumn("__score", dmin * u)
          .orderBy(col("__score").desc, col("__id").asc)
          .limit(l).select(col("__id"), col("__v")).as[(Long, Seq[Double])]
          .collect()
        // degenerate edge (fewer than l points with nonzero D² remain):
        // an already-chosen candidate scores an exact 0.0 and can re-enter
        // the batch — dedup by id so it never appears twice (a duplicate
        // would double-count in the weighted fold's DuckDB twin)
        cands = (cands ++ batch.map(t => (t._1, t._2.toArray)))
          .distinctBy(_._1)
      }
      // candidate index order = ascending id (kmeansPick ties resolve to
      // the lower index ⇔ the lower candidate id — the oracle's min-struct
      // on candidate vec_id)
      val sorted = cands.sortBy(_._1)
      val wcounts = e
        .withColumn("__ci", kmeansPick(sorted.map(_._2), col("__v")).getField("c"))
        .groupBy(col("__ci")).agg(count(lit(1)).cast("double").as("w"))
        .as[(Int, Double)].collect().toMap
      val kept = sorted.zipWithIndex
        .map { case ((id0, v), i) => (id0, v.toSeq, wcounts.getOrElse(i, 0.0)) }
        .filter(_._3 > 0)
      // the zero-weight filter can drop oversampled candidates; reducing
      // fewer than k survivors to k centroids would silently return fewer —
      // surface the too-few-distinct-points contract instead
      require(kept.size >= k, s"k-means‖ kept ${kept.size} weighted " +
        s"candidates < k=$k — too few distinct training points for this " +
        "(rounds, l, k); raise rounds*l or lower k")
      val candDf = kept.toDF("__cid", "__cv", "__cw")
      kmeansFitWeighted(candDf, "__cid", "__cv", "__cw", k, candIters)
    }
  }

  /** s19 oracle row — the s15 configuration trained by [[kmeansFitParallel]]
    * (k = 4 from 2 rounds × 4 oversampled candidates, 2 weighted reduction
    * iters), assigning the whole table; the DuckDB twin replays the race
    * batches, the argmin weight counts AND the weighted reduction. */
  val s19KmeansParallel: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val cents = kmeansFitParallel(e.filter($"vec_id" < 256), "vec_id", "v",
      k = 4, rounds = 2, l = 4, candIters = 2)
    kmeansAssign(e, "vec_id", "v", cents).orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s20
  /** The complete production clustering recipe: [[kmeansFitParallel]]'s
    * O(rounds)-pass init, then `refineIters` full Lloyd rounds over the
    * training frame ([[lloyd]] — argmin assignment + id-sorted fold
    * means). This is what a 100 TB deployment actually runs: ‖-init on the
    * sampled frame, a couple of refinement sweeps, then [[kmeansAssign]]'s
    * shuffle-free projection over the corpus. */
  def kmeansFitParallelRefined(train: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 2, l: Int = 4, candIters: Int = 2,
      refineIters: Int = 2): Seq[Array[Double]] = {
    val init = kmeansFitParallel(train, idCol, vecCol, k, rounds, l, candIters)
    withPersisted(kmeansFrame(train, idCol, vecCol))(e =>
      kmeansLloyd(e, init.map(_.toSeq), refineIters))
  }

  /** s20 oracle row — s19's configuration plus 2 full Lloyd refinement
    * rounds; the DuckDB twin chains the refinement staging behind the ‖
    * pipeline, so init AND refinement are cross-engine bit-pinned
    * end-to-end. */
  val s20KmeansPipeline: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val cents = kmeansFitParallelRefined(e.filter($"vec_id" < 256), "vec_id", "v",
      k = 4, rounds = 2, l = 4, candIters = 2, refineIters = 2)
    kmeansAssign(e, "vec_id", "v", cents).orderBy($"vec_id")
  }

  // ---------------------------------------------------------------- s18
  /** Matryoshka / truncated-dimension two-stage search — the MRL serving
    * pattern (embeddings trained so information concentrates in the prefix
    * dims): stage 1 ranks by the dot product of the first `dPrefix` dims of
    * the FULL-space unit vectors (¼ of the arithmetic and — in a real
    * deployment — ¼ of the scanned bytes when the prefix is stored as its
    * own column), keeps `refine × k` candidates per query; stage 2 reranks
    * them with the exact full-dimension cosine, so precision is exact and
    * only recall depends on the prefix. Same two-stage shape as
    * [[knnBinaryRerank]]; both stages are double-deterministic (prefix dot
    * = the same left-fold both engines run), so the s18 oracle replays the
    * production configuration — not just a covering witness. */
  def knnTruncated(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dPrefix: Int, refine: Int = 10): DataFrame = {
    require(k >= 1 && refine >= 1 && dPrefix >= 1,
      s"need k,refine,dPrefix >= 1, got $k,$refine,$dPrefix")
    val c = unitVecs(corpus, idCol, vecCol, "id")
      .withColumn("__cp", slice(col("__u"), 1, dPrefix))
    // slice() silently returns the whole vector past its end — the caller
    // would believe truncation is in effect while stage 1 ranks full-dim
    val dim = c.select(size(col("__u"))).head.getInt(0)
    require(dPrefix <= dim, s"dPrefix=$dPrefix exceeds vector dim=$dim")
    val q = unitVecs(queries, idCol, vecCol, "query_id")
      .select(col("query_id"), col("__u").as("__qu"),
        slice(col("__u"), 1, dPrefix).as("__qp"))
    val wP = Window.partitionBy(col("query_id"))
      .orderBy(col("__pre").desc, col("id"))
    val cands = broadcast(q).join(c, col("query_id") =!= col("id"))
      .withColumn("__pre", dot(col("__qp"), col("__cp")))
      .withColumn("__prk", row_number().over(wP))
      .filter(col("__prk") <= refine * k)
      .select(col("query_id"), col("__qu"), col("id"))
    val wX = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    cands.join(c.select(col("id"), col("__u")), Seq("id"))
      .withColumn("cosine", dot(col("__qu"), col("__u")))
      .withColumn("rank", row_number().over(wX).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("cosine"), 4).as("cosine"))
  }

  /** s18 oracle row: prefix-16-of-64 stage-1 top-50 → exact cosine top-5,
    * standard query set — both stages DuckDB-replayed at the production
    * shape. */
  val s18TruncatedKnn: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.loadSpread(s, dir, "embeddings")
    knnTruncated(e, e.filter($"vec_id" < 20), "vec_id", "embedding",
        k = 5, dPrefix = 16, refine = 10)
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------- s14
  /** Metadata-filtered vector search — the PRE-FILTER semantics every
    * production vector store exposes (FAISS IDSelector, the `filter` clause
    * of managed ANN services): the predicate restricts the candidate
    * universe BEFORE ranking, so exactly k results come back and all of
    * them satisfy the filter. The alternative (post-filtering a top-k
    * computed on the full corpus) silently returns FEWER than k — or zero —
    * when the filter is selective; pre-filter is the correct default and is
    * what this operator pins. Plan shape: the filter lands in the corpus
    * scan (pushed predicate), then the s01 broadcast-queries ranking runs
    * over the survivors — at 100 TB the filter prunes before any dot
    * product is computed. Queries keep ALL labels (a query needn't satisfy
    * the filter — it restricts candidates, not askers). */
  val s14FilteredKnn: Q = (s, dir) => {
    import s.implicits._
    val e = vecs(s, dir)
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val cand = e.filter($"label" % 2 === 0) // the metadata predicate
    val w = Window.partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    broadcast(q).join(cand, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"qid", $"rk", $"vec_id", $"label".cast("long").as("label"),
        round($"cos6", 4).as("cos"))
      .orderBy($"qid", $"rk")
  }

  val queries: Map[String, Q] = Map(
    "s15_kmeans" -> s15Kmeans,
    "s16_kmeans_pp" -> s16KmeansPp,
    "s17_kmeans_weighted" -> s17KmeansWeighted,
    "s18_truncated_knn" -> s18TruncatedKnn,
    "s19_kmeans_parallel" -> s19KmeansParallel,
    "s20_kmeans_pipeline" -> s20KmeansPipeline,
    "s14_filtered_knn" -> s14FilteredKnn,
    "s01_knn_brute" -> s01KnnBrute,
    "s02_ann_lsh" -> s02AnnLsh,
    "s03_ivf_fullprobe" -> s03IvfFullprobe,
    "s05_pq_rerank" -> s05PqRerank,
    "s06_embedding_outliers" -> s06EmbeddingOutliers,
    "s07_int8_knn" -> s07Int8Knn,
    "s08_ivfpq" -> s08IvfPq,
    "s09_ivfpq_residual" -> s09IvfPqResidual,
    "s10_binary_knn" -> s10BinaryKnn,
    "s11_jl_knn" -> s11JlKnn,
    "s12_ann_recall" -> s12AnnRecall,
    "s13_binary_rerank" -> s13BinaryRerank,
    "s21_ivfpq_recall" -> s21IvfPqRecall,
    "s22_ivfpq_residual_recall" -> s22IvfPqResidualRecall,
    "s23_hard_negatives" -> s23HardNegatives,
    "s24_density_clusters" -> s24DensityClusters,
    "s25_mmr_rerank" -> s25MmrRerank,
    "s26_knn_graph" -> s26KnnGraph,
    "s27_kmeans_spherical" -> s27KmeansSpherical,
    "s28_cluster_quality" -> s28ClusterQuality,
    "s29_knn_graph_recall" -> s29KnnGraphRecall,
    "s30_top_component" -> s30TopComponent,
    "s31_abtt_residual" -> s31AbttResidual,
    "s32_abtt_knn" -> s32AbttKnn,
    "s33_ann_probe_gain" -> s33AnnProbeGain,
    "s36_rrf_served_recall" -> s36RrfServedRecall,
    "s37_rrf_graph_recall" -> s37RrfGraphRecall,
    "s38_rrf_ivf_recall" -> s38RrfIvfRecall,
    "s34_rrf_hybrid" -> s34RrfHybrid,
    "s35_kcenter" -> s35KCenter)

  /** Generated DuckDB twin of [[s21IvfPqRecall]]: stages the entire
    * deterministic IVF-PQ pipeline — coarse Lloyd with re-normalized
    * id-sorted fold means (cc_r), per-subspace codebook Lloyd (cb_r over
    * the (id, subspace, slice) frame tsub), encode (coarse argmax + L2
    * argmin per subspace), the top-`nprobe` probe per query (dot DESC,
    * list-id DESC — Spark's sort_array-of-struct descending tie order),
    * the LUT ADC summed in subspace order by a sorted fold, the top
    * refine·k cut (score DESC, id ASC — TopKAgg's tie contract), the exact
    * cosine rerank, and the s12 recall join against the brute ranking.
    * `AS MATERIALIZED` everywhere so DuckDB cannot re-inline the chain. */
  private def ivfPqRecallSql(nlist: Int, m: Int, ksub: Int, dsub: Int,
      iters: Int, nprobe: Int, refineK: Int, k: Int,
      byResidual: Boolean = false): String = {
    val dim = m * dsub
    def foldSum(lst: String, width: Int) =
      s"""list_reduce(list_prepend(list_transform(range(1, ${width + 1}), i -> CAST(0 AS DOUBLE)), $lst),
         |      (acc, x) -> list_transform(range(1, ${width + 1}), i -> acc[i] + x[i]))""".stripMargin
    val norm = (v: String) =>
      s"list_transform($v, x -> x / sqrt(list_sum(list_transform($v, y -> y*y))))"
    val coarse = (1 to iters).map { r =>
      s""" ca$r AS MATERIALIZED (
         |  SELECT t.id, (min({'d': -list_dot_product(t.u, c.v), 'c': c.cl})).c AS cl
         |  FROM u t, cc${r - 1} c GROUP BY t.id),
         | cm$r AS MATERIALIZED (
         |  SELECT cl, list_transform(sm, z -> z / n) AS mv FROM (
         |   SELECT a.cl, count(*) AS n,
         |    ${foldSum("list(t.u ORDER BY t.id)", dim)} AS sm
         |   FROM ca$r a JOIN u t USING (id) GROUP BY a.cl) q),
         | cc$r AS MATERIALIZED (
         |  SELECT cc${r - 1}.cl,
         |   coalesce(${norm(s"cm$r.mv")}, cc${r - 1}.v) AS v
         |  FROM cc${r - 1} LEFT JOIN cm$r USING (cl)),""".stripMargin
    }.mkString("\n")
    val l2pick = (subExpr: String, cbTable: String) =>
      s"(min({'d': -(list_dot_product($subExpr, $cbTable.v) - list_dot_product($cbTable.v, $cbTable.v)/2), 'c': $cbTable.cid})).c"
    // residual mode trains the codebooks on residual slices (rsub)
    val trainFrame = if (byResidual) "rsub" else "tsub"
    val books = (1 to iters).map { r =>
      s""" pa$r AS MATERIALIZED (
         |  SELECT t.id, t.s, ${l2pick("t.sub", "c")} AS cid
         |  FROM $trainFrame t JOIN cb${r - 1} c USING (s) GROUP BY t.id, t.s),
         | pm$r AS MATERIALIZED (
         |  SELECT s, cid, list_transform(sm, z -> z / n) AS v FROM (
         |   SELECT a.s, a.cid, count(*) AS n,
         |    ${foldSum("list(t.sub ORDER BY t.id)", dsub)} AS sm
         |   FROM pa$r a JOIN $trainFrame t ON a.id = t.id AND a.s = t.s
         |   GROUP BY a.s, a.cid) q),
         | cb$r AS MATERIALIZED (
         |  SELECT cb${r - 1}.s, cb${r - 1}.cid, coalesce(pm$r.v, cb${r - 1}.v) AS v
         |  FROM cb${r - 1} LEFT JOIN pm$r
         |    ON cb${r - 1}.s = pm$r.s AND cb${r - 1}.cid = pm$r.cid),""".stripMargin
    }.mkString("\n")
    // residual mode: codebooks train/encode on r = u − centroid(list(u))
    // (rsub slices of the staged element-wise subtraction); queries' LUT
    // side always slices the ORIGINAL unit vector, and the ADC score adds
    // the probe's coarse dot as a SEPARATE leading addition — Spark
    // computes base + (l0+l1+…), so the fold must not absorb the base.
    val encFrame = trainFrame
    val seedFrame = if (byResidual) "(SELECT id, ru AS u FROM rv)" else "u"
    val residualCtes = if (!byResidual) "" else s"""
       | rv AS MATERIALIZED (
       |  SELECT t.id, list_transform(range(1, ${dim + 1}), i -> t.u[i] - c.v[i]) AS ru
       |  FROM u t JOIN lst l ON t.id = l.id JOIN cc$iters c ON c.cl = l.cl),
       | rsub AS MATERIALIZED (
       |  SELECT rv.id, ss.s, rv.ru[ss.s*$dsub+1 : ss.s*$dsub+$dsub] AS sub FROM rv, ss),""".stripMargin
    val scoreExpr =
      if (byResidual)
        """c.d + list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |     list(list_dot_product(qs.sub, cb.v) ORDER BY e.s)), (a, x) -> a + x)""".stripMargin
      else
        """list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |     list(list_dot_product(qs.sub, cb.v) ORDER BY e.s)), (a, x) -> a + x)""".stripMargin
    val candGroup = if (byResidual) "c.qid, c.id, c.d" else "c.qid, c.id"
    s"""WITH u AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |   ${norm("embedding::DOUBLE[]")} AS u
       |  FROM embeddings WHERE vec_id < 500),
       | ss AS (SELECT CAST(unnest(range(0, $m)) AS INTEGER) AS s),
       | tsub AS MATERIALIZED (
       |  SELECT u.id, ss.s, u.u[ss.s*$dsub+1 : ss.s*$dsub+$dsub] AS sub FROM u, ss),
       | cc0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cl, u AS v
       |  FROM u ORDER BY id LIMIT $nlist),
       |$coarse
       | lst AS MATERIALIZED (
       |  SELECT t.id, (min({'d': -list_dot_product(t.u, c.v), 'c': c.cl})).c AS cl
       |  FROM u t, cc$iters c GROUP BY t.id),$residualCtes
       | sd AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cid, u
       |  FROM $seedFrame ORDER BY id LIMIT $ksub),
       | cb0 AS MATERIALIZED (
       |  SELECT ss.s, sd.cid, sd.u[ss.s*$dsub+1 : ss.s*$dsub+$dsub] AS v FROM sd, ss),
       |$books
       | enc AS MATERIALIZED (
       |  SELECT t.id, t.s, ${l2pick("t.sub", "c")} AS code
       |  FROM $encFrame t JOIN cb$iters c USING (s) GROUP BY t.id, t.s),
       | pr AS MATERIALIZED (
       |  SELECT qid, cl, d FROM (
       |   SELECT q.id AS qid, c.cl, list_dot_product(q.u, c.v) AS d,
       |    row_number() OVER (PARTITION BY q.id
       |      ORDER BY list_dot_product(q.u, c.v) DESC, c.cl DESC) AS rk
       |   FROM u q, cc$iters c WHERE q.id < 20) t WHERE rk <= $nprobe),
       | adc AS MATERIALIZED (
       |  SELECT c.qid, c.id,
       |   $scoreExpr AS score
       |  FROM (SELECT pr.qid, pr.d, l.id FROM pr JOIN lst l ON pr.cl = l.cl AND pr.qid <> l.id) c
       |  JOIN enc e ON e.id = c.id
       |  JOIN cb$iters cb ON cb.s = e.s AND cb.cid = e.code
       |  JOIN tsub qs ON qs.id = c.qid AND qs.s = e.s
       |  GROUP BY $candGroup),
       | top AS MATERIALIZED (
       |  SELECT qid, id FROM (
       |   SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rk
       |   FROM adc) t WHERE rk <= $refineK),
       | ap AS MATERIALIZED (
       |  SELECT qid, id FROM (
       |   SELECT t.qid, t.id,
       |    row_number() OVER (PARTITION BY t.qid
       |      ORDER BY list_dot_product(q.u, e.u) DESC, t.id) AS rk
       |   FROM top t JOIN u q ON q.id = t.qid JOIN u e ON e.id = t.id) x
       |  WHERE rk <= $k),
       | tr AS MATERIALIZED (
       |  SELECT qid, id FROM (
       |   SELECT q.id AS qid, e.id,
       |    row_number() OVER (PARTITION BY q.id
       |      ORDER BY list_dot_product(q.u, e.u) DESC, e.id) AS rk
       |   FROM u q JOIN u e ON q.id < 20 AND q.id <> e.id) t WHERE rk <= $k)
       |SELECT tr.qid AS query_id,
       | CAST(sum(CASE WHEN ap.id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
       | round(CAST(sum(CASE WHEN ap.id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |   / $k + 1e-9, 4) AS recall
       |FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.id = ap.id
       |GROUP BY tr.qid ORDER BY query_id""".stripMargin
  }

  private val vecsCte =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |   sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Shared single-band banding CTEs for the s02/s12/s33 twins: adaptive
    * width `nb`, hyperplane table, per-vector projections `dots`, buckets
    * `buck`, bucketed corpus `eb`. Expects `e` from [[vecsCte]]; ends
    * without a trailing comma — compose with ",\n". */
  private val s02BucketCtes =
    """ nb AS (
      |  SELECT LEAST(20, GREATEST(8,
      |   CAST(ceil(log2(count(*) / 256.0)) AS INT))) AS w FROM e),
      | hp AS (
      |  SELECT j, d,
      |   (CAST(CAST(('0x' || substr(md5('hp:' || j || ':' || d),1,15)) AS UBIGINT)
      |     % 2001 AS BIGINT) - 1000) / 1000.0 AS r
      |  FROM (SELECT unnest(range(0,20)) AS j), (SELECT unnest(range(0,64)) AS d)
      |  WHERE j < (SELECT w FROM nb)),
      | ev AS (
      |  SELECT vec_id, generate_subscripts(v,1)-1 AS d, unnest(v) AS x FROM e),
      | dots AS (
      |  SELECT ev.vec_id, hp.j, sum(ev.x * hp.r) AS s
      |  FROM ev JOIN hp USING (d) GROUP BY ev.vec_id, hp.j),
      | buck AS (
      |  SELECT vec_id,
      |   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id),
      | eb AS (SELECT e.*, buck.bucket FROM e JOIN buck USING (vec_id))""".stripMargin

  /** Width-keyed probe-budget CASE table — the DuckDB half of the
    * [[s02Budget]] single source of truth: generated at twin-construction
    * time from the SAME [[LshTuning.probeBudget]] walk the Scala serving
    * path runs, so both engines consume identical budgets as plan
    * constants at every adaptive width and neither replays the float
    * cumulative-mass walk (no cross-engine threshold-boundary risk). */
  private def s02BudgetCaseSql(budget: Int => Int = s02Budget): String =
    "CASE (SELECT w FROM nb) " +
      (8 to 20).map(w => s"WHEN $w THEN ${budget(w)}").mkString(" ") +
      " END"

  /** Query-side multi-probe list `qp` for the 20 witness queries (the
    * [[probeMasksBudgeted]] budgeted margin-ordered design replayed:
    * every non-empty perturbation subset of the `least(w, 12)`
    * weakest-margin bits ([[s02ProbeBits]] — the `mb` CTE derives the
    * same min from the width CTE) is scored by the exact-integer sum of
    * its micro-margins `CAST(round(round(|proj|,6)·1e6) AS BIGINT)`,
    * ranked (score asc, mask asc), and the first [[s02BudgetCaseSql]]
    * subsets probe on top of the exact bucket; margin rank =
    * round(|proj|, 6) with bit-index ties). Needs [[s02BucketCtes]];
    * ends without a trailing comma. `budget` picks which width-keyed
    * CASE table the `tb` CTE consumes — [[s02Budget]] for the standalone
    * s02/s12/s33 rows, [[s02FusionBudget]] for the s36 fusion leg. */
  private def s02ProbeCtesSql(budget: Int => Int = s02Budget): String =
    s""" mb AS (SELECT least(w, ${S02ProbeBitsCap}) AS m FROM nb),
       | qm AS (
       |  SELECT vec_id, j AS bit, round(abs(s), 6) AS m,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY round(abs(s), 6), j) AS fr
       |  FROM dots WHERE vec_id < 20),
       | qmm AS (
       |  SELECT vec_id, fr - 1 AS r, CAST(round(m * 1e6) AS BIGINT) AS mi,
       |   CAST(1 AS BIGINT) << bit AS k
       |  FROM qm WHERE fr <= (SELECT m FROM mb)),
       | tb AS (SELECT ${s02BudgetCaseSql(budget)} AS t),
       | sco AS (
       |  SELECT q.vec_id, s.sid,
       |   CAST(sum(CASE WHEN (s.sid >> q.r) & 1 = 1 THEN q.mi ELSE 0 END) AS BIGINT) AS score,
       |   CAST(sum(CASE WHEN (s.sid >> q.r) & 1 = 1 THEN q.k ELSE 0 END) AS BIGINT) AS mask
       |  FROM qmm q,
       |   (SELECT unnest(range(1, (SELECT CAST(1 AS BIGINT) << m FROM mb))) AS sid) s
       |  GROUP BY q.vec_id, s.sid),
       | qpm AS (
       |  SELECT vec_id, mask FROM (
       |   SELECT vec_id, mask,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY score, mask) AS pr
       |   FROM sco) z WHERE pr <= (SELECT t FROM tb)),
       | qp AS (
       |  SELECT vec_id, bucket FROM buck WHERE vec_id < 20
       |  UNION ALL
       |  SELECT m.vec_id, xor(b.bucket, m.mask)
       |  FROM qpm m JOIN buck b ON b.vec_id = m.vec_id)""".stripMargin

  /** The s38 IVF-leg CTEs: the d18 Lloyd staging (auto-nlist from
    * count(*) by the exact `semanticDedupNlist` integer rule, lowest-id
    * seeds, argmin rounds, id-sorted fold means) on unit vectors, the
    * corpus assignment `iasg`, the integer-ppm nprobe rule (`ik.np` —
    * [[LshTuning.ivfProbePpm]] at [[S02FusionTargetRecall]], BIGINT
    * multiply so nlist = 4096 cannot overflow), the per-query top-nprobe
    * centroid probe `ipq` (d2 asc, cluster asc — the kmeansPick tie
    * contract), and the exact-cosine in-list top-10 `ir10` on the
    * ORIGINAL vectors (the s01 ranking contract). Expects `e` from
    * [[vecsCte]]; ends without a trailing comma — compose with ",\n" and
    * [[rrfServedRecallTailSql]]("ir10"). */
  private def ivfLegCtes(iters: Int, dim: Int): String = {
    val ppm = LshTuning.ivfProbePpm(S02FusionTargetRecall)
    def d2(v: String, cv: String) =
      s"(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)) + list_dot_product($cv, $cv)"
    val zeros = s"list_transform(range(1, ${dim + 1}), i -> CAST(0 AS DOUBLE))"
    val rounds = (1 to iters).map { r =>
      val prev = s"ic${r - 1}"
      s""" ia$r AS MATERIALIZED (
         |  SELECT t.vec_id, (min({'d': ${d2("t.v", "c.v")}, 'c': c.cl})).c AS cl
         |  FROM itr t, $prev c GROUP BY t.vec_id),
         | im$r AS MATERIALIZED (
         |  SELECT cl, list_transform(s, z -> z / n) AS v FROM (
         |   SELECT a.cl, count(*) AS n,
         |    list_reduce(list_prepend($zeros, list(t.v ORDER BY t.vec_id)),
         |      (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS s
         |   FROM ia$r a JOIN itr t USING (vec_id) GROUP BY a.cl) q2),
         | ic$r AS MATERIALIZED (
         |  SELECT $prev.cl, coalesce(im$r.v, $prev.v) AS v
         |  FROM $prev LEFT JOIN im$r USING (cl)),""".stripMargin
    }.mkString("\n")
    s""" iu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM e),
       | ik AS (
       |  SELECT k, CAST(LEAST(k, GREATEST(1,
       |   (CAST(k AS BIGINT) * $ppm + 999999) // 1000000)) AS INTEGER) AS np
       |  FROM (SELECT CAST(GREATEST(16, LEAST(4096, (n + 4095) // 4096)) AS INTEGER) AS k
       |        FROM (SELECT count(*) AS n FROM e))),
       | itr AS (SELECT vec_id, v FROM iu
       |  WHERE vec_id < (SELECT GREATEST(256, k) FROM ik)),
       | ic0 AS MATERIALIZED (
       |  SELECT cl, v FROM (
       |   SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
       |   FROM itr) z
       |  WHERE cl < (SELECT k FROM ik)),
       |$rounds
       | iasg AS MATERIALIZED (
       |  SELECT t.vec_id, (min({'d': ${d2("t.v", "c.v")}, 'c': c.cl})).c AS cid
       |  FROM iu t, ic$iters c GROUP BY t.vec_id),
       | ipq AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |   SELECT q.vec_id, c.cl AS cid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${d2("q.v", "c.v")}, c.cl) AS pr
       |   FROM (SELECT vec_id, v FROM iu WHERE vec_id < 20) q, ic$iters c) z
       |  WHERE pr <= (SELECT np FROM ik)),
       | ir10 AS (
       |  SELECT query_id, id, r FROM (
       |   SELECT p.query_id, a.vec_id AS id,
       |    CAST(row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY round(list_dot_product(q.v, c2.v) / (q.nrm * c2.nrm), 6) DESC,
       |               a.vec_id) AS BIGINT) AS r
       |   FROM ipq p JOIN iasg a ON p.cid = a.cid AND p.query_id <> a.vec_id
       |    JOIN e q ON q.vec_id = p.query_id
       |    JOIN e c2 ON c2.vec_id = a.vec_id) t
       |  WHERE r <= 10)""".stripMargin
  }

  /** The fusion + brute-truth + agreement tail shared by the served-fusion
    * recall twins (s36/s37): the 64-bit sign-signature CTE, the Hamming
    * top-10 leg `hr` (the IDENTICAL ranking in both fusions — the
    * round-17 leg fix that lifted agreement from ~0.5), the served fusion
    * of `leg` ∪ hr, the s34 brute fusion of the exact cosine top-10 ∪ hr,
    * and the per-query agreement join. Expects the `e` vectors CTE and a
    * `leg` CTE of (query_id, id, r) rows; returns the closing CTEs + final
    * SELECT (no leading comma). */
  private def rrfServedRecallTailSql(leg: String): String =
    s""" sig AS (
       |  SELECT vec_id,
       |   CAST(list_sum(list_transform(range(0,32), d ->
       |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << d) ELSE 0 END)) AS BIGINT) AS s0,
       |   CAST(list_sum(list_transform(range(32,64), d ->
       |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << (d-32)) ELSE 0 END)) AS BIGINT) AS s1
       |  FROM e),
       | hr AS (
       |  SELECT query_id, id, r FROM (
       |   SELECT q.vec_id AS query_id, c.vec_id AS id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY bit_count(xor(q.s0, c.s0)) + bit_count(xor(q.s1, c.s1)),
       |               c.vec_id) AS BIGINT) AS r
       |   FROM sig q JOIN sig c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
       |  WHERE r <= 10),
       | sfu AS (
       |  SELECT query_id, id, sum(1.0 / (60 + r)) AS score
       |  FROM (SELECT * FROM $leg UNION ALL SELECT * FROM hr) u
       |  GROUP BY query_id, id),
       | sv5 AS (
       |  SELECT query_id, id FROM (
       |   SELECT query_id, id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(score + 1e-9, 6) DESC, id) AS BIGINT) AS rrf_rank
       |   FROM sfu) t WHERE rrf_rank <= 5),
       | cr AS (
       |  SELECT query_id, id, r FROM (
       |   SELECT q.vec_id AS query_id, e2.vec_id AS id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
       |               e2.vec_id) AS BIGINT) AS r
       |   FROM e q JOIN e e2 ON q.vec_id < 20 AND q.vec_id <> e2.vec_id) t
       |  WHERE r <= 10),
       | bfu AS (
       |  SELECT query_id, id, sum(1.0 / (60 + r)) AS score
       |  FROM (SELECT * FROM cr UNION ALL SELECT * FROM hr) u
       |  GROUP BY query_id, id),
       | tr5 AS (
       |  SELECT query_id, id FROM (
       |   SELECT query_id, id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(score + 1e-9, 6) DESC, id) AS BIGINT) AS rrf_rank
       |   FROM bfu) t WHERE rrf_rank <= 5)
       |SELECT tr5.query_id AS query_id,
       | CAST(sum(CASE WHEN sv5.id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
       | round(CAST(sum(CASE WHEN sv5.id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |   / 5 + 1e-9, 4) AS recall
       |FROM tr5 LEFT JOIN sv5
       | ON tr5.query_id = sv5.query_id AND tr5.id = sv5.id
       |GROUP BY tr5.query_id ORDER BY tr5.query_id""".stripMargin

  /** The [[graft.ext.DedupOps.knnGraphAuto]] candidate CTEs shared by the
    * s26/s37 twins: adaptive band width from the FULL corpus count,
    * banded random-hyperplane signatures over 60 planes, the 2-probe
    * weakest-margin bit flips against the exact-signature index, and the
    * symmetrized distinct candidate pairs. Expects `e`; ends with `sym`
    * (no trailing comma). */
  private val knnGraphCandCtes =
    """ nw AS (
      |  SELECT LEAST(15, GREATEST(4,
      |   CAST(ceil(log2(count(*) / 32.0)) AS INT))) AS w FROM e),
      | hp AS (
      |  SELECT j, d,
      |   (CAST(CAST(('0x' || substr(md5('hp:' || j || ':' || d),1,15)) AS UBIGINT)
      |     % 2001 AS BIGINT) - 1000) / 1000.0 AS r
      |  FROM (SELECT unnest(range(0,60)) AS j), (SELECT unnest(range(0,64)) AS d)
      |  WHERE j < 4 * (SELECT w FROM nw)),
      | ev AS (
      |  SELECT vec_id, generate_subscripts(v,1)-1 AS d, unnest(v) AS x FROM e),
      | dots AS (
      |  SELECT ev.vec_id, hp.j, sum(ev.x * hp.r) AS s
      |  FROM ev JOIN hp USING (d) GROUP BY ev.vec_id, hp.j),
      | sigj AS (
      |  SELECT vec_id, j // (SELECT w FROM nw) AS band,
      |   j % (SELECT w FROM nw) AS bit, s FROM dots),
      | bsig AS (
      |  SELECT vec_id, band,
      |   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
      |     AS BIGINT) AS bsig
      |  FROM sigj GROUP BY vec_id, band),
      | flip AS (
      |  SELECT vec_id, band, bit,
      |   row_number() OVER (PARTITION BY vec_id, band
      |     ORDER BY round(abs(s), 6), bit) AS fr
      |  FROM sigj),
      | probe AS (
      |  SELECT vec_id, band, bsig FROM bsig
      |  UNION ALL
      |  SELECT s.vec_id, s.band,
      |   xor(s.bsig, CAST(1 AS BIGINT) << f.bit) AS bsig
      |  FROM bsig s JOIN flip f
      |   ON s.vec_id = f.vec_id AND s.band = f.band AND f.fr <= 2),
      | cand AS (
      |  SELECT DISTINCT least(p.vec_id, i.vec_id) AS id_a,
      |   greatest(p.vec_id, i.vec_id) AS id_b
      |  FROM probe p JOIN bsig i
      |   ON p.band = i.band AND p.bsig = i.bsig AND p.vec_id <> i.vec_id),
      | sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM cand
      |  UNION ALL SELECT id_b, id_a FROM cand)""".stripMargin

  /** Brute top-5 truth CTE `tr` for the recall twins (s12/s33). Expects
    * `e`; ends without a trailing comma. */
  private val s02TruthCte =
    """ tr AS (
      |  SELECT qid, vec_id FROM (
      |   SELECT q.vec_id AS qid, e2.vec_id,
      |    CAST(row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
      |               e2.vec_id) AS BIGINT) AS rk
      |   FROM e q JOIN e e2 ON q.vec_id < 20 AND q.vec_id <> e2.vec_id) t
      |  WHERE rk <= 5)""".stripMargin

  /** Probed approximate top-`k` CTE named `cte` (the s02 serving config).
    * Needs [[s02ProbeCtesSql]]; ends without a trailing comma. */
  private def s02ProbeTopKCte(k: Int, cte: String = "ap"): String =
    s""" $cte AS (
       |  SELECT qid, vec_id FROM (
       |   SELECT qp.vec_id AS qid, e2.vec_id,
       |    CAST(row_number() OVER (PARTITION BY qp.vec_id
       |      ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
       |               e2.vec_id) AS BIGINT) AS rk
       |   FROM qp JOIN eb e2 ON qp.bucket = e2.bucket AND qp.vec_id <> e2.vec_id
       |    JOIN e q ON q.vec_id = qp.vec_id) t
       |  WHERE rk <= $k)""".stripMargin
  private def s02ProbeTop5Cte = s02ProbeTopKCte(5)

  /** Brute-force cosine top-5 over the fixed 500-vector corpus slice — the
    * shared covering-configuration witness of s05 and s08. */
  private val bruteTop5Slice500Sql =
    """WITH u AS (
      |  SELECT vec_id,
      |   list_transform(embedding::DOUBLE[],
      |     x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))) AS u
      |  FROM embeddings WHERE vec_id < 500)
      |SELECT query_id, rk AS "rank", id, round(cos, 4) + 0.0 AS cosine FROM (
      | SELECT q.vec_id AS query_id, e.vec_id AS id,
      |  list_dot_product(q.u, e.u) AS cos,
      |  CAST(row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_dot_product(q.u, e.u) DESC, e.vec_id) AS BIGINT) AS rk
      | FROM u q JOIN u e ON q.vec_id < 20 AND q.vec_id <> e.vec_id) t
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Generated DuckDB twin of [[s15Kmeans]]/[[s16KmeansPp]]: per Lloyd
    * round an argmin CTE (a_r), an id-sorted element-wise fold-mean CTE
    * (m_r), and an empty-cluster-keep CTE (c_r) — `AS MATERIALIZED` like
    * the t14 BPE stages so DuckDB cannot re-inline the chain. With
    * `ppInit` the c0 seed block is replaced by the k−1 staged ++ argmax
    * selections (p_j: min-d2 against the chosen set; n_j: the
    * d2 × md5-weight race winner; i_j: the growing center set), replaying
    * [[kmeansFitPp]]'s derandomized rule term for term. */
  /** Generated DuckDB twin of [[s30TopComponent]]: stages the id-sorted
    * mean fold, the centered sample, the md5-derived init, and `iters`
    * power-iteration rounds (matrix-vector fold in vec_id order,
    * re-normalize with the zero-norm keep-previous guard), then projects
    * the whole corpus. Every fold is the same left-to-right association
    * the Scala fit runs, so the doubles replay bit-exactly. */
  private def topComponentSql(iters: Int, dim: Int,
      customTail: String = ""): String = {
    val zeros = s"list_transform(range(1, ${dim + 1}), i -> CAST(0 AS DOUBLE))"
    val rounds = (1 to iters).map { r =>
      s""" a$r AS MATERIALIZED (
         |  SELECT list_reduce(list_prepend($zeros,
         |    list(list_transform(q.c, x -> x * q.s) ORDER BY q.vec_id)),
         |   (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS acc
         |  FROM (SELECT ctr.vec_id, ctr.c,
         |    list_dot_product(ctr.c, p${r - 1}.v) AS s FROM ctr, p${r - 1}) q),
         | p$r AS MATERIALIZED (
         |  SELECT CASE WHEN list_dot_product(acc, acc) = 0 THEN (SELECT v FROM p${r - 1})
         |   ELSE list_transform(acc, x -> x / sqrt(list_dot_product(acc, acc))) END AS v
         |  FROM a$r),""".stripMargin
    }.mkString("\n")
    vecsCte +
      s""", tr AS (SELECT vec_id, v FROM e WHERE vec_id < 256),
         | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tr),
         | mu AS MATERIALIZED (
         |  SELECT list_transform(q.sm, z -> z / nn.n) AS m
         |  FROM (SELECT list_reduce(list_prepend($zeros, list(v ORDER BY vec_id)),
         |     (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS sm
         |    FROM tr) q, nn),
         | ctr AS MATERIALIZED (
         |  SELECT t.vec_id,
         |   list_transform(range(1, ${dim + 1}), i -> t.v[i] - mu.m[i]) AS c
         |  FROM tr t, mu),
         | p0 AS (
         |  SELECT list_transform(range(0, $dim), d ->
         |   (CAST(CAST(('0x' || substr(md5('pi:' || d),1,15)) AS UBIGINT)
         |     % 2001 AS BIGINT) - 1000) / 1000.0) AS v),
         |$rounds
         | fin AS (SELECT v FROM p$iters)
         |""".stripMargin +
      (if (customTail.nonEmpty) customTail
       else
         """SELECT e.vec_id,
           | round(list_dot_product(e.v, fin.v) - list_dot_product(mu.m, fin.v)
           |   + 1e-9, 4) + 0.0 AS proj
           |FROM e, fin, mu ORDER BY e.vec_id""".stripMargin)
  }

  /** Generated DuckDB twin of [[s35KCenter]]: the greedy farthest-point
    * picks staged like kmeansSql's ++-init (one min-d2 fold + argmax CTE
    * pair per pick), then the struct-min assignment against the final
    * pick set. */
  private def kCenterSql(k: Int): String = {
    def d2(v: String, cv: String) =
      s"(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)) + list_dot_product($cv, $cv)"
    val picks = (1 until k).map { j =>
      s""" p$j AS MATERIALIZED (
         |  SELECT t.vec_id, t.v, min(${d2("t.v", "c.v")}) AS dmin
         |  FROM e t, i${j - 1} c GROUP BY t.vec_id, t.v),
         | n$j AS MATERIALIZED (
         |  SELECT CAST($j AS INTEGER) AS cl, v FROM p$j
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         | i$j AS MATERIALIZED (
         |  SELECT cl, v FROM i${j - 1} UNION ALL SELECT cl, v FROM n$j),""".stripMargin
    }.mkString("\n")
    vecsCte +
      s""", i0 AS MATERIALIZED (
         |  SELECT CAST(0 AS INTEGER) AS cl, v FROM e ORDER BY vec_id LIMIT 1),
         |$picks
         | fin AS (
         |  SELECT e.vec_id, min({'d': ${d2("e.v", "c.v")}, 'c': c.cl}) AS p
         |  FROM e, i${k - 1} c GROUP BY e.vec_id)
         |SELECT vec_id, CAST((p).c AS BIGINT) AS center,
         | round((p).d + 1e-9, 4) + 0.0 AS dist2
         |FROM fin ORDER BY vec_id""".stripMargin
  }

  private[ext] def kmeansSql(k: Int, iters: Int, dim: Int,
      ppInit: Boolean = false, weighted: Boolean = false,
      coresetPerCluster: Int = 0, customTail: String = "",
      spherical: Boolean = false): String = {
    def d2(v: String, cv: String) =
      s"(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)) + list_dot_product($cv, $cv)"
    val zeros = s"list_transform(range(1, ${dim + 1}), i -> CAST(0 AS DOUBLE))"
    val init =
      if (!ppInit)
        s""" c0 AS MATERIALIZED (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
           |  FROM tr ORDER BY vec_id LIMIT $k),""".stripMargin
      else {
        val picks = (1 until k).map { j =>
          s""" p$j AS MATERIALIZED (
             |  SELECT t.vec_id, t.v, min(${d2("t.v", "c.v")}) AS dmin
             |  FROM tr t, i${j - 1} c GROUP BY t.vec_id, t.v),
             | n$j AS MATERIALIZED (
             |  SELECT CAST($j AS INTEGER) AS cl, v FROM p$j
             |  ORDER BY dmin * CAST(CAST(('0x' || substr(md5('kpp:$j:' || vec_id),1,15)) AS UBIGINT)
             |    % 1048576 + 1 AS DOUBLE) DESC, vec_id
             |  LIMIT 1),
             | i$j AS MATERIALIZED (
             |  SELECT cl, v FROM i${j - 1} UNION ALL SELECT cl, v FROM n$j),""".stripMargin
        }.mkString("\n")
        s""" i0 AS MATERIALIZED (
           |  SELECT CAST(0 AS INTEGER) AS cl, v FROM tr ORDER BY vec_id LIMIT 1),
           |$picks
           | c0 AS MATERIALIZED (SELECT cl, v FROM i${k - 1}),""".stripMargin
      }
    // weighted mode: numerator multiplies each vector by its weight
    // BEFORE the id-sorted element-wise fold; the denominator folds the
    // weights in the SAME id order — both exactly kmeansFitWeighted's
    // aggregate() lambdas
    val meanInner =
      if (!weighted)
        s"""   SELECT a.cl, count(*) AS n,
           |    list_reduce(list_prepend($zeros, list(t.v ORDER BY t.vec_id)),
           |      (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS s
           |   FROM a%R% a JOIN tr t USING (vec_id) GROUP BY a.cl""".stripMargin
      else
        s"""   SELECT a.cl,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(t.w ORDER BY t.vec_id)),
           |      (acc, x) -> acc + x) AS n,
           |    list_reduce(list_prepend($zeros,
           |        list(list_transform(t.v, x -> x * t.w) ORDER BY t.vec_id)),
           |      (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS s
           |   FROM a%R% a JOIN tr t USING (vec_id) GROUP BY a.cl""".stripMargin
    // spherical mode: the round mean projects back to the unit sphere —
    // exactly lloyd's driver-side renormalize (sequential square-sum
    // ≡ list_dot_product(mv, mv), then one IEEE sqrt and per-element
    // divide). A zero-norm mean yields NULL so the c$r coalesce keeps the
    // previous centroid — the same guard as lloyd's nrm == 0 branch.
    val meanVec =
      if (spherical)
        """CASE WHEN list_dot_product(mv, mv) = 0 THEN NULL
          |   ELSE list_transform(mv, x -> x / sqrt(list_dot_product(mv, mv))) END"""
          .stripMargin
      else "mv"
    val rounds = (1 to iters).map { r =>
      val prev = s"c${r - 1}"
      s""" a$r AS MATERIALIZED (
         |  SELECT t.vec_id, (min({'d': ${d2("t.v", "c.v")}, 'c': c.cl})).c AS cl
         |  FROM tr t, $prev c GROUP BY t.vec_id),
         | m$r AS MATERIALIZED (
         |  SELECT cl, $meanVec AS v FROM (
         |   SELECT cl, list_transform(s, z -> z / n) AS mv FROM (
         |${meanInner.replace("%R%", r.toString)}) q0) q),
         | c$r AS MATERIALIZED (
         |  SELECT $prev.cl, coalesce(m$r.v, $prev.v) AS v
         |  FROM $prev LEFT JOIN m$r USING (cl)),""".stripMargin
    }.mkString("\n")
    val trCte =
      if (weighted)
        " tr AS (SELECT vec_id, v, CAST(label + 1 AS DOUBLE) AS w FROM e WHERE vec_id < 256),"
      else
        " tr AS (SELECT vec_id, v FROM e WHERE vec_id < 256),"
    // coreset mode: rank within each cluster on the SAME rounded distance
    // the assignment emits (then id), keep the perCluster nearest — the
    // c18 twin of CurationOps.coresetSample over this assignment
    // customTail: continue the CTE chain after `fin` (start with a comma)
    // and end with the final SELECT — the t29 cluster-labeling twin rides
    // the same staged training this way
    val tail =
      if (customTail.nonEmpty) customTail
      else if (coresetPerCluster <= 0)
        """SELECT vec_id, CAST((p).c AS BIGINT) AS cluster,
          | round((p).d + 1e-9, 4) + 0.0 AS dist2
          |FROM fin ORDER BY vec_id""".stripMargin
      else
        s"""SELECT vec_id, cluster, dist2, coreset_rank FROM (
           | SELECT vec_id, CAST((p).c AS BIGINT) AS cluster,
           |  round((p).d + 1e-9, 4) + 0.0 AS dist2,
           |  CAST(row_number() OVER (PARTITION BY (p).c
           |    ORDER BY round((p).d + 1e-9, 4), vec_id) AS BIGINT) AS coreset_rank
           | FROM fin) t
           |WHERE coreset_rank <= $coresetPerCluster ORDER BY vec_id""".stripMargin
    // spherical mode: the corpus normalizes ONCE in the base CTE (the s03
    // unit-vector staging, proven ≡ unitVecs) — training and assignment
    // then share the same unit vectors, like the Spark side
    val baseV =
      if (spherical)
        """list_transform(embedding::DOUBLE[],
          |   x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))))"""
          .stripMargin
      else "embedding::DOUBLE[]"
    s"""WITH e AS (SELECT vec_id, label, $baseV AS v FROM embeddings),
       |$trCte
       |$init
       |$rounds
       | fin AS (
       |  SELECT t.vec_id, min({'d': ${d2("t.v", "c.v")}, 'c': c.cl}) AS p
       |  FROM e t, c$iters c GROUP BY t.vec_id)
       |$tail""".stripMargin
  }

  /** Generated DuckDB twin of [[s19KmeansParallel]]: the race batches
    * (q_r: min-D² vs the candidate set; s_r: top-l by D²·md5-weight;
    * j_r: the growing set), the argmin weight count (wts/tc — candidates
    * keyed by their vec_id, ties to the lowest, zero-member candidates
    * dropped by the inner join exactly as the Spark side's w > 0 filter),
    * then the s17 weighted-reduction staging over tc and the final
    * whole-table assignment. */
  private def kmeansParSql(k: Int, rounds: Int, l: Int, candIters: Int,
      dim: Int, refineIters: Int = 0): String = {
    def d2(v: String, cv: String) =
      s"(list_dot_product($v, $v) - 2 * list_dot_product($v, $cv)) + list_dot_product($cv, $cv)"
    val zeros = s"list_transform(range(1, ${dim + 1}), i -> CAST(0 AS DOUBLE))"
    val race = (1 to rounds).map { r =>
      s""" q$r AS MATERIALIZED (
         |  SELECT t.vec_id, t.v, min(${d2("t.v", "c.v")}) AS dmin
         |  FROM tr t, j${r - 1} c GROUP BY t.vec_id, t.v),
         | s$r AS MATERIALIZED (
         |  SELECT vec_id, v FROM q$r
         |  ORDER BY dmin * CAST(CAST(('0x' || substr(md5('kpar:$r:' || vec_id),1,15)) AS UBIGINT)
         |    % 1048576 + 1 AS DOUBLE) DESC, vec_id
         |  LIMIT $l),
         | j$r AS MATERIALIZED (
         |  SELECT vec_id, v FROM j${r - 1} UNION ALL SELECT vec_id, v FROM s$r),""".stripMargin
    }.mkString("\n")
    val wRounds = (1 to candIters).map { r =>
      val prev = s"c${r - 1}"
      s""" a$r AS MATERIALIZED (
         |  SELECT t.vec_id, (min({'d': ${d2("t.v", "c.v")}, 'c': c.cl})).c AS cl
         |  FROM tc t, $prev c GROUP BY t.vec_id),
         | m$r AS MATERIALIZED (
         |  SELECT cl, list_transform(s, z -> z / n) AS v FROM (
         |   SELECT a.cl,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(t.w ORDER BY t.vec_id)),
         |      (acc, x) -> acc + x) AS n,
         |    list_reduce(list_prepend($zeros,
         |        list(list_transform(t.v, x -> x * t.w) ORDER BY t.vec_id)),
         |      (acc, x) -> list_transform(range(1, ${dim + 1}), i -> acc[i] + x[i])) AS s
         |   FROM a$r a JOIN tc t USING (vec_id) GROUP BY a.cl) q2),
         | c$r AS MATERIALIZED (
         |  SELECT $prev.cl, coalesce(m$r.v, $prev.v) AS v
         |  FROM $prev LEFT JOIN m$r USING (cl)),""".stripMargin
    }.mkString("\n")
    // full-corpus Lloyd refinement behind the ‖ init (s20): the UNWEIGHTED
    // staging over tr, round numbering continuing after the weighted ones
    val rRounds = (candIters + 1 to candIters + refineIters).map { r =>
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
    val finRounds = candIters + refineIters
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       | tr AS (SELECT vec_id, v FROM e WHERE vec_id < 256),
       | j0 AS MATERIALIZED (SELECT vec_id, v FROM tr ORDER BY vec_id LIMIT 1),
       |$race
       | wts AS MATERIALIZED (
       |  SELECT ci AS vec_id, CAST(count(*) AS DOUBLE) AS w FROM (
       |   SELECT (min({'d': ${d2("t.v", "c.v")}, 'c': c.vec_id})).c AS ci
       |   FROM tr t, j$rounds c GROUP BY t.vec_id) z GROUP BY ci),
       | tc AS MATERIALIZED (
       |  SELECT j.vec_id, j.v, w.w FROM j$rounds j JOIN wts w USING (vec_id)),
       | c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
       |  FROM tc ORDER BY vec_id LIMIT $k),
       |$wRounds
       |$rRounds
       | fin AS (
       |  SELECT t.vec_id, min({'d': ${d2("t.v", "c.v")}, 'c': c.cl}) AS p
       |  FROM e t, c$finRounds c GROUP BY t.vec_id)
       |SELECT vec_id, CAST((p).c AS BIGINT) AS cluster,
       | round((p).d + 1e-9, 4) + 0.0 AS dist2
       |FROM fin ORDER BY vec_id""".stripMargin
  }

  /** Generated DuckDB twin of [[mmrRerank]]: the candidate ranking (s01
    * round-6 contract over unit vectors), then each greedy pick staged as
    * its own argmax CTE (the kmeansFitPp staging discipline). The lambda
    * weights are interpolated from the SAME Scala doubles the Spark plan
    * folds in — `1.0 - lambda` is computed ONCE here, so both engines
    * subtract the identical (binary) constant. */
  private def mmrSql(k: Int, nCand: Int, lambda: Double): String = {
    val oneMinus = 1.0 - lambda
    val stages = (2 to k).map { j =>
      s""" ms$j AS (
         |  SELECT r.query_id, r.id, max(list_dot_product(r.u, s.u)) AS msim
         |  FROM rem${j - 1} r JOIN selall${j - 1} s USING (query_id)
         |  GROUP BY r.query_id, r.id),
         | sc$j AS (
         |  SELECT c.query_id, c.id, c.rel, c.u,
         |   $lambda * c.rel - $oneMinus * m.msim AS score
         |  FROM cand c JOIN ms$j m ON c.query_id = m.query_id AND c.id = m.id),
         | sel$j AS (
         |  SELECT query_id, id, rel, u, score FROM (
         |   SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY score DESC, id) AS p FROM sc$j) t WHERE p = 1),
         | selall$j AS (
         |  SELECT * FROM selall${j - 1} UNION ALL SELECT * FROM sel$j),
         | rem$j AS (
         |  SELECT r.* FROM rem${j - 1} r ANTI JOIN sel$j s USING (query_id, id)),""".stripMargin
    }.mkString("\n")
    val unions = (1 to k).map { j =>
      s"""SELECT query_id, CAST($j AS BIGINT) AS mmr_rank, id, rel + 0.0 AS rel,
         | round(score + 1e-9, 4) + 0.0 AS score FROM sel$j""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH eu AS (
       |  SELECT vec_id,
       |   list_transform(embedding::DOUBLE[],
       |     x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))) AS u
       |  FROM embeddings),
       | cand AS (
       |  SELECT query_id, id, rel, u FROM (
       |   SELECT q.vec_id AS query_id, c.vec_id AS id,
       |    round(list_dot_product(q.u, c.u), 6) AS rel, c.u,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_dot_product(q.u, c.u), 6) DESC, c.vec_id) AS rk
       |   FROM eu q JOIN eu c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
       |  WHERE rk <= $nCand),
       | sel1 AS (
       |  SELECT query_id, id, rel, u, rel AS score FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY rel DESC, id) AS p FROM cand) t WHERE p = 1),
       | selall1 AS (SELECT * FROM sel1),
       | rem1 AS (
       |  SELECT c.* FROM cand c ANTI JOIN sel1 s USING (query_id, id)),
       |$stages
       | fin AS (
       |$unions)
       |SELECT * FROM fin ORDER BY query_id, mmr_rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s25_mmr_rerank" -> mmrSql(k = 5, nCand = 20, lambda = 0.7),
    // the lshParts banding replayed: adaptive-width bands over 60
    // hyperplanes, multi-probe (the 2 weakest-margin bit flips per band
    // probe the exact-signature index), OR-of-ANDs candidates symmetrized,
    // then the s01 ranking contract
    "s26_knn_graph" ->
      (vecsCte + ",\n" + knnGraphCandCtes +
        """
          |SELECT src, rk, dst, round(cos6 + 1e-9, 4) + 0.0 AS cos FROM (
          | SELECT sym.src, sym.dst,
          |  round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cos6,
          |  CAST(row_number() OVER (PARTITION BY sym.src
          |    ORDER BY round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) DESC,
          |             sym.dst) AS BIGINT) AS rk
          | FROM sym JOIN e sa ON sym.src = sa.vec_id JOIN e sb ON sym.dst = sb.vec_id) t
          |WHERE rk <= 3 ORDER BY src, rk""".stripMargin),
    // the s26 banding CTEs — width derived from the FULL corpus count and
    // the 2-probe weakest-bit flips, i.e. the config s26 actually serves —
    // over the fixed 500-vector slice, an apx/tru rank pair (same
    // round-6/lower-id contract), then the s12 recall join
    "s29_knn_graph_recall" ->
      (vecsCte +
        """, nw AS (
          |  SELECT LEAST(15, GREATEST(4,
          |   CAST(ceil(log2(count(*) / 32.0)) AS INT))) AS w FROM e),
          | es AS (SELECT * FROM e WHERE vec_id < 500),
          | hp AS (
          |  SELECT j, d,
          |   (CAST(CAST(('0x' || substr(md5('hp:' || j || ':' || d),1,15)) AS UBIGINT)
          |     % 2001 AS BIGINT) - 1000) / 1000.0 AS r
          |  FROM (SELECT unnest(range(0,60)) AS j), (SELECT unnest(range(0,64)) AS d)
          |  WHERE j < 4 * (SELECT w FROM nw)),
          | ev AS (
          |  SELECT vec_id, generate_subscripts(v,1)-1 AS d, unnest(v) AS x FROM es),
          | dots AS (
          |  SELECT ev.vec_id, hp.j, sum(ev.x * hp.r) AS s
          |  FROM ev JOIN hp USING (d) GROUP BY ev.vec_id, hp.j),
          | sigj AS (
          |  SELECT vec_id, j // (SELECT w FROM nw) AS band,
          |   j % (SELECT w FROM nw) AS bit, s FROM dots),
          | sig AS (
          |  SELECT vec_id, band,
          |   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
          |     AS BIGINT) AS bsig
          |  FROM sigj GROUP BY vec_id, band),
          | flip AS (
          |  SELECT vec_id, band, bit,
          |   row_number() OVER (PARTITION BY vec_id, band
          |     ORDER BY round(abs(s), 6), bit) AS fr
          |  FROM sigj),
          | probe AS (
          |  SELECT vec_id, band, bsig FROM sig
          |  UNION ALL
          |  SELECT s.vec_id, s.band,
          |   xor(s.bsig, CAST(1 AS BIGINT) << f.bit) AS bsig
          |  FROM sig s JOIN flip f
          |   ON s.vec_id = f.vec_id AND s.band = f.band AND f.fr <= 2),
          | cand AS (
          |  SELECT DISTINCT least(p.vec_id, i.vec_id) AS id_a,
          |   greatest(p.vec_id, i.vec_id) AS id_b
          |  FROM probe p JOIN sig i
          |   ON p.band = i.band AND p.bsig = i.bsig AND p.vec_id <> i.vec_id),
          | sym AS (
          |  SELECT id_a AS src, id_b AS dst FROM cand
          |  UNION ALL SELECT id_b, id_a FROM cand),
          | apx AS (
          |  SELECT src, dst FROM (
          |   SELECT sym.src, sym.dst,
          |    CAST(row_number() OVER (PARTITION BY sym.src
          |      ORDER BY round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) DESC,
          |               sym.dst) AS BIGINT) AS rk
          |   FROM sym JOIN es sa ON sym.src = sa.vec_id
          |     JOIN es sb ON sym.dst = sb.vec_id) t
          |  WHERE rk <= 3),
          | tru AS (
          |  SELECT src, dst FROM (
          |   SELECT a.vec_id AS src, b.vec_id AS dst,
          |    CAST(row_number() OVER (PARTITION BY a.vec_id
          |      ORDER BY round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) DESC,
          |               b.vec_id) AS BIGINT) AS rk
          |   FROM es a JOIN es b ON a.vec_id <> b.vec_id) t
          |  WHERE rk <= 3)
          |SELECT tru.src AS query_id,
          | CAST(sum(CASE WHEN apx.dst IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
          | round(CAST(sum(CASE WHEN apx.dst IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
          |   / 3 + 1e-9, 4) AS recall
          |FROM tru LEFT JOIN apx ON tru.src = apx.src AND tru.dst = apx.dst
          |GROUP BY tru.src ORDER BY query_id""".stripMargin),
    "s30_top_component" -> topComponentSql(iters = 8, dim = 64),
    // the s30 staged fit with a residual tail: projection p staged FIRST
    // (a plain column — inlining the dot into the transform lambda would
    // re-evaluate it per element), then (x−μ) − p·v and the sequential norm
    "s31_abtt_residual" -> topComponentSql(iters = 8, dim = 64,
      customTail =
        """, b AS (
          |  SELECT e.vec_id, e.v,
          |   list_dot_product(e.v, fin.v) - list_dot_product(mu.m, fin.v) AS p
          |  FROM e, fin, mu)
          |SELECT vec_id,
          | round(sqrt(list_dot_product(o, o)) + 1e-9, 4) + 0.0 AS resid
          |FROM (
          | SELECT b.vec_id,
          |  list_transform(range(1, 65),
          |   i -> (b.v[i] - mu.m[i]) - b.p * fin.v[i]) AS o
          | FROM b, mu, fin) q
          |ORDER BY vec_id""".stripMargin),
    // the s30 staged fit + the s31 transform tail + the s01 ranking CTE:
    // projection p staged first (plain column — the lambda-CSE rule), the
    // transformed vectors and their norms staged, then the brute top-5
    "s32_abtt_knn" -> topComponentSql(iters = 8, dim = 64,
      customTail =
        """, b AS (
          |  SELECT e.vec_id, e.v,
          |   list_dot_product(e.v, fin.v) - list_dot_product(mu.m, fin.v) AS p
          |  FROM e, fin, mu),
          | tv AS MATERIALIZED (
          |  SELECT b.vec_id,
          |   list_transform(range(1, 65),
          |    i -> (b.v[i] - mu.m[i]) - b.p * fin.v[i]) AS t
          |  FROM b, mu, fin),
          | tn AS MATERIALIZED (
          |  SELECT vec_id, t, sqrt(list_dot_product(t, t)) AS nrm FROM tv)
          |SELECT qid, rk, vec_id, round(cos6 + 1e-9, 4) + 0.0 AS cos FROM (
          | SELECT q.vec_id AS qid, c.vec_id,
          |  round(list_dot_product(q.t, c.t) / (q.nrm * c.nrm), 6) AS cos6,
          |  CAST(row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY round(list_dot_product(q.t, c.t) / (q.nrm * c.nrm), 6) DESC,
          |             c.vec_id) AS BIGINT) AS rk
          | FROM tn q JOIN tn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) z
          |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    // the s01 cosine-top-10 and s10 hamming-top-10 CTEs chained into the
    // RRF sum: 1/(60+rank) contributions (exact-integer denominators,
    // commutative double addition), round-6 rank with id ties
    "s34_rrf_hybrid" ->
      (vecsCte +
        """, sig AS (
          |  SELECT vec_id,
          |   CAST(list_sum(list_transform(range(0,32), d ->
          |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << d) ELSE 0 END)) AS BIGINT) AS s0,
          |   CAST(list_sum(list_transform(range(32,64), d ->
          |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << (d-32)) ELSE 0 END)) AS BIGINT) AS s1
          |  FROM e),
          | cr AS (
          |  SELECT query_id, id, r FROM (
          |   SELECT q.vec_id AS query_id, e2.vec_id AS id,
          |    CAST(row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
          |               e2.vec_id) AS BIGINT) AS r
          |   FROM e q JOIN e e2 ON q.vec_id < 20 AND q.vec_id <> e2.vec_id) t
          |  WHERE r <= 10),
          | hr AS (
          |  SELECT query_id, id, r FROM (
          |   SELECT q.vec_id AS query_id, c.vec_id AS id,
          |    CAST(row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY bit_count(xor(q.s0, c.s0)) + bit_count(xor(q.s1, c.s1)),
          |               c.vec_id) AS BIGINT) AS r
          |   FROM sig q JOIN sig c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
          |  WHERE r <= 10),
          | fused AS (
          |  SELECT query_id, id, sum(1.0 / (60 + r)) AS score
          |  FROM (SELECT * FROM cr UNION ALL SELECT * FROM hr) u
          |  GROUP BY query_id, id)
          |SELECT query_id, rrf_rank, id, round(score + 1e-9, 4) AS rrf_score FROM (
          | SELECT query_id, id, score,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY round(score + 1e-9, 6) DESC, id) AS BIGINT) AS rrf_rank
          | FROM fused) t
          |WHERE rrf_rank <= 5 ORDER BY query_id, rrf_rank""".stripMargin),
    // the served hybrid fusion vs the s34 brute fusion: probed top-10
    // (budgeted margin-ordered multi-probe) + the signature-table Hamming
    // top-10 (the hr CTE — the SAME ranking as the brute fusion's Hamming
    // leg, which is exactly the round-17 leg fix), RRF-fused, recall@5
    // against the brute-fused top-5
    "s36_rrf_served_recall" ->
      (vecsCte + ",\n" + s02BucketCtes + ",\n" +
        s02ProbeCtesSql(s02FusionBudget) + ",\n" +
        """ pr10 AS (
          |  SELECT qid AS query_id, vec_id AS id, rk AS r FROM (
          |   SELECT qp.vec_id AS qid, e2.vec_id,
          |    CAST(row_number() OVER (PARTITION BY qp.vec_id
          |      ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
          |               e2.vec_id) AS BIGINT) AS rk
          |   FROM qp JOIN eb e2 ON qp.bucket = e2.bucket AND qp.vec_id <> e2.vec_id
          |    JOIN e q ON q.vec_id = qp.vec_id) t
          |  WHERE rk <= 10),
          |""".stripMargin + rrfServedRecallTailSql("pr10")),
    // the s26 banded-graph candidate CTEs (adaptive width from the FULL
    // corpus count, 2-probe weakest-bit flips), graph top-10 restricted to
    // the witness queries, then the shared fusion + recall tail — the
    // premium served composition (graph-build cost, highest agreement)
    "s37_rrf_graph_recall" ->
      (vecsCte + ",\n" + knnGraphCandCtes + ",\n" +
        """ gr10 AS (
          |  SELECT src AS query_id, dst AS id, rk AS r FROM (
          |   SELECT sym.src, sym.dst,
          |    CAST(row_number() OVER (PARTITION BY sym.src
          |      ORDER BY round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) DESC,
          |               sym.dst) AS BIGINT) AS rk
          |   FROM sym JOIN e sa ON sym.src = sa.vec_id JOIN e sb ON sym.dst = sb.vec_id
          |   WHERE sym.src < 20) t
          |  WHERE rk <= 10),
          |""".stripMargin + rrfServedRecallTailSql("gr10")),
    // the d18 Lloyd staging (auto-nlist from count(*)), the integer-ppm
    // nprobe rule, the L2 centroid probe, the exact-cosine in-list top-10,
    // then the shared fusion + agreement tail — the past-width-cap serving
    // path for a corpus NOT maintaining the knn graph
    "s38_rrf_ivf_recall" ->
      (vecsCte + ",\n" + ivfLegCtes(iters = 2, dim = 64) + ",\n" +
        rrfServedRecallTailSql("ir10")),
    // the s16 kmeans++ staging minus the sampling randomization: k−1
    // greedy argmax picks (min-d2 fold per staged pick set, dmin DESC with
    // vec_id ties), then the struct-min assignment over the final picks
    "s35_kcenter" -> kCenterSql(k = 8),
    "s15_kmeans" -> kmeansSql(k = 4, iters = 2, dim = 64),
    "s27_kmeans_spherical" -> kmeansSql(k = 4, iters = 2, dim = 64,
      spherical = true),
    // rides the s15 staged training; per row the sorted (own, runner-up)
    // distance pair, clamped at 0 before sqrt exactly like clusterQuality
    "s28_cluster_quality" -> kmeansSql(k = 4, iters = 2, dim = 64,
      customTail =
        """, sd AS (
          |  SELECT t.vec_id,
          |   (list_sort(list({'d': (list_dot_product(t.v, t.v)
          |       - 2 * list_dot_product(t.v, c.v)) + list_dot_product(c.v, c.v),
          |     'c': c.cl})))[1:2] AS ps
          |  FROM e t, c2 c GROUP BY t.vec_id),
          | pr AS (
          |  SELECT vec_id, CAST((ps[1]).c AS BIGINT) AS cluster,
          |   greatest((ps[1]).d, 0) AS a2, greatest((ps[2]).d, 0) AS b2
          |  FROM sd),
          | silr AS (
          |  SELECT cluster, a2,
          |   CASE WHEN sqrt(b2) = 0 THEN 0.0
          |        ELSE (sqrt(b2) - sqrt(a2)) / sqrt(b2) END AS sil
          |  FROM pr)
          |SELECT cluster, count(*) AS n,
          | round(sum(a2) + 1e-9, 4) + 0.0 AS inertia,
          | round(avg(sil) + 1e-9, 4) + 0.0 AS mean_sil
          |FROM silr GROUP BY cluster ORDER BY cluster""".stripMargin),
    "s19_kmeans_parallel" -> kmeansParSql(k = 4, rounds = 2, l = 4,
      candIters = 2, dim = 64),
    "s20_kmeans_pipeline" -> kmeansParSql(k = 4, rounds = 2, l = 4,
      candIters = 2, dim = 64, refineIters = 2),
    "s16_kmeans_pp" -> kmeansSql(k = 4, iters = 2, dim = 64, ppInit = true),
    "s17_kmeans_weighted" -> kmeansSql(k = 4, iters = 2, dim = 64, weighted = true),
    // both stages at the production shape: prefix-16 stage-1 top-50 (raw
    // prefix dot, lower-id ties), then the s01 exact-cosine ranking
    "s18_truncated_knn" ->
      """WITH u AS (
        |  SELECT vec_id,
        |   list_transform(embedding::DOUBLE[],
        |     x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))) AS u
        |  FROM embeddings),
        | c1 AS (
        |  SELECT q.vec_id AS query_id, q.u AS qu, e.vec_id AS id, e.u,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_dot_product(q.u[1:16], e.u[1:16]) DESC, e.vec_id) AS prk
        |  FROM u q JOIN u e ON q.vec_id < 20 AND q.vec_id <> e.vec_id)
        |SELECT query_id, rk AS "rank", id, round(cos, 4) + 0.0 AS cosine FROM (
        | SELECT query_id, id, list_dot_product(qu, u) AS cos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_dot_product(qu, u) DESC, id) AS BIGINT) AS rk
        | FROM c1 WHERE prk <= 50) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // the s01 brute form with the metadata predicate on the CANDIDATE side
    // only (queries keep all labels) — pre-filter semantics
    "s14_filtered_knn" ->
      (vecsCte +
        """
          |SELECT qid, rk, vec_id, label, round(cos6, 4) + 0.0 AS cos FROM (
          | SELECT q.vec_id AS qid, e.vec_id, CAST(e.label AS BIGINT) AS label,
          |  round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos6,
          |  CAST(row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) DESC,
          |             e.vec_id) AS BIGINT) AS rk
          | FROM e q JOIN e ON q.vec_id < 20 AND q.vec_id <> e.vec_id
          |  AND e.label % 2 = 0) t
          |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    "s01_knn_brute" ->
      (vecsCte +
        """
          |SELECT qid, rk, vec_id, round(cos6, 4) + 0.0 AS cos FROM (
          | SELECT q.vec_id AS qid, e.vec_id,
          |  round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos6,
          |  CAST(row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) DESC,
          |             e.vec_id) AS BIGINT) AS rk
          | FROM e q JOIN e ON q.vec_id < 20 AND q.vec_id <> e.vec_id) t
          |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    // the s01 brute shape with the per-query label-mismatch predicate in
    // the join — same round-6 ranking contract, so it replays exactly
    "s23_hard_negatives" ->
      (vecsCte +
        """
          |SELECT qid, rk, neg_id, round(cos6, 4) + 0.0 AS cos FROM (
          | SELECT q.vec_id AS qid, e.vec_id AS neg_id,
          |  round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos6,
          |  CAST(row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) DESC,
          |             e.vec_id) AS BIGINT) AS rk
          | FROM e q JOIN e ON q.vec_id < 20 AND q.vec_id <> e.vec_id
          |   AND q.label <> e.label) t
          |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    // the s02 bucket CTE builds the neighbor graph (in-bucket exact cosine
    // >= 0.12), then degree -> core -> the d07 recursive fixpoint over
    // core-core edges -> border min-attach; "cluster"/"role" are quoted
    // (DuckDB reserved words), matching the Spark column names exactly
    "s24_density_clusters" ->
      (vecsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, nb AS (
          |  SELECT LEAST(20, GREATEST(8,
          |   CAST(ceil(log2(count(*) / 256.0)) AS INT))) AS w FROM e),
          | hp AS (
          |  SELECT j, d,
          |   (CAST(CAST(('0x' || substr(md5('hp:' || j || ':' || d),1,15)) AS UBIGINT)
          |     % 2001 AS BIGINT) - 1000) / 1000.0 AS r
          |  FROM (SELECT unnest(range(0,20)) AS j), (SELECT unnest(range(0,64)) AS d)
          |  WHERE j < (SELECT w FROM nb)),
          | ev AS (
          |  SELECT vec_id, generate_subscripts(v,1)-1 AS d, unnest(v) AS x FROM e),
          | dots AS (
          |  SELECT ev.vec_id, hp.j, sum(ev.x * hp.r) AS s
          |  FROM ev JOIN hp USING (d) GROUP BY ev.vec_id, hp.j),
          | buck AS (
          |  SELECT vec_id,
          |   CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
          |  FROM dots GROUP BY vec_id),
          | eb AS (SELECT e.*, buck.bucket FROM e JOIN buck USING (vec_id)),
          | p2 AS (
          |  SELECT a.vec_id AS ia, b.vec_id AS ib
          |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.12),
          | ed AS (SELECT ia AS src, ib AS dst FROM p2 UNION SELECT ib, ia FROM p2),
          | deg AS (SELECT src AS id, count(*) AS degree FROM ed GROUP BY src),
          | nodes AS (
          |  SELECT e.vec_id AS id, coalesce(deg.degree, 0) AS degree
          |  FROM e LEFT JOIN deg ON e.vec_id = deg.id),
          | core AS (SELECT id FROM nodes WHERE degree >= 2),
          | ce AS (
          |  SELECT src, dst FROM ed
          |  WHERE src IN (SELECT id FROM core) AND dst IN (SELECT id FROM core)),
          | n2 AS (SELECT DISTINCT src AS id FROM ce),
          | reach(id, r) AS (
          |  SELECT id, id FROM n2
          |  UNION
          |  SELECT ce.src, reach.r FROM ce JOIN reach ON ce.dst = reach.id),
          | comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
          | corelab AS (
          |  SELECT c.id, coalesce(comp.component, c.id) AS ccv
          |  FROM core c LEFT JOIN comp ON c.id = comp.id),
          | borderlab AS (
          |  SELECT ed.src AS id, min(cl.ccv) AS bcv
          |  FROM ed JOIN corelab cl ON ed.dst = cl.id GROUP BY ed.src)
          |SELECT n.id AS vec_id, CAST(n.degree AS BIGINT) AS degree,
          | CAST(coalesce(cl.ccv, bl.bcv, -1) AS BIGINT) AS "cluster",
          | CASE WHEN cl.id IS NOT NULL THEN 'core'
          |      WHEN bl.bcv IS NOT NULL THEN 'border'
          |      ELSE 'noise' END AS "role"
          |FROM nodes n
          |LEFT JOIN corelab cl ON n.id = cl.id
          |LEFT JOIN borderlab bl ON n.id = bl.id
          |ORDER BY vec_id""".stripMargin),
    "s02_ann_lsh" ->
      (vecsCte + ",\n" + s02BucketCtes + ",\n" + s02ProbeCtesSql() + "\n" +
        """SELECT qid, rk, vec_id, round(cos6, 4) + 0.0 AS cos, bucket FROM (
          | SELECT qp.vec_id AS qid, e2.vec_id, e2.bucket,
          |  round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) AS cos6,
          |  CAST(row_number() OVER (PARTITION BY qp.vec_id
          |    ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
          |             e2.vec_id) AS BIGINT) AS rk
          | FROM qp JOIN eb e2 ON qp.bucket = e2.bucket AND qp.vec_id <> e2.vec_id
          |  JOIN e q ON q.vec_id = qp.vec_id) t
          |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
    "s03_ivf_fullprobe" ->
      """WITH u AS (
        |  SELECT vec_id,
        |   list_transform(embedding::DOUBLE[],
        |     x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))) AS u
        |  FROM embeddings)
        |SELECT query_id, rk AS "rank", id, round(cos, 4) + 0.0 AS cosine FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS id,
        |  list_dot_product(q.u, e.u) AS cos,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_dot_product(q.u, e.u) DESC, e.vec_id) AS BIGINT) AS rk
        | FROM u q JOIN u e ON q.vec_id < 20 AND q.vec_id <> e.vec_id) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // covering configuration ≡ brute force — the SHARED witness of s05 (PQ
    // covering rerank) and s08 (IVF-PQ full probe + covering rerank): the
    // s03 oracle over the same fixed 500-vector slice both Spark queries
    // use (same ranking contract: raw cosine, lower-id tie-break)
    "s05_pq_rerank" -> bruteTop5Slice500Sql,
    "s08_ivfpq" -> bruteTop5Slice500Sql,
    "s09_ivfpq_residual" -> bruteTop5Slice500Sql,
    // the non-covering IVF-PQ recall row: the full deterministic pipeline
    // (coarse Lloyd, codebook Lloyd, encode, probe, ADC, rerank) staged as
    // CTEs, then the s12 recall join — see ivfPqRecallSql
    "s21_ivfpq_recall" -> ivfPqRecallSql(nlist = 8, m = 8, ksub = 16,
      dsub = 8, iters = 2, nprobe = 2, refineK = 10, k = 5),
    "s22_ivfpq_residual_recall" -> ivfPqRecallSql(nlist = 8, m = 8, ksub = 16,
      dsub = 8, iters = 2, nprobe = 2, refineK = 10, k = 5, byResidual = true),
    // int8 quantize → dequantize → brute cosine: the affine code/decode is
    // replayed exactly (same doubles, same away-from-zero rounding on the
    // non-negative (x−mn)/step), then the s03 ranking contract
    "s07_int8_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | ev AS (SELECT vec_id, generate_subscripts(v,1) AS d, unnest(v) AS x FROM e),
        | mm AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ev GROUP BY d),
        | dq AS (
        |  SELECT ev.vec_id, ev.d,
        |   CASE WHEN mm.mx > mm.mn
        |    THEN mm.mn + round((ev.x - mm.mn) / ((mm.mx - mm.mn)/255.0))
        |         * ((mm.mx - mm.mn)/255.0)
        |    ELSE mm.mn END AS y
        |  FROM ev JOIN mm USING (d)),
        | dv AS (SELECT vec_id, list(y ORDER BY d) AS y FROM dq GROUP BY vec_id),
        | u AS (SELECT vec_id,
        |   list_transform(y, t -> t / sqrt(list_sum(list_transform(y, z -> z*z)))) AS u
        |  FROM dv)
        |SELECT query_id, rk AS "rank", id, round(cos, 4) + 0.0 AS cosine FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS id,
        |  list_dot_product(q.u, e.u) AS cos,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_dot_product(q.u, e.u) DESC, e.vec_id) AS BIGINT) AS rk
        | FROM u q JOIN u e ON q.vec_id < 20 AND q.vec_id <> e.vec_id) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // stage 1: all-integer Hamming top-50 over the s10 signatures; stage 2:
    // exact cosine top-5 over ONLY those candidates (the s01 contract)
    "s13_binary_rerank" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | sig AS (
        |  SELECT vec_id,
        |   CAST(list_sum(list_transform(range(0,32), d ->
        |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << d) ELSE 0 END)) AS BIGINT) AS s0,
        |   CAST(list_sum(list_transform(range(32,64), d ->
        |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << (d-32)) ELSE 0 END)) AS BIGINT) AS s1
        |  FROM e),
        | cand AS (
        |  SELECT query_id, id FROM (
        |   SELECT q.vec_id AS query_id, c.vec_id AS id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY bit_count(xor(q.s0, c.s0)) + bit_count(xor(q.s1, c.s1)),
        |               c.vec_id) AS BIGINT) AS hrk
        |   FROM sig q JOIN sig c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
        |  WHERE hrk <= 50),
        | u AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
        |  FROM e)
        |SELECT query_id, rk AS "rank", id, round(cos6, 4) + 0.0 AS cosine FROM (
        | SELECT cand.query_id, cand.id,
        |  round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos6,
        |  CAST(row_number() OVER (PARTITION BY cand.query_id
        |    ORDER BY round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) DESC,
        |             cand.id) AS BIGINT) AS rk
        | FROM cand JOIN u q ON cand.query_id = q.vec_id
        |  JOIN u c ON cand.id = c.vec_id) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // both rankings are the proven s01/s02 forms (round-6 cosine, lower-id
    // tie-break); recall joins the two top-5 sets on (query, id)
    // the config s02 serves: shared banding CTEs + the multi-probe list +
    // the probed top-5, recall-joined against brute truth
    "s12_ann_recall" ->
      (vecsCte + ",\n" + s02TruthCte + ",\n" + s02BucketCtes + ",\n" +
        s02ProbeCtesSql() + ",\n" + s02ProbeTop5Cte + "\n" +
        """SELECT tr.qid AS query_id,
          | CAST(sum(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
          | round(CAST(sum(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
          |   / 5 + 1e-9, 4) AS recall
          |FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.vec_id = ap.vec_id
          |GROUP BY tr.qid ORDER BY query_id""".stripMargin),
    // exact-bucket vs probed recall on the same banding — the probe-gain
    // documentation row
    "s33_ann_probe_gain" ->
      (vecsCte + ",\n" + s02TruthCte + ",\n" + s02BucketCtes + ",\n" +
        s02ProbeCtesSql() + ",\n" + s02ProbeTop5Cte + ",\n" +
        """ apx AS (
          |  SELECT qid, vec_id FROM (
          |   SELECT q.vec_id AS qid, e2.vec_id,
          |    CAST(row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_dot_product(q.v, e2.v) / (q.nrm * e2.nrm), 6) DESC,
          |               e2.vec_id) AS BIGINT) AS rk
          |   FROM eb q JOIN eb e2 ON q.bucket = e2.bucket
          |     AND q.vec_id < 20 AND q.vec_id <> e2.vec_id) t
          |  WHERE rk <= 5),
          | re AS (
          |  SELECT tr.qid AS query_id,
          |   round(CAST(sum(CASE WHEN apx.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
          |     / 5 + 1e-9, 4) AS recall_exact
          |  FROM tr LEFT JOIN apx ON tr.qid = apx.qid AND tr.vec_id = apx.vec_id
          |  GROUP BY tr.qid),
          | rp AS (
          |  SELECT tr.qid AS query_id,
          |   round(CAST(sum(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
          |     / 5 + 1e-9, 4) AS recall_probed
          |  FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.vec_id = ap.vec_id
          |  GROUP BY tr.qid)
          |SELECT re.query_id, re.recall_exact, rp.recall_probed
          |FROM re JOIN rp USING (query_id) ORDER BY query_id""".stripMargin),
    // sign-bit signature packing + XOR/popcount replayed exactly — the
    // all-integer oracle (hamming asc, lower-id tie-break)
    "s10_binary_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | sig AS (
        |  SELECT vec_id,
        |   CAST(list_sum(list_transform(range(0,32), d ->
        |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << d) ELSE 0 END)) AS BIGINT) AS s0,
        |   CAST(list_sum(list_transform(range(32,64), d ->
        |     CASE WHEN v[d+1] > 0 THEN (CAST(1 AS BIGINT) << (d-32)) ELSE 0 END)) AS BIGINT) AS s1
        |  FROM e)
        |SELECT query_id, rk AS "rank", id, hamming FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS id,
        |  CAST(bit_count(xor(q.s0, c.s0)) + bit_count(xor(q.s1, c.s1)) AS BIGINT) AS hamming,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY bit_count(xor(q.s0, c.s0)) + bit_count(xor(q.s1, c.s1)), c.vec_id)
        |   AS BIGINT) AS rk
        | FROM sig q JOIN sig c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // the md5-derived projection matrix is rebuilt row-by-row (jl:j:d, the
    // s02 hyperplane recipe), then the s01 ranking contract in the reduced
    // space; list_dot_product folds left-to-right like graft_dot, so the
    // projected vectors are bit-identical
    "s11_jl_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | rp AS (
        |  SELECT j, list_transform(range(0,64), d ->
        |    (CAST(CAST(('0x' || substr(md5('jl:' || j || ':' || d),1,15)) AS UBIGINT)
        |      % 2001 AS BIGINT) - 1000) / 1000.0) AS plane
        |  FROM (SELECT unnest(range(0,16)) AS j)),
        | pj AS (
        |  SELECT e.vec_id,
        |   list(list_dot_product(e.v, rp.plane) ORDER BY rp.j) AS y
        |  FROM e CROSS JOIN rp GROUP BY e.vec_id),
        | pn AS (
        |  SELECT vec_id, y, sqrt(list_sum(list_transform(y, x -> x*x))) AS nrm
        |  FROM pj)
        |SELECT query_id, rk AS "rank", id, round(cos6, 4) + 0.0 AS cosine FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS id,
        |  round(list_dot_product(q.y, c.y) / (q.nrm * c.nrm), 6) AS cos6,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY round(list_dot_product(q.y, c.y) / (q.nrm * c.nrm), 6) DESC,
        |             c.vec_id) AS BIGINT) AS rk
        | FROM pn q JOIN pn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "s06_embedding_outliers" ->
      (vecsCte +
        """, ev AS (
          |  SELECT vec_id, label, generate_subscripts(v, 1) AS d, unnest(v) AS x
          |  FROM e),
          | cen AS (SELECT label, d, avg(x) AS c FROM ev GROUP BY label, d),
          | cnrm AS (SELECT label, sqrt(sum(c * c)) AS cnrm FROM cen GROUP BY label),
          | dots AS (
          |  SELECT ev.vec_id, ev.label, sum(ev.x * cen.c) AS dp
          |  FROM ev JOIN cen USING (label, d) GROUP BY ev.vec_id, ev.label),
          | sc AS (
          |  SELECT e.vec_id, e.label,
          |   round(round(dots.dp / (e.nrm * cnrm.cnrm), 6) + 1e-9, 4) + 0.0 AS cos_centroid
          |  FROM e JOIN dots USING (vec_id) JOIN cnrm ON e.label = cnrm.label)
          |SELECT vec_id, label, cos_centroid,
          | CAST(CASE WHEN cos_centroid < 0.0 THEN 1 ELSE 0 END AS BIGINT) AS outlier
          |FROM sc ORDER BY vec_id""".stripMargin))
}
