package graft

import graft.ext.{CurationOps, Similarity, TextAnalysis, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-determinism of every float-mean operator (the round-9
  * c10_dsir_weights driver flake): `avg(double)` merges partial aggregates
  * in task-completion order, so a score within ~1 ulp of a 4-decimal
  * rounding boundary can flip between runs. [[TextOps.foldMean]] replaces
  * it with a sorted left fold; these specs re-run each operator over
  * adversarially different physical partitionings (1 / 3 / 7 / 32
  * partitions — different partial-aggregate shapes, different merge trees)
  * and assert the outputs BIT-identical, not just round-4-equal. */
class FoldMeanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, dir, "documents")

  /** Collect (id -> raw IEEE bits of score) — bit equality, no tolerance. */
  private def bits(df: DataFrame, id: String, score: String): Map[Long, Long] =
    df.select(col(id).cast("long"), col(score))
      .as[(Long, Double)].collect()
      .map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }
      .toMap

  private val parts = Seq(1, 3, 7, 32)

  private def assertStable(name: String, run: DataFrame => DataFrame,
      id: String, score: String): Unit = {
    val outs = parts.map(p => bits(run(docs.repartition(p)), id, score))
    outs.tail.zip(parts.tail).foreach { case (o, p) =>
      assert(o == outs.head,
        s"$name: output at $p input partitions differs bit-wise from 1-partition run")
    }
  }

  test("t07 unigramSurprise is bit-deterministic across partitionings") {
    assertStable("unigramSurprise",
      d => TextAnalysis.unigramSurprise(d, "doc_id", "text"), "doc_id", "surprise")
  }

  test("t12 bigramSurprise is bit-deterministic across partitionings") {
    assertStable("bigramSurprise",
      d => TextAnalysis.bigramSurprise(d, "doc_id", "text"), "doc_id", "bi_surprise")
  }

  test("t15 knSurprise is bit-deterministic across partitionings") {
    assertStable("knSurprise",
      d => TextAnalysis.knSurprise(d, "doc_id", "text"), "doc_id", "kn_surprise")
  }

  test("c10 dsirWeights is bit-deterministic across partitionings") {
    assertStable("dsirWeights",
      d => CurationOps.dsirWeights(d, "doc_id", "text", col("lang") === "en"),
      "doc_id", "dsir_logratio")
  }

  test("c14 klDrift is bit-deterministic across partitionings") {
    val outs = parts.map(p =>
      CurationOps.klDrift(docs.repartition(p), "text", "source")
        .select($"source", $"kl_corpus").as[(String, Double)].collect()
        .map { case (k, v) => k -> java.lang.Double.doubleToRawLongBits(v) }
        .toMap)
    outs.tail.foreach(o => assert(o == outs.head,
      "klDrift output differs bit-wise across partitionings"))
  }

  test("t19 charEntropy is bit-deterministic across partitionings") {
    // per-row projection — partitioning cannot matter, but the fold inside
    // the row must also be one fixed order; assert like the aggregates
    assertStable("charEntropy",
      d => TextAnalysis.charEntropy(d, "doc_id", "text"),
      "doc_id", "char_entropy")
  }

  test("ANN quantizer training is bit-deterministic across partitionings") {
    // every IVF/PQ fit runs the one id-sorted Lloyd fold, so a model trained
    // on one partitioning is the model served on any other
    val embs = Tables.load(spark, dir, "embeddings")
    def fits(p: Int): Seq[(String, String)] = {
      val e = embs.repartition(p)
      Seq(
        "ivfPqTrain" -> Similarity.ivfPqTrain(e, "vec_id", "embedding",
          nlist = 8, m = 8, ksub = 16, iters = 2),
        "ivfPqTrain byResidual" -> Similarity.ivfPqTrain(e, "vec_id",
          "embedding", nlist = 8, m = 8, ksub = 16, iters = 2, byResidual = true),
        "pqTrain" -> Similarity.pqTrain(e, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 2),
        // the coarse quantizer behind ivfKnn and semanticDedup; its
        // fingerprint hashes Double.toString, which round-trips every bit
        "trainCoarse" -> Similarity.withTrainSample(e, "vec_id", "embedding",
          262144L)(Similarity.trainCoarse(_, nlist = 8, iters = 2))
      ).map { case (name, model) => name -> Similarity.modelFingerprint(model) }
    }
    val (one, seven) = (fits(1), fits(7))
    one.zip(seven).foreach { case ((name, a), (_, b)) =>
      assert(a == b, s"$name: the fit at 7 input partitions differs bit-wise " +
        "from the 1-partition fit")
    }
  }

  test("foldMean is reassociation-proof where avg(double) is not") {
    // Terms chosen so (big + tiny) + -big loses the tiny but
    // (big + -big) + tiny keeps it: a float sum whose value DEPENDS on
    // order. foldMean must give one fixed answer at every partitioning.
    val terms = Seq(1e16, 3.14159, -1e16, 2.71828, 1.0, -1.0)
    val rows = terms.zipWithIndex.map { case (t, i) => (1L, i, t) }
    val expected = {
      val sorted = terms.sorted
      // the exact sorted left fold the operator promises
      val s = sorted.foldLeft(0.0)(_ + _)
      // Spark's Round on DoubleType goes through BigDecimal.valueOf
      java.lang.Double.doubleToRawLongBits(
        BigDecimal.valueOf(s / terms.size + 1e-9)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    for (p <- parts) {
      val got = rows.toDF("g", "i", "term").repartition(p, col("i"))
        .groupBy($"g")
        .agg(TextOps.foldMean($"term", count(lit(1))).as("m"))
        .select($"m").as[Double].head()
      assert(java.lang.Double.doubleToRawLongBits(got) == expected,
        s"foldMean at $p partitions: got $got")
    }
  }

  test("foldMean canonicalizes tiny-negative means to +0.0 (the c10 signed zero)") {
    // The round-10 driver red: a mean in (-1e-9·scale, 0) survives the
    // +1e-9 nudge as a tiny negative; DuckDB's round() preserves the sign
    // (-0.0) while Spark's Round goes through BigDecimal (no signed zero)
    // and returns +0.0. Spark's side must be +0.0 bits, and the DuckDB twin
    // must carry the `+ 0.0` canonicalization so both engines agree.
    val rows = Seq((1L, 0, -4e-9), (1L, 1, 0.0)) // sorted-fold mean = -2e-9
    for (p <- parts) {
      val got = rows.toDF("g", "i", "term").repartition(p, col("i"))
        .groupBy($"g")
        .agg(TextOps.foldMean($"term", count(lit(1))).as("m"))
        .select($"m").as[Double].head()
      assert(java.lang.Double.doubleToRawLongBits(got) == 0L,
        s"foldMean at $p partitions: expected +0.0 bits, got raw=" +
          java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(got)))
    }
    // the DuckDB twin must end with the IEEE -0.0 + 0.0 = +0.0 guard
    assert(TextOps.foldMeanSql("x").endsWith("+ 0.0"),
      "foldMeanSql lost its signed-zero canonicalization guard")
  }

  test("c12 perplexityBuckets inherits t12 determinism end-to-end") {
    val outs = parts.map { p =>
      val scored = TextAnalysis.bigramSurprise(docs.repartition(p), "doc_id", "text")
      CurationOps.perplexityBuckets(scored, "doc_id", "bi_surprise")
        .select($"doc_id".cast("long"), $"bucket").as[(Long, String)]
        .collect().toMap
    }
    outs.tail.foreach(o => assert(o == outs.head))
  }
}
