package graft.scratch

import graft.{GraftSession, Tables}
import graft.ext.{DedupOps, LshTuning, Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** One-off measurement harness (round-19, round-18 verdict #1/#4): the
  * IVF coarse-quantizer capture curve that calibrates
  * [[LshTuning.IvfProbeBeta]], plus the end-to-end agreement@5 of the
  * IVF-leg fusion against the s34 brute fusion at the derived nprobe.
  *
  * Capture@10: for each witness query, the fraction of its brute cosine
  * top-10 whose inverted list (d18-configuration quantizer —
  * deterministic kmeansFit, nlist = semanticDedupNlist(n)) is among the
  * query's top-nprobe centroid lists. The implied β per point is
  * ln(1 − capture)/ln(1 − nprobe/nlist); the shipped constant floors the
  * sweep. Run:
  *   sbt "Test/runMain graft.scratch.IvfSweep /root/testdata/sf0.001"
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get()
    import spark.implicits._
    val n = Tables.cachedCount(spark, dir, "embeddings")
    val nlist = DedupOps.semanticDedupNlist(n)
    val cents = Similarity.ivfLegModel(spark, dir, nlist)
    val e = Tables.loadSpread(spark, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.VectorExprs.l2($"v"))
      .localCheckpoint(true)
    // corpus assignment + brute top-10 truth
    val asg = Similarity.kmeansAssign(
        e.select($"vec_id", transform($"v", x => x / $"nrm").as("__u")),
        "vec_id", "__u", cents)
      .select($"vec_id", $"cluster").localCheckpoint(true)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cos6".desc, $"vec_id")
    val truth10 = broadcast(
        e.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
      .join(e, $"qid" =!= $"vec_id")
      .withColumn("cos6", round(
        graft.functions.VectorExprs.dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rk", row_number().over(win).cast("long"))
      .filter($"rk" <= 10).select($"qid", $"vec_id")
      .join(asg, Seq("vec_id")).localCheckpoint(true)
    // per-query full centroid ranking (d2 asc, cl asc — the probe rule)
    val qu = e.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), transform($"v", x => x / $"nrm").as("__u"))
    val opts = cents.zipWithIndex.map { case (c, i) =>
      val cl = typedLit(c.toSeq)
      import graft.functions.VectorExprs.dot
      val d = dot($"__u", $"__u") - lit(2.0d) * dot($"__u", cl) + dot(cl, cl)
      struct(d.as("d"), lit(i).as("c"))
    }
    val ranked = qu
      .select($"qid", posexplode_outer(sort_array(array(opts: _*))).as(Seq("pr", "p")))
      .filter($"p".isNotNull)
      .select($"qid", ($"pr" + 1).as("prank"), $"p.c".cast("long").as("cluster"))
      .localCheckpoint(true)
    println(s"== dir=$dir n=$n nlist=$nlist")
    for (np <- 1 to nlist) {
      val probes = ranked.filter($"prank" <= np)
      val capture = truth10.join(probes, Seq("qid", "cluster"), "left_semi")
        .count().toDouble / truth10.count()
      val frac = np.toDouble / nlist
      val beta =
        if (capture >= 1.0) Double.PositiveInfinity
        else math.log(1.0 - capture) / math.log(1.0 - frac)
      println(f"nprobe=$np%2d frac=$frac%.3f capture@10=$capture%.4f impliedBeta=$beta%.2f")
    }
    // end-to-end: agreement@5 of the IVF-leg fusion at the derived nprobe
    val truth = Similarity.s34RrfHybrid(spark, dir).select($"query_id", $"id")
    val fused = Similarity.rrfIvfFusedTop5(spark, dir)
      .select($"query_id", $"id")
    val mean = Similarity.recallAtK(truth, fused, "query_id", "id", k = 5)
      .agg(avg($"recall")).as[Double].head()
    val np = LshTuning.ivfNprobe(Similarity.S02FusionTargetRecall, nlist)
    println(f"s38 ivf-leg fusion: nlist=$nlist nprobe=$np " +
      f"(model ${LshTuning.ivfModelRecall(np, nlist)}%.3f) agreement@5=$mean%.4f")
    // verdict #4 done gate: the s21-shaped coarse capture at one
    // NON-DEFAULT target through ivfKnnAuto's derived config
    for (t <- Seq(0.8, 0.9)) {
      val npT = LshTuning.ivfNprobe(t, nlist)
      val probes = ranked.filter($"prank" <= npT)
      val capture = truth10.join(probes, Seq("qid", "cluster"), "left_semi")
        .count().toDouble / truth10.count()
      println(f"ivfKnnAuto target=$t%.2f -> nprobe=$npT " +
        f"(model ${LshTuning.ivfModelRecall(npT, nlist)}%.3f) " +
        f"measured capture@10=$capture%.4f")
    }
    // the s21 row's own config (deterministic IVF-PQ, nlist = 8 on the
    // 500-slice) re-measured with nprobe DERIVED from a non-default
    // target instead of the caller constant 2 — recall@5 vs brute truth
    {
      val e500 = Tables.loadSpread(spark, dir, "embeddings")
        .filter($"vec_id" < 500).localCheckpoint(true)
      val q = e500.filter($"vec_id" < 20)
      val model = Similarity.ivfPqTrain(e500, "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 16, iters = 2)
      val u = e500
        .select($"vec_id".as("id"), transform($"embedding", x => x.cast("double")).as("v"))
        .withColumn("n2", graft.functions.VectorExprs.l2($"v"))
      val qu = u.filter($"id" < 20)
        .select($"id".as("query_id"), $"v".as("qv"), $"n2".as("qn"))
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos".desc, $"id")
      val tru = broadcast(qu).join(u, $"query_id" =!= $"id")
        .withColumn("cos",
          graft.functions.VectorExprs.dot($"qv", $"v") / ($"qn" * $"n2"))
        .withColumn("rk", row_number().over(wT).cast("long"))
        .filter($"rk" <= 5).select($"query_id", $"id")
      for (t <- Seq(0.9)) {
        val npT = LshTuning.ivfNprobe(t, 8)
        val approx = Similarity.ivfPqSearch(model,
            Similarity.ivfPqEncode(model, e500, "vec_id", "embedding"),
            e500, q, "vec_id", "embedding", k = 5, nprobe = npT, refine = 2)
          .select($"query_id", $"id")
        val mean = Similarity.recallAtK(tru, approx, "query_id", "id", k = 5)
          .agg(avg($"recall")).as[Double].head()
        println(f"s21 config at derived target=$t%.2f -> nprobe=$npT of 8 " +
          f"(coarse model ${LshTuning.ivfModelRecall(npT, 8)}%.3f, s21's " +
          f"caller-constant was 2): recall@5=$mean%.4f")
      }
    }
    spark.stop()
  }
}
