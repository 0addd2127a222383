package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling bench for the API-only operators — the ones CORRECTNESS covers by
  * spec rather than a SQL oracle ([[graft.ext.Similarity.pqKnn]] at its
  * approximate defaults, [[graft.ext.DedupOps.semanticDedup]], and the
  * streaming [[graft.streaming.CurationStream.nearDedupBatch]] driven as a
  * 4-micro-batch sequence). Same methodology as [[Bench]]: untimed sf0.001
  * warmup, three interleaved sweeps, per-op minimum, one JSON line. Run at
  * sf0.1 and the self-generated sf1.0 to fill the scaling table
  * (`scripts/scaling_report.py`) for operators Bench cannot see. */
object BenchApi {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()

    def drainDf(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // every bench iteration gets a fresh dir and deletes it recursively in
    // a finally, so repeated sweeps cannot accumulate vocabulary-sized
    // parquet state under /tmp (round-10 ADVICE)
    def withTempDir(prefix: String)(body: String => Unit): Unit = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      try body(d.toString) finally Tables.deleteRecursively(d)
    }

    // one-time trained ANN models per dir — the materialized-model
    // deployment shape: *_search ops below time ONLY the steady-state
    // search against these, while pq_knn/ivfpq_knn keep timing the full
    // train+encode+search composite for the training-cost record
    val pqModels = scala.collection.mutable.Map[String, graft.ext.Similarity.PqModel]()
    val ivfModels = scala.collection.mutable.Map[String, graft.ext.Similarity.IvfPqModel]()
    // one-time persisted serving artifacts per dir (the layout_s shape):
    // list-sorted code tables and 8-byte/doc simhash signature tables
    val codeTables = scala.collection.mutable.Map[String, String]()
    val sigTables = scala.collection.mutable.Map[String, String]()
    val streamIdx = scala.collection.mutable.Map[String, String]()
    val postTables = scala.collection.mutable.Map[String, String]()

    val ops: Seq[(String, String => Unit)] = Seq(
      "pq_knn" -> { dir =>
        val e = Tables.loadSpread(spark, dir, "embeddings")
        drainDf(graft.ext.Similarity.pqKnn(
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5))
      },
      "ivfpq_knn" -> { dir =>
        // production shape: pruned lists x quantized ADC scoring (the s08
        // oracle row pins the covering configuration; this measures the
        // approximate-default cost the covering witness deliberately avoids)
        val e = Tables.loadSpread(spark, dir, "embeddings")
        drainDf(graft.ext.Similarity.ivfPqKnn(
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5))
      },
      "pq_search" -> { dir =>
        // steady state of the pq_knn shape: model pre-trained once per dir
        val e = Tables.loadSpread(spark, dir, "embeddings")
        val m = pqModels.getOrElseUpdate(dir,
          graft.ext.Similarity.pqTrain(e, "vec_id", "embedding"))
        drainDf(graft.ext.Similarity.pqSearch(m,
          graft.ext.Similarity.pqEncode(m, e, "vec_id", "embedding"),
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5))
      },
      "ivfpq_search" -> { dir =>
        // steady state of the ivfpq_knn shape: model pre-trained once per dir
        val e = Tables.loadSpread(spark, dir, "embeddings")
        val m = ivfModels.getOrElseUpdate(dir,
          graft.ext.Similarity.ivfPqTrain(e, "vec_id", "embedding"))
        drainDf(graft.ext.Similarity.ivfPqSearch(m,
          graft.ext.Similarity.ivfPqEncode(m, e, "vec_id", "embedding"),
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5))
      },
      "semantic_dedup" -> { dir =>
        drainDf(graft.ext.DedupOps.semanticDedup(
          Tables.loadSpread(spark, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.9))
      },
      "knn_binary" -> { dir =>
        // bounded-heap API form of the s10 representation
        val e = Tables.loadSpread(spark, dir, "embeddings")
        drainDf(graft.ext.Similarity.knnBinary(
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5))
      },
      "binary_rerank" -> { dir =>
        // production coarse->fine shape (refine=10), the s13 plan at scale
        val e = Tables.loadSpread(spark, dir, "embeddings")
        drainDf(graft.ext.Similarity.knnBinaryRerank(
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5))
      },
      "ivfpq_search_indexed" -> { dir =>
        // the full serving layout: model pre-trained, code table PERSISTED
        // in the list-sorted layout, probed lists pushed into the scan —
        // what a deployment actually pays per query batch at 100 TB
        val e = Tables.loadSpread(spark, dir, "embeddings")
        val m = ivfModels.getOrElseUpdate(dir,
          graft.ext.Similarity.ivfPqTrain(e, "vec_id", "embedding"))
        val codesDir = codeTables.getOrElseUpdate(dir, {
          val d = java.nio.file.Files.createTempDirectory("bench_codes").toString
          graft.ext.Similarity.saveIvfPqCodes(
            graft.ext.Similarity.ivfPqEncode(m, e, "vec_id", "embedding"), d)
          d
        })
        drainDf(graft.ext.Similarity.ivfPqSearch(m,
          graft.ext.Similarity.loadIvfPqCodes(spark, codesDir),
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5,
          pruneLists = true))
      },
      "ivfpq_search_streamed" -> { dir =>
        // the STREAMED-index serving twin of ivfpq_search_indexed: the
        // index was built incrementally (4 micro-batch partitions, each
        // list-sorted), loaded with the id-dedup guard, probed lists
        // pushed into the scan — what a deployment pays per query batch
        // against an index a stream maintains
        val e = Tables.loadSpread(spark, dir, "embeddings")
        val m = ivfModels.getOrElseUpdate(dir,
          graft.ext.Similarity.ivfPqTrain(e, "vec_id", "embedding"))
        val idxDir = streamIdx.getOrElseUpdate(dir, {
          val d = java.nio.file.Files.createTempDirectory("bench_sidx").toString
          (0L until 4L).foreach { b =>
            graft.streaming.CurationStream.ivfPqIndexBatch(
              d, m, "vec_id", "embedding")(
              e.filter(pmod(col("vec_id"), lit(4)) === b), b)
          }
          d
        })
        drainDf(graft.ext.Similarity.ivfPqSearch(m,
          graft.streaming.CurationStream.loadIndex(spark, idxDir, "id"),
          e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5,
          pruneLists = true))
      },
      "minhash_drop_from_posts" -> { dir =>
        // the persisted-posting serving seam: greedy keep-first dedup from
        // a stored (band,bsig)-sorted posting table, never re-tokenizing
        val docs = Tables.loadSpread(spark, dir, "documents")
        val postDir = postTables.getOrElseUpdate(dir, {
          val d = java.nio.file.Files.createTempDirectory("bench_posts").toString
          graft.ext.DedupOps.bandPostings(
              docs.select(col("doc_id"), col("text")), "doc_id", "text",
              bands = 4, rowsPerBand = 4, shingleLen = 3)
            .repartitionByRange(col("band"), col("bsig"))
            .sortWithinPartitions(col("band"), col("bsig"))
            .write.mode("overwrite").parquet(d)
          d
        })
        drainDf(graft.ext.DedupOps.dropNearDuplicatesMinhashFromPostings(
          docs, spark.read.parquet(postDir), "doc_id"))
      },
      "keep_best_dedup" -> { dir =>
        // d16's API shape: simhash pairs -> components -> argmax keep
        val docs = Tables.loadSpread(spark, dir, "documents")
        val pairs = graft.ext.DedupOps.simhashPairs(docs, "doc_id", "text",
          bands = 2, bitsPerBand = 15, maxHamming = 1)
        drainDf(graft.ext.DedupOps.keepBestPerGroup(
          docs.withColumn("n_tok",
            size(graft.ext.TextOps.toks(col("text"))).cast("long")),
          "doc_id", "n_tok", pairs, "id_a", "id_b"))
      },
      "simhash_pairs_from_sigs" -> { dir =>
        // the signature-table serving seam: band+join a persisted 8-byte/doc
        // fingerprint table, never re-tokenizing the corpus
        val docs = Tables.loadSpread(spark, dir, "documents")
        val sigDir = sigTables.getOrElseUpdate(dir, {
          val d = java.nio.file.Files.createTempDirectory("bench_sigs").toString
          graft.ext.DedupOps.withSimhash(
              docs.select(col("doc_id"), col("text")), "text", "simhash", 30)
            .select(col("doc_id"), col("simhash"))
            .write.mode("overwrite").parquet(d)
          d
        })
        drainDf(graft.ext.DedupOps.simhashPairsFromSigs(
          spark.read.parquet(sigDir), "doc_id", "simhash",
          bands = 2, bitsPerBand = 15, maxHamming = 1))
      },
      "kl_drift_stream" -> { dir =>
        // four micro-batches of token-count state + one drift report — the
        // timed unit includes the per-batch aggregate writes and the
        // vocabulary-sized merge the report performs
        withTempDir("bench_klcnt") { cd =>
          val docs = Tables.loadSpread(spark, dir, "documents")
          (0L until 4L).foreach { b =>
            graft.streaming.CurationStream.tokenCountsBatch(cd, "text", "source")(
              docs.filter(pmod(col("doc_id"), lit(4)) === b), b)
          }
          drainDf(graft.streaming.CurationStream.klDriftReport(spark, cd, "source"))
        }
      },
      "rrf_served" -> { dir =>
        // the production hybrid composition (round-17): RRF over two
        // INDEX-SERVED rankings (s02 budgeted multi-probe + the Hamming
        // scan of the persisted 16-byte signature table) — the float
        // corpus is never re-read where s34's brute fusion scans it
        // twice; s36 measures its agreement against the brute fusion
        // (0.91/0.90 at the gate scales)
        drainDf(graft.ext.Similarity.rrfServedTop5(spark, dir))
      },
      "dbscan_tuned" -> { dir =>
        // the closed parameter loop (eps/minPts/budget in, tuneCosine picks
        // the banding) over the real embeddings at a near-dup eps — the
        // production shape of s24's hand-bucketed density clustering
        val e = Tables.loadSpread(spark, dir, "embeddings")
        drainDf(graft.ext.DedupOps.dbscanTuned(
          e, "vec_id", "embedding", eps = 0.9, minPts = 2))
      },
      "neardup_batch" -> { dir =>
        // four sequential micro-batches into a fresh signature index — the
        // timed unit includes the in-batch dedup, the cross-batch probe
        // against the accumulating index, and the sorted partition writes
        withTempDir("bench_ndidx") { idx =>
          val docs = Tables.loadSpread(spark, dir, "documents")
          (0L until 4L).foreach { b =>
            graft.streaming.CurationStream.nearDedupBatch(idx, "doc_id", "text")(
              docs.filter(pmod(col("doc_id"), lit(4)) === b), b)
          }
        }
      })

    // SPARK_GRAFT_API_ONLY=op1,op2 restricts the sweep — the scale-up
    // probes (100x) time one serving seam alone without paying the whole
    // suite at that volume
    val only = sys.env.get("SPARK_GRAFT_API_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val opsRun = only.fold(ops)(sel => ops.filter(o => sel(o._1)))

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      opsRun.foreach { case (_, f) => try f(warmDir) catch { case _: Throwable => () } }

    def once(f: String => Unit): Double = {
      val t0 = System.nanoTime()
      try { f(sfDir); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        // surface the failure (a fast failure must not bench silently) but
        // keep sweeping the remaining ops
        System.err.println(s"[bench-api] ${e.getClass.getName}: ${e.getMessage}")
        Double.NaN
      }
    }
    val sweeps = (1 to 3).map(_ => opsRun.map { case (n, f) => n -> once(f) }.toMap)
    val results = opsRun.map { case (n, _) =>
      val ok = sweeps.map(_(n)).filterNot(_.isNaN)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // Locale.ROOT: the f"" interpolator uses the JVM default locale, which
    // renders decimal COMMAS (de_DE, tr_TR, ...) and breaks the JSON line
    def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val qjson = results.map { case (n, v) => s""""$n":${d3(v)}""" }.mkString(",")
    println(s"""{"metric":"api_total","value":${d3(total)},"unit":"sec","queries":{$qjson},"sf":"$sfDir"}""")
    spark.stop()
  }
}
