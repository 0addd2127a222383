package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan evidence for the named queries, one file each at
  * `<outDir>/<query>_<tag>.txt` (the before/after files optimization
  * changes commit under `plans/`):
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.PlanDump plans/r20 before s25_mmr_rerank t27_bpe_segment" }}}
  *
  * Each file holds the PRE-execution `explain("formatted")` plan (join
  * strategy, PushedFilters, ReadSchema, Exchange placement, codegen spans)
  * and then the plan actually executed: the query runs (so AQE finalizes)
  * and the AQE-final plan shows ReusedExchange, runtime broadcast
  * conversions and skew splits, which no pre-execution plan can. One
  * summary line per query counts the final plan's parquet scans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query>...")
    val outDir = new java.io.File(args(0))
    val tag = args(1)
    val names = args.toSeq.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    outDir.mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      // collect() executes df's OWN QueryExecution (count() would build a
      // new one and leave this plan un-executed → AQE would print the
      // initial, never-run plan with isFinalPlan=false)
      val n = df.collect().length
      // an executed AdaptiveSparkPlan prints BOTH "== Final Plan ==" and
      // "== Initial Plan ==" — keep (and count scans/reuse in) the final
      // section only
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val file = s"${name}_$tag.txt"
      java.nio.file.Files.writeString(new java.io.File(outDir, file).toPath,
        s"== $name ($tag, $sfDir) ==\n" + formatted +
          "\n== Executed plan ==\n" + executed)
      println(s"[plandump] $file rows=$n " +
        s"scans=${executed.split("Scan parquet").length - 1} " +
        s"reused=${executed.contains("ReusedExchange")}")
    }
    spark.stop()
  }
}
