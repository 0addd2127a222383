package perfbench

/** Writes the committed row digests from a `graft.Verify` dump whose rows
  * passed `scripts/check_oracle_strict.py`:
  *
  * {{{ DigestDump <verifyOutDir> <digests.tsv> }}}
  *
  * Rows without an oracle (q26) are checked on their row count only. */
object DigestDump {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rowsOnly = RowsParams.All.filterNot(graft.SparkEntry.oracleSql.contains)
    val lines = RowsParams.All.sorted.map { n =>
      val (rows, d) = Digest.of(spark.read.parquet(s"$dump/$n"))
      s"$n\t$rows\t${if (rowsOnly.contains(n)) "-" else d}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      "# row\trows\tdigest (from a Verify dump that passed check_oracle_strict.py)\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
