package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the optional
    // filter is a local-iteration convenience; the driver passes two args
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // m03's oracle SQL embeds the chunk-fixture directory; the driver replays
    // that SQL in DuckDB AFTER this JVM exits, and a jar-classpath run would
    // otherwise resolve the fixtures to a copy under java.io.tmpdir — a path
    // outside outDir's lifetime, where DuckDB's read_blob returns 0 rows
    // SILENTLY once it is gone (round-11 verdict #1). Copy the fixtures to a SIBLING of
    // outDir (round-12 verdict #1): the driver's checker enumerates every
    // subdirectory of outDir as a query result, so fixtures INSIDE it showed
    // up as a junk non-parquet "chunkfix" error row. The sibling shares
    // outDir's parent and therefore its lifetime, but is never enumerated.
    // Pin the resolver BEFORE Multimodal class-loads (chunkFixtureDir and
    // the oracle map are vals initialized together on first object touch).
    val chunkFixOut = new java.io.File(
      new java.io.File(outDir).getAbsoluteFile.getParentFile,
      "chunkfix_fixtures")
    chunkFixOut.mkdirs()
    Seq("a.bin", "b.bin", "c.bin", "d.bin").foreach { n =>
      val in = getClass.getResourceAsStream(s"/chunkfix/$n")
      // fail fast on a packaging regression — a silent skip would only
      // surface later as m03's dead-input-path failure in the oracle replay
      if (in == null) sys.error(s"chunkfix resource /chunkfix/$n missing " +
        "from classpath — packaging regression; m03's oracle would replay " +
        "against a dead path")
      try Files.copy(in, chunkFixOut.toPath.resolve(n),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
    }
    sys.props("graft.chunkfix.dir") = chunkFixOut.getPath
    // four cores unless SPARK_GRAFT_CPUS says otherwise: the driver's
    // correctness run, sized apart from the bench's 32
    val spark = GraftSession.get(fallbackCpus = "4")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a quoted JSON string. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
