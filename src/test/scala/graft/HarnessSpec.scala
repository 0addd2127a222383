package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The entry points' shared pieces: the one session factory, the bench's
  * last line and the content-keyed memo. */
class HarnessSpec extends SparkSpec {

  test("SparkSession.builder() appears in the main sources only in GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val st = Files.walk(root)
    val offenders =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder()"))
        .map(_.toString).toList
      finally st.close()
    assert(offenders.isEmpty,
      s"build sessions with GraftSession, not SparkSession.builder(): $offenders")
  }

  test("CurationStream touches the filesystem only inside its store helper") {
    val src = Files.readString(
      Paths.get("src/main/scala/graft/streaming/CurationStream.scala"))
    val start = src.indexOf("private final class Store(")
    assert(start >= 0, "the store helper class is missing")
    // the helper runs from its header to the brace that closes its body
    var i = src.indexOf('{', start)
    var depth = 0
    while ({
      if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
      i += 1
      depth > 0
    }) ()
    val helper = src.substring(start, i)
    val rest = src.substring(0, start) + src.substring(i)
    for (idiom <- Seq("getFileSystem", "listStatus", "healCompaction(",
        "Fence.acquire", "read.parquet")) {
      assert(helper.contains(idiom), s"the store helper no longer uses $idiom")
      assert(!rest.contains(idiom), s"$idiom outside the store helper")
    }
  }

  test("analytics and ext publish derived stores only through Tables") {
    // the temp-sibling / completion-mark / rename protocol lives in
    // Tables.publishDerived; the one exception is Multimodal's fixture
    // extraction, which copies classpath resources, not a derived table
    val found = for {
      sub <- Seq("analytics", "ext")
      p <- {
        val st = Files.walk(Paths.get("src/main/scala/graft", sub))
        try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        finally st.close()
      }
      src = Files.readString(p)
      idiom <- Seq("\"_SUCCESS\"", "renameTo(", "UUID.randomUUID", "java.io.tmpdir")
      n = java.util.regex.Pattern.quote(idiom).r.findAllMatchIn(src).size
      if n > 0
    } yield (p.getFileName.toString, idiom, n)
    assert(found == Seq(("Multimodal.scala", "java.io.tmpdir", 1)),
      s"derived-store publishing outside Tables: $found")
    val st = Files.walk(Paths.get("src/main/scala"))
    val dirTags =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => """def\s+dirTag\b""".r.findFirstIn(Files.readString(p)).isDefined)
        .map(_.toString).toList
      finally st.close()
    assert(dirTags.isEmpty, s"path-keyed store tags are back: $dirTags")
  }

  test("Similarity has one Lloyd loop: two element-wise mean folds, no twin trainers") {
    val src = Files.readString(Paths.get("src/main/scala/graft/ext/Similarity.scala"))
    // the loop's id-sorted mean fold and kmeansFitWeighted's weighted fold
    val folds = """zip_with\(acc,""".r.findAllMatchIn(src).size
    assert(folds == 2, s"expected 2 element-wise mean folds, found $folds")
    val twins = """def\s+(train\w*Det|lloydRounds)\b""".r.findAllIn(src).toList
    assert(twins.isEmpty, s"a second Lloyd trainer is back: $twins")
  }

  test("the spec session is the shipped session at 4 cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.extensions") ==
      classOf[graft.functions.GraftExtensions].getName)
    assert(conf.get(GraftSession.CheckpointFileManagerConf._1) ==
      GraftSession.CheckpointFileManagerConf._2)
  }

  test("measurement overrides are set only when their variable is present") {
    assert(GraftSession.measurementOverrides(Map.empty).isEmpty)
    assert(GraftSession.measurementOverrides(Map("SPARK_GRAFT_CPUS" -> "8")).isEmpty)
    assert(GraftSession.measurementOverrides(
        Map("SPARK_GRAFT_SHUFFLE" -> "128", "SPARK_GRAFT_KNN_RANK" -> "heap")).toMap ==
      Map("spark.sql.shuffle.partitions" -> "128",
        "spark.graft.knngraph.rankPlan" -> "heap"))
  }

  test("the bench's total line is at most 200 bytes of JSON with four keys") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val longDir = "/data/" + "very_long_directory_name/" * 12 + "sf0.1"
    Seq(("/root/testdata/sf0.1", 142.5), (longDir, 1234567.891),
        ("/tmp/odd \"quoted\" \\ dir\tsf0.01", 0.0)).foreach { case (dir, total) =>
      val line = Bench.totalLine(total, dir)
      assert(line.getBytes("UTF-8").length <= 200, line)
      val node = mapper.readTree(line)
      assert(node.size == 4, line)
      assert(node.get("metric").asText == "total")
      assert(math.abs(node.get("value").asDouble - total) < 5e-4, line)
      assert(node.get("unit").asText == "sec")
      assert(dir.endsWith(node.get("sf").asText), line)
    }
    assert(mapper.readTree(Bench.totalLine(1.0, "/root/testdata/sf0.1"))
      .get("sf").asText == "/root/testdata/sf0.1")
  }

  test("memoByContent: a regenerated table misses and evicts; another dir's entry survives") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("memo_spec")
    try {
      val (dirA, dirB) = (tmp.resolve("a").toString, tmp.resolve("b").toString)
      def write(dir: String, n: Int): Unit =
        (1 to n).toDF("x").coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/t.parquet")
      write(dirA, 3); write(dirB, 5)
      val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
      var computes = 0
      def get(dir: String): String =
        Tables.memoByContent(cache, "tag", dir, "t") {
          computes += 1
          s"$dir#$computes"
        }
      val a1 = get(dirA)
      assert(get(dirA) == a1 && computes == 1, "second call with unchanged data hits")
      val b1 = get(dirB)
      assert(computes == 2 && cache.size == 2)
      val keyA1 = s"tag:${Tables.dirHash(dirA)}:${Tables.tableFingerprint(dirA, "t")}"
      assert(cache.containsKey(keyA1))
      write(dirA, 4)
      val a2 = get(dirA)
      assert(a2 != a1 && computes == 3, "regenerated table misses")
      assert(!cache.containsKey(keyA1), "the superseded generation is evicted")
      assert(cache.size == 2 && get(dirB) == b1 && computes == 3,
        "the other dir's entry survives")
    } finally Tables.deleteRecursively(tmp.toFile)
  }
}
