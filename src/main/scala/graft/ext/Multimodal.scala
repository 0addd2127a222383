package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) modeled as opaque
  * `BinaryType` payloads plus a typed metadata struct, with decode /
  * feature-extract implemented as distributed per-partition transforms.
  *
  * IMAGES decode for real via the JDK's built-in `javax.imageio.ImageIO`
  * (PNG/JPEG/BMP/GIF — `java.desktop`, zero external deps): [[decodeImage]] /
  * [[resizeImage]], exercised per-partition by [[decodeFeatures]] /
  * [[resize]]. Payloads ImageIO cannot read (audio, video, arbitrary bytes)
  * fall back to the clearly-marked deterministic STUBs
  * ([[stubDecode]]/[[stubResize]]) — only those codecs are genuinely
  * environment-blocked; the Spark-side plumbing (schema, batching,
  * partitioning, transform signatures) is real and tested either way
  * (MultimodalSpec). LLM-pipeline extension (SURVEY.md §2.8 scope).
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Canonical media schema: opaque bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("digest", StringType, nullable = false))), nullable = false)))

  /** Decoded-feature schema appended by [[decodeFeatures]]. */
  val featureSchema: StructType = StructType(mediaSchema.fields ++ Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** Build a media DataFrame from `documents` by treating the UTF-8 bytes as
    * an opaque payload — the plumbing twin of reading real image/audio blobs. */
  def mediaFrom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(
        $"doc_id".as("media_id"),
        lit("text").as("kind"),
        encode($"text", "utf-8").as("payload"))
      .withColumn("meta", struct(
        octet_length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("digest")))
  }

  /** ImageIO's default read path wraps every InputStream in a DISK-backed
    * cache file (useCache=true) — one temp-file create/write/delete per
    * payload per row inside mapPartitions, for bytes that are already in
    * memory. Flipping the JVM-wide flag once keeps decodes heap-only. */
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Real image decode via JDK ImageIO: (width, height, n_frames=1) for any
    * payload ImageIO can read (PNG/JPEG/BMP/GIF), None otherwise so callers
    * fall back to [[stubDecode]]. Runs on executors inside the mapPartitions
    * transforms — headless-safe, no display needed. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None else Some((img.getWidth, img.getHeight, 1))
    } catch { case _: Exception => None }

  /** Real image resample via Graphics2D bilinear draw onto a w×h RGB raster,
    * re-encoded as PNG; None when the payload is not a decodable image so
    * callers fall back to [[stubResize]]. Deterministic on a given JDK (the
    * spec pins the thumbnail digest). */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }

  /** STUB decoder — the fallback for payloads ImageIO cannot read (audio /
    * video / arbitrary bytes; those codec libraries are not in this
    * container). Derives deterministic fake dimensions from the payload so
    * the distributed plumbing (per-partition batch transform, schema
    * evolution, no driver collect) is exercised end-to-end regardless of
    * payload kind. */
  def stubDecode(payload: Array[Byte]): (Int, Int, Int) = {
    // ??? <- real audio/video decoder goes here; deterministic fake below.
    val n = payload.length
    (64 + n % 512, 64 + (n / 7) % 512, 1 + n % 30)
  }

  /** Distributed decode/feature-extract: mapPartitions over Rows so each
    * executor batch-decodes its partition locally (the Scala analogue of a
    * `mapInPandas` batch UDF). Images decode for real ([[decodeImage]]);
    * everything else takes the stub fallback. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val (w, h, f) = decodeImage(payload).getOrElse(stubDecode(payload))
        Row.fromSeq(r.toSeq ++ Seq(w, h, f))
      }
    }(enc)
  }

  /** STUB resize — the fallback for non-image payloads: a deterministic
    * digest-derived thumbnail payload, so the binary-in/binary-out
    * per-partition transform shape is exercised for every payload kind. */
  def stubResize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    // ??? <- real audio/video resample goes here; deterministic fake below.
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update(payload); d.update(s":$w:$h".getBytes("UTF-8"))
    d.digest()
  }

  /** Distributed resize: appends (thumb BINARY, thumb_w, thumb_h). Same
    * mapPartitions batch shape a Pandas-UDF decode would use. Images
    * resample for real ([[resizeImage]]); everything else takes the stub. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val schema = StructType(media.schema.fields ++ Seq(
      StructField("thumb", BinaryType, nullable = false),
      StructField("thumb_w", IntegerType, nullable = false),
      StructField("thumb_h", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val thumb = resizeImage(payload, w, h).getOrElse(stubResize(payload, w, h))
        Row.fromSeq(r.toSeq ++ Seq(thumb, w, h))
      }
    }(enc)
  }

  /** 64-bit difference hash (dHash) of a decodable image payload — the
    * standard perceptual fingerprint for image near-dup dedup: decoded
    * pixels are area-averaged onto a 9×8 luminance grid and each of the 64
    * bits records one horizontal neighbor comparison (bit r·8+c set iff
    * grid(r)(c) > grid(r)(c+1)). The downscale is pure integer/double
    * arithmetic over `getRGB` values — deliberately NOT a Graphics2D
    * resample, so the hash depends only on the decoded pixels (PNG is
    * lossless → stable across JDK vendors; the resize-digest lesson).
    * None when ImageIO cannot decode the payload. */
  def dhashImage(payload: Array[Byte]): Option[Long] =
    try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val grid = lumaGrid(img, 8, 9)
        var bits = 0L
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            if (grid(r)(c) > grid(r)(c + 1)) bits |= 1L << (r * 8 + c)
            c += 1
          }
          r += 1
        }
        Some(bits)
      }
    } catch { case _: Exception => None }

  /** Area-averaged integer Rec.601 luminance (×1000) grid — the shared
    * downscale for both perceptual hashes. Pure integer/double arithmetic
    * over `getRGB`, deliberately NOT a Graphics2D resample (the hash must
    * depend only on decoded pixels — the resize-digest lesson). */
  private def lumaGrid(img: java.awt.image.BufferedImage,
      rows: Int, cols: Int): Array[Array[Double]] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val grid = Array.ofDim[Double](rows, cols)
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val x0 = math.min(c * w / cols, w - 1)
        val x1 = math.min(math.max((c + 1) * w / cols, x0 + 1), math.max(w, x0 + 1))
        val y0 = math.min(r * h / rows, h - 1)
        val y1 = math.min(math.max((r + 1) * h / rows, y0 + 1), math.max(h, y0 + 1))
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        grid(r)(c) = sum.toDouble / ((x1 - x0).toLong * (y1 - y0))
        c += 1
      }
      r += 1
    }
    grid
  }

  /** DCT-II basis rows for the pHash: basis(u)(y) = cos(π(2y+1)u/64),
    * u < 8, y < 32. StrictMath-built — Math.cos is allowed 1-ulp platform
    * variance, StrictMath is bit-reproducible everywhere, and a knife-edge
    * coefficient-vs-median compare must not flip across JDK vendors. */
  private lazy val dctBasis: Array[Array[Double]] =
    Array.tabulate(8, 32)((u, y) =>
      StrictMath.cos(StrictMath.PI * (2 * y + 1) * u / 64.0))

  /** 64-bit DCT perceptual hash (pHash, ImageHash convention): the decoded
    * image is area-averaged onto a 32×32 luminance grid ([[lumaGrid]]), a
    * separable 2-D DCT-II keeps the top-left 8×8 low-frequency block, and
    * bit u·8+v records coefficient (u,v) > median of those 64. Captures the
    * global frequency envelope, so it is robust to blur / re-encode /
    * small local edits where [[dhashImage]] reacts to local gradient flips;
    * both plug into [[imageNearDupPairs]]'s banded index via `hashCol`.
    * None when ImageIO cannot decode the payload. */
  def phashImage(payload: Array[Byte]): Option[Long] =
    try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val g = lumaGrid(img, 32, 32)
        // separable DCT-II, low-frequency rows only: t(u)(x) = Σ_y B(u,y)·g(y)(x)
        val t = Array.ofDim[Double](8, 32)
        var u = 0
        while (u < 8) {
          var x = 0
          while (x < 32) {
            var s = 0.0
            var y = 0
            while (y < 32) { s += dctBasis(u)(y) * g(y)(x); y += 1 }
            t(u)(x) = s
            x += 1
          }
          u += 1
        }
        val coef = new Array[Double](64)
        u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            var s = 0.0
            var x = 0
            while (x < 32) { s += dctBasis(v)(x) * t(u)(x); x += 1 }
            coef(u * 8 + v) = s
            v += 1
          }
          u += 1
        }
        val sorted = coef.sorted
        val med = (sorted(31) + sorted(32)) / 2.0
        var bits = 0L
        var i = 0
        while (i < 64) { if (coef(i) > med) bits |= 1L << i; i += 1 }
        Some(bits)
      }
    } catch { case _: Exception => None }

  /** 64-bit average hash (aHash): the decoded image area-averages onto an
    * 8×8 luminance grid ([[lumaGrid]]) and bit r·8+c records
    * grid(r)(c) > mean of the 64 cells. The bluntest of the three
    * perceptual hashes — any local edit that keeps a cell on its side of
    * the mean is invisible — and the cheapest: no neighbor column, no DCT.
    * Because the threshold is the image's own mean, a uniform brightness
    * shift moves every cell and the mean together, leaving the hash
    * IDENTICAL (spec-pinned) — the re-grade robustness dHash's fixed
    * neighbor comparisons only approximate. Plugs into
    * [[imageNearDupPairs]] via `hashCol = "ahash"`.
    * None when ImageIO cannot decode the payload. */
  def ahashImage(payload: Array[Byte]): Option[Long] =
    try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val grid = lumaGrid(img, 8, 8)
        var sum = 0.0
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) { sum += grid(r)(c); c += 1 }
          r += 1
        }
        val mean = sum / 64.0
        var bits = 0L
        r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            if (grid(r)(c) > mean) bits |= 1L << (r * 8 + c)
            c += 1
          }
          r += 1
        }
        Some(bits)
      }
    } catch { case _: Exception => None }

  /** Distributed perceptual hashing: appends a nullable LONG hash column
    * (null for payloads ImageIO cannot decode, which then fall back to
    * exact digest dedup). Same mapPartitions batch shape as
    * [[decodeFeatures]]. */
  private def withHash64(media: DataFrame, out: String,
      hash: Array[Byte] => Option[Long]): DataFrame = {
    val schema = StructType(media.schema.fields :+
      StructField(out, LongType, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // positional access: upstream mapPartitions stages pipeline schema-less
    // GenericRows straight into this lambda (no serialization boundary)
    val pIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val d = hash(r.getAs[Array[Byte]](pIdx)).map(Long.box).orNull
        Row.fromSeq(r.toSeq :+ d)
      }
    }(enc)
  }

  def withDhash(media: DataFrame): DataFrame =
    withHash64(media, "dhash", dhashImage)

  def withPhash(media: DataFrame): DataFrame =
    withHash64(media, "phash", phashImage)

  def withAhash(media: DataFrame): DataFrame =
    withHash64(media, "ahash", ahashImage)

  /** Perceptual near-dup image pairs over a [[withDhash]] frame: the 64-bit
    * dHash splits into `bands` equal slices; by pigeonhole, two hashes with
    * hamming ≤ bands−1 share at least one identical band, so the per-(band,
    * value) equi-join is an EXACT candidate generator at maxHamming ≤
    * bands−1 and the final `bit_count(xor)` is a pure filter — the d06
    * SimHash index machinery re-expressed over pixels. Non-decodable rows
    * (null dhash) are excluded. Scale shape: candidate pairs only inside
    * band buckets (one keyed shuffle reused across the self-join — see
    * simhashPairs), never all-pairs. */
  def imageNearDupPairs(hashed: DataFrame, idCol: String, maxHamming: Int,
      bands: Int = 8, hashCol: String = "dhash"): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs bands >= ${maxHamming + 1} for exact candidates")
    val bitsPerBand = 64 / bands
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("bd"),
        expr(s"shiftright(__dh, ${bitsPerBand * b}) & $mask").as("bv"))
    }
    val bandRows = hashed
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).as("__id"), col(hashCol).as("__dh"))
      .select(col("__id"), col("__dh"), explode(array(bandCols: _*)).as("__bb"))
      .select(col("__id"), col("__dh"),
        col("__bb.bd").as("__bd"), col("__bb.bv").as("__bv"))
    val pp = bandRows.repartition(col("__bd"), col("__bv"))
    pp.as("a").hint("merge").join(pp.as("b"),
        col("a.__bd") === col("b.__bd") && col("a.__bv") === col("b.__bv") &&
          col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(first(col("a.__dh")).as("__ha"), first(col("b.__dh")).as("__hb"))
      .withColumn("hamming", expr("bit_count(__ha ^ __hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Frame sampling: one output row per kept frame (every `everyNth` of the
    * decoded n_frames) — a declarative explode over the decoded frame count,
    * so Catalyst handles the fan-out; the per-frame payload is the stub
    * decode of (payload digest, frame_idx). */
  def sampleFrames(decoded: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1)
    decoded
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyNth))))
      .withColumn("frame_digest",
        md5(concat(col("meta.digest"), lit(":"), col("frame_idx").cast("string"))))
      .select(col("media_id"), col("frame_idx"), col("frame_digest"))
  }

  /** Chunked transport: split each payload into fixed-size chunk ROWS
    * (media_id, chunk_idx, n_chunks, chunk, chunk_digest). Chunk rows keep
    * every shuffle/scan unit bounded at `chunkBytes` and spread one asset
    * across partitions. Declarative explode (sequence + substring), so
    * Catalyst owns the fan-out.
    *
    * PRECONDITION — cell cap: the input payload is already ONE BinaryType
    * cell, so it is capped at ~2 GiB by JVM array limits; this operator
    * re-shapes an in-plan payload for transport, it cannot INGEST an asset
    * past the cap. Assets larger than a cell must enter as chunk rows
    * directly from storage via [[readChunked]] (the `graft-chunks` DSv2
    * source plans offset ranges from file lengths and never materializes a
    * whole asset). The chunk offset is range-guarded: a payload long enough
    * to wrap the substring offset past 2³¹ raises an error instead of
    * silently wrapping. A null payload survives as one empty chunk (every
    * media_id crosses the transport; m01-style null handling). */
  def chunk(media: DataFrame, chunkBytes: Int): DataFrame = {
    require(chunkBytes >= 1)
    media
      .withColumn("__pay", coalesce(col("payload"), lit(Array.emptyByteArray)))
      .withColumn("n_chunks",
        greatest(ceil(octet_length(col("__pay")).cast("double") / chunkBytes), lit(1))
          .cast("long"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("__off", col("chunk_idx") * chunkBytes + lit(1L))
      .withColumn("chunk",
        when(col("__off") <= Int.MaxValue,
          expr(s"substring(__pay, cast(__off as int), $chunkBytes)"))
          .otherwise(raise_error(concat(
            lit("chunk offset overflows substring's int range for media_id "),
            col("media_id").cast("string"))).cast("binary")))
      .withColumn("chunk_digest", md5(col("chunk")))
      .select(col("media_id"), col("chunk_idx"), col("n_chunks"),
        col("chunk"), col("chunk_digest"))
  }

  /** Chunked-at-ingest reader: chunk rows straight from storage through the
    * `graft-chunks` DSv2 source — same output shape as [[chunk]] with the
    * file URI as media_id — so assets beyond the single-cell cap never
    * materialize whole. See [[graft.sources.GraftChunksProvider]] for the
    * planning/split contract. */
  def readChunked(s: SparkSession, path: String, chunkBytes: Int,
      splitBytes: Long = 128L << 20): DataFrame =
    s.read.format("graft-chunks")
      .option("chunk_bytes", chunkBytes)
      .option("split_bytes", splitBytes)
      .load(path)
      .withColumn("chunk_digest", md5(col("chunk")))

  /** Reassemble [[chunk]] rows back into one payload per media_id, with the
    * digest for end-to-end verification. The in-group fold is declarative
    * (sort_array + aggregate over the collected chunk structs — one keyed
    * shuffle). NOTE: reassembly necessarily materializes the whole asset in
    * one cell again — it is for consumers that need the full payload (and
    * for round-trip verification); pipelines that can work per-chunk (frame
    * decode, rolling digests) should stay on the chunk rows. */
  def reassemble(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("media_id"))
      .agg(collect_list(struct(col("chunk_idx"), col("chunk"))).as("__cs"))
      .select(col("media_id"),
        expr("aggregate(transform(array_sort(__cs), x -> x.chunk), " +
          "cast('' as binary), (acc, c) -> concat(acc, c))").as("payload"))
      .withColumn("digest", md5(col("payload")))

  /** Content-defined chunking over BINARY payloads — [[graft.ext.DedupOps
    * .cdcChunkStats]]'s byte-level twin for the media family: boundaries
    * from ONE O(len) rolling-hash pass over the raw bytes
    * ([[graft.functions.CdcBoundariesBytes]]), chunk digests as
    * md5-of-hex (the m03 discipline — the DuckDB twin has no blob md5, and
    * hex slices of the payload's hex ARE the chunks' hex), then the d13
    * duplicate accounting: per asset, chunk count + chunks whose digest
    * appears in ≥ 2 ASSETS + the duplicated fraction. Insertion-robust
    * where [[chunk]]'s fixed-size transport slicing is not — the dedup
    * boundary for payloads that share shifted content (re-muxed media,
    * prepended headers).
    *
    * Scale shape: boundary detection and digesting are shuffle-free
    * per-row projections; the df count and join are 32-byte-digest-keyed.
    * Null/empty payloads yield 0 chunks (dup_frac 0.0). */
  def cdcChunkStatsBinary(df: DataFrame, idCol: String, payloadCol: String,
      window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 2 && divisor >= 2, "need window >= 2 and divisor >= 2")
    val withChunks = df
      .withColumn("__len", octet_length(col(payloadCol)))
      .withColumn("__bs", graft.functions.CdcBoundariesBytes
        .cdcBoundariesBytes(col(payloadCol), window, divisor))
      .withColumn("__bounds",
        when(col("__len") > 0,
          array_distinct(concat(col("__bs"), array(col("__len")))))
          .otherwise(array().cast("array<int>")))
      // empty-bounds guard: sequence(1, 0) descends through index 0 (the
      // d13 footgun); digests computed straight in the transform — the
      // binary chunk cells never materialize past the substring
      .withColumn("__dgs",
        when(size(col("__bounds")) > 0,
          transform(sequence(lit(1), size(col("__bounds"))), i => {
            val prev = when(i === 1, lit(0))
              .otherwise(element_at(col("__bounds"), i - 1))
            md5(hex(col(payloadCol).substr(prev + 1,
              element_at(col("__bounds"), i) - prev)))
          })).otherwise(array().cast("array<string>")))
    val inst = withChunks
      .select(col(idCol).as("__id"), explode_outer(col("__dgs")).as("__dg"))
      .filter(col("__dg").isNotNull) // outer: no inferred-filter re-eval (see TextOps)
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

  // ---------------------------------------------------------------- m08
  /** [[cdcChunkStatsBinary]] as an oracle row over the m01 media frame:
    * the DuckDB twin replays boundaries and digests over `hex(payload)` —
    * byte p is the two-hex-digit slice at 2p−1, so the power-staged window
    * sums and the chunk digests (md5 of the hex slice) are exact. */
  val m08CdcBinary: Q = (s, dir) => {
    import s.implicits._
    cdcChunkStatsBinary(mediaFrom(s, dir), "media_id", "payload")
      .orderBy($"media_id")
  }

  // ---------------------------------------------------------------- m01
  /** Oracle-checked metadata extraction over the binary payload column —
    * byte length, digest, and a deterministic stub feature. The decode stub
    * itself is covered by MultimodalSpec (not SQL-expressible). */
  val m01BinaryMeta: Q = (s, dir) => {
    import s.implicits._
    mediaFrom(s, dir)
      .select(
        $"media_id",
        $"kind",
        $"meta.n_bytes".as("n_bytes"),
        $"meta.digest".as("digest"),
        ($"meta.n_bytes" % 256).as("stub_feature"))
      .orderBy($"media_id")
  }

  // ---------------------------------------------------------------- m02
  /** Oracle-checked chunked-transport accounting: per-asset chunk count and
    * the exact size split between full chunks and the tail. The byte-level
    * round-trip (chunk → reassemble == original payload+digest) is
    * MultimodalSpec's job; the oracle pins the chunk arithmetic. */
  val m02Chunking: Q = (s, dir) => {
    import s.implicits._
    chunk(mediaFrom(s, dir), chunkBytes = 100)
      .groupBy($"media_id")
      .agg(
        first($"n_chunks").as("n_chunks"),
        sum(octet_length($"chunk")).cast("long").as("total_bytes"),
        max(when($"chunk_idx" === $"n_chunks" - 1, octet_length($"chunk")))
          .cast("long").as("tail_bytes"))
      .orderBy($"media_id")
  }

  // ---------------------------------------------------------------- m03
  /** Committed multi-file fixture for the chunked-at-ingest oracle row: the
    * scale factor doesn't apply (the source under test reads RAW FILES, not
    * the parquet tables), so the query reads a fixed checked-in directory
    * and the DuckDB oracle replays it with `read_blob` over the same files.
    * The fixture pins the planner's edges: a multi-chunk file, an exact
    * chunk-multiple file, an EMPTY file (one empty chunk — every asset
    * survives transport), and a sub-chunk file.
    *
    * Resolution order (no hardcoded checkout path, cwd-independent —
    * round-10 verdict #5): `-Dgraft.chunkfix.dir`, the classpath — the
    * fixtures are MAIN resources, so sbt runs see them as files under
    * `target/.../classes` from ANY working directory, and a bare main jar
    * extracts them once to a content-addressed dir — then the repo-relative
    * path against the working directory as a last resort. The oracle SQL below is built from
    * the SAME resolved path, so both engines read one directory wherever
    * the repo is checked out. */

  /** Resolve a classpath resource to a real filesystem path: directly for
    * exploded-classes runs (file: protocol), by extraction with
    * [[extractFixtures]] for jar-packaged runs. `names` are the entries to
    * extract when `base` is a directory-like resource. */
  private def materializeResource(base: String, names: Seq[String]): Option[String] =
    Option(getClass.getResource(base)).flatMap { u =>
      u.getProtocol match {
        case "file" => Some(new java.io.File(u.toURI).getAbsolutePath)
        case "jar" =>
          val entries = names.flatMap { n =>
            Option(getClass.getResourceAsStream(s"$base/$n"))
              .map(in => try n -> in.readAllBytes() finally in.close())
          }
          Some(extractFixtures(
            java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), entries).toString)
        case _ => None
      }
    }

  /** Copy fixture files into `root/graft_fix_<hash of every name and byte>`:
    * every JVM gets the same directory, reused across runs, so plan text
    * naming it is stable. The copy is built in a temp directory and renamed
    * into place atomically; a racing JVM's finished copy wins. */
  private[graft] def extractFixtures(root: java.nio.file.Path,
      entries: Seq[(String, Array[Byte])]): java.nio.file.Path = {
    import java.nio.file.{Files, StandardCopyOption}
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.foreach { case (n, b) => md.update(s"$n/${b.length}/".getBytes("UTF-8")); md.update(b) }
    val dir = root.resolve("graft_fix_" + md.digest().take(12).map("%02x".format(_)).mkString)
    if (!Files.isDirectory(dir)) {
      val tmp = Files.createTempDirectory(root, s"${dir.getFileName}.tmp")
      entries.foreach { case (n, b) => Files.write(tmp.resolve(n), b) }
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException if Files.isDirectory(dir) =>
        entries.foreach(e => Files.delete(tmp.resolve(e._1))); Files.delete(tmp) }
    }
    dir
  }

  private[graft] val chunkFixtureDir: String =
    sys.props.get("graft.chunkfix.dir")
      .orElse(materializeResource("/chunkfix",
        Seq("a.bin", "b.bin", "c.bin", "d.bin")))
      .getOrElse(new java.io.File("src/main/resources/chunkfix").getAbsolutePath)

  /** Oracle-checked `graft-chunks` ingest: per-file chunk accounting (count,
    * rows, total bytes) plus a reassembly digest proving the chunk rows
    * carry the exact file bytes. md5 over the HEX of the payload because the
    * DuckDB twin has no blob-md5 — both engines uppercase-hex identically.
    * Byte-level splits/seeks are MultimodalSpec + ChunksConfSpec's job; the
    * oracle pins planning arithmetic and end-to-end content. */
  val m03ChunkedRead: Q = (s, _) => {
    val ch = readChunked(s, chunkFixtureDir, chunkBytes = 7)
    val acct = ch.groupBy(col("media_id")).agg(
      first(col("n_chunks")).as("n_chunks"),
      count(lit(1)).as("rows_read"),
      sum(octet_length(col("chunk"))).cast("long").as("total_bytes"))
    val digests = reassemble(ch)
      .select(col("media_id"), md5(hex(col("payload"))).as("hex_digest"))
    acct.join(digests, Seq("media_id")).orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------- m04
  /** Image fixture resolution — same order as [[chunkFixtureDir]]. */
  private[graft] val imageFixturePath: String =
    sys.props.get("graft.imagefix.path")
      .orElse(materializeResource("/imagefix", Seq("gradient.png"))
        .map(d => new java.io.File(d, "gradient.png").getAbsolutePath))
      .getOrElse(new java.io.File("src/main/resources/imagefix/gradient.png")
        .getAbsolutePath)

  /** Decode, bump one pixel's blue channel by `delta`, re-encode PNG —
    * the executor-side variant generator for the m04 row (lossless
    * round-trip: the perturbed PIXELS are exact whatever the encoder). */
  private[graft] def perturbPixel(payload: Array[Byte], x: Int, y: Int,
      delta: Int): Array[Byte] = {
    imageIoNoDiskCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    val rgb = img.getRGB(x, y)
    img.setRGB(x, y, (rgb & 0xffffff00) | ((rgb & 0xff) + delta) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Perceptual image near-dup pairs over single-pixel variants of the
    * committed PNG fixture. Pixel decode is not SQL-expressible, so the
    * DuckDB oracle cannot REPLAY the hash — instead the deterministic
    * expected rows are pinned as a literal VALUES table ([[m04Expected]]),
    * making the row fully hash-checkable; MultimodalSpec pins the
    * dHash/banding semantics and the pinned rows themselves. The OUTPUT is
    * fully deterministic across runs and JDK vendors: dHash
    * reads decoded pixels (PNG is lossless), never re-encoded bytes.
    * Variant i bumps pixel (i, i) by 32·(i mod 7) — variants 0 and 7 both
    * take delta 0 and are exact copies of the base, so the (0, 7) 0-hamming
    * pair exists BY CONSTRUCTION, independent of which (if any) comparison
    * bits the other deltas happen to flip on this fixture. */
  private[graft] def perturbedVariants(s: SparkSession): DataFrame = {
    val base = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(imageFixturePath))
    val variants = s.range(0, 8).select(col("id").as("media_id"),
      lit(base).as("payload"))
    val schema = StructType(Seq(
      StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    variants.mapPartitions { rows =>
      rows.map { r =>
        val i = r.getLong(0).toInt
        Row(r.getLong(0), perturbPixel(r.getAs[Array[Byte]]("payload"), i, i, 32 * (i % 7)))
      }
    }(enc)
  }

  val m04ImageDhash: Q = (s, _) => {
    import s.implicits._
    imageNearDupPairs(withDhash(perturbedVariants(s)), "media_id", maxHamming = 7)
      .orderBy($"id_a", $"id_b")
  }

  /** The m04 construction over the DCT hash, widened to the FULL 28-pair
    * Hamming histogram: every C(8,2) variant pair with its pHash distance,
    * no threshold. On this fixture the DCT is SENSITIVE to the single-pixel
    * bumps — a delta of up to 192 shifts enough 8×8 low-frequency
    * coefficients across the median threshold to flip well over 7 bits for
    * most non-copy pairs (round 9 measured exactly 1 pair within
    * maxHamming=7: the by-construction (0,7) exact copy) — so a thresholded
    * query collapses to its trivially-guaranteed row. The histogram is the
    * stronger witness: all 28 distances are deterministic and hash-checked
    * against a pinned-literal oracle. The all-pairs join is FIXTURE-SIZED
    * (8 rows) by construction — the scale path for pHash near-dup remains
    * [[imageNearDupPairs]] (banded, spec-pinned banded ≡ brute). */
  val m05ImagePhash: Q = (s, _) => {
    import s.implicits._
    val h = withPhash(perturbedVariants(s)).select($"media_id", $"phash")
    h.as("a").join(h.as("b"), col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .orderBy($"id_a", $"id_b")
  }

  /** The m04 construction over the average hash — hash-checked against the
    * pinned [[m06Expected]] literal like m04/m05; the (0, 7) exact-copy
    * pair is 0-hamming by construction. On this fixture EVERY pair is
    * 0-hamming: no single-pixel bump moves an 8×8 cell mean across the
    * global threshold (the brightness-invariance the spec pins is exactly
    * this robustness). */
  val m06ImageAhash: Q = (s, _) => {
    import s.implicits._
    imageNearDupPairs(withAhash(perturbedVariants(s)), "media_id",
        maxHamming = 7, hashCol = "ahash")
      .orderBy($"id_a", $"id_b")
  }

  // ---------------------------------------------------------------- m07
  /** Per-channel integer pixel sums of a decodable image — the unnormalized
    * first color moment, the cheapest classic image feature (channel
    * histogram/moment features for filtering, near-dup triage, and
    * modality QA). INTEGER-exact: sums of decoded 8-bit channel values over
    * lossless PNG pixels are JDK-vendor-stable with zero float surface.
    * None when ImageIO cannot decode. */
  def colorSums(payload: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
    try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        Some((w, h, sr, sg, sb))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Appends nullable (width, height, sum_r, sum_g, sum_b) feature columns
    * — the [[withHash64]] mapPartitions batch shape. */
  def withColorSums(media: DataFrame): DataFrame = {
    val schema = StructType(media.schema.fields ++ Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sum_r", LongType, nullable = true),
      StructField("sum_g", LongType, nullable = true),
      StructField("sum_b", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val pIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val feats = colorSums(r.getAs[Array[Byte]](pIdx))
          .map { case (w, h, sr, sg, sb) =>
            Seq(Int.box(w), Int.box(h), Long.box(sr), Long.box(sg), Long.box(sb))
          }
          .getOrElse(Seq(null, null, null, null, null))
        Row.fromSeq(r.toSeq ++ feats)
      }
    }(enc)
  }

  /** Color-moment features of the perturbed-variant fixture, hash-checked
    * against the pinned [[m07Expected]] literal (the m04 pattern — decode
    * is not SQL-expressible, the values are deterministic). The blue-only
    * perturbation is visible in the features: every variant shares sum_r
    * and sum_g with the base, only sum_b moves (MultimodalSpec pins that
    * structure as well as the exact rows). */
  val m07ColorMoments: Q = (s, _) => {
    import s.implicits._
    withColorSums(perturbedVariants(s))
      .select($"media_id", $"width", $"height", $"sum_r", $"sum_g", $"sum_b")
      .orderBy($"media_id")
  }

  val queries: Map[String, Q] = Map(
    "m01_binary_meta" -> m01BinaryMeta,
    "m08_cdc_binary" -> m08CdcBinary,
    "m02_chunking" -> m02Chunking,
    "m03_chunked_read" -> m03ChunkedRead,
    "m04_image_dhash" -> m04ImageDhash,
    "m05_image_phash" -> m05ImagePhash,
    "m06_image_ahash" -> m06ImageAhash,
    "m07_color_moments" -> m07ColorMoments)

  /** Pinned expected (id_a, id_b, hamming) rows for the image-hash family.
    * Pixel decode is not SQL-expressible, so DuckDB cannot REPLAY the hash —
    * but the hashes are fully deterministic (pure-arithmetic downscale over
    * losslessly-decoded PNG pixels, JDK-vendor-stable; MultimodalSpec pins
    * determinism), so the expected rows can be pinned as literals and the
    * driver's rows+schema+hash compare binds instead of rows-only. Measured
    * once from the committed fixture + perturbedVariants; MultimodalSpec
    * asserts the live queries still produce exactly these rows, so drift
    * reddens locally before it reddens the driver. dHash: only variant 6
    * (delta 192 at pixel (6,6)) flips a gradient bit. pHash: the 32×32 DCT
    * is sensitive to every bump — non-copy pairs sit 16–28 bits apart.
    * aHash: no single-pixel bump moves an 8×8 cell mean across the global
    * threshold — all pairs identical. (0,7) is the by-construction exact
    * copy in all three. */
  private[graft] val m04Expected: Seq[(Long, Long, Long)] =
    (for (a <- 0L to 6L; b <- (a + 1) to 7L)
      yield (a, b, if (a == 6L || b == 6L) 1L else 0L)).toSeq
  private[graft] val m05Expected: Seq[(Long, Long, Long)] = Seq(
    (0L, 1L, 26L), (0L, 2L, 24L), (0L, 3L, 26L), (0L, 4L, 26L), (0L, 5L, 24L),
    (0L, 6L, 28L), (0L, 7L, 0L), (1L, 2L, 16L), (1L, 3L, 22L), (1L, 4L, 24L),
    (1L, 5L, 24L), (1L, 6L, 26L), (1L, 7L, 26L), (2L, 3L, 22L), (2L, 4L, 24L),
    (2L, 5L, 22L), (2L, 6L, 26L), (2L, 7L, 24L), (3L, 4L, 24L), (3L, 5L, 28L),
    (3L, 6L, 24L), (3L, 7L, 26L), (4L, 5L, 16L), (4L, 6L, 26L), (4L, 7L, 26L),
    (5L, 6L, 26L), (5L, 7L, 24L), (6L, 7L, 28L))
  private[graft] val m06Expected: Seq[(Long, Long, Long)] =
    (for (a <- 0L to 6L; b <- (a + 1) to 7L) yield (a, b, 0L)).toSeq

  /** Pinned m07 rows (media_id, width, height, sum_r, sum_g, sum_b) of the
    * 16×12 fixture: red/green sums are untouched by the blue-channel
    * perturbation; variant i adds exactly 32·(i mod 7) to the base blue sum
    * 15936 (the (i,i) pixel's blue value never wraps on this gradient). */
  private[graft] val m07Expected: Seq[(Long, Int, Int, Long, Long, Long)] =
    (0L to 7L).map(i =>
      (i, 16, 12, 23040L, 21120L, 15936L + 32L * (i % 7))).toSeq

  private def pinnedPairsSql(rows: Seq[(Long, Long, Long)]): String =
    rows.map { case (a, b, h) => s"($a, $b, $h)" }.mkString(
      "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(hamming AS BIGINT) AS hamming FROM (VALUES ",
      ", ", ") t(id_a, id_b, hamming) ORDER BY id_a, id_b")

  private def m07Sql(rows: Seq[(Long, Int, Int, Long, Long, Long)]): String =
    rows.map { case (i, w, h, r, g, b) => s"($i, $w, $h, $r, $g, $b)" }
      .mkString(
        "SELECT CAST(media_id AS BIGINT) AS media_id, " +
          "CAST(width AS INT) AS width, CAST(height AS INT) AS height, " +
          "CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g, " +
          "CAST(sum_b AS BIGINT) AS sum_b FROM (VALUES ",
        ", ", ") t(media_id, width, height, sum_r, sum_g, sum_b) ORDER BY media_id")

  /** The m08 boundary hash as a direct window sum over hex-pair byte
    * values — power literals from the SAME powMod [[graft.functions
    * .CdcBoundariesBytes]] uses (the d13 generator's byte twin). */
  private val cdcByteHashSql: String =
    (7 to 0 by -1).map { d =>
      val pos = if (d == 0) "2*p-1" else s"2*(p-$d)-1"
      s"CAST(('0x' || substr(hx, $pos, 2)) AS BIGINT) * ${graft.functions.CdcBoundaries.powMod(d)} % 2147483647"
    }.mkString("(", " + ", ") % 2147483647")

  val oracles: Map[String, String] = Map(
    "m04_image_dhash" -> pinnedPairsSql(m04Expected),
    "m05_image_phash" -> pinnedPairsSql(m05Expected),
    "m06_image_ahash" -> pinnedPairsSql(m06Expected),
    "m07_color_moments" -> m07Sql(m07Expected),
    "m01_binary_meta" ->
      """SELECT doc_id AS media_id, 'text' AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS digest,
        | CAST(octet_length(encode(text)) % 256 AS BIGINT) AS stub_feature
        |FROM documents ORDER BY media_id""".stripMargin,
    // byte-level CDC replay over hex(payload): byte p = the 2-hex-digit
    // slice at 2p-1; window sums power-staged (every term reduced mod M
    // before the sum — CdcBoundariesBytes' rolling value exactly); chunk
    // digests = md5 of the hex slice (both engines hex uppercase; no
    // blob md5 needed — the m03 discipline)
    "m08_cdc_binary" ->
      s"""WITH c AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |   octet_length(encode(text)) AS n
        |  FROM documents),
        | b AS (
        |  SELECT media_id, hx, n,
        |   CASE WHEN n >= 8 THEN
        |    list_filter(range(8, n + 1), p ->
        |     ($cdcByteHashSql) % 64 = 0)
        |   ELSE [] END AS bs
        |  FROM c),
        | bb AS (
        |  SELECT media_id, hx,
        |   CASE WHEN n > 0 THEN
        |    (CASE WHEN len(bs) > 0 AND bs[-1] = n THEN bs
        |          ELSE list_append(bs, n) END)
        |   ELSE [] END AS bounds
        |  FROM b),
        | k AS (
        |  SELECT media_id, hx, bounds,
        |   generate_subscripts(bounds, 1) AS i, unnest(bounds) AS p
        |  FROM bb),
        | inst AS (
        |  SELECT media_id,
        |   md5(substr(hx,
        |     2 * (CASE WHEN i = 1 THEN 0 ELSE bounds[i-1] END) + 1,
        |     2 * (p - (CASE WHEN i = 1 THEN 0 ELSE bounds[i-1] END)))) AS dg
        |  FROM k),
        | f AS (
        |  SELECT dg, count(*) AS df FROM (SELECT DISTINCT media_id, dg FROM inst)
        |  GROUP BY dg),
        | per AS (
        |  SELECT inst.media_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |   CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |  FROM inst JOIN f USING (dg) GROUP BY inst.media_id)
        |SELECT d.doc_id AS media_id,
        | CAST(coalesce(per.n_chunks, 0) AS BIGINT) AS n_chunks,
        | CAST(coalesce(per.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
        | CASE WHEN coalesce(per.n_chunks, 0) > 0
        |  THEN round(CAST(per.n_dup_chunks AS DOUBLE) / per.n_chunks + 1e-9, 4)
        |  ELSE 0.0 END AS dup_frac
        |FROM documents d LEFT JOIN per ON d.doc_id = per.media_id
        |ORDER BY media_id""".stripMargin,
    "m02_chunking" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
        |  FROM documents)
        |SELECT media_id,
        | CAST(greatest(ceil(n / 100.0), 1) AS BIGINT) AS n_chunks,
        | CAST(n AS BIGINT) AS total_bytes,
        | CAST(CASE WHEN n = 0 THEN 0
        |           WHEN n % 100 = 0 THEN 100
        |           ELSE n % 100 END AS BIGINT) AS tail_bytes
        |FROM b ORDER BY media_id""".stripMargin,
    "m03_chunked_read" ->
      s"""SELECT 'file:' || filename AS media_id,
         | CAST(CASE WHEN size = 0 THEN 1
         |           ELSE CAST(ceil(size / 7.0) AS BIGINT) END AS BIGINT) AS n_chunks,
         | CAST(CASE WHEN size = 0 THEN 1
         |           ELSE CAST(ceil(size / 7.0) AS BIGINT) END AS BIGINT) AS rows_read,
         | CAST(size AS BIGINT) AS total_bytes,
         | md5(hex(content)) AS hex_digest
         |FROM read_blob('$chunkFixtureDir/*')
         |ORDER BY media_id""".stripMargin)
}
