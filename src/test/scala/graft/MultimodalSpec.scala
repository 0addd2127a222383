package graft

import graft.ext.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing spec: binary payload + typed metadata schema,
  * and the distributed per-partition decode/feature-extract path (the decode
  * itself is a documented deterministic stub — the Spark plumbing is what is
  * under test). SURVEY.md §2.8 LLM-pipeline extension. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("media schema: opaque binary payload + typed metadata struct") {
    val media = Multimodal.mediaFrom(spark, dir)
    val s = media.schema
    assert(s("payload").dataType.typeName == "binary")
    val meta = s("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("n_bytes", "digest"))
    val row = media.orderBy($"media_id").first()
    val payload = row.getAs[Array[Byte]]("payload")
    assert(payload.nonEmpty)
    assert(row.getAs[org.apache.spark.sql.Row]("meta")
      .getAs[Long]("n_bytes") == payload.length.toLong)
  }

  test("cdcChunkStatsBinary: byte-identical payloads fully duplicated; prefix insertion is chunk-robust; degenerate payloads 0-chunk") {
    // Deterministic pseudo-random BYTES (not text): full range 0-255, so
    // this exercises the byte path where the char-level d13 operator
    // cannot go. Asset 2 = exact copy; asset 3 = copy with a 5-byte
    // prefix insertion (boundaries re-align at the first content-defined
    // boundary past the edit — the property the fixed-size transport
    // chunker loses at the first inserted byte); asset 4 unrelated;
    // assets 5/6: empty and null payloads survive as 0-chunk rows.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(800)(rnd.nextInt(256).toByte)
    val other = Array.fill(800)(rnd.nextInt(256).toByte)
    val df = Seq(
      (1L, base), (2L, base),
      (3L, Array[Byte](1, 2, 3, 4, 5) ++ base), (4L, other),
      (5L, Array.emptyByteArray), (6L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    val out = Multimodal.cdcChunkStatsBinary(df, "media_id", "payload")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 6, s"every asset must survive: $out")
    assert(out(1L)._4 == 1.0 && out(2L)._4 == 1.0,
      s"byte-identical payloads must be fully duplicated: ${out(1L)} ${out(2L)}")
    val (_, n3, dup3, _) = out(3L)
    assert(n3 > 5, s"expected several chunks, got $n3")
    assert(dup3 >= n3 - 2 && dup3 > 0,
      s"insertion must only disturb the chunks around the edit: $dup3 of $n3")
    assert(out(4L)._3 == 0L, s"unrelated payload shares nothing: ${out(4L)}")
    Seq(5L, 6L).foreach { id =>
      assert(out(id) == ((id, 0L, 0L, 0.0)),
        s"degenerate payload $id must be 0-chunk: ${out(id)}")
    }
  }

  test("decodeFeatures runs distributed per-partition and appends features") {
    val media = Multimodal.mediaFrom(spark, dir).repartition(4)
    val decoded = Multimodal.decodeFeatures(media)
    assert(decoded.schema.fieldNames.toSeq ==
      Multimodal.featureSchema.fieldNames.toSeq)
    assert(decoded.count() == media.count(), "no rows lost in decode")
    // features must equal the stub applied to the payload, row by row
    val sample = decoded.orderBy($"media_id").limit(20).collect()
    sample.foreach { r =>
      val (w, h, f) = Multimodal.stubDecode(r.getAs[Array[Byte]]("payload"))
      assert(r.getAs[Int]("width") == w)
      assert(r.getAs[Int]("height") == h)
      assert(r.getAs[Int]("n_frames") == f)
    }
  }

  test("resize appends deterministic thumbnails per partition") {
    val media = Multimodal.mediaFrom(spark, dir).repartition(4)
    val out = Multimodal.resize(media, 64, 64)
    assert(out.schema.fieldNames.endsWith(Seq("thumb", "thumb_w", "thumb_h")))
    val r = out.orderBy($"media_id").first()
    assert(r.getAs[Array[Byte]]("thumb").toSeq ==
      Multimodal.stubResize(r.getAs[Array[Byte]]("payload"), 64, 64).toSeq)
    assert(out.count() == media.count())
  }

  test("images decode and resample for real via JDK ImageIO; non-images take the stub") {
    val png = {
      val in = getClass.getResourceAsStream("/imagefix/gradient.png")
      val bytes = in.readAllBytes(); in.close(); bytes
    }
    // direct decode: the committed fixture's true dimensions
    assert(Multimodal.decodeImage(png).contains((16, 12, 1)))
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)

    // end-to-end through the distributed transforms with mixed payload kinds
    val media = Seq(
      (1L, "image", png),
      (2L, "text", "just some text bytes".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
      .withColumn("meta", struct(
        octet_length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("digest")))
      .repartition(2)
    val decoded = Multimodal.decodeFeatures(media).orderBy($"media_id").collect()
    assert(decoded(0).getAs[Int]("width") == 16)
    assert(decoded(0).getAs[Int]("height") == 12)
    assert(decoded(0).getAs[Int]("n_frames") == 1)
    val (sw, sh, _) = Multimodal.stubDecode(decoded(1).getAs[Array[Byte]]("payload"))
    assert(decoded(1).getAs[Int]("width") == sw)
    assert(decoded(1).getAs[Int]("height") == sh)

    // real bilinear resample: structural assertions only — a byte-exact
    // digest would pin the JDK vendor's Graphics2D resampler + PNG encoder,
    // failing on a different JDK even though resize behaves correctly
    val out = Multimodal.resize(media, 8, 6).orderBy($"media_id").collect()
    val thumb = out(0).getAs[Array[Byte]]("thumb")
    // the thumbnail is itself a decodable 8×6 image
    assert(Multimodal.decodeImage(thumb).contains((8, 6, 1)))
    // ...and the resample is deterministic across runs in this process
    val out2 = Multimodal.resize(media, 8, 6).orderBy($"media_id").collect()
    assert(out2(0).getAs[Array[Byte]]("thumb").toSeq == thumb.toSeq,
      "resize must be deterministic for identical input")
    // the non-image payload took the stub fallback
    assert(out(1).getAs[Array[Byte]]("thumb").toSeq ==
      Multimodal.stubResize(out(1).getAs[Array[Byte]]("payload"), 8, 6).toSeq)
  }

  test("dhash: perceptual fingerprint separates near-identical from distinct images") {
    val png = {
      val in = getClass.getResourceAsStream("/imagefix/gradient.png")
      val bytes = in.readAllBytes(); in.close(); bytes
    }
    // deterministic and decodable-only
    val h = Multimodal.dhashImage(png)
    assert(h.isDefined && h == Multimodal.dhashImage(png))
    assert(Multimodal.dhashImage("not an image".getBytes("UTF-8")).isEmpty)
    // single-pixel perturbation moves at most a couple of grid cells
    val near = Multimodal.dhashImage(Multimodal.perturbPixel(png, 3, 3, 32)).get
    assert(java.lang.Long.bitCount(h.get ^ near) <= 6,
      s"near-dup hamming too high: ${java.lang.Long.bitCount(h.get ^ near)}")
    // channel inversion flips (almost) every strict neighbor comparison
    val inverted = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        img.setRGB(x, y, ~img.getRGB(x, y) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val inv = Multimodal.dhashImage(inverted).get
    assert(java.lang.Long.bitCount(h.get ^ inv) > 16,
      s"distinct-image hamming too low: ${java.lang.Long.bitCount(h.get ^ inv)}")

    // distributed: withDhash appends nullable hashes; the banded pair index
    // finds exactly the close pairs and never consults null-hash rows
    val media = Seq(
      (1L, png), (2L, Multimodal.perturbPixel(png, 3, 3, 32)),
      (3L, inverted), (4L, "text bytes".getBytes("UTF-8")))
      .toDF("media_id", "payload").repartition(2)
    val hashed = Multimodal.withDhash(media)
    val byId = hashed.select($"media_id", $"dhash").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(byId(1L).contains(h.get) && byId(4L).isEmpty)
    val pairs = Multimodal.imageNearDupPairs(hashed, "media_id", maxHamming = 7)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L)), s"got $pairs")
    // ...and the banded candidate set is exact vs brute force at the bound
    val brute = (for {
      a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L) if a < b
      d = java.lang.Long.bitCount(byId(a).get.asInstanceOf[Long] ^
        byId(b).get.asInstanceOf[Long]) if d <= 7
    } yield (a, b, d.toLong)).toSet
    assert(pairs == brute)
    // the registered m04 row: variants 0 and 7 are both exact copies of the
    // base (delta 32·(i mod 7) = 0), so their 0-hamming pair exists by
    // construction whatever the other deltas do on this fixture
    val m04 = Multimodal.m04ImageDhash(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(m04.nonEmpty && m04.forall(_._3 <= 7))
    assert(m04.exists(p => p._1 == 0L && p._2 == 7L && p._3 == 0L),
      "variants 0 and 7 are identical by construction")
  }

  test("phash: DCT fingerprint separates near-identical from distinct images") {
    // deterministic pseudo-noise PNG: the committed gradient fixture is
    // DEGENERATE for a DCT (most coefficients exactly zero -> the median
    // sits in a cluster of exact ties and any edit reshuffles them); noise
    // gives well-separated coefficients, the case pHash is designed for
    def noisePng(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        var v = x * 2654435761L + y * 40503L + seed * 69069L
        v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
        img.setRGB(x, y, (v & 0xffffff).toInt)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val png = noisePng(1)
    // deterministic, decodable-only, and balanced (median split => 32 bits)
    val h = Multimodal.phashImage(png)
    assert(h.isDefined && h == Multimodal.phashImage(png))
    assert(java.lang.Long.bitCount(h.get) == 32, s"median split must balance: ${h.get}")
    assert(Multimodal.phashImage("not an image".getBytes("UTF-8")).isEmpty)
    // a single-pixel edit barely moves any 32x32 area average
    val near = Multimodal.phashImage(Multimodal.perturbPixel(png, 3, 3, 32)).get
    assert(java.lang.Long.bitCount(h.get ^ near) <= 6,
      s"near-dup hamming too high: ${java.lang.Long.bitCount(h.get ^ near)}")
    // an unrelated image shares only chance bits
    val other = noisePng(2)
    val inv = Multimodal.phashImage(other).get
    assert(java.lang.Long.bitCount(h.get ^ inv) > 16,
      s"distinct-image hamming too low: ${java.lang.Long.bitCount(h.get ^ inv)}")
    // banded index over the phash column is exact vs brute force at the bound
    val media = Seq(
      (1L, png), (2L, Multimodal.perturbPixel(png, 3, 3, 32)), (3L, other))
      .toDF("media_id", "payload").repartition(2)
    val byId = Multimodal.withPhash(media).select($"media_id", $"phash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Multimodal.imageNearDupPairs(Multimodal.withPhash(media),
        "media_id", maxHamming = 7, hashCol = "phash")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    val brute = (for {
      a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L) if a < b
      d = java.lang.Long.bitCount(byId(a) ^ byId(b)) if d <= 7
    } yield (a, b, d.toLong)).toSet
    assert(pairs == brute && pairs.map(p => (p._1, p._2)) == Set((1L, 2L)),
      s"got $pairs")
    // the registered m05 row: full 28-pair histogram; the (0, 7) exact-copy
    // pair is 0-hamming by construction
    val m05 = Multimodal.m05ImagePhash(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(m05.length == 28)
    assert(m05.exists(p => p._1 == 0L && p._2 == 7L && p._3 == 0L),
      "variants 0 and 7 are identical by construction")
  }

  test("m04/m05/m06 match their pinned-literal oracle rows exactly") {
    // the driver's DuckDB compare now binds on a pinned VALUES table; this
    // local twin reddens first if the fixture hashes ever drift
    val got = Seq(
      ("m04", Multimodal.m04ImageDhash(spark, dir), Multimodal.m04Expected),
      ("m05", Multimodal.m05ImagePhash(spark, dir), Multimodal.m05Expected),
      ("m06", Multimodal.m06ImageAhash(spark, dir), Multimodal.m06Expected))
    got.foreach { case (name, df, want) =>
      val rows = df.select($"id_a", $"id_b", $"hamming")
        .as[(Long, Long, Long)].collect().toSeq
      assert(rows == want, s"$name drifted from pinned oracle rows")
    }
  }

  test("m07 color moments match the pinned rows; blue-only perturbation structure") {
    val rows = Multimodal.m07ColorMoments(spark, dir)
      .as[(Long, Int, Int, Long, Long, Long)].collect().toSeq
    assert(rows == Multimodal.m07Expected, "m07 drifted from pinned oracle rows")
    // the perturbation touches ONLY the blue channel: red/green sums are
    // constant across variants, and the exact copies (0, 7) agree fully
    assert(rows.map(_._4).distinct.size == 1 && rows.map(_._5).distinct.size == 1)
    assert(rows(0)._6 == rows(7)._6)
    // non-image payloads surface as null features, not a crash
    val media = Multimodal.mediaFrom(spark, dir).limit(3)
    val nulls = Multimodal.withColorSums(media)
      .filter($"sum_b".isNull).count()
    assert(nulls == 3, "text payloads must yield null color features")
  }

  test("ahash: mean-threshold fingerprint; uniform brightness shift is invisible") {
    // bounded-channel noise (<=127 per channel) so a +32 uniform shift
    // cannot clip — the invariance below must hold exactly
    def boundedNoisePng(seed: Int, shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        var v = x * 2654435761L + y * 40503L + seed * 69069L
        v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
        val base = (v & 0x7f7f7f).toInt
        val rgb = (((base >> 16) & 0xff) + shift << 16) |
          (((base >> 8) & 0xff) + shift << 8) | ((base & 0xff) + shift)
        img.setRGB(x, y, rgb)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val png = boundedNoisePng(1, 0)
    val h = Multimodal.ahashImage(png)
    assert(h.isDefined && h == Multimodal.ahashImage(png))
    assert(Multimodal.ahashImage("not an image".getBytes("UTF-8")).isEmpty)
    // the defining property: +32 on every channel moves each cell and the
    // mean identically, so the hash must not change AT ALL
    assert(Multimodal.ahashImage(boundedNoisePng(1, 32)) == h,
      "uniform brightness re-grade must leave the mean-threshold hash fixed")
    // a single-pixel edit barely moves one 8x8 cell average
    val near = Multimodal.ahashImage(Multimodal.perturbPixel(png, 3, 3, 32)).get
    assert(java.lang.Long.bitCount(h.get ^ near) <= 6,
      s"near-dup hamming too high: ${java.lang.Long.bitCount(h.get ^ near)}")
    // an unrelated image shares only chance bits
    val other = boundedNoisePng(2, 0)
    val far = Multimodal.ahashImage(other).get
    assert(java.lang.Long.bitCount(h.get ^ far) > 16,
      s"distinct-image hamming too low: ${java.lang.Long.bitCount(h.get ^ far)}")
    // banded index over the ahash column is exact vs brute force at the bound
    val media = Seq(
      (1L, png), (2L, Multimodal.perturbPixel(png, 3, 3, 32)), (3L, other))
      .toDF("media_id", "payload").repartition(2)
    val byId = Multimodal.withAhash(media).select($"media_id", $"ahash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Multimodal.imageNearDupPairs(Multimodal.withAhash(media),
        "media_id", maxHamming = 7, hashCol = "ahash")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    val brute = (for {
      a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L) if a < b
      d = java.lang.Long.bitCount(byId(a) ^ byId(b)) if d <= 7
    } yield (a, b, d.toLong)).toSet
    assert(pairs == brute && pairs.map(p => (p._1, p._2)) == Set((1L, 2L)),
      s"got $pairs")
    // the registered m06 row: the (0, 7) exact-copy pair exists by construction
    val m06 = Multimodal.m06ImageAhash(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(m06.nonEmpty && m06.forall(_._3 <= 7))
    assert(m06.exists(p => p._1 == 0L && p._2 == 7L && p._3 == 0L),
      "variants 0 and 7 are identical by construction")
  }

  test("banded index == brute force and components collapse clusters on a 64-image corpus") {
    // a corpus-shaped workout for the banded machinery beyond the tiny
    // fixtures: 16 procedural base images x 4 variants (original, two
    // single-pixel edits, a clip-free uniform brightness shift). Variants
    // of one base are near; distinct noise bases sit ~32 bits apart.
    def noisePng(seed: Int, shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(48, 48,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 48) {
        var v = x * 2654435761L + y * 40503L + seed * 69069L
        v ^= v >>> 13; v *= 1274126177L; v ^= v >>> 16
        val base = (v & 0x7f7f7f).toInt
        val rgb = (((base >> 16) & 0xff) + shift << 16) |
          (((base >> 8) & 0xff) + shift << 8) | ((base & 0xff) + shift)
        img.setRGB(x, y, rgb)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val corpus = for {
      seed <- 0 until 16
      (payload, variant) <- Seq(
        (noisePng(seed, 0), 0), (Multimodal.perturbPixel(noisePng(seed, 0), 5, 5, 40), 1),
        (Multimodal.perturbPixel(noisePng(seed, 0), 11, 2, 48), 2), (noisePng(seed, 16), 3))
    } yield (seed.toLong * 10 + variant, payload)
    val media = corpus.toDF("media_id", "payload").repartition(8)
    val hashed = Multimodal.withDhash(media)
    val byId = hashed.select($"media_id", $"dhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.size == 64)
    val pairs = Multimodal.imageNearDupPairs(hashed, "media_id", maxHamming = 7)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    // exactness at corpus scale: all 2016 candidate pairs, banded == brute
    val ids = byId.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(byId(a) ^ byId(b)) if d <= 7
    } yield (a, b, d.toLong)).toSet
    assert(pairs == brute, s"banded vs brute diverge: ${pairs diff brute} / ${brute diff pairs}")
    // no cross-base pair survives the bound; every base's brightness-shifted
    // variant pairs with its original at hamming 0 (dHash compares neighbors,
    // a uniform shift moves both sides of every comparison)
    assert(pairs.forall { case (a, b, _) => a / 10 == b / 10 },
      "distinct noise bases must not collide within 7 bits")
    for (seed <- 0L until 16L)
      assert(pairs.contains((seed * 10, seed * 10 + 3, 0L)),
        s"brightness-shifted variant of base $seed must pair at hamming 0")
    // collapsing the pair graph yields one component per base, never merging
    // bases: at most 16 clusters among the paired ids
    val comps = graft.ext.DedupOps.connectedComponents(
      pairs.toSeq.map(p => (p._1, p._2)).toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comps.keys.map(_ / 10).toSet.size <= 16)
    for ((id, label) <- comps) assert(id / 10 == label / 10,
      s"component label $label crossed base boundary for $id")
  }

  test("sampleFrames emits every Nth frame of the decoded count") {
    val decoded = Multimodal.decodeFeatures(Multimodal.mediaFrom(spark, dir))
    val frames = Multimodal.sampleFrames(decoded, everyNth = 5)
    val expected = decoded.select($"media_id", $"n_frames").collect()
      .map(r => (r.getLong(0), (r.getInt(1) + 4) / 5)).toMap
    val got = frames.groupBy($"media_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt)).toMap
    assert(got == expected)
    // frame indices are the arithmetic sequence 0, 5, 10, ...
    val one = frames.filter($"media_id" === got.keys.head)
      .select($"frame_idx").as[Int].collect().sorted
    assert(one.zipWithIndex.forall { case (f, i) => f == i * 5 })
  }

  test("chunked transport round-trips: chunk -> reassemble == original payload") {
    val media = Multimodal.mediaFrom(spark, dir)
    val chunks = Multimodal.chunk(media, chunkBytes = 37) // ragged tails
    // every chunk except a group's last is exactly chunkBytes
    val bad = chunks
      .filter($"chunk_idx" < $"n_chunks" - 1 && octet_length($"chunk") =!= 37)
    assert(bad.count() == 0)
    // chunk counts match the arithmetic
    val counts = chunks.groupBy($"media_id")
      .agg(countDistinct($"chunk_idx").as("n"), first($"n_chunks").as("nc"))
      .filter($"n" =!= $"nc")
    assert(counts.count() == 0)
    // byte-exact round trip, digest verified against the original metadata
    val back = Multimodal.reassemble(chunks)
    val mism = media.select($"media_id", $"meta.digest".as("d0"))
      .join(back, Seq("media_id"))
      .filter($"digest" =!= $"d0")
    assert(mism.count() == 0)
    assert(back.count() == media.count())
  }

  test("chunk carries null-payload assets as one empty chunk (no silent drop)") {
    val media = Seq(
      (1L, "img", "abcdef".getBytes("UTF-8")),
      (2L, "img", null: Array[Byte]))
      .toDF("media_id", "kind", "payload")
    val chunks = Multimodal.chunk(media, chunkBytes = 4)
    // both media_ids must survive transport — m01 carries null metadata, so
    // a null payload vanishing here would lose the asset's identity
    assert(chunks.select($"media_id").distinct().as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    val nullRow = chunks.filter($"media_id" === 2L).collect()
    assert(nullRow.length == 1 && nullRow.head.getAs[Long]("n_chunks") == 1L
      && nullRow.head.getAs[Array[Byte]]("chunk").isEmpty)
  }

  test("readChunked ingests chunk rows straight from files; round-trips byte-exact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunks-").toFile
    try {
      val rnd = new scala.util.Random(11)
      // multi-chunk file, sub-chunk file, exact-multiple file, empty file
      val fixtures = Map(
        "big.bin" -> Array.fill[Byte](1000)(rnd.nextInt().toByte),
        "small.bin" -> Array.fill[Byte](5)(rnd.nextInt().toByte),
        "exact.bin" -> Array.fill[Byte](74)(rnd.nextInt().toByte),
        "empty.bin" -> Array.emptyByteArray)
      fixtures.foreach { case (name, bytes) =>
        java.nio.file.Files.write(new java.io.File(tmp, name).toPath, bytes)
      }
      // split_bytes = 2 chunks per task: the 1000-byte file (28 chunks) must
      // fan out across many input partitions — the chunked-at-ingest point
      val df = Multimodal.readChunked(spark, tmp.getAbsolutePath,
        chunkBytes = 37, splitBytes = 74L)
      assert(df.rdd.getNumPartitions > 10)
      // no chunk cell exceeds chunk_bytes; every non-tail chunk is full
      assert(df.filter(octet_length($"chunk") > 37).count() == 0)
      assert(df.filter($"chunk_idx" < $"n_chunks" - 1 &&
        octet_length($"chunk") =!= 37).count() == 0)
      // byte-exact reassembly of every fixture, empty file included
      val back = Multimodal.reassemble(df).collect().map { r =>
        val name = r.getAs[String]("media_id").split('/').last
        name -> r.getAs[Array[Byte]]("payload").toSeq
      }.toMap
      assert(back.keySet == fixtures.keySet)
      fixtures.foreach { case (name, bytes) =>
        assert(back(name) == bytes.toSeq, s"$name round-trip mismatch")
      }
      // chunk arithmetic: empty file is one empty chunk; exact multiple has
      // a full tail
      val byName = df.select($"media_id", $"n_chunks").distinct().collect()
        .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
      assert(byName == Map("big.bin" -> 28L, "small.bin" -> 1L,
        "exact.bin" -> 2L, "empty.bin" -> 1L))
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("feature aggregation composes with the decoded columns") {
    val media = Multimodal.mediaFrom(spark, dir)
    val agg = Multimodal.decodeFeatures(media)
      .groupBy($"kind")
      .agg(count(lit(1)).as("n"), avg($"width").as("avg_w"))
      .collect()
    assert(agg.length == 1 && agg.head.getAs[Long]("n") > 0)
  }

  test("jar fixtures extract once to a content-addressed directory") {
    val root = java.nio.file.Files.createTempDirectory("graft-fix-spec")
    val entries = Seq("a.bin" -> Array[Byte](1, 2, 3), "empty.bin" -> Array.emptyByteArray)
    val dir = Multimodal.extractFixtures(root, entries)
    assert(Multimodal.extractFixtures(root, entries) == dir, "a second call reuses the copy")
    entries.foreach { case (n, bytes) =>
      assert(java.nio.file.Files.readAllBytes(dir.resolve(n)).sameElements(bytes), n)
    }
    val other = Multimodal.extractFixtures(root, Seq("a.bin" -> Array[Byte](1, 2, 4)))
    assert(other != dir, "other bytes, other directory")
    val names = java.nio.file.Files.list(root)
    try assert(names.count() == 2, "no temp directory left behind") finally names.close()
  }
}
