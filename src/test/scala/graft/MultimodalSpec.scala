package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "tiny payload"),
    (1L, "a somewhat longer payload with more bytes in it")
  ).toDF("doc_id", "text")

  test("payload table has binary payload + typed metadata") {
    val p = Multimodal.asPayload(docs, col("text"), col("doc_id"))
    val r = p.orderBy("doc_id").collect()
    assert(r(0).getAs[Array[Byte]]("payload").length === 12)
    assert(r(0).getStruct(2).getInt(0) === 12) // meta.n_bytes
  }

  test("metadata projection prunes the payload column from the scan") {
    val dir = tempDir("mm")
    Multimodal.asPayload(docs, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val meta = Multimodal.metaOnly(spark.read.parquet(dir))
    val plan = meta.queryExecution.executedPlan.toString
    assert(!plan.contains("payload"), s"payload not pruned:\n$plan")
    assert(meta.count() === 2)
  }

  test("stub decoder is batch-shaped and deterministic") {
    val p = Multimodal.asPayload(docs, col("text"), col("doc_id"))
    val f1 = Multimodal.stubDecode(p).orderBy("doc_id").collect()
    val f2 = Multimodal.stubDecode(p).orderBy("doc_id").collect()
    assert(f1.map(_.toString).sameElements(f2.map(_.toString)))
    assert(f1(0).getAs[Seq[Float]]("feature").length === 8)
  }

  test("real PNG encode/decode round-trips true dimensions and pixel means") {
    val p = Multimodal.syntheticImagePayload(docs, col("doc_id"))
    // the payloads are genuine PNG streams (magic bytes)
    val payloads = p.orderBy("doc_id").collect()
    assert(payloads.forall { r =>
      val b = r.getAs[Array[Byte]]("payload")
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    })
    val d = Multimodal.decodeImages(p).orderBy("doc_id").collect()
    // doc 1: width = 16 + 1%16 = 17, height = 16 + 0 = 16, red = 1/255
    assert(d(1).getAs[Int]("width") === 17)
    assert(d(1).getAs[Int]("height") === 16)
    assert(math.abs(d(1).getAs[Double]("mean_r") - 1.0 / 255.0) < 1e-12)
    assert(math.abs(d(1).getAs[Double]("mean_g") - 7.0 / 255.0) < 1e-12)
    assert(math.abs(d(1).getAs[Double]("mean_b") - 13.0 / 255.0) < 1e-12)
  }

  test("real resize rescales the raster and preserves solid colours") {
    val p = Multimodal.syntheticImagePayload(docs, col("doc_id"))
    val r = Multimodal.decodeImages(Multimodal.resizeImages(p, 4, 6))
      .orderBy("doc_id").collect()
    assert(r.forall(_.getInt(1) == 4) && r.forall(_.getInt(2) == 6))
    // solid colour survives scaling bit-exactly: doc 1 is rgb(1,7,13)
    assert(math.abs(r(1).getAs[Double]("mean_g") - 7.0 / 255.0) < 1e-12)
    // undecodable payloads pass through resize unchanged
    val junk = Multimodal.asPayload(docs, col("text"), col("doc_id"))
    val passed = Multimodal.resizeImages(junk, 4, 4).orderBy("doc_id").collect()
    assert(passed(0).getAs[Array[Byte]]("payload").length === 12)
  }

  test("frame sampler extracts every nth frame without decoding the rest") {
    val p = Multimodal.syntheticVideoPayload(docs, col("doc_id"), nFrames = 5)
    val sampled = Multimodal.sampleFrames(p, every = 2)
      .orderBy("doc_id", "frame_idx").collect()
    // frames 0, 2, 4 of 5 per doc
    assert(sampled.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 0L), (0L, 2L), (0L, 4L), (1L, 0L), (1L, 2L), (1L, 4L)))
    // every sampled frame is a valid PNG that decodes to its formula
    val d = Multimodal.decodeFrames(Multimodal.sampleFrames(p, 2))
      .orderBy("doc_id", "frame_idx").collect()
    assert(d.forall(_.getInt(2) > 0))
    val f2 = d.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(f2.getInt(2) === 10) // width = 8 + frame_idx
    assert(math.abs(f2.getAs[Double]("mean_r") - ((1 + 31 * 2) % 256) / 255.0) < 1e-12)
    // malformed payloads yield zero frames, not an exception
    val junk = Multimodal.asPayload(docs, col("text"), col("doc_id"))
    assert(Multimodal.sampleFrames(junk, 2).count() <= 2)
  }

  test("undecodable payloads fall back to the deterministic stub, not a crash") {
    val junk = Multimodal.asPayload(docs, col("text"), col("doc_id"))
    val d = Multimodal.decodeImages(junk).orderBy("doc_id").collect()
    assert(d.length === 2)
    assert(d(0).getAs[Int]("width") === 16 + (12 % 16)) // byte-stat fake
    assert(d(0).getAs[Double]("mean_r") === 0.0)
  }

  test("histogram features count real pixels across multiple bins") {
    // hand-built 4x2 PNG: left half black (bin 0 for every channel),
    // right half near-white 250 (bin 7) — a genuinely multi-bin raster,
    // so the test proves the extractor reads pixels, not metadata
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0x000000 else 0xfafafa)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val payloads = Seq((1L, bos.toByteArray)).toDF("doc_id", "payload")
    val got = Multimodal.histogramFeatures(payloads)
      .collect().map(r =>
        (r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(got === Map(
      ("r", 0) -> 4L, ("r", 7) -> 4L,
      ("g", 0) -> 4L, ("g", 7) -> 4L,
      ("b", 0) -> 4L, ("b", 7) -> 4L))
    // undecodable payloads are quarantined: zero feature rows, no throw
    val junk = Seq((2L, "not a png".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.histogramFeatures(junk).count() === 0)
    // non-divisor bin counts are rejected up front (the top bucket
    // would overflow the histogram mid-task otherwise)
    intercept[IllegalArgumentException] {
      Multimodal.histogramFeatures(payloads, bins = 10)
    }
  }

  test("decode summary emits only scalar (sortable) columns") {
    val p = Multimodal.asPayload(docs, col("text"), col("doc_id"))
    val s = Multimodal.decodeSummary(Multimodal.stubDecode(p))
    assert(s.schema.fields.forall(f =>
      !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    val rows = s.orderBy("doc_id").collect()
    assert(rows.length === 2)
    assert(rows.forall(r => r.getString(3).length === 32)) // md5 hex
  }

  test("audio: WAV round trip through the real JDK codec") {
    val ids = Seq(0L, 7L, 799L, 1234L).toDF("doc_id")
    val decoded = Multimodal.decodeAudio(
        Multimodal.syntheticAudioPayload(ids, col("doc_id")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5)))).toMap
    for (id <- Seq(0L, 7L, 799L, 1234L)) {
      val n = 800 + (id % 800)
      val amp = (id * 37) % 10000
      val (sr, ns, dur, peak, rms) = decoded(id)
      assert(sr === 8000L, s"doc $id")
      assert(ns === n, s"doc $id")
      assert(dur === n / 8000.0, s"doc $id")
      assert(peak === amp, s"doc $id")
      assert(rms === amp.toDouble, s"doc $id") // square wave: RMS == amp
    }
    // unparseable payloads quarantine as the deterministic -1 row
    val junk = Seq((9L, "not audio at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val q = Multimodal.decodeAudio(junk).collect().head
    assert(q.getLong(1) === -1L && q.getLong(4) === -1L)
  }

  test("dHash: brightness-shifted copies collide, different styles do not") {
    // 1 and 17 share a style key (id % 16) but carry different
    // brightness jitter (id/16-derived): different payload BYTES,
    // identical perceptual hash
    val ids = Seq(1L, 17L, 2L).toDF("doc_id")
    val pay = Multimodal.syntheticGradientPayload(ids, col("doc_id"))
    val payloads = pay.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(!java.util.Arrays.equals(payloads(1L), payloads(17L)))
    val h = Multimodal.dHashes(pay).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(1L) === h(17L))
    assert(h(1L) !== h(2L)) // different style key
    // the PERCEPTUAL property: +40 global brightness on the decoded
    // raster, re-encoded, hashes identically though every byte moved
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payloads(1L)))
    val bright = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) {
      val g = (img.getRGB(x, y) & 0xff) + 40
      bright.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bright, "png", bos)
    assert(!java.util.Arrays.equals(bos.toByteArray, payloads(1L)))
    val h2 = Multimodal.dHashes(
        Seq((99L, bos.toByteArray)).toDF("doc_id", "payload"))
      .collect().head.getString(1)
    assert(h2 === h(1L))
    // undecodable payloads quarantine (no hash row)
    val junk = Seq((7L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.dHashes(junk).count() === 0L)
  }
}
