package graft

import graft.ops.{Multimodal, VectorSearch}
import org.apache.spark.sql.functions._

/** Multimodal plumbing: blob → frames/resize/meta/pseudo-embedding, and
  * the composition with similarity search (the training-pipeline loop).
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001).limit(50)

  test("decodeAv parses REAL WAV/MP4 headers back from synthesized containers") {
    val meta = Multimodal.decodeAvMeta(spark,
      Multimodal.avPayloads(spark, docs)).collect()
    assert(meta.length == 50)
    meta.foreach { m =>
      val id = m.doc_id
      if (id % 2 == 1) { // WAV: fields come out of fmt/data chunks
        val rate = (8000 * (1 + id % 3)).toInt
        val nSamples = id % 100 + 10
        assert(m.format == "wav", s"doc $id")
        assert(m.sample_rate == rate, s"doc $id")
        assert(m.n_tracks == (1 + (id / 2) % 2).toInt, s"doc $id")
        assert(m.duration_ms == nSamples * 1000 / rate, s"doc $id")
      } else { // MP4: fields come out of mvhd + trak boxes
        val timescale = 1000 * (1 + id % 3)
        assert(m.format == "mp4", s"doc $id")
        assert(m.sample_rate == -1, s"doc $id")
        assert(m.n_tracks == (id % 3 + 1).toInt, s"doc $id")
        assert(m.duration_ms == (id % 9000 + 1000) * 1000 / timescale, s"doc $id")
      }
    }
    // real container magics on the wire bytes
    Multimodal.avPayloads(spark, docs).as[(Long, Array[Byte])].collect()
      .foreach { case (id, bytes) =>
        if (id % 2 == 1)
          assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF"
            && new String(bytes, 8, 4, "US-ASCII") == "WAVE", s"doc $id")
        else
          assert(new String(bytes, 4, 4, "US-ASCII") == "ftyp", s"doc $id")
      }
  }

  test("decodeWavPcm folds sample-exact integer stats matching an independent reconstruction") {
    for (id <- Seq(1L, 7L, 15L, 33L)) {
      val got = Multimodal.decodeWavPcm(id, Multimodal.synthesizeWav(id))
      // reconstruct the samples straight from the synthesis arithmetic,
      // independently of any WAV machinery
      val nVals = ((id % 100 + 10) * (1 + (id / 2) % 2)).toInt
      val samples = (0 until nVals).map { j =>
        val u = ((id * 31 + 2 * j) % 256 + 256 * ((id * 31 + 2 * j + 1) % 256)).toInt
        if (u >= 32768) u - 65536 else u
      }
      assert(got.n_samples == nVals.toLong, s"doc $id")
      assert(got.sum_abs == samples.map(s => math.abs(s).toLong).sum, s"doc $id")
      assert(got.peak_abs == samples.map(math.abs).max, s"doc $id")
      assert(got.n_sign_changes ==
        samples.sliding(2).count(p => p.head.toLong * p(1) < 0), s"doc $id")
    }
    val junk = Multimodal.decodeWavPcm(2L, Multimodal.synthesizeMp4(2L))
    assert(junk.n_samples == -1L && junk.sum_abs == -1L)
  }

  test("resampleWav: valid container out, halved rate, frame-aligned decimation, same duration") {
    for (id <- Seq(1L, 7L, 15L, 33L)) {
      val orig = Multimodal.synthesizeWav(id)
      val res = Multimodal.resampleWav(orig, 2)
      val m = Multimodal.decodeAv(id, res)
      val rate = (8000 * (1 + id % 3)).toInt
      val ch = (1 + (id / 2) % 2).toInt
      val nf = (id % 100 + 10).toInt
      assert(m.format == "wav" && m.sample_rate == rate / 2, s"doc $id")
      assert(m.n_tracks == ch, s"doc $id")
      // decimated PCM equals every-other-FRAME of the original samples
      val got = Multimodal.decodeWavPcm(id, res)
      val origSamples = {
        val p = Multimodal.decodeWavPcm(id, orig); assert(p.n_samples == nf.toLong * ch)
        (0 until nf * ch).map { i =>
          val u = ((id * 31 + 2 * i) % 256 + 256 * ((id * 31 + 2 * i + 1) % 256)).toInt
          if (u >= 32768) u - 65536 else u
        }
      }
      val kept = (0 until nf).filter(_ % 2 == 0)
        .flatMap(f => (0 until ch).map(c => origSamples(f * ch + c)))
      assert(got.n_samples == kept.length.toLong, s"doc $id")
      assert(got.sum_abs == kept.map(s => math.abs(s).toLong).sum, s"doc $id")
      // duration is PRESERVED (half the frames at half the rate)
      val d0 = Multimodal.decodeAv(id, orig).duration_ms
      assert(math.abs(m.duration_ms - d0) <= 1, s"doc $id: $d0 vs ${m.duration_ms}")
    }
    assert(Multimodal.resampleWav(Multimodal.synthesizeMp4(2), 2) == null)
  }

  test("decodeMp4Samples walks the real stbl nesting; decodeAv still reads the enriched moov") {
    for (id <- Seq(2L, 8L, 14L, 40L)) {
      val p = Multimodal.synthesizeMp4WithSamples(id)
      val got = Multimodal.decodeMp4Samples(id, p)
      val ns = (id % 50 + 5).toInt
      val sizes = (0 until ns).map(j => ((id * 13 + j * 7) % 900 + 100).toInt)
      assert(got.n_samples == ns.toLong, s"doc $id")
      assert(got.total_sample_bytes == sizes.map(_.toLong).sum, s"doc $id")
      assert(got.max_sample_bytes == sizes.max, s"doc $id")
      assert(got.total_ticks == ns.toLong * (100 + id % 10), s"doc $id")
      // the header-level reader must be unaffected by the richer trak
      val meta = Multimodal.decodeAv(id, p)
      assert(meta.format == "mp4" && meta.n_tracks == (id % 3 + 1).toInt, s"doc $id")
    }
    // fixed-size stsz variant (sample_size != 0, no table)
    val ff = java.nio.ByteBuffer.allocate(24 + 8 + 8 + 8 + 8 + 8 + 20)
    ff.putInt(24).put("ftypisom".getBytes("US-ASCII")).putInt(0x200)
      .put("isomiso2".getBytes("US-ASCII"))
    ff.putInt(60).put("moov".getBytes("US-ASCII"))
      .putInt(52).put("trak".getBytes("US-ASCII"))
      .putInt(44).put("mdia".getBytes("US-ASCII"))
      .putInt(36).put("minf".getBytes("US-ASCII"))
      .putInt(28).put("stbl".getBytes("US-ASCII"))
      .putInt(20).put("stsz".getBytes("US-ASCII"))
      .putInt(0).putInt(512).putInt(7) // fixed 512 bytes x 7 samples
    val fixed = Multimodal.decodeMp4Samples(1L, ff.array())
    assert(fixed.n_samples == 7L && fixed.total_sample_bytes == 512L * 7
      && fixed.max_sample_bytes == 512)
    // WAV and sample-less MP4 degrade to sentinels
    assert(Multimodal.decodeMp4Samples(3L, Multimodal.synthesizeWav(3L)).n_samples == -1L)
    assert(Multimodal.decodeMp4Samples(4L, Multimodal.synthesizeMp4(4L)).n_samples == -1L)
  }

  test("decodeWavWindows: frame-aligned grid, partial tail window, empty for non-WAV") {
    val id = 9L // nf = 19 frames, ch = 2 → windows at 0,4,8,12,16 (last partial)
    val wins = Multimodal.decodeWavWindows(id, Multimodal.synthesizeWav(id), 8, 4)
    val nf = (id % 100 + 10).toInt
    val ch = (1 + (id / 2) % 2).toInt
    assert(wins.size == (nf + 3) / 4)
    val samples = (0 until nf * ch).map { i =>
      val u = ((id * 31 + 2 * i) % 256 + 256 * ((id * 31 + 2 * i + 1) % 256)).toInt
      if (u >= 32768) u - 65536 else u
    }
    wins.foreach { w =>
      val fs = (w.win_idx.toInt * 4) until math.min(w.win_idx.toInt * 4 + 8, nf)
      val vals = fs.flatMap(fm => (0 until ch).map(c => samples(fm * ch + c)))
      assert(w.n_values == vals.size.toLong, s"win ${w.win_idx}")
      assert(w.sum_abs == vals.map(v => math.abs(v).toLong).sum, s"win ${w.win_idx}")
      assert(w.peak_abs == vals.map(math.abs).max, s"win ${w.win_idx}")
    }
    assert(Multimodal.decodeWavWindows(2L, Multimodal.synthesizeMp4(2L), 8, 4).isEmpty)
  }

  test("corrupt container sizes degrade — no infinite loop, no exception, in every WAV/MP4 reader") {
    // RIFF chunk with size -8: the old walk advanced by 0 forever
    val negChunk = {
      val bb = java.nio.ByteBuffer.allocate(48)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(-8)
      bb.array()
    }
    // RIFF chunk whose size overflows past the payload
    val hugeChunk = {
      val bb = java.nio.ByteBuffer.allocate(48)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      bb.put("data".getBytes("US-ASCII")).putInt(0x7ffffff8)
      bb.array()
    }
    // MP4 with a zero-size box (the old walk clamped to 8 and mis-walked)
    val zeroBox = {
      val bb = java.nio.ByteBuffer.allocate(40)
      bb.putInt(24).put("ftypisom".getBytes("US-ASCII")).putInt(0x200)
        .put("isomiso2".getBytes("US-ASCII"))
      bb.putInt(0).put("moov".getBytes("US-ASCII"))
      bb.array()
    }
    for (p <- Seq(negChunk, hugeChunk)) {
      assert(Multimodal.decodeAv(1L, p).format == "unknown")
      assert(Multimodal.decodeWavPcm(1L, p).n_samples == -1L)
      assert(Multimodal.resampleWav(p, 2) == null)
      assert(Multimodal.decodeWavWindows(1L, p, 8, 4).isEmpty)
    }
    assert(Multimodal.decodeAv(1L, zeroBox).format == "unknown")
    assert(Multimodal.decodeMp4Samples(1L, zeroBox).n_samples == -1L)
  }

  test("decodeAv handles mvhd version 1 (64-bit times) and degrades to unknown on junk") {
    // hand-built v1 mvhd: 8-byte creation/modification, u64 duration
    val ts = 48000; val dur = 96000L; // 2000 ms
    val moovSize = 8 + 120
    val bb = java.nio.ByteBuffer.allocate(24 + moovSize)
    bb.putInt(24).put("ftypisom".getBytes("US-ASCII")).putInt(0x200)
      .put("isomiso2".getBytes("US-ASCII"))
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    bb.putInt(120).put("mvhd".getBytes("US-ASCII"))
      .putInt(0x01000000) // version 1
      .putLong(0L).putLong(0L) // creation, modification (64-bit)
      .putInt(ts).putLong(dur)
    val m = Multimodal.decodeAv(1L, bb.array())
    assert(m.format == "mp4" && m.duration_ms == 2000L)

    val junk = Multimodal.decodeAv(7L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    assert(junk.format == "unknown" && junk.duration_ms == -1L
      && junk.sample_rate == -1 && junk.n_tracks == -1)

    // truncated RIFF (claims WAVE but has no chunks) must not throw
    val trunc = Multimodal.decodeAv(8L,
      "RIFF    WAVE".getBytes("US-ASCII"))
    assert(trunc.format == "unknown")
  }

  test("decodeImage parses REAL PNG/JPEG headers back from synthesized payloads") {
    val meta = Multimodal.decodeImageMeta(spark,
      Multimodal.imagePayloads(spark, docs)).collect()
    assert(meta.length == 50)
    meta.foreach { m =>
      // the dims come out of the container header via ImageIO, not from
      // arithmetic on the bytes — matching proves the encode+parse loop
      assert(m.width == (m.doc_id % 64 + 1).toInt, s"doc ${m.doc_id}")
      assert(m.height == (m.doc_id * 7 % 48 + 1).toInt, s"doc ${m.doc_id}")
      assert(m.format == (if (m.doc_id % 2 == 0) "png" else "jpeg"))
      assert(m.n_frames == 1)
      assert(m.n_bytes > 0)
    }
    // real container magics: PNG signature / JPEG SOI marker
    val raw = Multimodal.imagePayloads(spark, docs)
      .as[(Long, Array[Byte])].collect()
    raw.foreach { case (id, bytes) =>
      if (id % 2 == 0)
        assert(bytes.take(4).sameElements(Array[Byte](0x89.toByte, 'P', 'N', 'G')))
      else
        assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
          s"doc $id not JPEG SOI")
    }
  }

  test("decodeImage degrades to unknown on unparseable payloads") {
    val junk = Multimodal.decodeImage(7L, Array[Byte](1, 2, 3, 4))
    assert(junk.format == "unknown" && junk.width == -1 && junk.n_frames == 0)
  }

  test("frameSample extracts the synthesized MP4 samples byte-for-byte") {
    val ids = Seq(0L, 2L, 4L, 38L, 96L, 1234L)
    val payloads = ids.toDF("doc_id")
      .as[Long].map(id => (id, Multimodal.synthesizeMp4WithSamples(id)))
      .toDF("doc_id", "payload")
    val frames = Multimodal.frameSample(spark, payloads).collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.frame_idx)).toMap
    ids.foreach { id =>
      val ns = (id % 50 + 5).toInt
      val fs = frames(id)
      assert(fs.length == ns, s"doc $id: expected $ns frames")
      fs.zipWithIndex.foreach { case (fr, s) =>
        assert(fr.frame_idx == s)
        val expected = Array.tabulate(Multimodal.mp4SampleSize(id, s))(
          j => Multimodal.mp4SampleByte(id, s, j))
        assert(java.util.Arrays.equals(fr.frame_bytes, expected),
          s"doc $id sample $s bytes differ")
      }
    }
  }

  test("frameSample emits nothing for non-MP4, sample-table-less, or corrupt payloads") {
    val junk = Seq(
      (1L, Array[Byte](1, 2, 3, 4)),
      (3L, Multimodal.synthesizeWav(3L)),         // valid WAV, not MP4
      (4L, Multimodal.synthesizeMp4(4L)),         // MP4 without stbl/mdat
      (6L, Multimodal.synthesizeMp4WithSamples(6L).take(60))) // truncated
      .toDF("doc_id", "payload")
    assert(Multimodal.frameSample(spark, junk).count() == 0)
  }

  test("a hostile fixed-size stsz declaring a billion samples degrades, not allocates") {
    // take a REAL container and patch its stsz to the fixed-size form
    // with sample_size=1, sample_count=2^30 — structurally valid, but
    // the declared bytes exceed the payload, so the bound must reject
    // it (the old guard only bounded the per-sample table)
    val payload = Multimodal.synthesizeMp4WithSamples(6L)
    val i = payload.indexOfSlice("stsz".getBytes("US-ASCII"))
    assert(i > 0, "synthesized container must contain an stsz box")
    val bb = java.nio.ByteBuffer.wrap(payload)
    bb.putInt(i + 8, 1)          // sample_size (fixed form)
    bb.putInt(i + 12, 1 << 30)   // sample_count
    val hostile = Seq((7L, payload)).toDF("doc_id", "payload")
    val t0 = System.nanoTime()
    assert(Multimodal.frameSample(spark, hostile).count() == 0)
    assert((System.nanoTime() - t0) / 1e9 < 30.0,
      "degradation must be a bounds check, not a giant allocation")
  }

  test("resize is a REAL decode→NN-scale→re-encode: resized PNG pixels equal the sampled sources") {
    // PNG docs only (even ids): lossless both ways, so every resized
    // pixel is exactly the nearest-neighbor-sampled source formula —
    // the oracle arithmetic q132 restates
    for (id <- Seq(2L, 8L, 34L, 40L)) {
      val resizedBytes = Multimodal.resizeImage(
        Multimodal.synthesizeImage(id), 1, 2)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(resizedBytes))
      val w = (id % 64 + 1).toInt
      val h = (id * 7 % 48 + 1).toInt
      val tw = math.max(1, w / 2)
      val th = math.max(1, h / 2)
      assert(img.getWidth == tw && img.getHeight == th, s"doc $id dims")
      for (y <- 0 until th; x <- 0 until tw) {
        val sx = x * w / tw
        val sy = y * h / th
        val expect = ((id * 31 + sx * 7 + sy) & 0xffffff).toInt
        assert((img.getRGB(x, y) & 0xffffff) == expect,
          s"doc $id pixel ($x,$y) must be the NN-sampled source")
      }
    }
    // corrupt payloads degrade to empty, never throw
    assert(Multimodal.resizeImage(Array[Byte](1, 2, 3), 1, 2).isEmpty)
  }

  test("image embeddings derive from PIXELS, not payload bytes, and feed similarity search") {
    // the sharp test that the encoder input is decoded pixels: the SAME
    // pixels in two different lossless containers (png vs bmp) produce
    // byte-distinct payloads but IDENTICAL embeddings — a payload-byte
    // hash could never do this
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.synthesizeImage(4L)))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = enc("png")
    val bmp = enc("bmp")
    assert(!java.util.Arrays.equals(png, bmp), "containers differ on the wire")
    val two = Multimodal.imageEmbeddings(spark,
      Seq((1L, png), (2L, bmp)).toDF("doc_id", "payload")).collect()
      .map(e => e.doc_id -> e.embedding.toSeq).toMap
    assert(two(1L) == two(2L), "same pixels ⇒ same embedding, any container")
    assert(two(1L).exists(_ != 0f), "embedding carries real pixel statistics")

    // and the output plugs straight into similarity search
    val emb = Multimodal.imageEmbeddings(spark,
      Multimodal.imagePayloads(spark, docs)).toDF()
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val knn = VectorSearch.knnExact(emb.filter(col("vec_id") < 3), emb, 2)
    assert(knn.collect().length == 6) // 3 queries x top-2
  }
}
