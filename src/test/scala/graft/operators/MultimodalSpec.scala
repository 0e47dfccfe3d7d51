package graft.operators

import graft.SparkSpec
import graft.TempDirs.withTempDir

class MultimodalSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "an image payload", "web"),
      (1L, "an audio payload", "web"),
      (2L, "a video payload", "crawl"),
      (3L, "another image", "crawl")
    ).toDF("doc_id", "text", "source")
  }

  test("binaryFile source reads payload bytes with file metadata, glob-filtered") {
    withTempDir("media") { d =>
      val dir = java.nio.file.Paths.get(d)
      java.nio.file.Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3, 4))
      java.nio.file.Files.write(dir.resolve("b.img"), Array[Byte](9, 8))
      java.nio.file.Files.write(dir.resolve("skip.wav"), Array[Byte](7))
      val df = Multimodal.readBinaryDir(spark, dir.toString, glob = "*.img")
      assert(df.columns.toSet === Set("path", "modificationTime", "length", "content"))
      val rows = df.collect().map(r =>
        r.getAs[String]("path").split('/').last -> r.getAs[Array[Byte]]("content").toSeq)
        .toMap
      assert(rows.keySet === Set("a.img", "b.img")) // .wav filtered by glob
      assert(rows("a.img") === Seq[Byte](1, 2, 3, 4))
      assert(rows("b.img") === Seq[Byte](9, 8))
    }
  }

  test("fromDocuments builds typed media items with binary payloads") {
    val items = Multimodal.fromDocuments(docs).collect().sortBy(_.media_id)
    assert(items.length === 4)
    assert(items.map(_.kind).toSeq === Seq("image", "audio", "video", "image"))
    assert(new String(items(0).bytes, "UTF-8") === "an image payload")
  }

  test("decodeFeatures is deterministic, partition-parallel, and typed") {
    val feats = Multimodal.decodeFeatures(Multimodal.fromDocuments(docs))
    val rows = feats.collect().sortBy(_.media_id)
    assert(rows.length === 4)
    assert(rows.forall(_.embedding.length === 8))
    assert(rows(0).n_bytes === "an image payload".getBytes("UTF-8").length.toLong)
    // determinism: same input → same features
    val again = Multimodal.decodeFeatures(Multimodal.fromDocuments(docs))
      .collect().sortBy(_.media_id)
    assert(rows.map(_.digest).toSeq === again.map(_.digest).toSeq)
  }

  test("sampleFrames fans out N frames per video item only") {
    val frames = Multimodal.sampleFrames(Multimodal.fromDocuments(docs), n = 3).collect()
    assert(frames.length === 3)
    assert(frames.forall(_.media_id === 2L))
    assert(frames.map(_.frame_idx).sorted.toSeq === Seq(0, 1, 2))
    assert(frames.map(_.offset_ms).sorted.toSeq === Seq(0L, 1000L, 2000L))
  }

  test("image dHash: invariant to re-encode/rescale, discriminates content") {
    import spark.implicits._
    // four REAL images: a gradient, the same gradient rescaled 3x and
    // JPEG-re-encoded (different bytes, same content), a noise image,
    // and the gradient REVERSED (same histogram, opposite structure —
    // a histogram embedding cannot tell these apart; dHash must)
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out); out.toByteArray
    }
    def gradient(w: Int, h: Int, reversed: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val xx = if (reversed) w - 1 - x else x
        val v = xx * 255 / (w - 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val rnd = new scala.util.Random(5)
    val noise = new java.awt.image.BufferedImage(
      36, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 36)
      noise.setRGB(x, y, rnd.nextInt(1 << 24))
    val items = Seq(
      Multimodal.MediaItem(1L, "image", encode(gradient(36, 24, false), "png"), "gen"),
      Multimodal.MediaItem(2L, "image", encode(gradient(108, 72, false), "jpeg"), "gen"),
      Multimodal.MediaItem(3L, "image", encode(noise, "png"), "gen"),
      Multimodal.MediaItem(4L, "image", encode(gradient(36, 24, true), "png"), "gen"),
      Multimodal.MediaItem(5L, "text", "not an image".getBytes("UTF-8"), "gen")
    ).toDS()
    val hashes = Multimodal.imageDHash(items).collect()
      .map(h => h.media_id -> h.dhash).toMap
    // non-images drop out instead of hashing noise
    assert(hashes.keySet === Set(1L, 2L, 3L, 4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // same content through a different size AND codec: near-identical
    assert(ham(hashes(1L), hashes(2L)) <= 6,
      s"re-encoded/rescaled gradient drifted ${ham(hashes(1L), hashes(2L))} bits")
    // different content: far (gradient rows are monotone — 8 rising bits
    // per row vs noise ~50/50 and the reversed gradient's 0 rising bits)
    assert(ham(hashes(1L), hashes(3L)) > 12)
    assert(ham(hashes(1L), hashes(4L)) > 32,
      "reversed gradient should flip every comparison bit")
    // the composed near-dup pairs find exactly the re-encode pair
    val pairs = Multimodal.imageNearDupPairs(items, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("audio RMS hash: gain-invariant, envelope-shape-sensitive") {
    import spark.implicits._
    // real 16-bit PCM WAVs of a 440 Hz sine under an amplitude ENVELOPE:
    // the hash reads envelope shape (consecutive-bin RMS comparisons), so
    // a half-volume re-master is IDENTICAL while a reversed envelope is
    // far — and a constant tone carries no envelope signal at all
    def wav(env: Double => Double, gain: Double): Array[Byte] = {
      val rate = 8000f
      val n = (rate * 0.5).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val t = i.toDouble / n
        val s = (math.sin(2 * math.Pi * 440 * i / rate) * env(t) * gain * 32767 * 0.9).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val rising: Double => Double = t => t
    val falling: Double => Double = t => 1.0 - t
    val items = Seq(
      Multimodal.MediaItem(1L, "audio", wav(rising, 1.0), "gen"),
      Multimodal.MediaItem(2L, "audio", wav(rising, 0.5), "gen"), // re-master
      Multimodal.MediaItem(3L, "audio", wav(falling, 1.0), "gen"),
      Multimodal.MediaItem(4L, "audio", "not audio".getBytes("UTF-8"), "gen")
    ).toDS()
    val hashes = Multimodal.audioRmsHash(items).collect()
      .map(h => h.media_id -> h.ahash).toMap
    assert(hashes.keySet === Set(1L, 2L, 3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // uniform gain preserves every consecutive-bin comparison exactly
    assert(hashes(1L) === hashes(2L), "half-volume re-master drifted")
    // a rising envelope is ~all 1-bits, a falling one ~all 0-bits
    assert(ham(hashes(1L), hashes(3L)) > 48,
      s"reversed envelope only ${ham(hashes(1L), hashes(3L))} bits away")
    val pairs = Multimodal.audioNearDupPairs(items, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("video near-dup: trimmed transcode matches across containers, by frame dHash") {
    import spark.implicits._
    // patterned frames (solid colors are dHash-degenerate: every solid
    // frame hashes 0) — frame i gets a horizontal sawtooth of period
    // ~(i+2) columns, giving 4 well-separated dHashes
    def pattern(i: Int): java.awt.image.BufferedImage = {
      val (w, h) = (36, 24)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * (i + 2) * 255 / w) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def gif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        frames.foreach(f =>
          writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
        writer.endWriteSequence()
      } finally { ios.close(); writer.dispose() }
      out.toByteArray
    }
    def avi(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      def u32(v: Long): Array[Byte] = Array((v & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def chunk(id: String, data: Array[Byte]): Array[Byte] =
        id.getBytes("US-ASCII") ++ u32(data.length.toLong) ++ data ++
          (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
      def list(kind: String, payload: Array[Byte]): Array[Byte] =
        chunk("LIST", kind.getBytes("US-ASCII") ++ payload)
      val jpegs = frames.map { f =>
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(f, "jpeg", out); out.toByteArray
      }
      val avih = u32(40000L) ++ Array.fill(13)(u32(0L)).flatten
      val body = "AVI ".getBytes("US-ASCII") ++ list("hdrl", chunk("avih", avih)) ++
        list("movi", jpegs.flatMap(chunk("00dc", _)).toArray)
      "RIFF".getBytes("US-ASCII") ++ u32(body.length.toLong) ++ body
    }
    val all = (0 until 4).map(pattern)
    val items = Seq(
      Multimodal.MediaItem(1L, "video", gif(all), "gen"),          // full, GIF
      Multimodal.MediaItem(2L, "video", avi(all.drop(1)), "gen"),  // trimmed, JPEG/AVI
      Multimodal.MediaItem(3L, "video", gif(Seq(pattern(7), pattern(9))), "gen"),
      Multimodal.MediaItem(4L, "video", "no codec here".getBytes("UTF-8"), "gen")
    ).toDS()
    val hashes = Multimodal.videoFrameDHashes(items).collect()
      .groupBy(_.media_id).map { case (k, v) => k -> v.map(_.fh).toSet }
    // pseudo-decode containers drop out; the real ones carry per-frame hashes
    assert(hashes.keySet === Set(1L, 2L, 3L))
    assert(hashes(1L).size === 4)
    // transcoding (GIF palette vs lossy JPEG) preserves the frame dHashes
    assert((hashes(2L) -- hashes(1L)).isEmpty,
      s"transcoded frames drifted: ${hashes(2L) -- hashes(1L)}")
    val pairs = Multimodal.videoNearDupPairs(items, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // trim keeps 3 of 4 frames: J = 3/4
    assert(pairs.keySet === Set((1L, 2L)))
    assert(pairs((1L, 2L)) === 0.75)
  }

  /** A real w×h PNG with a horizontal black→white luma gradient. */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (w == 1) 0 else x * 255 / (w - 1)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image payloads decode through the real codec: true dims + pixel histogram") {
    import spark.implicits._
    val items = Seq(
      Multimodal.MediaItem(0L, "image", pngBytes(20, 10), "gen"),
      Multimodal.MediaItem(1L, "image", pngBytes(7, 3), "gen"),
      // an "image" whose payload is not a decodable container → stub path
      Multimodal.MediaItem(2L, "image", "not a png".getBytes("UTF-8"), "gen"))
      .toDS()
    val rows = Multimodal.decodeFeatures(items).collect().sortBy(_.media_id)
    assert(rows(0).width === 20 && rows(0).height === 10)
    assert(rows(1).width === 7 && rows(1).height === 3)
    // histogram embedding comes from the DECODED pixels: the gradient
    // spreads mass across bins and sums to 1
    assert(math.abs(rows(0).embedding.sum - 1.0f) < 1e-5)
    assert(rows(0).embedding.count(_ > 0f) >= 4)
    // undecodable payload fell back to the labeled pseudo-decode
    assert(rows(2).n_bytes === "not a png".getBytes("UTF-8").length.toLong)
  }

  /** A real 16-bit PCM WAV of a sine at `amp` (relative full scale). */
  private def wavBytes(sampleRate: Float, seconds: Double, amp: Double): Array[Byte] = {
    val n = (sampleRate * seconds).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (math.sin(2 * math.Pi * 440 * i / sampleRate) * amp * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audio payloads decode through the real codec: sample rate, channels, RMS") {
    import spark.implicits._
    val items = Seq(
      Multimodal.MediaItem(0L, "audio", wavBytes(8000f, 0.25, amp = 0.5), "gen"),
      // non-audio payload under the audio kind → labeled pseudo-decode
      Multimodal.MediaItem(1L, "audio", "not a wav".getBytes("UTF-8"), "gen"))
      .toDS()
    val rows = Multimodal.decodeFeatures(items).collect().sortBy(_.media_id)
    // true container metadata, not hash-derived fakes
    assert(rows(0).width === 8000)  // sample rate
    assert(rows(0).height === 1)    // channels
    // a constant-amplitude sine has RMS amp/sqrt(2) in EVERY temporal bin
    val expected = 0.5 / math.sqrt(2)
    assert(rows(0).embedding.length === 8)
    rows(0).embedding.foreach(b => assert(math.abs(b - expected) < 0.01, b))
    // decode is sample-accurate and deterministic
    val again = Multimodal.decodeFeatures(items).collect().sortBy(_.media_id)
    assert(again(0).embedding.toSeq === rows(0).embedding.toSeq)
    assert(rows(1).n_bytes === "not a wav".getBytes("UTF-8").length.toLong)
  }

  test("resize really rescales images: decoded dims of the re-encoded payload") {
    import spark.implicits._
    val items = Seq(Multimodal.MediaItem(0L, "image", pngBytes(32, 16), "gen")).toDS()
    val resized = Multimodal.resize(items, 8, 8).collect().head
    assert(resized.width === 8 && resized.height === 8)
    // n_bytes is the REAL re-encoded PNG length, not the stub bound
    assert(resized.n_bytes > 0)
    val roundTrip = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(pngBytes(8, 8)))
    assert(roundTrip.getWidth === 8) // sanity: codec round-trips at 8×8
  }

  test("sampleFrames routes real containers through the real walks, garbage through the stub") {
    import spark.implicits._
    // an MJPEG AVI assembled from real JPEGs (same builder as VideoFramesSpec)
    def u32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ u32(data.length.toLong) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def list(kind: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ payload)
    def jpegOf(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        6, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 6) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", out)
      out.toByteArray
    }
    val jpegs = Seq(jpegOf(0xff0000), jpegOf(0x00ff00), jpegOf(0x0000ff))
    val avih = u32(40000L) ++ Array.fill(13)(u32(0L)).flatten
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih)) ++
      list("movi", jpegs.flatMap(chunk("00dc", _)).toArray)
    val avi = "RIFF".getBytes("US-ASCII") ++ u32(body.length.toLong) ++ body
    val items = Seq(
      Multimodal.MediaItem(0L, "video", avi, "gen"),
      Multimodal.MediaItem(1L, "video", "mp4-ish garbage".getBytes("UTF-8"), "gen"))
      .toDS()
    val frames = Multimodal.sampleFrames(items, n = 2).collect()
    val real = frames.filter(_.media_id == 0L).sortBy(_.frame_idx)
    // 3 real frames sampled down to 2 evenly spaced: indices 0 and 1 of
    // picks (true frame indices 0 and 1·3/2 = 1)
    assert(real.length === 2)
    assert(real.map(_.offset_ms).toSeq === Seq(0L, 40L), "avih-derived offsets")
    // the non-container payload fell through to the labeled stub shape
    val stub = frames.filter(_.media_id == 1L)
    assert(stub.length === 2 && stub.map(_.offset_ms).toSeq.sorted === Seq(0L, 1000L))
  }

  test("resize is deterministic and stamps exactly the target dims") {
    val items = Multimodal.fromDocuments(docs)
    val a = Multimodal.resize(items, 224, 224).collect().sortBy(_.media_id)
    val b = Multimodal.resize(items, 224, 224).collect().sortBy(_.media_id)
    assert(a.map(_.digest).toSeq === b.map(_.digest).toSeq)
    assert(a.forall(f => f.width === 224 && f.height === 224))
    // different target → different re-encode digest
    val c = Multimodal.resize(items, 64, 64).collect().sortBy(_.media_id)
    assert(a.map(_.digest).toSeq !== c.map(_.digest).toSeq)
  }

  test("fastWavProfile equals the JavaSound reference bit-for-bit") {
    // the fast RIFF walk must produce EXACTLY the doubles the JavaSound
    // decode produces for canonical PCM WAVs — 16-bit planted payloads,
    // an 8-bit synthesized one, and format metadata — and must refuse
    // anything non-canonical so the codec path stays the arbiter
    for (g <- 0L to 20L) {
      val wav = MediaGen.plantedWav(MediaGen.plantedSketch("aud", g))
      val fast = Multimodal.fastWavProfile(wav, 65).get
      val slow = Multimodal.javaSoundProfile(wav, 65).get
      assert(fast._2.toSeq === slow._2.toSeq)
      assert(fast._1.getSampleRate === slow._1.getSampleRate)
      assert(fast._1.getSampleSizeInBits === slow._1.getSampleSizeInBits)
      assert(fast._1.getChannels === slow._1.getChannels)
    }
    // 8-bit unsigned PCM
    val pcm8 = Array.tabulate[Byte](800)(i => ((i * 7) % 256 - 128).toByte)
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val out8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm8), fmt8, 800L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out8)
    val wav8 = out8.toByteArray
    val fast8 = Multimodal.fastWavProfile(wav8, 8).get
    val slow8 = Multimodal.javaSoundProfile(wav8, 8).get
    assert(fast8._2.toSeq === slow8._2.toSeq)
    // non-WAV payloads refuse the fast path (and junk refuses both)
    assert(Multimodal.fastWavProfile("not a riff at all".getBytes, 8).isEmpty)
    assert(Multimodal.fastWavProfile(Array.emptyByteArray, 8).isEmpty)
  }

  test("sniffBytes agrees with the full decoders on every container, sans decode") {
    def png(w: Int, h: Int, fmt: String) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0x123456) // non-blank: sniff must not care
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    assert(Multimodal.sniffBytes(png(37, 19, "png")) === Some(("png", 37, 19)))
    assert(Multimodal.sniffBytes(png(640, 480, "jpg")) === Some(("jpeg", 640, 480)))
    assert(Multimodal.sniffBytes(png(25, 13, "gif")) === Some(("gif", 25, 13)))
    // WAV: rate/channels from the fmt chunk only
    val fmt = new javax.sound.sampled.AudioFormat(11025f, 16, 2, true, false)
    val pcm = new Array[Byte](11025 * 2 * 2) // a full second: sniff stays O(header)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 11025L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    assert(Multimodal.sniffBytes(out.toByteArray) === Some(("wav", 11025, 2)))
    // junk, truncation, and empties drop out rather than guessing
    assert(Multimodal.sniffBytes("plain text".getBytes).isEmpty)
    assert(Multimodal.sniffBytes(png(37, 19, "png").take(20)).isEmpty)
    assert(Multimodal.sniffBytes(Array.emptyByteArray).isEmpty)
  }
}
