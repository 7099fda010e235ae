package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** Wrap a text/blob frame into the multimodal shape (payload = utf-8
    * bytes): the fixture builder the decoder cases below start from. */
  private def fromText(df: DataFrame, idCol: String, textCol: String,
                       modality: String = "image"): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(modality).as("modality"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  test("fromText produces the canonical multimodal schema") {
    val assets = fromText(
      Seq((1L, "hello world payload"), (2L, ""), (3L, "another binary blob"))
        .toDF("id", "txt"), "id", "txt")
    assert(assets.schema.fieldNames.toSeq ==
      Seq("asset_id", "modality", "payload", "meta"))
    // the same columns and types as the assets the mm_* queries decode
    val live = SynthAssets.images(Seq(1L).toDF("id"), "id")
    assert(assets.schema.catalogString == live.schema.catalogString)
  }

  // --- minimal ISO-BMFF fixture builders (real box grammar, no codec) ---
  private def box(typ: String, body: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(body.length + 8)
    bb.putInt(body.length + 8).put(typ.getBytes("ISO-8859-1")).put(body)
    bb.array()
  }
  private def ftyp: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12)
    bb.put("isom".getBytes("ISO-8859-1")).putInt(512)
      .put("mp41".getBytes("ISO-8859-1"))
    box("ftyp", bb.array())
  }
  private def mvhdV0(timescale: Int, duration: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(100) // full v0 body incl. matrix
    bb.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(duration)
    box("mvhd", bb.array())
  }
  private def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(112) // v1: 64-bit times
    bb.putInt(0x01000000).putLong(0L).putLong(0L).putInt(timescale)
      .putLong(duration)
    box("mvhd", bb.array())
  }
  private def tkhdV0(w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(84)
    bb.putInt(0x00000007).putInt(0).putInt(0).putInt(1).putInt(0).putInt(0)
    bb.position(76)
    bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed-point display size
    box("tkhd", bb.array())
  }
  private def mp4(w: Int, h: Int, timescale: Int, duration: Int,
                  v1: Boolean = false): Array[Byte] = {
    val mvhd = if (v1) mvhdV1(timescale, duration.toLong)
               else mvhdV0(timescale, duration)
    val audioTrak = box("trak", tkhdV0(0, 0)) // audio tracks are 0x0
    val videoTrak = box("trak", tkhdV0(w, h))
    ftyp ++ box("moov", mvhd ++ audioTrak ++ videoTrak)
  }

  test("decodeVideo reads mvhd duration and tkhd size from real BMFF bytes") {
    val rows = Seq(
      (1L, mp4(640, 360, 1000, 5000)),            // 5 s, v0 boxes
      (2L, mp4(1920, 1080, 90000, 90000 * 7, v1 = true)), // 7 s, v1 mvhd
      (3L, "definitely not a video".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt",
        modality = "video")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val out = Multimodal.decodeVideo(df)
      .select($"asset_id", $"meta.mime", $"meta.width", $"meta.height",
        $"meta.duration_ms")
      .as[(Long, String, Option[Int], Option[Int], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(1L) == (("video/mp4", Some(640), Some(360), Some(5000L))))
    assert(out(2L) == (("video/mp4", Some(1920), Some(1080), Some(7000L))))
    // non-BMFF bytes: octet-stream mime, all metadata null
    assert(out(3L)._1 == "application/octet-stream" && out(3L)._2.isEmpty &&
      out(3L)._4.isEmpty)
    // null payload: metadata stays null, original mime kept
    assert(out(4L)._2.isEmpty && out(4L)._4.isEmpty)
  }

  test("SynthAssets.mp4Bytes: real BMFF container, id-keyed metadata roundtrip") {
    // the synthesized MP4 must decode through the SAME walker the
    // driver-visible mm_mp4_metadata query uses, to the values the
    // python cross-derivation (tools/gen_mp4_golden.py) predicts for
    // these ids — asset_id 0 pins (240, 160, 45437) in both worlds
    val df = SynthAssets.mp4s(Seq((0L, ""), (7L, ""), (14L, ""))
      .toDF("doc_id", "x"), "doc_id")
    val out = Multimodal.decodeVideo(df)
      .select($"asset_id", $"meta.mime", $"meta.width", $"meta.height",
        $"meta.duration_ms")
      .as[(Long, String, Option[Int], Option[Int], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(out(0L) == (("video/mp4", Some(240), Some(160), Some(45437L))))
    assert(out(7L) == (("video/mp4", Some(272), Some(96), Some(37406L))))
    assert(out(14L) == (("video/mp4", Some(176), Some(176), Some(23634L))))
    // a truncated container keeps the parser's no-throw contract
    val cut = SynthAssets.mp4Bytes(0L).take(40)
    val t = Multimodal.decodeVideo(Seq((9L, "video", cut))
        .toDF("asset_id", "modality", "payload")
        .withColumn("meta", org.apache.spark.sql.functions.struct(
          lit(null).cast("string").as("mime"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms"))))
      .select($"meta.width").as[Option[Int]].head()
    assert(t.isEmpty)
  }

  test("decodeVideo survives malformed/truncated boxes without throwing") {
    val truncated = mp4(640, 360, 1000, 5000).take(40) // cut mid-moov
    val lyingSize = {
      val b = mp4(640, 360, 1000, 5000)
      val bb = java.nio.ByteBuffer.wrap(b)
      bb.putInt(20, Int.MaxValue) // moov (at 20, after 20-byte ftyp) claims a size past the buffer
      b
    }
    val rows = Seq((1L, truncated), (2L, lyingSize))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt",
        modality = "video")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val out = Multimodal.decodeVideo(df)
      .select($"asset_id", $"meta.mime").as[(Long, String)].collect().toMap
    assert(out(1L) == "video/mp4") // ftyp intact → mime still sniffed
    assert(out(2L) == "video/mp4")
  }

  test("imagePhash: stable across lossless re-encode, near across JPEG, " +
    "distant across different images, null on junk") {
    // structured fixture: smooth gradient + a dark block (JPEG preserves
    // the low frequencies pHash reads)
    def scene(block: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        96, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 96) {
        val base = (x * 255) / 95
        val v = if (block && x > 50 && y > 30) base / 4 else base
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val a = scene(block = true)
    val rows = Seq(
      (1L, enc(a, "png")),
      (2L, enc(a, "bmp")),            // lossless re-encode of the SAME pixels
      (3L, enc(a, "jpg")),            // lossy re-encode
      (4L, enc(scene(false), "png")), // different image
      (5L, "junk".getBytes("UTF-8")),
      (6L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val ph = Multimodal.imagePhash(df)
      .select("asset_id", "phash").as[(Long, Option[Long])].collect().toMap
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    // lossless: identical pixels → identical hash
    assert(ph(1L).get == ph(2L).get)
    // lossy: same scene → within a few bits
    assert(ham(ph(1L).get, ph(3L).get) <= 6,
      s"jpeg hamming ${ham(ph(1L).get, ph(3L).get)}")
    // different scene → far
    assert(ham(ph(1L).get, ph(4L).get) >= 10,
      s"distinct-image hamming ${ham(ph(1L).get, ph(4L).get)}")
    // junk / null payloads → null hash
    assert(ph(5L).isEmpty && ph(6L).isEmpty)
  }

  test("resizeImage: output decodes at target dims, junk/null pass as null") {
    def enc(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / math.max(w - 1, 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val rows = Seq(
      (1L, enc(96, 64)),
      (2L, enc(8, 8)),   // upscale path
      (3L, "junk".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val out = Multimodal.resizeImage(df, 32, 16)
      .select($"asset_id", $"payload", $"meta.width", $"meta.height")
      .as[(Long, Array[Byte], Option[Int], Option[Int])].collect()
      .map(r => r._1 -> r).toMap
    for (id <- Seq(1L, 2L)) {
      val (_, bytes, w, h) = out(id)
      assert(w.contains(32) && h.contains(16))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img.getWidth == 32 && img.getHeight == 16)
    }
    // the gradient survives the resample: left edge darker than right —
    // in BOTH directions (the upscale path must leave no unfilled cells)
    for (id <- Seq(1L, 2L)) {
      val im = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(out(id)._2))
      assert((im.getRGB(0, 8) & 0xFF) < (im.getRGB(31, 8) & 0xFF),
        s"asset $id gradient lost")
      // no black holes mid-gradient on the upscale
      assert((im.getRGB(16, 8) & 0xFF) > 0, s"asset $id unfilled cell")
    }
    assert(out(3L)._2 == null && out(3L)._3.isEmpty)
    assert(out(4L)._2 == null)
  }

  test("audioFeatures: spectral centroid tracks the tone, stable across " +
    "WAV/AIFF re-encode, null on junk") {
    import javax.sound.sampled._
    val rate = 16000f
    def tone(hz: Double, fileType: AudioFileFormat.Type): Array[Byte] = {
      val n = 16384
      val samples = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val v = (math.sin(2 * math.Pi * hz * i / rate) * 12000).toInt
        samples(i * 2) = (v & 0xFF).toByte        // little-endian source
        samples(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
      }
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, n)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, fileType, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, tone(1000, AudioFileFormat.Type.WAVE)),
      (2L, tone(1000, AudioFileFormat.Type.AIFF)),  // same samples, other container
      (3L, tone(4000, AudioFileFormat.Type.WAVE)),  // higher tone
      (4L, "junk".getBytes("UTF-8")),
      (5L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt",
        modality = "audio")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val f = Multimodal.audioFeatures(df)
      .select("asset_id", "features").as[(Long, Option[Seq[Float]])]
      .collect().toMap
    assert(f(1L).get.length == 12)
    // centroid is a fraction of Nyquist (8 kHz): 1 kHz tone → ~0.125
    val c1k = f(1L).get(2)
    assert(math.abs(c1k - 0.125) < 0.02, s"centroid $c1k")
    val c4k = f(3L).get(2)
    assert(math.abs(c4k - 0.5) < 0.04, s"centroid $c4k")
    // same samples in a different PCM container → identical features
    assert(f(1L).get == f(2L).get)
    assert(f(4L).isEmpty && f(5L).isEmpty)
  }

  // --- minimal MJPEG-in-AVI fixture builder (real RIFF grammar: little-
  // endian sizes, even-offset padding, LIST hdrl with avih + LIST movi
  // with 00dc JPEG chunks — the layout a real muxer writes) ---
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length & 1
    val bb = java.nio.ByteBuffer.allocate(8 + body.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(id.getBytes("ISO-8859-1")).putInt(body.length).put(body)
    bb.array()
  }
  private def riffList(listType: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", listType.getBytes("ISO-8859-1") ++ body)
  private def avih(w: Int, h: Int, usPerFrame: Int, frames: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(usPerFrame).putInt(0).putInt(0).putInt(0).putInt(frames)
    bb.position(32); bb.putInt(w).putInt(h)
    riffChunk("avih", bb.array())
  }
  private def mjpegAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
                       usPerFrame: Int = 40000): Array[Byte] = {
    val hdrl = riffList("hdrl", avih(w, h, usPerFrame, frames.size))
    val movi = riffList("movi",
      frames.flatMap(f => riffChunk("00dc", f)).toArray)
    "RIFF".getBytes("ISO-8859-1") ++ {
      val body = "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(body.length).array() ++ body
    }
  }
  private def solidJpeg(rgb: Int, w: Int = 64, h: Int = 48): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, rgb + ((x * 80 / w) << 16)) // gradient: non-trivial DCT
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    bos.toByteArray
  }

  test("videoFrames extracts the MJPEG JPEGs; each feeds imagePhash") {
    val f1 = solidJpeg(0x000040); val f2 = solidJpeg(0x004000)
    val f3 = solidJpeg(0x400000)
    val avi = mjpegAvi(Seq(f1, f2, f3), 64, 48)
    val rows = Seq((1L, avi), (2L, "not a container".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val got = Multimodal.videoFrames(df, n = 8)
      .select("asset_id", "frames")
      .as[(Long, Option[Seq[Array[Byte]]])].collect().toMap
    assert(got(1L).get.size == 3)
    assert(got(1L).get.map(_.toSeq) == Seq(f1, f2, f3).map(_.toSeq))
    assert(got(2L).get.isEmpty) // non-AVI → empty, declared
    assert(got(3L).isEmpty)     // null payload → null
    // an extracted frame IS a JPEG: the image path hashes it directly
    val frameDf = Seq((10L, got(1L).get.head)).toDF("asset_id", "payload")
    val ph = Multimodal.imagePhash(frameDf)
      .select("phash").as[Option[Long]].head()
    assert(ph.isDefined)
    // even sampling caps the frame count
    val two = Multimodal.videoFrames(df, n = 2)
      .select("asset_id", "frames")
      .as[(Long, Option[Seq[Array[Byte]]])].collect().toMap
    assert(two(1L).get.size == 2)
  }

  test("videoFeatures: real 64-dim MJPEG embedding — deterministic, " +
    "discriminative, null off-contract") {
    val aviA = mjpegAvi(Seq(solidJpeg(0x000040), solidJpeg(0x000060)), 64, 48)
    val aviA2 = mjpegAvi( // re-mux with an extra near-identical frame
      Seq(solidJpeg(0x000040), solidJpeg(0x000060), solidJpeg(0x000050)), 64, 48)
    val aviB = mjpegAvi(Seq(solidJpeg(0xC0C0C0), solidJpeg(0xF0F0F0)), 64, 48)
    val rows = Seq((1L, aviA), (2L, aviA2), (3L, aviB),
      (4L, "junk".getBytes("UTF-8")), (5L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val feats = Multimodal.videoFeatures(df)
      .select("asset_id", "features")
      .as[(Long, Option[Seq[Float]])].collect().toMap
    assert(feats(1L).get.size == 64)
    assert(feats(4L).isEmpty && feats(5L).isEmpty) // no fabricated vectors
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map(p => p._1.toDouble * p._2).sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    // near-dup videos (same scene, re-muxed) ≫ different scenes in cosine
    val near = cos(feats(1L).get, feats(2L).get)
    val far = cos(feats(1L).get, feats(3L).get)
    assert(near > 0.99, s"near-dup cosine $near")
    assert(near > far, s"near $near !> far $far")
    // deterministic: same payload → identical vector
    val again = Multimodal.videoFeatures(df).filter($"asset_id" === 1L)
      .select("features").as[Option[Seq[Float]]].head()
    assert(again.get == feats(1L).get)
  }

  test("decodeVideo reads AVI avih width/height/duration via the RIFF walker") {
    val avi = mjpegAvi(Seq(solidJpeg(0x102030)), 64, 48, usPerFrame = 40000)
    val rows = Seq((1L, avi))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val meta = Multimodal.decodeVideo(df)
      .select("meta.mime", "meta.width", "meta.height", "meta.duration_ms")
      .as[(String, Option[Int], Option[Int], Option[Long])].head()
    assert(meta == (("video/x-msvideo", Some(64), Some(48), Some(40L))))
  }

  test("mp4Features: real stbl facts, null for non-MP4, mux↔parse roundtrip") {
    // synthesized MP4s carry a real sample table; features must be
    // 4+8 wide with n_samples/sync_ratio/mean/std matching the known
    // generator arithmetic for this id
    val mp4 = Seq((5L, SynthAssets.mp4Bytes(5L)),
      (6L, "not a video".getBytes("UTF-8")),
      (7L, null.asInstanceOf[Array[Byte]])).toDF("asset_id", "payload")
    val f = Multimodal.mp4Features(mp4)
      .select("asset_id", "features").as[(Long, Option[Seq[Float]])]
      .collect().toMap
    assert(f(6L).isEmpty && f(7L).isEmpty) // never fabricate features
    val feats = f(5L).get
    assert(feats.length == 12)
    val Some((sizes, syncs)) = Multimodal.Bmff.sampleTable(SynthAssets.mp4Bytes(5L))
    assert(feats(0) == sizes.length.toFloat)
    assert(feats(1) == syncs.length.toFloat / sizes.length)
    val mean = sizes.map(_.toDouble).sum / sizes.length
    assert(feats(2) == mean.toFloat)
    assert(sizes.forall(s => s >= 200 && s < 1000)) // generator range
    assert(syncs.head == 1 && syncs.forall(s => s >= 1 && s <= sizes.length))
    // per ISO §8.6.2: absent stss = every sample is sync (ratio 1)
    val noStss = {
      val b = SynthAssets.mp4Bytes(5L)
      // blank the stss fourcc so the walker skips it
      val i = b.indexOfSlice("stss".getBytes("ISO-8859-1"))
      val c = b.clone(); c(i) = 'f'.toByte; c(i + 1) = 'r'.toByte; c
    }
    val f2 = Multimodal.mp4Features(
        Seq((1L, noStss)).toDF("asset_id", "payload"))
      .select("features").as[Option[Seq[Float]]].head().get
    assert(f2(1) == 1.0f)
  }

  test("sampleTable pairs stsz/stss within ONE trak (multi-track MP4)") {
    // a typical H.264+AAC layout: audio trak FIRST with a per-sample
    // stsz and no stss, video trak second with both. The table must be
    // the video trak's — pairing the first stsz and first stss found
    // anywhere in the file would return audio sizes with video keyframe
    // numbers, a nonsense signature.
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(typ.getBytes("ISO-8859-1")).put(body)
      bb.array()
    }
    def stsz(sizes: Array[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 4 * sizes.length)
      bb.putInt(0).putInt(0).putInt(sizes.length)
      sizes.foreach(bb.putInt)
      box("stsz", bb.array())
    }
    def stss(syncs: Array[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + 4 * syncs.length)
      bb.putInt(0).putInt(syncs.length)
      syncs.foreach(bb.putInt)
      box("stss", bb.array())
    }
    def trak(stbl: Array[Byte]): Array[Byte] =
      box("trak", box("mdia", box("minf", box("stbl", stbl))))
    val ftyp = box("ftyp",
      "isom".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 0, 0) ++
        "isomiso2".getBytes("ISO-8859-1"))
    val audioSizes = Array(11, 12, 13, 14, 15)
    val videoSizes = Array(900, 300, 310, 920, 305)
    val videoSyncs = Array(1, 4)
    val multi = ftyp ++ box("moov",
      trak(stsz(audioSizes)) ++ trak(stsz(videoSizes) ++ stss(videoSyncs)))
    val Some((sizes, syncs)) = Multimodal.Bmff.sampleTable(multi)
    assert(sizes.toSeq == videoSizes.toSeq, "must be the stss trak's sizes")
    assert(syncs.toSeq == videoSyncs.toSeq)
    // no trak carries an stss → first per-sample stsz wins (absent
    // stss = every sample is sync, ISO §8.6.2)
    val noSync = ftyp ++ box("moov",
      trak(stsz(audioSizes)) ++ trak(stsz(videoSizes)))
    val Some((s2, y2)) = Multimodal.Bmff.sampleTable(noSync)
    assert(s2.toSeq == audioSizes.toSeq && y2.isEmpty)
  }

  test("decodeImage reads real PNG/JPEG dimensions from bytes") {
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF0000)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val rows = Seq(
      (1L, encode(2, 2, "png")),
      (2L, encode(3, 5, "jpg")),
      (3L, "not an image at all".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val out = Multimodal.decodeImage(df)
      .select($"asset_id", $"meta.mime", $"meta.width", $"meta.height")
      .as[(Long, String, Option[Int], Option[Int])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (("image/png", Some(2), Some(2))))
    assert(out(2L) == (("image/jpeg", Some(3), Some(5))))
    // undecodable bytes: octet-stream mime, null dims
    assert(out(3L)._1 == "application/octet-stream" && out(3L)._2.isEmpty)
    // null payload: dims stay null, original mime kept
    assert(out(4L)._2.isEmpty && out(4L)._3.isEmpty)
  }

  test("decodeAudio reads real WAV duration from bytes") {
    import javax.sound.sampled._
    def wav(sampleRate: Float, nFrames: Int): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
      val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
      var i = 0
      while (i < nFrames) { // quiet sine so the payload isn't all zeros
        val v = (math.sin(i * 0.05) * 2000).toInt
        pcm(2 * i) = (v & 0xFF).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, wav(8000f, 4000)),   // 500 ms
      (2L, wav(16000f, 24000)), // 1500 ms
      (3L, "definitely not audio".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
    val df = fromText(
        rows.map { case (id, _) => (id, "") }.toDF("id", "txt"), "id", "txt",
        modality = "audio")
      .drop("payload")
      .join(rows.toDF("asset_id", "payload"), "asset_id")
    val out = Multimodal.decodeAudio(df)
      .select($"asset_id", $"meta.mime", $"meta.duration_ms", $"meta.width")
      .as[(Long, String, Option[Long], Option[Int])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (("audio/wav", Some(500L), None)))
    assert(out(2L) == (("audio/wav", Some(1500L), None)))
    // undecodable bytes: octet-stream mime, null duration
    assert(out(3L)._1 == "application/octet-stream" && out(3L)._2.isEmpty)
    // null payload: duration stays null, original mime kept
    assert(out(4L)._2.isEmpty)
  }
}
