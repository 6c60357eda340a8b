package graft.multimodal

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import Multimodal._

  private lazy val media = syntheticMedia(spark, 30)

  test("decode produces w*h*3 pixel buffers for images only") {
    val imgs = decodeImages(media).collect()
    assert(imgs.nonEmpty)
    assert(imgs.forall(i => i.pixels.length == i.width * i.height * 3))
    assert(imgs.length == media.collect().count(_.media_type == "image"))
  }

  test("resize yields target shape") {
    val r = resizeImages(decodeImages(media), 4, 4).collect()
    assert(r.forall(i => i.width == 4 && i.height == 4 && i.pixels.length == 48))
  }

  test("features are unit-norm and deterministic across partitionings") {
    val f1 = extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = extractFeatures(media.repartition(7)).collect().sortBy(_.media_id)
    assert(f1.forall(f => math.abs(
      f.embedding.map(x => x.toDouble * x).sum - 1.0) < 1e-3))
    assert(f1.zip(f2).forall { case (a, b) =>
      a.embedding.sameElements(b.embedding) })
  }

  test("frame sampling fans out n frames with even timestamps") {
    val frames = sampleFrames(media, 4).collect()
    val perVid = frames.groupBy(_.media_id)
    assert(perVid.values.forall(_.length == 4))
    val one = perVid.values.head.sortBy(_.frame_index)
    assert(one.head.ts_ms == 0L && one.last.ts_ms == one.last.ts_ms)
    assert(one.map(_.frame_index).toSeq == Seq(0, 1, 2, 3))
  }

  test("repartitionForDecode rebalances by byte size") {
    val df = media.toDF()
    assert(repartitionForDecode(df, mb = 1).rdd.getNumPartitions >= 1)
  }

  test("media features flow into vector similarity ops") {
    import spark.implicits._
    import graft.functions.VecOps._
    import org.apache.spark.sql.functions._
    val f = extractFeatures(media).toDF()
    val sims = f.as("a").join(f.as("b"),
        col("a.media_id") < col("b.media_id"))
      .select(vec_dot(col("a.embedding"), col("b.embedding")).as("sim"))
    assert(sims.count() == 30L * 29 / 2)
    assert(sims.agg(max(abs(col("sim")))).head().getDouble(0) <= 1.0001)
  }

  /** Encode a solid-color image to `fmt` bytes with the JDK encoder. */
  private def encodeImage(fmt: String, w: Int, h: Int,
      rgb: (Int, Int, Int)): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val packed = (rgb._1 << 16) | (rgb._2 << 8) | rgb._3
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, packed)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real PNG/BMP payloads decode to bitstream dims and pixels") {
    import spark.implicits._
    // Declared metadata is deliberately WRONG (1×1): correct output
    // dimensions prove decode read the bytes, not the metadata.
    val rows = Seq(
      MediaRow(100L, "image", "mem://png", encodeImage("png", 6, 4, (255, 0, 0)),
        width = 1, height = 1, duration_ms = 0L),
      MediaRow(101L, "image", "mem://bmp", encodeImage("bmp", 3, 5, (0, 0, 255)),
        width = 1, height = 1, duration_ms = 0L)).toDS()
    val out = decodeImages(rows).collect().sortBy(_.media_id)
    val png = out(0)
    assert(png.width == 6 && png.height == 4 && png.pixels.length == 72)
    assert(png.pixels(0) == -1 && png.pixels(1) == 0 && png.pixels(2) == 0)
    val bmp = out(1)
    assert(bmp.width == 3 && bmp.height == 5 && bmp.pixels.length == 45)
    assert(bmp.pixels(0) == 0 && bmp.pixels(1) == 0 && bmp.pixels(2) == -1)
  }

  test("unparseable payloads fall back to the deterministic stub") {
    import spark.implicits._
    val junk = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    val rows = Seq(MediaRow(200L, "image", "mem://junk", junk,
      width = 4, height = 4, duration_ms = 0L)).toDS()
    val out = decodeImages(rows).collect()
    assert(out.head.width == 4 && out.head.height == 4)
    assert(out.head.pixels.sameElements(StubCodec.decodeImage(junk, 4, 4)))
  }

  /** Hand-built RIFF/WAVE bitstream (16-bit LE PCM) — constructed
    * byte-by-byte, independent of the codec under test. */
  private def wavBytes(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("real WAV payloads decode to bitstream rate/channels/samples") {
    import spark.implicits._
    val monoS = Array[Short](0, 16384, -16384, 32767, -32768, 1000)
    val stereoS = Array[Short](100, -100, 200, -200) // 2 frames interleaved
    // Declared duration_ms is deliberately WRONG: correct rate/frames
    // prove decode read the bitstream, not the metadata.
    val rows = Seq(
      MediaRow(400L, "audio", "mem://wav-mono", wavBytes(8000, 1, monoS),
        width = 0, height = 0, duration_ms = 999999L),
      MediaRow(401L, "audio", "mem://wav-stereo", wavBytes(44100, 2, stereoS),
        width = 0, height = 0, duration_ms = 1L)).toDS()
    val out = decodeAudio(rows).collect().sortBy(_.media_id)
    val mono = out(0)
    assert(mono.sample_rate == 8000 && mono.channels == 1 && mono.n_frames == 6)
    // 16-bit PCM → s/32768 is exact in float: compare bit-for-bit
    assert(mono.samples.sameElements(monoS.map(_ / 32768.0f)))
    val stereo = out(1)
    assert(stereo.sample_rate == 44100 && stereo.channels == 2 &&
      stereo.n_frames == 2)
    assert(stereo.samples.sameElements(stereoS.map(_ / 32768.0f)))
  }

  test("unparseable audio payloads fall back to the deterministic stub") {
    import spark.implicits._
    val junk = Array.tabulate[Byte](50)(i => (i * 13).toByte)
    val rows = Seq(MediaRow(500L, "audio", "mem://junk", junk,
      width = 0, height = 0, duration_ms = 0L)).toDS()
    val out = decodeAudio(rows).collect().head
    assert(out.sample_rate == 8000 && out.channels == 1 && out.n_frames == 64)
    assert(out.samples.sameElements(StubCodec.decodeAudio(junk, 64)))
    assert(out.samples.forall(s => s >= -1.0f && s <= 1.0f))
  }

  test("resize of a real decoded image preserves solid color") {
    import spark.implicits._
    val rows = Seq(MediaRow(300L, "image", "mem://png",
      encodeImage("png", 8, 8, (0, 255, 0)), 1, 1, 0L)).toDS()
    val r = resizeImages(decodeImages(rows), 4, 4).collect().head
    assert(r.width == 4 && r.height == 4 && r.pixels.length == 48)
    assert(r.pixels.grouped(3).forall(p =>
      p(0) == 0 && p(1) == -1 && p(2) == 0))
  }

  // ---- video container probing (Mp4Probe) ----

  /** Build one ISO-BMFF box: 4-byte BE size, fourcc, payload. */
  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val size = payload.length + 8
    val out = java.nio.ByteBuffer.allocate(size)
    out.putInt(size).put(typ.getBytes("ISO-8859-1")).put(payload)
    out.array()
  }
  private def be(i: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(i).array()

  /** Minimal real MP4: ftyp(isom) + moov{mvhd(ts=1000,dur=5000),
    * trak{tkhd(640x360), mdia{hdlr(vide)}}, trak{tkhd, mdia{hdlr(soun)}}}. */
  private def miniMp4: Array[Byte] = {
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1") ++ be(0))
    val mvhd = box("mvhd",
      be(0) ++ be(0) ++ be(0) ++ be(1000) ++ be(5000) ++ new Array[Byte](80))
    def tkhd(w: Int, h: Int) = box("tkhd",
      // v0: ver/flags, creation, mod, track_id, resv, duration,
      // resv(8), layer/alt/vol/resv (8), matrix(36), then 16.16 w/h
      new Array[Byte](4 * 6 + 8 + 8 + 36) ++ be(w << 16) ++ be(h << 16))
    def hdlr(kind: String) = box("hdlr",
      be(0) ++ be(0) ++ kind.getBytes("ISO-8859-1") ++ new Array[Byte](13))
    val trakV = box("trak", tkhd(640, 360) ++ box("mdia", hdlr("vide")))
    val trakA = box("trak", tkhd(0, 0) ++ box("mdia", hdlr("soun")))
    ftyp ++ box("moov", mvhd ++ trakV ++ trakA)
  }

  test("Mp4Probe reads brand/duration/dims/tracks from the bitstream") {
    val m = Mp4Probe.probe(miniMp4).get
    assert(m.majorBrand == "isom")
    assert(m.durationMs == 5000L) // 5000 ticks at timescale 1000
    assert(m.width == 640 && m.height == 360)
    assert(m.nTracks == 2 && m.hasVideo && m.hasAudio)
  }

  test("Mp4Probe rejects corrupt and non-BMFF payloads") {
    val good = miniMp4
    // corrupt the moov size field -> box overruns the buffer
    val bad = good.clone()
    bad(good.indexOfSlice("moov".getBytes("ISO-8859-1")) - 4) = 0x7f
    assert(Mp4Probe.probe(bad).isEmpty)
    // random bytes (every synthetic payload) are structurally invalid
    assert(syntheticMedia(spark, 30).collect()
      .forall(r => Mp4Probe.probe(r.bytes).isEmpty))
    // structurally valid boxes that are not BMFF (no ftyp, no mvhd)
    assert(Mp4Probe.probe(box("free", new Array[Byte](16))).isEmpty)
  }

  test("probeVideos: bitstream metadata when parseable, declared fallback") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(600L, "video", "mem://real.mp4", miniMp4, 0, 0, 0L),
      MediaRow(601L, "video", "mem://junk", Array.tabulate[Byte](64)(i => (i * 7).toByte),
        width = 320, height = 240, duration_ms = 777L)).toDS()
    val out = probeVideos(rows).collect().sortBy(_.media_id)
    assert(out(0).container_parsed && out(0).major_brand == "isom" &&
      out(0).duration_ms == 5000L && out(0).width == 640 &&
      out(0).height == 360 && out(0).n_tracks == 2 &&
      out(0).has_video && out(0).has_audio)
    assert(!out(1).container_parsed && out(1).duration_ms == 777L &&
      out(1).width == 320 && out(1).height == 240)
  }

  test("sampleFrames timestamps follow the container's real duration") {
    import spark.implicits._
    // declared duration lies (9999); the bitstream says 5000 ms
    val rows = Seq(MediaRow(700L, "video", "mem://real.mp4", miniMp4,
      width = 4, height = 4, duration_ms = 9999L)).toDS()
    val frames = sampleFrames(rows, 3).collect().sortBy(_.frame_index)
    assert(frames.map(_.ts_ms).toSeq == Seq(0L, 2500L, 5000L))
  }

  /** An animated GIF written through ImageIO's sequence writer: one
    * solid-color frame per entry, each stamped with a real
    * GraphicControlExtension delay (centiseconds). */
  private def animatedGif(colors: Seq[java.awt.Color], w: Int, h: Int,
      delayCs: Int): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val baos = new java.io.ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    colors.foreach { c =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(c); g.fillRect(0, 0, w, h); g.dispose()
      val param = writer.getDefaultWriteParam
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = new IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", delayCs.toString)
      gce.setAttribute("transparentColorIndex", "0")
      tree.appendChild(gce)
      meta.setFromTree(fmt, tree)
      writer.writeToSequence(new IIOImage(img, null, meta), param)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    baos.toByteArray
  }

  test("animated GIF frames decode to REAL pixels with REAL timestamps") {
    import spark.implicits._
    val red = new java.awt.Color(255, 0, 0)
    val green = new java.awt.Color(0, 255, 0)
    val blue = new java.awt.Color(0, 0, 255)
    val gif = animatedGif(Seq(red, green, blue), 2, 2, delayCs = 10)
    val rows = Seq(MediaRow(800L, "video", "mem://anim.gif", gif,
      width = 2, height = 2, duration_ms = 9999L)).toDS()
    val frames = sampleFrames(rows, 3).collect().sortBy(_.frame_index)
    assert(frames.length == 3)
    // real per-frame presentation times from the GCE delays (100 ms each)
    assert(frames.map(_.ts_ms).toSeq == Seq(0L, 100L, 200L))
    // real pixel planes: each frame is its solid color, bit-exact
    def solid(r: Int, g: Int, b: Int) =
      Array.fill(4)(Array(r.toByte, g.toByte, b.toByte)).flatten
    assert(frames(0).pixels.sameElements(solid(255, 0, 0)))
    assert(frames(1).pixels.sameElements(solid(0, 255, 0)))
    assert(frames(2).pixels.sameElements(solid(0, 0, 255)))
  }

  test("JvmGifFrames rejects non-GIF payloads (mp4, junk) → stub fallback") {
    assert(JvmGifFrames.decode(miniMp4).isEmpty)
    assert(JvmGifFrames.decode(Array.tabulate[Byte](64)(i => (i * 3).toByte)).isEmpty)
    // a 5-frame gif sampled at n=2 picks the first and last frames
    val gif = animatedGif(Seq.fill(5)(new java.awt.Color(10, 20, 30)), 2, 2, 5)
    val frames = JvmGifFrames.decode(gif).get
    assert(frames.size == 5)
    assert(frames.map(_.tsMs) == Vector(0L, 50L, 100L, 150L, 200L))
  }
}
