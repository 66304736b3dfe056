package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import graft.operators.{ImageIoDecoder, JvmMediaDecoder, MediaSynth, Multimodal}

/** Golden spec for the pure-JVM video codec (JvmMediaDecoder): a REAL
  * AVI/MJPEG container is written byte-by-byte here from ImageIO-encoded
  * JPEG frames, then parsed, frame-decoded, hashed, and keyframe-ranked
  * through the production operators. MP4 metadata parsing is pinned on
  * a handcrafted moov/trak/tkhd box tree.
  */
class VideoDecoderSpec extends SparkTestBase {
  import spark.implicits._

  private def jpegFrame(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    out.toByteArray
  }

  private def mjpegAvi(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] =
    MediaSynth.mjpegAvi(w, h, frames)

  private def mp4(w: Int, h: Int): Array[Byte] = MediaSynth.mp4(w, h)

  // frame 0/2: flat gray (variance ~0); frame 1: checkerboard (high
  // variance — the keyframe); frame 3: gradient (mid variance)
  private val w0 = 64; private val h0 = 48
  private lazy val flat = jpegFrame(w0, h0)((_, _) => 0x808080)
  private lazy val checker = jpegFrame(w0, h0)((x, y) =>
    if (((x / 8) + (y / 8)) % 2 == 0) 0xffffff else 0x000000)
  private lazy val gradient = jpegFrame(w0, h0)((x, _) => {
    val v = x * 255 / (w0 - 1); (v << 16) | (v << 8) | v
  })
  private lazy val avi = mjpegAvi(w0, h0, Seq(flat, checker, flat, gradient))

  test("AVI/MJPEG: header metadata, frame extraction, per-frame decode") {
    val m = JvmMediaDecoder.decode(avi)
    assert(m.format == "mjpeg" && m.width == w0 && m.height == h0)
    val fs = JvmMediaDecoder.frames(avi).toSeq
    assert(fs.length == 4)
    // every extracted frame is a standalone JPEG the image codec decodes
    fs.foreach { f =>
      val fm = ImageIoDecoder.decode(f)
      assert(fm.format == "jpeg" && fm.width == w0 && fm.height == h0)
    }
    // container phash = first frame's aHash
    assert(JvmMediaDecoder.phash(avi) == ImageIoDecoder.phash(fs.head))
  }

  test("MP4: tkhd metadata parses, no frames claimed") {
    val m = JvmMediaDecoder.decode(mp4(1920, 1080))
    assert(m.format == "mp4" && m.width == 1920 && m.height == 1080)
    assert(JvmMediaDecoder.frames(mp4(1920, 1080)).isEmpty)
  }

  test("stills are one-frame videos; garbage is total") {
    val png = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
    }
    assert(JvmMediaDecoder.frames(png).size == 1)
    assert(JvmMediaDecoder.decode(png).format == "png")
    val junk = Array.tabulate[Byte](100)(i => (i * 7).toByte)
    assert(JvmMediaDecoder.decode(junk).format == "unknown")
    assert(JvmMediaDecoder.frames(junk).size == 1) // still-image fallback path
    assert(JvmMediaDecoder.phash(junk) != 0L)
  }

  test("corrupt AVI chunk sizes never loop or throw") {
    // a negative LE32 size (-8 makes the walker advance by zero; -9
    // moves it backwards) must degrade to unknown/no-frames, not hang
    val evil = MediaSynth.cc("RIFF") ++ MediaSynth.le32(64) ++
      MediaSynth.cc("AVI ") ++ MediaSynth.cc("LIST") ++ MediaSynth.le32(-8) ++
      MediaSynth.cc("hdrl") ++ Array.fill(32)(0.toByte)
    assert(JvmMediaDecoder.decode(evil).format == "unknown")
    assert(JvmMediaDecoder.frames(evil).isEmpty)
    // corrupt size INSIDE the movi frame walk
    val evil2 = {
      val movi = MediaSynth.cc("LIST") ++ MediaSynth.le32(40) ++
        MediaSynth.cc("movi") ++ MediaSynth.cc("00dc") ++ MediaSynth.le32(-9) ++
        Array.fill(24)(1.toByte)
      val avih = MediaSynth.chunk("avih", Array.fill(56)(0.toByte))
      val body = MediaSynth.cc("AVI ") ++ MediaSynth.list("hdrl", avih) ++ movi
      MediaSynth.cc("RIFF") ++ MediaSynth.le32(body.length) ++ body
    }
    assert(JvmMediaDecoder.frames(evil2).isEmpty)
  }

  test("overflow-sized chunks (0x7FFFFFFF) never wrap offsets or throw") {
    // r7 advice: a size field near 2^31 made `o += 8 + sz + (sz & 1)`
    // wrap Int negative while the loop guard still passed → negative
    // array index. Every parser must bail on a size past the buffer.
    val big = 0x7FFFFFFF
    // top-level AVI chunk walk
    val evilAvi = MediaSynth.cc("RIFF") ++ MediaSynth.le32(64) ++
      MediaSynth.cc("AVI ") ++ MediaSynth.cc("JUNK") ++ MediaSynth.le32(big) ++
      Array.fill(32)(0.toByte)
    assert(JvmMediaDecoder.decode(evilAvi).format == "unknown")
    assert(JvmMediaDecoder.frames(evilAvi).isEmpty)
    // inside the hdrl LIST (the psz walk)
    val evilHdrl = MediaSynth.cc("RIFF") ++ MediaSynth.le32(64) ++
      MediaSynth.cc("AVI ") ++ MediaSynth.cc("LIST") ++ MediaSynth.le32(40) ++
      MediaSynth.cc("hdrl") ++ MediaSynth.cc("strl") ++ MediaSynth.le32(big) ++
      Array.fill(28)(0.toByte)
    assert(JvmMediaDecoder.decode(evilHdrl).format == "unknown")
    // inside the movi frame walk (copyOfRange would have wrapped its end)
    val evilMovi = {
      val movi = MediaSynth.cc("LIST") ++ MediaSynth.le32(40) ++
        MediaSynth.cc("movi") ++ MediaSynth.cc("00dc") ++ MediaSynth.le32(big) ++
        Array.fill(24)(1.toByte)
      val avih = MediaSynth.chunk("avih", Array.fill(56)(0.toByte))
      val body = MediaSynth.cc("AVI ") ++ MediaSynth.list("hdrl", avih) ++ movi
      MediaSynth.cc("RIFF") ++ MediaSynth.le32(body.length) ++ body
    }
    assert(JvmMediaDecoder.frames(evilMovi).isEmpty)
    // MP4 box walk: a be32 size past the end (`o += sz` wrap site)
    val evilMp4 = MediaSynth.be32(big) ++ MediaSynth.cc("ftyp") ++
      Array.fill(24)(0.toByte)
    val m = JvmMediaDecoder.decode(evilMp4)
    assert(m.format == "mp4" && m.width == 0 && m.height == 0)
    assert(JvmMediaDecoder.frames(evilMp4).isEmpty)
  }

  test("decoder is total over 10k random and structure-prefixed fuzz payloads") {
    // the 100 TB contract: ANY bytes → metadata/phash/frames return,
    // never throw, never loop. Seeded fuzz: pure noise at several
    // sizes, plus noise stamped with the magic prefixes so every
    // parser's deep path runs on garbage tails
    val rnd = new scala.util.Random(1234)
    val prefixes = Seq[Array[Byte]](
      Array.empty,
      MediaSynth.cc("RIFF") ++ MediaSynth.le32(1 << 20) ++ MediaSynth.cc("AVI "),
      MediaSynth.be32(24) ++ MediaSynth.cc("ftyp"),
      Array(0xFF.toByte, 0xD8.toByte), // JPEG SOI
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    var n = 0
    for (_ <- 0 until 500; pre <- prefixes) {
      val body = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(body)
      val payload = pre ++ body
      val m = JvmMediaDecoder.decode(payload) // must return, never throw
      assert(m != null)
      JvmMediaDecoder.phash(payload)
      // frames is lazy — force a bounded number of elements
      JvmMediaDecoder.frames(payload).take(4).foreach(f => assert(f != null))
      n += 1
    }
    assert(n == 2500)
  }

  test("a swapped-in FrameDecoder (the ffmpeg seam) drives the frame operators") {
    // the production contract an ffmpeg-backed decoder would fulfil:
    // a DIFFERENT FrameDecoder injected into frameSampleDecoded must
    // (a) actually be used — this fake yields
    // frames for MP4 payloads where JvmMediaDecoder is metadata-only —
    // (b) keep the output schema, and (c) serialize to executor tasks.
    // No real H.264 codec exists in this environment; the fake stands
    // in for the seam, with deterministic integer frame synthesis.
    object FakeH264Decoder extends graft.operators.FrameDecoder {
      override def decoderInit(): Unit = ()
      override def decode(p: Array[Byte]): graft.operators.MediaDecoder.Meta =
        graft.operators.MediaDecoder.Meta("h264", 16, 16, p.length.toLong)
      override def phash(p: Array[Byte]): Long =
        p.foldLeft(7L)((h, b) => h * 31 + b)
      // "decodes" 6 frames per payload: frame i is the payload plus an
      // index byte — distinct, deterministic, independently hashable
      override def frames(p: Array[Byte]): Iterator[Array[Byte]] =
        if (p == null || p.isEmpty) Iterator.empty
        else (0 until 6).iterator.map(i => p :+ i.toByte)
      override def frameScore(f: Array[Byte]): Long =
        (f.last & 0xff).toLong * 100 // later frames "busier"
    }
    val docs = Seq((1L, mp4(320, 240)), (2L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    // the default decoder yields nothing for MP4 — the fake yields 6
    val base = Multimodal.frameSampleDecoded(docs, stride = 1)
    assert(base.filter("doc_id = 1").count() == 0)
    val out = Multimodal.frameSampleDecoded(docs, FakeH264Decoder, stride = 2)
    assert(out.columns.toSeq ==
      Seq("doc_id", "frame_idx", "frame_phash", "score"))
    val got = out.filter("doc_id = 1").orderBy("frame_idx").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L), "stride broke")
  }

  test("frameSampleDecoded runs the real codec through Spark") {
    val docs = Seq((7L, avi), (8L, mp4(640, 480))).toDF("doc_id", "payload")
    val sampled = Multimodal.frameSampleDecoded(docs, JvmMediaDecoder, stride = 1)
      .orderBy("doc_id", "frame_idx").collect()
    // mp4 yields no frames (metadata-only); avi yields all 4
    assert(sampled.map(_.getLong(0)).distinct.toSeq == Seq(7L))
    assert(sampled.length == 4)
    val scores = sampled.map(r => r.getLong(1) -> r.getLong(3)).toMap
    // checkerboard (frame 1) must out-score the flat frames by a wide margin
    assert(scores(1L) > 100L * math.max(1L, scores(0L)))
    assert(scores(1L) > scores(3L) && scores(3L) > scores(0L))
  }
}
