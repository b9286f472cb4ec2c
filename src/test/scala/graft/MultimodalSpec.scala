package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.Media

/** Multimodal plumbing: schemas, determinism, explode shape, and plan
  * narrowness (no shuffle) for the binary-payload operators.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  private implicit val s: org.apache.spark.sql.SparkSession = spark

  private def media = Seq(
    Media(1L, "image", "payload-one-bytes".getBytes),
    Media(2L, "image", "payload-two-bytes!!".getBytes),
    Media(3L, "video", Array.fill(300)(7.toByte))
  ).toDS()

  private def encodeImage(w: Int, h: Int, imgType: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("imageDct decodes an 8x8 PNG to the same pHash as its BMP twin") {
    import java.awt.image.BufferedImage
    val px = Multimodal.pixelBytes(7L)
    val gray = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (k <- 0 until 64) gray.setRGB(k % 8, k / 8, px(k) * 0x010101)
    val png = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gray, "png", png), "no png writer")
    val ds = Seq(
      Media(10L, "image", png.toByteArray),
      Media(11L, "image", Multimodal.encodeBmp8x8(7L)),
      Media(12L, "image", encodeImage(320, 200, BufferedImage.TYPE_INT_RGB, "png")),
      Media(13L, "image", "not an image".getBytes)
    ).toDS()
    val d = Multimodal.imageDct(ds).collect().map(r => r.doc_id -> r).toMap
    assert(d(10L).real_decode && d(11L).real_decode)
    assert((d(10L).phash, d(10L).dc) === ((d(11L).phash, d(11L).dc)))
    // cosQ(0)(x) = 2^15 for every x, so DC = Σ pixels · 2^30
    assert(d(10L).dc === px.map(_.toLong).sum << 30)
    // decodable but not 8×8, and undecodable: the labeled stub
    assert(!d(12L).real_decode && !d(13L).real_decode)
  }

  test("REAL audio features: hand-built PCM samples yield hand-computed features") {
    import javax.sound.sampled._
    // explicit samples with hand-computable features
    def wavOf(samples: Array[Int], channels: Int = 1): Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, channels, true, false)
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val in = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
        samples.length.toLong / channels)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val alternating = Array(100, -200, 300, -400, 500, -600, 700, -800)
    // stereo: L channel = alternating, R channel = junk the op must skip
    val stereo = alternating.flatMap(s => Array(s, 31999))
    val ds = Seq(
      Media(30L, "audio", wavOf(alternating)),
      Media(31L, "audio", wavOf(stereo, channels = 2)),
      Media(32L, "audio", "definitely not a wav".getBytes), // stub
      Media(33L, "video", wavOf(alternating))               // wrong type -> stub
    ).toDS()
    val f = Multimodal.audioFeatures(ds).collect().map(a => a.doc_id -> a).toMap
    // hand-computed: sum_sq = Σ(100k)² = 2_040_000; signs alternate -> 7
    // crossings; Haar pairs d=300,700,1100,1500 -> h1 = 4_040_000;
    // a = [-100,-100,-100,-100] -> h2 = 0, low = 2·(-200)² = 80_000
    val r = f(30L)
    assert(r.real_decode)
    assert((r.n_samples, r.sum_sq, r.zero_crossings) === ((8L, 2040000L, 7L)))
    assert((r.band_high1, r.band_high2, r.band_low2) === ((4040000L, 0L, 80000L)))
    assert(math.abs(r.rms - math.sqrt(2040000.0 / 8)) < 1e-6)
    // stereo reads the FIRST channel of each frame: identical features
    val st = f(31L)
    assert(st.real_decode && st.n_samples === 8L && st.sum_sq === 2040000L)
    // non-decodable and non-audio payloads fall to the labeled stub
    assert(!f(32L).real_decode && !f(33L).real_decode)
    // and the registry path round-trips its own generator: encodeWavPcm16
    // really decodes (real_decode = true for every doc)
    val gen = Seq(Media(40L, "audio", Multimodal.encodeWavPcm16(40L))).toDS()
    val g = Multimodal.audioFeatures(gen).collect().head
    assert(g.real_decode && g.n_samples === 32L)
  }

  // ---- hand-built video containers (byte-exact per ISO-BMFF / RIFF) ----

  private def be32b(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le32b(v: Long): Array[Byte] = be32b(v).reverse
  private def mp4box(typ: String, parts: Array[Byte]*): Array[Byte] = {
    val body = parts.flatten.toArray
    be32b(body.length + 8L) ++ typ.getBytes("ISO-8859-1") ++ body
  }

  /** A structurally valid MP4: ftyp + moov(mvhd 600ts/3000dur,
    * trak(tkhd 640×360 16.16, mdia(minf(stbl(stts 100+25 samples))))).
    * A zero `timescale` or `width` makes the header one the parser must
    * reject. */
  private def buildMp4(timescale: Long = 600, width: Long = 640): Array[Byte] = {
    val ftyp = mp4box("ftyp", "isom".getBytes, be32b(512), "isom".getBytes)
    val mvhd = mp4box("mvhd", new Array[Byte](4), // v0 + flags
      be32b(0), be32b(0),      // ctime, mtime
      be32b(timescale), be32b(3000), // timescale, duration
      new Array[Byte](80))     // rate/volume/matrix/predefines/next-track
    val tkhd = mp4box("tkhd", new Array[Byte](4),
      be32b(0), be32b(0), be32b(1), be32b(0), be32b(3000),
      new Array[Byte](8),      // reserved
      new Array[Byte](8),      // layer/alt-group/volume/reserved
      new Array[Byte](36),     // identity matrix slots (content unread)
      be32b(width << 16), be32b(360L << 16))
    val stts = mp4box("stts", new Array[Byte](4), be32b(2),
      be32b(100), be32b(40), be32b(25), be32b(40)) // 125 frames total
    val trak = mp4box("trak", tkhd,
      mp4box("mdia", mp4box("minf", mp4box("stbl", stts))))
    ftyp ++ mp4box("moov", mvhd, trak)
  }

  /** A structurally valid AVI: RIFF(AVI ) > LIST(hdrl) > avih with
    * 40000 µs/frame, `frames` frames (250 by default), 320×240,
    * zero-padded to `padTo` bytes. */
  private def buildAvi(frames: Long = 250, padTo: Int = 0): Array[Byte] = {
    val avih = "avih".getBytes("ISO-8859-1") ++ le32b(56) ++
      le32b(40000) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++
      le32b(frames) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
      le32b(320) ++ le32b(240) ++ new Array[Byte](16)
    val hdrl = "LIST".getBytes("ISO-8859-1") ++ le32b(4 + avih.length) ++
      "hdrl".getBytes("ISO-8859-1") ++ avih
    val riff = "RIFF".getBytes("ISO-8859-1") ++ le32b(4 + hdrl.length) ++
      "AVI ".getBytes("ISO-8859-1") ++ hdrl
    riff ++ new Array[Byte](math.max(0, padTo - riff.length))
  }

  /** Per doc: (frames emitted, every frame flagged `real_frame_count`). */
  private def framesOf(vids: Seq[Media]): Map[Long, (Int, Boolean)] =
    Multimodal.sampleFrames(vids.toDS(), everyNth = 1).collect().groupBy(_.doc_id)
      .map { case (id, fs) => id -> ((fs.length, fs.forall(_.real_frame_count))) }

  test("REAL video branch: MP4/AVI headers count frames, bad dims/duration rejected") {
    val m = framesOf(Seq(
      Media(30L, "video", buildMp4()),                 // stts: 100+25 frames
      Media(31L, "video", buildAvi(frames = 50)),      // avih: 50 frames
      Media(32L, "video", buildMp4(width = 0)),        // no visual track
      Media(33L, "video", buildMp4(timescale = 0)),    // no usable duration
      Media(34L, "image", buildMp4())                  // wrong media_type
    ))
    assert(m(30L) === ((125, true)))
    assert(m(31L) === ((50, true)))
    // a rejected header falls to the payload/64 stub count, flagged
    assert(m(32L) === ((buildMp4().length / 64, false)))
    assert(m(33L) === ((buildMp4().length / 64, false)))
    assert(!m.contains(34L)) // media_type gates the sampler
  }

  test("video parser rejects torn/corrupt containers instead of misreading") {
    val mp4 = buildMp4()
    val m = framesOf(Seq(
      Media(40L, "video", mp4.take(20)),            // truncated mid-box
      Media(41L, "video", mp4.take(mp4.length - 4)),// truncated tail box
      Media(42L, "video", "RIFF1234AVI ".getBytes), // AVI magic, no avih
      Media(43L, "video", Array[Byte]())            // empty payload
    ))
    assert(m.keySet === Set(40L, 41L, 42L, 43L))
    assert(m.values.forall(!_._2), "corrupt payloads must fall to the labeled stub count")
  }

  test("sampleFrames explodes only video payloads with stride") {
    val frames = Multimodal.sampleFrames(media, everyNth = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.doc_id === 3L))
    assert(frames.map(_.frame_idx).toSeq === (0 until 300 / 64 by 2).toSeq)
    // no container behind these payloads: the heuristic path, flagged so
    assert(frames.forall(!_.real_frame_count))
  }

  test("sampleFrames uses the REAL container frame count when parseable (r7 #4)") {
    val vids = Seq(
      Media(50L, "video", buildMp4()),                 // stts: 100+25 = 125
      Media(51L, "video", Array.fill(300)(7.toByte))   // no container
    ).toDS()
    val byDoc = Multimodal.sampleFrames(vids, everyNth = 25).collect()
      .groupBy(_.doc_id)
    // frame indices follow the stts sample-count SUM, not payload/64
    assert(byDoc(50L).map(_.frame_idx).sorted.toSeq === Seq(0, 25, 50, 75, 100))
    assert(byDoc(50L).forall(_.real_frame_count))
    // un-parseable payload: payload/64 heuristic, flagged
    assert(byDoc(51L).map(_.frame_idx).sorted.toSeq === (0 until 300 / 64 by 25).toSeq)
    assert(byDoc(51L).forall(!_.real_frame_count))
  }

  test("hostile headers cannot overflow duration or explode frame output") {
    // avih claiming u32-max µs/frame × u32-max frames would overflow
    // usPerFrame·frames; the parser must reject it (labeled stub count),
    // not count frames flagged real_frame_count
    val hostileAvih = "avih".getBytes("ISO-8859-1") ++ le32b(56) ++
      le32b(0xFFFFFFFFL) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++
      le32b(0xFFFFFFFFL) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
      le32b(320) ++ le32b(240) ++ new Array[Byte](16)
    val hdrl = "LIST".getBytes("ISO-8859-1") ++ le32b(4 + hostileAvih.length) ++
      "hdrl".getBytes("ISO-8859-1") ++ hostileAvih
    val hostile = "RIFF".getBytes("ISO-8859-1") ++ le32b(4 + hdrl.length) ++
      "AVI ".getBytes("ISO-8859-1") ++ hdrl
    assert(framesOf(Seq(Media(60L, "video", hostile)))(60L) === ((hostile.length / 64, false)),
      "overflowing header must fall to the labeled stub count")
    // a parseable container claiming more frames than payload bytes is
    // clamped — frame output stays bounded by payload size
    val fr = Multimodal.sampleFrames(Seq(Media(61L, "video", buildAvi())).toDS(), 1)
      .collect()
    assert(fr.length === buildAvi().length) // 250 claimed, clamped to bytes
    assert(fr.forall(_.real_frame_count))
  }

  test("sampleFrames slices stay 64 bytes past frame index 2^25") {
    // i * 64 overflows an Int at i = 2^25: a 34 MB AVI claiming 34M
    // frames, sampled every 2^20th frame, reaches i = 33,554,432
    val avi = buildAvi(frames = 34000000L, padTo = 34000000)
    val fr = Multimodal.sampleFrames(Seq(Media(70L, "video", avi)).toDS(), 1 << 20)
      .collect()
    assert(fr.map(_.frame_idx).max === 1 << 25)
    assert(fr.length === 33 && fr.forall(_.real_frame_count))
    assert(fr.forall(_.frame_payload.length == 64),
      fr.filter(_.frame_payload.length != 64).map(_.frame_idx).mkString(","))
  }

  test("all multimodal stages are narrow: no exchange in the plan") {
    val plan = Multimodal.imageDct(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    val audioPlan = Multimodal.audioFeatures(media).queryExecution.executedPlan.toString
    assert(!audioPlan.contains("Exchange"), s"unexpected shuffle:\n$audioPlan")
  }
}
