package graft

import org.apache.spark.sql.functions._
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

  test("decodeMeta: typed schema, deterministic dims, byte counts") {
    val out = Multimodal.decodeMeta(media)
    assert(out.columns.toSeq ===
      Seq("doc_id", "media_type", "n_bytes", "width", "height", "n_channels"))
    val r = out.collect().sortBy(_.doc_id)
    assert(r.map(_.n_bytes).toSeq === Seq(17L, 19L, 300L))
    assert(r.forall(m => m.width >= 1 && m.width <= 1024))
    assert(r.forall(m => Seq(1, 3, 4).contains(m.n_channels)))
    // determinism: same payload -> same fake dims
    assert(Multimodal.decodeMeta(media).collect().sortBy(_.doc_id).toSeq === r.toSeq)
  }

  test("resize clamps the longer side while keeping aspect scale <= 1") {
    val full = Multimodal.decodeMeta(media).collect().map(m => m.doc_id -> m).toMap
    Multimodal.resize(media, 256).collect().foreach { m =>
      assert(math.max(m.width, m.height) <= 256)
      val orig = full(m.doc_id)
      if (math.max(orig.width, orig.height) <= 256)
        assert((m.width, m.height) === (orig.width, orig.height))
    }
  }

  private def encodeImage(w: Int, h: Int, imgType: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("REAL image branch: generated PNG/BMP payloads decode to exact dims and channels") {
    import java.awt.image.BufferedImage._
    val real = Seq(
      Media(10L, "image", encodeImage(320, 200, TYPE_INT_RGB, "png")),
      Media(11L, "image", encodeImage(64, 48, TYPE_3BYTE_BGR, "bmp")),
      Media(12L, "image", encodeImage(20, 30, TYPE_INT_ARGB, "png"))
    ).toDS()
    val metas = Multimodal.decodeMeta(real).collect().map(m => m.doc_id -> m).toMap
    assert((metas(10L).width, metas(10L).height, metas(10L).n_channels) === ((320, 200, 3)))
    assert((metas(11L).width, metas(11L).height, metas(11L).n_channels) === ((64, 48, 3)))
    assert((metas(12L).width, metas(12L).height, metas(12L).n_channels) === ((20, 30, 4)))

    // resize really resamples: the longer edge lands exactly on maxSide,
    // aspect preserved, alpha preserved; already-small images untouched
    val rs = Multimodal.resize(real, 100).collect().map(m => m.doc_id -> m).toMap
    assert((rs(10L).width, rs(10L).height) === ((100, 62)))
    assert(rs(10L).n_bytes > 0 && rs(10L).n_bytes < metas(10L).n_bytes,
      "re-encoded downscale should be smaller than the original")
    assert((rs(11L).width, rs(11L).height, rs(11L).n_bytes) === ((64, 48, metas(11L).n_bytes)))
    assert((rs(12L).width, rs(12L).height, rs(12L).n_channels) === ((20, 30, 4)))
  }

  private def encodeWav(sampleRate: Float, channels: Int, nFrames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
    val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
    for (i <- pcm.indices) pcm(i) = ((i * 37 + 11) & 0xff).toByte
    val in = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("REAL audio branch: generated WAV payloads decode to exact format fields") {
    val real = Seq(
      Media(20L, "audio", encodeWav(16000f, 1, 16000)), // 1 s mono 16 kHz
      Media(21L, "audio", encodeWav(44100f, 2, 2205)),  // 50 ms stereo CD rate
      Media(22L, "audio", "not really audio".getBytes)  // falls to the stub
    ).toDS()
    val m = Multimodal.decodeAudioMeta(real).collect().map(a => a.doc_id -> a).toMap
    assert(m(20L).real_decode)
    assert((m(20L).sample_rate, m(20L).n_channels, m(20L).bits_per_sample,
      m(20L).n_frames, m(20L).duration_ms) === ((16000, 1, 16, 16000L, 1000L)))
    assert(m(21L).real_decode)
    assert((m(21L).sample_rate, m(21L).n_channels, m(21L).n_frames,
      m(21L).duration_ms) === ((44100, 2, 2205L, 50L)))
    assert(!m(22L).real_decode) // stub fallback is flagged, not silent
    assert(m(22L).sample_rate >= 8000 && m(22L).n_channels >= 1)
    // non-audio media types never hit the audio decoder
    val img = Multimodal.decodeAudioMeta(media).collect()
    assert(img.forall(!_.real_decode))
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
    * trak(tkhd 640×360 16.16, mdia(minf(stbl(stts 100+25 samples))))). */
  private def buildMp4(): Array[Byte] = {
    val ftyp = mp4box("ftyp", "isom".getBytes, be32b(512), "isom".getBytes)
    val mvhd = mp4box("mvhd", new Array[Byte](4), // v0 + flags
      be32b(0), be32b(0),      // ctime, mtime
      be32b(600), be32b(3000), // timescale, duration -> 5000 ms
      new Array[Byte](80))     // rate/volume/matrix/predefines/next-track
    val tkhd = mp4box("tkhd", new Array[Byte](4),
      be32b(0), be32b(0), be32b(1), be32b(0), be32b(3000),
      new Array[Byte](8),      // reserved
      new Array[Byte](8),      // layer/alt-group/volume/reserved
      new Array[Byte](36),     // identity matrix slots (content unread)
      be32b(640L << 16), be32b(360L << 16))
    val stts = mp4box("stts", new Array[Byte](4), be32b(2),
      be32b(100), be32b(40), be32b(25), be32b(40)) // 125 frames total
    val trak = mp4box("trak", tkhd,
      mp4box("mdia", mp4box("minf", mp4box("stbl", stts))))
    ftyp ++ mp4box("moov", mvhd, trak)
  }

  /** A structurally valid AVI: RIFF(AVI ) > LIST(hdrl) > avih with
    * 40000 µs/frame, 250 frames, 320×240. */
  private def buildAvi(): Array[Byte] = {
    val avih = "avih".getBytes("ISO-8859-1") ++ le32b(56) ++
      le32b(40000) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++
      le32b(250) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
      le32b(320) ++ le32b(240) ++ new Array[Byte](16)
    val hdrl = "LIST".getBytes("ISO-8859-1") ++ le32b(4 + avih.length) ++
      "hdrl".getBytes("ISO-8859-1") ++ avih
    "RIFF".getBytes("ISO-8859-1") ++ le32b(4 + hdrl.length) ++
      "AVI ".getBytes("ISO-8859-1") ++ hdrl
  }

  test("REAL video branch: MP4 box walk yields exact dims/duration/frames") {
    val vids = Seq(
      Media(30L, "video", buildMp4()),
      Media(31L, "video", buildAvi()),
      Media(32L, "video", Array.fill(300)(7.toByte)),    // no container: stub
      Media(33L, "image", buildMp4())                    // wrong media_type: stub
    ).toDS()
    val m = Multimodal.decodeVideoMeta(vids).collect().map(v => v.doc_id -> v).toMap
    assert(m(30L).real_decode)
    assert((m(30L).container, m(30L).width, m(30L).height,
      m(30L).duration_ms, m(30L).n_frames) === (("mp4", 640, 360, 5000L, 125L)))
    assert(m(31L).real_decode)
    assert((m(31L).container, m(31L).width, m(31L).height,
      m(31L).duration_ms, m(31L).n_frames) === (("avi", 320, 240, 10000L, 250L)))
    assert(!m(32L).real_decode && m(32L).container === "unknown")
    assert(m(32L).n_frames === 300L / 64) // same heuristic as sampleFrames
    assert(!m(33L).real_decode) // media_type gates the parser
    // determinism of the stub path
    val again = Multimodal.decodeVideoMeta(vids).collect().map(v => v.doc_id -> v).toMap
    assert(again(32L) === m(32L))
  }

  test("video parser rejects torn/corrupt containers instead of misreading") {
    val mp4 = buildMp4()
    val torn = Seq(
      Media(40L, "video", mp4.take(20)),            // truncated mid-box
      Media(41L, "video", mp4.take(mp4.length - 4)),// truncated tail box
      Media(42L, "video", "RIFF1234AVI ".getBytes), // AVI magic, no avih
      Media(43L, "video", Array[Byte]())            // empty payload
    ).toDS()
    val m = Multimodal.decodeVideoMeta(torn).collect()
    assert(m.forall(!_.real_decode), "corrupt payloads must fall to the labeled stub")
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
    // usPerFrame·frames; the parser must reject it (labeled stub), not
    // emit garbage flagged real_decode
    val hostileAvih = "avih".getBytes("ISO-8859-1") ++ le32b(56) ++
      le32b(0xFFFFFFFFL) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++
      le32b(0xFFFFFFFFL) ++ le32b(0) ++ le32b(1) ++ le32b(0) ++
      le32b(320) ++ le32b(240) ++ new Array[Byte](16)
    val hdrl = "LIST".getBytes("ISO-8859-1") ++ le32b(4 + hostileAvih.length) ++
      "hdrl".getBytes("ISO-8859-1") ++ hostileAvih
    val hostile = "RIFF".getBytes("ISO-8859-1") ++ le32b(4 + hdrl.length) ++
      "AVI ".getBytes("ISO-8859-1") ++ hdrl
    val m = Multimodal.decodeVideoMeta(Seq(Media(60L, "video", hostile)).toDS())
      .collect().head
    assert(!m.real_decode, "overflowing header must fall to the labeled stub")
    // a parseable container claiming more frames than payload bytes is
    // clamped — frame output stays bounded by payload size
    val fr = Multimodal.sampleFrames(Seq(Media(61L, "video", buildAvi())).toDS(), 1)
      .collect()
    assert(fr.length === buildAvi().length) // 250 claimed, clamped to bytes
    assert(fr.forall(_.real_frame_count))
  }

  test("all multimodal stages are narrow: no exchange in the plan") {
    val plan = Multimodal.imageDct(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    val audioPlan = Multimodal.audioFeatures(media).queryExecution.executedPlan.toString
    assert(!audioPlan.contains("Exchange"), s"unexpected shuffle:\n$audioPlan")
  }
}
