package graft.ops

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpecBase {

  private lazy val assets = Multimodal.assetsFromBinary(
    Tables.documents(spark, sf0001).limit(50), "doc_id", "text", "image", "fake")

  test("asset contract: schema, typed metadata, payload size") {
    // same names/types (nullability differs: lit() metadata is non-null)
    assert(assets.schema.sql.replace(" NOT NULL", "") ==
      Multimodal.AssetSchema.sql.replace(" NOT NULL", ""))
    val r = assets.orderBy(col("asset_id")).head()
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("media_type") == "image")
    assert(r.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("size_bytes") > 0)
  }

  test("decodeAndFeaturize: partition-parallel batch decode, fixed-width features") {
    val feats = Multimodal.decodeAndFeaturize(spark,
      Multimodal.repartitionForDecode(assets, 4))
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.ok))
    assert(rows.forall(_.feature.length == 8))
    assert(rows.forall(r => r.out_width == 32 && r.out_height == 32))
    // deterministic stub: same input -> same features
    val again = Multimodal.decodeAndFeaturize(spark, assets).collect()
    val m1 = rows.map(r => r.asset_id -> r.feature.toSeq).toMap
    assert(again.forall(r => m1(r.asset_id) == r.feature.toSeq))
  }

  test("sampleFrames: generator shape, stride honored") {
    val frames = Multimodal.sampleFrames(spark, assets.limit(5), frameSize = 64, stride = 4)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 4 == 0))
    assert(frames.forall(_.frame_bytes.length <= 64))
  }

  test("metaProfile never reads payloads and aggregates by media type") {
    val prof = Multimodal.metaProfile(assets).collect()
    assert(prof.length == 1)
    assert(prof.head.getAs[Long]("n_assets") == 50L)
    assert(prof.head.getAs[Long]("total_bytes") > 0)
  }

  test("dHash kernel: gradient bits, 60-bit envelope, locality") {
    import graft.functions.DHashKernel
    // empty payload -> all cells 0, strict > never fires
    assert(DHashKernel.hash(Array.emptyByteArray) == 0L)
    // single ascending ramp touching each cell once: every horizontal
    // neighbor is brighter, so all 60 gradient bits set
    val ramp = Array.tabulate[Byte](DHashKernel.Cells)(i => i.toByte)
    assert(DHashKernel.hash(ramp) == (1L << 60) - 1)
    // descending ramp: no bit set
    val desc = Array.tabulate[Byte](DHashKernel.Cells)(i => (DHashKernel.Cells - i).toByte)
    assert(DHashKernel.hash(desc) == 0L)
    // locality: flipping ONE byte moves few bits (each byte feeds one
    // cell; one cell borders at most 2 gradient pairs)
    val base = Array.tabulate[Byte](200)(i => ((i * 37 + 11) % 251).toByte)
    val tweaked = base.clone(); tweaked(100) = (tweaked(100) ^ 0x7f).toByte
    val d = java.lang.Long.bitCount(DHashKernel.hash(base) ^ DHashKernel.hash(tweaked))
    assert(d <= 4, s"single-byte perturbation moved $d bits")
    // non-negative (SimhashBits envelope for the block machinery)
    assert(DHashKernel.hash(base) >= 0L && DHashKernel.hash(base) < (1L << 60))
  }

  // --- real javax.imageio decode path ---------------------------------------

  /** 22×12 gray gradient: cell (r,c) of the 6×11 dHash grid covers
    * pixel columns [2c, 2c+2), every pixel in it has luma 20c+10
    * (gray v → BT.601 luma (299+587+114)v/1000 = v exactly), so the
    * cell means are 10, 30, …, 210 — strictly increasing left to
    * right. Hand-verifiable: all 60 gradient bits set. */
  private def gradientImage(reversed: Boolean = false): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(22, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 22) {
      val cell = if (reversed) 10 - x / 2 else x / 2
      val v = cell * 20 + 10
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
    bos.toByteArray
  }

  test("real PNG decode: dHash computed on true luma, hand-verifiable bits") {
    import graft.functions.DHashKernel
    val png = encode(gradientImage(), "png")
    // PNG magic present, real decode: ascending gradient = all 60 bits
    assert(DHashKernel.hash(png) == (1L << 60) - 1)
    // reversed gradient = no bit set (right cells strictly darker)
    assert(DHashKernel.hash(encode(gradientImage(reversed = true), "png")) == 0L)
    // decode is what changed the answer: the same bytes WITHOUT the
    // image magic fall back to the byte fold and hash differently
    val unmagicked = png.clone(); unmagicked(0) = 0x00
    assert(DHashKernel.hash(unmagicked) != (1L << 60) - 1)
  }

  test("real JPEG decode: lossy round-trip preserves the 20-step gradient ordering") {
    import graft.functions.DHashKernel
    val jpg = encode(gradientImage(), "jpg")
    assert(jpg.length >= 3 && (jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8)
    // 20-luma steps between cell means dwarf JPEG ringing; ordering —
    // and therefore every gradient bit — survives the lossy codec
    assert(DHashKernel.hash(jpg) == (1L << 60) - 1)
  }

  test("real decode path: near-identical images land within Hamming reach, corrupt falls back") {
    import graft.functions.DHashKernel
    val base = gradientImage()
    val perturbed = gradientImage()
    for (y <- 0 until 12) { // +4 luma on one pixel column: cell means move ≤ 2
      val v = 0 * 20 + 14
      perturbed.setRGB(0, y, (v << 16) | (v << 8) | v)
    }
    val d = java.lang.Long.bitCount(
      DHashKernel.hash(encode(base, "png")) ^ DHashKernel.hash(encode(perturbed, "png")))
    assert(d <= 3, s"near-identical real images moved $d bits")
    // corrupt stream with valid magic: decoder error → deterministic fallback, no throw
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    assert(DHashKernel.hash(corrupt) >= 0L)
  }

  test("decodeAndFeaturize real branch: luma histogram over the resized grid") {
    import spark.implicits._
    // uniform gray v=100: every resized cell has luma 100 → bin 3;
    // histogram = all 32×32 pixels in bin 3
    val img = new java.awt.image.BufferedImage(50, 40,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 40; x <- 0 until 50) img.setRGB(x, y, (100 << 16) | (100 << 8) | 100)
    val png = encode(img, "png")
    val df = Seq((1L, png)).toDF("id", "payload")
    val asset = Multimodal.assetsFromBinary(df, "id", "payload", "image", "png")
    val feat = Multimodal.decodeAndFeaturize(spark, asset).collect().head
    assert(feat.ok)
    assert(feat.feature(3) == 32f * 32f)
    assert(feat.feature.sum == 32f * 32f)
  }

  test("decodeAndFeaturize audio branch: WAV payloads get a real band profile") {
    import spark.implicits._
    val rate = 8000
    val lowTone = Array.tabulate(4000)(i =>
      (9000 * StrictMath.sin(2 * Math.PI * 440.0 * i / rate)).toInt)
    val w = graft.functions.AudioCodecSpec.wavBytes(lowTone, rate)
    val df = Seq((1L, w)).toDF("id", "payload")
    val asset = Multimodal.assetsFromBinary(df, "id", "payload", "audio", "wav")
    val feat = Multimodal.decodeAndFeaturize(spark, asset).collect().head
    assert(feat.ok)
    // normalized to the shared 32×32 mass envelope…
    assert(math.abs(feat.feature.sum - 32f * 32f) < 1e-2)
    // …and spectrally real: a 440 Hz tone loads the low bands of the
    // 8-band 300–3000 Hz profile, not a flat byte-fold smear
    assert(feat.feature.indexOf(feat.feature.max) <= 2,
      feat.feature.mkString(","))
  }

  test("imageNearDups: blocked pairs equal exact all-pairs Hamming (pigeonhole completeness)") {
    val all = Multimodal.assetsFromBinary(
      Tables.documents(spark, sf0001), "doc_id", "text", "image", "fake")
    val got = Multimodal.imageNearDups(all, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force from the same fingerprints
    val hs = all.select(col("asset_id"),
      graft.functions.ImageExpressions.imageDHash(col("payload")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty, "fixture should contain near-dup assets")
    assert(got == want)
  }

  test("image_dhash stays inside whole-stage codegen") {
    val plan = assets.select(
      graft.functions.ImageExpressions.imageDHash(col("payload")).as("h"))
    // evaluating forces codegen; a doGenCode bug would fall back or throw
    assert(plan.agg(max(col("h"))).head().getLong(0) >= 0L)
    // the `*(n)` marker on the projection = inside a WholeStageCodegen
    // stage; an interpreted fallback would render a bare Project
    val executed = plan.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l =>
      l.contains("image_dhash") && l.trim.startsWith("+- *(")), executed.take(1000))
  }

  test("audio fingerprint kernel: second-order delta bits, 60-bit envelope, invariances") {
    import graft.functions.AudioFingerprintKernel._
    // empty payload -> all energies 0, strict > never fires
    assert(hash(Array.emptyByteArray) == 0L)
    // constant payload (whole number of grid cycles, so every cell
    // folds the same count): every delta equals its predecessor, no bit
    assert(hash(Array.fill[Byte](2 * Cells)(42)) == 0L)
    // the double difference cancels global loudness: adding the same
    // value to every byte shifts every cell energy equally (length is a
    // multiple of Cells so all cells fold the same number of positions)
    // and the deltas — hence the hash — are unchanged
    val base = Array.tabulate[Byte](3 * Cells)(i => ((i * 53 + 7) % 127).toByte)
    val shifted = base.map(b => (b + 20).toByte) // stays < 147, no 0xff wrap
    assert(hash(shifted) == hash(base), "global offset must cancel in the double difference")
    // locality: flipping ONE byte feeds one cell, which borders at most
    // 4 (frame,band) delta pairs
    val tweaked = base.clone(); tweaked(100) = (tweaked(100) ^ 0x3f).toByte
    val d = java.lang.Long.bitCount(hash(base) ^ hash(tweaked))
    assert(d <= 4, s"single-byte perturbation moved $d bits")
    // non-negative SimhashBits envelope for the block machinery
    assert(hash(base) >= 0L && hash(base) < (1L << 60))
  }

  test("audioNearDups: blocked pairs equal exact all-pairs Hamming (pigeonhole completeness)") {
    val all = Multimodal.assetsFromBinary(
      Tables.documents(spark, sf0001), "doc_id", "text", "audio", "fake")
    val got = Multimodal.audioNearDups(all, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hs = all.select(col("asset_id"),
      graft.functions.AudioExpressions.audioFingerprint(col("payload")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty, "fixture should contain near-dup audio assets")
    assert(got == want)
  }

  test("audio_fingerprint stays inside whole-stage codegen") {
    val audio = Multimodal.assetsFromBinary(
      Tables.documents(spark, sf0001).limit(50), "doc_id", "text", "audio", "fake")
    val plan = audio.select(
      graft.functions.AudioExpressions.audioFingerprint(col("payload")).as("h"))
    assert(plan.agg(max(col("h"))).head().getLong(0) >= 0L)
    val executed = plan.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l =>
      l.contains("audio_fingerprint") && l.trim.startsWith("+- *(")), executed.take(1000))
  }

  // ---- MP4/ISO-BMFF container metadata ------------------------------------

  /** Hand-built minimal BMFF file: ftyp('isom') + moov{ mvhd(timescale
    * 1000, duration 90500) + trak{ tkhd(640×360 as 16.16) + mdia{
    * hdlr('vide') + minf{ stbl{ stsd('avc1') }}}}} + mdat. Every
    * offset is per ISO/IEC 14496-12 — the fixture IS the spec pin. */
  private def buildMp4(tkhdV1: Boolean = false, mvhdV1: Boolean = false): Array[Byte] = {
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ cc(typ) ++ body
    val ftyp = box("ftyp", cc("isom") ++ be32(512) ++ cc("iso2") ++ cc("avc1"))
    val mvhd = box("mvhd",
      if (mvhdV1) Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
        be32(1000) ++ be64(90500)
      else Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(1000) ++ be32(90500) ++ new Array[Byte](80))
    val tkhd = box("tkhd",
      if (tkhdV1) Array[Byte](1, 0, 0, 7) ++ be64(0) ++ be64(0) ++ be32(1) ++
        be32(0) ++ be64(90500) ++ new Array[Byte](8 + 8 + 36) ++
        be32(640L << 16) ++ be32(360L << 16)
      else Array[Byte](0, 0, 0, 7) ++ be32(0) ++ be32(0) ++ be32(1) ++
        be32(0) ++ be32(90500) ++ new Array[Byte](8 + 8 + 36) ++
        be32(640L << 16) ++ be32(360L << 16))
    val hdlr = box("hdlr", new Array[Byte](8) ++ cc("vide") ++ new Array[Byte](13))
    val stsd = box("stsd", new Array[Byte](4) ++ be32(1) ++
      (be32(16) ++ cc("avc1") ++ new Array[Byte](8)))
    val stbl = box("stbl", stsd)
    val minf = box("minf", stbl)
    val mdia = box("mdia", hdlr ++ minf)
    val trak = box("trak", tkhd ++ mdia)
    val moov = box("moov", mvhd ++ trak)
    val mdat = box("mdat", Array.tabulate[Byte](32)(_.toByte))
    ftyp ++ moov ++ mdat
  }

  test("Mp4Codec parses hand-built moov/mvhd/tkhd/stsd exactly (v0 and v1 boxes)") {
    import graft.functions.Mp4Codec
    for ((t1, m1) <- Seq((false, false), (true, true), (true, false))) {
      val meta = Mp4Codec.parseMeta(buildMp4(tkhdV1 = t1, mvhdV1 = m1))
      assert(meta != null, s"tkhdV1=$t1 mvhdV1=$m1")
      assert(meta.majorBrand == "isom")
      assert(meta.durationMs == 90500L) // 90500 ticks / 1000 ticks-per-sec
      assert(meta.width == 640 && meta.height == 360)
      assert(meta.codec == "avc1")
    }
  }

  test("Mp4Codec rejects non-BMFF and torn payloads (null, never throws)") {
    import graft.functions.Mp4Codec
    assert(Mp4Codec.parseMeta(null) == null)
    assert(Mp4Codec.parseMeta(Array.emptyByteArray) == null)
    assert(Mp4Codec.parseMeta("RIFF....WAVEfmt ".getBytes) == null)
    val good = buildMp4()
    // every truncation of a valid file parses to null or a valid
    // prefix result — never an exception (hostile-bytes discipline)
    (1 until good.length by 7).foreach { cut =>
      Mp4Codec.parseMeta(java.util.Arrays.copyOf(good, cut))
    }
    // corrupt an inner size field to overflow its parent
    val torn = good.clone()
    torn(good.toSeq.indexOfSlice("moov".getBytes.toSeq) - 4) = 0x7f
    assert(Mp4Codec.parseMeta(torn) == null)
  }

  test("Mp4Codec: size-consistent-but-short mvhd v1 and deep nesting reject, never throw") {
    import graft.functions.Mp4Codec
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ cc(typ) ++ body
    val ftyp = box("ftyp", cc("isom") ++ be32(512) ++ cc("iso2"))
    // mvhd v1 with a 28-byte body: passes the old `body+28>end` guard
    // but the be64 duration read at body+24 needs 32 — as the LAST box
    // this read past the payload (AIOOBE before the fix)
    val shortV1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(0) ++
        be32(1000) ++ be32(0)) // 4+8+8+4+4 = 28 bytes
    assert(shortV1.length == 36)
    assert(Mp4Codec.parseMeta(ftyp ++ box("moov", shortV1)) == null)
    // hostile deep nesting: moov-in-moov far past any legitimate tree
    // depth must set bad via the depth cap, not raise StackOverflowError
    var nested = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(500) ++ new Array[Byte](80))
    (1 to 5000).foreach(_ => nested = box("moov", nested))
    assert(Mp4Codec.parseMeta(ftyp ++ nested) == null)
  }

  // ---- AVI / MJPEG real video frames ---------------------------------------

  /** A real JPEG: deterministic gradient pattern encoded by the stock
    * JDK writer — what an MJPEG frame actually is. */
  private def jpegBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 11 + y * 7 + seed * 41) % 256)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Hand-built minimal AVI: RIFF('AVI ') { LIST hdrl { avih + LIST
    * strl { strh('vids','MJPG') } } + LIST movi { 00dc <jpeg>... } } —
    * offsets per the Microsoft AVI RIFF spec; the fixture IS the pin. */
  private def buildAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
                       usPerFrame: Int = 40000): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
      cc(id) ++ le32(body.length) ++ padded
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(kind) ++ body)
    val avih = chunk("avih", le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ new Array[Byte](16))
    val strh = chunk("strh", cc("vids") ++ cc("MJPG") ++ new Array[Byte](48))
    val hdrl = list("hdrl", avih ++ list("strl", strh))
    val movi = list("movi", frames.map(chunk("00dc", _)).reduce(_ ++ _))
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le32(body.length) ++ body
  }

  /** Hand-built MJPEG-in-MP4: ftyp + moov { mvhd, trak { tkhd,
    * mdia { hdlr(vide), minf { stbl { stsd('jpeg'), stsz(table),
    * stsc, stco } } } } } + mdat with the JPEG samples back-to-back.
    * Chunking is deliberately non-trivial — first chunk holds two
    * samples, second holds the rest — so the stsc run mapping and the
    * within-chunk size walk are both exercised. stco offsets are
    * ABSOLUTE file offsets, computed by assembling the moov first with
    * zeroed offsets (same byte length) and patching. */
  private def buildMjpegMp4(frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty)
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ cc(typ) ++ body
    def assemble(chunkOffs: Seq[Long]): Array[Byte] = {
      val ftyp = box("ftyp", cc("isom") ++ be32(512) ++ cc("iso2"))
      val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(1000) ++ be32(2000) ++ new Array[Byte](80))
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ be32(0) ++ be32(0) ++
        be32(1) ++ be32(0) ++ be32(2000) ++ new Array[Byte](8 + 8 + 36) ++
        be32(24L << 16) ++ be32(16L << 16))
      val hdlr = box("hdlr", new Array[Byte](8) ++ cc("vide") ++ new Array[Byte](13))
      val stsd = box("stsd", new Array[Byte](4) ++ be32(1) ++
        (be32(16) ++ cc("jpeg") ++ new Array[Byte](8)))
      val stsz = box("stsz", new Array[Byte](4) ++ be32(0) ++
        be32(frames.length) ++ frames.flatMap(f => be32(f.length)).toArray)
      // chunk 1 carries two samples, chunk 2 the remainder (or one
      // chunk when there's a single frame)
      val twoChunks = frames.length > 2
      val stsc =
        if (twoChunks)
          box("stsc", new Array[Byte](4) ++ be32(2) ++
            (be32(1) ++ be32(2) ++ be32(1)) ++ (be32(2) ++ be32(frames.length - 2L) ++ be32(1)))
        else
          box("stsc", new Array[Byte](4) ++ be32(1) ++
            (be32(1) ++ be32(frames.length) ++ be32(1)))
      val stco = box("stco", new Array[Byte](4) ++ be32(chunkOffs.length) ++
        chunkOffs.flatMap(be32).toArray)
      val stbl = box("stbl", stsd ++ stsz ++ stsc ++ stco)
      val moov = box("moov",
        mvhd ++ box("trak", tkhd ++ box("mdia", hdlr ++ box("minf", stbl))))
      val mdat = box("mdat", frames.reduce(_ ++ _))
      ftyp ++ moov ++ mdat
    }
    val nChunks = if (frames.length > 2) 2 else 1
    val probe = assemble(Seq.fill(nChunks)(0L))
    val mdatBody = probe.length - frames.map(_.length).sum // first sample's offset
    val offs =
      if (nChunks == 2) Seq(mdatBody.toLong, mdatBody.toLong + frames(0).length + frames(1).length)
      else Seq(mdatBody.toLong)
    assemble(offs)
  }

  test("Mp4Codec extracts MJPEG-in-MP4 frames byte-exactly through the sample tables") {
    import graft.functions.Mp4Codec
    val fs = Seq(jpegBytes(24, 16, 11), jpegBytes(24, 16, 12), jpegBytes(24, 16, 13))
    val mp4 = buildMjpegMp4(fs)
    // metadata path still sees a video track with the jpeg sample entry
    val meta = Mp4Codec.parseMeta(mp4)
    assert(meta != null && meta.codec == "jpeg" && meta.handler == "vide")
    assert(meta.width == 24 && meta.height == 16)
    val got = Mp4Codec.mjpegFrames(mp4)
    assert(got != null && got.length == 3)
    got.zip(fs).foreach { case (g, f) => assert(java.util.Arrays.equals(g, f)) }
    // frames really decode through the stock JPEG path
    assert(graft.functions.ImageCodec.lumaGrid(got(0), 8, 8) != null)
    // single-frame single-chunk layout too
    val one = Mp4Codec.mjpegFrames(buildMjpegMp4(Seq(jpegBytes(8, 8, 3))))
    assert(one != null && one.length == 1)
    // a non-MJPEG sample entry (avc1) yields null — stays on the stub
    assert(Mp4Codec.mjpegFrames(buildMp4()) == null)
    // truncations never throw (hostile-bytes discipline)
    (1 until mp4.length by 7).foreach { cut =>
      Mp4Codec.mjpegFrames(java.util.Arrays.copyOf(mp4, cut))
    }
    // out-of-bounds chunk offset (points past EOF) rejects, not throws
    val torn = mp4.clone()
    val stcoAt = torn.toSeq.indexOfSlice("stco".getBytes.toSeq)
    torn(stcoAt + 12) = 0x7f // first offset's high byte -> far past EOF
    assert(Mp4Codec.mjpegFrames(torn) == null)
  }

  test("Mp4Codec fixed-size stsz: valid payloads walk, hostile sample_count rejects (no OOM)") {
    import graft.functions.Mp4Codec
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ cc(typ) ++ body
    // fixed-form stsz (sample_size != 0, no per-sample table): the
    // short form real muxers emit for constant-size samples
    def build(fixedSize: Long, count: Long, samples: Array[Byte],
              chunkOff: Long): Array[Byte] = {
      val ftyp = box("ftyp", cc("isom") ++ be32(512) ++ cc("iso2"))
      val hdlr = box("hdlr", new Array[Byte](8) ++ cc("vide") ++ new Array[Byte](13))
      val stsd = box("stsd", new Array[Byte](4) ++ be32(1) ++
        (be32(16) ++ cc("jpeg") ++ new Array[Byte](8)))
      val stsz = box("stsz", new Array[Byte](4) ++ be32(fixedSize) ++ be32(count))
      val stsc = box("stsc", new Array[Byte](4) ++ be32(1) ++
        (be32(1) ++ be32(count) ++ be32(1)))
      val stco = box("stco", new Array[Byte](4) ++ be32(1) ++ be32(chunkOff))
      val stbl = box("stbl", stsd ++ stsz ++ stsc ++ stco)
      val moov = box("moov", box("trak", box("mdia", hdlr ++ box("minf", stbl))))
      ftyp ++ moov ++ box("mdat", samples)
    }
    // positive path: two 2-byte pseudo-JPEG samples (SOI marker only)
    val soi = Array(0xff.toByte, 0xd8.toByte)
    val probe = build(2, 2, soi ++ soi, 0)
    val mdatBody = probe.length - 4L
    val ok = Mp4Codec.mjpegFrames(build(2, 2, soi ++ soi, mdatBody))
    assert(ok != null && ok.length == 2 && ok.forall(_.sameElements(soi)))
    // hostile: sample_count = 2^31-1 with fixed size 4 in a ~300-byte
    // payload — must reject in the parser (fixed·n can't fit), never
    // reach the frame walk, never preallocate (r15 advice: this OOM'd)
    assert(Mp4Codec.mjpegFrames(build(4, 0x7fffffffL, soi ++ soi, mdatBody)) == null)
    assert(Mp4Codec.parseMeta(build(4, 0x7fffffffL, soi ++ soi, mdatBody)) == null)
  }

  test("videoFrames explodes MJPEG-in-MP4 like AVI (one row per frame)") {
    import spark.implicits._
    val mp4 = buildMjpegMp4(Seq(jpegBytes(24, 16, 21), jpegBytes(24, 16, 22),
      jpegBytes(24, 16, 23)))
    val assets = Multimodal.assetsFromBinary(
      Seq((5L, mp4)).toDF("doc_id", "payload"),
      "doc_id", "payload", "video", "mp4")
    val frames = Multimodal.videoFrames(spark, assets)
      .collect().map(f => (f.asset_id, f.frame_idx)).toSet
    assert(frames == Set((5L, 0), (5L, 1), (5L, 2)))
  }

  test("AviCodec extracts MJPEG frames byte-exactly and parses avih meta") {
    import graft.functions.AviCodec
    val fs = Seq(jpegBytes(24, 16, 1), jpegBytes(24, 16, 2), jpegBytes(24, 16, 3))
    val avi = buildAvi(fs, 24, 16, usPerFrame = 33333)
    val meta = AviCodec.parseMeta(avi)
    assert(meta != null)
    assert(meta.width == 24 && meta.height == 16)
    assert(meta.usPerFrame == 33333L && meta.totalFrames == 3)
    assert(meta.handler == "MJPG")
    val got = AviCodec.mjpegFrames(avi)
    assert(got != null && got.length == 3)
    got.zip(fs).foreach { case (g, f) => assert(java.util.Arrays.equals(g, f)) }
    // and the frames really decode through the stock JPEG path
    assert(graft.functions.ImageCodec.lumaGrid(got(0), 8, 8) != null)
  }

  test("AviCodec rejects non-AVI, torn and hostile payloads (null, never throws)") {
    import graft.functions.AviCodec
    assert(AviCodec.parseMeta(null) == null)
    assert(AviCodec.parseMeta(Array.emptyByteArray) == null)
    assert(AviCodec.parseMeta("RIFF....WAVEfmt ".getBytes) == null)
    assert(AviCodec.mjpegFrames(buildMp4()) == null)
    val good = buildAvi(Seq(jpegBytes(8, 8, 1)), 8, 8)
    (1 until good.length by 5).foreach { cut =>
      AviCodec.parseMeta(java.util.Arrays.copyOf(good, cut))
      AviCodec.mjpegFrames(java.util.Arrays.copyOf(good, cut))
    }
    // an AVI whose frame chunks are not JPEGs routes to the stub path
    val notJpeg = buildAvi(Seq(Array[Byte](1, 2, 3, 4)), 8, 8)
    assert(AviCodec.parseMeta(notJpeg) != null)
    assert(AviCodec.mjpegFrames(notJpeg) == null)
    // hostile LIST nesting must hit the depth cap, not StackOverflowError
    def le32(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    var deep = Array.emptyByteArray
    (1 to 5000).foreach(_ => deep = "LIST".getBytes ++ le32(deep.length + 4) ++ "rec ".getBytes ++ deep)
    val hostile = "RIFF".getBytes ++ le32(deep.length + 4) ++ "AVI ".getBytes ++ deep
    assert(AviCodec.parseMeta(hostile) == null)
  }

  test("videoFrames + videoFrameNearDups find the shared frame across real MJPEG assets") {
    import spark.implicits._
    val shared = jpegBytes(24, 16, 7)
    val aviA = buildAvi(Seq(jpegBytes(24, 16, 1), shared), 24, 16)
    val aviB = buildAvi(Seq(shared, jpegBytes(24, 16, 9)), 24, 16)
    val assets = Multimodal.assetsFromBinary(
      Seq((1L, aviA), (2L, aviB)).toDF("doc_id", "payload"),
      "doc_id", "payload", "video", "avi")
    val frames = Multimodal.videoFrames(spark, assets)
      .collect().map(f => (f.asset_id, f.frame_idx)).toSet
    assert(frames == Set((1L, 0), (1L, 1), (2L, 0), (2L, 1)))
    val dups = Multimodal.videoFrameNearDups(spark, assets, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    // identical bytes -> identical dHash -> hamming 0: asset 1 frame 1
    // matches asset 2 frame 0 (and nothing else at hamming 0)
    assert(dups.contains((1L, 1, 2L, 0)), s"got $dups")
    assert(!dups.exists { case (a, f, b, g) => (a, f) == (b, g) })
    // the decode kernel's video branch is REAL now: the AVI featurizes
    // exactly like its own first frame (not like the byte-fold stub)
    val fromAvi = Multimodal.decodeKernel(aviA, 16, 16)
    val fromFrame = Multimodal.decodeKernel(jpegBytes(24, 16, 1), 16, 16)
    assert(fromAvi.toSeq == fromFrame.toSeq)
  }

  test("probeContainerMeta honors AVI containers with real avih metadata") {
    import spark.implicits._
    val avi = buildAvi(Seq(jpegBytes(24, 16, 3)), 24, 16, usPerFrame = 40000)
    val assets = Multimodal.assetsFromBinary(
      Seq((5L, avi)).toDF("doc_id", "payload"),
      "doc_id", "payload", "image", "png") // wrong declared meta on purpose
    val probed = Multimodal.probeContainerMeta(spark, assets).collect()(0)
    assert(probed.meta.media_type == "video")
    assert(probed.meta.format == "avi/mjpg")
    assert(probed.meta.width.contains(24) && probed.meta.height.contains(16))
    assert(probed.meta.duration_ms.contains(40L)) // 40000 us x 1 frame
  }

  test("Mp4Codec + probeContainerMeta honor audio-only BMFF (M4A, hdlr 'soun') as audio") {
    import spark.implicits._
    import graft.functions.Mp4Codec
    // rebuild the fixture with an M4A brand and a sound handler track
    val good = buildMp4()
    val m4a = good.clone()
    def patch(b: Array[Byte], at: Int, v: Array[Byte]): Unit =
      v.indices.foreach(i => b(at + i) = v(i))
    patch(m4a, m4a.toSeq.indexOfSlice("isom".getBytes.toSeq), "M4A ".getBytes)
    patch(m4a, m4a.toSeq.indexOfSlice("vide".getBytes.toSeq), "soun".getBytes)
    // skip the ftyp compatible-brand "avc1" at offset 20 — patch stsd's
    patch(m4a, m4a.toSeq.indexOfSlice("avc1".getBytes.toSeq, 24), "mp4a".getBytes)
    val meta = Mp4Codec.parseMeta(m4a)
    assert(meta != null && meta.handler == "soun" && meta.codec == "mp4a")
    val assets = Multimodal.assetsFromBinary(
      Seq((1L, "x")).toDF("doc_id", "text").withColumn("payload", lit(m4a)),
      "doc_id", "payload", "image", "png")
    val probed = Multimodal.probeContainerMeta(spark, assets).collect()
    assert(probed.length == 1)
    assert(probed(0).meta.media_type == "audio", "soun handler must classify as audio")
    assert(probed(0).meta.format == "mp4/mp4a")
    // and the video fixture still classifies as video
    val vassets = Multimodal.assetsFromBinary(
      Seq((2L, "x")).toDF("doc_id", "text").withColumn("payload", lit(good)),
      "doc_id", "payload", "image", "png")
    assert(Multimodal.probeContainerMeta(spark, vassets).collect()(0)
      .meta.media_type == "video")
  }

  test("probeContainerMeta makes video/audio meta honest, leaves others untouched") {
    import spark.implicits._
    val wav = {
      // 8 kHz mono 16-bit, 4000 samples = 500 ms
      val n = 4000
      val hdr = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hdr.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes).putInt(n * 2)
      (0 until n).foreach(i => hdr.putShort(((i % 64) * 100).toShort))
      hdr.array()
    }
    val rows = Seq(
      (1L, buildMp4(), "declared"),
      (2L, wav, "declared"),
      (3L, "just text bytes".getBytes, "declared"))
      .toDF("asset_id", "payload", "fmt")
    val assets3 = Multimodal.assetsFromBinary(rows, "asset_id", "payload", "unknown", "bin")
    val probed = Multimodal.probeContainerMeta(spark, assets3)
      .collect().map(a => a.asset_id -> a.meta).toMap
    assert(probed(1L).media_type == "video" && probed(1L).format == "mp4/avc1")
    assert(probed(1L).width.contains(640) && probed(1L).height.contains(360))
    assert(probed(1L).duration_ms.contains(90500L))
    assert(probed(2L).media_type == "audio" && probed(2L).format == "wav")
    assert(probed(2L).duration_ms.contains(500L))
    assert(probed(3L).media_type == "unknown" && probed(3L).format == "bin")
    assert(probed(3L).duration_ms.isEmpty)
  }

  test("the media kernels evaluate on a session that registered no function") {
    val bytes = Array.tabulate[Byte](3 * graft.functions.AudioFingerprintKernel.Cells)(i =>
      ((i * 53 + 7) % 127).toByte)
    val out = spark.newSession().createDataFrame(Seq(Tuple1(bytes))).toDF("payload").select(
      graft.functions.ImageExpressions.imageDHash(col("payload")),
      graft.functions.AudioExpressions.audioFingerprint(col("payload"))).head()
    assert(out.getLong(0) == graft.functions.DHashKernel.hash(bytes))
    assert(out.getLong(1) == graft.functions.AudioFingerprintKernel.hash(bytes))
  }
}
