package graft.ops

import graft.job.RowSeam
import graft.job.RowSeam.nonNull
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed in batched per-partition passes.
  *
  * Codec layer (round-2 verdict item 7 — real where pure-JVM code can
  * be, stub seam elsewhere):
  *  - images (BMP/PNG/GIF/JPEG): REAL header decode, pixel decode, resize
  *    and feature extraction via `javax.imageio` — pure-JVM, present in
  *    every JRE, no native libs;
  *  - audio (WAV/PCM): REAL header + sample decode via
  *    `javax.sound.sampled`;
  *  - video (uncompressed-DIB AVI): REAL RIFF container parsing — header,
  *    frame count, per-frame raw BGR decode — in ~100 lines of plain
  *    byte-walking (aviParse); fixture "drawing" spans carry these, so
  *    the gate queries cover a real video container end to end;
  *  - video (MJPEG AVI): REAL compressed-video decode — every '00dc'
  *    chunk is a complete JPEG, handed to the JRE's JPEG reader (the one
  *    compressed codec a bare JVM can decode; fixture '-mjpg' siblings
  *    run it through the gate queries);
  *  - everything else (Cinepak/H.26x/…, JPEG2000, ...): the
  *    clearly-marked deterministic GRFT stub — the documented seam where
  *    a production deployment plugs ffmpeg/opencv.
  *
  * Scale shape (unchanged by the codec): bytes are decoded inside one
  * mapPartitions pass and NEVER cross a shuffle — metadata/features are
  * projected out and the binary column is dropped before any wide
  * operation.
  */
object Multimodal {

  // ImageIO defaults to spooling every ImageInputStream through a temp
  // FILE (FileCacheImageInputStream) — per payload, inside the partition
  // loop. In-memory payloads never need the disk cache; one JVM-wide
  // switch makes every create/read below a MemoryCacheImageInputStream.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(
      doc_id: String,
      media_ref: String,
      kind: String,
      bytes: Array[Byte])

  final case class MediaMeta(
      doc_id: String,
      media_ref: String,
      kind: String,
      format: String,
      width: Int,
      height: Int,
      n_frames: Int,
      bytes_len: Int,
      sha_prefix: String)

  /** Decoded header: container format + dimensions + frame count. For
    * audio, width/height are 0 and `frames` is the PCM frame count.
    */
  final case class MediaHeader(format: String, width: Int, height: Int,
      frames: Int)

  /** Deterministic fake payload: "GRFT" magic + width/height/frames header
    * + seed-derived body. The stand-in for formats the JRE cannot decode.
    */
  def fakePayload(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + 64)
    bb.put("GRFT".getBytes("US-ASCII"))
    bb.putInt(w); bb.putInt(h); bb.putInt(frames)
    val rng = new graft.fixtures.Fixtures.Rng(seed)
    (0 until 64).foreach(_ => bb.put((rng.nextLong() & 0xFF).toByte))
    bb.array()
  }

  /** Deterministic REAL BMP payload: a w×h image whose pixel colors are a
    * pure function of (seed, x, y). BMP (not PNG) because the JDK's BMP
    * encoder is header + raw BGR rows — byte-deterministic across JVMs,
    * no compressor in the loop.
    */
  def bmpPayload(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, patternRgb(seed, x, y))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    out.toByteArray
  }

  /** Deterministic pixel pattern shared by bmpPayload and aviPayload
    * frames (frame f of an AVI uses seed + f): lets tests assert that
    * the AVI raw-frame decode and the BMP ImageIO decode produce
    * IDENTICAL features for the same (seed, w, h).
    */
  private def patternRgb(seed: Long, x: Int, y: Int): Int =
    (Hashing.mix(seed ^ (x.toLong * 73856093L) ^ (y.toLong * 19349663L))
      & 0xFFFFFF).toInt

  /** Deterministic REAL AVI payload: an uncompressed 24-bit DIB video
    * (RIFF/AVI container, 'vids'/'DIB ' stream, bottom-up BGR rows padded
    * to 4 bytes — the classic raw AVI layout). Byte-deterministic: no
    * compressor anywhere. Frame f's pixels follow patternRgb(seed + f).
    */
  def aviPayload(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val frameSize = stride * h
    def frame(f: Int): Array[Byte] = {
      val a = new Array[Byte](frameSize)
      var y = 0
      while (y < h) {
        val row = (h - 1 - y) * stride // bottom-up
        var x = 0
        while (x < w) {
          val rgb = patternRgb(seed + f, x, y)
          a(row + x * 3) = (rgb & 0xFF).toByte // B
          a(row + x * 3 + 1) = ((rgb >> 8) & 0xFF).toByte // G
          a(row + x * 3 + 2) = ((rgb >> 16) & 0xFF).toByte // R
          x += 1
        }
        y += 1
      }
      a
    }
    val bb = java.nio.ByteBuffer.allocate(
      12 + 8 + 4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40 + 8 + 4 +
        frames * (8 + frameSize))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII")): Unit
    val total = bb.capacity()
    fourcc("RIFF"); bb.putInt(total - 8); fourcc("AVI ")
    // LIST hdrl
    fourcc("LIST"); bb.putInt(4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56)
    bb.putInt(100000); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(frames); bb.putInt(0); bb.putInt(1); bb.putInt(frameSize)
    bb.putInt(w); bb.putInt(h)
    (0 until 4).foreach(_ => bb.putInt(0))
    // LIST strl
    fourcc("LIST"); bb.putInt(4 + 8 + 56 + 8 + 40); fourcc("strl")
    fourcc("strh"); bb.putInt(56)
    fourcc("vids"); fourcc("DIB "); bb.putInt(0); bb.putInt(0) // flags, pri+lang
    bb.putInt(0); bb.putInt(1); bb.putInt(10); bb.putInt(0) // init, scale, rate, start
    bb.putInt(frames); bb.putInt(frameSize); bb.putInt(0); bb.putInt(frameSize)
    bb.putLong(0L) // rcFrame
    fourcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(w); bb.putInt(h)
    bb.putShort(1.toShort); bb.putShort(24.toShort)
    bb.putInt(0); bb.putInt(frameSize); bb.putInt(0); bb.putInt(0)
    bb.putInt(0); bb.putInt(0)
    // LIST movi
    fourcc("LIST"); bb.putInt(4 + frames * (8 + frameSize)); fourcc("movi")
    (0 until frames).foreach { f =>
      fourcc("00db"); bb.putInt(frameSize); bb.put(frame(f))
    }
    bb.array()
  }

  /** Deterministic REAL MJPEG AVI payload: same RIFF scaffold as
    * [[aviPayload]] but fccHandler 'MJPG' and '00dc' chunks each holding a
    * complete JPEG image (the MJPEG contract: every frame is an
    * independent baseline JPEG). Frame f's source pixels follow
    * patternRgb(seed + f) — lossy-encoded, so features are CLOSE to the
    * raw-DIB/BMP twin rather than bit-equal (OpsSpec pins the tolerance).
    *
    * Determinism caveat (unlike the hand-rolled bit-exact BMP/DIB
    * payloads): the encoded bytes depend on the JRE's JPEG writer
    * plugin, so the frozen -mjpg golden rows (q17 sha/len, q27 cosines)
    * are pinned to one JDK build — the sandbox runs gate and build on
    * the same JDK, and a JDK upgrade legitimately regenerates them via
    * XOracleGen (the same review-the-diff contract as any intentional
    * kernel change).
    */
  /** One baseline JPEG per frame over the shared deterministic pixel
    * pattern (frame f follows patternRgb(seed + f)) — the sample payload
    * of BOTH compressed-container generators (AVI MJPEG and MP4).
    */
  private def jpegFrames(seed: Long, w: Int, h: Int,
      frames: Int): IndexedSeq[Array[Byte]] =
    (0 until frames).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, patternRgb(seed + f, x, y)); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }

  def aviMjpegPayload(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val encoded = jpegFrames(seed, w, h, frames)
    val moviBody = encoded.map(e => 8 + e.length + (e.length & 1)).sum
    val bb = java.nio.ByteBuffer.allocate(
      12 + 8 + 4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40 + 8 + 4 + moviBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII")): Unit
    val maxLen = encoded.map(_.length).max
    fourcc("RIFF"); bb.putInt(bb.capacity() - 8); fourcc("AVI ")
    fourcc("LIST"); bb.putInt(4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56)
    bb.putInt(100000); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(frames); bb.putInt(0); bb.putInt(1); bb.putInt(maxLen)
    bb.putInt(w); bb.putInt(h)
    (0 until 4).foreach(_ => bb.putInt(0))
    fourcc("LIST"); bb.putInt(4 + 8 + 56 + 8 + 40); fourcc("strl")
    fourcc("strh"); bb.putInt(56)
    fourcc("vids"); fourcc("MJPG"); bb.putInt(0); bb.putInt(0)
    bb.putInt(0); bb.putInt(1); bb.putInt(10); bb.putInt(0)
    bb.putInt(frames); bb.putInt(maxLen); bb.putInt(0); bb.putInt(maxLen)
    bb.putLong(0L)
    fourcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(w); bb.putInt(h)
    bb.putShort(1.toShort); bb.putShort(24.toShort)
    fourcc("MJPG"); bb.putInt(maxLen); bb.putInt(0); bb.putInt(0)
    bb.putInt(0); bb.putInt(0)
    fourcc("LIST"); bb.putInt(4 + moviBody); fourcc("movi")
    encoded.foreach { e =>
      fourcc("00dc"); bb.putInt(e.length); bb.put(e)
      if ((e.length & 1) == 1) bb.put(0.toByte) // RIFF even padding
    }
    bb.array()
  }

  /** Deterministic MJPEG-in-MP4 (ISO BMFF / QuickTime box structure)
    * payload — the MOV/MP4 twin of [[aviMjpegPayload]]: `ftyp` + `mdat`
    * holding one complete baseline JPEG per sample + `moov` with REAL
    * sample tables (`tkhd` 16.16 dims, `stsd` entry fourcc 'jpeg',
    * `stts`/`stsc`/`stsz`/`stco`). Box lengths are big-endian, unlike
    * RIFF's little-endian — the two container walks share only the JPEG
    * frame bytes. Same JDK-pinned determinism caveat as
    * aviMjpegPayload (the JPEG writer plugin).
    */
  def mp4MjpegPayload(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val enc = jpegFrames(seed, w, h, frames)
    def be(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def be2(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(2).putShort(v.toShort).array()
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val len = 8 + parts.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len); bb.put(ascii(typ)); parts.foreach(bb.put)
      bb.array()
    }
    val matrix = Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      .flatMap(be)
    val duration = frames * 40
    val ftyp = box("ftyp", ascii("isom"), be(0), ascii("isom"), ascii("mp41"))
    val mdat = box("mdat", enc.flatten.toArray)
    // absolute sample offsets: mdat payload starts after ftyp + 8-byte
    // mdat header — computed BEFORE moov because moov trails the mdat
    val base = ftyp.length + 8
    val offsets = enc.scanLeft(base)(_ + _.length).init
    val mvhd = box("mvhd", be(0), be(0), be(0), be(1000), be(duration),
      be(0x00010000), be2(0x0100), be2(0), be(0), be(0), matrix,
      Array.fill(24)(0.toByte), be(2))
    val tkhd = box("tkhd", be(7), be(0), be(0), be(1), be(0), be(duration),
      be(0), be(0), be2(0), be2(0), be2(0), be2(0), matrix,
      be(w << 16), be(h << 16))
    val mdhd = box("mdhd", be(0), be(0), be(0), be(1000), be(duration),
      be2(0x55C4), be2(0))
    val hdlr = box("hdlr", be(0), be(0), ascii("vide"), be(0), be(0), be(0),
      Array(0.toByte))
    val vmhd = box("vmhd", be(1), be(0), be2(0), be2(0))
    val dinf = box("dinf", box("dref", be(0), be(1), box("url ", be(1))))
    val entry = box("jpeg",
      Array.fill(6)(0.toByte), be2(1),        // reserved + data_ref_index
      be2(0), be2(0), be(0), be(0), be(0),    // pre_defined / reserved
      be2(w), be2(h), be(0x00480000), be(0x00480000), be(0),
      be2(1), Array.fill(32)(0.toByte),       // frame_count + compressor
      be2(24), be2(0xFFFF))
    val stsd = box("stsd", be(0), be(1), entry)
    val stts = box("stts", be(0), be(1), be(frames), be(40))
    val stsc = box("stsc", be(0), be(1), be(1), be(1), be(1))
    val stsz = box("stsz", be(0), be(0), be(frames),
      enc.toArray.flatMap(e => be(e.length)))
    val stco = box("stco", be(0), be(frames), offsets.toArray.flatMap(be))
    val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
    val minf = box("minf", vmhd, dinf, stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    ftyp ++ mdat ++ moov
  }

  private def isMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  /** Minimal real ISO BMFF (MP4/MOV) walk — the big-endian counterpart
    * of [[aviParse]]: `tkhd` dims of the first video trak, the sample
    * table resolved to absolute (offset, length) frames via
    * stsc/stsz/stco (co64 accepted for the offsets), and the codec
    * bucket from the `stsd` entry fourcc:
    *
    *  - "mjpg": each sample is an independent JPEG ('jpeg' — the
    *    QuickTime photo-JPEG convention our generator writes — or the
    *    MJPEG variants mjpa/dmb1);
    *  - "other": any real inter-frame codec (avc1/hvc1/mp4v/…) — frame
    *    bytes are NOT independently decodable; features degrade to the
    *    documented hash seam.
    *
    * Fails loudly on a box soup without moov/trak/stbl — never a silent
    * (0,0,0). 64-bit `largesize` boxes are followed; version-1 tables
    * where only version 0 is generated (tkhd/mdhd) are still read.
    */
  private def mp4Parse(b: Array[Byte]): (MediaHeader, Seq[(Int, Int)], String) = {
    val bb = java.nio.ByteBuffer.wrap(b) // ISO BMFF is big-endian
    def typOf(off: Int): String = new String(b, off + 4, 4, "US-ASCII")
    // all children named `name` inside [start, end): (payloadStart, end)
    def boxes(start: Int, end: Int, name: String): Vector[(Int, Int)] = {
      val out = Vector.newBuilder[(Int, Int)]
      var off = start
      while (off + 8 <= end) {
        var size = bb.getInt(off).toLong & 0xFFFFFFFFL
        var hdr = 8
        if (size == 1 && off + 16 <= end) { size = bb.getLong(off + 8); hdr = 16 }
        else if (size == 0) size = (end - off).toLong
        require(size >= hdr && off + size <= end, "bad MP4 box size")
        if (typOf(off) == name) out += ((off + hdr, (off + size).toInt))
        off += size.toInt
      }
      out.result()
    }
    def first(start: Int, end: Int, name: String): (Int, Int) = {
      val v = boxes(start, end, name)
      require(v.nonEmpty, s"MP4 without $name box")
      v.head
    }
    val (moovS, moovE) = first(0, b.length, "moov")
    // first VIDEO trak (hdlr 'vide'), else the first trak
    val traks = boxes(moovS, moovE, "trak")
    require(traks.nonEmpty, "MP4 without trak box")
    val trak = traks.find { case (ts, te) =>
      try {
        val (ms, me) = first(ts, te, "mdia")
        val (hs, _) = first(ms, me, "hdlr")
        new String(b, hs + 8, 4, "US-ASCII") == "vide"
      } catch { case _: Exception => false }
    }.getOrElse(traks.head)
    val (tkS, tkE) = first(trak._1, trak._2, "tkhd")
    val tkVer = b(tkS) & 0xFF
    val dimOff = tkS + (if (tkVer == 1) 88 else 76)
    require(dimOff + 8 <= tkE, "short tkhd")
    val w = bb.getInt(dimOff) >>> 16
    val h = bb.getInt(dimOff + 4) >>> 16
    val (mdS, mdE) = first(trak._1, trak._2, "mdia")
    val (mnS, mnE) = first(mdS, mdE, "minf")
    val (stS, stE) = first(mnS, mnE, "stbl")
    // stsd entry fourcc -> codec bucket
    val (sdS, _) = first(stS, stE, "stsd")
    val fourcc = new String(b, sdS + 8 + 4, 4, "US-ASCII")
      .toLowerCase(java.util.Locale.ROOT).trim
    val codec = if (Set("jpeg", "mjpa", "mjpb", "mjpg", "dmb1")(fourcc))
      "mjpg" else "other"
    // stsz: fixed size or per-sample table
    val (szS, szE) = first(stS, stE, "stsz")
    val fixedSize = bb.getInt(szS + 4)
    val nSamples = bb.getInt(szS + 8)
    require(nSamples >= 0 && (fixedSize != 0 ||
      szS + 12 + 4L * nSamples <= szE), "short stsz")
    def sizeOf(i: Int): Int =
      if (fixedSize != 0) fixedSize else bb.getInt(szS + 12 + 4 * i)
    // chunk offsets: stco (32-bit) or co64
    val chunkOffsets: IndexedSeq[Long] = {
      val co = boxes(stS, stE, "stco")
      if (co.nonEmpty) {
        val (cS, _) = co.head
        val n = bb.getInt(cS + 4)
        (0 until n).map(i => (bb.getInt(cS + 8 + 4 * i).toLong) & 0xFFFFFFFFL)
      } else {
        val (cS, _) = first(stS, stE, "co64")
        val n = bb.getInt(cS + 4)
        (0 until n).map(i => bb.getLong(cS + 8 + 8 * i))
      }
    }
    // stsc runs -> samples per chunk (chunk c uses the last run whose
    // first_chunk <= c)
    val (scS, _) = first(stS, stE, "stsc")
    val nRuns = bb.getInt(scS + 4)
    val runs = (0 until nRuns).map(i =>
      (bb.getInt(scS + 8 + 12 * i), bb.getInt(scS + 8 + 12 * i + 4)))
    def samplesPerChunk(c1: Int): Int = {
      var spc = 1
      runs.foreach { case (fc, s) => if (fc <= c1) spc = s }
      spc
    }
    val frames = Vector.newBuilder[(Int, Int)]
    var sample = 0
    var ci = 0
    while (ci < chunkOffsets.length && sample < nSamples) {
      var off = chunkOffsets(ci)
      var k = 0
      val spc = samplesPerChunk(ci + 1)
      while (k < spc && sample < nSamples) {
        val len = sizeOf(sample)
        require(off + len <= b.length, "MP4 sample past end of file")
        frames += ((off.toInt, len))
        off += len; sample += 1; k += 1
      }
      ci += 1
    }
    (MediaHeader("mp4", w, h, nSamples), frames.result(), codec)
  }

  private def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** Minimal real RIFF/AVI walk: header (w, h, total frames), the
    * frame-chunk offsets, and the video codec class:
    *  - "dib": raw uncompressed DIB (fccHandler 'DIB '/zero AND only
    *    '00db' frame chunks) — decoded by the hand-rolled row walk;
    *  - "mjpg": Motion-JPEG (fccHandler 'MJPG', '00dc' chunks each a
    *    complete baseline JPEG) — decodable per frame by the JRE's JPEG
    *    reader;
    *  - "other": any compressed codec the JVM cannot decode (the stub
    *    seam).
    * Fails loudly on a container without an 'avih' header — never a
    * silent (0,0,0).
    */
  private def aviParse(b: Array[Byte]): (MediaHeader, Seq[(Int, Int)], String) = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var header: MediaHeader = null
    var codec = "dib"
    var sawDc = false
    val frames = Seq.newBuilder[(Int, Int)]
    def fourcc(off: Int): String =
      new String(b, off, 4, "US-ASCII")
    def walk(start: Int, end: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = fourcc(off)
        val size = bb.getInt(off + 4)
        // long arithmetic: a crafted size near Int.MaxValue overflows
        // `off + 8 + size` and would slip past an int bounds check
        require(size >= 0 && off.toLong + 8L + size <= end, s"corrupt AVI chunk $id")
        if (id == "LIST") walk(off + 12, off + 8 + size)
        else if (id == "avih") {
          require(size >= 40, "short avih")
          header = MediaHeader("avi", bb.getInt(off + 8 + 32),
            bb.getInt(off + 8 + 36), bb.getInt(off + 8 + 16))
        } else if (id == "strh" && size >= 8 && fourcc(off + 8) == "vids") {
          val handler = fourcc(off + 12)
          codec =
            // raw handlers: 'DIB ' or the all-zero fourcc
            if (handler == "DIB " || handler == "\u0000\u0000\u0000\u0000") "dib"
            else if (handler.equalsIgnoreCase("MJPG")) "mjpg"
            else "other"
        } else if (id == "00db" || id == "00dc") {
          if (id == "00dc") sawDc = true
          frames += ((off + 8, size))
        }
        off += 8 + size + (size & 1) // chunks pad to even
      }
    }
    walk(12, b.length)
    require(header != null, "AVI without avih header")
    // a 'DIB ' handler with compressed ('00dc') frame chunks is lying —
    // treat as undecodable rather than walking JPEG bytes as raw rows
    if (codec == "dib" && sawDc) codec = "other"
    (header, frames.result(), codec)
  }

  private def isGrft(b: Array[Byte]): Boolean =
    b.length >= 16 && b(0) == 'G' && b(1) == 'R' && b(2) == 'F' && b(3) == 'T'

  private def isWav(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Header-only decode: format sniff + dimensions + frame count. Image
    * headers are read via an ImageReader WITHOUT decoding pixel data (the
    * reader seeks width/height from the header); WAV via the audio file
    * format; GRFT from the stub header. Unknown magic fails loudly — a
    * silent (0,0,0) would flow into downstream joins as a fake datum.
    */
  def decodeMeta(bytes: Array[Byte]): MediaHeader = {
    if (isGrft(bytes)) {
      val bb = java.nio.ByteBuffer.wrap(bytes, 4, 12)
      return MediaHeader("grft", bb.getInt, bb.getInt, bb.getInt)
    }
    if (isAvi(bytes)) return aviParse(bytes)._1
    if (isMp4(bytes)) return mp4Parse(bytes)._1
    if (isWav(bytes)) {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      // NOT_SPECIFIED (-1) must not flow downstream as a fake frame count
      require(aff.getFrameLength >= 0,
        "wav without a definite data-chunk frame length " +
          "(AudioSystem.NOT_SPECIFIED) — refuse rather than emit -1")
      return MediaHeader("wav", 0, 0, aff.getFrameLength)
    }
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "unknown media format (no JRE codec; " +
        "GRFT-wrap the payload or plug a codec at the decode seam)")
      val r = readers.next()
      try {
        r.setInput(iis)
        val fmt = r.getFormatName.toLowerCase(java.util.Locale.ROOT)
        val frames = if (fmt == "gif") r.getNumImages(true) else 1
        MediaHeader(fmt, r.getWidth(0), r.getHeight(0), frames)
      } finally r.dispose()
    } finally iis.close()
  }

  /** Back-compat stub-header accessor (GRFT payloads only). */
  def decodeHeader(bytes: Array[Byte]): (Int, Int, Int) = {
    val m = decodeMeta(bytes)
    require(m.format == "grft", s"decodeHeader is the stub accessor; got ${m.format}")
    (m.width, m.height, m.frames)
  }

  /** Batched metadata extraction: one pass per partition, bytes never
    * shuffled (metadata projected out; the binary column is dropped before
    * any wide operation). Undecodable rows drop through
    * [[graft.job.RowSeam]]: a crawled corpus WILL hold unknown-magic and
    * truncated payloads.
    */
  def extractMeta(media: DataFrame,
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      RowSeam(rows, failedAcc)(_.doc_id) { m =>
        nonNull(m.doc_id, "doc_id")
        val h = decodeMeta(m.bytes)
        md.reset()
        val digest = md.digest(m.bytes).take(4).map("%02x".format(_)).mkString
        MediaMeta(m.doc_id, m.media_ref, m.kind, h.format,
          h.width, h.height, h.frames, m.bytes.length, digest)
      }
    }.toDF()
  }

  /** Frame-sampling shape: emits (doc_id, media_ref, frame_idx) rows for
    * every `stride`-th frame with the half-size output dims a thumbnail
    * pipeline would target — the batch/explode shape, metadata only (a
    * real video pipeline decodes pixels at the same seam `resize` uses).
    * Undecodable rows drop through [[graft.job.RowSeam]].
    */
  def sampleFrames(media: DataFrame, stride: Int,
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(rows => RowSeam(rows, failedAcc)(_.doc_id) { m =>
      nonNull(m.doc_id, "doc_id")
      val h = decodeMeta(m.bytes)
      // audio has no visual frames to thumbnail: a WAV's PCM frame count
      // is sample frames (tens of thousands per second), not the unit
      // this operator models — emit nothing rather than exploding one
      // row per stride-th audio sample. The frame rows are built lazily,
      // after the seam: only the decode above can throw.
      if (h.format == "wav") Iterator.empty
      else (0 until h.frames by stride).iterator
        .map(i => (m.doc_id, m.media_ref, i, h.width / 2, h.height / 2))
    }.flatten).toDF("doc_id", "media_ref", "frame_idx", "out_w", "out_h")
  }

  /** Resize to fit maxDim: REAL bilinear downscale + re-encode for
    * JRE-decodable single-frame images (BMP/PNG/GIF/JPEG in, BMP out —
    * the deterministic encoder); GRFT payloads re-encode the stub header
    * with clamped dims (the seam); WAV (dimension-less) and multi-frame
    * images (animated GIF — frame-accurate transforms belong at the
    * production video seam) pass through unchanged rather than silently
    * losing frames. Binary-in / binary-out inside one mapPartitions pass,
    * never across a shuffle. Undecodable rows drop through
    * [[graft.job.RowSeam]] — passing a broken payload through unchanged
    * would just defer the failure to the next decoder.
    */
  def resize(media: DataFrame, maxDim: Int,
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(rows => RowSeam(rows, failedAcc)(_.doc_id) { m =>
      nonNull(m.doc_id, "doc_id")
      val h = decodeMeta(m.bytes)
      h.format match {
        case "grft" =>
          val scale = math.min(1.0, maxDim.toDouble / math.max(h.width, h.height))
          val nw = math.max(1, (h.width * scale).toInt)
          val nh = math.max(1, (h.height * scale).toInt)
          val bb = java.nio.ByteBuffer.allocate(m.bytes.length)
          bb.put("GRFT".getBytes("US-ASCII"))
          bb.putInt(nw); bb.putInt(nh); bb.putInt(h.frames)
          bb.put(m.bytes, 16, m.bytes.length - 16)
          m.copy(bytes = bb.array())
        case "wav" => m
        // video containers and multi-frame images (AVI, MP4, animated
        // GIF): frame-accurate transforms belong at the video seam
        // (ffmpeg in production) — passing through unchanged beats
        // silently re-encoding frame 0 as a 1-frame BMP and dropping
        // the rest
        case "avi" | "mp4" => m
        case _ if h.frames > 1 => m
        case _ =>
          val scale = math.min(1.0, maxDim.toDouble / math.max(h.width, h.height))
          if (scale >= 1.0) m
          else {
            val src = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(m.bytes))
            // header sniffed OK but full decode failed: read returns
            // null — fail this ROW
            require(src != null, "image decode returned null")
            val nw = math.max(1, (h.width * scale).toInt)
            val nh = math.max(1, (h.height * scale).toInt)
            val dst = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            val g = dst.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, nw, nh, null): Unit
            } finally g.dispose()
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(dst, "bmp", out)
            m.copy(bytes = out.toByteArray)
          }
      }
    }).toDF()
  }

  /** Feature extraction: binary -> dense Array[Float] embedding with the
    * `embeddings`-table schema (vec-per-media), composing directly with
    * Similarity.bruteForceTopK / ivfTopK / cosineNearDupPairs — the media
    * near-dup path.
    *
    *  - JRE-decodable images: REAL content features — a sqrt(dim) ×
    *    sqrt(dim) grid of per-cell mean luminances, centered at 0 (the
    *    classic tiny-thumbnail descriptor; identical images ⇒ identical
    *    vectors, near-identical ⇒ high cosine). `dim` must be a perfect
    *    square on this path.
    *  - WAV audio: `dim` equal windows of centered mean |amplitude| of
    *    channel 0 — the matching 1-D energy profile.
    *  - GRFT / unknown: deterministic hash-derived pseudo-features (the
    *    stub seam — stands in for a CNN/CLIP forward pass).
    *
    * A row that fails [[graft.job.RowSeam]] is replaced by its hash
    * features, not dropped.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16,
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(rows => RowSeam(rows, failedAcc)(_.doc_id)({ m =>
      nonNull(m.doc_id, "doc_id")
      (m.doc_id, m.media_ref, featureVector(nonNull(m.bytes, "bytes"), dim).toSeq)
    }, (m, _) =>
      // degrade, don't drop: a row that loses its content features still
      // keeps its identity for downstream joins — hash features are the
      // same deterministic stand-in the GRFT seam uses (a null bytes cell
      // hashes the empty payload); a row with no id has none to keep
      if (m.doc_id == null) null
      else (m.doc_id, m.media_ref, hashFeatures(
        if (m.bytes == null) Array.emptyByteArray else m.bytes, dim).toSeq)
    )).toDF("doc_id", "media_ref", "embedding")
  }

  /** Perceptual average-hash (aHash) per media payload — the classic
    * image-dedup signature (LAION's pipeline used perceptual hashing for
    * exactly this stage): the payload's 8x8 grid-luminance features
    * ([[extractFeatures]] dim=64 — the SAME decode seam every media
    * operator shares, so BMP/PNG/GIF/JPEG stills and AVI/MP4 first
    * frames all hash through one kernel), each cell thresholded against
    * the grid mean, 64 bits packed MSB-first in row-major cell order.
    * Emits extractFeatures' rows plus `ahash` (long). Failure seam
    * inherited: a non-decodable payload degrades to its deterministic
    * hash-feature stand-in (counted via failedAcc), so its aHash is a
    * stable pseudo-signature rather than a dropped row.
    *
    * The threshold fold is pure Column work over the feature array —
    * the mean is STAGED into its own projected column so the 64-step
    * fold doesn't recompute it per bit (the q62/optOutSignals staging
    * rule).
    */
  def perceptualHash(media: DataFrame,
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val feats = extractFeatures(media, dim = 64, failedAcc = failedAcc)
    val f = col("embedding")
    feats
      .withColumn("__mean",
        aggregate(f, lit(0.0d), (acc, x) => acc + x) / size(f))
      .withColumn("ahash",
        aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) =>
          shiftleft(acc, 1) + when(
            element_at(f, i + 1) > col("__mean"), lit(1L)).otherwise(lit(0L))))
      .drop("__mean")
  }

  /** Image near-duplicate pairs by perceptual hash: aHash each payload,
    * then the signature-generic hamming layer
    * ([[Dedup.hammingNearDupPairs]] — radius-derived banding, recall
    * 1.0 by pigeonhole, exact popcount verify). Pair ids are
    * `md5_long(doc_id:media_ref)` — the q27 vec-id convention, so the
    * cosine-feature and hash-based dedups name the same payloads the
    * same way. Scale shape: the band join shuffles 16-byte (id, sig)
    * rows; payload bytes never leave the feature-extraction scan task.
    */
  def imageNearDupByHash(media: DataFrame, maxHamming: Int = 2,
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    graft.functions.GraftFunctions.register(media.sparkSession)
    val sigs = perceptualHash(media, failedAcc)
      .select(call_function("md5_long",
        concat(col("doc_id"), lit(":"), col("media_ref"))).as("id"),
        col("ahash").as("sig"))
    Dedup.hammingNearDupPairs(sigs, maxHamming)
  }

  /** Single-payload feature kernel (see extractFeatures). */
  def featureVector(bytes: Array[Byte], dim: Int): Array[Float] = {
    val h = decodeMeta(bytes)
    h.format match {
      case "grft" => hashFeatures(bytes, dim)
      case "wav" => wavFeatures(bytes, dim)
      case "avi" => aviGridFeatures(bytes, dim)
      case "mp4" => mp4GridFeatures(bytes, dim)
      case _ => imageGridFeatures(bytes, dim)
    }
  }

  /** Grid-luminance features over an AVI's FIRST frame.
    *
    *  - raw-DIB AVIs: decoded straight from the bottom-up BGR rows —
    *    arithmetic identical to imageGridFeatures (same traversal order,
    *    same BT.601 luma), so the same pixels produce bit-equal features
    *    whichever container they arrive in (OpsSpec pins BMP ==
    *    AVI-frame-0);
    *  - MJPEG AVIs: frame 0's '00dc' chunk IS a complete JPEG — decoded
    *    with the JRE's JPEG reader, then the same grid accumulator
    *    (features are lossy-close, not bit-equal, to the raw twin);
    *  - other compressed codecs (Cinepak/…) and frame-less/short
    *    containers fall back to the deterministic hash features: that IS
    *    the documented stub seam for codecs the JVM cannot decode, and
    *    one such file must degrade its own features, not abort the whole
    *    Spark job from inside mapPartitions.
    */
  private def aviGridFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val side = math.sqrt(dim.toDouble).toInt
    require(side * side == dim,
      s"image grid features need a perfect-square dim, got $dim")
    val (hdr, frames, codec) = aviParse(bytes)
    val (w, ht) = (hdr.width, hdr.height)
    if (codec == "mjpg" && frames.nonEmpty) {
      val (off, len) = frames.head
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes, off, len))
      // truncated/non-JPEG frame bytes: ImageIO returns null — FAIL this
      // payload (the kernel is loud; the extractFeatures seam catches,
      // counts, and degrades — a silent fallback here would hide the
      // loss from failedAcc)
      require(img != null, "MJPEG frame-0 decode returned null")
      return bufferedImageGrid(img, side)
    }
    val stride = (w * 3 + 3) & ~3
    if (codec != "dib" || frames.isEmpty || frames.head._2 < stride * ht)
      return hashFeatures(bytes, dim)
    gridFromDib(bytes, w, ht, stride, frames.head._1, side)
  }

  /** Grid-luminance features over an MP4's FIRST sample — the ISO BMFF
    * twin of [[aviGridFeatures]]'s MJPEG branch: photo-JPEG samples
    * ('jpeg'/mjpa/dmb1 stsd entries) are independent JPEGs, decoded with
    * the JRE reader into the same grid accumulator; inter-frame codecs
    * (avc1/…) degrade to the documented hash seam.
    */
  private def mp4GridFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val side = math.sqrt(dim.toDouble).toInt
    require(side * side == dim,
      s"image grid features need a perfect-square dim, got $dim")
    val (_, frames, codec) = mp4Parse(bytes)
    if (codec == "mjpg" && frames.nonEmpty) {
      val (off, len) = frames.head
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes, off, len))
      require(img != null, "MP4 JPEG sample-0 decode returned null")
      bufferedImageGrid(img, side)
    } else hashFeatures(bytes, dim)
  }

  private def gridFromDib(bytes: Array[Byte], w: Int, ht: Int, stride: Int,
      off: Int, side: Int): Array[Float] = {
    // caller guards frame length >= stride * ht before dispatching here
    gridAccumulate(w, ht, side, { (x, y) =>

      val row = off + (ht - 1 - y) * stride // bottom-up rows
      val b = bytes(row + x * 3) & 0xFF
      val g = bytes(row + x * 3 + 1) & 0xFF
      val r = bytes(row + x * 3 + 2) & 0xFF
      (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
    })
  }

  private def hashFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val base = Hashing.fnv1a(bytes)
    Array.tabulate(dim) { i =>
      ((Hashing.seeded(base, i.toLong) >>> 11) * 1.1102230246251565e-16 * 2 - 1).toFloat
    }
  }

  /** Shared grid-luminance accumulator: both image decoders feed per-pixel
    * BT.601 luma into the SAME traversal (y outer asc, x inner asc) and
    * the same cell/sum arithmetic — factoring it makes the "bit-equal
    * features whichever container the pixels arrive in" property true by
    * construction (OpsSpec pins BMP == AVI-frame-0).
    */
  private def gridAccumulate(w: Int, h: Int, side: Int,
      lum: (Int, Int) => Double): Array[Float] = {
    val dim = side * side
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var y = 0
    while (y < h) {
      val cy = math.min(side - 1, y * side / h)
      var x = 0
      while (x < w) {
        val cx = math.min(side - 1, x * side / w)
        val c = cy * side + cx
        sums(c) += lum(x, y); counts(c) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(dim)(i =>
      (if (counts(i) == 0) 0.0 else sums(i) / counts(i) - 0.5).toFloat)
  }

  private def imageGridFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val side = math.sqrt(dim.toDouble).toInt
    require(side * side == dim,
      s"image grid features need a perfect-square dim, got $dim")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    // header sniffed OK but the full decode failed: ImageIO.read returns
    // null rather than throwing — fail LOUDLY (never NPE) so the operator
    // seam above counts the degrade; a silent hash fallback here would
    // make half the failure modes invisible to failedAcc
    require(img != null, "image decode returned null")
    bufferedImageGrid(img, side)
  }

  /** Decoded-image face of [[gridAccumulate]], shared by the still-image
    * and MJPEG paths.
    */
  private def bufferedImageGrid(img: java.awt.image.BufferedImage,
      side: Int): Array[Float] =
    gridAccumulate(img.getWidth, img.getHeight, side, { (x, y) =>
      val rgb = img.getRGB(x, y)
      // ITU-R BT.601 luma in [0,1]
      (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
        0.114 * (rgb & 0xFF)) / 255.0
    })

  private def wavFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16,
        s"wav features support 16-bit signed PCM, got $fmt")
      val raw = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val stride = fmt.getChannels // channel 0 of each frame
      val n = raw.length / 2 / stride
      val sums = new Array[Double](dim)
      val counts = new Array[Long](dim)
      var i = 0
      while (i < n) {
        val s = bb.getShort(i * stride * 2) / 32768.0
        val wnd = math.min(dim - 1, i * dim / math.max(1, n))
        sums(wnd) += math.abs(s); counts(wnd) += 1
        i += 1
      }
      Array.tabulate(dim)(i =>
        (if (counts(i) == 0) 0.0 else sums(i) / counts(i) - 0.25).toFloat)
    } finally in.close()
  }

  /** Deterministic synthetic media table derived from a docs table's media
    * spans: image spans carry REAL BMP payloads (the javax.imageio path);
    * drawing spans carry REAL uncompressed-DIB AVI payloads (the RIFF
    * video path). Each image span additionally yields an animated sibling
    * row (`<ref>-anim`, kind "drawing", 8-frame AVI), so corpora whose
    * spans are all stills — like the fixture corpus — still exercise the
    * video container end-to-end in the q17/q18/q27 gate queries.
    */
  def syntheticMediaFor(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind").isin("image", "drawing"))
      .select(col("doc_id"), col("s.media_ref").as("media_ref"), col("s.kind").as("kind"))
      .as[(String, String, String)]
      .flatMap { case (d, ref, k) =>
        def dims(r: String): (Long, Int, Int) = {
          val seed = Hashing.fnv1a(r)
          (seed, 64 + (Hashing.mix(seed) & 0x3F).toInt,
            64 + (Hashing.mix(seed + 1) & 0x3F).toInt)
        }
        val (seed, w, h) = dims(ref)
        if (k == "image") {
          val (aSeed, aw, ah) = dims(ref + "-anim")
          val (mSeed, mw, mh) = dims(ref + "-mjpg")
          val (pSeed, pw, ph) = dims(ref + "-mp4")
          Iterator(
            MediaRow(d, ref, k, bmpPayload(seed, w, h)),
            MediaRow(d, ref + "-anim", "drawing", aviPayload(aSeed, aw, ah, 8)),
            // MJPEG sibling: the compressed-video decode path (JRE JPEG
            // reader per frame) is exercised by the gate queries too
            MediaRow(d, ref + "-mjpg", "drawing", aviMjpegPayload(mSeed, mw, mh, 4)),
            // MP4 sibling: the ISO BMFF container walk (big-endian box
            // soup, sample tables) with the same photo-JPEG samples
            MediaRow(d, ref + "-mp4", "drawing", mp4MjpegPayload(pSeed, pw, ph, 4)))
        } else
          Iterator(MediaRow(d, ref, k, aviPayload(seed, w, h, 8)))
      }.toDF()
  }
}
