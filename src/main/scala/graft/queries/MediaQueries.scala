package graft
package queries

import graft.functions.{VectorFunctions => VF}
import graft.operators.Multimodal
import graft.queries.Common._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Family m: multimodal binary columns (media headers, pixel and sample
  * decoders over deterministic fixture encoders).
  */
object MediaQueries {

  /** m6 fixture ENCODER: a spec-layout 24bpp BMP for variant v —
    * w = 1+(v%4), h = 1+(v/4), pixel (x, y in logical top-down coords)
    * channels B/G/R = (v·7+x·3+y·5, v·11+x+y·2, v·13+x·2+y) mod 256 —
    * written bottom-up with 4-byte row padding per the BMP spec. The
    * oracle replays only the FORMULA; the decoder reads only the
    * BYTES; neither sees this builder's row loop, so a decode bug
    * (row order, padding, channel order) cannot cancel out.
    */
  private def m6BmpHex(v: Int): String = {
    val w = 1 + (v % 4)
    val h = 1 + (v / 4)
    val rowSize = (w * 3 + 3) / 4 * 4
    val imgSize = rowSize * h
    val bb = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize).putInt(0)
      .putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24).putInt(0)
      .putInt(imgSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (yPhys <- 0 until h) {
      val y = h - 1 - yPhys // bottom-up: first stored row is the last logical one
      for (x <- 0 until w) {
        bb.put(((v * 7 + x * 3 + y * 5) % 256).toByte)
        bb.put(((v * 11 + x + y * 2) % 256).toByte)
        bb.put(((v * 13 + x * 2 + y) % 256).toByte)
      }
      for (_ <- 0 until rowSize - w * 3) bb.put(0.toByte)
    }
    bb.array().map("%02X".format(_)).mkString
  }

  /** m11 fixture ENCODER: an 8-bit truecolor PNG for variant v —
    * w = 1+(v%4), h = 1+(v/4), pixel (x, y) channels
    * R/G/B = (v·7+x·3+y·5, v·11+x+y·2, v·13+x·2+y) mod 256; row y
    * filters with PNG filter type (y+v) mod 5, so ALL FIVE defilter
    * paths are load-bearing across the 16 variants, at varying row
    * positions. The IDAT stream deflates with the JDK Deflater and
    * splits into two chunks whenever it can (the chunk-concatenation
    * path), every chunk CRC32-stamped. The oracle replays only the
    * FORMULA (see [[m6BmpHex]]'s independence argument).
    */
  private def m11PngHex(v: Int): String = {
    val w = 1 + (v % 4); val h = 1 + (v / 4)
    def px(x: Int, y: Int): Array[Int] = Array(
      (v * 7 + x * 3 + y * 5) % 256,
      (v * 11 + x + y * 2) % 256,
      (v * 13 + x * 2 + y) % 256)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val stride = 3 * w
    val rows = Array.tabulate(h, stride)((y, i) => px(i / 3, y)(i % 3))
    val filtered = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val f = (y + v) % 5
      filtered.write(f)
      for (i <- 0 until stride) {
        val left = if (i >= 3) rows(y)(i - 3) else 0
        val up = if (y > 0) rows(y - 1)(i) else 0
        val ul = if (y > 0 && i >= 3) rows(y - 1)(i - 3) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        filtered.write((rows(y)(i) - pred) & 0xff)
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered.toByteArray); defl.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(tag.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val cb = comp.toByteArray
    val (c1, c2) = cb.splitAt(cb.length / 2)
    val idat =
      if (c1.nonEmpty && c2.nonEmpty) chunk("IDAT", c1) ++ chunk("IDAT", c2)
      else chunk("IDAT", cb)
    val all = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ chunk("IHDR", ihdr) ++ idat ++
      chunk("IEND", Array.emptyByteArray)
    all.map("%02X".format(_)).mkString
  }

  /** m12 fixture ENCODER: a single-frame GIF89a for variant v —
    * w = 1+(v%4), h = 1+(v/4), a 4-color global color table with
    * entry j = (R,G,B) = ((v·7+j·31)%256, (v·11+j·17)%256,
    * (v·13+j·23)%256) and pixel index(x,y) = (x + 2y + v) % 4 —
    * compressed by a REAL greedy GIF-LZW encoder ([[m12LzwEncode]])
    * and preceded by a graphic-control extension so the decoder's
    * sub-block skip path is load-bearing. The oracle replays only the
    * FORMULA; the decoder reads only the BYTES (see [[m6BmpHex]]'s
    * independence argument).
    */
  private def m12GifHex(v: Int): String = {
    val w = 1 + (v % 4); val h = 1 + (v / 4)
    val idx = Array.tabulate(w * h)(i => ((i % w) + 2 * (i / w) + v) % 4)
    val out = new java.io.ByteArrayOutputStream()
    def le16(x: Int): Unit = { out.write(x & 0xff); out.write((x >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0x80 | 0x01) // GCT present, size bits 1 => 4 entries
    out.write(0); out.write(0) // background index, aspect
    for (j <- 0 until 4) {
      out.write((v * 7 + j * 31) % 256)
      out.write((v * 11 + j * 17) % 256)
      out.write((v * 13 + j * 23) % 256)
    }
    // graphic-control extension — skipped by sub-block walking
    out.write(0x21); out.write(0xf9); out.write(4)
    out.write(0); le16(0); out.write(0); out.write(0)
    // image descriptor: full frame, no local table, no interlace
    out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(0)
    val minCode = 2
    out.write(minCode)
    val packed = m12LzwEncode(idx, minCode)
    var off = 0
    while (off < packed.length) {
      val n = math.min(255, packed.length - off)
      out.write(n); out.write(packed, off, n); off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray.map("%02X".format(_)).mkString
  }

  /** Greedy GIF-LZW compress with the DECODER-aligned width cadence:
    * codes pack LSB-first; the write width bumps exactly when the
    * decoder's dictionary (which adds one entry per data code from the
    * second on) reaches 2^width — the one-step encoder/decoder count
    * skew that buries most LZW bugs.
    */
  private[graft] def m12LzwEncode(idx: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode; val end = clear + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0; var nbits = 0
    var width = minCode + 1
    var decNext = end + 1; var dataCodes = 0
    def put(code: Int, isData: Boolean): Unit = {
      acc |= code << nbits; nbits += width
      while (nbits >= 8) { bits.write(acc & 0xff); acc >>= 8; nbits -= 8 }
      if (isData) {
        dataCodes += 1
        if (dataCodes >= 2) {
          decNext += 1
          if (decNext == (1 << width) && width < 12) width += 1
        }
      }
    }
    put(clear, isData = false)
    val dict = scala.collection.mutable.HashMap[Seq[Int], Int]()
    (0 until clear).foreach(j => dict(Seq(j)) = j)
    var encNext = end + 1
    var run = Seq(idx(0)) // every frame has >= 1 pixel
    idx.iterator.drop(1).foreach { s =>
      if (dict.contains(run :+ s)) run = run :+ s
      else {
        put(dict(run), isData = true)
        dict(run :+ s) = encNext; encNext += 1
        run = Seq(s)
      }
    }
    put(dict(run), isData = true)
    put(end, isData = false)
    if (nbits > 0) bits.write(acc & 0xff)
    bits.toByteArray
  }

  /** m7 fixture ENCODER: a canonical-layout 16-bit PCM mono WAV for
    * variant v — n = 8+v samples, s_i = ((v·37 + i·29) mod 401) − 200.
    * The oracle replays only the FORMULA; the decoder reads only the
    * BYTES (see [[m6BmpHex]]'s independence argument).
    */
  private def m7WavHex(v: Int): String = {
    val n = 8 + v
    val dlen = 2 * n
    val bb = java.nio.ByteBuffer.allocate(44 + dlen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dlen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(dlen)
    for (i <- 0 until n)
      bb.putShort((((v * 37 + i * 29) % 401) - 200).toShort)
    bb.array().map("%02X".format(_)).mkString
  }

  /** m8 fixture ENCODER: an 8×8 24bpp BMP for variant v — base pattern
    * b = v mod 4 picks the image, d = (v div 4)·9 is a UNIFORM
    * brightness shift on every channel (logical top-down x, y):
    * B/G/R = (b·37+x·13+y·29+d, b·53+x·17+y·7+d, b·71+x·5+y·23+d)
    * mod 256. Same-base variants differ only by the shift, which the
    * dHash comparisons cancel except where a channel WRAPS past 255 —
    * so same-base Hamming stays small and cross-base is ~random. The
    * oracle replays only the FORMULA (see [[m6BmpHex]]'s independence
    * argument).
    */
  private def m8BmpHex(v: Int): String = {
    val b = v % 4
    val d = (v / 4) * 9
    val bb = java.nio.ByteBuffer.allocate(54 + 192)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + 192).putInt(0)
      .putInt(54)
    bb.putInt(40).putInt(8).putInt(8).putShort(1).putShort(24).putInt(0)
      .putInt(192).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (yPhys <- 0 until 8) {
      val y = 7 - yPhys // bottom-up storage
      for (x <- 0 until 8) {
        bb.put(((b * 37 + x * 13 + y * 29 + d) % 256).toByte)
        bb.put(((b * 53 + x * 17 + y * 7 + d) % 256).toByte)
        bb.put(((b * 71 + x * 5 + y * 23 + d) % 256).toByte)
      }
    }
    bb.array().map("%02X".format(_)).mkString
  }

  val all: Seq[Query] = Seq(
    Query("m1_media_features", (s, dir) => {
      // Binary media payload + typed metadata + batched mapPartitions
      // feature extraction through the (stub) decoder. Payload bytes stay
      // executor-local; output is an array<double> feature column.
      val media = Multimodal.withFakeMedia(
        t(s, dir, "documents").select(col("doc_id"), col("text")), col("text"))
      Multimodal.decodeFeatures(media, "media", 8, new Multimodal.StubDecoder)
        .select(col("doc_id"),
          length(col("media")).as("n_bytes"),
          fround(element_at(col("features"), 1), 6).as("f0"),
          fround(element_at(col("features"), 2), 6).as("f1"),
          fround(element_at(col("features"), 8), 6).as("f7"))
        .orderBy(col("doc_id"))
    }, {
      // feature c = (Σ ascii(byte) at positions ≡ c mod 8) % 997 / 997
      // over the UTF-8 payload (corpus is pure ASCII ⇒ ascii = byte).
      def feat(c: Int) =
        s"""floor(((list_sum(list_transform(
           list_filter(generate_series(1, len(text)), p -> (p - 1) % 8 = $c),
           p -> ascii(substr(text, p::INT, 1)))) % 997) / 997.0) * 1e6 + 0.5) / 1e6"""
      s"""SELECT doc_id, len(text) AS n_bytes,
         coalesce(${feat(0)}, 0.0) AS f0,
         coalesce(${feat(1)}, 0.0) AS f1,
         coalesce(${feat(7)}, 0.0) AS f7
         FROM documents ORDER BY doc_id"""
    }),

    Query("m2_media_headers", (s, dir) => {
      // M2 — real media header decode: synthesize well-formed PNG and
      // JPEG payloads (dims derived from doc_id; every 11th payload
      // truncated to 10 bytes), then parse width/height BACK out of the
      // binary with the pure-expression PNG IHDR / JPEG SOF readers.
      // The oracle is ground truth recomputed from doc_id alone — any
      // parser defect (offset, endianness, segment-walk, truncation
      // handling) surfaces as a mismatch.
      val w = col("doc_id") % 640 + 16
      val hgt = col("doc_id") % 480 + 16
      val d = t(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("com_len", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("png_hex", concat(
          lit(Multimodal.pngSigIhdrHex),
          lpad(hex(w), 8, "0"), lpad(hex(hgt), 8, "0"),
          // bit depth 8, color type 6, compression/filter/interlace 0 + CRC
          lit("0806000000DEADBEEF")))
        .withColumn("jpg_hex", concat(
          // SOI + 16-byte JFIF APP0
          lit("FFD8" + "FFE00010" + "4A46494600010100000100010000"),
          // COM segment of doc_id-dependent length: the SOF offset is
          // NOT constant, so a fixed-offset peek would fail the oracle
          lit("FFFE"), lpad(hex(col("com_len")), 4, "0"),
          expr("repeat('41', com_len - 2)"),
          // SOF0: len 17, precision 8, height, width, 3 components
          lit("FFC00011" + "08"), lpad(hex(hgt), 4, "0"), lpad(hex(w), 4, "0"),
          lit("03" + "011100" + "021101" + "031101"), lit("FFD9")))
        .withColumn("full_hex",
          when(col("doc_id") % 2 === 0, col("png_hex")).otherwise(col("jpg_hex")))
        .withColumn("media",
          unhex(when(col("doc_id") % 11 === 0, substring(col("full_hex"), 1, 20))
            .otherwise(col("full_hex"))))
      // the parsed structs project ONCE into named columns: each is
      // referenced 2-3 times below, and re-evaluating the segment walk
      // per reference would triple the parse cost (CollapseProject keeps
      // the two Projects apart — the producers are not cheap)
      d.withColumn("png", Multimodal.pngDims(col("media")))
        .withColumn("jpg", Multimodal.jpegDims(col("media")))
        .select(col("doc_id"),
          when(col("png").isNotNull, lit("png"))
            .when(col("jpg").isNotNull, lit("jpeg")).as("fmt"),
          coalesce(col("png.width"), col("jpg.width")).as("width"),
          coalesce(col("png.height"), col("jpg.height")).as("height"))
        .orderBy(col("doc_id"))
    },
      // ground truth from doc_id — the Spark side must parse the same
      // numbers back out of the bytes it synthesized
      """SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE doc_id % 640 + 16 END AS width,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE doc_id % 480 + 16 END AS height
         FROM documents ORDER BY doc_id"""),

    Query("m3_audio_headers", (s, dir) => {
      // M3 — the audio/animation legs of the multimodal header suite:
      // synthesize well-formed WAV (even doc_id) and GIF (odd) payloads
      // with fields derived from doc_id (every 13th truncated to 6
      // bytes), then parse them BACK out with the pure-expression
      // RIFF chunk walk / GIF screen-descriptor readers. A JUNK chunk
      // of doc_id-dependent length sits before `fmt `, so a
      // fixed-offset peek would fail the oracle, which recomputes
      // ground truth from doc_id alone.
      def leHexC(v: Column, nBytes: Int): Column =
        concat((0 until nBytes).map(k =>
          lpad(hex(pmod(shiftright(v.cast("long"), 8 * k), lit(256))), 2, "0")): _*)
      val ch = when(col("doc_id") % 4 === 0, 1L).otherwise(2L)
      val rate = (col("doc_id") % 3 + 1) * 8000
      val brate = rate * ch * 2 // 16-bit PCM
      val dlen = brate * (col("doc_id") % 7 + 1) // whole seconds
      val w = col("doc_id") % 320 + 8
      val hgt = col("doc_id") % 200 + 8
      val d = t(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("jlen", ((col("doc_id") % 5) * 2 + 2).cast("int"))
        .withColumn("wav_hex", concat(
          lit("52494646"), leHexC(lit(36L) + dlen, 4), lit("57415645"),
          // JUNK chunk of varying even length: the fmt offset is NOT
          // constant, so only a real chunk walk parses every row
          lit("4A554E4B"), leHexC(col("jlen"), 4), expr("repeat('00', jlen)"),
          lit("666D7420" + "10000000" + "0100"), leHexC(ch, 2),
          leHexC(rate, 4), leHexC(brate, 4), leHexC(ch * 2, 2), lit("1000"),
          // data chunk: declared length only (header-level parse)
          lit("64617461"), leHexC(dlen, 4)))
        .withColumn("gif_hex", concat(
          lit("474946383961"), leHexC(w, 2), leHexC(hgt, 2),
          lit("F70000" + "3B")))
        .withColumn("full_hex",
          when(col("doc_id") % 2 === 0, col("wav_hex")).otherwise(col("gif_hex")))
        .withColumn("media",
          unhex(when(col("doc_id") % 13 === 0, substring(col("full_hex"), 1, 12))
            .otherwise(col("full_hex"))))
      // single projection of each parsed struct (see m2's note)
      d.withColumn("wav", Multimodal.wavInfo(col("media")))
        .withColumn("gif", Multimodal.gifDims(col("media")))
        .select(col("doc_id"),
          when(col("wav").isNotNull, lit("wav"))
            .when(col("gif").isNotNull, lit("gif")).as("fmt"),
          col("wav.channels").as("channels"),
          col("wav.sample_rate").as("sample_rate"),
          col("wav.duration_ms").as("duration_ms"),
          col("gif.width").as("width"),
          col("gif.height").as("height"))
        .orderBy(col("doc_id"))
    },
      // ground truth from doc_id — the Spark side must walk the RIFF
      // chunks / GIF descriptor to recover the same numbers
      """SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'gif' END AS fmt,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
              WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END AS channels,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
              ELSE (doc_id % 3 + 1) * 8000 END AS sample_rate,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
              ELSE (doc_id % 7 + 1) * 1000 END AS duration_ms,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 = 0 THEN NULL
              ELSE doc_id % 320 + 8 END AS width,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 = 0 THEN NULL
              ELSE doc_id % 200 + 8 END AS height
         FROM documents ORDER BY doc_id"""),

    Query("m4_container_headers", (s, dir) => {
      // M4 — the still-image/video container legs beside m2/m3: BMP
      // (BITMAPINFOHEADER, signed LE dims — every 5th row top-down
      // negative height) and MP4/ISO-BMFF (big-endian ftyp box with a
      // variable compatible-brand list, so the box SIZE field must be
      // parsed, not assumed). Payloads synthesize from doc_id (every
      // 13th truncated), the oracle recomputes ground truth from
      // doc_id alone — only a real header parse matches every row.
      def leHexC(v: Column, nBytes: Int): Column =
        concat((0 until nBytes).map(k =>
          lpad(hex(pmod(shiftright(v.cast("long"), 8 * k), lit(256))), 2, "0")): _*)
      def beHexC(v: Column, nBytes: Int): Column =
        concat((0 until nBytes).reverse.map(k =>
          lpad(hex(pmod(shiftright(v.cast("long"), 8 * k), lit(256))), 2, "0")): _*)
      val w = col("doc_id") % 640 + 16
      val hgt = (col("doc_id") % 480 + 16) *
        when(col("doc_id") % 5 === 0, -1L).otherwise(1L)
      val bpp = when(col("doc_id") % 3 === 0, 8L)
        .when(col("doc_id") % 3 === 1, 24L).otherwise(32L)
      val brand = when(col("doc_id") % 3 === 0, "isom")
        .when(col("doc_id") % 3 === 1, "mp42").otherwise("avc1")
      val minor = col("doc_id") % 512
      val nb = col("doc_id") % 3 + 1
      val d = t(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("bmp_hex", concat(
          lit("424D"), leHexC(lit(54L), 4), lit("00000000"),
          leHexC(lit(54L), 4), leHexC(lit(40L), 4),
          leHexC(w, 4), leHexC(hgt, 4), lit("0100"), leHexC(bpp, 2),
          lit("00" * 24)))
        .withColumn("mp4_hex", concat(
          beHexC(lit(16L) + nb * 4, 4), lit("66747970"), hex(brand),
          beHexC(minor, 4),
          expr("repeat('6D703431', cast(doc_id % 3 + 1 as int))")))
        .withColumn("full_hex",
          when(col("doc_id") % 2 === 0, col("bmp_hex"))
            .otherwise(col("mp4_hex")))
        .withColumn("media",
          unhex(when(col("doc_id") % 13 === 0, substring(col("full_hex"), 1, 12))
            .otherwise(col("full_hex"))))
      d.withColumn("bmp", Multimodal.bmpInfo(col("media")))
        .withColumn("mp4", Multimodal.mp4Info(col("media")))
        .select(col("doc_id"),
          when(col("bmp").isNotNull, lit("bmp"))
            .when(col("mp4").isNotNull, lit("mp4")).as("fmt"),
          col("bmp.width").as("width"),
          col("bmp.height").as("height"),
          col("bmp.bits_per_pixel").as("bits_per_pixel"),
          col("mp4.major_brand").as("major_brand"),
          col("mp4.minor_version").as("minor_version"),
          col("mp4.n_brands").as("n_brands"))
        .orderBy(col("doc_id"))
    },
      // ground truth from doc_id — the Spark side must parse the BMP
      // DIB header / walk the ftyp box size to recover the same values
      """SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'mp4' END AS fmt,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
              ELSE doc_id % 640 + 16 END AS width,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
              ELSE (doc_id % 480 + 16)
                * (CASE WHEN doc_id % 5 = 0 THEN -1 ELSE 1 END) END AS height,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 <> 0 THEN NULL
              WHEN doc_id % 3 = 0 THEN 8
              WHEN doc_id % 3 = 1 THEN 24 ELSE 32 END AS bits_per_pixel,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 = 0 THEN NULL
              WHEN doc_id % 3 = 0 THEN 'isom'
              WHEN doc_id % 3 = 1 THEN 'mp42' ELSE 'avc1' END AS major_brand,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 = 0 THEN NULL
              ELSE doc_id % 512 END AS minor_version,
         CASE WHEN doc_id % 13 = 0 OR doc_id % 2 = 0 THEN NULL
              ELSE doc_id % 3 + 1 END AS n_brands
         FROM documents ORDER BY doc_id"""),

    Query("m5_resize_plumbing", (s, dir) => {
      // Resize plumbing (beyond the reference; completes the decode /
      // feature / resize / frame-sample quartet): batched injectable
      // resizer over the binary column. No codec libs exist in this
      // container, so StrideResizer (every k-th byte, k = len div
      // target) is the clearly-marked stand-in — the plumbing (schema,
      // batching, null path) is real, and the output pins the md5 of
      // the resized PAYLOAD, so the oracle checks bytes, not shapes.
      val media = Multimodal.withFakeMedia(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text"))
      Multimodal.resizeMedia(media, "media", targetBytes = 64,
          new Multimodal.StrideResizer, batchSize = 64)
        .select(col("doc_id"),
          length(col("media")).as("orig_bytes"),
          length(col("resized")).as("out_bytes"),
          md5(col("resized")).as("digest"))
        .orderBy(col("doc_id"))
    },
      // the payload is the UTF-8 of `text` (pure ASCII), so the strided
      // byte sample is a strided character sample — digest the SAME
      // bytes the Spark side resized
      """SELECT doc_id, len(text) AS orig_bytes,
         CASE WHEN len(text) <= 64 THEN len(text) ELSE 64 END AS out_bytes,
         md5(CASE WHEN len(text) <= 64 THEN text
           ELSE array_to_string(list_transform(generate_series(0, 63),
             i -> substr(text, (i * (len(text) // 64) + 1)::INT, 1)), '')
           END) AS digest
         FROM documents ORDER BY doc_id"""),

    Query("m6_bmp_pixel_decode", (s, dir) => {
      // REAL pixel decode (beyond the reference; upgrades the m-family
      // from header-parse + stubbed-codec plumbing to one genuinely
      // decoded image path): 24bpp BMP needs no codec — raw BGR rows,
      // bottom-up, 4-byte-padded. Each doc carries one of 16 encoder-
      // built BMPs (w,h ∈ 1..4, pixel channels a fixed formula of
      // (variant, x, y)); Multimodal.bmpPixelStats walks the REAL
      // bytes while the oracle computes the sums from the FORMULA
      // alone — encoder and decoder never share code with the oracle,
      // and the position-weighted red sum makes row order and padding
      // load-bearing. All output cells exact integers. Scale shape:
      // scan-fused projection; thumbnails by contract.
      val hexes = array((0 until 16).map(v => lit(m6BmpHex(v))): _*)
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("v"))
        .withColumn("px", Multimodal.bmpPixelStats(
          unhex(element_at(hexes, (col("v") + 1).cast("int")))))
        .select(col("doc_id"), col("v"), col("px.n_px"), col("px.b_sum"),
          col("px.g_sum"), col("px.r_sum"), col("px.rw_sum"))
        .orderBy(col("doc_id"))
    },
      // FORMULA-only ground truth: per variant, pixel channels replay
      // from (v, x, y) arithmetic over logical top-down coordinates;
      // the Spark side must recover the same sums from the actual
      // bottom-up padded bytes
      """WITH d AS (SELECT doc_id, doc_id % 16 AS v,
           1 + (doc_id % 16) % 4 AS w, 1 + (doc_id % 16) // 4 AS h
         FROM documents),
         px AS (SELECT doc_id, v, w, h,
           flatten(list_transform(generate_series(0, h - 1), y ->
             list_transform(generate_series(0, w - 1), x -> [
               (v * 7 + x * 3 + y * 5) % 256,
               (v * 11 + x + y * 2) % 256,
               (v * 13 + x * 2 + y) % 256,
               ((v * 13 + x * 2 + y) % 256) * (y * w + x + 1)])))
             AS pix
         FROM d)
         SELECT doc_id, v, (w * h)::BIGINT AS n_px,
           list_sum(list_transform(pix, p -> p[1]))::BIGINT AS b_sum,
           list_sum(list_transform(pix, p -> p[2]))::BIGINT AS g_sum,
           list_sum(list_transform(pix, p -> p[3]))::BIGINT AS r_sum,
           list_sum(list_transform(pix, p -> p[4]))::BIGINT AS rw_sum
         FROM px ORDER BY doc_id"""),

    Query("m7_wav_sample_decode", (s, dir) => {
      // REAL audio decode (the m6 move for the audio leg): 16-bit PCM
      // needs no codec — raw s16le samples after the canonical 44-byte
      // WAV layout. Each doc carries one of 16 encoder-built clips
      // (8..23 samples, amplitudes a fixed formula of (variant, i));
      // Multimodal.wavSampleStats walks the REAL bytes — sign decode,
      // endianness, adjacency all load-bearing via the zero-crossing
      // count — while the oracle computes the stats from the FORMULA
      // alone. All output cells exact integers.
      val hexes = array((0 until 16).map(v => lit(m7WavHex(v))): _*)
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("v"))
        .withColumn("sm", Multimodal.wavSampleStats(
          unhex(element_at(hexes, (col("v") + 1).cast("int")))))
        .select(col("doc_id"), col("v"), col("sm.n_samples"),
          col("sm.sum_abs"), col("sm.max_abs"), col("sm.n_zero_cross"))
        .orderBy(col("doc_id"))
    },
      // FORMULA-only ground truth: amplitudes replay from (v, i)
      // arithmetic; the Spark side must recover sign, magnitude, and
      // adjacency from the actual little-endian bytes
      """WITH d AS (SELECT doc_id, doc_id % 16 AS v, 8 + doc_id % 16 AS n
         FROM documents),
         ss AS (SELECT doc_id, v, n,
           list_transform(generate_series(0, n - 1),
             i -> ((v * 37 + i * 29) % 401) - 200) AS s
         FROM d)
         SELECT doc_id, v, n::BIGINT AS n_samples,
           list_sum(list_transform(s, x -> abs(x)))::BIGINT AS sum_abs,
           list_max(list_transform(s, x -> abs(x)))::BIGINT AS max_abs,
           coalesce(list_sum(list_transform(generate_series(2, n), i ->
             CASE WHEN (s[i] < 0) <> (s[i - 1] < 0) THEN 1 ELSE 0 END)),
             0)::BIGINT AS n_zero_cross
         FROM ss ORDER BY doc_id"""),

    Query("m8_bmp_dhash_pairs", (s, dir) => {
      // Perceptual near-dup IMAGE dedup over REAL decoded pixels: dHash
      // (9×8 nearest-neighbor luma lattice → 64 adjacent-comparison
      // bits, packed 32/word) per distinct variant, then all-pairs
      // Hamming over the 16-row broadcast table (the v1 bounded-batch
      // cross pattern — at corpus scale the pair generation rides the
      // d17 band discipline; this query pins the HASH semantics).
      // Same-base pairs differ only by a uniform brightness shift the
      // dHash comparisons cancel up to channel wraps (small Hamming);
      // cross-base pairs are ~random. The oracle recomputes bits and
      // words from the pixel FORMULA alone — packing, byte walk, and
      // popcount all checked against unpacked ground truth.
      val hexes = array((0 until 16).map(v => lit(m8BmpHex(v))): _*)
      val vs = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(16L)).as("v")).distinct()
        .withColumn("hash", Multimodal.bmpDHash(
          unhex(element_at(hexes, (col("v") + 1).cast("int")))))
      val a = vs.select(col("v").as("va"), col("hash").as("ha"))
      val b = vs.select(col("v").as("vb"), col("hash").as("hb"))
      a.join(broadcast(b), col("va") < col("vb"))
        .withColumn("hamming",
          VF.hammingDistance(col("ha"), col("hb")))
        .select(col("va"), col("vb"),
          element_at(col("ha"), 1).as("wa0"),
          element_at(col("ha"), 2).as("wa1"),
          col("hamming"), (col("hamming") <= 8).as("near_dup"))
        .orderBy(col("va"), col("vb"))
    }, {
      // FORMULA-only ground truth: the dHash lattice lumas replay from
      // (v, gx, gy) arithmetic (w = h = 8 so y = gy and x = gx·8 // 9);
      // words rebuild as unpacked bit·2ʲ BIGINT sums — the Spark side
      // must reproduce them through real bytes, packing, and popcount
      def lum(gx: String, gy: String) =
        s"""((((v % 4) * 37 + (($gx) * 8 // 9) * 13 + ($gy) * 29
              + (v // 4) * 9) % 256) * 114
           + (((v % 4) * 53 + (($gx) * 8 // 9) * 17 + ($gy) * 7
              + (v // 4) * 9) % 256) * 587
           + (((v % 4) * 71 + (($gx) * 8 // 9) * 5 + ($gy) * 23
              + (v // 4) * 9) % 256) * 299)"""
      s"""WITH vs AS (SELECT DISTINCT doc_id % 16 AS v FROM documents),
         bt AS (
           SELECT v, list_transform(generate_series(0, 63), i ->
             CASE WHEN ${lum("i % 8", "i // 8")}
               > ${lum("i % 8 + 1", "i // 8")} THEN 1 ELSE 0 END) AS bits
           FROM vs),
         wd AS (
           SELECT v, bits,
             list_reduce(list_transform(generate_series(1, 32),
               j -> (bits[j]::BIGINT * (1::BIGINT << (j - 1)))),
               (x, y) -> x + y) AS w0,
             list_reduce(list_transform(generate_series(33, 64),
               j -> (bits[j]::BIGINT * (1::BIGINT << (j - 33)))),
               (x, y) -> x + y) AS w1
           FROM bt),
         pr AS (
           SELECT a.v AS va, b.v AS vb, a.w0 AS wa0, a.w1 AS wa1,
             list_reduce(list_transform(generate_series(1, 64), i ->
               CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END),
               (x, y) -> x + y)::BIGINT AS hamming
           FROM wd a JOIN wd b ON a.v < b.v)
         SELECT va, vb, wa0, wa1, hamming, (hamming <= 8) AS near_dup
         FROM pr ORDER BY va, vb"""
    }),

    Query("m9_frame_schedule", (s, dir) => {
      // M9 — video frame-sample scheduling (beyond the reference; the
      // frame-sample member of the decode/extract/resize/frame-sample
      // quartet): parse moov/mvhd timescale + duration ticks from the
      // container bytes (Multimodal.mvhdInfo — a real ISO-BMFF box
      // walk), derive duration and a capped stride schedule of ≤8
      // frame indices per video, explode to one row per planned frame.
      // The actual pixel decode stays behind the MediaDecoder trait
      // (no codecs in this container); THIS is the Spark-side plumbing
      // that feeds it — pure integer arithmetic end to end (`div`
      // everywhere), payloads synthesized from doc_id so the oracle
      // recomputes ground truth independently (every 13th truncated →
      // parse must return NULL, not garbage).
      def beHexC(v: Column, nBytes: Int): Column =
        concat((0 until nBytes).reverse.map(k =>
          lpad(hex(pmod(shiftright(v.cast("long"), 8 * k), lit(256))), 2, "0")): _*)
      val timescale = when(col("doc_id") % 2 === 0, 600L).otherwise(1000L)
      val ticks = col("doc_id") % 100000 + 600
      val fps = when(col("doc_id") % 3 === 0, 24L)
        .when(col("doc_id") % 3 === 1, 25L).otherwise(30L)
      val mvhdHex = concat(
        beHexC(lit(108L), 4), lit("6D766864"), lit("00000000"),
        lit("00000000"), lit("00000000"),
        beHexC(timescale, 4), beHexC(ticks, 4), lit("00" * 80))
      val fullHex = concat(
        beHexC(lit(16L), 4), lit("66747970"), lit("69736F6D"),
        lit("00000000"),
        beHexC(lit(116L), 4), lit("6D6F6F76"), mvhdHex)
      t(s, dir, "documents").select(col("doc_id"), fps.as("fps"))
        .withColumn("media", unhex(
          when(col("doc_id") % 13 === 0, substring(fullHex, 1, 24))
            .otherwise(fullHex)))
        .withColumn("mv", Multimodal.mvhdInfo(col("media")))
        .filter(col("mv").isNotNull)
        .select(col("doc_id"), col("fps"),
          col("mv.timescale").as("timescale"),
          col("mv.duration_ticks").as("ticks"))
        .withColumn("duration_ms", expr("(ticks * 1000) div timescale"))
        .withColumn("n_frames", expr("(duration_ms * fps) div 1000"))
        .filter(col("n_frames") > 0)
        .withColumn("frame_idx", explode(slice(sequence(lit(0L),
          col("n_frames") - 1,
          greatest(lit(1L), expr("n_frames div 8"))), 1, 8)))
        .select(col("doc_id"), col("timescale"), col("duration_ms"),
          col("fps"), col("n_frames"), col("frame_idx"),
          expr("(frame_idx * 1000) div fps").as("t_ms"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // ground truth recomputed from doc_id; the Spark side must walk
      // ftyp → moov → mvhd to recover timescale/ticks for every row
      """WITH t AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000 END)::BIGINT
               AS timescale,
             (doc_id % 100000 + 600)::BIGINT AS ticks,
             (CASE WHEN doc_id % 3 = 0 THEN 24
                   WHEN doc_id % 3 = 1 THEN 25 ELSE 30 END)::BIGINT AS fps
           FROM documents WHERE doc_id % 13 <> 0),
         d AS (SELECT *, (ticks * 1000) // timescale AS duration_ms FROM t),
         f AS (SELECT *, (duration_ms * fps) // 1000 AS n_frames FROM d),
         g AS (SELECT *, greatest(1, n_frames // 8) AS stride
           FROM f WHERE n_frames > 0),
         x AS (SELECT doc_id, timescale, duration_ms, fps, n_frames,
             unnest(list_slice(
               generate_series(0, n_frames - 1, stride), 1, 8)) AS frame_idx
           FROM g)
         SELECT doc_id, timescale, duration_ms, fps, n_frames, frame_idx,
           (frame_idx * 1000) // fps AS t_ms
         FROM x ORDER BY doc_id, frame_idx"""),

    Query("m10_audio_energy", (s, dir) => {
      // M10 — frame-level audio energy over the REAL m7 PCM decode
      // (beyond the reference; the voice-activity-detection work list):
      // each clip's s16le samples frame into 6-sample windows, per
      // frame energy = Σ s² and peak = max |s| as exact BIGINTs, and a
      // frame is 'active' when its mean square clears 100² — the pure
      // integer compare energy ≥ n·10000. This is the Spark seat of
      // VAD-gated audio curation: the census of active frames decides
      // which clips (and which spans) a codec-backed pipeline keeps.
      // The oracle replays energies from the amplitude FORMULA alone,
      // so framing, byte walk, and the partial last frame are all
      // checked against independent ground truth.
      val hexes = array((0 until 16).map(v => lit(m7WavHex(v))): _*)
      graft.Frames.fan(t(s, dir, "documents"))
        .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("v"))
        .withColumn("fr", explode(Multimodal.wavFrameEnergies(
          unhex(element_at(hexes, (col("v") + 1).cast("int"))), 6)))
        .select(col("doc_id"), col("v"),
          col("fr.frame").as("frame"), col("fr.n").as("n"),
          col("fr.energy").as("energy"), col("fr.peak").as("peak"),
          (col("fr.energy") >= col("fr.n").cast("long") * lit(10000L))
            .as("active"))
        .orderBy(col("doc_id"), col("frame"))
    },
      // FORMULA-only ground truth (the m7 amplitudes): framing,
      // energies, peaks, and the partial last frame replay from (v, i)
      // arithmetic; the Spark side must recover them from real bytes
      """WITH d AS (SELECT doc_id, doc_id % 16 AS v, 8 + doc_id % 16 AS n
           FROM documents),
         fr AS (SELECT doc_id, v, n,
             unnest(generate_series(0, (n - 1) // 6)) AS frame
           FROM d),
         w AS (SELECT doc_id, v, frame,
             (least((frame + 1) * 6, n) - frame * 6) AS fn,
             list_transform(
               generate_series(frame * 6, least((frame + 1) * 6, n) - 1),
               i -> ((v * 37 + i * 29) % 401) - 200) AS s
           FROM fr)
         SELECT doc_id, v, frame::INT AS frame, fn::INT AS n,
           list_sum(list_transform(s, x -> x * x))::BIGINT AS energy,
           list_max(list_transform(s, x -> abs(x)))::BIGINT AS peak,
           list_sum(list_transform(s, x -> x * x)) >= fn * 10000 AS active
         FROM w ORDER BY doc_id, frame"""),

    Query("m11_png_pixel_decode", (s, dir) => {
      // REAL PNG decode (beyond the reference; refutes "no codec
      // libraries in this container" — DEFLATE ships in the JDK):
      // expressions.PngPixelStats walks the chunk stream, validates
      // every CRC32, inflates the scanline bytes, and reverses all
      // FIVE PNG scanline filters (row y of variant v uses filter
      // (y+v) mod 5, so None/Sub/Up/Average/Paeth are all
      // load-bearing). The oracle computes the channel sums from the
      // pixel FORMULA alone — entropy coding, defiltering, and the
      // position-weighted red sum are all checked against independent
      // ground truth. All output cells exact integers.
      val hexes = array((0 until 16).map(v => lit(m11PngHex(v))): _*)
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("v"))
        .withColumn("px", graft.expressions.PngPixelStats(
          unhex(element_at(hexes, (col("v") + 1).cast("int")))))
        .select(col("doc_id"), col("v"), col("px.w"), col("px.h"),
          col("px.n_px"), col("px.r_sum"), col("px.g_sum"),
          col("px.b_sum"), col("px.rw_sum"))
        .orderBy(col("doc_id"))
    },
      // FORMULA-only ground truth: the Spark side must recover these
      // sums through zlib inflation + all five defilter paths
      """WITH d AS (SELECT doc_id, doc_id % 16 AS v,
           1 + (doc_id % 16) % 4 AS w, 1 + (doc_id % 16) // 4 AS h
         FROM documents),
         px AS (SELECT doc_id, v, w, h,
           flatten(list_transform(generate_series(0, h - 1), y ->
             list_transform(generate_series(0, w - 1), x -> [
               (v * 7 + x * 3 + y * 5) % 256,
               (v * 11 + x + y * 2) % 256,
               (v * 13 + x * 2 + y) % 256,
               ((v * 7 + x * 3 + y * 5) % 256) * (y * w + x + 1)])))
             AS pix
         FROM d)
         SELECT doc_id, v, w::BIGINT AS w, h::BIGINT AS h,
           (w * h)::BIGINT AS n_px,
           list_sum(list_transform(pix, p -> p[1]))::BIGINT AS r_sum,
           list_sum(list_transform(pix, p -> p[2]))::BIGINT AS g_sum,
           list_sum(list_transform(pix, p -> p[3]))::BIGINT AS b_sum,
           list_sum(list_transform(pix, p -> p[4]))::BIGINT AS rw_sum
         FROM px ORDER BY doc_id"""),

    Query("m12_gif_pixel_decode", (s, dir) => {
      // REAL GIF decode (beyond the reference; m11's LZW companion —
      // GIF-LZW is pure integer bookkeeping, zero dependencies):
      // expressions.GifPixelStats walks header/LSD/global color
      // table, skips a graphic-control extension by its sub-block
      // chain, reassembles the image sub-blocks, and runs the full
      // variable-width LZW decode (LSB-first bit reader, clear/end
      // codes, prefix-linked dictionary, width bumps at 2^width,
      // KwKwK) before mapping indices through the palette. The oracle
      // computes the channel sums from the palette+index FORMULA
      // alone, so the entropy decode is checked against independent
      // ground truth. All output cells exact integers.
      val hexes = array((0 until 16).map(v => lit(m12GifHex(v))): _*)
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("v"))
        .withColumn("px", graft.expressions.GifPixelStats(
          unhex(element_at(hexes, (col("v") + 1).cast("int")))))
        .select(col("doc_id"), col("v"), col("px.w"), col("px.h"),
          col("px.n_px"), col("px.r_sum"), col("px.g_sum"),
          col("px.b_sum"), col("px.rw_sum"))
        .orderBy(col("doc_id"))
    },
      // FORMULA-only ground truth: the Spark side must recover these
      // sums through the full variable-width LZW decode + palette map
      """WITH d AS (SELECT doc_id, doc_id % 16 AS v,
           1 + (doc_id % 16) % 4 AS w, 1 + (doc_id % 16) // 4 AS h
         FROM documents),
         px AS (SELECT doc_id, v, w, h,
           flatten(list_transform(generate_series(0, h - 1), y ->
             list_transform(generate_series(0, w - 1), x -> [
               (v * 7 + ((x + 2 * y + v) % 4) * 31) % 256,
               (v * 11 + ((x + 2 * y + v) % 4) * 17) % 256,
               (v * 13 + ((x + 2 * y + v) % 4) * 23) % 256,
               ((v * 7 + ((x + 2 * y + v) % 4) * 31) % 256)
                 * (y * w + x + 1)])))
             AS pix
         FROM d)
         SELECT doc_id, v, w::BIGINT AS w, h::BIGINT AS h,
           (w * h)::BIGINT AS n_px,
           list_sum(list_transform(pix, p -> p[1]))::BIGINT AS r_sum,
           list_sum(list_transform(pix, p -> p[2]))::BIGINT AS g_sum,
           list_sum(list_transform(pix, p -> p[3]))::BIGINT AS b_sum,
           list_sum(list_transform(pix, p -> p[4]))::BIGINT AS rw_sum
         FROM px ORDER BY doc_id""")
  )
}
