package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "hello world"), (2L, "abc"), (3L, ""))
    .toDF("id", "text")

  test("withFakeMedia produces binary payload + typed metadata struct") {
    val m = Multimodal.withFakeMedia(docs, $"text")
    val mediaField = m.schema("media")
    assert(mediaField.dataType == BinaryType)
    assert(m.schema("media_meta").dataType.catalogString ==
      Multimodal.mediaMetaType.catalogString)
    val r = rows(m.orderBy($"id").select($"media", $"media_meta.media_type")).head
    assert(new String(r.getAs[Array[Byte]](0), "UTF-8") == "hello world")
    assert(r.getString(1) == "image/fake")
  }

  test("StubDecoder features are deterministic, sized, and in [0,1)") {
    val d = new Multimodal.StubDecoder
    val b = "hello world".getBytes("UTF-8")
    val f1 = d.features(b, 8)
    val f2 = d.features(b, 8)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.length == 8)
    assert(f1.forall(x => x >= 0.0 && x < 1.0))
    // position arithmetic: feature 0 of dim 1 is total byte sum mod 997
    val total = b.map(_ & 0xff).sum.toLong % 997
    assert(d.features(b, 1)(0) == total.toDouble / 997.0)
  }

  test("decodeFeatures appends array<double> features; null-safe; batch invariant") {
    val m = Multimodal.withFakeMedia(docs, $"text")
    val a = Multimodal.decodeFeatures(m, "media", 4, new Multimodal.StubDecoder, batchSize = 1)
    val b = Multimodal.decodeFeatures(m, "media", 4, new Multimodal.StubDecoder, batchSize = 99)
    assert(rows(a.orderBy($"id")) == rows(b.orderBy($"id")))
    assert(a.schema("features").dataType == ArrayType(DoubleType))
    val feats = col0[collection.Seq[Double]](a.orderBy($"id").select($"features"))
    assert(feats.head.size == 4)
    assert(feats(2).forall(_ == 0.0)) // empty payload -> zero sums
  }

  // handcrafted fixtures: a 3x2 PNG and a JPEG with a COM segment before
  // its SOF0 declaring 5x7 (width x height)
  private val pngHex = Multimodal.pngSigIhdrHex +
    "00000003" + "00000002" + "0806000000" + "CAFEBABE"
  private val jpgHex = "FFD8" + "FFE00010" + "4A46494600010100000100010000" +
    "FFFE0004" + "4142" + // COM, length 4 (2-byte payload "AB")
    "FFC00011" + "08" + "0007" + "0005" + "03011100021101031101" + "FFD9"

  test("pngDims / jpegDims parse width+height from real header bytes") {
    val df = Seq(
      (1L, pngHex), (2L, jpgHex),
      (3L, pngHex.take(20)),          // truncated PNG (10 bytes)
      (4L, jpgHex.take(20)),          // truncated JPEG mid-APP0
      (5L, "DEADBEEF"),               // neither format
      (6L, "FFD8" + "FFD9"))          // JPEG with no SOF at all
      .toDF("id", "hx").select($"id", unhex($"hx").as("media"))
    val got = rows(df.orderBy($"id").select(
      Multimodal.pngDims($"media").as("p"),
      Multimodal.jpegDims($"media").as("j")))
    assert(got(0).getStruct(0).getLong(0) == 3L)  // png width
    assert(got(0).getStruct(0).getLong(1) == 2L)  // png height
    assert(got(0).isNullAt(1))
    assert(got(1).isNullAt(0))
    assert(got(1).getStruct(1).getLong(0) == 5L)  // jpeg width
    assert(got(1).getStruct(1).getLong(1) == 7L)  // jpeg height
    // truncated / malformed payloads → NULL, never an ANSI throw
    (2 to 5).foreach { i =>
      assert(got(i).isNullAt(0) && got(i).isNullAt(1), s"row ${i + 1}")
    }
  }

  test("jpegDims walks past a long APPn run and respects maxSegments") {
    // five COM segments (len 4 each) before the SOF
    val manyCom = "FFD8" + ("FFFE0004" + "4142") * 5 +
      "FFC00011" + "08" + "0010" + "0020" + "03011100021101031101" + "FFD9"
    val df = Seq((1L, manyCom)).toDF("id", "hx")
      .select($"id", unhex($"hx").as("media"))
    val wide = rows(df.select(Multimodal.jpegDims($"media", 8).as("j"))).head
    assert(wide.getStruct(0).getLong(0) == 32L && wide.getStruct(0).getLong(1) == 16L)
    // walker budget too small → NULL, not a wrong answer
    val narrow = rows(df.select(Multimodal.jpegDims($"media", 3).as("j"))).head
    assert(narrow.isNullAt(0))
  }

  // handcrafted WAV: RIFF/WAVE, a JUNK chunk, fmt (stereo 8000 Hz 16-bit,
  // byte rate 32000), data declaring 64000 bytes (2000 ms)
  private val fmtHex = "666D7420" + "10000000" + "0100" + "0200" +
    "401F0000" + "007D0000" + "0400" + "1000"
  private val wavHex = "52494646" + "24FA0000" + "57415645" +
    "4A554E4B" + "04000000" + "00000000" + // JUNK, 4 bytes
    fmtHex + "64617461" + "00FA0000" // data: 0xFA00 = 64000 bytes declared
  private val gifHex = "474946383961" + "4001" + "F000" + "F70000" + "3B"

  test("wavInfo walks RIFF chunks; gifDims reads the screen descriptor") {
    val df = Seq(
      (1L, wavHex),
      // data chunk BEFORE fmt (with its bytes present so the walk can hop it)
      (2L, "52494646" + "24FA0000" + "57415645" +
        "64617461" + "04000000" + "AABBCCDD" + fmtHex),
      (3L, gifHex),
      (4L, wavHex.take(30)),          // truncated mid-JUNK (15 bytes)
      (5L, gifHex.take(16)),          // truncated GIF (8 bytes)
      (6L, "DEADBEEFDEADBEEFDEADBEEFDEADBEEF"), // neither
      (7L, "52494646" + "24FA0000" + "57415645" + fmtHex)) // fmt but no data
      .toDF("id", "hx").select($"id", unhex($"hx").as("media"))
    val got = rows(df.orderBy($"id").select(
      Multimodal.wavInfo($"media").as("w"),
      Multimodal.gifDims($"media").as("g")))
    val w1 = got(0).getStruct(0)
    assert((w1.getLong(0), w1.getLong(1), w1.getLong(2), w1.getLong(3)) ==
      ((2L, 8000L, 16L, 2000L)))
    val w2 = got(1).getStruct(0) // chunk order does not matter
    assert(w2.getLong(0) == 2L && w2.getLong(1) == 8000L)
    assert(w2.getLong(3) == 0L) // 4 data bytes at 32000 B/s -> 0 ms
    val g = got(2).getStruct(1)
    assert(g.getLong(0) == 320L && g.getLong(1) == 240L)
    assert(got(2).isNullAt(0)) // GIF is not a WAV
    // truncated / malformed / incomplete → NULL, never an ANSI throw
    (3 to 6).foreach { i =>
      assert(got(i).isNullAt(0) && got(i).isNullAt(1), s"row ${i + 1}")
    }
  }

  test("wavInfo guards the zero byte-rate division and walker budget") {
    val zeroRate = "52494646" + "24000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0200" + "401F0000" +
      "00000000" + "0400" + "1000" + // byte rate 0
      "64617461" + "00FA0000"
    val manyJunk = "52494646" + "24FA0000" + "57415645" +
      ("4A554E4B" + "02000000" + "0000") * 5 + fmtHex + "64617461" + "00FA0000"
    val df = Seq((1L, zeroRate), (2L, manyJunk))
      .toDF("id", "hx").select($"id", unhex($"hx").as("media"))
    val got = rows(df.orderBy($"id").select(
      Multimodal.wavInfo($"media").as("w"),
      Multimodal.wavInfo($"media", maxChunks = 3).as("narrow")))
    assert(got(0).isNullAt(0))                    // zero byte rate → NULL
    assert(got(1).getStruct(0).getLong(0) == 2L)  // 7 chunks fit in default 8
    assert(got(1).isNullAt(1))                    // budget 3 → NULL, not wrong
  }

  test("bmpInfo parses signed dims; rejects truncation, wrong magic, non-BITMAPINFOHEADER") {
    // 10x20 bottom-up 24bpp; 10x(-20) top-down; V5-header (size 124);
    // truncated; wrong magic
    def bmp(w: Long, h: Long, dib: Long) = "424D" + "36000000" + "00000000" +
      "36000000" +
      f"$dib%02X000000" +
      (0 until 4).map(k => f"${(w >> (8 * k)) & 0xff}%02X").mkString +
      (0 until 4).map(k => f"${(h >> (8 * k)) & 0xff}%02X").mkString +
      "0100" + "1800" + "00" * 24
    val df = Seq(
      (1L, bmp(10, 20, 40)), (2L, bmp(10, -20 & 0xffffffffL, 40)),
      (3L, bmp(10, 20, 124)), (4L, bmp(10, 20, 40).take(20)),
      (5L, "4D42" + bmp(10, 20, 40).drop(4)))
      .toDF("id", "hx").select($"id", unhex($"hx").as("media"))
    val got = rows(df.orderBy($"id")
      .select(Multimodal.bmpInfo($"media").as("b")))
    assert(got(0).getStruct(0).getLong(0) == 10L
      && got(0).getStruct(0).getLong(1) == 20L
      && got(0).getStruct(0).getLong(2) == 24L)
    assert(got(1).getStruct(0).getLong(1) == -20L, "top-down height is signed")
    assert(got(2).isNullAt(0) && got(3).isNullAt(0) && got(4).isNullAt(0))
  }

  test("mp4Info reads the declared ftyp box; rejects truncation and short boxes") {
    def be(v: Long) = (0 until 4).reverse
      .map(k => f"${(v >> (8 * k)) & 0xff}%02X").mkString
    val two = be(24) + "66747970" + "69736F6D" + be(512) +
      "6D703431" + "69736F32" // isom, minor 512, 2 compat brands
    val none = be(16) + "66747970" + "61766331" + be(0) // avc1, 0 brands
    val short = be(24) + "66747970" + "69736F6D" + be(0) + "6D703431" // declared 24, 20 present
    val notFtyp = be(16) + "6D6F6F76" + "69736F6D" + be(0)
    val df = Seq((1L, two), (2L, none), (3L, short), (4L, notFtyp))
      .toDF("id", "hx").select($"id", unhex($"hx").as("media"))
    val got = rows(df.orderBy($"id")
      .select(Multimodal.mp4Info($"media").as("m")))
    assert(got(0).getStruct(0).getString(0) == "isom"
      && got(0).getStruct(0).getLong(1) == 512L
      && got(0).getStruct(0).getLong(2) == 2L)
    assert(got(1).getStruct(0).getString(0) == "avc1"
      && got(1).getStruct(0).getLong(2) == 0L)
    assert(got(2).isNullAt(0) && got(3).isNullAt(0))
  }

  test("mvhdInfo walks ftyp→moov→mvhd; rejects v1, truncation, missing mvhd") {
    def be(v: Long) = (0 until 4).reverse
      .map(k => f"${(v >> (8 * k)) & 0xff}%02X").mkString
    def mvhd(version: String, timescale: Long, ticks: Long) =
      be(108) + "6D766864" + version + "000000" + be(0) + be(0) +
        mvhd0Tail(timescale, ticks)
    def mvhd0Tail(timescale: Long, ticks: Long) =
      be(timescale) + be(ticks) + "00" * 80
    val ftyp = be(16) + "66747970" + "69736F6D" + be(0)
    // free box between ftyp and moov: the walker must SKIP by size
    val free = be(12) + "66726565" + "00000000"
    val ok = ftyp + free + be(116) + "6D6F6F76" + mvhd("00", 1000, 2500)
    val v1 = ftyp + be(116) + "6D6F6F76" + mvhd("01", 1000, 2500)
    val trunc = (ftyp + be(116) + "6D6F6F76" + mvhd("00", 1000, 2500))
      .take(2 * 40) // cut inside mvhd, before duration is readable
    val noMoov = ftyp + free
    val zeroTs = ftyp + be(116) + "6D6F6F76" + mvhd("00", 0, 2500)
    val df = Seq((1L, ok), (2L, v1), (3L, trunc), (4L, noMoov),
        (5L, zeroTs))
      .toDF("id", "hx").select($"id", unhex($"hx").as("media"))
    val got = rows(df.orderBy($"id")
      .select(Multimodal.mvhdInfo($"media").as("m")))
    assert(got(0).getStruct(0).getLong(0) == 1000L
      && got(0).getStruct(0).getLong(1) == 2500L)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0)
      && got(3).isNullAt(0) && got(4).isNullAt(0))
  }

  test("readBinaryDir ingests files with glob pruning and a size cap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media")
    def put(name: String, hx: String): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    put("a.png", pngHex)
    put("b.png", pngHex + "00" * 64) // oversized once capped below
    put("c.txt", "41414141")          // pruned by the glob
    try {
      val df = Multimodal.readBinaryDir(spark, dir.toString,
        glob = "*.png", maxBytes = pngHex.length / 2)
      val got = rows(df.select($"path",
        Multimodal.pngDims($"media").getField("width").as("w")))
      assert(got.size == 1)
      assert(got.head.getString(0).endsWith("a.png"))
      assert(got.head.getLong(1) == 3L)
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("frameSample yields n byte-range frames that reassemble a prefix") {
    val m = Multimodal.withFakeMedia(docs.filter($"id" === 1), $"text")
    val f = Multimodal.frameSample(m, "media", 4)
    val frames = col0[collection.Seq[Array[Byte]]](f.select($"frames")).head
    assert(frames.size == 4)
    val joined = new String(frames.flatten.toArray, "UTF-8")
    assert("hello world".startsWith(joined.take(8)))
    assert(frames.forall(_.nonEmpty))
  }

  test("resizeMedia: stride sample, identity under target, null passthrough") {
    val rows3 = Seq(
      (1L, Array.range(0, 100).map(_.toByte)),          // strided to 10
      (2L, Array.range(0, 7).map(_.toByte)),            // fits: identity
      (3L, null.asInstanceOf[Array[Byte]]))             // never hits resizer
      .toDF("id", "bin")
    val out = Multimodal.resizeMedia(rows3, "bin", targetBytes = 10,
        new Multimodal.StrideResizer, batchSize = 2)
      .orderBy($"id").select($"resized").collect()
      .map(r => Option(r.getAs[Array[Byte]](0)))
    // k = 100 div 10 = 10 -> bytes 0,10,...,90
    assert(out(0).get.toSeq == (0 until 100 by 10).map(_.toByte))
    assert(out(1).get.toSeq == (0 until 7).map(_.toByte))
    assert(out(2).isEmpty)
  }
  test("bmpPixelStats: bottom-up padded pixels decode; top-down twin agrees; malformed nulls") {
    def bmp(w: Int, h: Int, topDown: Boolean): Array[Byte] = {
      val rowSize = (w * 3 + 3) / 4 * 4
      val bb = java.nio.ByteBuffer.allocate(54 + rowSize * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54)
      bb.putInt(40).putInt(w).putInt(if (topDown) -h else h).putShort(1)
        .putShort(24).putInt(0).putInt(rowSize * h).putInt(0).putInt(0)
        .putInt(0).putInt(0)
      val ys = if (topDown) 0 until h else (h - 1) to 0 by -1
      for (y <- ys) {
        for (x <- 0 until w) {
          bb.put((10 + x + 2 * y).toByte)
          bb.put((20 + x + 2 * y).toByte)
          bb.put((30 + x + 2 * y).toByte)
        }
        for (_ <- 0 until rowSize - w * 3) bb.put(0.toByte)
      }
      bb.array()
    }
    val up = bmp(2, 2, topDown = false)
    val down = bmp(2, 2, topDown = true)
    val df = Seq(
      ("up", up), ("down", down),
      ("trunc", up.dropRight(1)),
      ("notbmp", Array[Byte](1, 2, 3))).toDF("k", "b")
    val got = rows(df.select($"k", Multimodal.bmpPixelStats($"b").as("p"))
      .select($"k", $"p.n_px", $"p.b_sum", $"p.g_sum", $"p.r_sum",
        $"p.rw_sum").orderBy($"k"))
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None
        else Some((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))))
    // hand-computed: B 10+11+12+13=46, G 86, R 126,
    // weighted R 30*1 + 31*2 + 32*3 + 33*4 = 320 (weights are LOGICAL
    // top-down positions, so both row orders must agree)
    val want = Some((4L, 46L, 86L, 126L, 320L))
    assert(got == Seq(("down", want), ("notbmp", None), ("trunc", None),
      ("up", want)))
  }

  test("bmpPixelStats: w=1 row padding (3 data + 1 pad byte per row) is stepped over") {
    // 1x2 bottom-up: logical y=0 (10,20,30), y=1 (12,22,32); stored
    // bottom-up with one pad byte per 3-byte row — a decoder that
    // ignores rowSize reads the pad as pixel data and fails
    val rowSize = 4
    val bb = java.nio.ByteBuffer.allocate(54 + rowSize * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * 2)
      .putInt(0).putInt(54)
    bb.putInt(40).putInt(1).putInt(2).putShort(1).putShort(24).putInt(0)
      .putInt(rowSize * 2).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put(12.toByte).put(22.toByte).put(32.toByte).put(0.toByte)
    bb.put(10.toByte).put(20.toByte).put(30.toByte).put(0.toByte)
    val got = rows(Seq(Tuple1(bb.array())).toDF("b")
      .select(Multimodal.bmpPixelStats($"b").as("p"))
      .select($"p.n_px", $"p.b_sum", $"p.g_sum", $"p.r_sum", $"p.rw_sum"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // weights: y0 -> 1, y1 -> 2; rw = 30*1 + 32*2 = 94
    assert(got == Seq((2L, 22L, 42L, 62L, 94L)))
  }
  test("wavSampleStats: s16le sign and adjacency decode; stereo/truncated payloads null") {
    def wav(samples: Seq[Int], channels: Int = 1): Array[Byte] = {
      val dlen = 2 * samples.size
      val bb = java.nio.ByteBuffer.allocate(44 + dlen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dlen).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1)
        .putShort(channels.toShort).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(dlen)
      samples.foreach(x => bb.putShort(x.toShort))
      bb.array()
    }
    val good = wav(Seq(100, -50, 0, -1, 3))
    val df = Seq(
      ("good", good),
      ("stereo", wav(Seq(1, 2), channels = 2)),
      ("trunc", good.dropRight(1))).toDF("k", "b")
    val got = rows(df.select($"k", Multimodal.wavSampleStats($"b").as("p"))
      .select($"k", $"p.n_samples", $"p.sum_abs", $"p.max_abs",
        $"p.n_zero_cross").orderBy($"k"))
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None
        else Some((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))))
    // zero is nonnegative: crossings at (100,-50), (-50,0), (0,-1), (-1,3)
    assert(got == Seq(("good", Some((5L, 154L, 100L, 4L))),
      ("stereo", None), ("trunc", None)))
  }

  test("GzipBytes/GunzipText: round trip, hand-built member, malformed rejected") {
    import graft.expressions.{GzipBytes, GunzipText}
    val texts = Seq("", "hello world", "a" * 10000,
      "unicode: café 中文 😀", "line1\nline2\t tab")
    val rt = rows(texts.toDF("t")
      .select($"t", GunzipText(GzipBytes($"t")).as("d")))
      .map(r => (r.getString(0), r.getString(1)))
    rt.foreach { case (a, b) => assert(a == b, "round trip must be identity") }
    // a HAND-BUILT gzip member (stored deflate block, CRC32("abc") =
    // 0x352441c2) — bytes the JDK encoder never produced, so the
    // decoder is checked against the FORMAT, not its own mirror
    val hand = Array(
      0x1f, 0x8b, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, // header
      0x01, 0x03, 0x00, 0xfc, 0xff, 0x61, 0x62, 0x63, // stored "abc"
      0xc2, 0x41, 0x24, 0x35, // crc32 LE
      0x03, 0x00, 0x00, 0x00 // isize LE
    ).map(_.toByte)
    val good = GzipBytes.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("xy"))
    val badCrc = good.clone()
    badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) ^ 1).toByte
    val cases = Seq(
      ("hand", hand, Some("abc")),
      ("trunc", good.dropRight(3), None),
      ("badcrc", badCrc, None),
      ("notgzip", "definitely not gzip bytes".getBytes("UTF-8"), None))
    val got = rows(cases.map(c => (c._1, c._2)).toDF("k", "b")
      .select($"k", GunzipText($"b").as("d")).orderBy($"k"))
      .map(r => (r.getString(0), Option(r.getString(1)))).toMap
    cases.foreach { case (k, _, want) =>
      assert(got(k) == want, s"$k: got ${got(k)}")
    }
  }

  test("PngPixelStats: real inflate + all five defilter paths; malformed rejected") {
    // local encoder, independent of the SparkEntry fixture builder
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(tag.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt).array()
    }
    def png(w: Int, h: Int, filter: Int, pxf: (Int, Int, Int) => Int,
            colorType: Int = 2, interlace: Int = 0): Array[Byte] = {
      val stride = 3 * w
      val rows = Array.tabulate(h, stride)((y, i) => pxf(i / 3, y, i % 3))
      val flt = new java.io.ByteArrayOutputStream()
      for (y <- 0 until h) {
        flt.write(filter)
        for (i <- 0 until stride) {
          val left = if (i >= 3) rows(y)(i - 3) else 0
          val up = if (y > 0) rows(y - 1)(i) else 0
          val ul = if (y > 0 && i >= 3) rows(y - 1)(i - 3) else 0
          val pred = filter match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) / 2
            case 4 => paeth(left, up, ul)
          }
          flt.write((rows(y)(i) - pred) & 0xff)
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(flt.toByteArray); defl.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
      defl.end()
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
        .put(interlace.toByte).array()
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", comp.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }
    val f = (x: Int, y: Int, c: Int) => (37 * x + 53 * y + 11 * c + 7) % 256
    def expected(w: Int, h: Int): (Long, Long, Long, Long) = {
      var (r, g, b, rw) = (0L, 0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        r += f(x, y, 0); g += f(x, y, 1); b += f(x, y, 2)
        rw += f(x, y, 0).toLong * (y * w + x + 1)
      }
      (r, g, b, rw)
    }
    // every filter type reconstructs the identical pixels
    for (filt <- 0 to 4) {
      val got = rows(Seq(png(4, 3, filt, f)).toDF("b")
        .select(graft.expressions.PngPixelStats($"b").as("p"))
        .select($"p.w", $"p.h", $"p.n_px", $"p.r_sum", $"p.g_sum",
          $"p.b_sum", $"p.rw_sum")).head
      val (r, g, b, rw) = expected(4, 3)
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((4L, 3L, 12L)),
        s"filter $filt dims")
      assert((got.getLong(3), got.getLong(4), got.getLong(5), got.getLong(6))
        == ((r, g, b, rw)), s"filter $filt sums")
    }
    // malformed payloads → NULL: flipped CRC bit, truncation, grayscale
    // color type, interlaced, bad magic
    val good = png(3, 2, 4, f)
    val badCrc = good.clone(); badCrc(badCrc.length - 5) =
      (badCrc(badCrc.length - 5) ^ 1).toByte
    val cases = Seq(
      ("badcrc", badCrc), ("trunc", good.dropRight(7)),
      ("gray", png(3, 2, 0, f, colorType = 0)),
      ("interlaced", png(3, 2, 0, f, interlace = 1)),
      ("nomagic", good.drop(1)))
    val nulls = rows(cases.toDF("k", "b")
      .select($"k", graft.expressions.PngPixelStats($"b").as("p"))
      .orderBy($"k")).map(r => (r.getString(0), r.isNullAt(1)))
    assert(nulls.forall(_._2), s"expected all NULL, got $nulls")
  }

  test("GifPixelStats: hand-packed LZW streams (KwKwK, width bump), literal encoder, malformed rejected") {
    // independent fixtures: LZW code streams packed BY HAND (not by the
    // SparkEntry greedy encoder), so the decoder's dictionary and width
    // bookkeeping are checked against the GIF spec, not a mirror
    def packLsb(codes: Seq[(Int, Int)]): Array[Byte] = { // (code, width)
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0; var n = 0
      codes.foreach { case (c, w) =>
        acc |= c << n; n += w
        while (n >= 8) { out.write(acc & 0xff); acc >>= 8; n -= 8 }
      }
      if (n > 0) out.write(acc & 0xff)
      out.toByteArray
    }
    // palette j -> (R,G,B) = (10j+1, 20j+2, 30j+3); 4 colors
    def gif(w: Int, h: Int, lzw: Array[Byte], ipacked: Int = 0,
            sig: String = "GIF89a"): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(x: Int): Unit = { out.write(x & 0xff); out.write(x >> 8) }
      out.write(sig.getBytes("US-ASCII")); le16(w); le16(h)
      out.write(0x81); out.write(0); out.write(0)
      for (j <- 0 until 4) {
        out.write(10 * j + 1); out.write(20 * j + 2); out.write(30 * j + 3)
      }
      out.write(0x21); out.write(0xfe); out.write(3) // comment ext
      out.write('h'); out.write('i'); out.write('!'); out.write(0)
      out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(ipacked)
      out.write(2) // LZW min code size
      out.write(lzw.length); out.write(lzw, 0, lzw.length)
      out.write(0); out.write(0x3b)
      out.toByteArray
    }
    def stats(b: Array[Byte]) = rows(Seq(b).toDF("b")
      .select(graft.expressions.GifPixelStats($"b").as("p"))
      .select($"p.w", $"p.h", $"p.n_px", $"p.r_sum", $"p.g_sum",
        $"p.b_sum", $"p.rw_sum")).head
    def sums(idx: Seq[Int]) = (
      idx.map(j => 10L * j + 1).sum, idx.map(j => 20L * j + 2).sum,
      idx.map(j => 30L * j + 3).sum,
      idx.zipWithIndex.map { case (j, i) => (10L * j + 1) * (i + 1) }.sum)
    // KwKwK: codes [clear, 0, 6, end] — 6 IS the entry being defined
    // (seq(0) + first(seq(0)) = [0,0]) → pixels [0, 0, 0]
    val kwkwk = gif(3, 1, packLsb(Seq((4, 3), (0, 3), (6, 3), (5, 3))))
    val k = stats(kwkwk)
    val (kr, kg, kb, krw) = sums(Seq(0, 0, 0))
    assert((k.getLong(0), k.getLong(1), k.getLong(2)) == ((3L, 1L, 3L)))
    assert((k.getLong(3), k.getLong(4), k.getLong(5), k.getLong(6))
      == ((kr, kg, kb, krw)))
    // width bump: after the 3rd data code the decoder dict hits
    // 2^3 = 8, so the 4th data code and END read at width 4
    val bump = gif(5, 1, packLsb(Seq((4, 3), (0, 3), (1, 3), (2, 3),
      (3, 4), (0, 4), (5, 4))))
    val bm = stats(bump)
    val (br, bg, bb2, brw) = sums(Seq(0, 1, 2, 3, 0))
    assert((bm.getLong(0), bm.getLong(2)) == ((5L, 5L)))
    assert((bm.getLong(3), bm.getLong(4), bm.getLong(5), bm.getLong(6))
      == ((br, bg, bb2, brw)))
    // literal-only encoder (valid LZW; no dictionary hits) over a
    // larger frame — the decoder still grows its dict and must bump
    // widths at 8/16/32 in lockstep
    val idx = Seq.tabulate(30)(i => (i * 3 + 1) % 4) // 6x5
    val lits = {
      val codes = scala.collection.mutable.ArrayBuffer[(Int, Int)]((4, 3))
      var width = 3; var decNext = 6; var n = 0
      idx.foreach { j =>
        codes += ((j, width)); n += 1
        if (n >= 2) {
          decNext += 1
          if (decNext == (1 << width) && width < 12) width += 1
        }
      }
      codes += ((5, width))
      packLsb(codes.toSeq)
    }
    val lm = stats(gif(6, 5, lits))
    val (lr, lg, lb, lrw) = sums(idx)
    assert((lm.getLong(0), lm.getLong(1), lm.getLong(2)) == ((6L, 5L, 30L)))
    assert((lm.getLong(3), lm.getLong(4), lm.getLong(5), lm.getLong(6))
      == ((lr, lg, lb, lrw)))
    // malformed → NULL: bad magic, truncation, interlace flag, local
    // color table flag, pixel count mismatch (descriptor says 4)
    val short3 = packLsb(Seq((4, 3), (0, 3), (6, 3), (5, 3))) // 3 px
    val cases = Seq(
      ("nomagic", gif(3, 1, short3, sig = "GIX89a")),
      ("trunc", kwkwk.dropRight(6)),
      ("interlaced", gif(3, 1, short3, ipacked = 0x40)),
      ("lct", gif(3, 1, short3, ipacked = 0x80)),
      ("pxcount", gif(4, 1, short3)))
    val nulls = rows(cases.toDF("k", "b")
      .select($"k", graft.expressions.GifPixelStats($"b").as("p"))
      .orderBy($"k")).map(r => (r.getString(0), r.isNullAt(1)))
    assert(nulls.forall(_._2), s"expected all NULL, got $nulls")
    // round-trip fuzz through the GREEDY encoder on large streams:
    // dictionary hits on arbitrary data, deep width growth (past 8/16/
    // 32/...), and — at n > ~400 — MULTI-sub-block reassembly (every
    // other path above is single-block)
    def gifMulti(w: Int, h: Int, lzw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(x: Int): Unit = { out.write(x & 0xff); out.write(x >> 8) }
      out.write("GIF89a".getBytes("US-ASCII")); le16(w); le16(h)
      out.write(0x81); out.write(0); out.write(0)
      for (j <- 0 until 4) {
        out.write(10 * j + 1); out.write(20 * j + 2); out.write(30 * j + 3)
      }
      out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(0)
      out.write(2)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        out.write(n); out.write(lzw, off, n); off += n
      }
      out.write(0); out.write(0x3b)
      out.toByteArray
    }
    for (seed <- 0 to 2; n <- Seq(50, 400, 3000)) {
      var st = seed * 2654435761L + 1
      val fuzz = Array.fill(n) {
        st = st * 6364136223846793005L + 1442695040888963407L
        ((st >>> 33) % 4).toInt
      }
      val g = gifMulti(n, 1, queries.MediaQueries.m12LzwEncode(fuzz, 2))
      val got = stats(g)
      val (fr, fg, fb, frw) = sums(fuzz.toSeq)
      assert((got.getLong(0), got.getLong(2)) == ((n.toLong, n.toLong)),
        s"seed=$seed n=$n dims")
      assert((got.getLong(3), got.getLong(4), got.getLong(5),
        got.getLong(6)) == ((fr, fg, fb, frw)), s"seed=$seed n=$n sums")
    }
  }

  test("wavFrameEnergies: framing, partial last frame, integer energies") {
    def wav(samples: Seq[Int], channels: Int = 1): Array[Byte] = {
      val dlen = 2 * samples.size
      val bb = java.nio.ByteBuffer.allocate(44 + dlen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dlen).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1)
        .putShort(channels.toShort).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(dlen)
      samples.foreach(x => bb.putShort(x.toShort))
      bb.array()
    }
    // 5 samples at frameLen=2 → frames [100,-50], [0,-1], [3]
    val good = wav(Seq(100, -50, 0, -1, 3))
    val df = Seq(
      ("good", good),
      ("stereo", wav(Seq(1, 2), channels = 2)),
      ("trunc", good.dropRight(1))).toDF("k", "b")
    val got = rows(df.select($"k",
        Multimodal.wavFrameEnergies($"b", 2).as("fr")).orderBy($"k"))
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None
        else Some(r.getSeq[org.apache.spark.sql.Row](1).map(f =>
          (f.getInt(0), f.getInt(1), f.getLong(2), f.getLong(3))))))
    assert(got == Seq(
      ("good", Some(Seq((0, 2, 12500L, 100L), (1, 2, 1L, 1L),
        (2, 1, 9L, 3L)))),
      ("stereo", None), ("trunc", None)))
    // frame energies must sum to the whole-clip energy, frame peaks
    // max to the clip peak — the decomposition law at any frameLen
    for (fl <- 1 to 6) {
      val fr = rows(Seq(("x", good)).toDF("k", "b").select(
        Multimodal.wavFrameEnergies($"b", fl).as("fr")))
        .head.getSeq[org.apache.spark.sql.Row](0)
      assert(fr.map(_.getLong(2)).sum == 100L * 100 + 50 * 50 + 1 + 9)
      assert(fr.map(_.getLong(3)).max == 100L)
      assert(fr.map(_.getInt(1)).sum == 5)
    }
  }

  test("bmpDHash: lattice bits, brightness-shift invariance, row-order agreement") {
    def bmp(w: Int, h: Int, topDown: Boolean,
            f: (Int, Int) => Int): Array[Byte] = {
      val rowSize = (w * 3 + 3) / 4 * 4
      val bb = java.nio.ByteBuffer.allocate(54 + rowSize * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54)
      bb.putInt(40).putInt(w).putInt(if (topDown) -h else h).putShort(1)
        .putShort(24).putInt(0).putInt(rowSize * h).putInt(0).putInt(0)
        .putInt(0).putInt(0)
      val ys = if (topDown) 0 until h else (h - 1) to 0 by -1
      for (y <- ys) {
        for (x <- 0 until w; _ <- 0 until 3) bb.put(f(x, y).toByte)
        for (_ <- 0 until rowSize - w * 3) bb.put(0.toByte)
      }
      bb.array()
    }
    // gray strictly decreasing in x: on the 9-wide lattice x = gx·4 // 9
    // steps at gx = 3, 5, 7, so comparisons at gx = 2, 4, 6 fire and
    // equal-sample comparisons stay clear — every row identical
    val grad = bmp(4, 4, topDown = false, (x, _) => 200 - 40 * x)
    val lit20 = bmp(4, 4, topDown = false, (x, _) => 220 - 40 * x)
    val down = bmp(4, 4, topDown = true, (x, _) => 200 - 40 * x)
    val df = Seq(
      ("grad", grad), ("lit20", lit20), ("down", down),
      ("trunc", grad.dropRight(1))).toDF("k", "b")
    val got = rows(df.select($"k", Multimodal.bmpDHash($"b").as("h"))
      .orderBy($"k"))
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getSeq[Long](1))))
    val half = Seq(2, 4, 6, 10, 12, 14, 18, 20, 22, 26, 28, 30)
      .map(1L << _).sum
    val want = Some(Seq(half, half))
    assert(got == Seq(("down", want), ("grad", want), ("lit20", want),
      ("trunc", None)))
  }
}
