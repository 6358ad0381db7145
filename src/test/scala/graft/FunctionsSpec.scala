package graft

import graft.functions.{CanonicalJson, HexUtil}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  test("popcountHex matches Long.bitCount over seeded random longs") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val v = rnd.nextLong() & Long.MaxValue
      val hex = java.lang.Long.toHexString(v)
      assert(HexUtil.popcountHex(u("0x" + hex)) === java.lang.Long.bitCount(v))
      assert(HexUtil.popcountHex(u(hex)) === java.lang.Long.bitCount(v))
    }
  }

  test("popcountHex edge cases (reference fork_base.py:141-161 semantics)") {
    assert(HexUtil.popcountHex(u("")) === 0)
    assert(HexUtil.popcountHex(u("0x")) === 0)
    assert(HexUtil.popcountHex(null) === 0)
    assert(HexUtil.popcountHex(u("0xff")) === 8)
    assert(HexUtil.popcountHex(u("0xFF")) === 8)
    // non-hex chars contribute 0 (reference raises → 0 via except)
    assert(HexUtil.popcountHex(u("0xzz")) === 0)
    // long bitfield (512-bit sync committee = 128 hex chars)
    assert(HexUtil.popcountHex(u("0x" + "f" * 128)) === 512)
  }

  test("cjkCodepointCount matches the regex it replaced on seeded mixed text") {
    // oracle = the old per-row expression: count chars surviving
    // regexp_replace(text, "[^\x{4e00}-\x{9fff}]", "")
    def oracle(s: String): Int =
      s.codePoints().toArray.count(cp => cp >= 0x4E00 && cp <= 0x9FFF)
    val rnd = new scala.util.Random(7)
    // alphabet spanning ASCII, Latin-1, CJK block edges, Hangul (adjacent
    // block, must NOT count), 4-byte emoji, and in-block ideographs
    val alphabet: Array[String] = Array(
      "a", "Z", "é", "ß", "䷿", "一", "鿿", "ꀀ",
      "中", "文", "的", "一", "가", "😀", " ", "\n", "0")
    (1 to 300).foreach { _ =>
      val s = (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(HexUtil.cjkCodepointCount(u(s)) === oracle(s), s"on ${s.take(40)}")
    }
    assert(HexUtil.cjkCodepointCount(null) === 0)
    assert(HexUtil.cjkCodepointCount(u("")) === 0)
    assert(HexUtil.cjkCodepointCount(u("中文全部都是汉字")) === 8)
  }

  test("charStats: one-walk [n, distinct, top, Σc(c−1)] matches a naive codepoint histogram") {
    def oracle(s: String): Seq[Long] = {
      val cps = s.codePoints().toArray.toSeq
      val h = cps.groupBy(identity).view.mapValues(_.size.toLong).toMap
      Seq(cps.size.toLong, h.size.toLong,
        if (h.isEmpty) 0L else h.values.max,
        h.values.map(c => c * (c - 1L)).sum)
    }
    val rnd = new scala.util.Random(41)
    val alphabet: Array[String] =
      Array("a", "a", "b", "é", "汉", "😀", " ", "\n", "0", "aaa", "..")
    (1 to 300).foreach { _ =>
      val s = (0 until rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(HexUtil.charStats(u(s)).toLongArray().toSeq === oracle(s), s"on ${s.take(40)}")
    }
    assert(HexUtil.charStats(u("")).toLongArray().toSeq === Seq(0L, 0L, 0L, 0L))
    assert(HexUtil.charStats(null).toLongArray().toSeq === Seq(0L, 0L, 0L, 0L))
    // astral chars count once (codepoint walk, not UTF-16 unit walk)
    assert(HexUtil.charStats(u("😀😀")).toLongArray().toSeq === Seq(2L, 1L, 2L, 2L))
  }

  test("hexByteLen = len//2 after 0x strip (data_column_sidecars.py:67-74)") {
    assert(HexUtil.hexByteLen(u("0xaabb")) === 2)
    assert(HexUtil.hexByteLen(u("aabb")) === 2)
    assert(HexUtil.hexByteLen(u("0x")) === 0)
    assert(HexUtil.hexByteLen(u("0xabc")) === 1) // odd length floors
    assert(HexUtil.hexByteLen(null) === 0)
  }

  test("safeLong: hex, decimal, garbage, UInt64 clamp (fork_base.py:210-222)") {
    assert(HexUtil.safeLong(u("123"), 0L) === 123L)
    assert(HexUtil.safeLong(u("0x10"), 0L) === 16L)
    assert(HexUtil.safeLong(u("0X10"), 0L) === 16L)
    assert(HexUtil.safeLong(u(""), 7L) === 7L)
    assert(HexUtil.safeLong(u("nope"), 7L) === 7L)
    assert(HexUtil.safeLong(null, 7L) === 7L)
    // FAR_FUTURE_EPOCH = 2^64-1 clamps to Long.MaxValue (SURVEY §7.4)
    assert(HexUtil.safeLong(u("18446744073709551615"), 0L) === Long.MaxValue)
  }

  test("safeLongBoxed: garbage/empty/null → null, valid parses, overflow clamps") {
    assert(HexUtil.safeLongBoxed(u("123")) === java.lang.Long.valueOf(123L))
    assert(HexUtil.safeLongBoxed(u("0x10")) === java.lang.Long.valueOf(16L))
    assert(HexUtil.safeLongBoxed(u("nope")) === null)
    assert(HexUtil.safeLongBoxed(u("")) === null)
    assert(HexUtil.safeLongBoxed(null) === null)
    assert(HexUtil.safeLongBoxed(u("18446744073709551615")) ===
      java.lang.Long.valueOf(Long.MaxValue))
  }

  test("canonical JSON hash matches Python json.dumps(sort_keys, separators) sha256[:16]") {
    // expected values computed with CPython json + hashlib
    assert(CanonicalJson.payloadHash16("""{"b": 1, "a": "ü"}""") === "9e638ba662cf3592")
    assert(CanonicalJson.payloadHash16(
      """{"slot": "123", "nested": {"z": [1, 2, 3], "a": null, "t": true}}""") === "b0df9031656391f5")
    // astral-plane emoji → surrogate-pair 🚀 escaping
    assert(CanonicalJson.payloadHash16(
      "{\"graffiti\": \"héllo 🚀\", \"x\": \"0xdead\"}") === "fb1a1b2562851190")
    assert(CanonicalJson.payloadHash16("""{"data": []}""") === "8fe32e407a1038ee")
  }

  test("canonicalize sorts keys recursively with compact separators") {
    assert(CanonicalJson.canonicalize("""{"b": 1, "a": {"d": 2, "c": 3}}""") ===
      """{"a":{"c":3,"d":2},"b":1}""")
  }

  test("payloadHash16 on invalid JSON falls back to raw-string hash, 16 hex") {
    val h = CanonicalJson.payloadHash16("not json at all")
    assert(h.length === 16 && h.matches("[0-9a-f]{16}"))
  }

  test("canonicalize matches Python's accept/reject envelope (NaN, trailing, astral keys)") {
    // python: json.dumps(json.loads('{"v": NaN, ...}'), sort_keys=True,
    // separators=(',',':')) == '{"v":NaN,"w":Infinity,"x":-Infinity}'
    assert(CanonicalJson.canonicalize("""{"v": NaN, "w": Infinity, "x": -Infinity}""")
      === """{"v":NaN,"w":Infinity,"x":-Infinity}""")
    assert(CanonicalJson.payloadHash16("""{"v": NaN, "w": Infinity, "x": -Infinity}""")
      === "72fc2a4f64ecde5d")
    // python json.loads REJECTS trailing tokens → the reference hashes the
    // raw string; Jackson's default leniency would canonicalize '{}'
    assert(CanonicalJson.payloadHash16("{}garbage") === "7eb696333c2056fc")
    // python sorts keys by CODE POINT: U+FFFF before U+1F600; UTF-16
    // code-unit comparison would order the surrogate pair first
    val astral = "{\"\uD83D\uDE00\": 2, \"\uFFFF\": 1}"
    assert(CanonicalJson.canonicalize(astral)
      === "{\"\\uffff\":1,\"\\ud83d\\ude00\":2}")
    assert(CanonicalJson.payloadHash16(astral) === "7399aff294a6b56f")
  }

  test("non-Python non-finite literals (-INF) fall back to raw-string hash") {
    // Jackson accepts -INF; python json.loads rejects it → reference
    // hashes the raw string, so we must too
    intercept[Exception] { CanonicalJson.canonicalize("""{"v": -INF}""") }
    val raw = """{"v": -INF}"""
    assert(CanonicalJson.payloadHash16(raw) ===
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(raw.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString.take(16))
    // a STRING value containing "INF" is ordinary JSON on both sides
    assert(CanonicalJson.canonicalize("""{"x": "INF"}""") === """{"x":"INF"}""")
  }

  test("every golden line: canonical form (or rejection) and hash16 equal CPython's") {
    // written by tools/canonical_golden.py; regenerate with the command in its docstring
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/canonical_golden.jsonl"), "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    assert(lines.size > 1500)
    val failures = lines.flatMap { line =>
      val g = mapper.readTree(line)
      val input = g.get("input").textValue
      val canonical =
        try Right(CanonicalJson.canonicalize(input))
        catch { case e: Exception => Left(e.getClass.getSimpleName) }
      val expected = Option(g.get("canonical")).map(_.textValue).toRight("rejected")
      val hash = CanonicalJson.payloadHash16(input)
      val canonicalOk = (canonical.isLeft && expected.isLeft) || canonical == expected
      if (canonicalOk && hash == g.get("hash16").textValue) None
      else Some(s"${input.take(80)} → $canonical (want $expected), $hash")
    }
    assert(failures.isEmpty, s"${failures.size} of ${lines.size}: ${failures.take(10).mkString("\n")}")
    // the file covers every float rendering branch and both envelopes
    Seq("e+16", "e-05", "-0.0", "5e-324", "Infinity", "\"rejected\"").foreach { s =>
      assert(lines.exists(_.contains(s)), s)
    }
  }

  test("payloadHash16 equals MessageDigest sha256 with hand-formatted hex on seeded payloads") {
    val rnd = new scala.util.Random(7001)
    def hex16(s: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      d.take(8).map(b => "0123456789abcdef".charAt((b >> 4) & 0xf).toString +
        "0123456789abcdef".charAt(b & 0xf)).mkString
    }
    // keys and values mix ASCII, control chars, BMP and astral code points
    def str(): String = (0 until rnd.nextInt(12)).map { _ =>
      rnd.nextInt(5) match {
        case 0 => rnd.nextInt(0x20).toChar.toString
        case 1 => (0x7f + rnd.nextInt(0xd800 - 0x7f)).toChar.toString
        case 2 => new String(Character.toChars(0x10000 + rnd.nextInt(0x10000)))
        case _ => ('a' + rnd.nextInt(26)).toChar.toString
      }
    }.mkString
    def quote(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < 0x20 => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    (1 to 300).foreach { _ =>
      val payload = (0 until 1 + rnd.nextInt(6))
        .map(_ => s"${quote(str())}: ${if (rnd.nextBoolean()) quote(str()) else rnd.nextLong().toString}")
        .mkString("{", ", ", "}")
      val canonical = CanonicalJson.canonicalize(payload)
      assert(CanonicalJson.payloadHash16(payload) === hex16(canonical), payload)
      // every non-printable-ASCII UTF-16 unit is escaped as \\u + 4 lower-case hex
      val unescaped = canonical.replaceAll("\\\\u[0-9a-f]{4}", "")
      assert(unescaped.forall(c => c >= 0x20 && c <= 0x7e), canonical)
    }
    (Seq(0x00, 0x1f, 0x7f, 0x80, 0xff, 0x100, 0xabc, 0xfffe)).foreach { cp =>
      val c = cp.toChar
      assert(CanonicalJson.canonicalize(s"""{"k": ${quote(c.toString)}}""") ===
        "{\"k\":\"\\u%04x\"}".format(cp))
    }
  }

  test("tokens strips ALL whitespace classes before splitting") {
    import org.apache.spark.sql.SparkSession
    val spark: SparkSession = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "\nSome doc"), (2L, "\t"), (3L, " a\tb ")).toDF("id", "t")
    val out = df.select(col("id"),
      graft.operators.TextAnalysis.tokenCount(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 2, 2L -> 0, 3L -> 2))
  }

  test("bpeishTokenCount: letter/digit runs + per-symbol tokens; Java-\\s whitespace") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, "ab12 cd, e\u000Bf"), // ab|12|cd|,|e|f (vertical tab separates)
      (2L, "x=1,y=22;"),         // x|=|1|,|y|=|22|;
      (3L, ""),
      (4L, "   \t  "))
      .toDF("id", "t")
      .select(col("id"), graft.operators.TextAnalysis.bpeishTokenCount(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows === Map(1L -> 6, 2L -> 8, 3L -> 0, 4L -> 0))
  }

  test("NfcNormalize: composes decomposed sequences; ASCII passes through untouched") {
    import graft.functions.HexUtil.{isNfc, nfcNormalize}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    val decomposed = "Cafe\u0301" // Cafe + combining acute U+0301
    val composed = "Caf\u00e9"  // precomposed U+00E9
    assert(nfcNormalize(u8(decomposed)).toString === composed)
    assert(isNfc(u8(decomposed)) === 0 && isNfc(u8(composed)) === 1)
    // idempotent, and ASCII takes the no-allocation fast path (same ref)
    val ascii = u8("plain ascii")
    assert(nfcNormalize(ascii) eq ascii)
    assert(nfcNormalize(nfcNormalize(u8(decomposed))).toString === composed)
    // column path (codegen'd expression over a DataFrame; null stays null)
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    val out = Seq(Some("e\u0301"), None).toDF("t")
      .select(graft.functions.GraftFunctions.nfc_normalize(col("t")).as("c"))
      .select(col("c"), length(col("c")).as("l"))
      .collect()
    assert(out(0).getString(0) === "\u00e9" && out(0).getInt(1) === 1)
    assert(out(1).isNullAt(0))
  }

  test("RangeBucket: closed-lower/open-upper buckets, -1 below, last at top") {
    import graft.functions.RangeUtil.bucket
    val b = Array(0.0, 1.5, 10.0, 100.0)
    assert(bucket(-0.001, b) === -1)          // below the first bound
    assert(bucket(0.0, b) === 0)              // exact bound → that bucket
    assert(bucket(1.4999, b) === 0)
    assert(bucket(1.5, b) === 1)              // closed lower edge
    assert(bucket(99.999, b) === 2)
    assert(bucket(100.0, b) === 3)            // last bound opens the top bucket
    assert(bucket(1e300, b) === 3)            // top bucket is unbounded above
    assert(bucket(Double.NaN, b) === 3)       // NaN orders above all (documented)
    // column path: codegen'd expression over a DataFrame, null stays null
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = Seq(Some(-5.0), Some(0.7), Some(42.0), None)
      .toDF("v")
      .select(graft.functions.GraftFunctions.range_bucket(col("v"), b).as("t"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(out.toSeq === Seq(-1, 0, 2, null))
    // unsorted bounds are rejected at construction
    intercept[IllegalArgumentException] {
      graft.functions.RangeBucket(
        org.apache.spark.sql.catalyst.expressions.Literal(1.0), Array(2.0, 1.0))
    }
  }

  test("codePointCompare orders astral keys like Python") {
    assert(CanonicalJson.codePointCompare("\uFFFF", "\uD83D\uDE00") < 0)
    assert(CanonicalJson.codePointCompare("a", "ab") < 0)
    assert(CanonicalJson.codePointCompare("b", "a") > 0)
    assert(CanonicalJson.codePointCompare("same", "same") === 0)
  }

  private def bytesOfHex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("ImageMetaUtil: PNG/GIF fixed-offset extraction and rejection") {
    import graft.functions.ImageMetaUtil._
    val png = bytesOfHex(
      "89504E470D0A1A0A" + "0000000D" + "49484452" + "00000190" + "00000064" + "0806000000")
    assert(format(png).toString === "png" && width(png) === 400 && height(png) === 100)
    // PNG signature without IHDR at bytes 12-15 is NOT a png
    val noIhdr = bytesOfHex("89504E470D0A1A0A" + "0000000D" + "49484453" + "00000190" + "00000064")
    assert(format(noIhdr).toString === "unknown" && width(noIhdr) === -1)
    val gif87 = bytesOfHex("474946383761" + "2C01" + "F000" + "F70000") // 300x240 LE
    assert(format(gif87).toString === "gif" && width(gif87) === 300 && height(gif87) === 240)
    assert(format("not an image".getBytes).toString === "unknown")
    assert(format(Array.empty[Byte]).toString === "unknown")
  }

  test("ImageMetaUtil: JPEG SOF walk handles variable segment layouts") {
    import graft.functions.ImageMetaUtil._
    val sof0 = "FFC0" + "0011" + "08" + "0050" + "00A0" + "03" + "011100021101031101" // 160x80
    // canonical: SOI + APP0 + SOF0
    val app0 = "FFE00010" + "4A46494600" + "0101" + "00" + "00010001" + "0000"
    val canonical = bytesOfHex("FFD8" + app0 + sof0)
    assert(format(canonical).toString === "jpeg")
    assert(width(canonical) === 160 && height(canonical) === 80)
    // extra variable-length segments before SOF (APP1/EXIF + a comment),
    // plus standalone TEM + fill bytes the walker must step over
    val app1 = "FFE1" + "0008" + "457869660000" // 6-byte payload
    val com = "FFFE" + "0005" + "686579" // 3-byte comment
    val shifted = bytesOfHex("FFD8" + "FF01" + app1 + com + app0 + sof0)
    assert(format(shifted).toString === "jpeg")
    assert(width(shifted) === 160 && height(shifted) === 80)
    // progressive JPEG: SOF2 carries dimensions the same way
    val sof2 = "FFC2" + "0011" + "08" + "0100" + "0200" + "03" + "011100021101031101" // 512x256
    assert(width(bytesOfHex("FFD8" + app0 + sof2)) === 512)
    assert(height(bytesOfHex("FFD8" + app0 + sof2)) === 256)
    // DHT (C4) is NOT a SOF \u2014 must be skipped, not parsed as dimensions
    val dht = "FFC4" + "0007" + "0001020304"
    assert(width(bytesOfHex("FFD8" + dht + sof0)) === 160)
    // EOI or scan data before any SOF \u2192 dimensions unknown, format jpeg
    assert(width(bytesOfHex("FFD8" + "FFD9")) === -1)
    assert(width(bytesOfHex("FFD8" + app0 + "FFDA" + "0002")) === -1)
    // malformed: non-FF where a marker must be / truncated SOF / bad length
    assert(width(bytesOfHex("FFD8" + "00C0" + "0011")) === -1)
    assert(width(bytesOfHex("FFD8" + "FFC0" + "0011" + "08" + "00")) === -1)
    assert(width(bytesOfHex("FFD8" + "FFC0" + "0001")) === -1)
  }

  test("AudioMetaUtil: WAV chunk walk — canonical, reordered, odd-size padding") {
    import graft.functions.AudioMetaUtil._
    val fmt = "666D7420" + "10000000" + "0100" + "0200" +
      "803E0000" + "00FA0000" + "0400" + "1000" // stereo 16000 Hz, byteRate 64000
    def data(n: Int) = "64617461" + {
      val h = java.lang.Integer.toHexString(n)
      // LE u32
      val p = ("0" * (8 - h.length)) + h
      p.substring(6, 8) + p.substring(4, 6) + p.substring(2, 4) + p.substring(0, 2)
    }
    val canonical = bytesOfHex("52494646" + "24500000" + "57415645" + fmt + data(128000))
    assert(format(canonical).toString === "wav")
    assert(channels(canonical) === 2)
    assert(sampleRate(canonical) === 16000L)
    assert(durationMs(canonical) === 2000L) // 128000 / 64000 * 1000
    // a LIST chunk with an ODD size before fmt: the walker must skip it
    // including the RIFF even-byte pad
    val list = "4C495354" + "03000000" + "414243" + "00" // 3-byte payload + pad
    val reordered = bytesOfHex("52494646" + "24500000" + "57415645" + list + fmt + data(32000))
    assert(channels(reordered) === 2 && sampleRate(reordered) === 16000L)
    assert(durationMs(reordered) === 500L)
    // headers-only file: data size declared, payload absent — still parses
    val headersOnly = bytesOfHex("52494646" + "24500000" + "57415645" + fmt + data(640))
    assert(durationMs(headersOnly) === 10L)
    // data chunk but no fmt: duration unknowable
    assert(durationMs(bytesOfHex("52494646" + "10000000" + "57415645" + data(640))) === -1L)
    // not RIFF/WAVE at all
    assert(format("RIFFnope".getBytes).toString === "unknown")
    assert(channels(bytesOfHex("52494646" + "00000000" + "57415646")) === -1)
  }

  test("VideoMetaUtil: ISO-BMFF box walk — canonical, reordered, v1, malformed") {
    import graft.functions.VideoMetaUtil._
    val matrix = "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"
    val ftyp = "00000010" + "66747970" + "69736F6D" + "00000200"
    def mvhd(ts: Long, dur: Long) =
      "0000006C" + "6D766864" + "00000000" * 3 + f"$ts%08X" + f"$dur%08X" +
        "00010000" + "01000000" + "00000000" * 2 + matrix + "00000000" * 6 + "00000002"
    def tkhd(w: Int, h: Int) =
      "0000005C" + "746B6864" + "00000007" + "00000000" * 2 + "00000001" +
        "00000000" * 4 + "0000" * 4 + matrix + f"$w%04X" + "0000" + f"$h%04X" + "0000"
    def trak(w: Int, h: Int) = "00000064" + "7472616B" + tkhd(w, h)
    def moov(inner: String) =
      f"${8 + inner.length / 2}%08X" + "6D6F6F76" + inner

    val canonical = bytesOfHex(ftyp + moov(mvhd(1000, 7000) + trak(640, 360)))
    assert(format(canonical).toString === "mp4")
    assert(durationMs(canonical) === 7000L)
    assert(width(canonical) === 640 && height(canonical) === 360)
    // unknown boxes before moov, and trak BEFORE mvhd inside it, plus a
    // non-tkhd child ahead of tkhd in the trak — all must be skipped by size
    val free = "00000010" + "66726565" + "00000000" * 2
    val udta = "00000009" + "75647461" + "00" // odd-size box: no padding in BMFF
    val trakShifted = f"${8 + (udta + tkhd(1920, 1080)).length / 2}%08X" + "7472616B" +
      udta + tkhd(1920, 1080)
    val reordered = bytesOfHex(ftyp + free + moov(trakShifted + mvhd(90000, 90000 * 3)))
    assert(durationMs(reordered) === 3000L)
    assert(width(reordered) === 1920 && height(reordered) === 1080)
    // mvhd version 1: 64-bit creation/modification/duration
    val mvhdV1 = "00000078" + "6D766864" + "01000000" + "00000000" * 4 +
      f"${600}%08X" + "00000000" + f"${600L * 42}%08X" +
      "00010000" + "01000000" + "00000000" * 2 + matrix + "00000000" * 6 + "00000002"
    assert(durationMs(bytesOfHex(ftyp + moov(mvhdV1))) === 42000L)
    // no moov / no trak / truncated box size lying beyond the payload
    assert(durationMs(bytesOfHex(ftyp)) === -1L)
    assert(width(bytesOfHex(ftyp + moov(mvhd(1000, 1000)))) === -1)
    assert(durationMs(bytesOfHex(ftyp + "000000FF" + "6D6F6F76" + "0000")) === -1L)
    assert(format("plain text".getBytes).toString === "unknown")
  }

  test("Sq8Util.encodeFloats: matches reference arithmetic, clamps, zero vector") {
    import graft.functions.Sq8Util
    // independent reimplementation of the documented formula
    def ref(v: Array[Float]): Array[Byte] = {
      var acc = 0.0
      v.foreach { x => acc += x.toDouble * x.toDouble }
      val n = math.sqrt(acc)
      if (n == 0.0) new Array[Byte](v.length)
      else v.map { x =>
        math.max(-127, math.min(127, math.floor(x.toDouble / n * 127.0).toInt)).toByte
      }
    }
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val v = Array.fill(64)((rnd.nextGaussian() * 3).toFloat)
      val got = Sq8Util.encodeFloats(v)
      assert(got.toSeq === ref(v).toSeq)
      assert(got.forall(c => c >= -127 && c <= 127))
    }
    assert(Sq8Util.encodeFloats(Array.fill(8)(0.0f)).toSeq === Seq.fill(8)(0.toByte))
    // scale invariance by exact powers of two (pure exponent shifts in
    // IEEE): codes are a function of the DIRECTION only
    val v = Array.fill(32)((rnd.nextGaussian()).toFloat)
    assert(Sq8Util.encodeFloats(v.map(_ * 4.0f)).toSeq === Sq8Util.encodeFloats(v).toSeq)
    // a unit basis vector hits the clamp boundary exactly: floor(1*127)=127
    val basis = Array.fill(16)(0.0f); basis(3) = 1.0f
    assert(Sq8Util.encodeFloats(basis)(3) === 127.toByte)
  }

  test("Sq8Util.dot: exact integer accumulation (BigInt oracle)") {
    import graft.functions.Sq8Util
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = Array.fill(64)((rnd.nextInt(255) - 127).toByte)
      val b = Array.fill(64)((rnd.nextInt(255) - 127).toByte)
      val want = a.zip(b).map { case (x, y) => BigInt(x.toInt) * BigInt(y.toInt) }.sum
      assert(BigInt(Sq8Util.dot(a, b)) === want)
    }
    // length mismatch: shorter prefix only (defensive, mirrors vec_dot)
    assert(Sq8Util.dot(Array[Byte](2, 3), Array[Byte](5)) === 10L)
  }

  test("Md5MinHashSignature kernel: exact parity with the composed md5 formula") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    val spark: SparkSession = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("ant", "bee", "cat", "dog", "elk", "fox")
    val docs = ((1L to 25L).map { i =>
      (i, (0 until rnd.nextInt(15)).map(_ => vocab(rnd.nextInt(vocab.length))))
    } :+ (99L, Seq.empty[String])).toDF("id", "toks")
    val k = 6
    def collect(cols: Seq[org.apache.spark.sql.Column]) =
      docs.select(col("id") +: cols: _*).collect()
        .map(r => r.getLong(0) -> (1 to k).map(i =>
          if (r.isNullAt(i)) null else r.getString(i))).toMap
    val kernel = collect(graft.operators.Dedup.minhashSignatureMd5(col("toks"), k))
    val composed = collect((1 to k).map { i =>
      array_min(transform(col("toks"), t => md5(concat(lit(s"$i#"), t)))).as(s"mh$i")
    })
    assert(kernel === composed)
    assert(kernel(99L).forall(_ == null)) // empty tokens → all-NULL signature
  }

  test("Md5SimHashHex kernel: exact parity with the relational md5-parity simhash") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    val spark: SparkSession = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Array("red", "green", "blue", "cyan", "teal", "onyx", "jade")
    val docs = ((1L to 30L).map { i =>
      (i, (0 until rnd.nextInt(30) + 1)
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }).toDF("doc_id", "text")
    val toks = graft.operators.Dedup.tokenSet(col("text"))
    val kernel = docs
      .select(col("doc_id"),
        graft.operators.Similarity.md5SimhashHex(toks).as("simhash_hex"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val relational = graft.operators.Similarity
      .simhashMd5Parity(docs, "doc_id", toks)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kernel === relational)
    assert(kernel.values.forall(_.matches("[0-9a-f]{16}")))
  }

  test("WinnowMd5 kernel: exact parity with the composed winnowing formula") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    val spark: SparkSession = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = ((1L to 40L).map { i =>
      val n = rnd.nextInt(20) // incl. docs below the k+w-1 threshold
      (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    } :+ (98L, "") :+ (99L, "one two three four five six seven")).toDF("id", "text")
    val (k, w) = (3, 4)
    val kernel = docs
      .select(col("id"), graft.operators.Shingles.winnow(col("text"), k, w).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("id"), explode(col("fps")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val composed = docs
      .select(col("id"),
        transform(graft.operators.Shingles.all(col("text"), k),
          g => substring(md5(g), 1, 16)).as("h"))
      .filter(size(col("h")) >= w)
      .select(col("id"),
        explode(array_distinct(
          transform(sequence(lit(1), size(col("h")) - w + 1),
            i => array_min(slice(col("h"), i, lit(w)))))).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kernel === composed)
    assert(kernel.nonEmpty)
  }

  test("PqUtil.encodeFloats: per-subspace nearest centroid, ties to lowest index") {
    import graft.functions.PqUtil
    // m=2 subspaces of dim 2; ksub=2 centroids each, flattened row-major
    // subspace 0: c0=(0,0) c1=(10,10); subspace 1: c0=(5,5) c1=(-5,-5)
    val codebook = Array[Float](0, 0, 10, 10, 5, 5, -5, -5)
    assert(PqUtil.encodeFloats(Array[Float](1, 1, 4, 4), codebook, 2, 2).toSeq ===
      Seq[Byte](0, 0))
    assert(PqUtil.encodeFloats(Array[Float](9, 9, -4, -4), codebook, 2, 2).toSeq ===
      Seq[Byte](1, 1))
    // equidistant (5,5): both centroids at d²=50 — strict < keeps index 0
    assert(PqUtil.encodeFloats(Array[Float](5, 5, 0, 0), codebook, 2, 2).toSeq ===
      Seq[Byte](0, 0))
  }

  test("PqUtil.adc: lookup-table sum with unsigned code bytes") {
    import graft.functions.PqUtil
    val lut = Array.tabulate(2 * 256)(i => i.toDouble / 10)
    // code bytes are UNSIGNED indices: -1 must read slot 255, not -1
    val code = Array[Byte](3, -1)
    assert(PqUtil.adc(code, lut, 256) === (3.0 / 10 + (256 + 255).toDouble / 10))
  }

  test("PqUtil: encode∘adc approximates the dot against decoded centroids") {
    import graft.functions.PqUtil
    // one subspace, centroids on the unit axes: encoding picks the nearer
    // axis, and the ADC score is exactly dot(query, chosen centroid)
    val codebook = Array[Float](1, 0, 0, 1) // c0=(1,0) c1=(0,1)
    val v = Array[Float](0.9f, 0.1f)
    val code = PqUtil.encodeFloats(v, codebook, 1, 2)
    assert(code.toSeq === Seq[Byte](0))
    val query = Seq(0.5f, 2.0f)
    val lut = graft.operators.Similarity.pqLut(
      Array(Array(Array(1f, 0f), Array(0f, 1f))), query)
    // dot(query, c0) = 0.5
    assert(PqUtil.adc(code, lut, 2) === 0.5)
  }

  test("KmeansUtil.nearest: parity with the least-struct argmin formula incl. ties") {
    import graft.functions.KmeansUtil
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(17)
    val dim = 7; val k = 5
    val cents = Array.fill(k, dim)(rnd.nextInt(2000).toLong - 1000L)
    // plant an exact DUPLICATE centroid so ties exist: the kernel must
    // keep the SMALLER index, like least(struct(d2, list_id))
    cents(3) = cents(1).clone()
    val flat = cents.flatten
    def formula(qv: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.min._2
    (0 until 500).foreach { _ =>
      val qv = Array.fill(dim)(rnd.nextInt(2000).toLong - 1000L)
      val got = KmeansUtil.nearest(new GenericArrayData(qv), flat, dim)
      assert(got === formula(qv))
    }
    // exact hit on the duplicated centroid → index 1, never 3
    assert(KmeansUtil.nearest(new GenericArrayData(cents(1)), flat, dim) === 1)
  }
}
