package graft.functions

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken, JsonTokenId, StreamReadConstraints}

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Canonical-JSON serialization byte-compatible with Python's
  * `json.dumps(json.loads(s), sort_keys=True, separators=(',', ':'))`
  * (default `ensure_ascii=True`), which the reference uses for its
  * write-side dedup key `payload_hash` (reference: src/loaders/base.py:17-31).
  * Keys sorted code-point ascending, the last of duplicate keys wins; no
  * whitespace; non-ASCII escaped as `\uXXXX` (surrogate pairs for astral
  * planes); `/` NOT escaped; floats as Python's `repr`.
  *
  * One streaming walk over Jackson tokens writes the canonical bytes: each
  * object's `"key":value` spans land in one byte buffer in input order and
  * are reordered in place only when the keys arrive unsorted or repeated.
  * [[payloadHash16]] digests that buffer; [[canonicalize]] returns it as a
  * string. Test vectors: src/test/resources/canonical_golden.jsonl, written
  * by tools/canonical_golden.py.
  */
object CanonicalJson {
  // parity with Python json.loads' accept/reject envelope: NaN/Infinity
  // literals PARSE, trailing tokens REJECT, numbers have no length cap
  // (ints are capped below, as CPython does)
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .streamReadConstraints(StreamReadConstraints.builder()
      .maxNumberLength(Int.MaxValue).build())
    .build()

  /** CPython (3.11+) refuses int literals of more digits than this. */
  private val MaxIntDigits = 4300

  private val hexFormat = java.util.HexFormat.of()

  /** The canonical form; throws where Python's `json.loads` raises. */
  def canonicalize(json: String): String = {
    val w = walkers.get()
    try {
      w.walk(json)
      val out = new java.io.ByteArrayOutputStream(json.length)
      w.emit((b, off, n) => out.write(b, off, n))
      out.toString(StandardCharsets.US_ASCII)
    } finally w.release()
  }

  /** First 16 hex chars of sha256(canonical JSON) — the reference's
    * `calculate_payload_hash` (src/loaders/base.py:17-31). Falls back to
    * hashing the raw string when the payload is not valid JSON.
    */
  def payloadHash16(json: String): String = {
    val w = walkers.get()
    try {
      val parsed =
        try { w.walk(json); true }
        catch { case _: Exception => false }
      if (parsed) w.emit((b, off, n) => w.md.update(b, off, n))
      else w.md.update(json.getBytes(StandardCharsets.UTF_8))
      hexFormat.formatHex(w.md.digest(), 0, 8)
    } finally w.release()
  }

  /** Python sorts keys by CODE POINT; Java String.compareTo compares
    * UTF-16 code units, which misorders astral-plane keys against
    * U+E000..U+FFFF (surrogates compare below them). */
  def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private val byKey = new java.util.Comparator[Entry] {
    def compare(a: Entry, b: Entry): Int = codePointCompare(a.key, b.key)
  }

  /** One `"key":value` span of an open object: bytes [start, end) of the
    * walker's buffer. */
  private final class Entry {
    var key: String = _
    var start = 0
    var end = 0
  }

  private val walkers = ThreadLocal.withInitial[Walker](() => new Walker)

  /** Reusable per-thread state of one walk. */
  private final class Walker {
    private val InitialBytes = 1 << 13
    /** Buffers that grew past this (a mega-payload) are dropped after use. */
    private val KeepBytes = 1 << 20

    private var buf = new Array[Byte](InitialBytes)
    private var len = 0
    private var scratch = new Array[Byte](InitialBytes)
    private var chars = new Array[Char](256)
    private var entries = Array.fill(64)(new Entry)
    private var open = 0
    private var root = false
    /** The payload has no backslash and no DEL: its strings have no
      * escapes, so an ASCII run of one needs no escaping either (Jackson
      * rejects raw control characters) and is copied by the charset
      * encoder's bulk loop. */
    private var bulk = false
    private val ascii = StandardCharsets.US_ASCII.newEncoder()
    // the encoder's views of the string's chars and of `buf`, re-made only
    // when those arrays change
    private var in: java.nio.CharBuffer = null
    private var out: java.nio.ByteBuffer = null
    val md: MessageDigest = MessageDigest.getInstance("SHA-256")

    /** Walks `json` into [[buf]]. A root object's entries stay unsorted
      * in place: [[emit]] visits them in key order, so the largest span is
      * never moved. */
    def walk(json: String): Unit = {
      len = 0
      open = 0
      bulk = json.indexOf('\\') < 0 && json.indexOf(0x7f) < 0
      // compact ASCII input is about as long as its canonical form: one
      // allocation instead of doublings for a mega-payload
      if (buf.length < json.length + 16) buf = new Array[Byte](json.length + 16)
      val p = factory.createParser(json)
      try {
        val t = p.nextToken()
        root = t == JsonToken.START_OBJECT
        if (!root) value(p, t)
        else if (!fields(p, 0)) java.util.Arrays.sort[Entry](entries, 0, open, byKey)
        if (p.nextToken() != null)
          throw new IllegalArgumentException("trailing tokens after the JSON value")
      } finally p.close()
    }

    /** Feeds the canonical bytes of the last walk, in order, to `out`. */
    def emit(out: (Array[Byte], Int, Int) => Unit): Unit =
      if (!root) out(buf, 0, len)
      else {
        out(Punct, 0, 1)
        var first = true
        var i = 0
        while (i < open) {
          if (lastOfKey(i)) {
            if (!first) out(Punct, 1, 1)
            first = false
            out(buf, entries(i).start, entries(i).end - entries(i).start)
          }
          i += 1
        }
        out(Punct, 2, 1)
      }

    def release(): Unit = {
      if (buf.length > KeepBytes) buf = new Array[Byte](InitialBytes)
      if (scratch.length > KeepBytes) scratch = new Array[Byte](InitialBytes)
      in = null
      out = null
      if (entries.length > 1024) entries = Array.fill(64)(new Entry)
      md.reset()
    }

    private def value(p: JsonParser, t: JsonToken): Unit = {
      if (t == null) throw new IllegalArgumentException("no JSON value")
      t.id() match {
        case JsonTokenId.ID_START_OBJECT => obj(p)
        case JsonTokenId.ID_START_ARRAY =>
          put('[')
          var k = p.nextToken()
          var first = true
          while (k != JsonToken.END_ARRAY) {
            if (!first) put(',')
            first = false
            value(p, k)
            k = p.nextToken()
          }
          put(']')
        case JsonTokenId.ID_STRING =>
          string(p.getTextCharacters, p.getTextOffset, p.getTextLength)
        case JsonTokenId.ID_NUMBER_INT => integer(p)
        case JsonTokenId.ID_NUMBER_FLOAT => float(p)
        case JsonTokenId.ID_TRUE => ascii("true")
        case JsonTokenId.ID_FALSE => ascii("false")
        case JsonTokenId.ID_NULL => ascii("null")
        case _ => throw new IllegalArgumentException(s"unexpected token $t")
      }
    }

    /** Writes the entries in input order; reorders the body in place when
      * a key arrived out of order or twice (stable sort, last one kept). */
    private def obj(p: JsonParser): Unit = {
      put('{')
      val from = len
      val e0 = open
      if (!fields(p, e0)) reorder(e0, from)
      open = e0
      put('}')
    }

    /** Walks an object's fields up to its end, comma-separated, pushing one
      * entry each; true when the keys arrived strictly ascending. */
    private def fields(p: JsonParser, e0: Int): Boolean = {
      var sorted = true
      var t = p.nextToken()
      while (t != JsonToken.END_OBJECT) {
        if (t != JsonToken.FIELD_NAME) throw new IllegalArgumentException(s"unexpected token $t")
        val key = p.currentName()
        if (open > e0) {
          put(',')
          if (sorted && codePointCompare(entries(open - 1).key, key) >= 0) sorted = false
        }
        val start = len
        string(key)
        put(':')
        value(p, p.nextToken())
        push(key, start, len)
        t = p.nextToken()
      }
      sorted
    }

    /** After a stable sort by key: is entry i the last (winning) one of its key? */
    private def lastOfKey(i: Int): Boolean = i + 1 == open || entries(i + 1).key != entries(i).key

    private def push(key: String, start: Int, end: Int): Unit = {
      if (open == entries.length) {
        val grown = java.util.Arrays.copyOf(entries, open * 2)
        var i = open
        while (i < grown.length) { grown(i) = new Entry; i += 1 }
        entries = grown
      }
      val e = entries(open)
      e.key = key
      e.start = start
      e.end = end
      open += 1
    }

    private def reorder(e0: Int, from: Int): Unit = {
      val n = len - from
      if (scratch.length < n) scratch = new Array[Byte](Math.max(n, scratch.length * 2))
      System.arraycopy(buf, from, scratch, 0, n)
      java.util.Arrays.sort[Entry](entries, e0, open, byKey)
      len = from
      var first = true
      var i = e0
      while (i < open) {
        val e = entries(i)
        if (lastOfKey(i)) {
          if (!first) put(',')
          first = false
          val m = e.end - e.start
          ensure(m)
          System.arraycopy(scratch, e.start - from, buf, len, m)
          len += m
        }
        i += 1
      }
    }

    private def integer(p: JsonParser): Unit = {
      val cs = p.getTextCharacters
      val off = p.getTextOffset
      val n = p.getTextLength
      val digits = if (cs(off) == '-') n - 1 else n
      if (digits > MaxIntDigits)
        throw new IllegalArgumentException(s"int literal of $digits digits")
      if (n == 2 && cs(off) == '-' && cs(off + 1) == '0') put('0')
      else {
        ensure(n)
        var i = 0
        while (i < n) { buf(len + i) = cs(off + i).toByte; i += 1 }
        len += n
      }
    }

    private def float(p: JsonParser): Unit = {
      val text = p.getText
      val numeric = Character.isDigit(text.charAt(0)) ||
        (text.length > 1 && text.charAt(0) == '-' && Character.isDigit(text.charAt(1)))
      if (!numeric) {
        // Jackson's non-numeric literals are a superset of Python's
        if (text != "NaN" && text != "Infinity" && text != "-Infinity")
          throw new IllegalArgumentException(s"non-Python non-finite literal: $text")
        ascii(text)
      } else ascii(pythonRepr(p.getDoubleValue))
    }

    private def ascii(s: String): Unit = {
      val n = s.length
      ensure(n)
      var i = 0
      while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
      len += n
    }

    private def string(s: String): Unit = {
      val n = s.length
      if (chars.length < n) chars = new Array[Char](Math.max(n, chars.length * 2))
      s.getChars(0, n, chars, 0)
      string(chars, 0, n)
    }

    /** A JSON string literal with Python's ensure_ascii escaping. */
    private def string(cs: Array[Char], off: Int, n: Int): Unit = {
      ensure(2 + n)
      buf(len) = '"'
      len += 1
      var i = off
      val end = off + n
      if (bulk && n >= 16) {
        // stops at the first non-ASCII character; the loop below goes on from there
        if ((in eq null) || (in.array ne cs)) in = java.nio.CharBuffer.wrap(cs)
        if ((out eq null) || (out.array ne buf)) out = java.nio.ByteBuffer.wrap(buf)
        in.clear().position(off).limit(end)
        out.clear().position(len).limit(len + n)
        ascii.reset()
        ascii.encode(in, out, true)
        len = out.position()
        i = in.position()
      }
      if (i < end) {
        // what is left may escape to six bytes a character
        ensure(1 + 6 * (end - i))
        val b = buf
        var l = len
        while (i < end) {
          val c = cs(i)
          if (c < 128 && Plain(c)) {
            b(l) = c.toByte
            l += 1
          } else l = escape(b, l, c)
          i += 1
        }
        len = l
      }
      buf(len) = '"'
      len += 1
    }

    private def escape(b: Array[Byte], l: Int, c: Char): Int = {
      b(l) = '\\'
      val e = c match {
        case '"' => '"'
        case '\\' => '\\'
        case '\n' => 'n'
        case '\r' => 'r'
        case '\t' => 't'
        case '\b' => 'b'
        case '\f' => 'f'
        case _ => 'u'
      }
      b(l + 1) = e.toByte
      if (e != 'u') l + 2
      else {
        b(l + 2) = Hex(c >> 12 & 0xf)
        b(l + 3) = Hex(c >> 8 & 0xf)
        b(l + 4) = Hex(c >> 4 & 0xf)
        b(l + 5) = Hex(c & 0xf)
        l + 6
      }
    }

    private def put(b: Char): Unit = {
      ensure(1)
      buf(len) = b.toByte
      len += 1
    }

    private def ensure(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, Math.max(len + n, buf.length * 2))
  }

  private val Hex: Array[Byte] = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)
  private val Punct: Array[Byte] = "{,}".getBytes(StandardCharsets.US_ASCII)
  /** ASCII characters a JSON string carries unescaped. */
  private val Plain: Array[Boolean] = Array.tabulate(128)(c => c >= 0x20 && c <= 0x7e && c != '"' && c != '\\')

  /** Python's `repr(float)`: the shortest decimal that reads back as `d`
    * (the nearest one when several are that short), in scientific
    * notation iff its exponent is < -4 or >= 16, the exponent signed and
    * at least two digits; non-finite values as json.dumps writes them. */
  private[functions] def pythonRepr(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "Infinity" else "-Infinity"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val a = Math.abs(d)
    val exact = new JBigDecimal(a)
    var best: JBigDecimal = null
    var p = 1
    while (best == null) {
      val lo = exact.round(new MathContext(p, RoundingMode.FLOOR))
      val hi = exact.round(new MathContext(p, RoundingMode.CEILING))
      val loOk = java.lang.Double.parseDouble(lo.toString) == a
      val hiOk = java.lang.Double.parseDouble(hi.toString) == a
      best =
        if (loOk && hiOk) {
          val c = exact.subtract(lo).compareTo(hi.subtract(exact))
          if (c < 0) lo else if (c > 0) hi
          else if (lo.unscaledValue.testBit(0)) hi else lo
        } else if (loOk) lo else if (hiOk) hi else null
      p += 1
    }
    val stripped = best.stripTrailingZeros
    val digits = stripped.unscaledValue.toString
    val decpt = digits.length - stripped.scale // value = 0.digits × 10^decpt
    val sb = new java.lang.StringBuilder(32)
    if (d < 0) sb.append('-')
    if (decpt <= -4 || decpt > 16) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      val e = decpt - 1
      sb.append('e').append(if (e < 0) '-' else '+')
      if (Math.abs(e) < 10) sb.append('0')
      sb.append(Math.abs(e))
    } else if (decpt <= 0) {
      sb.append("0.")
      var i = 0
      while (i < -decpt) { sb.append('0'); i += 1 }
      sb.append(digits)
    } else if (decpt >= digits.length) {
      sb.append(digits)
      var i = digits.length
      while (i < decpt) { sb.append('0'); i += 1 }
      sb.append(".0")
    } else sb.append(digits, 0, decpt).append('.').append(digits, decpt, digits.length)
    sb.toString
  }
}
