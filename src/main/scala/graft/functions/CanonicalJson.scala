package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Canonical-JSON serialization byte-compatible with Python's
  * `json.dumps(obj, sort_keys=True, separators=(',', ':'))` (default
  * `ensure_ascii=True`), which the reference uses for its write-side dedup
  * key `payload_hash` (reference: src/loaders/base.py:17-31). Keys sorted
  * code-point ascending; no whitespace; non-ASCII escaped as `\uXXXX`
  * (surrogate pairs for astral planes); `/` NOT escaped.
  */
object CanonicalJson {
  // parity with Python json.loads' accept/reject envelope: NaN/Infinity
  // literals PARSE (json.loads accepts them by default) and trailing
  // tokens REJECT (json.loads raises on '{}garbage') — Jackson's defaults
  // are the opposite on both counts, which would flip payloads between
  // the canonical-hash and raw-string-fallback paths vs the reference
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    m
  }

  private val hexFormat = java.util.HexFormat.of()

  def canonicalize(json: String): String = {
    rejectNonPythonNonFinite(json)
    val node = mapper.readTree(json)
    val sb = new java.lang.StringBuilder(json.length)
    write(node, sb)
    sb.toString
  }

  /** Jackson's ALLOW_NON_NUMERIC_NUMBERS accepts a SUPERSET of Python's
    * literals (short forms INF/+INF/-INF, +Infinity); Python json.loads
    * accepts exactly NaN / Infinity / -Infinity. Any other non-finite
    * token must throw so [[payloadHash16]] takes the raw-string fallback
    * like the reference. Gated on a cheap substring probe — the streaming
    * token scan runs only for payloads that could contain one. */
  private def rejectNonPythonNonFinite(json: String): Unit = {
    if (!json.contains("Inf") && !json.contains("INF")) return
    val pythonLiterals = java.util.Set.of("NaN", "Infinity", "-Infinity")
    val p = mapper.getFactory.createParser(json)
    try {
      var t = p.nextToken()
      while (t != null) {
        if (t == com.fasterxml.jackson.core.JsonToken.VALUE_NUMBER_FLOAT) {
          val d = p.getDoubleValue
          if ((d.isNaN || d.isInfinite) && !pythonLiterals.contains(p.getText))
            throw new IllegalArgumentException(
              s"non-Python non-finite literal: ${p.getText}")
        }
        t = p.nextToken()
      }
    } finally p.close()
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

  private def write(node: JsonNode, sb: java.lang.StringBuilder): Unit = {
    if (node.isObject) {
      sb.append('{')
      val names = new java.util.ArrayList[String]()
      val it = node.fieldNames()
      while (it.hasNext) names.add(it.next())
      java.util.Collections.sort(names, new java.util.Comparator[String] {
        def compare(a: String, b: String): Int = codePointCompare(a, b)
      })
      var first = true
      val ni = names.iterator()
      while (ni.hasNext) {
        val name = ni.next()
        if (!first) sb.append(',')
        first = false
        writeString(name, sb)
        sb.append(':')
        write(node.get(name), sb)
      }
      sb.append('}')
    } else if (node.isArray) {
      sb.append('[')
      var first = true
      val it = node.elements()
      while (it.hasNext) {
        if (!first) sb.append(',')
        first = false
        write(it.next(), sb)
      }
      sb.append(']')
    } else if (node.isTextual) {
      writeString(node.textValue(), sb)
    } else if (node.isNull) {
      sb.append("null")
    } else if (node.isBoolean) {
      sb.append(if (node.booleanValue()) "true" else "false")
    } else if (node.isIntegralNumber) {
      sb.append(node.bigIntegerValue().toString)
    } else {
      // Python repr of floats: shortest round-trip. Java's Double.toString
      // matches for common cases; beacon payloads carry no floats in
      // practice (all quantities are strings/ints). Non-finite values
      // render as Python's json.dumps literals.
      val d = node.doubleValue()
      if (d.isNaN) sb.append("NaN")
      else if (d == Double.PositiveInfinity) sb.append("Infinity")
      else if (d == Double.NegativeInfinity) sb.append("-Infinity")
      else if (d == Math.floor(d) && Math.abs(d) < 1e16)
        sb.append(d.toLong).append(".0")
      else sb.append(d)
    }
  }

  /** Python json escaping with ensure_ascii=True. */
  private def writeString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < 0x20 || c > 0x7e =>
          sb.append("\\u").append(hexFormat.toHexDigits(c))
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Lower-case hex of the first `bytes` bytes of sha256(s). */
  private def sha256Hex(s: String, bytes: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    hexFormat.formatHex(md.digest(s.getBytes(StandardCharsets.UTF_8)), 0, bytes)
  }

  /** First 16 hex chars of sha256(canonical JSON) — the reference's
    * `calculate_payload_hash` (src/loaders/base.py:17-31). Falls back to
    * hashing the raw string when the payload is not valid JSON.
    */
  def payloadHash16(json: String): String = {
    val canonical =
      try canonicalize(json)
      catch { case _: Exception => json }
    sha256Hex(canonical, 8)
  }
}
