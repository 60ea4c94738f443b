package graft.cdc

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Binary BSON document → JSON string, the Spark restatement of the
  * reference's direct (no-intermediate-tree) Mongo decode
  * (flow/connectors/mongo/qvalue_convert.go: `rawDocToJSON` /
  * `rawValueToJSON`), plus the `_id`→string rule
  * (`QValueStringFromId`). Wire layout per the public BSON spec
  * (bsonspec.org): little-endian fixed ints, `int32 length`-framed
  * documents, type-tagged elements.
  *
  * Rendering rules (matching the reference's converter):
  *   - datetime → RFC3339(-Nano) UTC string, fraction trimmed
  *   - ObjectId → 24-char hex string
  *   - binary → `{"Subtype":n,"Data":"<base64>"}`
  *   - timestamp → `{"T":t,"I":i}`; regex → `{"Pattern":p,"Options":o}`
  *   - undefined/minkey/maxkey → `{}`
  *   - decimal128 → decimal string (IEEE 754-2008 toString algorithm)
  *
  * An encoder rides along for golden fixtures and the oracle query — the
  * only real producer is MongoDB itself.
  */
object Bson {

  // type tags (bsonspec.org §elements)
  private val TDouble = 0x01; private val TString = 0x02
  private val TDoc = 0x03; private val TArray = 0x04
  private val TBinary = 0x05; private val TUndefined = 0x06
  private val TObjectId = 0x07; private val TBool = 0x08
  private val TDateTime = 0x09; private val TNull = 0x0A
  private val TRegex = 0x0B; private val TJavaScript = 0x0D
  private val TSymbol = 0x0E; private val TInt32 = 0x10
  private val TTimestamp = 0x11; private val TInt64 = 0x12
  private val TDecimal128 = 0x13
  private val TMinKey = 0xFF; private val TMaxKey = 0x7F

  // ----------------------------------------------------------------- decode

  /** BSON document bytes → compact JSON object string. */
  def documentToJson(bytes: Array[Byte]): String = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    writeDoc(b, sb, array = false)
    sb.toString
  }

  /** Top-level elements of a BSON document as (name, type tag, value
    * bytes) — the walk a change-stream consumer needs to pick
    * operationType / ns / documentKey / fullDocument / clusterTime out
    * of a change event WITHOUT rendering the whole document
    * (mongo/cdc.go change-event field access). Value bytes are the raw
    * element payload, suitable for [[idToString]] / [[documentToJson]]
    * (doc-typed values) / re-walking with [[elements]]. */
  def elements(bytes: Array[Byte]): Seq[(String, Int, Array[Byte])] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val end = b.position() + b.getInt()
    require(end <= bytes.length, "document length exceeds buffer")
    val out = Seq.newBuilder[(String, Int, Array[Byte])]
    while (b.position() < end - 1) {
      val tpe = b.get() & 0xFF
      val key = cstr(b)
      val start = b.position()
      skipValue(tpe, b)
      out += ((key, tpe,
        java.util.Arrays.copyOfRange(bytes, start, b.position())))
    }
    out.result()
  }

  private def skipValue(tpe: Int, b: ByteBuffer): Unit = tpe match {
    case TDouble | TDateTime | TTimestamp | TInt64 =>
      b.position(b.position() + 8)
    case TString | TJavaScript | TSymbol =>
      val len = b.getInt()
      require(len >= 1 && len <= b.remaining(), s"bad string length $len")
      b.position(b.position() + len)
    case TDoc | TArray =>
      val len = b.getInt()
      require(len >= 5 && len - 4 <= b.remaining(), s"bad doc length $len")
      b.position(b.position() + len - 4)
    case TBinary =>
      val len = b.getInt()
      require(len >= 0 && len + 1 <= b.remaining(), s"bad binary length")
      b.position(b.position() + len + 1)
    case TObjectId => b.position(b.position() + 12)
    case TBool => b.position(b.position() + 1)
    case TUndefined | TNull | TMinKey | TMaxKey => ()
    case TRegex => cstr(b); cstr(b); ()
    case TInt32 => b.position(b.position() + 4)
    case TDecimal128 => b.position(b.position() + 16)
    case other =>
      throw new IllegalArgumentException(f"unknown BSON type 0x$other%02x")
  }

  /** Element value → plain string for the walk above (string-typed
    * values unquoted; everything else JSON form). */
  def elementString(tpe: Int, value: Array[Byte]): String =
    idToString(tpe, value)

  /** (T seconds, I ordinal) of a timestamp-typed element value. */
  def timestampOf(value: Array[Byte]): (Long, Long) = {
    val b = ByteBuffer.wrap(value).order(ByteOrder.LITTLE_ENDIAN)
    val i = b.getInt().toLong & 0xFFFFFFFFL
    val t = b.getInt().toLong & 0xFFFFFFFFL
    (t, i)
  }

  /** The `_id` → ordering-key string rule (QValueStringFromId,
    * qvalue_convert.go:51-66): ObjectIds and strings render WITHOUT JSON
    * quoting; any other type keeps its JSON form. Input: one BSON element
    * value (type tag + bytes). */
  def idToString(tpe: Int, value: Array[Byte]): String = {
    val b = ByteBuffer.wrap(value).order(ByteOrder.LITTLE_ENDIAN)
    tpe match {
      case TObjectId => hex(value)
      case TString =>
        val len = b.getInt()
        new String(value, 4, len - 1, StandardCharsets.UTF_8)
      case _ =>
        val sb = new java.lang.StringBuilder
        writeValue(tpe, b, sb)
        sb.toString
    }
  }

  private def cstr(b: ByteBuffer): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var c = b.get()
    while (c != 0) { sb.write(c); c = b.get() }
    sb.toString(StandardCharsets.UTF_8)
  }

  private def lstr(b: ByteBuffer): String = {
    val len = b.getInt()
    // untrusted length: bound before allocating
    require(len >= 1 && len <= b.remaining(),
      s"declared string length $len exceeds remaining ${b.remaining()}")
    val a = new Array[Byte](len - 1)
    b.get(a)
    require(b.get() == 0, "string not NUL-terminated")
    new String(a, StandardCharsets.UTF_8)
  }

  private val HexChars = "0123456789abcdef".toCharArray
  private def hex(a: Array[Byte]): String = {
    val out = new Array[Char](a.length * 2)
    var i = 0
    while (i < a.length) {
      out(2 * i) = HexChars((a(i) >> 4) & 0xF)
      out(2 * i + 1) = HexChars(a(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  private def jsonStr(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def writeDoc(b: ByteBuffer, sb: java.lang.StringBuilder,
      array: Boolean): Unit = {
    val start = b.position() // before the length read: len spans the doc
    val end = start + b.getInt()
    sb.append(if (array) '[' else '{')
    var first = true
    while (b.position() < end - 1) {
      val tpe = b.get() & 0xFF
      val key = cstr(b)
      if (!first) sb.append(',')
      first = false
      if (!array) { jsonStr(sb, key); sb.append(':') }
      writeValue(tpe, b, sb)
    }
    require(b.get() == 0, "document not NUL-terminated")
    sb.append(if (array) ']' else '}')
  }

  // one shared immutable formatter — building one per value dominated the
  // decode profile of q_bson_normalize (NOTES.md "Harness-measured
  // choices")
  private val Rfc3339Seconds = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** RFC3339Nano UTC: seconds precision plus a TRIMMED fraction (Go
    * time.RFC3339Nano drops trailing zeros; BSON datetimes are millis). */
  private def rfc3339(epochMillis: Long): String = {
    val base = Rfc3339Seconds.format(
      java.time.Instant.ofEpochMilli(epochMillis))
    val ms = Math.floorMod(epochMillis, 1000L)
    if (ms == 0) base + "Z"
    else {
      var frac = ms.toInt; var digits = 3
      while (frac % 10 == 0) { frac /= 10; digits -= 1 }
      val fs = frac.toString
      base + "." + ("0" * (digits - fs.length)) + fs + "Z"
    }
  }

  private def writeValue(tpe: Int, b: ByteBuffer,
      sb: java.lang.StringBuilder): Unit = tpe match {
    case TDouble =>
      val d = b.getDouble()
      if (d.isNaN || d.isInfinite) sb.append("null") // JSON has no NaN/Inf
      else if (d == d.toLong.toDouble && math.abs(d) < 1e15)
        sb.append(d.toLong) // integral doubles render bare (Go %g parity)
      else sb.append(d)
    case TString => jsonStr(sb, lstr(b))
    case TDoc => writeDoc(b, sb, array = false)
    case TArray => writeDoc(b, sb, array = true)
    case TBinary =>
      val len = b.getInt()
      val subtype = b.get() & 0xFF
      require(len >= 0 && len <= b.remaining(),
        s"declared binary length $len exceeds remaining ${b.remaining()}")
      val data = new Array[Byte](len); b.get(data)
      sb.append("{\"Subtype\":").append(subtype).append(",\"Data\":\"")
        .append(java.util.Base64.getEncoder.encodeToString(data))
        .append("\"}")
    case TUndefined | TMinKey | TMaxKey => sb.append("{}")
    case TObjectId =>
      val oid = new Array[Byte](12); b.get(oid)
      sb.append('"').append(hex(oid)).append('"')
    case TBool => sb.append(if (b.get() != 0) "true" else "false")
    case TDateTime =>
      sb.append('"').append(rfc3339(b.getLong())).append('"')
    case TNull => sb.append("null")
    case TRegex =>
      val pattern = cstr(b); val options = cstr(b)
      sb.append("{\"Pattern\":"); jsonStr(sb, pattern)
      sb.append(",\"Options\":"); jsonStr(sb, options); sb.append('}')
    case TJavaScript | TSymbol => jsonStr(sb, lstr(b))
    case TInt32 => sb.append(b.getInt())
    case TTimestamp =>
      val i = b.getInt(); val t = b.getInt() // increment first on the wire
      sb.append("{\"T\":").append(t.toLong & 0xFFFFFFFFL)
        .append(",\"I\":").append(i.toLong & 0xFFFFFFFFL).append('}')
    case TInt64 => sb.append(b.getLong())
    case TDecimal128 =>
      val low = b.getLong(); val high = b.getLong()
      jsonStr(sb, decimal128String(high, low))
    case other =>
      throw new IllegalArgumentException(f"unknown BSON type 0x$other%02x")
  }

  /** IEEE 754-2008 decimal128 → string, the BSON driver's toString
    * algorithm (public spec): bias-6176 exponent, 113-bit significand;
    * scientific form when exponent > 0 or adjusted exponent < -6. */
  def decimal128String(high: Long, low: Long): String = {
    val negative = (high & 0x8000000000000000L) != 0
    val combo = (high >>> 58) & 0x1F
    if ((combo & 0x1E) == 0x1E) {
      return if ((combo & 0x1F) == 0x1F) "NaN"
      else if (negative) "-Infinity" else "Infinity"
    }
    val (exponent, sigHigh, sigLow) =
      if (((high >>> 61) & 3) == 3)
        // 11-form: out-of-range by construction; drivers render the
        // significand as zero (mongo driver Decimal128.String).
        ((((high >>> 47) & 0x3FFF).toInt - 6176, 0L, 0L))
      else
        ((((high >>> 49) & 0x3FFF).toInt - 6176,
          high & 0x0001FFFFFFFFFFFFL, low))
    val sig = (BigInt(sigHigh) << 64) |
      BigInt(java.lang.Long.toUnsignedString(sigLow))
    val digits = sig.toString
    val adjusted = exponent + digits.length - 1
    val body =
      if (exponent > 0 || adjusted < -6) {
        // scientific: d.dddE±x
        val mant =
          if (digits.length == 1) digits
          else digits.head + "." + digits.tail
        mant + "E" + (if (adjusted >= 0) "+" else "") + adjusted
      } else if (exponent == 0) digits
      else {
        val pointAt = digits.length + exponent
        if (pointAt <= 0) "0." + ("0" * -pointAt) + digits
        else digits.substring(0, pointAt) + "." + digits.substring(pointAt)
      }
    (if (negative) "-" else "") + body
  }

  // ----------------------------------------------------------------- encode

  sealed trait BVal
  final case class BDouble(v: Double) extends BVal
  final case class BString(v: String) extends BVal
  final case class BDoc(fields: Seq[(String, BVal)]) extends BVal
  final case class BArray(items: Seq[BVal]) extends BVal
  final case class BBinary(subtype: Int, data: Array[Byte]) extends BVal
  final case class BObjectId(bytes: Array[Byte]) extends BVal {
    require(bytes.length == 12, "ObjectId is 12 bytes")
  }
  final case class BBool(v: Boolean) extends BVal
  final case class BDateTime(epochMillis: Long) extends BVal
  case object BNull extends BVal
  final case class BRegex(pattern: String, options: String) extends BVal
  final case class BInt32(v: Int) extends BVal
  final case class BTimestamp(t: Long, i: Long) extends BVal
  final case class BInt64(v: Long) extends BVal
  final case class BDecimal128(high: Long, low: Long) extends BVal
  case object BMinKey extends BVal
  case object BMaxKey extends BVal

  def encode(fields: (String, BVal)*): Array[Byte] =
    encodeDoc(BDoc(fields))

  def encodeDoc(doc: BDoc): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeDocBytes(out, doc.fields)
    out.toByteArray
  }

  private def writeDocBytes(out: java.io.ByteArrayOutputStream,
      fields: Seq[(String, BVal)]): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    fields.foreach { case (k, v) => writeElement(body, k, v) }
    val total = 4 + body.size() + 1
    writeI32(out, total)
    body.writeTo(out)
    out.write(0)
  }

  private def writeI32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v); o.write(v >>> 8); o.write(v >>> 16); o.write(v >>> 24)
  }
  private def writeI64(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    writeI32(o, v.toInt); writeI32(o, (v >>> 32).toInt)
  }
  private def writeCstr(o: java.io.ByteArrayOutputStream,
      s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(!b.contains(0.toByte), "cstring cannot contain NUL")
    o.write(b, 0, b.length); o.write(0)
  }
  private def writeLstr(o: java.io.ByteArrayOutputStream,
      s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    writeI32(o, b.length + 1); o.write(b, 0, b.length); o.write(0)
  }

  private def writeElement(o: java.io.ByteArrayOutputStream, key: String,
      v: BVal): Unit = v match {
    case BDouble(d) =>
      o.write(TDouble); writeCstr(o, key)
      writeI64(o, java.lang.Double.doubleToLongBits(d))
    case BString(s) => o.write(TString); writeCstr(o, key); writeLstr(o, s)
    case BDoc(fs) => o.write(TDoc); writeCstr(o, key); writeDocBytes(o, fs)
    case BArray(items) =>
      o.write(TArray); writeCstr(o, key)
      writeDocBytes(o, items.zipWithIndex.map { case (it, i) =>
        i.toString -> it
      })
    case BBinary(subtype, data) =>
      o.write(TBinary); writeCstr(o, key)
      writeI32(o, data.length); o.write(subtype)
      o.write(data, 0, data.length)
    case BObjectId(bs) =>
      o.write(TObjectId); writeCstr(o, key); o.write(bs, 0, 12)
    case BBool(b) =>
      o.write(TBool); writeCstr(o, key); o.write(if (b) 1 else 0)
    case BDateTime(ms) =>
      o.write(TDateTime); writeCstr(o, key); writeI64(o, ms)
    case BNull => o.write(TNull); writeCstr(o, key)
    case BRegex(p, opts) =>
      o.write(TRegex); writeCstr(o, key); writeCstr(o, p)
      writeCstr(o, opts)
    case BInt32(i) => o.write(TInt32); writeCstr(o, key); writeI32(o, i)
    case BTimestamp(t, i) =>
      o.write(TTimestamp); writeCstr(o, key)
      writeI32(o, i.toInt); writeI32(o, t.toInt)
    case BInt64(l) => o.write(TInt64); writeCstr(o, key); writeI64(o, l)
    case BDecimal128(h, l) =>
      o.write(TDecimal128); writeCstr(o, key); writeI64(o, l); writeI64(o, h)
    case BMinKey => o.write(TMinKey); writeCstr(o, key)
    case BMaxKey => o.write(TMaxKey); writeCstr(o, key)
  }
}
