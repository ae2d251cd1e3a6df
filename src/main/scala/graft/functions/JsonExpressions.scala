package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftvec.VecBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Structure-aware single-pass JSON key probe.
  *
  * R9 needs key-PRESENCE on the envelope payload (the reference checks
  * `containsKey`, so `"after": null` must pass while a missing key must
  * not — SURVEY §2.4.6). `get_json_object` cannot distinguish the two,
  * a text regex false-positives on `"after":` inside string VALUES, and
  * `json_object_keys(payloadText(v))` is correct but costs two extra
  * full Jackson parses per event (measured +70% on the q17 hot path).
  *
  * This scanner makes one pass over the raw event text, tracking string
  * and nesting state: it finds the top-level keys, descends into the
  * `payload` wrapper object when present (same unwrap rule as
  * Envelope.payloadText — a `payload: null` counts as bare form), and
  * reports whether the payload object contains the key.
  */
object JsonKeyProbe {

  private def skipWs(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    i
  }

  /** Index AFTER the closing quote of the string starting at `i0` ('"'). */
  private def skipString(s: String, i0: Int): Int = {
    var i = i0 + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == '"') return i + 1
      else i += 1
    }
    s.length
  }

  /** Index after the JSON value starting at (or after ws from) `i0`. */
  private def skipValue(s: String, i0: Int): Int = {
    var i = skipWs(s, i0)
    if (i >= s.length) return i
    s.charAt(i) match {
      case '"' => skipString(s, i)
      case '{' | '[' =>
        var depth = 0
        while (i < s.length) {
          s.charAt(i) match {
            case '"' => i = skipString(s, i) - 1
            case '{' | '[' => depth += 1
            case '}' | ']' =>
              depth -= 1
              if (depth == 0) return i + 1
            case _ =>
          }
          i += 1
        }
        i
      case _ =>
        while (i < s.length && ",}] \t\n\r".indexOf(s.charAt(i)) < 0) i += 1
        i
    }
  }

  /** Scan the object starting at `objStart` ('{'): does it have `key`,
    * and where does the value of its `payload` entry start (-1 if none)?
    */
  private def scanObject(s: String, objStart: Int, key: String): (Boolean, Int) = {
    var i = objStart + 1
    var hasKey = false
    var payloadStart = -1
    while (i < s.length) {
      i = skipWs(s, i)
      if (i >= s.length) return (hasKey, payloadStart)
      s.charAt(i) match {
        case '}' => return (hasKey, payloadStart)
        case ',' => i += 1
        case '"' =>
          val kStart = i + 1
          val kEnd = skipString(s, i)
          val k = s.substring(kStart, math.max(kStart, kEnd - 1))
          i = skipWs(s, kEnd)
          if (i < s.length && s.charAt(i) == ':') i += 1
          val vStart = skipWs(s, i)
          i = skipValue(s, vStart)
          if (k == key) hasKey = true
          if (k == "payload") payloadStart = vStart
        case _ => i += 1 // malformed fragment; resync
      }
    }
    (hasKey, payloadStart)
  }

  private def hex4(s: String, at: Int): Boolean = {
    var j = at
    while (j < at + 4) {
      val c = s.charAt(j)
      val ok = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      if (!ok) return false
      j += 1
    }
    true
  }

  /** Unescape a JSON string literal body (between the quotes). */
  private def unescape(s: String, from: Int, to: Int): String = {
    if (s.indexOf('\\', from) < 0 || s.indexOf('\\', from) >= to)
      return s.substring(from, to)
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < to) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' if i + 6 <= to && hex4(s, i + 2) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
          // invalid \uXXXX falls into `other` (keeps 'u' literally) — the
          // scanner must never throw out of a PartitionReader or Expression
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Start index of the value of `key` in the object at `objStart`, or
    * -1 when absent.
    */
  private def valueStartOf(s: String, objStart: Int, key: String): Int = {
    var i = objStart + 1
    while (i < s.length) {
      i = skipWs(s, i)
      if (i >= s.length) return -1
      s.charAt(i) match {
        case '}' => return -1
        case ',' => i += 1
        case '"' =>
          val kStart = i + 1
          val kEnd = skipString(s, i)
          val k = s.substring(kStart, math.max(kStart, kEnd - 1))
          i = skipWs(s, kEnd)
          if (i < s.length && s.charAt(i) == ':') i += 1
          val vStart = skipWs(s, i)
          if (k == key) return vStart
          i = skipValue(s, vStart)
        case _ => i += 1
      }
    }
    -1
  }

  /** String value of `payload.source.<field>` (wrapped or bare form),
    * null when absent / not a string — one pass, no Jackson parse. Used
    * by the DSv2 source's routing extraction.
    */
  def payloadSourceField(js: String, field: String): String = {
    if (js == null) return null
    val i = skipWs(js, 0)
    if (i >= js.length || js.charAt(i) != '{') return null
    var objStart = i
    val pStart = valueStartOf(js, objStart, "payload")
    if (pStart >= 0 && pStart < js.length && js.charAt(pStart) == '{')
      objStart = pStart
    else if (pStart >= 0 && !js.startsWith("null", pStart))
      return null // wrapped but payload is scalar/array: no source
    val sStart = valueStartOf(js, objStart, "source")
    if (sStart < 0 || sStart >= js.length || js.charAt(sStart) != '{') return null
    val fStart = valueStartOf(js, sStart, field)
    if (fStart < 0 || fStart >= js.length || js.charAt(fStart) != '"') return null
    val fEnd = skipString(js, fStart)
    unescape(js, fStart + 1, math.max(fStart + 1, fEnd - 1))
  }

  /** Unescaped string value of top-level `key` in the object `js`, or
    * null when `js` is not an object / the key is absent / its value is
    * not a string. One pass — used by the DSv2 source to crack the
    * `{"value": <event>, "offset": <n>}` wire record without a Jackson
    * parse (the reader's per-event hot path).
    */
  def topStringField(js: String, key: String): String = {
    if (js == null) return null
    val i = skipWs(js, 0)
    if (i >= js.length || js.charAt(i) != '{') return null
    val vStart = valueStartOf(js, i, key)
    if (vStart < 0 || vStart >= js.length || js.charAt(vStart) != '"') return null
    val vEnd = skipString(js, vStart)
    unescape(js, vStart + 1, math.max(vStart + 1, vEnd - 1))
  }

  /** Long value of top-level `key` in the object `js` (bare or quoted
    * digits), or `default` when absent / not numeric.
    */
  def topLongField(js: String, key: String, default: Long): Long = {
    if (js == null) return default
    val i = skipWs(js, 0)
    if (i >= js.length || js.charAt(i) != '{') return default
    var vStart = valueStartOf(js, i, key)
    if (vStart < 0 || vStart >= js.length) return default
    val vEnd =
      if (js.charAt(vStart) == '"') { vStart += 1; skipString(js, vStart - 1) - 1 }
      else skipValue(js, vStart)
    if (vEnd <= vStart) return default
    try java.lang.Long.parseLong(js.substring(vStart, vEnd).trim)
    catch { case _: NumberFormatException => default }
  }

  /** RAW JSON text of `payload.<key>` (wrapped or bare form), or null
    * when absent / explicit JSON null / the envelope is not an object.
    * Same envelope rules as [[payloadSourceField]]; returns the value
    * substring verbatim (object, array, string literal, or scalar) so
    * callers can hand it to a JSON consumer without a second full
    * parse of the envelope.
    */
  def payloadRawField(js: String, key: String): String = {
    if (js == null) return null
    val i = skipWs(js, 0)
    if (i >= js.length || js.charAt(i) != '{') return null
    var objStart = i
    val pStart = valueStartOf(js, objStart, "payload")
    if (pStart >= 0 && pStart < js.length && js.charAt(pStart) == '{')
      objStart = pStart
    else if (pStart >= 0 && !js.startsWith("null", pStart))
      return null // wrapped but payload is scalar/array: no fields
    val vStart = valueStartOf(js, objStart, key)
    if (vStart < 0 || vStart >= js.length) return null
    if (js.startsWith("null", vStart)) return null
    val vEnd =
      if (js.charAt(vStart) == '"') skipString(js, vStart)
      else skipValue(js, vStart)
    if (vEnd <= vStart) return null
    js.substring(vStart, vEnd)
  }

  /** Does the (possibly `{schema,payload}`-wrapped) event's payload
    * object contain `key` at its top level?
    */
  def payloadHasKey(js: String, key: String): Boolean = {
    val i = skipWs(js, 0)
    if (i >= js.length || js.charAt(i) != '{') return false
    val (hasKeyTop, pStart) = scanObject(js, i, key)
    if (pStart < 0) hasKeyTop // bare form: the value IS the payload
    else {
      val j = skipWs(js, pStart)
      if (j < js.length && js.charAt(j) == '{') scanObject(js, j, key)._1
      else if (js.startsWith("null", j)) hasKeyTop // payload:null ⇒ bare rule
      else false // wrapped but payload is scalar/array: no keys
    }
  }
}

/** Catalyst expression wrapper: one method call inside whole-stage
  * codegen, no Jackson parse.
  */
case class JsonPayloadHasKey(child: Expression, key: String)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "json_payload_has_key"

  override def nullSafeEval(v: Any): Any =
    JsonKeyProbe.payloadHasKey(v.asInstanceOf[UTF8String].toString, key)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("probeKey", key, "java.lang.String")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.JsonKeyProbe.payloadHasKey($v.toString(), $keyRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Raw `payload.<key>` extraction as a codegen'd scan — the drift
  * monitor's per-event hot path (one envelope scan instead of a full
  * Jackson parse per extracted field).
  */
case class JsonPayloadRaw(child: Expression, key: String)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "json_payload_raw"
  // the probe returns null for absent/null fields even on non-null
  // input — without this, a NOT NULL child makes codegen emit a
  // constant-false isNull (compile error + downstream NPEs)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val r = JsonKeyProbe.payloadRawField(v.asInstanceOf[UTF8String].toString, key)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("probeKey", key, "java.lang.String")
    val raw = ctx.freshName("raw")
    nullSafeCodeGen(ctx, ev, v => s"""
      java.lang.String $raw = graft.functions.JsonKeyProbe.payloadRawField(
        $v.toString(), $keyRef);
      if ($raw == null) { ${ev.isNull} = true; }
      else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($raw); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `payload.source.<field>` string extraction as a codegen'd scan
  * (the routing probe the DSv2 reader calls directly, as a Column).
  */
case class JsonPayloadSourceField(child: Expression, field: String)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "json_payload_source_field"
  override def nullable: Boolean = true // see JsonPayloadRaw

  override def nullSafeEval(v: Any): Any = {
    val r = JsonKeyProbe.payloadSourceField(v.asInstanceOf[UTF8String].toString, field)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fieldRef = ctx.addReferenceObj("probeField", field, "java.lang.String")
    val raw = ctx.freshName("raw")
    nullSafeCodeGen(ctx, ev, v => s"""
      java.lang.String $raw = graft.functions.JsonKeyProbe.payloadSourceField(
        $v.toString(), $fieldRef);
      if ($raw == null) { ${ev.isNull} = true; }
      else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($raw); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonFunctions {
  def payloadHasKey(value: Column, key: String): Column =
    VecBridge.column(JsonPayloadHasKey(VecBridge.expression(value), key))

  def payloadRaw(value: Column, key: String): Column =
    VecBridge.column(JsonPayloadRaw(VecBridge.expression(value), key))

  def payloadSourceTable(value: Column): Column =
    VecBridge.column(JsonPayloadSourceField(VecBridge.expression(value), "table"))
}
