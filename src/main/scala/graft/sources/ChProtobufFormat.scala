package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Protobuf / ProtobufSingle formats (reference:
  * src/Formats/registerFormats.cpp registerInputFormatProtobuf +
  * src/Formats/ProtobufSerializer.cpp; format_schema carries
  * 'file.proto:MessageName'). Round-12 COVERAGE carried Protobuf as the
  * documented format gap ("descriptor tooling"); this closes it with a
  * self-contained implementation of the PUBLIC protobuf wire format
  * (developers.google.com/protocol-buffers/docs/encoding — varints,
  * zigzag, the four wire types, packed repeated) plus a minimal proto3
  * schema parser for flat scalar messages:
  *
  *   message M { int64 id = 1; string name = 2; repeated double v = 3; }
  *
  * Supported field types: double, float, bool, string, bytes,
  * int32/int64, uint32/uint64, sint32/sint64, fixed32/sfixed32,
  * fixed64/sfixed64, and `repeated` of each (numerics packed, the
  * proto3 default). Round 14 adds MESSAGE-typed fields (→ StructType,
  * length-delimited sub-messages, recursive) and ENUM fields
  * (→ StringType carrying the enum NAME; unknown numbers decode to
  * the number's digits — proto3's open-enum behavior), both declared
  * as TOP-LEVEL types and referenced by name. Round 14 also adds
  * `map<K, V>` fields (→ MapType; the wire shape is the spec's
  * repeated entry-message with key = 1 / value = 2, last key wins)
  * and `oneof` blocks (members flatten to nullable columns with
  * EXPLICIT presence: unset members read back NULL, never the proto3
  * default, and writing a row with two set members of one oneof is
  * loud). Nested type DEFINITIONS still reject loudly.
  *
  * Framing, per the reference's two formats:
  *   Protobuf        every row is one message prefixed by a VARINT
  *                   byte length (the stream-friendly framing).
  *   ProtobufSingle  ONE bare message, no length prefix.
  *
  * Writer semantics: every field is written EXPLICITLY (including
  * proto3 defaults) so decode∘encode is the identity; readers accept
  * missing fields as proto3 defaults (0 / '' / false / empty list) —
  * NULL on the Spark side is written as the default, the documented
  * proto3 lossiness. Distribution model matches the other graft wire
  * formats: one self-contained part file per partition on write, one
  * Spark task per part streaming-decoded on read.
  */
object ChProtobufFormat {

  // ------------------------------------------------------------- schema

  /** One declared field. `ptype` is the scalar/message/enum type name,
    * or the literal "map" for map fields (key/value types in `mapKV`).
    * `oneofGroup` carries the enclosing oneof's name for its members —
    * they encode/decode with explicit presence. */
  final case class ProtoField(name: String, number: Int, ptype: String,
      repeated: Boolean, mapKV: Option[(String, String)] = None,
      oneofGroup: Option[String] = None) {
    def isMap: Boolean = mapKV.isDefined
  }

  /** Every top-level type in a schema file: message name → fields,
    * enum name → (value name → number). */
  final case class ProtoRegistry(messages: Map[String, Seq[ProtoField]],
      enums: Map[String, Map[String, Int]]) {
    def isMessage(t: String): Boolean = messages.contains(t)
    def isEnum(t: String): Boolean = enums.contains(t)
  }

  val EmptyRegistry: ProtoRegistry =
    ProtoRegistry(Map.empty, Map.empty)

  private val scalarTypes = Set("double", "float", "bool", "string",
    "bytes", "int32", "int64", "uint32", "uint64", "sint32", "sint64",
    "fixed32", "sfixed32", "fixed64", "sfixed64")

  /** Legal map KEY types per the proto3 spec: any integral or string
    * type (no floats, bytes, enums or messages). */
  private val mapKeyTypes = Set("bool", "string", "int32", "int64",
    "uint32", "uint64", "sint32", "sint64", "fixed32", "sfixed32",
    "fixed64", "sfixed64")

  /** Every top-level `kind name { body }` block, brace-balanced (a
    * `[^{}]*` body regex would refuse any message carrying a oneof
    * block). Nested definitions are consumed with their parent and
    * rejected by the per-message parse, never silently registered. */
  private def topLevelBlocks(clean: String): Seq[(String, String, String)] = {
    val out = Seq.newBuilder[(String, String, String)]
    val kw = "\\b(message|enum)\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\{"
      .r.pattern.matcher(clean)
    var at = 0
    while (kw.find(at)) {
      val open = kw.end - 1
      var depth = 1
      var i = open + 1
      while (depth > 0) {
        require(i < clean.length,
          s"protobuf: unbalanced braces in ${kw.group(1)} ${kw.group(2)}")
        val c = clean.charAt(i)
        if (c == '{') depth += 1 else if (c == '}') depth -= 1
        i += 1
      }
      out += ((kw.group(1), kw.group(2), clean.substring(open + 1, i - 1)))
      at = i
    }
    out.result()
  }

  /** Parse every TOP-LEVEL `enum E { A = 0; … }` and `message M {…}`
    * in the schema text (nested type DEFINITIONS stay loud — the
    * per-message parse rejects message/enum keywords in bodies). */
  def parseRegistry(schemaText: String): ProtoRegistry = {
    val clean = schemaText.replaceAll("//[^\n]*", "")
      .replaceAll("(?s)/\\*.*?\\*/", "")
    val blocks = topLevelBlocks(clean)
    val enumValRe =
      "([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(-?\\d+)\\s*;".r
    val enums = blocks.collect { case ("enum", n, body) =>
      val vals = enumValRe.findAllMatchIn(body)
        .map(v => v.group(1) -> v.group(2).toInt).toSeq
      require(vals.nonEmpty, s"protobuf: enum $n has no values")
      n -> vals.toMap
    }.toMap
    val msgs = blocks.collect { case ("message", n, body) => n -> body }
    require(msgs.map(_._1).distinct.length == msgs.length,
      "protobuf: duplicate top-level message names")
    // two passes so forward references between messages resolve
    var reg = ProtoRegistry(msgs.map(_._1 -> Seq.empty[ProtoField]).toMap,
      enums)
    reg = ProtoRegistry(msgs.map { case (n, body) =>
      n -> parseMessageBody(n, body, reg)
    }.toMap, enums)
    // recursive message shapes have no static Spark schema — loud
    // (map VALUES may be messages too, so they join the dependency walk)
    def cycles(n: String, seen: Set[String]): Unit = {
      require(!seen(n), s"protobuf: message '$n' is recursive — " +
        "tree-shaped messages cannot map to a static table schema")
      reg.messages(n)
        .flatMap(f => f.mapKV.map(_._2).toSeq ++
          (if (f.isMap) Nil else Seq(f.ptype)))
        .filter(reg.isMessage)
        .foreach(cycles(_, seen + n))
    }
    msgs.foreach { case (n, _) => cycles(n, Set.empty) }
    reg
  }

  /** Parse a proto3 schema text and return `message`'s fields sorted by
    * field number (the registry resolves message/enum field types). */
  def parseProto(schemaText: String, message: String): Seq[ProtoField] = {
    val reg = parseRegistry(schemaText)
    reg.messages.getOrElse(message, throw new IllegalArgumentException(
      s"protobuf: message '$message' not found in the schema " +
        "(nested message definitions are not supported)"))
  }

  /** Plain `repeated? Type name = N;` declarations in `text` — not
    * line-anchored, so one-line message bodies parse the same. */
  private def plainFields(text: String, reg: ProtoRegistry,
      oneofGroup: Option[String]): Seq[ProtoField] = {
    val fieldRe =
      "(repeated\\s+)?([A-Za-z_][A-Za-z0-9_.]*)\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*(\\d+)\\s*;".r
    fieldRe.findAllMatchIn(text).map { m =>
      // qualified references (".pkg.Name") resolve by simple name —
      // this parser has no packages
      val t0 = m.group(2)
      val t = t0.split('.').last
      require(scalarTypes(t) || reg.isMessage(t) || reg.isEnum(t),
        s"protobuf: unsupported field type '$t0' (scalars plus " +
          "top-level message/enum references only)")
      require(oneofGroup.isEmpty || m.group(1) == null,
        s"protobuf: repeated fields are not allowed inside oneof " +
          s"'${oneofGroup.get}' (the proto3 grammar forbids them)")
      ProtoField(m.group(3), m.group(4).toInt, t, m.group(1) != null,
        oneofGroup = oneofGroup)
    }.toSeq
  }

  private def parseMessageBody(message: String, body0: String,
      reg: ProtoRegistry): Seq[ProtoField] = {
    // nested type DEFINITIONS stay loud: the oneof extraction below
    // leaves any message/enum keyword in a body un-consumed, and
    // `reserved` ranges would silently skip otherwise
    Seq("\\bmessage\\b" -> "nested message definitions",
      "\\benum\\b" -> "nested enum definitions",
      "\\breserved\\b" -> "reserved ranges").foreach { case (re, what) =>
      if (re.r.findFirstIn(body0).isDefined)
        throw new IllegalArgumentException(
          s"protobuf: $what are not supported in message '$message' " +
            "(declare types at the top level)")
    }
    // oneof blocks: brace-free bodies (nested defs already rejected),
    // members parse as explicit-presence fields of the group
    val oneofRe =
      "(?s)\\boneof\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\{([^{}]*)\\}".r
    val oneofFields = oneofRe.findAllMatchIn(body0).flatMap { m =>
      require(!"\\bmap\\s*<".r.findFirstIn(m.group(2)).isDefined,
        s"protobuf: map fields are not allowed inside oneof '${m.group(1)}'")
      val fs = plainFields(m.group(2), reg, Some(m.group(1)))
      require(fs.nonEmpty,
        s"protobuf: oneof '${m.group(1)}' has no members")
      fs
    }.toSeq
    val body1 = oneofRe.replaceAllIn(body0, " ")
    // map<K, V> fields (proto3 spec: always singular, never packed)
    val mapRe = ("\\bmap\\s*<\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*>\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*=\\s*(\\d+)\\s*;").r
    val mapFields = mapRe.findAllMatchIn(body1).map { m =>
      val kt = m.group(1)
      val vt = m.group(2).split('.').last
      require(mapKeyTypes(kt),
        s"protobuf: map key type '$kt' is illegal (proto3 allows " +
          "integral, bool and string keys only)")
      require(scalarTypes(vt) || reg.isMessage(vt) || reg.isEnum(vt),
        s"protobuf: unsupported map value type '${m.group(2)}' " +
          "(scalars plus top-level message/enum references only)")
      ProtoField(m.group(3), m.group(4).toInt, "map", repeated = false,
        mapKV = Some((kt, vt)))
    }.toSeq
    val body = mapRe.replaceAllIn(body1, " ")
    val fields = plainFields(body, reg, None) ++ mapFields ++ oneofFields
    require(fields.nonEmpty, s"protobuf: message '$message' has no fields")
    require(fields.map(_.number).distinct.length == fields.length,
      "protobuf: duplicate field numbers")
    require(fields.map(_.name).distinct.length == fields.length,
      "protobuf: duplicate field names")
    fields.sortBy(_.number)
  }

  private def baseType(t: String, reg: ProtoRegistry): DataType = t match {
    case "double" => DoubleType
    case "float" => FloatType
    case "bool" => BooleanType
    case "string" => StringType
    case "bytes" => BinaryType
    case "int32" | "sint32" | "sfixed32" => IntegerType
    case "fixed32" | "uint32" => LongType // unsigned ranges need 64 bits
    case t2 if reg.isMessage(t2) => sparkSchema(reg.messages(t2), reg)
    case t2 if reg.isEnum(t2) => StringType
    case _ => LongType
  }

  /** Spark schema implied by the proto fields (field-number order).
    * Message fields → StructType (recursive), enums → StringType,
    * maps → MapType. */
  def sparkSchema(fields: Seq[ProtoField],
      reg: ProtoRegistry = EmptyRegistry): StructType =
    StructType(fields.map { f =>
      val base: DataType = f.mapKV match {
        case Some((kt, vt)) =>
          MapType(baseType(kt, reg), baseType(vt, reg),
            valueContainsNull = false)
        case None => baseType(f.ptype, reg)
      }
      StructField(f.name,
        if (f.repeated) ArrayType(base, containsNull = false) else base,
        nullable = true)
    })

  private def wireType(t: String, reg: ProtoRegistry): Int = t match {
    case "double" | "fixed64" | "sfixed64" => 1
    case "float" | "fixed32" | "sfixed32" => 5
    case "string" | "bytes" | "map" => 2
    case t2 if reg.isMessage(t2) => 2 // length-delimited sub-message
    case _ => 0 // varints (incl. enums)
  }

  // ------------------------------------------------------------ encoding

  private def writeVarint(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private def writeFixed32(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  private def writeFixed64(out: OutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** One scalar payload (no tag). */
  private def writeScalar(out: OutputStream, t: String, v: Any): Unit = t match {
    case "double" =>
      writeFixed64(out, java.lang.Double.doubleToLongBits(
        v.asInstanceOf[Number].doubleValue))
    case "float" =>
      writeFixed32(out, java.lang.Float.floatToIntBits(
        v.asInstanceOf[Number].floatValue))
    case "bool" => writeVarint(out, if (v.asInstanceOf[Boolean]) 1L else 0L)
    case "int32" | "int64" | "uint32" | "uint64" =>
      writeVarint(out, v.asInstanceOf[Number].longValue)
    case "sint32" | "sint64" =>
      writeVarint(out, zigzag(v.asInstanceOf[Number].longValue))
    case "fixed32" | "sfixed32" =>
      writeFixed32(out, v.asInstanceOf[Number].intValue)
    case "fixed64" | "sfixed64" =>
      writeFixed64(out, v.asInstanceOf[Number].longValue)
    case "string" =>
      val b = v.toString.getBytes(StandardCharsets.UTF_8)
      writeVarint(out, b.length.toLong); out.write(b)
    case "bytes" =>
      val b = v.asInstanceOf[Array[Byte]]
      writeVarint(out, b.length.toLong); out.write(b)
  }

  /** One non-scalar value's length-delimited payload. */
  private def writeComposite(out: OutputStream, t: String, v: Any,
      reg: ProtoRegistry): Unit =
    if (reg.isMessage(t)) {
      val sub = v.asInstanceOf[Row]
      val subFields = reg.messages(t)
      val subSchema = Option(sub.schema).getOrElse(
        sparkSchema(subFields, reg))
      val bytes = encodeRow(sub, subSchema, subFields, reg)
      writeVarint(out, bytes.length.toLong); out.write(bytes)
    } else { // enum: the NAME (or bare digits) → varint of its number
      val name = v.toString
      val n = reg.enums(t).get(name).orElse(
        if (name.matches("-?\\d+")) Some(name.toInt) else None)
        .getOrElse(throw new IllegalArgumentException(
          s"protobuf: '$name' is not a value of enum $t"))
      writeVarint(out, n.toLong)
    }

  /** One map entry's tag + length-delimited payload (key = 1,
    * value = 2; a NULL value writes as its default — message values
    * stay absent, the wire's default instance). */
  private def writeMapEntry(out: java.io.ByteArrayOutputStream,
      num: Int, kt: String, vt: String, k: Any, v: Any,
      reg: ProtoRegistry): Unit = {
    val entry = new java.io.ByteArrayOutputStream()
    writeVarint(entry, (1L << 3) | wireType(kt, reg))
    writeScalar(entry, kt, k)
    val vv = if (v == null && !reg.isMessage(vt)) defaultOf(vt, reg) else v
    if (vv != null) {
      writeVarint(entry, (2L << 3) | wireType(vt, reg))
      if (reg.isMessage(vt) || reg.isEnum(vt))
        writeComposite(entry, vt, vv, reg)
      else writeScalar(entry, vt, vv)
    }
    writeVarint(out, (num.toLong << 3) | 2)
    writeVarint(out, entry.size.toLong)
    entry.writeTo(out)
  }

  /** One row → one serialized message (no framing). */
  def encodeRow(row: Row, schema: StructType, fields: Seq[ProtoField],
      reg: ProtoRegistry = EmptyRegistry): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // oneof contract: at most one set member per group
    fields.filter(_.oneofGroup.isDefined).groupBy(_.oneofGroup.get)
      .foreach { case (g, fs) =>
        val set = fs.filterNot(f => row.isNullAt(schema.fieldIndex(f.name)))
        require(set.length <= 1,
          s"protobuf: oneof '$g' has ${set.length} set members " +
            s"(${set.map(_.name).mkString(", ")}) — a oneof carries at " +
            "most one")
      }
    fields.foreach { f =>
      val idx = schema.fieldIndex(f.name)
      val wt = wireType(f.ptype, reg)
      val composite = reg.isMessage(f.ptype) || reg.isEnum(f.ptype)
      if (f.isMap) {
        if (!row.isNullAt(idx)) {
          val (kt, vt) = f.mapKV.get
          row.getMap[Any, Any](idx).foreach { case (k, v) =>
            writeMapEntry(out, f.number, kt, vt, k, v, reg)
          }
        }
      } else if (!f.repeated) {
        if (row.isNullAt(idx)) {
          // proto3: NULL = default; an absent MESSAGE is simply not
          // written (there is no default instance on the wire), and a
          // oneof member has EXPLICIT presence — unset writes nothing
          if (!reg.isMessage(f.ptype) && f.oneofGroup.isEmpty) {
            writeVarint(out, (f.number.toLong << 3) | wt)
            if (composite) writeComposite(out, f.ptype,
              defaultOf(f.ptype, reg), reg)
            else writeScalar(out, f.ptype, defaultOf(f.ptype, reg))
          }
        } else {
          writeVarint(out, (f.number.toLong << 3) | wt)
          if (composite) writeComposite(out, f.ptype, row.get(idx), reg)
          else writeScalar(out, f.ptype, row.get(idx))
        }
      } else if (!row.isNullAt(idx)) {
        val xs = row.getSeq[Any](idx)
        if (reg.isMessage(f.ptype)) {
          xs.foreach { x =>
            writeVarint(out, (f.number.toLong << 3) | 2)
            writeComposite(out, f.ptype, x, reg)
          }
        } else if (f.ptype == "string" || f.ptype == "bytes") {
          xs.foreach { x =>
            writeVarint(out, (f.number.toLong << 3) | 2)
            writeScalar(out, f.ptype, x)
          }
        } else if (xs.nonEmpty) {
          // packed numerics/enums (the proto3 default wire shape)
          val payload = new java.io.ByteArrayOutputStream()
          xs.foreach(x =>
            if (reg.isEnum(f.ptype)) writeComposite(payload, f.ptype, x, reg)
            else writeScalar(payload, f.ptype, x))
          writeVarint(out, (f.number.toLong << 3) | 2)
          writeVarint(out, payload.size.toLong)
          payload.writeTo(out)
        }
      }
    }
    out.toByteArray
  }

  private def defaultOf(t: String, reg: ProtoRegistry = EmptyRegistry): Any =
    t match {
      case "double" => 0.0d
      case "float" => 0.0f
      case "bool" => false
      case "string" => ""
      case "bytes" => Array.emptyByteArray
      case "int32" | "sint32" | "sfixed32" => 0
      case t2 if reg.isEnum(t2) =>
        // proto3 default enum = number 0 (open enums: digits if unnamed)
        reg.enums(t2).find(_._2 == 0).map(_._1).getOrElse("0")
      case t2 if reg.isMessage(t2) => null
      case _ => 0L
    }

  // ------------------------------------------------------------ decoding

  private final class ByteReader(val b: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < b.length
    def varint(): Long = {
      var shift = 0
      var out = 0L
      var more = true
      while (more) {
        if (pos >= b.length) throw new EOFException("protobuf: EOF in varint")
        val x = b(pos) & 0xff
        pos += 1
        out |= (x & 0x7fL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      out
    }
    def fixed32(): Int = {
      val v = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
        ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def fixed64(): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (b(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n; out
    }
  }

  private def readScalar(r: ByteReader, t: String): Any = t match {
    case "double" => java.lang.Double.longBitsToDouble(r.fixed64())
    case "float" => java.lang.Float.intBitsToFloat(r.fixed32())
    case "bool" => r.varint() != 0L
    case "int32" => r.varint().toInt
    case "int64" | "uint64" => r.varint()
    case "uint32" => r.varint() & 0xffffffffL
    case "sint32" => unzigzag(r.varint()).toInt
    case "sint64" => unzigzag(r.varint())
    case "fixed32" => r.fixed32().toLong & 0xffffffffL
    case "sfixed32" => r.fixed32()
    case "fixed64" | "sfixed64" => r.fixed64()
    case "string" => new String(r.bytes(r.varint().toInt), StandardCharsets.UTF_8)
    case "bytes" => r.bytes(r.varint().toInt)
  }

  /** One serialized message → one Row in `fields` (number) order. */
  def decodeRow(msg: Array[Byte], fields: Seq[ProtoField],
      reg: ProtoRegistry = EmptyRegistry): Row = {
    val byNumber = fields.zipWithIndex.map { case (f, i) => f.number -> ((f, i)) }.toMap
    val vals = new Array[Any](fields.length)
    val lists = fields.map(f =>
      if (f.repeated) scala.collection.mutable.ArrayBuffer.empty[Any] else null)
    val maps = fields.map(f =>
      if (f.isMap) scala.collection.mutable.LinkedHashMap.empty[Any, Any]
      else null)
    val r = new ByteReader(msg)
    def readTyped(rr: ByteReader, t: String): Any =
      if (reg.isMessage(t))
        decodeRow(rr.bytes(rr.varint().toInt), reg.messages(t), reg)
      else if (reg.isEnum(t)) {
        val n = rr.varint().toInt
        reg.enums(t).find(_._2 == n).map(_._1)
          .getOrElse(n.toString) // proto3 open enum
      } else readScalar(rr, t)
    def readValue(f: ProtoField): Any = readTyped(r, f.ptype)
    def skipField(rr: ByteReader, wt: Int): Unit = wt match {
      case 0 => rr.varint()
      case 1 => rr.fixed64()
      case 2 => rr.bytes(rr.varint().toInt)
      case 5 => rr.fixed32()
      case other => throw new IllegalArgumentException(
        s"protobuf: unsupported wire type $other")
    }
    while (r.hasMore) {
      val key = r.varint()
      val num = (key >>> 3).toInt
      val wt = (key & 7).toInt
      byNumber.get(num) match {
        case Some((f, i)) if f.isMap =>
          // one length-delimited entry message: key = 1, value = 2;
          // absent halves take their defaults (the spec's contract);
          // duplicate keys: LAST entry wins
          val (kt, vt) = f.mapKV.get
          val er = new ByteReader(r.bytes(r.varint().toInt))
          var k: Any = defaultOf(kt, reg)
          var v: Any =
            if (reg.isMessage(vt))
              decodeRow(Array.emptyByteArray, reg.messages(vt), reg)
            else defaultOf(vt, reg)
          while (er.hasMore) {
            val ekey = er.varint()
            (ekey >>> 3).toInt match {
              case 1 => k = readTyped(er, kt)
              case 2 => v = readTyped(er, vt)
              case _ => skipField(er, (ekey & 7).toInt)
            }
          }
          maps(i)(k) = v
        case Some((f, i)) =>
          if (f.repeated && wt == 2 && wireType(f.ptype, reg) != 2) {
            // packed numerics/enums
            val len = r.varint().toInt
            val end = r.pos + len
            while (r.pos < end) lists(i) += readValue(f)
          } else if (f.repeated) {
            lists(i) += readValue(f)
          } else {
            vals(i) = readValue(f)
          }
        case None => // unknown field: skip by wire type (proto contract)
          skipField(r, wt)
      }
    }
    fields.zipWithIndex.foreach { case (f, i) =>
      if (f.repeated) vals(i) = lists(i).toSeq
      else if (f.isMap) vals(i) = maps(i).toMap // absent map = empty
      else if (vals(i) == null && !reg.isMessage(f.ptype) &&
          f.oneofGroup.isEmpty) // oneof members keep explicit presence
        vals(i) = defaultOf(f.ptype, reg) match {
          case b: Array[Byte] => b
          case x => x
        }
    }
    Row.fromSeq(vals.toIndexedSeq)
  }

  // ------------------------------------------------------------- framing

  private def prepareDir(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
  }

  private def partPath(dir: String, idx: Int): Path =
    new Path(dir, f"part-$idx%05d.pb")

  private def listParts(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".pb"))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Write `df` as a directory of length-delimited protobuf part files
    * (FORMAT Protobuf), one per partition. `single = true` writes BARE
    * messages (FORMAT ProtobufSingle) — then every partition must hold
    * exactly one row, because bare concatenated messages of one type
    * are not splittable. */
  def writeProtobuf(df: DataFrame, path: String, schemaText: String,
      message: String, single: Boolean = false): Unit = {
    val reg = parseRegistry(schemaText)
    val fields = parseProto(schemaText, message)
    val schema = df.schema
    fields.foreach(f => require(schema.fieldNames.contains(f.name),
      s"protobuf: column '${f.name}' missing from the DataFrame"))
    prepareDir(path)
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = new BufferedOutputStream(
        fs.create(partPath(path, idx), true), 1 << 16)
      try {
        var n = 0
        rows.foreach { row =>
          n += 1
          if (single && n > 1) throw new IllegalArgumentException(
            "ProtobufSingle: one bare message per stream — coalesce to " +
              "one row per partition or use FORMAT Protobuf")
          val msg = encodeRow(row, schema, fields, reg)
          if (!single) writeVarint(out, msg.length.toLong)
          out.write(msg)
        }
      } finally out.close()
      Iterator.empty
    }.count()
    ()
  }

  /** Read a Protobuf directory: one Spark task per part file, each
    * stream-decoded message by message. Schema comes from the proto. */
  def readProtobuf(spark: SparkSession, path: String, schemaText: String,
      message: String, single: Boolean = false): DataFrame = {
    val reg = parseRegistry(schemaText)
    val fields = parseProto(schemaText, message)
    val schema = sparkSchema(fields, reg)
    val parts = listParts(path)
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
        val in = new DataInputStream(
          new BufferedInputStream(fs.open(p), 1 << 16))
        if (single) {
          val all = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { all.write(buf, 0, n); n = in.read(buf) }
          in.close()
          if (all.size == 0) Iterator.empty
          else Iterator.single(decodeRow(all.toByteArray, fields, reg))
        } else new Iterator[Row] {
          private var nextLen: Int = readLenOrEof(in)
          override def hasNext: Boolean = {
            if (nextLen < 0) { in.close(); false } else true
          }
          override def next(): Row = {
            val msg = new Array[Byte](nextLen)
            in.readFully(msg)
            nextLen = readLenOrEof(in)
            decodeRow(msg, fields, reg)
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** FORMAT ProtobufList (reference ProtobufListInputFormat.cpp +
    * ProtobufSerializerEnvelope): the WHOLE stream is ONE
    * length-delimited envelope message whose field 1 repeats the row
    * message — `<varint total><0x0A><varint len><row>…`. One envelope
    * per part file (each part is one stream, like the reference's). */
  def writeProtobufList(df: DataFrame, path: String, schemaText: String,
      message: String): Unit = {
    val reg = parseRegistry(schemaText)
    val fields = parseProto(schemaText, message)
    val schema = df.schema
    fields.foreach(f => require(schema.fieldNames.contains(f.name),
      s"protobuf: column '${f.name}' missing from the DataFrame"))
    prepareDir(path)
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val body = new java.io.ByteArrayOutputStream()
      rows.foreach { row =>
        val msg = encodeRow(row, schema, fields, reg)
        body.write(0x0a) // field 1, wire type 2
        writeVarint(body, msg.length.toLong)
        body.write(msg)
      }
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = new BufferedOutputStream(
        fs.create(partPath(path, idx), true), 1 << 16)
      try {
        writeVarint(out, body.size.toLong)
        body.writeTo(out)
      } finally out.close()
      Iterator.empty
    }.count()
    ()
  }

  def readProtobufList(spark: SparkSession, path: String,
      schemaText: String, message: String): DataFrame = {
    val reg = parseRegistry(schemaText)
    val fields = parseProto(schemaText, message)
    val schema = sparkSchema(fields, reg)
    val parts = listParts(path)
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val p = new Path(file)
        val fs = p.getFileSystem(new Configuration())
        val in = new DataInputStream(
          new BufferedInputStream(fs.open(p), 1 << 16))
        try {
          val total = readLenOrEof(in)
          if (total < 0) Seq.empty
          else {
            val body = new Array[Byte](total)
            in.readFully(body)
            val r = new ByteReader(body)
            val out = Seq.newBuilder[Row]
            while (r.hasMore) {
              val key = r.varint()
              require((key >>> 3) == 1 && (key & 7) == 2,
                s"protobufList: expected field-1 sub-messages, got key $key")
              val len = r.varint().toInt
              out += decodeRow(r.bytes(len), fields, reg)
            }
            out.result()
          }
        } finally in.close()
      }
    spark.createDataFrame(rows, schema)
  }

  /** Next message's varint length, or -1 at clean EOF. */
  private def readLenOrEof(in: DataInputStream): Int = {
    val first = in.read()
    if (first < 0) return -1
    var out = (first & 0x7fL)
    var shift = 7
    var more = (first & 0x80) != 0
    while (more) {
      val x = in.read()
      if (x < 0) throw new EOFException("protobuf: EOF in length varint")
      out |= (x & 0x7fL) << shift
      shift += 7
      more = (x & 0x80) != 0
    }
    out.toInt
  }
}
