package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** CapnProto format (reference: Impl/CapnProtoRowInputFormat.cpp /
  * CapnProtoRowOutputFormat.cpp over libcapnp, with the schema named by
  * `SET format_schema = 'file.capnp:Struct'`) — the LAST unported data
  * format. This is a self-contained implementation of the PUBLIC
  * Cap'n Proto encoding (capnproto.org/encoding.html):
  *
  *  - stream framing per row message: `<segCount-1: u32 LE>` +
  *    segCount × `<words: u32 LE>` + pad to 8 bytes + segment bytes
  *    (this writer emits ONE segment per message; far pointers and
  *    multi-segment messages reject loudly on read);
  *  - segment word 0 is the root STRUCT pointer: bits 0-1 = 0,
  *    signed word offset (bits 2-31) from the word AFTER the pointer,
  *    data-section words (bits 32-47), pointer-section words (48-63);
  *  - scalars pack into the data section at offsets assigned by the
  *    capnp compiler's HOLE algorithm, reimplemented here for flat
  *    structs: fields allocate in ordinal order; a field of 2^n bits
  *    takes the lowest available hole, splitting bigger holes, else
  *    extends the section by one word (Bool = 1 bit, enums = 16 bits);
  *  - Text/Data/List fields take sequential pointer slots: list
  *    pointers (bits 0-1 = 1) carry an element-size code (2 = bytes,
  *    3/4/5 = 2/4/8-byte scalars) and count; Text is a NUL-terminated
  *    byte list; a null pointer word reads back as NULL.
  *
  * Supported schema surface: one or more top-level
  * `struct S { f @N :T; }` with T ∈ Bool, Int8-64, UInt8-64, Float32,
  * Float64, Text, Data, List(scalar), enum (u16, read/written by NAME).
  * Unions, groups, nested structs, non-zero defaults and generics
  * reject loudly — never a silent misread.
  */
object ChCapnProtoFormat {

  // ------------------------------------------------------------- schema

  final case class CapnField(name: String, ordinal: Int, ftype: String,
      listElem: Option[String])

  final case class CapnSchema(fields: Seq[CapnField],
      enums: Map[String, Seq[String]]) {
    /** data-bit offset per scalar field name (hole algorithm), pointer
      * slot per pointer field, plus section sizes. */
    val (bitOffsets, ptrSlots, dataWords, ptrCount) = layout(fields, enums)
  }

  private val scalarBits = Map(
    "Bool" -> 1, "Int8" -> 8, "UInt8" -> 8, "Int16" -> 16, "UInt16" -> 16,
    "Int32" -> 32, "UInt32" -> 32, "Int64" -> 64, "UInt64" -> 64,
    "Float32" -> 32, "Float64" -> 64)

  private def isPointer(t: String, enums: Map[String, Seq[String]]) =
    t == "Text" || t == "Data" || t == "List"

  /** The capnp compiler's packing: fields in ORDINAL order; a 2^n-bit
    * field takes hole[n] if present, else splits the smallest larger
    * hole, else extends by a word (leaving holes n..5). Offsets are in
    * units of the field's own size (the encoding's convention). */
  private def layout(fields: Seq[CapnField],
      enums: Map[String, Seq[String]])
      : (Map[String, Int], Map[String, Int], Int, Int) = {
    val holes = new Array[Int](6).map(_ => -1) // lg size → bit offset
    java.util.Arrays.fill(holes, -1)
    var dataWords = 0
    var ptrs = 0
    val bits = Map.newBuilder[String, Int]
    val slots = Map.newBuilder[String, Int]
    fields.sortBy(_.ordinal).foreach { f =>
      if (isPointer(f.ftype, enums)) {
        slots += f.name -> ptrs; ptrs += 1
      } else {
        val sz = scalarBits.getOrElse(f.ftype,
          if (enums.contains(f.ftype)) 16
          else throw new IllegalArgumentException(
            s"capnproto: unsupported type '${f.ftype}'"))
        val n = Integer.numberOfTrailingZeros(sz) // 1→0, 8→3, … 64→6
        if (n >= 6) { // whole word
          bits += f.name -> (dataWords * 64); dataWords += 1
        } else {
          // smallest hole ≥ n
          val m = (n to 5).find(holes(_) >= 0)
          val off = m match {
            case Some(mm) =>
              val o = holes(mm); holes(mm) = -1
              // split the remainder into one hole per size n..mm-1
              var k = n
              var rest = o + sz
              while (k < mm) { holes(k) = rest; rest += (1 << k); k += 1 }
              o
            case None =>
              val o = dataWords * 64; dataWords += 1
              var k = n
              var rest = o + sz
              while (k <= 5) { holes(k) = rest; rest += (1 << k); k += 1 }
              o
          }
          bits += f.name -> off
        }
      }
    }
    (bits.result(), slots.result(), dataWords, ptrs)
  }

  /** Parse `struct S { f @N :T; }` + `enum E { a @0; b @1; }`. */
  def parseCapnp(schemaText: String, structName: String): CapnSchema = {
    val clean = schemaText.replaceAll("#[^\n]*", "") // capnp comments
    Seq("\\bunion\\b" -> "unions", "\\bgroup\\b" -> "groups",
      "\\binterface\\b" -> "interfaces").foreach { case (re, what) =>
      if (re.r.findFirstIn(clean).isDefined)
        throw new IllegalArgumentException(
          s"capnproto: $what are not supported (flat structs only)")
    }
    val enumRe =
      "(?s)\\benum\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\{([^{}]*)\\}".r
    val enums = enumRe.findAllMatchIn(clean).map { m =>
      val vals = "([A-Za-z_][A-Za-z0-9_]*)\\s*@(\\d+)\\s*;".r
        .findAllMatchIn(m.group(2))
        .map(v => (v.group(2).toInt, v.group(1))).toSeq.sortBy(_._1)
      require(vals.map(_._1) == vals.indices,
        s"capnproto: enum ${m.group(1)} ordinals must be 0..n")
      m.group(1) -> vals.map(_._2)
    }.toMap
    val structRe = ("(?s)\\bstruct\\s+" +
      java.util.regex.Pattern.quote(structName) + "\\s*\\{([^{}]*)\\}").r
    val body = structRe.findFirstMatchIn(clean).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(
        s"capnproto: struct '$structName' not found " +
          "(nested structs are not supported)"))
    val fieldRe = ("([A-Za-z_][A-Za-z0-9_]*)\\s*@(\\d+)\\s*:\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\(\\s*([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*\\))?\\s*(=[^;]*)?;").r
    val fields = fieldRe.findAllMatchIn(body).map { m =>
      require(m.group(5) == null || m.group(5).trim.matches(
        "=\\s*(0|0\\.0|false|\"\")"),
        s"capnproto: non-zero default on '${m.group(1)}' is not supported")
      val t = m.group(3)
      if (t == "List") require(m.group(4) != null &&
        scalarBits.contains(m.group(4)) && m.group(4) != "Bool",
        "capnproto: List(T) supports fixed-size scalar elements only")
      else require(scalarBits.contains(t) || t == "Text" || t == "Data" ||
        enums.contains(t),
        s"capnproto: unsupported field type '$t'")
      CapnField(m.group(1), m.group(2).toInt, t, Option(m.group(4)))
    }.toSeq
    require(fields.nonEmpty, s"capnproto: struct '$structName' is empty")
    require(fields.map(_.ordinal).sorted == fields.indices,
      s"capnproto: ordinals must be a dense 0..n sequence")
    CapnSchema(fields, enums)
  }

  def sparkSchema(s: CapnSchema): StructType =
    StructType(s.fields.sortBy(_.ordinal).map { f =>
      val dt: DataType = f.ftype match {
        case "Bool" => BooleanType
        case "Int8" => ByteType
        case "UInt8" | "Int16" => ShortType
        case "UInt16" | "Int32" => IntegerType
        case "UInt32" | "Int64" | "UInt64" => LongType
        case "Float32" => FloatType
        case "Float64" => DoubleType
        case "Text" => StringType
        case "Data" => BinaryType
        case "List" => ArrayType(f.listElem.get match {
          case "Int8" => ByteType
          case "UInt8" | "Int16" => ShortType
          case "UInt16" | "Int32" => IntegerType
          case "UInt32" | "Int64" | "UInt64" => LongType
          case "Float32" => FloatType
          case "Float64" => DoubleType
          case e => throw new IllegalArgumentException(s"capnproto: $e")
        }, containsNull = false)
        case e if s.enums.contains(e) => StringType
        case e => throw new IllegalArgumentException(s"capnproto: $e")
      }
      StructField(f.name, dt, nullable = true)
    })

  // ----------------------------------------------------------- encoding

  private def elemCode(t: String): Int = scalarBits(t) match {
    case 8 => 2
    case 16 => 3
    case 32 => 4
    case 64 => 5
    case b => throw new IllegalArgumentException(s"capnproto: $b-bit list")
  }

  /** One row → one framed message (single segment). */
  def encodeRow(row: Row, schema: StructType, s: CapnSchema): Array[Byte] = {
    val dataBytes = new Array[Byte](s.dataWords * 8)
    def putBits(off: Int, sz: Int, v: Long): Unit =
      if (sz == 1) {
        if (v != 0)
          dataBytes(off / 8) = (dataBytes(off / 8) | (1 << (off % 8))).toByte
      } else {
        var i = 0
        while (i < sz / 8) {
          dataBytes(off / 8 + i) = ((v >>> (8 * i)) & 0xff).toByte
          i += 1
        }
      }
    // pointer targets append after the pointer section, in slot order
    val ptrWords = new Array[Long](s.ptrCount)
    val tail = new java.io.ByteArrayOutputStream()
    val tailStartWord = 1 + s.dataWords + s.ptrCount
    def align8(): Unit = while (tail.size % 8 != 0) tail.write(0)
    s.fields.foreach { f =>
      val idx = schema.fieldIndex(f.name)
      val isNull = row.isNullAt(idx)
      if (s.bitOffsets.contains(f.name)) {
        val off = s.bitOffsets(f.name)
        val sz = scalarBits.getOrElse(f.ftype, 16)
        val v: Long =
          if (isNull) 0L // capnp scalars have no null: zero default
          else f.ftype match {
            case "Bool" => if (row.getBoolean(idx)) 1L else 0L
            case "Float32" => java.lang.Float.floatToIntBits(
              row.getAs[Number](idx).floatValue).toLong & 0xffffffffL
            case "Float64" => java.lang.Double.doubleToLongBits(
              row.getAs[Number](idx).doubleValue)
            case e if s.enums.contains(e) =>
              val name = row.getString(idx)
              s.enums(e).indexOf(name) match {
                case -1 => throw new IllegalArgumentException(
                  s"capnproto: '$name' is not an enumerant of $e")
                case n => n.toLong
              }
            case _ => row.getAs[Number](idx).longValue
          }
        putBits(off, sz, v)
      } else {
        val slot = s.ptrSlots(f.name)
        if (isNull) ptrWords(slot) = 0L
        else {
          val (bytes, code, count) = f.ftype match {
            case "Text" =>
              val b = row.getString(idx)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              (b :+ 0.toByte, 2, b.length + 1) // NUL-terminated
            case "Data" =>
              val b = row.getAs[Array[Byte]](idx); (b, 2, b.length)
            case "List" =>
              val et = f.listElem.get
              val xs = row.getSeq[Any](idx)
              val bos = new java.io.ByteArrayOutputStream()
              xs.foreach { x =>
                val v = et match {
                  case "Float32" => java.lang.Float.floatToIntBits(
                    x.asInstanceOf[Number].floatValue).toLong
                  case "Float64" => java.lang.Double.doubleToLongBits(
                    x.asInstanceOf[Number].doubleValue)
                  case _ => x.asInstanceOf[Number].longValue
                }
                var i = 0
                while (i < scalarBits(et) / 8) {
                  bos.write(((v >>> (8 * i)) & 0xff).toInt); i += 1
                }
              }
              (bos.toByteArray, elemCode(et), xs.length)
          }
          // list pointer: offset is from the word AFTER the pointer to
          // the element data
          val targetWord = tailStartWord + tail.size / 8
          val ptrWordIdx = 1 + s.dataWords + slot
          val rel = targetWord - (ptrWordIdx + 1)
          ptrWords(slot) = 1L | (rel.toLong << 2) |
            (code.toLong << 32) | (count.toLong << 35)
          tail.write(bytes)
          align8()
        }
      }
    }
    val segWords = 1 + s.dataWords + s.ptrCount + tail.size / 8
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    u32(0) // segment count - 1
    u32(segWords)
    // root struct pointer: offset 0, data words, ptr words
    def word(v: Long): Unit = {
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    word((s.dataWords.toLong << 32) | (s.ptrCount.toLong << 48))
    out.write(dataBytes)
    ptrWords.foreach(word)
    tail.writeTo(out)
    out.toByteArray
  }

  // ----------------------------------------------------------- decoding

  /** One segment's bytes (after framing) → one Row. */
  def decodeRow(seg: Array[Byte], s: CapnSchema): Row = {
    def wordAt(w: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (seg(w * 8 + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    val root = wordAt(0)
    require((root & 3) == 0, "capnproto: root must be a struct pointer")
    val rootOff = (root >> 2).toInt & 0x3fffffff // signed 30-bit
    val structStart = 1 + ((rootOff << 2) >> 2) // sign-extend
    val dataWords = ((root >>> 32) & 0xffff).toInt
    val ptrCount = ((root >>> 48) & 0xffff).toInt
    def bitsAt(off: Int, sz: Int): Long =
      if (off / 8 >= dataWords * 8) 0L // beyond the written section: default
      else if (sz == 1)
        (seg(structStart * 8 + off / 8) >> (off % 8)) & 1L
      else {
        var v = 0L
        var i = 0
        while (i < sz / 8) {
          v |= (seg(structStart * 8 + off / 8 + i) & 0xffL) << (8 * i)
          i += 1
        }
        v
      }
    val vals = s.fields.sortBy(_.ordinal).map { f =>
      if (s.bitOffsets.contains(f.name)) {
        val off = s.bitOffsets(f.name)
        val raw = bitsAt(off, scalarBits.getOrElse(f.ftype, 16))
        f.ftype match {
          case "Bool" => raw != 0L
          case "Int8" => raw.toByte
          case "UInt8" => (raw & 0xff).toShort
          case "Int16" => raw.toShort
          case "UInt16" => (raw & 0xffff).toInt
          case "Int32" => raw.toInt
          case "UInt32" => raw & 0xffffffffL
          case "Int64" | "UInt64" => raw
          case "Float32" => java.lang.Float.intBitsToFloat(raw.toInt)
          case "Float64" => java.lang.Double.longBitsToDouble(raw)
          case e if s.enums.contains(e) =>
            val n = (raw & 0xffff).toInt
            if (n < s.enums(e).length) s.enums(e)(n) else n.toString
          case other => throw new IllegalArgumentException(
            s"capnproto: $other")
        }
      } else {
        val slot = s.ptrSlots(f.name)
        if (slot >= ptrCount) null
        else {
          val pw = structStart + dataWords + slot
          val p = wordAt(pw)
          if (p == 0L) null
          else {
            require((p & 3) == 1,
              s"capnproto: field '${f.name}' expected a list pointer " +
                s"(far/struct pointers are not supported), got tag ${p & 3}")
            val rel = ((p >> 2).toInt << 2) >> 2 // signed 30-bit
            val target = pw + 1 + rel
            val code = ((p >>> 32) & 7).toInt
            val count = (p >>> 35).toInt
            f.ftype match {
              case "Text" =>
                require(code == 2, s"capnproto: Text needs byte elements")
                new String(seg, target * 8, math.max(0, count - 1),
                  java.nio.charset.StandardCharsets.UTF_8)
              case "Data" =>
                require(code == 2, s"capnproto: Data needs byte elements")
                java.util.Arrays.copyOfRange(seg, target * 8,
                  target * 8 + count)
              case "List" =>
                val et = f.listElem.get
                require(code == elemCode(et),
                  s"capnproto: list '${f.name}' element size mismatch")
                val esz = scalarBits(et) / 8
                (0 until count).map { i =>
                  var v = 0L
                  var j = 0
                  while (j < esz) {
                    v |= (seg(target * 8 + i * esz + j) & 0xffL) << (8 * j)
                    j += 1
                  }
                  // the annotation is LOAD-BEARING: an all-numeric match
                  // weak-lubs every branch to Double (Scala numeric
                  // widening) and Long elements silently become Doubles
                  val elem: Any = et match {
                    case "Int8" => v.toByte
                    case "UInt8" => (v & 0xff).toShort
                    case "Int16" => v.toShort
                    case "UInt16" => (v & 0xffff).toInt
                    case "Int32" => v.toInt
                    case "UInt32" => v & 0xffffffffL
                    case "Int64" | "UInt64" => v
                    case "Float32" => java.lang.Float.intBitsToFloat(v.toInt)
                    case "Float64" => java.lang.Double.longBitsToDouble(v)
                  }
                  elem
                }
              case other => throw new IllegalArgumentException(
                s"capnproto: $other")
            }
          }
        }
      }
    }
    Row.fromSeq(vals)
  }

  // ------------------------------------------------------------ framing

  /** Write one framed message per row (FORMAT CapnProto), one part
    * file per partition. */
  def writeCapnProto(df: DataFrame, path: String, schemaText: String,
      structName: String): Long = {
    val cs = parseCapnp(schemaText, structName)
    val schema = df.schema
    cs.fields.foreach(f => require(schema.fieldNames.contains(f.name),
      s"capnproto: column '${f.name}' missing from the DataFrame"))
    Parts.write(df, path) { (idx, rows) =>
      val fs = new Path(path).getFileSystem(new Configuration())
      val out = new BufferedOutputStream(
        fs.create(new Path(path, f"part-$idx%05d.capnp"), true), 1 << 16)
      try rows.foreach(row => out.write(encodeRow(row, schema, cs)))
      finally out.close()
    }
  }

  /** Read a directory of framed messages — one task per part file. */
  def readCapnProto(spark: SparkSession, path: String, schemaText: String,
      structName: String): DataFrame = {
    val cs = parseCapnp(schemaText, structName)
    val schema = sparkSchema(cs)
    val p0 = new Path(path)
    val fs0 = p0.getFileSystem(new Configuration())
    val parts =
      if (fs0.getFileStatus(p0).isFile) Seq(p0.toString)
      else fs0.listStatus(p0).filter(_.isFile).map(_.getPath)
        .filterNot(x => x.getName.startsWith(".") ||
          x.getName.startsWith("_")).map(_.toString).sorted.toSeq
    val rows = spark.sparkContext
      .parallelize(parts, math.max(parts.length, 1))
      .flatMap { file =>
        val fs = new Path(file).getFileSystem(new Configuration())
        val in = new DataInputStream(
          new BufferedInputStream(fs.open(new Path(file)), 1 << 16))
        val out = Seq.newBuilder[Row]
        try {
          var eof = false
          while (!eof) {
            val b0 = in.read()
            if (b0 < 0) eof = true
            else {
              val rest = new Array[Byte](3)
              in.readFully(rest)
              val segs = ((b0 & 0xff) | ((rest(0) & 0xff) << 8) |
                ((rest(1) & 0xff) << 16) | ((rest(2) & 0xff) << 24)) + 1
              require(segs == 1,
                "capnproto: multi-segment messages are not supported " +
                  "by this reader (single-segment framing only)")
              val szb = new Array[Byte](4)
              in.readFully(szb)
              val words = (szb(0) & 0xff) | ((szb(1) & 0xff) << 8) |
                ((szb(2) & 0xff) << 16) | ((szb(3) & 0xff) << 24)
              val seg = new Array[Byte](words * 8)
              in.readFully(seg)
              out += decodeRow(seg, cs)
            }
          }
        } finally in.close()
        out.result()
      }
    spark.createDataFrame(rows, schema)
  }
}
