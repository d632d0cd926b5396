package graft.metadata

import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Declared metadata schemas (SURVEY.md §1.3; reference
  * discovery/metadata/MetadataLayout.java:27-52, FieldDescriptor.java,
  * FieldType.java:24-35): ordered FieldDescriptor(name, type, enumValues),
  * wire tags TEXT=0 INT=1 FLOAT=2 BOOL=3 ENUM=4. One serialized layout row
  * per backend (SQLitePredicateBackend.java:31-40) — wire format here:
  * `[count:2] per field: [nameLen:2][name][tag:1][enumCount:2][enum...]`.
  */
sealed trait FieldType { def tag: Int; def sparkType: DataType }
object FieldType {
  case object Text extends FieldType { val tag = 0; val sparkType = StringType }
  case object IntT extends FieldType { val tag = 1; val sparkType = LongType }
  case object FloatT extends FieldType { val tag = 2; val sparkType = DoubleType }
  case object BoolT extends FieldType { val tag = 3; val sparkType = BooleanType }
  case object EnumT extends FieldType { val tag = 4; val sparkType = StringType }

  val all = Seq(Text, IntT, FloatT, BoolT, EnumT)
  def fromTag(tag: Int): FieldType = all.find(_.tag == tag)
    .getOrElse(throw new IllegalArgumentException(s"unknown field type tag: $tag"))
}

final case class FieldDescriptor(name: String, fieldType: FieldType,
    enumValues: Seq[String] = Nil)

final case class MetadataLayout(fields: Seq[FieldDescriptor]) {
  def field(i: Int): FieldDescriptor = fields(i)
  def fieldByName(name: String): Option[FieldDescriptor] = fields.find(_.name == name)

  /** The exact StructType this layout declares. */
  def toStructType: StructType = StructType(fields.map(f =>
    StructField(f.name, f.fieldType.sparkType, nullable = true)))

  /** Positional resolver for indexed predicates (PNodeCompiler). */
  def resolve: Int => String = i => fields(i).name

  def encode(): Array[Byte] = {
    val size = 2 + fields.map { f =>
      2 + f.name.getBytes(StandardCharsets.UTF_8).length + 1 + 2 +
        f.enumValues.map(e => 2 + e.getBytes(StandardCharsets.UTF_8).length).sum
    }.sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.putShort(fields.size.toShort)
    fields.foreach { f =>
      val nb = f.name.getBytes(StandardCharsets.UTF_8)
      buf.putShort(nb.length.toShort).put(nb)
      buf.put(f.fieldType.tag.toByte)
      buf.putShort(f.enumValues.size.toShort)
      f.enumValues.foreach { e =>
        val eb = e.getBytes(StandardCharsets.UTF_8)
        buf.putShort(eb.length.toShort).put(eb)
      }
    }
    buf.array()
  }

  /** Validate an MNode record against this layout (enum membership, type
    * family), returning the first violation.
    */
  def validate(node: MNode): Option[String] = {
    import MValue._
    node.fields.iterator.flatMap { case (name, v) =>
      fieldByName(name) match {
        case None => Some(s"undeclared field: $name")
        case Some(fd) =>
          (fd.fieldType, v) match {
            case (_, Null) => None
            case (FieldType.Text, Str(_) | Text(_) | Ascii(_)) => None
            case (FieldType.IntT, I64(_) | I32(_) | I16(_)) => None
            case (FieldType.FloatT, F64(_) | F32(_) | F16(_)) => None
            case (FieldType.BoolT, Bool(_)) => None
            case (FieldType.EnumT, EnumStr(s)) =>
              if (fd.enumValues.contains(s)) None
              else Some(s"$name: '$s' not in enum ${fd.enumValues.mkString("{", ",", "}")}")
            case (FieldType.EnumT, EnumOrd(o)) =>
              if (o >= 0 && o < fd.enumValues.size) None
              else Some(s"$name: enum ordinal $o out of range")
            case (ft, other) => Some(s"$name: $other does not fit $ft")
          }
      }
    }.nextOption()
  }
}

object MetadataLayout {
  def decode(bytes: Array[Byte]): MetadataLayout = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.getShort() & 0xffff
    MetadataLayout((0 until n).map { _ =>
      val nb = new Array[Byte](buf.getShort() & 0xffff); buf.get(nb)
      val tag = buf.get() & 0xff
      val en = buf.getShort() & 0xffff
      val enums = (0 until en).map { _ =>
        val eb = new Array[Byte](buf.getShort() & 0xffff); buf.get(eb)
        new String(eb, StandardCharsets.UTF_8)
      }
      FieldDescriptor(new String(nb, StandardCharsets.UTF_8), FieldType.fromTag(tag), enums)
    })
  }
}

/** MNode → Spark Row decoding under a layout or self-describing schema
  * (SURVEY.md §1.2 type table).
  */
object MNodeSpark {
  import MValue._

  /** Spark-native value for an MValue (per the §1.2 mapping table). */
  def toSpark(v: MValue): Any = v match {
    case Str(s) => s; case Text(s) => s; case Ascii(s) => s; case EnumStr(s) => s
    case I64(x) => x; case I32(x) => x; case I16(x) => x; case EnumOrd(x) => x
    case F64(x) => x; case F32(x) => x; case F16(x) => x
    case Bool(b) => b
    case Bytes(b) => b.toArray
    case Null => null
    case Dec(d) => d
    case VarInt(b) => BigDecimal(b)
    case Millis(ms) => new java.sql.Timestamp(ms)
    case Nanos(s, n) => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, n.toLong))
    case Date(s) => java.sql.Date.valueOf(s)
    case Time(s) => s
    case DateTime(s) => java.sql.Timestamp.from(java.time.Instant.parse(s))
    case UuidV1(m, l) => new java.util.UUID(m, l).toString
    case UuidV7(m, l) => new java.util.UUID(m, l).toString
    case UlidVal(b) => Ulid.toCanonical(b.toArray)
    case MList(xs) => xs.map(toSpark)
    case TypedArray(_, xs) => xs.map(toSpark)
    case MSet(xs) => xs.map(toSpark).distinct
    case TypedMap(kvs) => kvs.map { case (k, vv) => toSpark(k) -> toSpark(vv) }.toMap
    case Node(n) => Row.fromSeq(n.fields.map(f => toSpark(f._2)))
  }

  /** Decode a record against a declared layout → positional Row (missing
    * fields null, extra fields dropped — schema-on-read).
    */
  def toRow(node: MNode, layout: MetadataLayout): Row = {
    val byName = node.toMap
    Row.fromSeq(layout.fields.map { fd =>
      byName.get(fd.name).map {
        case Null => null
        case v =>
          (fd.fieldType, toSpark(v)) match {
            case (FieldType.IntT, n: Number)   => n.longValue()
            case (FieldType.FloatT, n: Number) => n.doubleValue()
            case (FieldType.EnumT, o: Int)     => fd.enumValues(o)
            case (_, x)                        => x
          }
      }.orNull
    })
  }
}
