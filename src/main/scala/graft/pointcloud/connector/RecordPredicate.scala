package graft.pointcloud.connector

import java.nio.ByteBuffer

import graft.pointcloud.PointCloudTypes.Tag
import graft.pointcloud.Section
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Record-level filter pushdown for the fixed-stride binary readers
  * (round-3 upgrade over the file-level bbox skip; the reference has no
  * pushdown at all, SURVEY §2.3 P4).
  *
  * A pushed filter is evaluated straight off the record buffer — before
  * any row or column vector is materialized — with exactly the reader's
  * decode semantics (zero-extension, nodata→null, widening casts), so
  * claiming it as pushed (removing it from Spark's residual) is safe.
  * Evaluation is three-valued (null-aware) and allocation-free: the
  * filter tree compiles once per section into closures over
  * (buffer, recordBase, pid).
  */
private[connector] object RecordPredicate {

  final val False: Byte = 0
  final val True: Byte = 1
  final val Unknown: Byte = 2

  private def isNumericPrimitive(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  private def integralLiteral(v: Any): Boolean = v match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
         _: java.lang.Long => true
    case _ => false
  }

  private def numericLiteral(v: Any): Boolean = v match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
         _: java.lang.Long | _: java.lang.Float | _: java.lang.Double => true
    case _ => false
  }

  /** Can the readers evaluate `filter` exactly against `tableSchema`
    * (the exposed, possibly widened schema)? Long columns only compare
    * against integral literals — a floating literal would force the
    * column through a lossy double cast whose rounding we'd rather leave
    * to Catalyst than re-implement. */
  def pushable(filter: Filter, tableSchema: StructType): Boolean = {
    def colOk(name: String, v: Any): Boolean =
      tableSchema.fields.find(_.name == name).exists { f =>
        isNumericPrimitive(f.dataType) && numericLiteral(v) &&
          !(f.dataType == LongType && !integralLiteral(v))
      }
    def colExists(name: String): Boolean =
      tableSchema.fields.find(_.name == name).exists(f => isNumericPrimitive(f.dataType))
    filter match {
      case EqualTo(c, v)            => colOk(c, v)
      case GreaterThan(c, v)        => colOk(c, v)
      case GreaterThanOrEqual(c, v) => colOk(c, v)
      case LessThan(c, v)           => colOk(c, v)
      case LessThanOrEqual(c, v)    => colOk(c, v)
      case In(c, vs)                => vs.nonEmpty && vs.forall(colOk(c, _))
      case IsNull(c)                => colExists(c)
      case IsNotNull(c)             => colExists(c)
      case And(l, r)                => pushable(l, tableSchema) && pushable(r, tableSchema)
      case Or(l, r)                 => pushable(l, tableSchema) && pushable(r, tableSchema)
      case Not(x)                   => pushable(x, tableSchema)
      case _                        => false
    }
  }
}

/** Compiled per-section evaluator. `matches` returns true iff every
  * pushed filter evaluates to TRUE for the record at `base` (SQL
  * semantics: unknown rows are dropped, exactly as Spark's Filter
  * would). */
private[connector] final class RecordPredicate(
    filters: Array[Filter],
    tableSchema: StructType,
    section: Section,
    fid: Int) {

  import RecordPredicate._

  /** One referenced column: how to read its raw value and nullness. */
  private final class Acc(name: String) {
    // special: 0 = section field, 1 = fid, 2 = pid, 3 = absent (always null)
    val special: Int = name match {
      case PointCloudUtil.FidCol => 1
      case PointCloudUtil.PidCol => 2
      case _ => if (section.fieldIndex(name) < 0) 3 else 0
    }
    private val idx = if (special == 0) section.fieldIndex(name) else -1
    val off: Int = if (idx >= 0) section.fieldOffsets(idx) else 0
    val srcTag: Int = if (idx >= 0) Tag.of(section.schema.fields(idx).dataType) else Tag.Int
    private val tableField = tableSchema.fields.find(_.name == name)
    val dstTag: Int = special match {
      case 1 => Tag.Int
      case 2 => Tag.Long
      case _ => tableField.map(f => Tag.of(f.dataType)).getOrElse(srcTag)
    }
    private val md = if (idx >= 0) section.schema.fields(idx).metadata else Metadata.empty
    val zeroExtend: Boolean = idx >= 0 && srcTag < dstTag && dstTag <= Tag.Long &&
      md.contains("unsigned") && md.getBoolean("unsigned")
    private val hasNd = idx >= 0 && tableField.forall(_.nullable) && md.contains("nodata")
    private val ndL = if (hasNd && srcTag <= Tag.Long) md.getLong("nodata") else 0L
    private val ndD = if (hasNd && srcTag > Tag.Long) md.getDouble("nodata") else 0.0

    /** Exposed value is integral (long-domain comparisons are exact). */
    def integral: Boolean = dstTag <= Tag.Long

    private def rawLong(buf: ByteBuffer, base: Int): Long = {
      var v: Long = srcTag match {
        case Tag.Byte  => buf.get(base + off).toLong
        case Tag.Short => buf.getShort(base + off).toLong
        case Tag.Int   => buf.getInt(base + off).toLong
        case _         => buf.getLong(base + off)
      }
      if (zeroExtend) v &= Tag.unsignedMask(srcTag)
      v
    }
    private def rawDouble(buf: ByteBuffer, base: Int): Double =
      if (srcTag == Tag.Float) buf.getFloat(base + off).toDouble
      else buf.getDouble(base + off)

    def isNull(buf: ByteBuffer, base: Int): Boolean = special match {
      case 1 | 2 => false
      case 3     => true
      case _ =>
        hasNd && (if (srcTag <= Tag.Long) rawLong(buf, base) == ndL
                  else rawDouble(buf, base) == ndD)
    }

    def getL(buf: ByteBuffer, base: Int, pid: Long): Long = special match {
      case 1 => fid.toLong
      case 2 => pid
      case _ => rawLong(buf, base)
    }

    /** The decoded value widened to double exactly as the reader's cast
      * chain produces it (notably int→float loses bits: compare what the
      * query actually sees, not the raw value). */
    def getD(buf: ByteBuffer, base: Int, pid: Long): Double = special match {
      case 1 => fid.toDouble
      case 2 => pid.toDouble
      case _ =>
        if (srcTag <= Tag.Long) {
          val v = rawLong(buf, base)
          if (dstTag == Tag.Float) v.toFloat.toDouble else v.toDouble
        } else {
          val v = rawDouble(buf, base)
          if (dstTag == Tag.Float) v.toFloat.toDouble else v
        }
    }
  }

  private type Node = (ByteBuffer, Int, Long) => Byte

  /** Spark-compatible double compare: NaN largest and equal to itself,
    * -0.0 == 0.0 (the +0.0 normalizes the signed zero). */
  private def cmpD(a: Double, b: Double): Int =
    java.lang.Double.compare(a + 0.0, b + 0.0)

  private def compare(name: String, v: Any, test: Int => Boolean): Node = {
    val a = new Acc(name)
    val n = v.asInstanceOf[Number]
    if (a.integral && RecordPredicate.integralLiteral(v)) {
      val lit = n.longValue()
      (buf, base, pid) =>
        if (a.isNull(buf, base)) Unknown
        else if (test(java.lang.Long.compare(a.getL(buf, base, pid), lit))) True
        else False
    } else {
      val lit = n.doubleValue()
      (buf, base, pid) =>
        if (a.isNull(buf, base)) Unknown
        else if (test(cmpD(a.getD(buf, base, pid), lit))) True
        else False
    }
  }

  private def compile(f: Filter): Node = f match {
    case EqualTo(c, v)            => compare(c, v, _ == 0)
    case GreaterThan(c, v)        => compare(c, v, _ > 0)
    case GreaterThanOrEqual(c, v) => compare(c, v, _ >= 0)
    case LessThan(c, v)           => compare(c, v, _ < 0)
    case LessThanOrEqual(c, v)    => compare(c, v, _ <= 0)
    case In(c, vs)                => vs.map(v => compile(EqualTo(c, v))).reduce(or)
    case IsNull(c) =>
      val a = new Acc(c); (buf, base, _) => if (a.isNull(buf, base)) True else False
    case IsNotNull(c) =>
      val a = new Acc(c); (buf, base, _) => if (a.isNull(buf, base)) False else True
    case And(l, r) => and(compile(l), compile(r))
    case Or(l, r)  => or(compile(l), compile(r))
    case Not(x) =>
      val n = compile(x)
      (buf, base, pid) => n(buf, base, pid) match {
        case True => False; case False => True; case _ => Unknown
      }
    case other =>
      throw new IllegalArgumentException(s"filter $other was not pushable") // builder bug
  }

  private def and(l: Node, r: Node): Node = (buf, base, pid) => {
    val a = l(buf, base, pid)
    if (a == False) False
    else {
      val b = r(buf, base, pid)
      if (b == False) False else if (a == True && b == True) True else Unknown
    }
  }

  private def or(l: Node, r: Node): Node = (buf, base, pid) => {
    val a = l(buf, base, pid)
    if (a == True) True
    else {
      val b = r(buf, base, pid)
      if (b == True) True else if (a == False && b == False) False else Unknown
    }
  }

  private val nodes: Array[Node] = filters.map(compile)

  def matches(buf: ByteBuffer, base: Int, pid: Long): Boolean = {
    var i = 0
    while (i < nodes.length) {
      if (nodes(i)(buf, base, pid) != True) return false
      i += 1
    }
    true
  }
}
