package graft.pointcloud

import org.apache.spark.sql.types._

/** Fixed-width primitive sizes for on-disk point records.
  *
  * The reference derives sizes from `DataType.defaultSize`
  * (BinarySectionRelation.scala:50-54); we pin them explicitly so a Spark
  * upgrade can never silently change record geometry.
  */
object PointCloudTypes {
  def sizeOf(dt: DataType): Int = dt match {
    case ByteType    => 1
    case ShortType   => 2
    case IntegerType => 4
    case LongType    => 8
    case FloatType   => 4
    case DoubleType  => 8
    case NullType    => 0
    case other => throw new IllegalArgumentException(
      s"Point-cloud records support fixed-width primitives only, got $other")
  }

  val supported: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** Integer tags for the supported primitives, ordered so that
    * `tag <= Long` means integral and a larger tag is a wider type within
    * each family; per-record loops switch on these instead of DataTypes. */
  object Tag {
    final val Byte = 0; final val Short = 1; final val Int = 2; final val Long = 3
    final val Float = 4; final val Double = 5
    def unsignedMask(tag: Int): Long = tag match {
      case Byte => 0xffL; case Short => 0xffffL; case Int => 0xffffffffL
      case _ => -1L
    }
    def of(dt: DataType): Int = dt match {
      case ByteType => Byte
      case ShortType => Short
      case IntegerType => Int
      case LongType => Long
      case FloatType => Float
      case DoubleType => Double
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }
}

/** Multi-file schema merge with numeric widening.
  *
  * Same observable semantics as the reference's modified copy of Spark's
  * `StructType.merge` (package.scala:38-151), including its documented
  * delta: a field present in only one input becomes `nullable = true`
  * (package.scala:128-143). Left-side field order wins; right-only fields
  * append in their own order.
  */
object SchemaMerge {

  /** Widening lattice over the supported numeric primitives.
    * int⋁int → wider int; float⋁double → double; int⋁double → double;
    * small-int⋁float → float; int/long⋁float and long⋁double are
    * incompatible (loss either way), mirroring package.scala:83-114.
    */
  def mergeType(left: DataType, right: DataType): DataType = (left, right) match {
    case (l, r) if l == r => l

    case (LongType, ByteType | ShortType | IntegerType) => LongType
    case (ByteType | ShortType | IntegerType, LongType) => LongType
    case (IntegerType, ByteType | ShortType) => IntegerType
    case (ByteType | ShortType, IntegerType) => IntegerType
    case (ShortType, ByteType) => ShortType
    case (ByteType, ShortType) => ShortType

    case (DoubleType, FloatType) => DoubleType
    case (FloatType, DoubleType) => DoubleType

    case (DoubleType, ByteType | ShortType | IntegerType) => DoubleType
    case (ByteType | ShortType | IntegerType, DoubleType) => DoubleType

    case (FloatType, ByteType | ShortType) => FloatType
    case (ByteType | ShortType, FloatType) => FloatType

    case (NullType, r) => r
    case (l, NullType) => l

    case _ => throw new IllegalArgumentException(
      s"Cannot merge point-cloud field types $left and $right")
  }

  /** Merge two per-file schemas. Metadata of the left occurrence wins
    * (per-section decode always uses the section's own metadata, so
    * nodata/scale sentinels are never mixed across files).
    */
  def merge(left: StructType, right: StructType): StructType = {
    val rightByName = right.fields.map(f => f.name -> f).toMap
    val leftNames = left.fieldNames.toSet
    val merged = left.fields.map { lf =>
      rightByName.get(lf.name) match {
        case Some(rf) => lf.copy(
          dataType = mergeType(lf.dataType, rf.dataType),
          nullable = lf.nullable || rf.nullable)
        case None => lf.copy(nullable = true)
      }
    }
    val rightOnly = right.fields.filterNot(f => leftNames(f.name)).map(_.copy(nullable = true))
    StructType(merged ++ rightOnly)
  }

  def mergeAll(schemas: Seq[StructType]): StructType = schemas.reduce(merge)
}
