package graft.pointcloud

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import PointCloudTypes.Tag

/** A contiguous run of fixed-length binary records inside one file — the
  * physical unit behind every point-cloud DataFrame.
  *
  * Mirrors the reference's `BinarySection` geometry
  * (BinarySectionRelation.scala:39-54): per-field sizes, prefix-sum
  * offsets, record length, and `stride = max(strideMin, recordLength)`
  * (LAS files may declare a record length longer than the format's fields).
  *
  * @param offset byte position of record 0 in the file
  * @param count  number of records in the section
  */
case class Section(
    location: String,
    offset: Long,
    count: Long,
    littleEndian: Boolean,
    schema: StructType,
    strideMin: Int = 0) {

  val fieldSizes: Array[Int] = schema.fields.map(f => PointCloudTypes.sizeOf(f.dataType))
  /** Byte offset of each field inside a record (prefix sums). */
  val fieldOffsets: Array[Int] = fieldSizes.scanLeft(0)(_ + _).init
  val recordLength: Int = fieldSizes.sum
  val stride: Int = math.max(strideMin, recordLength)
  def byteSize: Long = count * stride
  def order: ByteOrder = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

  def fieldIndex(name: String): Int = schema.fieldNames.indexOf(name)
}

/** Encodes rows to fixed-stride records for the write path.
  *
  * Fields are matched by name + exact type, and fields absent from the
  * input are zero-filled — the reference's `RowOutputStream` contract
  * (package.scala:173-217). Null input values are written as binary zero.
  */
final class RecordEncoder(
    fileSchema: StructType,
    inputSchema: StructType,
    littleEndian: Boolean) {

  private val section = Section("", 0, 0, littleEndian, fileSchema)
  val recordLength: Int = section.recordLength
  private val bytes = new Array[Byte](recordLength)
  private val buffer = ByteBuffer.wrap(bytes).order(section.order)

  // per file field: input ordinal (or -1), type tag, byte offset — three
  // primitive arrays, so the per-row loop reads them without boxing
  private val inputOrds: Array[Int] = fileSchema.fields.map { f =>
    inputSchema.fields.indexWhere(g => g.name == f.name && g.dataType == f.dataType)
  }
  private val tags: Array[Int] = fileSchema.fields.map(f => Tag.of(f.dataType))
  private val offsets: Array[Int] = section.fieldOffsets

  /** Encode `row` (shaped as `inputSchema`); returns an internally reused
    * byte array of exactly `recordLength` bytes. */
  def encode(row: InternalRow): Array[Byte] = {
    var i = 0
    while (i < tags.length) {
      val in = inputOrds(i)
      val off = offsets(i)
      if (in < 0 || row.isNullAt(in)) {
        // zero-fill: absent or null field
        tags(i) match {
          case Tag.Byte   => buffer.put(off, 0: Byte)
          case Tag.Short  => buffer.putShort(off, 0: Short)
          case Tag.Int    => buffer.putInt(off, 0)
          case Tag.Long   => buffer.putLong(off, 0L)
          case Tag.Float  => buffer.putFloat(off, 0f)
          case Tag.Double => buffer.putDouble(off, 0d)
        }
      } else tags(i) match {
        case Tag.Byte   => buffer.put(off, row.getByte(in))
        case Tag.Short  => buffer.putShort(off, row.getShort(in))
        case Tag.Int    => buffer.putInt(off, row.getInt(in))
        case Tag.Long   => buffer.putLong(off, row.getLong(in))
        case Tag.Float  => buffer.putFloat(off, row.getFloat(in))
        case Tag.Double => buffer.putDouble(off, row.getDouble(in))
      }
      i += 1
    }
    bytes
  }
}
