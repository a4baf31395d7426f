package graft.pointcloud.connector

import java.nio.ByteBuffer

import graft.pointcloud.PointCloudTypes.Tag
import graft.pointcloud.Section
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Column-at-a-time decode of fixed-stride records from a byte buffer
  * into a reused ColumnarBatch of `capacity` rows — the one decode kernel
  * behind the raw ([[BinarySectionColumnarReader]]) and LAZ
  * ([[LazSectionColumnarReader]]) readers, and through them behind the
  * factory's row contract: tight per-column loops over the strided
  * buffer instead of per-row virtual dispatch, feeding Spark's
  * ColumnarToRow/whole-stage codegen path. Value semantics (widening,
  * unsigned zero-extension, nodata→null, fid/pid synthesis) live in one
  * loop that decodes either every record or only the pushed-filter
  * survivors; the "selected decode path" spec pins those two cases
  * against each other row for row. */
private[connector] final class ColumnarFiller(
    sectionSchema: StructType, readSchema: StructType, stride: Int, fid: Int,
    predicate: RecordPredicate, capacity: Int) {

  private val section = Section("", 0, 0, littleEndian = true, sectionSchema, stride)

  // per output column: (kind, src offset, srcTag, dstTag, nodata info)
  // kind: 0=absent from this file's section (always null, the reference's
  // NullType stub columns, BinarySectionRelation.scala:58, 105-114),
  // 1=fid (BinarySectionRelation.scala:55), 2=pid (the record index,
  // FixedLengthBinarySectionRecordReader.scala:109), 3=primitive
  private case class ColPlan(kind: Int, off: Int, srcTag: Int, dstTag: Int,
      hasNodata: Boolean, ndL: Long, ndD: Double, zeroExtend: Boolean = false)

  private val plans: Array[ColPlan] = readSchema.fields.map { f =>
    if (f.name == PointCloudUtil.FidCol) ColPlan(1, 0, 0, 0, false, 0, 0)
    else if (f.name == PointCloudUtil.PidCol) ColPlan(2, 0, 0, 0, false, 0, 0)
    else {
      val i = section.fieldIndex(f.name)
      if (i < 0) ColPlan(0, 0, 0, 0, false, 0, 0)
      else {
        val md = sectionSchema.fields(i).metadata
        val srcTag = Tag.of(sectionSchema.fields(i).dataType)
        // nodata sentinel only honored on nullable fields, like the
        // reference (BinarySectionRelation.scala:76-88)
        val hasNd = f.nullable && md.contains("nodata")
        val (ndL, ndD) =
          if (!hasNd) (0L, 0.0)
          else if (srcTag <= Tag.Long) (md.getLong("nodata"), 0.0)
          else (0L, md.getDouble("nodata"))
        val dstTag = Tag.of(f.dataType)
        // unsigned on-disk fields zero-extend when the target widened
        // (widenUnsigned option, or a multi-file merge that widened)
        val zeroExtend = srcTag < dstTag && dstTag <= Tag.Long &&
          md.contains("unsigned") && md.getBoolean("unsigned")
        ColPlan(3, section.fieldOffsets(i), srcTag, dstTag, hasNd, ndL, ndD, zeroExtend)
      }
    }
  }

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(capacity, readSchema)
  val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  // pushed-filter survivors: record indices into the buffer, compacted to
  // batch rows [0, m) (ColumnarBatch has no selection vector); null when
  // nothing was pushed, which the column loop reads as records [0, n)
  private val sel: Array[Int] = if (predicate == null) null else new Array[Int](capacity)

  /** Decode records [0, n) of `buf` into [[batch]], keeping only those
    * the pushed filter accepts (evaluated on the raw bytes, before any
    * decode); record i's pid is `firstPid + i`. Returns the number of
    * rows filled — 0 means the filter rejected the whole chunk and the
    * caller should read the next one instead of surfacing an empty
    * batch. */
  def fill(buf: ByteBuffer, n: Int, firstPid: Long): Int = {
    var m = n
    if (predicate != null) {
      m = 0
      var i = 0
      while (i < n) {
        if (predicate.matches(buf, i * stride, firstPid + i)) { sel(m) = i; m += 1 }
        i += 1
      }
    }
    if (m > 0) {
      var c = 0
      while (c < plans.length) { fillColumn(buf, vectors(c), plans(c), m, firstPid); c += 1 }
    }
    batch.setNumRows(m)
    m
  }

  /** Fill vector rows [0, m) from record `sel(j)`, or record j when
    * `sel` is null. */
  private def fillColumn(buf: ByteBuffer, v: OnHeapColumnVector, pl: ColPlan,
      m: Int, firstPid: Long): Unit = {
    val sel = this.sel // read once, not per element
    v.reset()
    pl.kind match {
      case 0 => v.putNulls(0, m)
      case 1 => v.putInts(0, m, fid)
      case 2 =>
        var j = 0
        while (j < m) { v.putLong(j, firstPid + (if (sel == null) j else sel(j))); j += 1 }
      case 3 =>
        val off = pl.off
        var j = 0
        if (pl.srcTag <= Tag.Long) {
          while (j < m) {
            val pos = (if (sel == null) j else sel(j)) * stride + off
            var raw: Long = pl.srcTag match {
              case Tag.Byte  => buf.get(pos).toLong
              case Tag.Short => buf.getShort(pos).toLong
              case Tag.Int   => buf.getInt(pos).toLong
              case _         => buf.getLong(pos)
            }
            if (pl.zeroExtend) raw &= Tag.unsignedMask(pl.srcTag)
            if (pl.hasNodata && raw == pl.ndL) v.putNull(j)
            else pl.dstTag match {
              case Tag.Byte   => v.putByte(j, raw.toByte)
              case Tag.Short  => v.putShort(j, raw.toShort)
              case Tag.Int    => v.putInt(j, raw.toInt)
              case Tag.Long   => v.putLong(j, raw)
              case Tag.Float  => v.putFloat(j, raw.toFloat)
              case Tag.Double => v.putDouble(j, raw.toDouble)
            }
            j += 1
          }
        } else {
          while (j < m) {
            val pos = (if (sel == null) j else sel(j)) * stride + off
            val raw: Double =
              if (pl.srcTag == Tag.Float) buf.getFloat(pos).toDouble else buf.getDouble(pos)
            if (pl.hasNodata && raw == pl.ndD) v.putNull(j)
            else if (pl.dstTag == Tag.Float) v.putFloat(j, raw.toFloat)
            else v.putDouble(j, raw)
            j += 1
          }
        }
    }
  }
}
