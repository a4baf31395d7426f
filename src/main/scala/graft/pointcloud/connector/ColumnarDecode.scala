package graft.pointcloud.connector

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Vectorized decode for fixed-stride binary sections (SURVEY O7/§7.8):
  * records are read in ~4 MiB chunks and decoded column-at-a-time into
  * a reused batch through the shared [[ColumnarFiller]] kernel, and the
  * scan feeds Spark's ColumnarToRow/whole-stage codegen path.
  */
class BinarySectionColumnarReader(p: BinaryPartition, readSchema: StructType,
    predicate: RecordPredicate = null)
  extends PartitionReader[ColumnarBatch] {

  private val path = new Path(p.location)
  private val in = path.getFileSystem(LocalIo.conf).open(path)
  in.seek(p.sectionOffset + p.startRecord * p.stride)

  private val batchSize: Int =
    math.max(1, math.min(p.numRecords, (4 << 20) / math.max(1, p.stride)).toInt)
  private val chunk = new Array[Byte](batchSize * p.stride)
  private val buf = ByteBuffer.wrap(chunk)
    .order(if (p.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)

  private val filler = new ColumnarFiller(
    DataType.fromJson(p.sectionSchemaJson).asInstanceOf[StructType],
    readSchema, p.stride, p.fid, predicate, batchSize)

  private var nextIdx = 0L // next record index within the partition

  override def next(): Boolean = {
    while (nextIdx < p.numRecords) {
      val n = math.min(batchSize.toLong, p.numRecords - nextIdx).toInt
      in.readFully(chunk, 0, n * p.stride)
      val firstPid = p.startRecord + nextIdx
      nextIdx += n
      if (filler.fill(buf, n, firstPid) > 0) return true
    }
    false
  }

  override def get(): ColumnarBatch = filler.batch

  override def close(): Unit = {
    in.close()
    filler.batch.close()
  }
}

/** Vectorized LAZ decode: each compressed chunk is read whole (the IO
  * unit the chunk table bounds) and entropy-decoded into a raw-record
  * buffer (sequential by construction — the prediction state chains
  * point to point; parallel across chunks and partitions), then
  * column-filled through the SAME [[ColumnarFiller]] kernel as the raw
  * reader. Schema casts, fid/pid synthesis, column pruning and claimed
  * filters are shared, so a `.laz` scan differs from `.las` only in the
  * decode step. */
class LazSectionColumnarReader(p: LazPartition, readSchema: StructType,
    predicate: RecordPredicate = null)
  extends PartitionReader[ColumnarBatch] {

  private val chunkDecoder = new graft.pointcloud.las.laz.LazChunkDecoder(p.format, p.stride)

  private val path = new Path(p.location)
  private val in = path.getFileSystem(LocalIo.conf).open(path)

  private val filler = new ColumnarFiller(
    DataType.fromJson(p.sectionSchemaJson).asInstanceOf[StructType],
    readSchema, p.stride, p.fid, predicate,
    math.max(1, p.chunkCounts.foldLeft(0L)(math.max).toInt))

  private var chunkIdx = -1
  private var recordsBefore = 0L

  override def next(): Boolean = {
    while (true) {
      var count = 0L
      do {
        if (chunkIdx >= 0) recordsBefore += p.chunkCounts(chunkIdx)
        chunkIdx += 1
        if (chunkIdx >= p.chunkOffsets.length) return false
        count = p.chunkCounts(chunkIdx)
      } while (count == 0)
      val compressed = new Array[Byte](p.chunkBytes(chunkIdx).toInt)
      in.seek(p.chunkOffsets(chunkIdx))
      in.readFully(compressed)
      val records = chunkDecoder.decode(compressed, count.toInt)
      val buf = ByteBuffer.wrap(records).order(ByteOrder.LITTLE_ENDIAN)
      // claimed filters run on the decoded record bytes: the chunk must
      // entropy-decode either way, what pushdown saves is the column fill
      if (filler.fill(buf, count.toInt, p.startRecord + recordsBefore) > 0) return true
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = filler.batch

  override def close(): Unit = {
    in.close()
    filler.batch.close()
  }
}
