package perfbench

import java.io.{File, FileInputStream, RandomAccessFile}

import scala.jdk.CollectionConverters._

import graft.pointcloud.connector.LasProvider
import graft.pointcloud.las.LasHeader
import graft.pointcloud.las.laz.{Copc, Laz, LazChunkDecoder, LazChunkEncoder}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Direct calls into the point-cloud modules' public functions, timed
  * from outside, over files a workload wrote. Only the traced run makes
  * them; each call is also a span of its module's layer. */
object Probes {
  def lazFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".laz") && f.length > 0).sortBy(_.getName)

  def bytes(dir: String): Long = lazFiles(dir).map(_.length).sum

  /** Per-file `pointcloud.las` and `pointcloud.las.laz` costs. */
  final case class FileCodec(files: Int, headerNs: Long, indexNs: Long, chunks: Int,
      points: Long, decodeNs: Long, encodeNs: Long)

  /** Reads each file's header (`LasHeader.read`), its COPC index when it
    * has one (`Copc.readInfo`/`readDataEntries`/`chunkIndex`), then
    * decodes every chunk (`LazChunkDecoder.decode`) and re-encodes the
    * decoded records (`LazChunkEncoder.encode`). */
  def codec(tracer: Tracer, files: Seq[File]): FileCodec = {
    var headerNs, indexNs, decodeNs, encodeNs, points = 0L
    var chunks = 0
    files.foreach { f =>
      val raf = new RandomAccessFile(f, "r")
      try {
        val readAt: (Long, Int) => Array[Byte] = (off, len) => {
          val b = new Array[Byte](len)
          raf.seek(off)
          raf.readFully(b)
          b
        }
        var t0 = System.nanoTime()
        val header = tracer.span("LasHeader.read", "las") {
          val in = new FileInputStream(f)
          try LasHeader.read(f.getPath, in) finally in.close()
        }
        headerNs += System.nanoTime() - t0
        val lz = Laz.infoFor(header, readAt, f.length)
        t0 = System.nanoTime()
        tracer.span("Copc.index", "copc") {
          Copc.readInfo(header, readAt).foreach { info =>
            Copc.chunkIndex(header, info, Copc.readDataEntries(info, readAt, f.length), lz)
          }
        }
        indexNs += System.nanoTime() - t0
        val dec = new LazChunkDecoder(lz.format, lz.stride)
        val enc = new LazChunkEncoder(lz.format, lz.stride)
        var off = lz.firstChunkOffset
        var i = 0
        while (i < lz.numChunks) {
          val chunk = readAt(off, lz.chunkBytes(i).toInt)
          val n = lz.chunkPoints(i).toInt
          t0 = System.nanoTime()
          val records = tracer.span("LazChunkDecoder.decode", "laz")(dec.decode(chunk, n))
          val t1 = System.nanoTime()
          tracer.span("LazChunkEncoder.encode", "laz")(enc.encode(records, 0, n))
          encodeNs += System.nanoTime() - t1
          decodeNs += t1 - t0
          points += n
          chunks += 1
          off += lz.chunkBytes(i)
          i += 1
        }
      } finally raf.close()
    }
    FileCodec(files.size, headerNs, indexNs, chunks, points, decodeNs, encodeNs)
  }

  /** One DSv2 resolve + plan through the connector's public classes:
    * `LasProvider.getTable` (resolve), then `newScanBuilder` -> `build`
    * -> `planInputPartitions` (plan). */
  final case class Plan(resolveNs: Long, planNs: Long, partitions: Int,
      scan: org.apache.spark.sql.connector.read.Scan,
      parts: Array[org.apache.spark.sql.connector.read.InputPartition])

  def plan(tracer: Tracer, dir: String, options: Map[String, String]): Plan = {
    val opts = new CaseInsensitiveStringMap((options + ("path" -> dir)).asJava)
    val t0 = System.nanoTime()
    val table = tracer.span("LasProvider.getTable", "connector") {
      val p = new LasProvider()
      p.getTable(p.inferSchema(opts), Array.empty, opts)
    }
    val t1 = System.nanoTime()
    val (scan, parts) = tracer.span("ScanBuilder.build+planInputPartitions", "connector") {
      val scan = table.asInstanceOf[SupportsRead].newScanBuilder(opts).build()
      (scan, scan.toBatch.planInputPartitions())
    }
    Plan(t1 - t0, System.nanoTime() - t1, parts.length, scan, parts)
  }

  /** What the columnar partition reader returned, driven over every
    * planned partition on this thread. */
  final case class Read(rows: Long, ns: Long, useful: Int, partitions: Int, matched: Long)

  /** Reads every partition of `p` through the reader factory of `via`
    * (by default `p`'s own; an unfiltered scan's factory returns every
    * point of the planned chunks). A row is useful when `keep(x, y)`
    * holds, a partition when it returned a useful row. */
  def read(tracer: Tracer, p: Plan, keep: (Int, Int) => Boolean = (_, _) => true,
      via: Plan = null): Read = {
    val factory = Option(via).getOrElse(p).scan.toBatch.createReaderFactory()
    val xi = p.scan.readSchema().fieldIndex("x")
    val yi = p.scan.readSchema().fieldIndex("y")
    var rows, matched, ns = 0L
    var useful = 0
    tracer.span("PartitionReader.columnar", "connector") {
      p.parts.foreach { part =>
        val t0 = System.nanoTime()
        var hit = 0L
        val r = factory.createColumnarReader(part)
        try while (r.next()) {
          val b = r.get()
          val (xs, ys) = (b.column(xi), b.column(yi))
          var i = 0
          while (i < b.numRows()) {
            if (keep(xs.getInt(i), ys.getInt(i))) hit += 1
            i += 1
          }
          rows += b.numRows()
        } finally r.close()
        ns += System.nanoTime() - t0
        matched += hit
        if (hit > 0) useful += 1
      }
    }
    Read(rows, ns, useful, p.parts.length, matched)
  }
}
