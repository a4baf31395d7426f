package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.pointcloud.syntax._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A benchmark workload: set-up that builds its inputs, a warm-up, one
  * closed-loop step at a time, the answer checks, and the direct layer
  * probes of the traced run. */
abstract class Workload(val ctx: Ctx) {
  /** Generation plus layout build; timed, and repeated by the runner. */
  def setup(): Unit
  /** How many times the runner repeats [[setup]]; the median is reported.
    * The first set-up pays for class loading and the next ones still get
    * faster as the JIT compiles, so the median needs a few beyond them. */
  def setupRuns: Int = 5
  /** Untimed ops that let caches fill and lazy set-up finish. */
  def warmup(): Unit
  /** One unit of client work (one or more ops). */
  def step(i: Int): Unit
  def minSteps: Int = 2
  /** Answer checks that need the whole run's ops (after timing). */
  def verify(): Unit = ()
  /** Median latency of one step, in ms. */
  def p50Ms: Double
  /** Workload items completed per second of timed op wall time. */
  def itemsPerSecond: Double
  /** Stored bytes per item of the workload's data. */
  def bytesPerItem: Double
  /** Input sizes, for provenance. */
  def inputs: Map[String, Any]
  /** Headline numbers beyond the end-to-end metrics. */
  def details: Map[String, Any]
  /** Per-layer metrics from direct module calls (traced run only). */
  def probe(): Map[String, Double] = Map.empty

  protected def spark = ctx.spark
  protected def seed = ctx.seed
  protected def dir(n: String): String = ctx.work.resolve(n).toString
}

object Workload {
  def apply(name: String, ctx: Ctx, scale: Double): Workload = name match {
    case "lidar_roundtrip" => new LidarRoundtrip(ctx, (1000000 * scale).toLong)
    case "copc_window" => new CopcWindow(ctx, (300000 * scale).toLong)
    case "text_curation" => new TextCuration(ctx, math.max(20, (200 * scale).toInt), 2)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case n: java.lang.Number if !n.isInstanceOf[java.lang.Double] && !n.isInstanceOf[java.lang.Float] =>
      n.longValue
    case v => v
  }

  def codecMetrics(c: Probes.FileCodec): Map[String, Double] = Map(
    "laz.decode_ns_per_pt" -> (if (c.points == 0) 0.0 else c.decodeNs.toDouble / c.points),
    "laz.encode_ns_per_pt" -> (if (c.points == 0) 0.0 else c.encodeNs.toDouble / c.points),
    "laz.chunks_decoded" -> c.chunks.toDouble,
    "las.header_read_us_per_file" -> (if (c.files == 0) 0.0 else c.headerNs / 1e3 / c.files),
    "copc.index_us_per_file" -> (if (c.files == 0) 0.0 else c.indexNs / 1e3 / c.files))
}

/** Survey -> `writeLaz` lake of one file per core -> full-column census
  * through `read.las`, checked against the census of the source parquet. */
final class LidarRoundtrip(ctx: Ctx, n: Long) extends Workload(ctx) {
  private val src = dir("survey.parquet")
  private val lake = dir("lake")
  private val Cols = Seq("x", "y", "z", "intensity", "return", "flags", "classification",
    "user", "angle", "source", "red", "green", "blue")
  private var expected: Seq[Any] = null
  private val trips = mutable.ArrayBuffer.empty[Double]

  private def census(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), Cols.map(c => sum(col(c).cast("long"))) ++
      Seq(min(col("time")), max(col("time"))): _*)

  def setup(): Unit = Survey.write(spark, seed, n, ctx.cores, src)

  private def expect(): Unit =
    if (expected == null)
      expected = ctx.expectation(
        Workload.rowValues(census(spark.read.parquet(src)).collect()(0)))

  private def roundTrip(): Option[Double] = {
    expect()
    val t0 = System.nanoTime()
    val wrote = ctx.op("write") {
      val df = spark.read.parquet(src)
      ctx.phase("plan")(df.queryExecution.executedPlan)
      ctx.phase("execute")(df.writeLaz(lake, Map("scale" -> Survey.Scale.toString)))
    }
    if (wrote.isEmpty) return None
    val got = ctx.op("scan") {
      val q = ctx.phase("plan") {
        val q = census(spark.read.las(lake)); q.queryExecution.executedPlan; q
      }
      ctx.phase("execute")(q.collect()(0))
    }
    got.flatMap { row =>
      val vals = Workload.rowValues(row)
      if (vals != expected) {
        // the census is also the write's check: both ops of the trip fail
        ctx.fail(s"census $vals != expected $expected")
        val write = ctx.ops(ctx.ops.size - 2)
        write.ok = false
        write.error = "its census failed"
        None
      }
      else Some((System.nanoTime() - t0) / 1e6)
    }
  }

  /** Four untimed round trips: the codec's hot loops keep getting faster
    * for a few million points before they settle. */
  def warmup(): Unit = (0 until 4).foreach(_ => roundTrip())
  def step(i: Int): Unit = roundTrip().foreach(ms => if (ctx.timing) trips += ms)
  def p50Ms: Double = if (trips.isEmpty) 0.0 else Stats.median(trips.toSeq)
  def itemsPerSecond: Double = if (trips.isEmpty) 0.0 else n * trips.size / (trips.sum / 1e3)
  /** LAZ bytes per point of the lake the last round trip wrote. */
  def bytesPerItem: Double = Probes.bytes(lake).toDouble / n
  def inputs: Map[String, Any] = Map("points" -> n, "files" -> Probes.lazFiles(lake).size,
    "laz_bytes" -> Probes.bytes(lake))

  def details: Map[String, Any] = {
    val w = ctx.timed("write").map(_.ms)
    val s = ctx.timed("scan").map(_.ms)
    Map(
      "ingest_mpts_s" -> (if (w.isEmpty) 0.0 else n / Stats.median(w) / 1e3),
      "scan_mpts_s" -> (if (s.isEmpty) 0.0 else n / Stats.median(s) / 1e3),
      "laz_bytes_per_pt" -> Probes.bytes(lake).toDouble / n,
      "round_trip_ms" -> trips.toSeq)
  }

  override def probe(): Map[String, Double] = {
    val t = ctx.tracer
    val c = Probes.codec(t, Probes.lazFiles(lake))
    val p = Probes.plan(t, lake, Map.empty)
    val r = Probes.read(t, p)
    require(r.rows == n, s"columnar reader returned ${r.rows} of $n points")
    val writes = ctx.timed("write").filter(_.counts != null)
    Workload.codecMetrics(c) ++ Map(
      "connector.resolve_ms" -> p.resolveNs / 1e6,
      "connector.plan_ms" -> p.planNs / 1e6,
      "connector.partitions_planned" -> p.partitions.toDouble,
      "connector.partition_keep_ratio" -> r.useful.toDouble / r.partitions,
      "connector.points_scanned_per_returned" -> r.rows.toDouble / r.matched,
      "connector.read_ns_per_pt" -> r.ns.toDouble / r.rows,
      "connector.write_commit_ms" -> (if (writes.isEmpty) 0.0 else
        writes.map(o => math.max(0.0, o.ms - LayerMetrics.jobUnionMs(o.counts))).sum / writes.size))
  }
}

/** Window queries against a COPC lake of spatially disjoint files. */
final class CopcWindow(ctx: Ctx, n: Long) extends Workload(ctx) {
  private val src = dir("survey.parquet")
  private val lake = dir("copc")
  /** Leaf octree level: 16 x 16 columns over the flat survey. */
  val Leaf = 4
  private val issued = mutable.ArrayBuffer.empty[(Int, CopcWindow.Query, Seq[Any])]
  private var warmIndex = 0

  def setup(): Unit = {
    Survey.write(spark, seed, n, ctx.cores, src)
    spark.read.parquet(src).writeCopc(lake, Map(
      "scale" -> Survey.Scale.toString,
      "copc.files" -> (2 * ctx.cores).toString,
      "copc.lod" -> "true",
      "copc.level" -> Leaf.toString))
  }

  private val gen = new CopcWindow.Generator(seed, n, Leaf)

  private def census(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("x").cast("long")), sum(col("y").cast("long")),
      sum(col("z").cast("long")), sum(col("intensity").cast("long")),
      min(col("time")), max(col("time")))

  private def frame(q: CopcWindow.Query): DataFrame = {
    import CopcWindow._
    q match {
      case Box(x0, x1, y0, y1, lod) =>
        val r = if (lod < 0) spark.read.format("las")
          else spark.read.format("las").option("copc.maxlevel", lod.toString)
        census(r.load(lake).where(col("x").between(x0, x1) && col("y").between(y0, y1)))
      case Time(t0, t1) =>
        census(spark.read.format("las").option("timerange", s"$t0,$t1").load(lake))
      case Header =>
        spark.read.las(lake).agg(count(lit(1)), min("x"), max("x"), min("y"), max("y"),
          min("z"), max("z"))
    }
  }

  private def run(q: CopcWindow.Query): Unit = {
    val res = ctx.op(q.kind) {
      val df = ctx.phase("plan") { val df = frame(q); df.queryExecution.executedPlan; df }
      ctx.phase("execute")(df.collect()(0))
    }
    res.foreach { row =>
      val vals = Workload.rowValues(row)
      issued += ((ctx.ops.size - 1, q, vals))
    }
  }

  def warmup(): Unit = (0 until 5).foreach { _ =>
    warmIndex += 1
    run(gen.query(-warmIndex))
  }
  def step(i: Int): Unit = run(gen.query(i))
  override def minSteps: Int = 200
  /** Each set-up takes seconds; three keep the run inside its time. */
  override def setupRuns: Int = 3

  private def stepMs: Seq[Double] = ctx.timedOk.map(_.ms)
  def p50Ms: Double = if (stepMs.isEmpty) 0.0 else Stats.median(stepMs)
  def itemsPerSecond: Double = if (stepMs.isEmpty) 0.0 else stepMs.size / (stepMs.sum / 1e3)
  /** COPC bytes per point of the lake the queries read. */
  def bytesPerItem: Double = Probes.bytes(lake).toDouble / n
  def inputs: Map[String, Any] = Map("points" -> n, "files" -> Probes.lazFiles(lake).size,
    "laz_bytes" -> Probes.bytes(lake), "leaf_level" -> Leaf)

  /** Every answer against the source parquet, evaluated on the driver. */
  override def verify(): Unit = {
    val session = spark
    import session.implicits._
    val pts = spark.read.parquet(src).select("x", "y", "z", "intensity", "time")
      .as[(Int, Int, Int, Short, Double)].collect()
    val oracle = new CopcWindow.Oracle(pts.map(_._1), pts.map(_._2), pts.map(_._3),
      pts.map(_._4), pts.map(_._5), Leaf)
    issued.foreach { case (opIndex, q, got) =>
      val want = ctx.expectation(oracle.answer(q))
      if (got != want) {
        val rec = ctx.ops(opIndex)
        rec.ok = false
        rec.error = s"$q: got $got, expected $want"
        System.err.println(s"[perfbench] window answer check failed: ${rec.error}")
      }
    }
  }

  def details: Map[String, Any] = {
    val ms = stepMs
    val byKind = ctx.timedOk.groupBy(_.kind).map { case (k, os) => k -> Stats.median(os.map(_.ms)) }
    Map(
      "window_p50_ms" -> (if (ms.isEmpty) 0.0 else Stats.median(ms)),
      "window_p95_ms" -> (if (ms.isEmpty) 0.0 else Stats.percentile(ms, 0.95)),
      "window_samples" -> ms.size,
      "window_samples_beyond_p95" -> Stats.samplesBeyond(ms.size, 0.95),
      "median_ms_by_kind" -> byKind)
  }

  override def probe(): Map[String, Double] = {
    import CopcWindow._
    val t = ctx.tracer
    val c = Probes.codec(t, Probes.lazFiles(lake))
    val full = Probes.plan(t, lake, Map.empty)
    val all = Probes.read(t, full)
    require(all.rows == n, s"columnar reader returned ${all.rows} of $n points")
    // the first exact box windows the client issued, planned again with
    // the box as the `bbox` read option (file skip + chunk pruning) and
    // read back unfiltered, partition by partition: a partition is useful
    // when it holds a point of the box, a point when it is in the box
    val boxes = issued.iterator.map(_._2).collect { case b: Box if b.lod < 0 => b }.take(20).toSeq
    val probed = boxes.map { b =>
      val p = Probes.plan(t, lake, Map("bbox" -> s"${b.x0},${b.x1},${b.y0},${b.y1},*,*"))
      (p, Probes.read(t, p, (x, y) => x >= b.x0 && x <= b.x1 && y >= b.y0 && y <= b.y1, full))
    }
    val plans = probed.map(_._1)
    val reads = probed.map(_._2)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Workload.codecMetrics(c) ++ Map(
      "connector.resolve_ms" -> mean(plans.map(_.resolveNs / 1e6)),
      "connector.plan_ms" -> mean(plans.map(_.planNs / 1e6)),
      "connector.partitions_planned" -> mean(plans.map(_.partitions.toDouble)),
      "connector.partition_keep_ratio" ->
        reads.map(_.useful).sum.toDouble / math.max(1, reads.map(_.partitions).sum),
      "connector.points_scanned_per_returned" ->
        reads.map(_.rows).sum.toDouble / math.max(1L, reads.map(_.matched).sum),
      "connector.read_ns_per_pt" -> all.ns.toDouble / all.rows)
  }
}

object CopcWindow {
  sealed trait Query { def kind: String }
  /** Census of a box; `lod` >= 0 reads only octree levels <= lod. */
  final case class Box(x0: Int, x1: Int, y0: Int, y1: Int, lod: Int) extends Query {
    def kind: String = if (lod < 0) "bbox" else "lod"
  }
  /** Census of a gpstime window (inclusive). */
  final case class Time(t0: Double, t1: Double) extends Query { def kind = "time" }
  /** Whole-lake COUNT and MIN/MAX of x, y, z. */
  case object Header extends Query { def kind = "header" }

  /** The seeded query stream: query `q` is a pure function of (seed, q).
    * A fixed cycle of 20 sets the mix, so every seed runs the same
    * proportions: ten box censuses with area log-uniform over 0.01-5% of
    * the extent (three of them repeat one of eight hot boxes), four
    * gpstime windows inside one flight line, four level-of-detail
    * previews over a box of 0.1-10%, and two header aggregates. Sizes
    * follow a golden-ratio sequence with a seeded start, so they cover
    * their range evenly in every run; positions are seeded. */
  final class Generator(seed: Long, n: Long, leaf: Int) {
    private def u(q: Long, salt: Int) = Survey.unit(seed, q, salt)
    private val W = Survey.XMaxRaw.toDouble
    private val H = Survey.YMaxRaw.toDouble
    private val Golden = 0.6180339887498949
    /** Low-discrepancy uniform in [0, 1): the k-th query of one kind. */
    private def even(k: Long, salt: Int): Double = {
      val v = u(0, salt) + k * Golden
      v - math.floor(v)
    }
    private val Cycle = "BTBLBHBTBLBTBLBHBTBL"
    private val HotSlots = Set(0, 6, 12)

    private def box(q: Long, size: Double, salt: Int, fLo: Double, fHi: Double, lod: Int): Box = {
      val f = math.exp(math.log(fLo) + size * (math.log(fHi) - math.log(fLo)))
      val aspect = math.exp(math.log(0.5) + u(q, salt + 1) * math.log(4.0))
      val w = math.min(W, math.sqrt(f * W * H * aspect))
      val h = math.min(H, math.sqrt(f * W * H / aspect))
      val x0 = u(q, salt + 2) * (W - w)
      val y0 = u(q, salt + 3) * (H - h)
      Box(x0.toInt, (x0 + w).toInt, y0.toInt, (y0 + h).toInt, lod)
    }
    val hot: IndexedSeq[Box] =
      (0 until 8).map(h => box(-1000L - h, even(h, 300), 300, 1e-4, 5e-2, -1))

    def query(q: Long): Query = {
      val slot = Math.floorMod(q, Cycle.length.toLong).toInt
      val kind = Cycle(slot)
      // ordinal of this query among the queries of its kind
      val k = Math.floorDiv(q, Cycle.length.toLong) * Cycle.count(_ == kind) +
        Cycle.take(slot).count(_ == kind)
      kind match {
        case 'B' if HotSlots(slot) => hot((u(q, 102) * hot.size).toInt)
        case 'B' => box(q, even(k, 110), 110, 1e-4, 5e-2, -1)
        case 'T' =>
          val perLine = math.max(1L, (n + Survey.Lines - 1) / Survey.Lines)
          val line = (u(q, 120) * Survey.Lines).toInt
          val span = perLine / Survey.PulseRateHz
          val len = span * math.exp(math.log(0.01) + even(k, 121) * math.log(30.0))
          val start = Survey.T0 + line * 600.0 + u(q, 122) * (span - len)
          Time(start, start + len)
        case 'L' => box(q, even(k, 130), 130, 1e-3, 1e-1, leaf - 1)
        case _ => Header
      }
    }
  }

  /** Level a point lands on in a `copc.lod` layout: the published
    * integer hash of its raw coordinates, promoted one level per
    * trailing factor of 8 (at most four), below the leaf. */
  def lodLevel(x: Int, y: Int, z: Int, leaf: Int): Int = {
    val h = (x.toLong * 73856093L) ^ (y.toLong * 19349663L) ^ (z.toLong * 83492791L)
    var k = 0
    var m = 8L
    while (k < 4 && h % m == 0L) { k += 1; m *= 8L }
    math.max(leaf - k, 0)
  }

  /** Expected answers, computed from the source points on the driver. */
  final class Oracle(x: Array[Int], y: Array[Int], z: Array[Int], intensity: Array[Short],
      time: Array[Double], leaf: Int) {
    private val level = Array.tabulate(x.length)(i => lodLevel(x(i), y(i), z(i), leaf))

    private def census(keep: Int => Boolean): Seq[Any] = {
      var c, sx, sy, sz, si = 0L
      var tMin = Double.PositiveInfinity
      var tMax = Double.NegativeInfinity
      var i = 0
      while (i < x.length) {
        if (keep(i)) {
          c += 1; sx += x(i); sy += y(i); sz += z(i); si += intensity(i)
          tMin = math.min(tMin, time(i)); tMax = math.max(tMax, time(i))
        }
        i += 1
      }
      if (c == 0) Seq[Any](0L, null, null, null, null, null, null)
      else Seq[Any](c, sx, sy, sz, si, tMin, tMax)
    }

    def answer(q: Query): Seq[Any] = q match {
      case Box(x0, x1, y0, y1, lod) =>
        census(i => x(i) >= x0 && x(i) <= x1 && y(i) >= y0 && y(i) <= y1 &&
          (lod < 0 || level(i) <= lod))
      case Time(t0, t1) => census(i => time(i) >= t0 && time(i) <= t1)
      case Header =>
        Seq[Any](x.length.toLong, x.min.toLong, x.max.toLong, y.min.toLong, y.max.toLong,
          z.min.toLong, z.max.toLong)
    }
  }
}

/** tx08, dd11 and dd15 (batch) then st08 (streaming) through
  * `SparkEntry.queries`, over the seeded corpus. Answers are checked
  * for repeatability here and against the DuckDB oracle afterwards. */
final class TextCuration(ctx: Ctx, base: Int, replicas: Int) extends Workload(ctx) {
  private val corpus: Path = ctx.work.resolve("corpus")
  val Queries: Seq[String] = Seq("tx08_curation", "dd11_containment", "dd15_span_trim",
    "st08_decontamination_gate")
  private val docs = base.toLong * replicas
  private val first = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Seq[Any]])]
  private var passes = 0

  def setup(): Unit = {
    Files.createDirectories(corpus)
    Corpus.write(spark, seed, base, replicas, corpus)
  }

  private def pass(): Unit = {
    Queries.foreach { q =>
      ctx.op(q) {
        val df = ctx.phase("build")(graft.SparkEntry.queries(q)(spark, corpus.toString))
        ctx.phase("plan")(df.queryExecution.executedPlan)
        (df.columns.toSeq, ctx.phase("execute")(df.collect()).map(Workload.rowValues).toSeq)
      }.foreach { res =>
        first.get(q) match {
          case None => first(q) = res
          case Some(prev) if prev != res => ctx.fail(s"$q answer differs from its first run")
          case _ =>
        }
      }
    }
    if (ctx.timing) passes += 1
  }

  /** One untimed pass: class loading, codegen and the first JIT compiles. */
  def warmup(): Unit = pass()
  override def minSteps: Int = 3
  def step(i: Int): Unit = pass()

  /** Latency of one pass: the sum of each query's median. */
  def p50Ms: Double = Queries.map { q =>
    val ms = ctx.timed(q).map(_.ms)
    if (ms.isEmpty) 0.0 else Stats.median(ms)
  }.sum
  /** Documents through a query per second: docs x queries run / their wall. */
  def itemsPerSecond: Double = {
    val os = ctx.timedOk
    if (os.isEmpty) 0.0 else docs.toDouble * os.size / (os.map(_.ms).sum / 1e3)
  }
  /** Parquet bytes per character of document text in the corpus the
    * queries read. Per character, not per document: the seed sets the
    * documents' lengths. */
  def bytesPerItem: Double = corpusBytes.toDouble / chars
  private lazy val chars = Corpus.docs(seed, base, replicas).map(_.n_chars).sum
  private def corpusBytes: Long = Files.size(corpus.resolve("documents.parquet"))
  def inputs: Map[String, Any] = Map("docs" -> docs, "base_docs" -> base, "replicas" -> replicas,
    "corpus_bytes" -> corpusBytes)

  def details: Map[String, Any] = {
    def med(q: String) = { val m = ctx.timed(q).map(_.ms); if (m.isEmpty) 0.0 else Stats.median(m) }
    val batch = Queries.take(3).map(med).sum
    Map(
      "curation_docs_s" -> (if (batch == 0) 0.0 else docs * 3 / (batch / 1e3)),
      "gate_docs_s" -> (if (med(Queries(3)) == 0) 0.0 else docs / (med(Queries(3)) / 1e3)),
      "median_ms_by_query" -> Queries.map(q => q -> med(q)).toMap,
      "ms_by_query" -> Queries.map(q => q -> ctx.timed(q).map(_.ms)).toMap,
      "passes" -> passes)
  }

  /** The first answer of each query and its oracle SQL, for the DuckDB
    * check that runs after the JVM exits. */
  def oracleInputs: Map[String, Any] = Map(
    "corpus" -> corpus.resolve("documents.parquet").toString,
    "corrupt" -> ctx.corrupt,
    "queries" -> Queries.map { q =>
      q -> Map(
        "sql" -> graft.SparkEntry.oracleSql(q),
        // ops of this query that passed their own checks: the oracle
        // check fails exactly these when the first answer is wrong
        "ops" -> ctx.ops.count(o => o.kind == q && o.ok),
        "columns" -> first.get(q).map(_._1).getOrElse(Nil),
        "rows" -> first.get(q).map(_._2).getOrElse(Nil))
    }.toMap)

  override def probe(): Map[String, Double] = {
    val per = Queries.take(3).flatMap { q =>
      val os = ctx.timed(q).filter(_.counts != null)
      val short = q.takeWhile(_ != '_')
      def mean(f: OpRecord => Double) = if (os.isEmpty) 0.0 else os.map(f).sum / os.size
      Seq(s"ops.$short.wall_ms" -> mean(_.ms), s"ops.$short.jobs" -> mean(_.counts.jobs.toDouble))
    }
    per.toMap
  }
}
