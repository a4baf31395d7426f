package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op the client issued: its kind, wall time from submit to
  * collected result, whether its answer checked out, and (for the
  * traced run) what the listeners counted. */
final class OpRecord(val kind: String, val ms: Double, var ok: Boolean,
    val counts: OpCounts, var timed: Boolean) {
  var error: String = null
}

/** Shared state of one benchmark run. Ops are issued by one closed-loop
  * client: the next op starts only after the previous one returned. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val cores: Int, val corrupt: Boolean = false) {
  var tracer: Tracer = new Tracer(false)
  var listener: Option[LayerListener] = None
  /** Whether ops now count toward the reported timings (warm-up ops are
    * checked but not timed). */
  var timing: Boolean = false
  /** Adds one to the count of an expected answer when [[corrupt]] is set,
    * so a run can show that its answer checks catch a wrong value. */
  def expectation(vals: Seq[Any]): Seq[Any] =
    if (!corrupt) vals else vals.updated(0, vals.head.asInstanceOf[Long] + 1)
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  /** Runs one op. A failure is recorded, never timed. In a traced run
    * the op is a span; its phases are child spans, and the Spark jobs it
    * ran become children of the phase during which they started. */
  def op[A](kind: String)(body: => A): Option[A] = {
    val id = tracer.newId()
    val t0 = System.nanoTime()
    try {
      val (r, counts) = listener match {
        case Some(l) => l.around(id)(tracer.spanWithId(id, kind, "op")(body))
        case None => (body, null)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (counts != null) addJobSpans(id, counts)
      ops += new OpRecord(kind, ms, true, counts, timing)
      Some(r)
    } catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        val rec = new OpRecord(kind, (System.nanoTime() - t0) / 1e6, false, null, timing)
        rec.error = t.getClass.getSimpleName + ": " +
          String.valueOf(t.getMessage).takeWhile(_ != '\n').take(300)
        System.err.println(s"[perfbench] op $kind failed: ${rec.error}")
        ops += rec
        None
    }
  }

  def phase[A](name: String)(body: => A): A = tracer.span(name, "phase")(body)

  /** Marks the most recent op as failed with `why`. */
  def fail(why: String): Unit = {
    val rec = ops.last
    rec.ok = false
    rec.error = why
    System.err.println(s"[perfbench] op ${rec.kind} answer check failed: $why")
  }

  private def addJobSpans(opId: Long, c: OpCounts): Unit = {
    val spans = tracer.all
    val op = spans.find(_.id == opId).get
    val phases = spans.filter(_.parent == opId)
    c.jobWalls.foreach { case (job, s, e) =>
      val sNs = s * 1000000L
      val parent = phases.find(p => p.start <= sNs && sNs <= p.end).map(_.id).getOrElse(opId)
      tracer.add(Span(tracer.newId(), parent, op.trace, s"job $job", "spark_job",
        sNs, math.max(sNs, e * 1000000L)))
    }
  }

  def timed(kind: String): Seq[OpRecord] = ops.filter(o => o.timed && o.ok && o.kind == kind).toSeq
  def timedOk: Seq[OpRecord] = ops.filter(o => o.timed && o.ok).toSeq
}

/** Layer metrics of the traced ops, averaged per op. */
object LayerMetrics {
  /** Wall of the union of the op's job intervals, in ms. */
  def jobUnionMs(c: OpCounts): Double = {
    val iv = c.jobWalls.map { case (_, s, e) => (s, e) }.sortBy(_._1)
    var total = 0L
    var a = Long.MinValue
    var b = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > b) { if (b > a) total += b - a; a = s; b = e }
      else b = math.max(b, e)
    }
    if (b > a) total += b - a
    total.toDouble
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Driver-side and executor-side counts over `ops` (traced, succeeded). */
  def spark(ops: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val cs = ops.map(_.counts)
    def per(f: OpCounts => Double): Double = mean(cs.map(f))
    val skews = cs.flatMap(_.taskMsByStage.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    })
    val wallMs = ops.map(_.ms).sum
    Map(
      "spark.analysis_ms" -> per(_.analysisMs.toDouble),
      "spark.optimizer_ms" -> per(_.optimizerMs.toDouble),
      "spark.planning_ms" -> per(_.planningMs.toDouble),
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.driver_gap_ms" -> mean(ops.map(o => math.max(0.0, o.ms - jobUnionMs(o.counts)))),
      "spark.task_run_ms" -> per(_.taskRunMs.toDouble),
      "spark.task_cpu_ms" -> per(_.taskCpuNs / 1e6),
      "spark.parallel_efficiency" ->
        (if (wallMs <= 0) 0.0 else cs.map(_.taskRunMs).sum / (wallMs * cores)),
      "spark.task_skew" -> mean(skews),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "spark.shuffle_fetch_wait_ms" -> per(_.fetchWaitMs.toDouble),
      "spark.spill_bytes" -> per(_.spill.toDouble))
  }

  /** Micro-batch phases of the streaming ops among `ops`. */
  def streaming(ops: Seq[OpRecord]): Map[String, Double] = {
    val cs = ops.map(_.counts).filter(_.batches > 0)
    def per(f: OpCounts => Double): Double = mean(cs.map(f))
    Map(
      "streaming.batches" -> per(_.batches.toDouble),
      "streaming.add_batch_ms" -> per(_.addBatchMs.toDouble),
      "streaming.planning_ms" -> per(_.streamPlanningMs.toDouble),
      "streaming.wal_commit_ms" -> per(_.walCommitMs.toDouble),
      "streaming.state_commit_ms" -> per(_.stateCommitMs.toDouble),
      "streaming.state_rows" -> per(_.stateRows.toDouble))
  }

  /** Tracing overhead in percent: the sum over op kinds of the traced
    * ops' median latency against the same sum for the untraced ops. */
  def overheadPct(ops: Seq[OpRecord]): Double = {
    val (tr, un) = ops.partition(_.counts != null)
    val kinds = tr.map(_.kind).toSet intersect un.map(_.kind).toSet
    def total(xs: Seq[OpRecord]) =
      kinds.toSeq.map(k => Stats.median(xs.filter(_.kind == k).map(_.ms))).sum
    if (kinds.isEmpty) 0.0 else 100.0 * (total(tr) - total(un)) / total(un)
  }

  /** JVM collector time and peak heap, read from the MXBeans. */
  final class Jvm {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    private def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private val gc0 = gcMs
    heapPools.foreach(_.resetPeakUsage())
    def metrics: Map[String, Double] = Map(
      "jvm.gc_ms" -> (gcMs - gc0).toDouble,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
