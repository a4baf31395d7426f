package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is the span that caused it (0 for a
  * root), `trace` the root span's id; times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder, written out once at exit. A disabled tracer
  * runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def newId(): Long = ids.getAndIncrement()

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body else spanWithId(newId(), name, layer)(body)

  /** [[span]] with an id the caller drew from [[newId]] beforehand. */
  def spanWithId[A](id: Long, name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val (parent, trace) = stack.get match {
        case (p, t) :: _ => (p, t)
        case Nil => (0L, id)
      }
      stack.set((id, trace) :: stack.get)
      val t0 = Tracer.nowNs()
      try body
      finally {
        val t1 = Tracer.nowNs()
        stack.set(stack.get.tail)
        add(Span(id, parent, trace, name, layer, t0, t1))
      }
    }

  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock. */
  def nowNs(): Long = System.nanoTime() + anchorNs

  /** Self time: the span's duration minus the part of its interval that
    * child spans cover. Overlapping children count once. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    span.durNs - covered
  }

  /** Self time summed per layer over a whole span forest. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  def toJson(spans: Seq[Span]): String = Stats.json(spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)))
}

/** Everything the public Spark listeners report about one op. */
final class OpCounts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  /** (job id, start ms, end ms) */
  val jobWalls = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var batches = 0
  var addBatchMs = 0L
  var streamPlanningMs = 0L
  var walCommitMs = 0L
  var stateCommitMs = 0L
  var stateRows = 0L
}

/** Attaches a SparkListener, a StreamingQueryListener and a
  * QueryExecutionListener, and files what they report under the op that
  * caused it. Jobs are linked to an op through the `perfbench.op` local
  * property the harness sets around the op (inherited by threads the op
  * starts, such as a streaming query's); events without it belong to
  * the op open when they arrive. */
final class LayerListener(spark: SparkSession) extends SparkListener {
  @volatile var currentOp: Long = 0L
  private val byOp = new ConcurrentHashMap[Long, OpCounts]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobOp = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  private def counts(op: Long): OpCounts = byOp.computeIfAbsent(op, _ => new OpCounts)

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(LayerListener.OpProperty)))
      .map(_.toLong).getOrElse(currentOp)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOp.put(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = jobOp.getOrDefault(e.jobId, currentOp)
    val c = counts(op)
    c.synchronized {
      c.jobs += 1
      c.jobWalls += ((e.jobId, jobStart.getOrDefault(e.jobId, e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counts(stageOp.getOrDefault(e.stageInfo.stageId, currentOp))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageOp.getOrDefault(e.stageId, currentOp))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = counts(currentOp)
      val phases = qe.tracker.phases
      def ms(k: String): Long = phases.get(k).map(_.durationMs).getOrElse(0L)
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizerMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val c = counts(currentOp)
      c.synchronized {
        c.batches += 1
        c.addBatchMs += d.getOrElse("addBatch", 0L)
        c.streamPlanningMs += d.getOrElse("queryPlanning", 0L)
        c.walCommitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbenchglue.Glue.drainListeners(spark.sparkContext)

  /** Runs `body` as op `opId`, then waits for its events and returns
    * what they reported. */
  def around[A](opId: Long)(body: => A): (A, OpCounts) = {
    val sc = spark.sparkContext
    currentOp = opId
    sc.setLocalProperty(LayerListener.OpProperty, opId.toString)
    try {
      val r =
        try body
        finally sc.setLocalProperty(LayerListener.OpProperty, null)
      drain()
      (r, Option(byOp.remove(opId)).getOrElse(new OpCounts))
    } finally currentOp = 0L
  }
}

object LayerListener {
  val OpProperty = "perfbench.op"
}
