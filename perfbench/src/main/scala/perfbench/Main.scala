package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload; writes its result as JSON.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file> [--scale <f>] [--corrupt 1]
  * }}}
  *
  * Set-up (input generation plus layout build) runs the workload's
  * number of times and is reported as its median. After an untimed
  * warm-up, one closed-loop client issues ops for `--seconds` (and at
  * least the workload's minimum number of steps) on `local[N]`, N = the machine's cores. With
  * `--trace 1` the loop runs twice as long and every other step is
  * traced: spans and Spark listeners, then direct module probes, give
  * the per-layer metrics, and the traced against the untraced steps give
  * the tracing overhead.
  * `--corrupt 1` perturbs every expected answer, so every op must fail
  * its check. */
object Main {
  val MaxLoopS = 100.0

  /** Fixed pure-CPU work unit (2^27 xorshift64 steps); its time is a
    * box-speed reference that makes drift between runs visible. */
  def calibrateOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 27)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** [[calibrateOnce]] on `n` threads at once: wall of the slowest. */
  def calibrateMt(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until n).map { _ =>
      val t = new Thread(() => { calibrateOnce(); () }); t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val scale = opts.get("scale").map(_.toDouble).getOrElse(1.0)
    val corrupt = opts.get("corrupt").contains("1")
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.hadoop.NoForkLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def since(t: Long): Double = (System.nanoTime() - t) / 1e9
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    try {
      val ctx = new Ctx(spark, seed, work, cores, corrupt)
      val w = Workload(workload, ctx, scale)
      phases("startup") =
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      val calib = calibrateOnce()
      val calibMt = calibrateMt(cores)
      val setupS = (0 until w.setupRuns).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        since(t0)
      }
      phases("setup") = setupS.sum
      var t = System.nanoTime()
      w.warmup()
      phases("warmup") = since(t)

      val listener = new LayerListener(spark)
      val tracer = new Tracer(true)
      val untraced = ctx.tracer
      /** The closed loop: steps until `secs` have passed and the
        * workload's minimum step count is reached, but never past
        * [[MaxLoopS]] (a run must end within its deadline). Steps for which
        * `traced(i)` holds run with the listeners attached and spans on. */
      def loop(secs: Double, traced: Int => Boolean): Unit = {
        ctx.timing = true
        val start = System.nanoTime()
        var i = 0
        while ((since(start) < secs || i < w.minSteps) && since(start) < MaxLoopS) {
          val on = traced(i)
          if (on) {
            listener.attach()
            ctx.listener = Some(listener)
            ctx.tracer = tracer
          }
          try w.step(i)
          finally if (on) {
            ctx.listener = None
            ctx.tracer = untraced
            listener.detach()
          }
          i += 1
        }
        ctx.timing = false
      }

      val jvm = new LayerMetrics.Jvm
      t = System.nanoTime()
      // A traced run alternates untraced and traced steps, so warm-up and
      // box drift hit both halves alike; the difference of their medians
      // is the tracing overhead. The parity flips every 20 steps so that
      // each slot of the window-query cycle is traced in every other cycle.
      if (trace) tracer.span(workload, "workload")(loop(2 * seconds, i => (i + i / 20) % 2 == 1))
      else loop(seconds, _ => false)
      phases("loop") = since(t)
      val jvmMetrics = jvm.metrics
      // checks first: an op that fails them contributes no time
      t = System.nanoTime()
      w.verify()
      phases("verify") = since(t)

      val perLayer: Map[String, Double] =
        if (!trace) Map.empty
        else {
          ctx.tracer = tracer
          val probes = w.probe()
          ctx.tracer = untraced
          val spans = tracer.all
          Files.writeString(work.resolve("trace.json"), Tracer.toJson(spans))
          val self = Tracer.selfByLayer(spans)
          val tracedOps = ctx.timedOk.filter(_.counts != null)
          val nOps = math.max(1, tracedOps.size).toDouble
          LayerMetrics.spark(tracedOps, cores) ++ LayerMetrics.streaming(tracedOps) ++
            jvmMetrics ++ probes ++ Map(
              "trace.overhead_pct" -> LayerMetrics.overheadPct(ctx.timedOk),
              "trace.op_self_ms" -> self.getOrElse("op", 0L) / 1e6 / nOps,
              "trace.phase_self_ms" -> self.getOrElse("phase", 0L) / 1e6 / nOps,
              "trace.job_self_ms" -> self.getOrElse("spark_job", 0L) / 1e6 / nOps)
        }
      val endToEnd: Map[String, Double] = if (trace) Map.empty else Map(
        "setup_s" -> Stats.median(setupS),
        "op_p50_ms" -> w.p50Ms,
        "items_per_s" -> w.itemsPerSecond,
        "bytes_per_item" -> w.bytesPerItem)
      val details: Map[String, Any] = if (trace) Map.empty else w.details
      val failed = ctx.ops.filterNot(_.ok)
      val result = Map(
        "workload" -> workload,
        "seed" -> seed,
        "trace" -> (if (trace) 1 else 0),
        "attempted" -> ctx.ops.size,
        "failed" -> failed.size,
        "errors" -> failed.take(5).map(o => s"${o.kind}: ${o.error}"),
        "end_to_end" -> endToEnd,
        "per_layer" -> perLayer,
        "details" -> details,
        "inputs" -> w.inputs,
        "provenance" -> Map(
          "cores" -> cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
          "spark" -> spark.version,
          "calib_s" -> calib,
          "calib_mt_s" -> calibMt,
          "setup_runs_s" -> setupS,
          "ops_by_kind" -> ctx.ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
          "jvm" -> jvmMetrics,
          "phases_s" -> phases),
        "oracle" -> (w match {
          case t: TextCuration => t.oracleInputs
          case _ => null
        }))
      Files.writeString(out, Stats.json(result))
    } finally {
      org.apache.spark.sql.graftglue.Bridge.stopStateStores()
      spark.stop()
    }
  }
}
