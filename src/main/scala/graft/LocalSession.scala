package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a local graft session. Every main (Bench,
  * Verify, Explain, ProfStream) and the test suite build theirs here, so
  * the program Bench times is the program Verify checks: UTC session
  * time, the graft SQL functions injected through `spark.sql.extensions`
  * (a static conf, consumed only when the SparkContext is created), no
  * UI, and the fork-free local filesystem (chmod/readlink shell-outs
  * dominate the micro-batch and task-commit floor without the native
  * lib). Idempotent: while a session exists it is returned as is, never
  * rebuilt or reconfigured. */
object LocalSession {

  /** Core count from `SPARK_GRAFT_CPUS` (default 4). */
  def envCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def apply(cores: String = envCores): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", classOf[GraftExtensions].getName)
        .config("spark.ui.enabled", "false")
        .config("spark.hadoop.fs.file.impl",
          classOf[graft.hadoop.NoForkLocalFileSystem].getName)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
          classOf[graft.hadoop.NoForkLocalFs].getName)
        .getOrCreate())

  /** Stop the state-store subsystem, then the session. The maintenance
    * tick of a still-running state store otherwise races the shutdown
    * and stack-traces onto stderr after a main's last output line,
    * pushing it out of a bounded log tail. Guarded, so a teardown
    * failure never eats that line. */
  def stop(spark: SparkSession): Unit = {
    try org.apache.spark.sql.graftglue.Bridge.stopStateStores()
    catch { case _: Throwable => }
    try spark.stop()
    catch { case _: Throwable => }
  }
}
