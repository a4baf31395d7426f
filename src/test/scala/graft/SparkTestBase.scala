package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per forked test run). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  // The first session of the JVM comes from LocalSession, which sets
  // spark.sql.extensions (a static conf consumed only when the
  // SparkContext is created) — the production deployment shape. The
  // config-path test asserts a fresh newSession() resolves the injected
  // functions without any registerAll call. Four cores whatever
  // SPARK_GRAFT_CPUS says, so specs see the same partitioning everywhere.
  lazy val session: SparkSession = LocalSession(cores = "4")
}
