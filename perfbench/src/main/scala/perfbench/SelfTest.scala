package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Harness self-tests: percentiles and their sample counts, self time
  * under overlapping child spans, the window oracle, and generator
  * determinism. Exits non-zero on the first failed check.
  * {{{ SelfTest <scratch dir> }}} */
object SelfTest {
  private var checks = 0
  private def check(cond: Boolean, what: => String): Unit = {
    if (!cond) throw new AssertionError(s"self-test failed: $what")
    checks += 1
  }

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args(0))

    // percentile and its sample count
    val xs = (1 to 200).map(_.toDouble)
    check(Stats.percentile(xs, 0.95) == 190.0, "p95 of 1..200 is 190")
    check(Stats.samplesBeyond(200, 0.95) == 10, "200 samples leave 10 beyond p95")
    check(Stats.samplesBeyond(100, 0.95) == 5, "100 samples leave 5 beyond p95")
    check(Stats.percentile(Seq(5.0), 0.95) == 5.0, "p95 of one sample")
    check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of an even count")
    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of an odd count")

    // self time with overlapping children (and one sticking out)
    val parent = Span(1, 0, 1, "op", "op", 0, 100)
    val kids = Seq(Span(2, 1, 1, "a", "phase", 10, 30), Span(3, 1, 1, "b", "phase", 20, 50),
      Span(4, 1, 1, "c", "phase", 90, 120))
    check(Tracer.selfNs(parent, kids) == 50, "self time counts overlapping children once")
    check(Tracer.selfNs(parent, Nil) == 100, "self time without children")
    val byLayer = Tracer.selfByLayer(parent +: kids)
    check(byLayer("op") == 50 && byLayer("phase") == 20 + 30 + 30, s"self by layer $byLayer")

    // the window oracle, and a corrupted expectation failing it
    val oracle = new CopcWindow.Oracle(Array(0, 10, 20), Array(0, 10, 5), Array(0, 0, 0),
      Array[Short](1, 2, 3), Array(5.0, 6.0, 7.0), 4)
    val box = CopcWindow.Box(0, 10, 0, 10, -1)
    check(oracle.answer(box) == Seq[Any](2L, 10L, 10L, 0L, 3L, 5.0, 6.0), s"box census ${oracle.answer(box)}")
    check(oracle.answer(CopcWindow.Time(6.5, 7.0)) == Seq[Any](1L, 20L, 5L, 0L, 3L, 7.0, 7.0), "time census")
    check(oracle.answer(CopcWindow.Box(100, 200, 0, 1, -1)).head == 0L, "empty box")
    check(oracle.answer(CopcWindow.Header) == Seq[Any](3L, 0L, 20L, 0L, 10L, 0L, 0L), "header census")
    val spark0: SparkSession = null
    val corrupted = new Ctx(spark0, 1, scratch, 1, corrupt = true).expectation(oracle.answer(box))
    check(corrupted != oracle.answer(box), "a corrupted expectation differs")
    check(CopcWindow.lodLevel(0, 0, 0, 4) == 0, "hash 0 promotes four levels")
    check(CopcWindow.lodLevel(1, 0, 0, 4) == 4, "odd hash stays at the leaf")

    // generator determinism: same seed same points, other seed differs
    check(Survey.point(3, 1000, 17) == Survey.point(3, 1000, 17), "survey point is pure")
    check(Survey.point(3, 1000, 17) != Survey.point(4, 1000, 17), "survey seed matters")
    check(Corpus.docs(3, 50, 2) == Corpus.docs(3, 50, 2), "corpus is pure")
    check(Corpus.docs(3, 50, 2) != Corpus.docs(4, 50, 2), "corpus seed matters")
    val gen = new CopcWindow.Generator(3, 1000, 4)
    check((0 until 50).map(gen.query(_)) == (0 until 50).map(new CopcWindow.Generator(3, 1000, 4).query(_)),
      "query stream is pure")
    val times = Array.tabulate(4000)(i => Survey.point(3, 4000, i).time)
    check(times.sliding(2).forall(p => p(0) < p(1)), "gpstime is monotone")

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      def files(dir: Path): Seq[Array[Byte]] = Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString.take(10))
        .map(Files.readAllBytes(_))
      Survey.write(spark, 3, 20000, 2, scratch.resolve("a").toString)
      Survey.write(spark, 3, 20000, 2, scratch.resolve("b").toString)
      Survey.write(spark, 4, 20000, 2, scratch.resolve("c").toString)
      val (a, b, c) = (files(scratch.resolve("a")), files(scratch.resolve("b")), files(scratch.resolve("c")))
      check(a.size == 2 && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) },
        "the same seed writes identical survey files")
      check(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) },
        "another seed writes different survey files")
      Files.createDirectories(scratch.resolve("d1"))
      Files.createDirectories(scratch.resolve("d2"))
      Corpus.write(spark, 3, 100, 2, scratch.resolve("d1"))
      Corpus.write(spark, 3, 100, 2, scratch.resolve("d2"))
      check(java.util.Arrays.equals(Files.readAllBytes(scratch.resolve("d1/documents.parquet")),
        Files.readAllBytes(scratch.resolve("d2/documents.parquet"))),
        "the same seed writes an identical corpus file")
    } finally spark.stop()
    println(s"Scala self-tests: $checks checks passed")
  }
}
