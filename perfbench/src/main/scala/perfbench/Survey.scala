package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One LAS point-format-7 record in the raw integer domain the connector
  * exposes (x/y/z in centimetres at scale 0.01, unsigned fields in
  * their signed Spark widths). `returns` becomes the `return` column
  * (return number in the low nibble, number of returns in the high one);
  * Spark encoders reject `return` as a field name. */
case class SurveyPoint(x: Int, y: Int, z: Int, intensity: Short,
    returns: Byte, flags: Byte, classification: Byte, user: Byte,
    angle: Short, source: Short, time: Double,
    red: Short, green: Short, blue: Short)

/** Seeded airborne-survey generator.
  *
  * Points follow a survey's structure rather than uniform noise, so the
  * LAZ predictors see the entropy they see in practice: parallel flight
  * lines along y (alternating heading, 50 m overlap), each swept by a
  * zigzag across-track scan; monotone GPS time; smooth sinusoidal
  * terrain plus centimetre noise; vegetation and building cells with
  * 1-4 returns; two scanner channels interleaved per scan line; and RGB
  * coloured by 50 m region. Every field of point `i` is a pure function
  * of `(seed, i)`, so the output is identical for any partitioning. */
object Survey {
  /** Scale of the raw x/y/z integers (centimetres). */
  val Scale = 0.01
  val Lines = 8
  val LineSpacingM = 250.0
  val SwathM = 300.0
  val LengthM = 2000.0
  val PointsPerScanLine = 400
  val PulseRateHz = 200000.0
  /** Extent of the survey in raw units: [0, XMaxRaw] x [0, YMaxRaw]. */
  val XMaxRaw: Int = (((Lines - 1) * LineSpacingM + SwathM + 1) / Scale).toInt
  val YMaxRaw: Int = (LengthM / Scale).toInt
  val T0 = 300000.0

  /** splitmix64 finalizer: a full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, i: Long, salt: Int): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + salt) ^ i)
  /** Uniform in [0, 1). */
  def unit(seed: Long, i: Long, salt: Int): Double =
    (hash(seed, i, salt) >>> 11) * (1.0 / (1L << 53))
  /** Approximately standard normal (Irwin-Hall of four uniforms). */
  def gauss(seed: Long, i: Long, salt: Int): Double =
    (unit(seed, i, salt) + unit(seed, i, salt + 1) +
      unit(seed, i, salt + 2) + unit(seed, i, salt + 3) - 2.0) * math.sqrt(3.0)

  private def terrain(seed: Long, xm: Double, ym: Double): Double = {
    val p1 = unit(seed, 0, 901) * 2 * math.Pi
    val p2 = unit(seed, 0, 902) * 2 * math.Pi
    val p3 = unit(seed, 0, 903) * 2 * math.Pi
    100.0 + 20.0 * math.sin(2 * math.Pi * xm / 700 + p1) +
      15.0 * math.cos(2 * math.Pi * ym / 900 + p2) +
      5.0 * math.sin(2 * math.Pi * (xm + ym) / 230 + p3)
  }

  /** Land cover of the 100 m cell holding (xm, ym): 0 open ground,
    * 1 vegetation, 2 building. */
  private def cover(seed: Long, xm: Double, ym: Double): Int = {
    val cell = (xm / 100).toLong * 1000 + (ym / 100).toLong
    val u = unit(seed, cell, 911)
    if (u < 0.35) 1 else if (u < 0.45) 2 else 0
  }

  def point(seed: Long, n: Long, i: Long): SurveyPoint = {
    val perLine = math.max(1L, (n + Lines - 1) / Lines)
    val line = (i / perLine).toInt
    val k = i % perLine
    val scanLine = k / PointsPerScanLine
    val j = (k % PointsPerScanLine).toInt
    val scanLines = math.max(1L, (perLine + PointsPerScanLine - 1) / PointsPerScanLine)
    val forward = scanLine % 2 == 0
    val u0 = j.toDouble / (PointsPerScanLine - 1)
    val u = if (forward) u0 else 1.0 - u0
    val along = (scanLine + 0.5) / scanLines * LengthM
    val xm = math.min(math.max(
      SwathM / 2 + line * LineSpacingM + (u - 0.5) * SwathM + 0.05 * gauss(seed, i, 1),
      0.0), XMaxRaw * Scale)
    val ym = math.min(math.max(
      (if (line % 2 == 0) along else LengthM - along) + 0.05 * gauss(seed, i, 5),
      0.0), LengthM)
    val ground = terrain(seed, xm, ym) + 0.03 * gauss(seed, i, 9)
    val cov = cover(seed, xm, ym)
    val nRet = cov match {
      case 1 => 1 + (unit(seed, i / 4, 13) * 4).toInt
      case 2 => 1 + (if (unit(seed, i, 14) < 0.1) 1 else 0)
      case _ => 1
    }
    val ret = 1 + (unit(seed, i, 15) * nRet).toInt
    val (zm, cls) =
      if (ret == nRet && cov != 2) (ground, 2)
      else if (cov == 2) (ground + 8.0 + 0.02 * gauss(seed, i, 17), 6)
      else (ground + 18.0 * (nRet - ret) / nRet + 2.0 * unit(seed, i, 18), 5)
    val intensity = (cls match {
      case 2 => 1800; case 5 => 900; case _ => 2600
    }) + (300 * gauss(seed, i, 21)).toInt
    val channel = (scanLine % 2).toInt
    val edge = if (j == 0 || j == PointsPerScanLine - 1) 1 else 0
    val flags = (channel << 4) | ((if (forward) 1 else 0) << 6) | (edge << 7)
    val angle = ((u - 0.5) * 2 * 30.0 / 0.006).round.toShort
    val regionCell = (xm / 50).toLong * 100 + (ym / 50).toLong
    def tone(salt: Int, base: Int): Short =
      math.min(32767, math.max(0, base + (unit(seed, regionCell, salt) * 8000).toInt +
        (400 * gauss(seed, i, salt + 40)).toInt)).toShort
    val (rb, gb, bb) = cls match {
      case 2 => (14000, 11000, 8000)
      case 5 => (6000, 16000, 5000)
      case _ => (18000, 17000, 17000)
    }
    SurveyPoint(
      x = (xm / Scale).round.toInt,
      y = (ym / Scale).round.toInt,
      z = (zm / Scale).round.toInt,
      intensity = math.min(32767, math.max(0, intensity)).toShort,
      returns = (ret | (nRet << 4)).toByte,
      flags = flags.toByte,
      classification = cls.toByte,
      user = 0,
      angle = angle,
      source = (line + 1).toShort,
      time = T0 + line * 600.0 + k / PulseRateHz,
      red = tone(31, rb), green = tone(32, gb), blue = tone(33, bb))
  }

  /** `n` points as `parts` partitions of contiguous index ranges (one
    * flight-line stretch each), in index order. */
  def frame(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map(i => point(seed, n, i)).toDF()
      .withColumnRenamed("returns", "return")
  }

  /** Writes the survey once to parquet at `dir`. */
  def write(spark: SparkSession, seed: Long, n: Long, parts: Int, dir: String): Unit =
    frame(spark, seed, n, parts).write.mode("overwrite").parquet(dir)
}
