package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Seeded document corpus with the table layout the text queries read:
  * one flat `documents.parquet` (doc_id, text, lang, source, n_chars).
  *
  * A base corpus of `base` documents carries the duplication structure
  * the curation queries look for: near-duplicates (a few substituted
  * words), excerpts (contained spans), shared boilerplate paragraphs
  * (duplicated 8-grams) and documents contaminated by a span of a
  * benchmark-slice document (doc_id divisible by 25). The corpus is
  * `replicas` word-tagged copies of it: replica r > 0 prefixes every word
  * with its own seeded tag and offsets doc_id by r * 1e6 (divisible by 25,
  * so the benchmark slice is preserved), so each replica keeps the base's
  * internal duplicates without creating pairs across replicas. The seed
  * picks the words, the tags and the row order. */
object Corpus {
  val Vocab: Array[String] = ("a the data query table row column scan filter " +
    "join agg group order sort hash merge key value part line customer " +
    "window stream batch spark fast slow big small vector index cache page " +
    "block node tree graph edge point cloud").split(' ')
  val Langs: Array[String] = Array("en", "zh", "es", "de", "fr")
  val Boilerplate: Array[Array[String]] = Array.tabulate(3) { b =>
    Array.tabulate(24)(w => Vocab((b * 7 + w * 5 + w * w) % Vocab.length))
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private def u(seed: Long, i: Long, salt: Int): Double = Survey.unit(seed, i, salt)

  private def randomWords(seed: Long, b: Long, salt: Int, len: Int): Array[String] =
    Array.tabulate(len) { w =>
      // skewed word frequencies: squaring the uniform favours low indices
      val v = u(seed, b * 131 + w, salt)
      Vocab((v * v * Vocab.length).toInt)
    }

  /** Base documents, in doc_id order (doc_id = index). */
  def baseDocs(seed: Long, base: Int): Array[(Array[String], String)] = {
    val out = new Array[(Array[String], String)](base)
    var b = 0
    while (b < base) {
      val lu = u(seed, b, 1)
      val lang = if (lu < 0.44) "en" else Langs(1 + ((lu - 0.44) / 0.14).toInt.min(3))
      val kind = u(seed, b, 2)
      val parent = if (b == 0) 0 else (u(seed, b, 3) * b).toInt
      val len = 8 + (u(seed, b, 4) * 83).toInt
      val words: Array[String] =
        if (b > 0 && kind < 0.08) {
          // near-duplicate: one substituted word per ~40
          out(parent)._1.zipWithIndex.map { case (w, i) =>
            if (u(seed, b * 1000 + i, 5) < 0.025) Vocab((u(seed, b * 1000 + i, 6) * Vocab.length).toInt)
            else w
          }
        } else if (b > 0 && kind < 0.14) {
          // excerpt: a contiguous 85% span of an earlier document
          val p = out(parent)._1
          val keep = math.max(8, (p.length * 0.85).toInt).min(p.length)
          val from = (u(seed, b, 7) * (p.length - keep + 1)).toInt
          p.slice(from, from + keep)
        } else if (kind < 0.20) {
          val body = randomWords(seed, b, 8, len)
          val at = (u(seed, b, 9) * (body.length + 1)).toInt
          body.take(at) ++ Boilerplate(b % Boilerplate.length) ++ body.drop(at)
        } else if (kind < 0.26 && b >= 25 && b % 25 != 0) {
          // contaminated: carries a 16-word span of a benchmark-slice doc
          val src = out(((u(seed, b, 10) * (b / 25)).toInt) * 25)._1
          val span = src.take(16)
          val body = randomWords(seed, b, 11, len)
          val at = (u(seed, b, 12) * (body.length + 1)).toInt
          body.take(at) ++ span ++ body.drop(at)
        } else randomWords(seed, b, 13, len)
      out(b) = (words, lang)
      b += 1
    }
    out
  }

  /** Two-letter tags, distinct per replica (replica 0 is untagged). */
  def tags(seed: Long, replicas: Int): Array[String] = {
    val all = for (a <- 'a' to 'z'; c <- 'a' to 'z') yield s"$a$c"
    val order = all.sortBy(t => Survey.hash(seed, t.hashCode.toLong, 20))
    Array.tabulate(replicas)(r => if (r == 0) "" else order(r - 1))
  }

  def docs(seed: Long, base: Int, replicas: Int): Seq[Doc] = {
    require(replicas <= 26 * 26, s"at most ${26 * 26} replicas")
    val bd = baseDocs(seed, base)
    val tg = tags(seed, replicas)
    val all = for (r <- 0 until replicas; b <- 0 until base) yield {
      val (words, lang) = bd(b)
      val text = words.map(tg(r) + _).mkString(" ")
      Doc(r * 1000000L + b, text, lang, s"src${b % 20}", text.length.toLong)
    }
    all.sortBy(d => Survey.hash(seed, d.doc_id, 21))
  }

  /** Writes the corpus as `<dir>/documents.parquet`, a single flat file. */
  def write(spark: SparkSession, seed: Long, base: Int, replicas: Int, dir: Path): Unit = {
    import spark.implicits._
    val tmp = dir.resolve("documents_tmp")
    docs(seed, base, replicas).toDS().coalesce(1).write.mode("overwrite")
      .parquet(tmp.toString)
    val part = {
      val s = Files.list(tmp)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    Files.move(part, dir.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.Fs.deleteRecursively(tmp)
  }
}
