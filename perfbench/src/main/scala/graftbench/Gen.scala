package graftbench

import scala.util.Random

/** Seeded inputs. Everything the program receives — corpus, embeddings,
  * query texts, append slices, snapshot subsets — is derived here from the
  * run's seed, so one seed always gives one set of inputs.
  *
  * The corpus has the shape of the sf0.1 `documents` table: 5000 docs of
  * 10–100 words drawn uniformly from a 30-word vocabulary, five language
  * labels, 20 round-robin sources, and ~5% near-duplicates (a copy of an
  * earlier doc with " dup" appended, or a verbatim copy).
  */
object Gen {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private val Langs = IndexedSeq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  case class Doc(docId: Long, text: String, lang: String, source: String)

  def rng(seed: Long, stream: Long): Random = new Random(seed * 1000003L + stream)

  private def lang(r: Random): String = {
    var x = r.nextInt(100)
    Langs.find { case (_, w) => x -= w; x < 0 }.get._1
  }

  private def words(r: Random, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  /** `n` documents with ids `firstId until firstId + n`. */
  def corpus(seed: Long, n: Int, firstId: Long = 0L, stream: Long = 1L): IndexedSeq[Doc] = {
    val r = rng(seed, stream)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (i <- 0 until n) {
      val id = firstId + i
      val u = r.nextDouble()
      val text =
        if (out.size > 20 && u < 0.05) out(r.nextInt(out.size)).text + " dup"
        else if (out.size > 20 && u < 0.052) out(r.nextInt(out.size)).text
        else words(r, 10 + r.nextInt(91))
      out += Doc(id, text, lang(r), s"src${id % 20}")
    }
    out.toIndexedSeq
  }

  /** 2000 unit vectors of dim 64 around 10 label centres (the sf0.1
    * `embeddings` table's shape).
    */
  def embeddings(seed: Long, n: Int = 2000, dim: Int = 64): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = rng(seed, 2L)
    val centres = Array.fill(10)(unit(Array.fill(dim)(r.nextGaussian())))
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = unit(centres(label).map(_ + 0.35 * r.nextGaussian()))
      (i.toLong, v.map(_.toFloat), label)
    }
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** A query text of `n` distinct vocabulary words. */
  def queryText(r: Random, n: Int): String =
    r.shuffle(Vocab).take(n).mkString(" ")
}
