package graftbench

/** Independent re-implementations the benchmark checks the program's
  * answers against. None of them calls into graft.
  */
object Reference {
  val K1 = 1.5
  val B = 0.75
  val Epsilon = 0.25

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def tokens(text: String): Array[String] =
    text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** BM25Okapi (k1 = 1.5, b = 0.75, epsilon = 0.25) over
    * `lower().split()` tokens. A document is ranked when it holds at
    * least one query term — the membership rule the library documents
    * (with a small vocabulary every idf, and so the epsilon floor, is
    * negative, so scores can be below 0).
    */
  final class Bm25(docs: Seq[(Long, String)]) {
    private val toks = docs.map { case (id, t) => id -> tokens(t) }.filter(_._2.nonEmpty)
    private val n = toks.size.toDouble
    private val avgdl = toks.map(_._2.length).sum.toDouble / n
    private val tf: Seq[(Long, Map[String, Int], Int)] =
      toks.map { case (id, ts) => (id, ts.groupBy(identity).map { case (k, v) => k -> v.length }, ts.length) }
    private val idf: Map[String, Double] = {
      val df = scala.collection.mutable.HashMap.empty[String, Int]
      tf.foreach { case (_, m, _) => m.keys.foreach(t => df(t) = df.getOrElse(t, 0) + 1) }
      val raw = df.map { case (t, d) => t -> math.log((n - d + 0.5) / (d + 0.5)) }.toMap
      val avg = raw.values.sum / raw.size
      raw.map { case (t, v) => t -> (if (v < 0) Epsilon * avg else v) }
    }

    /** Top-`k` (doc_id, 6dp score) ordered by score desc, doc_id asc. */
    def top(query: String, k: Int): Seq[(Long, Double)] = {
      val q = tokens(query).toSeq.filter(idf.contains)
      tf.flatMap { case (id, m, dl) =>
        val parts = q.flatMap { t =>
          m.get(t).map { f =>
            idf(t) * (f * (K1 + 1)) / (f + K1 * (1 - B + B * dl / avgdl))
          }
        }
        if (parts.isEmpty) None else Some(id -> round6(parts.sum))
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    }
  }

  /** Exact cosine top-`k` of `queryId`'s vector over every other vector,
    * ranked on the 6dp-rounded score with id ascending on ties.
    */
  def cosineTop(vecs: IndexedSeq[(Long, Array[Float])], queryId: Long, k: Int): Seq[(Long, Double)] = {
    val q = vecs.find(_._1 == queryId).get._2
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    vecs.iterator.filter(_._1 != queryId).map { case (id, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      id -> round6(dot(q, v) / (qn * n))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Reciprocal-rank fusion `sum 1/(60 + rank)` of two ranked id lists. */
  def rrf(a: Seq[Long], b: Seq[Long], out: Int): Seq[(Long, Double)] =
    (a.zipWithIndex ++ b.zipWithIndex)
      .groupBy(_._1)
      .map { case (id, xs) => id -> xs.map(x => 1.0 / (60.0 + x._2 + 1)).sum }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(out)
      .map { case (id, s) => id -> round6(s) }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** A stored vector of an index artifact and its IVF cell. */
  final case class Stored(id: String, vec: Array[Float], cell: Int)

  /** Exact inner-product top-`k` ids over `vecs` (score desc, id asc). */
  def ipTop(vecs: IndexedSeq[Stored], q: Array[Float], k: Int): Seq[String] =
    vecs.iterator.map(v => v.id -> round6(dot(q, v.vec)))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  /** IVF probing by its definition: the `nprobe` centroids nearest the
    * query in squared L2, then every vector of those cells ranked by its
    * 6dp inner product with the query (score desc, id asc).
    */
  def ivfRanked(vecs: IndexedSeq[Stored], cents: Array[Array[Double]], q: Array[Float],
                nprobe: Int): Seq[(String, Double)] = {
    val cells = cents.indices.sortBy { c =>
      cents(c).indices.map { d => val x = q(d) - cents(c)(d); x * x }.sum
    }.take(nprobe).toSet
    vecs.iterator.filter(v => cells(v.cell)).map(v => v.id -> round6(dot(q, v.vec)))
      .toSeq.sortBy { case (id, s) => (-s, id) }
  }

  /** Chunk count of the fixed chunker (size 100, overlap 20) for a text
    * of `n` characters, from the window formula alone.
    */
  def chunkCount(n: Int, size: Int = 100, overlap: Int = 20): Int =
    if (n == 0) 0
    else if (n <= size) 1
    else 1 + (n - size + (size - overlap) - 1) / (size - overlap)

  /** The fixed chunker's windows, by the same formula. */
  def chunks(text: String, size: Int = 100, overlap: Int = 20): Seq[String] =
    (0 until chunkCount(text.length, size, overlap)).map { j =>
      val s = j * (size - overlap)
      text.substring(s, math.min(text.length, s + size))
    }

  /** Two ranked (id, score) lists agree: scores equal rank by rank within
    * `tol`, and ids equal except inside runs of tied scores, which may
    * reach past the end of `want` into `pool` (the ranking `want` was cut
    * from).
    */
  def sameRanking[I](got: Seq[(I, Double)], want: Seq[(I, Double)], tol: Double = 2e-6,
                     pool: Seq[(I, Double)] = Nil): Option[String] = {
    if (got.length != want.length) return Some(s"length ${got.length} != ${want.length}")
    val tied = if (pool.isEmpty) want else pool
    got.zip(want).zipWithIndex.collectFirst {
      case (((gi, gs), (wi, ws)), r) if math.abs(gs - ws) > tol =>
        s"rank ${r + 1}: score $gs != $ws"
      case (((gi, gs), (wi, _)), r) if gi != wi &&
          !tied.exists { case (i, s) => i == gi && math.abs(s - gs) <= tol } =>
        s"rank ${r + 1}: id $gi != $wi"
    }
  }
}
