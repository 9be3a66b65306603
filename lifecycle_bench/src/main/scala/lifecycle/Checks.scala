package lifecycle

import scala.collection.mutable.ArrayBuffer

/** Collects failed output checks; a run with any is not correct. */
final class Verdict {
  val failures = ArrayBuffer.empty[String]
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (failures.size < 50) System.err.println(s"[check] FAILED: $what")
      failures += what
    }
  def expectAll(errors: Seq[String]): Unit = errors.foreach(e => expect(ok = false, e))
  def ok: Boolean = failures.isEmpty
}

/** The benchmark's own computations that program outputs are checked
  * against. Pure functions of generated inputs and of vectors read back
  * from a layout; none of them calls the program. */
object Checks {
  val SimTol = 1e-5

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val d = math.sqrt(dot(a, a) * dot(b, b))
    if (d == 0) 0.0 else dot(a, b) / d
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** Brute-force cosine top-k: (index, sim), best first, ties by id. */
  def bruteTopK(q: Array[Float], vecs: IndexedSeq[Array[Float]], ids: IndexedSeq[String],
                k: Int, keep: Int => Boolean = _ => true): IndexedSeq[(Int, Double)] =
    vecs.indices.iterator.filter(keep).map(i => (i, cosine(q, vecs(i))))
      .toIndexedSeq.sortBy { case (i, s) => (-s, ids(i)) }.take(k)

  /** Exact top-k check: the k similarities reported in rank order equal
    * the brute-force k best, and each hit's reported similarity equals
    * its own brute-force one. Near-ties may order differently, so ids
    * are not compared position by position. */
  def exactTopK(reported: Seq[(String, Double)], truth: String => Double,
                brute: Seq[Double]): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    if (reported.size != brute.size)
      errs += s"exact top-k returned ${reported.size} hits, brute force has ${brute.size}"
    reported.zip(brute).zipWithIndex.foreach { case (((id, s), b), i) =>
      if (math.abs(s - b) > SimTol) errs += f"exact rank ${i + 1}: sim $s%.7f, brute force $b%.7f"
      if (math.abs(s - truth(id)) > SimTol) errs += f"exact hit $id: sim $s%.7f, true ${truth(id)}%.7f"
    }
    errs.toSeq
  }

  /** Approximate hits carry their true similarity, in non-increasing order. */
  def approxHits(family: String, reported: Seq[(String, Double)],
                 truth: String => Double): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    reported.foreach { case (id, s) =>
      if (math.abs(s - truth(id)) > SimTol) errs += f"$family hit $id: sim $s%.7f, true ${truth(id)}%.7f"
    }
    reported.sliding(2).foreach {
      case Seq((a, sa), (b, sb)) if sb > sa + SimTol => errs += s"$family hits $a, $b out of order"
      case _ =>
    }
    errs.toSeq
  }

  def recall(found: Seq[String], truth: Seq[String]): Double =
    if (truth.isEmpty) 1.0 else found.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /** Raw-analyzer terms: the text split on single spaces. */
  def terms(text: String): Set[String] = text.split(" ").iterator.filter(_.nonEmpty).toSet

  /** Word 3-shingles of lowercase space-separated text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val ts = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    if (ts.length < n) Set(ts.mkString(" ")) else ts.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** A reported 4-decimal Jaccard agrees with the recomputed one. */
  def jaccardMatches(reported: Double, mine: Double): Boolean =
    math.abs(reported - mine) <= 0.5e-4 + 1e-9

  /** Grid chunk check against the generator's cells: the set of links
    * equals the set the benchmark formats itself, a cell of at most
    * 1000 characters yields exactly one chunk equal to its text, and no
    * chunk is longer than 1000 characters. `chunks` is (link, chunk). */
  def gridChunks(cells: Seq[Gen.Cell], chunks: Seq[(String, String)]): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val byLink = chunks.groupBy(_._1)
    val expected = cells.map(c => c.link -> c).toMap
    val extra = byLink.keySet -- expected.keySet
    val missing = expected.keySet -- byLink.keySet
    if (extra.nonEmpty) errs += s"${extra.size} chunk links match no cell, e.g. ${extra.head}"
    if (missing.nonEmpty) errs += s"${missing.size} cells have no chunk, e.g. ${missing.head}"
    chunks.foreach { case (l, ch) =>
      if (ch.length > 1000) errs += s"chunk of ${ch.length} chars at $l"
    }
    expected.foreach { case (l, c) =>
      if (c.text.length <= 1000) byLink.get(l).foreach { got =>
        if (got.size != 1 || got.head._2 != c.text)
          errs += s"cell $l of ${c.text.length} chars yielded ${got.size} chunks, not itself"
      }
    }
    errs.toSeq
  }

  /** Linear-interpolated quantile of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
