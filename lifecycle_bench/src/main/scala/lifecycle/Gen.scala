package lifecycle

import scala.util.Random

/** Seeded input generators. Everything the program sees is made here
  * from `--seed`, and everything a check compares against is derived
  * from the same generated values, never from program output.
  */
object Gen {

  /** One worksheet: `rows(0)` is the header; data rows follow. Cells
    * may be null, empty or whitespace-only (all three are "empty"). */
  final case class Sheet(fileId: String, sheetId: Long, tabName: String,
                         ord: Int, rows: Array[Array[String]])

  /** A non-empty data cell with the provenance the reference links to. */
  final case class Cell(docId: Long, fileId: String, sheetId: Long,
                        colIdx: Int, dataRow: Int, text: String) {
    def colLetter: String = Gen.colLetters(colIdx)
    /** 1-based sheet row: data-row index + 1 for 1-based numbering +
      * 1 for the header row. */
    def sheetRow: Int = dataRow + 2
    def link: String =
      s"https://docs.google.com/spreadsheets/d/$fileId/edit#gid=$sheetId&range=$colLetter$sheetRow"
  }

  /** Bijective base-26 column letters (0 -> A, 25 -> Z, 26 -> AA). */
  def colLetters(idx: Int): String = {
    var n = idx + 1
    val sb = new StringBuilder
    while (n > 0) {
      val r = (n - 1) % 26
      sb.insert(0, ('A' + r).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  /** Stable document id of a cell: sheet ordinal, data row and column
    * packed in decimal (rows < 1000 and columns < 1000 by construction). */
  def docId(sheetOrd: Int, dataRow: Int, colIdx: Int): Long =
    sheetOrd.toLong * 1000000L + (dataRow + 1).toLong * 1000L + colIdx

  /** A seeded pseudo-word vocabulary with a Zipf-like draw. */
  final class Vocab(seed: Long, size: Int) {
    private val rnd = new Random(seed)
    private val syll = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val words: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size)
        seen += (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.size))).mkString
      seen.toArray
    }
    private val cum: Array[Double] = {
      val w = words.indices.map(i => 1.0 / math.pow(i + 1, 0.85))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
      words(math.min(words.length - 1, if (i >= 0) i else -i - 1))
    }
    def text(r: Random, nWords: Int): String =
      (0 until nWords).map(_ => draw(r)).mkString(" ")
  }

  private val IdChars = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq('-', '_')

  /** A Drive-style 44-character file id. */
  def fileId(r: Random): String = (0 until 44).map(_ => IdChars(r.nextInt(IdChars.size))).mkString

  /** Shape of a generated spreadsheet folder. */
  final case class FolderSpec(files: Int, sheetsPerFile: Int,
                              minRows: Int, maxRows: Int,
                              minCols: Int, maxCols: Int)

  /** A folder of multi-sheet grids. Sheet shapes depend only on the
    * spec (so every seed ingests the same amount); the seed picks ids,
    * words and where each kind of cell sits. Per sheet the mix is exact:
    * 18% empty slots (null, "" and whitespace-only alike), 44% short
    * cells of 1-4 words, 27% sentences of 5-24 words, 5% numbers, 5%
    * dates, and about 1% cells over 1000 characters (at least one per
    * sheet); every tenth row is ragged (half width). Column counts run
    * past `Z` when the spec allows. Sheet ids (gids) are never 0. */
  def folder(seed: Long, spec: FolderSpec, vocab: Vocab): Seq[Sheet] = {
    val r = new Random(seed)
    val n = spec.files * spec.sheetsPerFile
    def spread(lo: Int, hi: Int, i: Int) = lo + (if (n == 1) 0 else (hi - lo) * i / (n - 1))
    (0 until spec.files).flatMap { f =>
      val fid = fileId(r)
      (0 until spec.sheetsPerFile).map { s =>
        val ord = f * spec.sheetsPerFile + s
        val nCols = spread(spec.minCols, spec.maxCols, ord)
        val nRows = spread(spec.maxRows, spec.minRows, ord)
        val widths = (0 until nRows).map(i => if (i % 10 == 9) math.max(1, nCols / 2) else nCols)
        val kinds = r.shuffle(mix(widths.sum).toVector)
        val it = kinds.iterator
        val data = widths.map(w => Array.fill(w)(cellText(r, vocab, it.next()))).toArray
        val header = Array.tabulate(nCols)(c => s"${vocab.draw(r)}_$c")
        Sheet(fid, 1L + r.nextInt(Int.MaxValue - 1), s"Tab ${s + 1}", ord, header +: data)
      }
    }
  }

  /** Exact per-sheet cell-kind counts for `slots` slots (see [[folder]]). */
  private def mix(slots: Int): Seq[Int] = {
    val shares = Seq(0 -> 0.06, 1 -> 0.06, 2 -> 0.06, 4 -> 0.27, 5 -> 0.05, 6 -> 0.05)
    val counts = shares.map { case (k, p) => k -> (slots * p).toInt } :+ (7 -> math.max(1, slots / 100))
    val rest = slots - counts.map(_._2).sum
    (counts :+ (3 -> rest)).flatMap { case (k, c) => Seq.fill(c)(k) }
  }

  /** Whether `text` embeds to a non-zero vector. The hashed-n-gram
    * embedder's signed features can cancel exactly, leaving a zero
    * vector that is not unit norm and has no cosine; such texts are
    * redrawn, so that no operation fails on only some seeds. */
  def embeddable(text: String): Boolean =
    graft.functions.Embed.embed(text, graft.functions.Embed.DefaultDim).exists(_ != 0f)

  private def cellText(r: Random, vocab: Vocab, kind: Int): String = {
    var t = drawCell(r, vocab, kind)
    while (t != null && t.trim.nonEmpty && !embeddable(t)) t = drawCell(r, vocab, kind)
    t
  }

  private def drawCell(r: Random, vocab: Vocab, kind: Int): String = kind match {
    case 0 => null
    case 1 => ""
    case 2 => " " * (1 + r.nextInt(3))
    case 3 => vocab.text(r, 1 + r.nextInt(4))
    case 4 => vocab.text(r, 5 + r.nextInt(20))
    case 5 => f"${r.nextInt(100000)}%d.${r.nextInt(100)}%02d"
    case 6 => f"20${10 + r.nextInt(16)}%d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d ${vocab.draw(r)}"
    case _ => vocab.text(r, 230 + r.nextInt(30)) // about 1700 chars: two chunks
  }

  /** The generator's own list of non-empty data cells, in sheet order. */
  def cells(sheets: Seq[Sheet]): Seq[Cell] =
    sheets.flatMap { sh =>
      sh.rows.iterator.drop(1).zipWithIndex.flatMap { case (row, dataRow) =>
        row.iterator.zipWithIndex.collect {
          case (v, c) if v != null && v.trim.nonEmpty =>
            Cell(docId(sh.ord, dataRow, c), sh.fileId, sh.sheetId, c, dataRow, v)
        }
      }
    }

  /** Queries drawn from the corpus: 2-4 consecutive words of a random
    * multi-word cell, so every query has lexical hits. */
  def queries(seed: Long, corpus: IndexedSeq[Cell], n: Int): IndexedSeq[String] = {
    val r = new Random(seed)
    val multi = corpus.filter(_.text.count(_ == ' ') >= 3)
    IndexedSeq.fill(n) {
      val ws = multi(r.nextInt(multi.size)).text.split(" ")
      val len = 2 + r.nextInt(3)
      val from = r.nextInt(math.max(1, ws.length - len))
      ws.slice(from, from + len).mkString(" ")
    }.filter(embeddable)
  }

  /** A dedup corpus with planted duplicates: `(id, source, text)`.
    * Exact-duplicate clusters (2-4 identical members) and near-duplicate
    * pairs (one edited copy, Jaccard well above the thresholds) are
    * disjoint from each other and from the random background. */
  final case class DedupCorpus(docs: IndexedSeq[(Long, String, String)],
                               exactClusters: Seq[Seq[Long]],
                               nearPairs: Seq[(Long, Long)])

  def dedupCorpus(seed: Long, nBackground: Int, nExact: Int, nNear: Int,
                  sources: Int, vocab: Vocab): DedupCorpus = {
    val r = new Random(seed)
    val srcs = IndexedSeq.fill(sources)(fileId(r))
    val docs = IndexedSeq.newBuilder[(Long, String, String)]
    var next = 0L
    def add(src: String, t: String): Long = { val id = next; docs += ((id, src, t)); next += 1; id }
    def body() = vocab.text(r, 40 + r.nextInt(80))
    (0 until nBackground).foreach(_ => add(srcs(r.nextInt(sources)), body()))
    val exact = (0 until nExact).map { c =>
      val src = srcs(r.nextInt(sources)); val t = body()
      (0 until 2 + c % 3).map(_ => add(src, t))
    }
    val near = (0 until nNear).map { _ =>
      val src = srcs(r.nextInt(sources))
      val ws = body().split(" ")
      // one edit per ~25 words keeps the 3-shingle Jaccard near 0.75
      val edited = ws.zipWithIndex.map { case (w, i) =>
        if (i % 25 == 12) vocab.draw(r) + "x" else w }.mkString(" ")
      (add(src, ws.mkString(" ")), add(src, edited))
    }
    // interleave so duplicates are not adjacent in id order
    val all = docs.result()
    val perm = r.shuffle(all.indices.toVector)
    val remap = perm.zipWithIndex.map { case (old, neu) => old.toLong -> neu.toLong }.toMap
    DedupCorpus(
      perm.map { old => val (_, s, t) = all(old); (remap(old.toLong), s, t) }.sortBy(_._1),
      exact.map(_.map(remap)),
      near.map { case (a, b) => (math.min(remap(a), remap(b)), math.max(remap(a), remap(b))) })
  }
}
