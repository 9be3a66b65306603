package lifecycle

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Embed
import graft.operators.{Corpus, Dedup, GridIngest, Hybrid}
import graft.sources.{IndexStore, LexicalStore}

/** Input sizes of every workload. `full` is the measured size; `smoke`
  * runs every workload and every check in seconds. */
final case class Size(
    vocab: Int,
    batchFolder: Gen.FolderSpec,
    searchFolder: Gen.FolderSpec,
    queriesPerRound: Int,
    whereQueriesPerRound: Int,
    churnUpserts: Int,
    churnInserts: Int,
    churnDeletes: Int,
    dedupBackground: Int,
    dedupExact: Int,
    dedupNear: Int,
    dedupSources: Int,
    recallQueries: Int,
    ivfRecallFloor: Double,
    hnswRecallFloor: Double)

object Size {
  val full = Size(
    vocab = 3000,
    batchFolder = Gen.FolderSpec(files = 2, sheetsPerFile = 2, minRows = 20, maxRows = 30, minCols = 6, maxCols = 28),
    searchFolder = Gen.FolderSpec(files = 2, sheetsPerFile = 2, minRows = 25, maxRows = 40, minCols = 6, maxCols = 28),
    queriesPerRound = 3, whereQueriesPerRound = 1,
    churnUpserts = 8, churnInserts = 2, churnDeletes = 4,
    dedupBackground = 500, dedupExact = 24, dedupNear = 24, dedupSources = 3,
    recallQueries = 16, ivfRecallFloor = 0.3, hnswRecallFloor = 0.6)

  val smoke = Size(
    vocab = 400,
    batchFolder = Gen.FolderSpec(files = 1, sheetsPerFile = 2, minRows = 8, maxRows = 12, minCols = 24, maxCols = 30),
    searchFolder = Gen.FolderSpec(files = 2, sheetsPerFile = 1, minRows = 10, maxRows = 14, minCols = 6, maxCols = 28),
    queriesPerRound = 2, whereQueriesPerRound = 1,
    churnUpserts = 3, churnInserts = 1, churnDeletes = 2,
    dedupBackground = 60, dedupExact = 4, dedupNear = 4, dedupSources = 2,
    recallQueries = 4, ivfRecallFloor = 0.3, hnswRecallFloor = 0.6)
}

/** What a workload run shares: the session, the tracer, the checks and
  * the operation counts. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val size: Size,
                val seed: Long, val dir: Path, val verdict: Verdict) {
  var attempted = 0L
  var failed = 0L

  /** Measured samples by name, for the end-to-end and per-layer metrics. */
  private val samples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def median(name: String): Double = Checks.median(get(name))
  def total(name: String): Double = get(name).sum

  /** Forget a warm-up round: its timings and its operation counts.
    * Recall samples stay (accuracy does not depend on warmth). */
  def endWarmUp(): Unit = {
    samples.keys.filterNot(_.startsWith("recall")).foreach(samples.remove)
    attempted = 0; failed = 0
  }

  /** Run a layer call inside its span and return it with its wall time
    * in ms (measured inside the span, so trace drains are excluded). */
  def timed[T](name: String)(f: => T): (T, Double) =
    tracer.call(name) {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }

  /** One counted operation: a failure is an exception from the program. */
  def operation[T](name: String)(f: => T): T = {
    attempted += 1
    try tracer.op(s"op:$name")(f)
    catch {
      case e: Exception =>
        failed += 1
        verdict.expect(ok = false, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    }
  }

  def path(name: String): String = dir.resolve(name).toString

  def fresh(name: String): String = {
    val p = dir.resolve(name)
    Bench.deleteTree(p)
    p.toString
  }
}

/** A workload: inputs are generated in the constructor (excluded from
  * set-up time), `setup` prepares what its rounds need, and a round is a
  * fixed set of operations, so failed/attempted is the same share in
  * every run. */
trait Workload {
  def name: String
  def setup(): Unit
  def round(): Unit
  /** End-to-end metrics from the rounds run so far. */
  def endToEnd: Map[String, Double]
  /** Workload-specific per-layer metrics (besides the per-verb ones). */
  def layerExtras: Map[String, Double] = Map.empty
  /** Verbs whose per-layer numbers this workload owns (from its measured
    * rounds, or from its set-up for verbs only set-up calls). */
  def verbs: Seq[String]
  /** Whether set-up ends with one unmeasured round. */
  def warmUpRound: Boolean = true
}

object Workload {
  val dim: Int = Embed.DefaultDim

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch" => new BatchWorkload(ctx)
    case "search" => new SearchWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("batch", "search")

  /** Docs frame (doc_id, text, source) of generated cells. */
  def docsFrame(spark: SparkSession, cells: Seq[Gen.Cell]): DataFrame = {
    import spark.implicits._
    cells.map(c => (c.docId, c.text, c.fileId)).toDF("doc_id", "text", "source")
  }

  /** Grid frame in GridIngest's input shape. */
  def gridFrame(spark: SparkSession, sheets: Seq[Gen.Sheet]): DataFrame = {
    import spark.implicits._
    sheets.map(s => (s.fileId, s.sheetId, s.tabName, s.rows.map(_.toSeq).toSeq))
      .toDF("file_id", "sheet_id", "tab_name", "rows")
  }

  def floats(r: Row, i: Int): Array[Float] = r.getSeq[Float](i).toArray

  /** Files and bytes under a directory. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
}

// ---------------------------------------------------------------------

/** The write side of the lifecycle, one cycle per round: bulk ingest of
  * a generated folder (grid -> cells -> chunks -> the IVF and the
  * chunk-level lexical layout; no read path runs), then the incremental
  * re-index path on the fresh layouts (upserts and deletes of changed
  * cells, each followed by an unwarmed read), then LLM-data preparation
  * over a corpus with planted duplicates. The benchmark keeps its own
  * ledger of live documents and dead chunk ids. */
final class BatchWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val name = "batch"
  val verbs = Seq("GridIngest.cells", "GridIngest.chunks",
    "IndexStore.buildIvf", "LexicalStore.build",
    "IndexStore.upsertIvf", "IndexStore.deleteIdsIvf", "IndexStore.count",
    "LexicalStore.upsertLexical", "LexicalStore.deleteLexical",
    "Dedup.minhashPairs", "Dedup.ngramJaccardPairs", "Corpus.prepare")
  private val dedup = new DedupPass(ctx)

  private val vocab = new Gen.Vocab(seed * 7 + 1, size.vocab)
  private val sheets = Gen.folder(seed * 7 + 2, size.batchFolder, vocab)
  private val cells = Gen.cells(sheets)
  private val rnd = new Random(seed * 7 + 3)
  private var grid: DataFrame = _
  private var sheetOrd: DataFrame = _
  private var rounds = 0

  /** Ledger of one round: live doc -> (source, text, number of chunks). */
  private val live = scala.collection.mutable.LinkedHashMap.empty[Long, (String, String, Int)]
  private val dead = scala.collection.mutable.HashSet.empty[String]

  def setup(): Unit = {
    import spark.implicits._
    grid = Workload.gridFrame(spark, sheets)
    sheetOrd = sheets.map(s => (s.sheetId, s.ord)).toDF("sheet_id", "sheet_ord")
    dedup.setup()
  }

  def round(): Unit = {
    val d = fresh(s"round_$rounds")
    rounds += 1
    val (ivf, lex) = (s"$d/ivf", s"$d/lex")
    val t0 = System.nanoTime()
    val cellsDf = operation("batch.cells") {
      timed("GridIngest.cells")(GridIngest.cells(grid).localCheckpoint())._1 }
    val chunksDf = operation("batch.chunks") {
      timed("GridIngest.chunks")(GridIngest.chunks(cellsDf).localCheckpoint())._1 }
    val docs = cellsDf.join(broadcast(sheetOrd), "sheet_id")
      .select((col("sheet_ord").cast("long") * 1000000L + col("row_pos") * 1000L +
        col("col_idx")).as("doc_id"), col("value").as("text"), col("file_id").as("source"))
    operation("batch.buildIvf") { timed("IndexStore.buildIvf")(IndexStore.buildIvf(spark, docs, ivf)) }
    operation("batch.lexical") {
      val chunkDocs = spark.read.parquet(ivf).select(col("chunk_id").as("doc_id"), col("chunk").as("text"))
      timed("LexicalStore.build")(LexicalStore.build(spark, chunkDocs, lex))
    }
    val bulkMs = (System.nanoTime() - t0) / 1e6
    val n = bulkChecks(cellsDf, chunksDf, Seq(ivf))
    val (f, b) = Workload.du(java.nio.file.Paths.get(d))
    sample("bulk_files", f.toDouble)
    sample("bulk_bytes", b.toDouble)
    cellsDf.unpersist(); chunksDf.unpersist()

    // the ledger starts from the chunks each document got
    val perDoc = spark.read.parquet(ivf).groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    live.clear(); dead.clear()
    cells.foreach(c => live(c.docId) = (c.fileId, c.text, perDoc(c.docId)))
    val t1 = System.nanoTime()
    val changes = churn(ivf, lex)
    val churnMs = (System.nanoTime() - t1) / 1e6
    val dedupMs = dedup.pass()

    sample("round_ms", bulkMs + churnMs + dedupMs)
    sample("bulk_ms", bulkMs)
    sample("chunks", n)
    sample("changes", changes)
    sample("churn_files", Workload.du(java.nio.file.Paths.get(d))._1.toDouble)
    Bench.deleteTree(java.nio.file.Paths.get(d))
  }

  /** Output checks of the bulk part; returns the collection's chunk count. */
  private def bulkChecks(cellsDf: DataFrame, chunksDf: DataFrame, layouts: Seq[String]): Long =
    operation("batch.count") {
      val counts = layouts.map(p => timed("IndexStore.count")(IndexStore.count(spark, p))._1)
      val chunkRowsGot = chunksDf.select("link", "chunk", "embedding").collect()
      verdict.expect(counts.forall(_ == chunkRowsGot.length),
        s"layout counts $counts differ from ${chunkRowsGot.length} grid chunks")
      val cellRowsGot = cellsDf.select("sheet_id", "row_pos", "col_idx", "value").collect()
      verdict.expect(cellRowsGot.length == cells.size,
        s"GridIngest.cells gave ${cellRowsGot.length} cells, the generator has ${cells.size} non-empty")
      val byKey = cells.map(c => (c.sheetId, c.dataRow + 1, c.colIdx) -> c.text).toMap
      val wrong = cellRowsGot.count(r =>
        !byKey.get((r.getLong(0), r.getInt(1), r.getInt(2))).contains(r.getString(3)))
      verdict.expect(wrong == 0, s"$wrong cells differ from the generated grid")
      verdict.expectAll(Checks.gridChunks(cells,
        chunkRowsGot.map(r => (r.getString(0), r.getString(1))).toSeq).take(5))
      val badNorm = chunkRowsGot.count { r =>
        val v = Workload.floats(r, 2)
        v.length != Workload.dim || math.abs(Checks.norm(v) - 1.0) > 1e-4
      }
      verdict.expect(badNorm == 0, s"$badNorm embeddings are not unit norm at dim ${Workload.dim}")
      sample("cells_rows", cellRowsGot.length)
      sample("chunks_rows", chunkRowsGot.length)
      counts.head
    }

  private def chunkIds(doc: Long): Seq[String] = {
    val (src, _, n) = live(doc)
    (0 until n).map(p => s"${src}_${doc}_$p")
  }

  private def write(op: String, verb: String)(f: => Unit): Unit =
    operation(s"batch.$op") { sample("write_ms", timed(verb)(f)._2) }

  private def read(kind: String, verb: String)(f: => Array[Row]): Array[Row] =
    operation(s"batch.$kind") {
      val (rows, ms) = timed(verb)(f)
      sample("read_ms", ms)
      rows
    }

  private def countCheck(ivf: String): Unit = operation("batch.count") {
    val n = timed("IndexStore.count")(IndexStore.count(spark, ivf))._1
    val want = live.valuesIterator.map(_._3.toLong).sum
    verdict.expect(n == want, s"the IVF layout holds $n chunks, the ledger $want")
  }

  private def noDead(rows: Array[Row], idCol: String, what: String): Unit = {
    val bad = rows.map(_.getAs[String](idCol)).filter(dead.contains)
    verdict.expect(bad.isEmpty, s"$what returned dead chunk ${bad.headOption.getOrElse("")}")
  }

  /** One batch of changed cells through both layouts; returns the
    * number of documents changed. */
  private def churn(ivf: String, lex: String): Int = {
    val r = rounds
    val liveIds = live.keysIterator.toIndexedSeq
    // replace a mix of multi-chunk and random documents, insert new ones
    val multi = rnd.shuffle(liveIds.filter(live(_)._3 > 1)).take(size.churnUpserts / 4)
    val targets = (multi ++ rnd.shuffle(liveIds.filterNot(multi.contains))).take(size.churnUpserts)
    val fresh = (1 to size.churnInserts).map(i => 900000000L + i)
    val upserts = (targets ++ fresh).zipWithIndex.map { case (d, i) =>
      val src = live.get(d).map(_._1).getOrElse(sheets(rnd.nextInt(sheets.size)).fileId)
      // a unique first token makes each revision its own nearest text
      (d, src, Iterator.continually(s"rev${r}x$i " + vocab.text(rnd, 3 + rnd.nextInt(12)))
        .find(Gen.embeddable).get)
    }
    val doomed = rnd.shuffle(liveIds.filterNot(targets.contains)).take(size.churnDeletes)
    import spark.implicits._
    val upDf = upserts.toDF("doc_id", "source", "text")

    write("upsertIvf", "IndexStore.upsertIvf")(IndexStore.upsertIvf(spark, upDf, ivf))
    val replaced = upserts.flatMap { case (d, _, _) => if (live.contains(d)) chunkIds(d).drop(1) else Nil }
    replaced.foreach(dead += _)
    upserts.foreach { case (d, src, t) => live(d) = (src, t, 1) }
    countCheck(ivf)
    val (probeDoc, probeSrc, probeText) = upserts(rnd.nextInt(upserts.size))
    val probeId = s"${probeSrc}_${probeDoc}_0"
    val self = read("read_after_upsert", "IndexStore.searchTopKIvf") {
      val t = System.nanoTime()
      val rows = IndexStore.searchTopKIvf(spark, ivf, probeText, 10, includeDistance = true).collect()
      sample("after_write_ms", (System.nanoTime() - t) / 1e6)
      rows
    }
    val top = self.sortBy(_.getAs[Int]("rank")).headOption.map(_.getAs[String]("chunk_id"))
    verdict.expect(top.contains(probeId), s"upserted $probeId is not its own top-1 (got ${top.getOrElse("nothing")})")
    noDead(self, "chunk_id", "IVF read after upsert")

    val doomedChunks = doomed.flatMap(chunkIds)
    write("deleteIdsIvf", "IndexStore.deleteIdsIvf")(IndexStore.deleteIdsIvf(spark, ivf, doomedChunks))
    doomedChunks.foreach(dead += _)
    val goneText = live(doomed.head)._2
    doomed.foreach(live.remove)
    countCheck(ivf)
    val alive = live.keysIterator.toIndexedSeq
    noDead(read("read_after_delete", "IndexStore.searchTopKIvf")(
      IndexStore.searchTopKIvf(spark, ivf, live(alive(rnd.nextInt(alive.size)))._2, 10,
        includeDistance = true).collect()), "chunk_id", "IVF read after delete")

    write("upsertLexical", "LexicalStore.upsertLexical")(LexicalStore.upsertLexical(spark, lex,
      upDf.select(concat_ws("_", col("source"), col("doc_id"), lit(0)).as("doc_id"), col("text"))))
    val token = probeText.takeWhile(_ != ' ')
    val lexHit = read("lexical_after_upsert", "LexicalStore.searchTopKLexical")(
      LexicalStore.searchTopKLexical(spark, lex, Seq(token), 10).collect())
    verdict.expect(lexHit.map(_.getAs[String]("doc_id")).toSeq == Seq(probeId),
      s"lexical search for '$token' did not return exactly $probeId")

    write("deleteLexical", "LexicalStore.deleteLexical")(
      LexicalStore.deleteLexical(spark, lex, doomedChunks ++ replaced))
    noDead(read("lexical_after_delete", "LexicalStore.searchTopKLexical")(
      LexicalStore.searchTopKLexical(spark, lex, goneText.split(" ").toSeq, 10).collect()),
      "doc_id", "lexical read after delete")
    upserts.size + doomed.size
  }

  def endToEnd: Map[String, Double] = Map(
    "op_p50_ms" -> median("round_ms"),
    "throughput_per_s" -> total("chunks") / (total("bulk_ms") / 1e3))

  override def layerExtras: Map[String, Double] = Map(
    "GridIngest.cells.rows" -> median("cells_rows"),
    "GridIngest.chunks.rows" -> median("chunks_rows"),
    "batch.ingest_ms" -> median("bulk_ms"),
    "batch.layout.files" -> median("bulk_files"),
    "batch.layout.bytes" -> median("bulk_bytes"),
    "batch.layout.files_after_churn" -> median("churn_files"),
    "IndexStore.searchTopKIvf.after_write_ms" -> median("after_write_ms"),
    "batch.write_p50_ms" -> median("write_ms"),
    "batch.read_p50_ms" -> median("read_ms"),
    "batch.dedup_ms" -> median("pass_ms"))
}

// ---------------------------------------------------------------------

/** A fixed mix of single queries and batches against a collection
  * built in set-up. Nothing is written while it is measured. */
final class SearchWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val name = "search"
  // set-up warms every query family with one call each instead
  override val warmUpRound = false
  val verbs = Seq("IndexStore.build", "IndexStore.buildHnsw",
    "IndexStore.searchTopK", "IndexStore.searchTopKIvf",
    "IndexStore.searchTopKHnsw", "IndexStore.searchTopKIvfBatch",
    "IndexStore.searchTopKHnswBatch", "LexicalStore.searchTopKLexical",
    "Hybrid.searchTopKHybrid", "Embed.embed")

  private val vocab = new Gen.Vocab(seed * 11 + 1, size.vocab)
  private val sheets = Gen.folder(seed * 11 + 2, size.searchFolder, vocab)
  private val cells = Gen.cells(sheets).toIndexedSeq
  private val byDoc = cells.map(c => c.docId -> c).toMap
  private val sources = sheets.map(_.fileId).distinct.toIndexedSeq
  private val pool = Gen.queries(seed * 11 + 3, cells, 2048)
  private val rnd = new Random(seed * 11 + 4)
  private val exact = path("search/exact")
  private val ivf = path("search/ivf")
  private val hnsw = path("search/hnsw")
  private val lex = path("search/lex")
  private val docs = Workload.docsFrame(spark, cells)

  // the layout read back: the brute-force side of every check
  private var ids: IndexedSeq[String] = _
  private var vecs: IndexedSeq[Array[Float]] = _
  private var srcOf: Map[String, String] = _
  private var chunkOf: Map[String, String] = _
  private var idx: Map[String, Int] = _


  def setup(): Unit = {
    timed("IndexStore.build")(IndexStore.build(spark, docs, exact))
    timed("IndexStore.buildIvf")(IndexStore.buildIvf(spark, docs, ivf))
    timed("IndexStore.buildHnsw")(IndexStore.buildHnsw(spark, docs, hnsw))
    timed("LexicalStore.build")(LexicalStore.build(spark,
      spark.read.parquet(exact).select(col("chunk_id").as("doc_id"), col("chunk").as("text")), lex))
    val rows = spark.read.parquet(exact).select("chunk_id", "source", "chunk", "embedding").collect()
    ids = rows.map(_.getString(0)).toIndexedSeq
    vecs = rows.map(Workload.floats(_, 3)).toIndexedSeq
    srcOf = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    chunkOf = rows.map(r => r.getString(0) -> r.getString(2)).toMap
    idx = ids.zipWithIndex.toMap
    // warm-up: the first call of each query family resolves its layout
    // and compiles its plan; a serving process pays that once
    val (q, q2) = (pool(0), pool(1))
    val w = Some(col("source") === sources(0))
    Seq(None, w).foreach { where =>
      IndexStore.searchTopK(spark, exact, q, where = where, includeDistance = true).collect()
      IndexStore.searchTopKIvf(spark, ivf, q, where = where, includeDistance = true).collect()
      IndexStore.searchTopKHnsw(spark, hnsw, q, where = where, includeDistance = true).collect()
      Hybrid.searchTopKHybrid(spark, lex, ivf, q, where = where).collect()
    }
    LexicalStore.searchTopKLexical(spark, lex, q.split(" ").toSeq).collect()
    IndexStore.searchTopKIvfBatch(spark, ivf, Seq(0L -> q, 1L -> q2)).collect()
    IndexStore.searchTopKHnswBatch(spark, hnsw, Seq(0L -> q, 1L -> q2)).collect()
    // recall@10 against brute force over a fixed query set, as batches
    val probe = (2 until 2 + size.recallQueries).map(i => (i.toLong, pool(i)))
    val ivfAns = IndexStore.searchTopKIvfBatch(spark, ivf, probe, 10).collect()
    val hnswAns = IndexStore.searchTopKHnswBatch(spark, hnsw, probe, 10).collect()
    probe.foreach { case (qid, text) =>
      val truthIds = Checks.bruteTopK(Embed.embed(text, Workload.dim), vecs, ids, 10).map(b => ids(b._1))
      def found(rows: Array[Row]) = rows.filter(_.getAs[Long]("query_id") == qid).map(_.getAs[String]("chunk_id")).toSeq
      sample("recall_ivf", Checks.recall(found(ivfAns), truthIds))
      sample("recall_hnsw", Checks.recall(found(hnswAns), truthIds))
    }
  }

  private def truth(q: Array[Float]): String => Double = id => Checks.cosine(q, vecs(idx(id)))

  /** (chunk_id, sim) in rank order from a presented result. */
  private def hits(rows: Array[Row]): Seq[(String, Double)] =
    rows.sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[String]("chunk_id"), 1.0 - r.getAs[Double]("distance"))).toSeq

  /** The named fault: each hit's link must be the cell's own deep link. */
  private def deepLink(rows: Array[Row]): Unit = {
    attempted += 1
    val ok = rows.nonEmpty && rows.forall { r =>
      byDoc.get(r.getAs[Long]("doc_id")).exists(_.link == r.getAs[String]("link"))
    }
    if (!ok) failed += 1
  }

  private def single[T](family: String, verb: String)(f: => Array[Row]): Array[Row] =
    operation(s"search.$family") {
      val (rows, ms) = timed(verb)(f)
      sample("single_ms", ms)
      rows
    }

  private def vectorQuery(text: String, src: Option[String]): Map[String, Seq[String]] = {
    val where = src.map(s => col("source") === s)
    val qv = timed("Embed.embed")(Embed.embed(text, Workload.dim))._1
    val keep: Int => Boolean = i => src.forall(_ == srcOf(ids(i)))
    val brute = Checks.bruteTopK(qv, vecs, ids, 10, keep)
    val t = truth(qv)
    def inFilter(rows: Array[Row], fam: String): Unit =
      src.foreach { s =>
        val bad = rows.count(_.getAs[String]("source") != s)
        verdict.expect(bad == 0, s"$fam where source=$s returned $bad other-source hits")
      }
    val ex = single("exact", "IndexStore.searchTopK")(
      IndexStore.searchTopK(spark, exact, text, 10, where = where, includeDistance = true).collect())
    verdict.expectAll(Checks.exactTopK(hits(ex), t, brute.map(_._2)))
    inFilter(ex, "exact"); deepLink(ex)
    val iv = single("ivf", "IndexStore.searchTopKIvf")(
      IndexStore.searchTopKIvf(spark, ivf, text, 10, where = where, includeDistance = true).collect())
    verdict.expectAll(Checks.approxHits("ivf", hits(iv), t))
    inFilter(iv, "ivf"); deepLink(iv)
    val hn = single("hnsw", "IndexStore.searchTopKHnsw")(
      IndexStore.searchTopKHnsw(spark, hnsw, text, 10, where = where, includeDistance = true).collect())
    verdict.expectAll(Checks.approxHits("hnsw", hits(hn), t))
    inFilter(hn, "hnsw"); deepLink(hn)
    val hy = single("hybrid", "Hybrid.searchTopKHybrid")(
      Hybrid.searchTopKHybrid(spark, lex, ivf, text, 10, where = where).collect())
    val hyIds = hy.sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("chunk_id"))
    verdict.expect(hy.nonEmpty && hyIds.forall(srcOf.contains), s"hybrid '$text' returned unknown chunks")
    verdict.expect(hyIds.forall(id => src.forall(_ == srcOf(id))), s"hybrid '$text' ignored its where")
    val rrf = hy.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("rrf_micros"))
    verdict.expect(rrf.sameElements(rrf.sorted.reverse), s"hybrid '$text' fused scores out of order")
    if (src.isEmpty) {
      val truthIds = brute.map(b => ids(b._1))
      sample("recall_ivf", Checks.recall(hits(iv).map(_._1), truthIds))
      sample("recall_hnsw", Checks.recall(hits(hn).map(_._1), truthIds))
    }
    Map("ivf" -> hits(iv).map(_._1), "hnsw" -> hits(hn).map(_._1))
  }

  private def lexicalQuery(text: String): Unit = {
    val rows = single("lexical", "LexicalStore.searchTopKLexical")(
      LexicalStore.searchTopKLexical(spark, lex, text.split(" ").toSeq, 10).collect())
    val q = Checks.terms(text)
    verdict.expect(rows.nonEmpty, s"lexical '$text' found nothing")
    rows.foreach { r =>
      val id = r.getAs[String]("doc_id")
      verdict.expect(chunkOf.get(id).exists(c => Checks.terms(c).exists(q.contains)),
        s"lexical hit $id for '$text' contains no query term")
    }
  }

  private def batch(verb: String, singles: IndexedSeq[Seq[String]],
                    texts: IndexedSeq[String])(f: Seq[(Long, String)] => DataFrame): Unit =
    operation(s"search.batch") {
      val (rows, ms) = timed(verb)(f(texts.indices.map(i => (i.toLong, texts(i)))).collect())
      sample("batch_ms", ms)
      sample("batch_queries", texts.size)
      val got = rows.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("chunk_id")).toSeq }
      texts.indices.foreach { i =>
        verdict.expect(got.getOrElse(i.toLong, Nil) == singles(i),
          s"$verb answer for '${texts(i)}' differs from the single-query answer")
      }
    }

  def round(): Unit = {
    val texts = IndexedSeq.fill(size.queriesPerRound)(pool(rnd.nextInt(pool.size)))
    val filtered = IndexedSeq.fill(size.whereQueriesPerRound)(
      (pool(rnd.nextInt(pool.size)), sources(rnd.nextInt(sources.size))))
    val answers = texts.map(t => vectorQuery(t, None))
    texts.foreach(lexicalQuery)
    filtered.foreach { case (t, s) => vectorQuery(t, Some(s)) }
    batch("IndexStore.searchTopKIvfBatch", answers.map(_("ivf")), texts)(
      IndexStore.searchTopKIvfBatch(spark, ivf, _, 10))
    batch("IndexStore.searchTopKHnswBatch", answers.map(_("hnsw")), texts)(
      IndexStore.searchTopKHnswBatch(spark, hnsw, _, 10))
  }

  private def meanRecall(name: String): Double = total(name) / math.max(1, get(name).size)

  def endToEnd: Map[String, Double] = {
    Seq(("recall_ivf", "IVF", size.ivfRecallFloor), ("recall_hnsw", "HNSW", size.hnswRecallFloor))
      .foreach { case (k, fam, floor) =>
        verdict.expect(meanRecall(k) >= floor, f"$fam mean recall@10 ${meanRecall(k)}%.3f below $floor")
      }
    Map(
      "op_p50_ms" -> median("single_ms"),
      "throughput_per_s" -> total("batch_queries") / (total("batch_ms") / 1e3))
  }

  override def layerExtras: Map[String, Double] = Map(
    "IndexStore.searchTopKIvf.recall_at_10" -> meanRecall("recall_ivf"),
    "IndexStore.searchTopKHnsw.recall_at_10" -> meanRecall("recall_hnsw"),
    "search.query_p90_ms" -> Checks.quantile(get("single_ms"), 0.9))
}

// ---------------------------------------------------------------------

/** LLM-data preparation over a corpus with planted duplicates: one pass
  * runs the three verbs and checks their outputs. */
final class DedupPass(ctx: Ctx) {
  import ctx._

  private val vocab = new Gen.Vocab(seed * 17 + 1, size.vocab)
  private val corpus = Gen.dedupCorpus(seed * 17 + 2, size.dedupBackground, size.dedupExact,
    size.dedupNear, size.dedupSources, vocab)
  private val shingles = corpus.docs.map(d => d._1 -> Checks.shingles(d._3)).toMap
  private val exactPairs = corpus.exactClusters.flatMap(_.sorted.combinations(2).map(p => (p(0), p(1))))
  private var docs: DataFrame = _

  def setup(): Unit = {
    import spark.implicits._
    docs = corpus.docs.toDF("id", "source", "text")
  }

  private def pairs(verb: String, threshold: Double)(f: => DataFrame): Set[(Long, Long)] =
    operation(s"batch.$verb") {
      val rows = timed(verb)(f.select("id_a", "id_b", "jaccard").collect())._1
      rows.foreach { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val mine = Checks.jaccard(shingles(a), shingles(b))
        verdict.expect(Checks.jaccardMatches(j, mine) && mine >= threshold,
          f"$verb pair ($a, $b): reported $j, recomputed $mine%.6f, threshold $threshold")
      }
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }

  /** One pass; returns its wall time in ms. */
  def pass(): Double = {
    val t0 = System.nanoTime()
    val mh = pairs("Dedup.minhashPairs", 0.35)(Dedup.minhashPairs(docs, "id", "text"))
    val ng = pairs("Dedup.ngramJaccardPairs", 0.2)(Dedup.ngramJaccardPairs(docs, "id", "text", "source"))
    val kept = operation("batch.prepare") {
      timed("Corpus.prepare")(Corpus.prepare(docs, "id", "text").select("id").collect())._1
        .map(_.getLong(0)).toSet
    }
    val ms = (System.nanoTime() - t0) / 1e6
    sample("pass_ms", ms)
    val missMh = exactPairs.filterNot(mh.contains)
    val missNg = exactPairs.filterNot(ng.contains)
    verdict.expect(missMh.isEmpty, s"minhashPairs missed planted exact duplicates ${missMh.take(3)}")
    verdict.expect(missNg.isEmpty, s"ngramJaccardPairs missed planted exact duplicates ${missNg.take(3)}")
    val nearMiss = corpus.nearPairs.filterNot(ng.contains)
    verdict.expect(nearMiss.isEmpty, s"ngramJaccardPairs missed planted near duplicates ${nearMiss.take(3)}")
    corpus.exactClusters.foreach { c =>
      val n = c.count(kept.contains)
      verdict.expect(n == 1, s"Corpus.prepare kept $n members of exact-duplicate cluster ${c.mkString(",")}")
    }
    ms
  }
}
