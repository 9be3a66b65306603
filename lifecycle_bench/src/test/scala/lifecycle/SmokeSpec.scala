package lifecycle

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: its checks must catch wrong outputs, and
  * every workload must pass them at smoke size. */
class SmokeSpec extends AnyFunSuite {

  private val root = Paths.get("target", "smoke-test").toAbsolutePath

  /** The benchmark's declared metric names, from the repository root. */
  private lazy val declared: Map[String, Seq[String]] = {
    val j = new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    Seq("end_to_end", "per_layer").map(k => k -> j.get(k).elements.asScala.map(_.get("name").asText).toSeq).toMap
  }

  test("column letters are bijective base-26") {
    assert(Seq(0, 25, 26, 27, 51, 52, 701, 702).map(Gen.colLetters) ==
      Seq("A", "Z", "AA", "AB", "AZ", "BA", "ZZ", "AAA"))
  }

  test("the generated workload size does not depend on the seed") {
    val spec = Size.full.batchFolder
    val counts = Seq(1L, 2L, 3L).map { s =>
      Gen.cells(Gen.folder(s, spec, new Gen.Vocab(s, 500))).size
    }
    assert(counts.distinct.size == 1, counts)
    val sheets = Gen.folder(1, spec, new Gen.Vocab(1, 500))
    assert(sheets.forall(_.sheetId != 0))
    assert(sheets.exists(_.rows.head.length > 26), "no sheet has columns past Z")
  }

  test("a corrupted expected value makes each kind of check fail") {
    val cell = Gen.Cell(Gen.docId(0, 3, 27), "f1", 42L, 27, 3, "alpha beta")
    assert(cell.link.endsWith("#gid=42&range=AB5"))
    assert(Checks.gridChunks(Seq(cell), Seq(cell.link -> "alpha beta")).isEmpty)
    assert(Checks.gridChunks(Seq(cell.copy(text = "alpha gamma")), Seq(cell.link -> "alpha beta")).nonEmpty)
    assert(Checks.gridChunks(Seq(cell.copy(dataRow = 4)), Seq(cell.link -> "alpha beta")).nonEmpty)

    val truth = Map("a" -> 0.9, "b" -> 0.8)
    assert(Checks.exactTopK(Seq("a" -> 0.9, "b" -> 0.8), truth, Seq(0.9, 0.8)).isEmpty)
    assert(Checks.exactTopK(Seq("a" -> 0.9, "b" -> 0.8), truth, Seq(0.9, 0.85)).nonEmpty)
    assert(Checks.approxHits("ivf", Seq("b" -> 0.8, "a" -> 0.9), truth).nonEmpty)

    val (x, y) = (Checks.shingles("a b c d e"), Checks.shingles("a b c d f"))
    assert(Checks.jaccard(x, y) == 0.5)
    assert(Checks.jaccardMatches(0.5, Checks.jaccard(x, y)))
    assert(!Checks.jaccardMatches(0.5001 + 1e-4, Checks.jaccard(x, y)))
  }

  test("every workload passes its checks at smoke size and prints the declared metrics") {
    Workload.names.foreach { w =>
      val r = Bench.run(Bench.Args(w, 7, 0.1, trace = false, Size.smoke), root)
      assert(r.correct, s"$w failed an output check")
      assert(r.metrics.map(_._1) == declared("end_to_end"), w)
      assert(r.metrics.forall(_._2 > 0), r.metrics)
      // the only failed operations are search's deep links, one per vector query
      val vectorQueries = 3 * (Size.smoke.queriesPerRound + Size.smoke.whereQueriesPerRound)
      assert(r.failed == (if (w == "search") vectorQueries else 0), s"$w: ${r.failed} failed")
    }
  }

  test("the traced run prints every declared per-layer metric") {
    val r = Bench.run(Bench.Args("search", 7, 0.1, trace = true, Size.smoke), root)
    assert(r.correct)
    assert(r.metrics.map(_._1).toSet == declared("per_layer").toSet)
    assert(Files.exists(root.resolve("trace").resolve("search-seed7.json")))
  }
}
