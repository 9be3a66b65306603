package lifecycle

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Lifecycle benchmark entry point.
  *
  *   lifecycle.Bench --workload batch|search --seed N
  *                   --seconds S --trace 0|1 [--size full|smoke]
  *
  * Untraced: runs the named workload's set-up, then whole rounds until
  * `--seconds` have passed, and prints the end-to-end metrics. Traced:
  * runs the whole lifecycle (batch, then search, each on its own
  * generated inputs): the named workload as untraced, the other one
  * for a single cold round at smoke size, so that every per-layer metric
  * is present. It records a span around every call into
  * a layer, writes the spans under `target/lifecycle-bench/trace/` and
  * prints the per-layer metrics. The last stdout line is the result
  * JSON; the exit code is non-zero when any output check failed.
  */
object Bench {
  /** Spark `local[N]`: fixed here, never read from the machine. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, size: Size)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "size")
    require(m.keySet.subsetOf(known) && argv.length % 2 == 0,
      s"usage: --workload ${Workload.names.mkString("|")} --seed N --seconds S --trace 0|1 [--size full|smoke]")
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workload.names.contains(w), s"unknown workload '$w'")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1",
      m.getOrElse("size", "full") match {
        case "full" => Size.full
        case "smoke" => Size.smoke
        case s => sys.error(s"unknown size '$s'")
      })
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("lifecycle-bench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Result of one run, as the last stdout line prints it. */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)]) {
    def json: String =
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
        metrics.map { case (n, v, u) => s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
          .mkString(", ") + "}}"
  }

  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  /** Run one benchmark invocation from a fresh work directory. */
  def run(a: Args, root: Path): Result = {
    val tEnter = System.nanoTime()
    val work = root.resolve(s"run-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.createDirectories(work)
    try {
      val spark = session(work)
      System.err.println(f"[bench] session up after ${(System.nanoTime() - tEnter) / 1e9}%.3f s")
      val tracer = new Tracer(spark.sparkContext, a.trace)
      val verdict = new Verdict
      // one-off engine initialisation: first job, codegen, embed backend
      spark.range(1000).selectExpr("sum(id)").collect()
      graft.functions.Embed.embed("warm up", Workload.dim)
      System.err.println(f"[bench] engine initialised after ${(System.nanoTime() - tEnter) / 1e9}%.3f s")
      val order = if (a.trace) Workload.names else Seq(a.workload)
      var setupS = 0.0
      val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var e2e = Map.empty[String, Double]
      var (attempted, failed) = (0L, 0L)
      order.foreach { name =>
        val selected = name == a.workload
        // a traced run covers every layer: the other workloads run one
        // cold round at smoke size
        val ctx = new Ctx(spark, tracer, if (selected) a.size else Size.smoke, a.seed,
          work.resolve(name), verdict)
        val tGen = System.nanoTime()
        val w = Workload(name, ctx) // input generation: excluded from set-up
        val genNs = System.nanoTime() - tGen
        tracer.beginPhase(s"$name.setup")
        w.setup()
        if (selected) {
          // one warm-up round (JIT, codegen, layout resolution) is set-up
          if (w.warmUpRound) { w.round(); ctx.endWarmUp() }
          setupS = (System.nanoTime() - tEnter - genNs) / 1e9
        }
        System.err.println(f"[bench] $name set up after ${(System.nanoTime() - tEnter) / 1e9}%.3f s (generation ${genNs / 1e9}%.3f s)")
        tracer.beginPhase(name)
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        var rounds = 0
        while (rounds == 0 || (selected && (System.nanoTime() - t0) / 1e9 < a.seconds)) {
          val tr = System.nanoTime()
          w.round(); rounds += 1
          System.err.println(f"[bench] $name round $rounds: ${(System.nanoTime() - tr) / 1e6}%.0f ms")
        }
        tracer.endPhase()
        val measured = w.endToEnd
        if (selected) {
          e2e = measured
          attempted = ctx.attempted
          failed = ctx.failed
        }
        System.err.println(s"[bench] $name: $rounds rounds, " +
          measured.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
        if (a.trace) {
          layer ++= perVerb(tracer, name, w.verbs)
          layer ++= w.layerExtras
          layer(s"$name.spark.spill_bytes") = tracer.phaseSpill(name).toDouble
          layer(s"$name.jvm.gc_ms") = (gcMs() - gc0).toDouble
        }
      }
      if (a.trace)
        tracer.write(root.resolve("trace").resolve(s"${a.workload}-seed${a.seed}.json"))
      spark.stop()
      val metrics =
        if (a.trace) layer.toSeq.map { case (k, v) => (k, v, Bench.unitOf(k)) }
        else (e2e + ("setup_s" -> setupS) + ("peak_rss_mb" -> peakRssMb())).toSeq
          .sortBy(m => e2eUnits.indexWhere(_._1 == m._1))
          .map { case (k, v) => (k, v, e2eUnits.toMap.apply(k)) }
      Result(verdict.ok, attempted, failed, metrics)
    } finally deleteTree(work)
  }

  /** Per-verb medians over the spans of the workload's measured rounds. */
  def perVerb(tracer: Tracer, phase: String, verbs: Seq[String]): Seq[(String, Double)] =
    verbs.flatMap { v =>
      val measured = tracer.all.filter(s => s.phase == phase && s.name == v)
      val ss = if (measured.nonEmpty) measured
        else tracer.all.filter(s => s.phase == s"$phase.setup" && s.name == v)
      if (ss.isEmpty) Nil
      else {
        def med(f: Span => Double) = Checks.median(ss.map(f))
        val ms = Seq(s"$v.ms" -> med(_.ms))
        if (v == "Embed.embed") ms
        else ms ++ Seq(s"$v.jobs" -> med(_.jobs.toDouble), s"$v.tasks" -> med(_.tasks.toDouble),
          s"$v.shuffle_bytes" -> med(_.shuffleBytes.toDouble))
      }
    }

  def unitOf(metric: String): String =
    if (metric.endsWith("ms")) "ms"
    else if (metric.endsWith("bytes")) "bytes"
    else if (metric.endsWith("recall_at_10")) "ratio"
    else "count"

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: Exception => System.err.println(e.getMessage); sys.exit(2)
    }
    val root = Paths.get("target", "lifecycle-bench").toAbsolutePath
    val r = run(a, root)
    println(r.json)
    sys.exit(if (r.correct) 0 else 1)
  }
}
