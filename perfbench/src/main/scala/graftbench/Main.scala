package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.extract.{EngineSteps, ExtractorSet}
import graft.pipeline.{ExtractedTurn, TranscriptGen, Turn}

/** Benchmark JVM entry point; `run.py` launches it and reports.
  *
  *   Main --workload <transcripts|pages|corpus_queries> --seed <n>
  *        --seconds <s> --trace <0|1> --cores <n> --work <dir> --out <file>
  *
  * Writes one JSON object to `--out`: metrics, attempted and failed
  * operation counts, named output checks, and input/config facts. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: Path, out: Path)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("cores").toInt, Paths.get(a("work")).toAbsolutePath, Paths.get(a("out")).toAbsolutePath)
    val run: (SparkSession, Opts) => Result = o.workload match {
      case "transcripts"    => Extraction.run(Extraction.Transcripts)
      case "pages"          => Extraction.run(Extraction.Pages)
      case "corpus_queries" => Corpus.run
      case w                => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val spark = session(o)
    val res = try run(spark, o) finally spark.stop()
    res.info("spark_version") = spark.version
    res.info("jdk") = System.getProperty("java.version")
    Files.writeString(o.out, res.json)
  }

  /** The session shape of the repository's own benchmark harness. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graft-perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One run's outputs, serialized for `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  def json: String = Result.mapper.writeValueAsString(Map(
    "metrics" -> metrics, "attempted" -> attempted, "failed" -> failed,
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "info" -> info))
}

object Result {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

object Stats {
  /** Set-ups per untraced run; `setup_s` is their median. The first
    * is cold, so the median is of warm ones. */
  val Setups = 5

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Per-turn fingerprint of an extraction output row: every field but
  * the timing. Equal rows hash equal on any thread or partition. */
object Fingerprint {
  def of(t: ExtractedTurn): Long = {
    val fields = Seq(t.conv_id, t.turn_idx, t.role, t.platform, t.title, t.content,
      t.text_content, t.markdown, t.text_format, t.metadata.toSeq.sorted,
      t.metrics.nodes_scored, t.metrics.boilerplate_ratio, t.metrics.fallback_stage, t.error)
    val hi = scala.util.hashing.MurmurHash3.orderedHash(fields, 0x6a09e667)
    val lo = scala.util.hashing.MurmurHash3.orderedHash(fields.reverse, 0x3c6ef372)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }
}

/** Single-threaded traced pass of the engine over a fixed sample:
  * the facade timed whole, then its steps timed one by one. */
object EngineTrace {
  val Layer = "extract."
  val Rounds = 3

  def run(sample: Seq[Turn], spans: Spans, res: Result): Double = {
    val ex = new ExtractorSet
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val urls = sample.map(t => TranscriptGen.urlOf(t.conv_id, t.turn_idx, t.tool))
    val warm = new Spans
    sample.zip(urls).foreach { case (t, u) =>
      ex.extract(t.text, u, renderFormats = true)
      EngineSteps.extract(ex, t.text, u, warm, "warm-up")
    }
    var alloc = 0L
    var mismatches = 0
    val outs = mutable.ArrayBuffer.empty[Either[String, graft.extract.ExtractResult]]
    for (round <- 0 until Rounds; ((t, url), i) <- sample.zip(urls).zipWithIndex) {
      val trace = s"r$round/${t.conv_id}/${t.turn_idx}"
      def facade() = spans(trace, "facade") { _ =>
        val a0 = mx.getCurrentThreadAllocatedBytes
        val r = ex.extract(t.text, url, renderFormats = true)
        alloc += mx.getCurrentThreadAllocatedBytes - a0
        r
      }
      def steps() = EngineSteps.extract(ex, t.text, url, spans, trace)
      // alternate which runs first, so neither always finds warm caches
      val (f, s) = if ((round + i) % 2 == 0) { val f = facade(); (f, steps()) }
                   else { val s = steps(); (facade(), s) }
      if (f != s) mismatches += 1
      if (round == 0) outs += f
    }
    res.check("engine_steps_match_facade", mismatches == 0,
      s"$mismatches of ${sample.length * Rounds} traced turns differ from the facade")

    val n = sample.length.toDouble
    val perRound = (0 until Rounds).map(r => spans.selfByName(_.trace.startsWith(s"r$r/")))
    def us(name: String) = Stats.median(perRound.map(_.getOrElse(name, 0L) / n / 1e3))
    val facadeUs = us("facade")
    val stepsUs = EngineSteps.Steps.map(us)
    val m = res.metrics
    m(Layer + "turns_per_s_1t") = 1e6 / facadeUs
    m(Layer + "facade_us") = facadeUs
    EngineSteps.Steps.zip(stepsUs).foreach { case (s, v) => m(s"$Layer${s}_us") = v }
    val coverage = Stats.median(perRound.map(p =>
      EngineSteps.Steps.map(p.getOrElse(_, 0L)).sum.toDouble / p("facade")))
    m(Layer + "span_coverage") = coverage
    res.check("engine_steps_cover_facade", coverage >= 0.9 && coverage <= 1.1,
      f"step self times sum to $coverage%.3f of the facade time")
    m(Layer + "alloc_kb_per_turn") = alloc / 1024.0 / (n * Rounds)
    val shapes = sample.map(t => EngineSteps.domShape(ex, t.text))
    m(Layer + "input_kb_per_turn") = sample.map(_.text.getBytes("UTF-8").length).sum / 1024.0 / n
    m(Layer + "elements_per_turn") = shapes.map(_._1).sum / n
    m(Layer + "max_depth") = shapes.map(_._2).max.toDouble
    val ok = outs.collect { case Right(r) => r }
    m(Layer + "nodes_scored_per_turn") = ok.map(_.metrics.nodesScored).sum / n
    (1 to 5).foreach { s =>
      m(s"${Layer}fallback_share.s$s") = ok.count(_.metrics.fallbackStage == s) / n
    }
    m(Layer + "boilerplate_ratio_mean") =
      if (ok.isEmpty) 0.0 else ok.map(_.metrics.boilerplateRatio).sum / ok.length
    m(Layer + "error_rows") = (sample.length - ok.length).toDouble
    res.info("engine_sample_turns") = sample.length
    facadeUs
  }
}

/** Per-layer metrics a workload does not exercise read 0: that layer
  * did no work in the run. */
object Idle {
  def store(res: Result): Unit =
    Seq("run_s", "commit_s", "commits", "committed_mb", "staging_left", "read_back_s")
      .foreach(k => res.metrics("store." + k) = 0.0)
  def queries(res: Result): Unit =
    for (q <- Corpus.Queries; k <- Corpus.QueryMetrics) res.metrics(s"q.$q.$k") = 0.0
}

/** Spark-shell metrics of traced passes (per pass). */
object ShellMetrics {
  def put(res: Result, snap: SparkTrace.Snap, passes: Int, wallS: Double, cores: Int,
          turns: Long, facadeUs: Double): Unit = {
    val m = res.metrics
    val p = passes.toDouble
    m("spark.task_s") = snap.taskS / p
    m("spark.cpu_s") = snap.cpuS / p
    m("spark.gc_s") = snap.gcS / p
    m("spark.utilization") = snap.taskS / (wallS * cores)
    m("spark.tasks") = snap.tasks.length / p
    m("spark.task_skew") = snap.skew
    m("spark.shuffle_write_mb") = snap.shuffleWriteMb / p
    m("spark.shuffle_read_mb") = snap.shuffleReadMb / p
    m("spark.spill_mb") = snap.spillMb / p
    m("spark.input_cache_mb") = snap.inputMb / p
    m("spark.sched_delay_s") = snap.schedDelayS / p
    m("spark.shell_share") =
      if (snap.taskS <= 0) 0.0 else 1.0 - turns * facadeUs / 1e6 / (snap.taskS / p)
  }
}
