package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.ExtractorSet
import graft.pipeline.{ExtractJob, TranscriptGen, Turn}

/** The `transcripts` and `pages` workloads: seeded turns through
  * `ExtractJob.runTyped(repartitionInput = true, renderFormats = true)`
  * into the `noop` sink, pass after pass on a cached input. */
object Extraction {

  /** How one extraction workload builds its input from the seed.
    * `sampleEvery` picks the fixed traced sample: about one turn in
    * `sampleEvery`. */
  final case class Input(name: String, sampleEvery: Int,
                         build: (SparkSession, Long) => DataFrame,
                         properties: DataFrame => Map[String, Any])

  /** Least wall time spent in warm-up passes before timing starts.
    * Pass times keep falling for 20-30 s as the JIT compiles the
    * engine; 6 s takes the steepest part off and keeps every run of
    * the benchmark inside its time budget. */
  val WarmupS = 6.0

  private val TurnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** 10k turns of ~1 KB: 5,000 seeded documents in article, forum
    * and weixin templates, each body repeated in 2 conversations;
    * one conversation per replica takes every 20th document. */
  val Transcripts = Input("transcripts", 40,
    (spark, seed) => TranscriptGen.fromDocumentsReplicated(
      Gen.documents(spark, seed, 5000), 2),
    df => {
      val r = df.agg(count(lit(1)), avg(length(col("text"))), max(length(col("text"))),
        sum(when(col("conv_id").startsWith("conv-skew"), 1).otherwise(0)),
        countDistinct(col("text"))).head()
      Map("turns" -> r.getLong(0), "html_chars_mean" -> r.getDouble(1),
        "html_chars_max" -> r.getInt(2), "skew_conversation_share" -> r.getLong(3) / r.getLong(0).toDouble,
        "distinct_bodies" -> r.getLong(4))
    })

  final case class PageRow(conv_id: String, turn_idx: Int, role: String, text: String,
                           tool: String, ts: Timestamp, platform: String,
                           selector_miss: Boolean, depth: Int, bytes: Int)

  val PageCount = 120

  /** Distinct seeded web pages of 20-160 KB ([[PagesGen]]). */
  val Pages = Input("pages", 4,
    (spark, seed) => {
      import spark.implicits._
      val ts = new Timestamp(1700000000000L)
      spark.range(PageCount).as[Long].map { i =>
        val p = PagesGen.page(seed, i.toInt, PageCount)
        PageRow(p.conv_id, 0, "user", p.html, p.tool, ts, p.platform, p.selectorMiss,
          p.depth, p.bytes)
      }.toDF()
    },
    df => {
      val r = df.agg(count(lit(1)), min("bytes"), expr("percentile(bytes, 0.5)"), max("bytes"),
        avg("bytes"), min("depth"), expr("percentile(depth, 0.5)"), max("depth"),
        avg(col("selector_miss").cast("double")), countDistinct(col("text"))).head()
      val mix = df.groupBy("platform").count().collect()
        .map(x => x.getString(0) -> x.getLong(1) / r.getLong(0).toDouble).toMap
      Map("pages" -> r.getLong(0), "kb_min" -> r.getInt(1) / 1024.0,
        "kb_median" -> r.getDouble(2) / 1024, "kb_max" -> r.getInt(3) / 1024.0,
        "kb_mean" -> r.getDouble(4) / 1024, "depth_min" -> r.getInt(5),
        "depth_median" -> r.getDouble(6), "depth_max" -> r.getInt(7),
        "selector_miss_share" -> r.getDouble(8), "distinct_pages" -> r.getLong(9),
        "platform_mix" -> mix)
    })

  /** One extraction job over `input`. Every output row is folded into
    * a fingerprint (sum of row hashes, rows, error rows) and the rows
    * of the sample are kept by key, all through accumulators, so the
    * pass writes only to `noop`. */
  final case class Pass(wallS: Double, hashSum: Long, rows: Long, errors: Long,
                        sample: Map[(String, Int), Long], error: Option[String])

  def pass(spark: SparkSession, input: DataFrame, sampleKeys: Set[(String, Int)]): Pass = {
    // four tasks per core, as the repository's own harness sizes its
    // extraction stage: one slow turn does not leave three cores idle
    val partitions = 4 * spark.sparkContext.defaultParallelism
    import spark.implicits._
    val sc = spark.sparkContext
    val hashSum = sc.longAccumulator
    val rows = sc.longAccumulator
    val errors = sc.longAccumulator
    val sample = sc.collectionAccumulator[((String, Int), Long)]
    val keys = sc.broadcast(sampleKeys)
    val out = ExtractJob.runTyped(spark, input, numPartitions = partitions,
        renderFormats = true, repartitionInput = true)
      .mapPartitions { it =>
        it.map { t =>
          val h = Fingerprint.of(t)
          hashSum.add(h); rows.add(1)
          if (t.error.isDefined) errors.add(1)
          if (keys.value.contains((t.conv_id, t.turn_idx))) sample.add(((t.conv_id, t.turn_idx), h))
          t
        }
      }
    val t0 = System.nanoTime()
    val err =
      try { out.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    keys.destroy()
    import scala.jdk.CollectionConverters._
    Pass(wall, hashSum.value, rows.value, errors.value, sample.value.asScala.toMap, err)
  }

  def run(in: Input)(spark: SparkSession, o: Main.Opts): Result = {
    import spark.implicits._
    val res = new Result
    var cached: DataFrame = null
    def setup(): Double = Stats.timed {
      if (cached != null) cached.unpersist(blocking = true)
      cached = in.build(spark, o.seed).cache()
      cached.count()
    }._2
    val setups = (1 to (if (o.trace) 1 else Stats.Setups)).map(_ => setup())
    val input = cached.select(TurnCols.map(col): _*)
    val n = cached.count()
    res.info("input") = in.properties(cached)

    val sample = input
      .filter(pmod(xxhash64(lit(o.seed), col("conv_id"), col("turn_idx")), lit(in.sampleEvery)) === 0)
      .as[Turn].collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
    val keys = sample.map(t => (t.conv_id, t.turn_idx)).toSet
    // warm-up: the JIT keeps improving for several passes
    val warmups = collection.mutable.ArrayBuffer(pass(spark, input, keys))
    while (warmups.length < 2 || warmups.map(_.wallS).sum < WarmupS)
      warmups += pass(spark, input, keys)
    val warm = warmups.head
    res.info("warmup_s") = warmups.map(_.wallS).sum

    if (!o.trace) {
      // timed passes until the run's time is spent
      val done = collection.mutable.ArrayBuffer.empty[Pass]
      while (done.map(_.wallS).sum < o.seconds) done += pass(spark, input, keys)
      res.metrics("ops_per_s") = Stats.median(done.map(p => n / p.wallS).toSeq)
      res.metrics("setup_s") = Stats.median(setups)
      res.attempted = n * done.length
      res.failed = done.map(p => if (p.error.isDefined) n else p.errors).sum
      res.info("passes") = done.length
      res.info("pass_s") = done.map(_.wallS)
      res.info("setup_samples_s") = setups

      // checks: every pass equals the warm-up pass, and the sample
      // equals the single-threaded facade's output for the same turns
      val all = warmups.toSeq ++ done
      res.check("pass_fingerprints_stable",
        all.forall(p => p.error.isEmpty && p.rows == n && p.hashSum == warm.hashSum),
        all.map(p => s"${p.rows}/${p.hashSum}/${p.error.getOrElse("")}").distinct.mkString(" "))
      val ex = new ExtractorSet
      val direct = sample.map(t =>
        (t.conv_id, t.turn_idx) -> Fingerprint.of(ExtractJob.extractTurn(ex, t, renderFormats = true))).toMap
      res.check("sample_matches_single_thread_facade",
        all.forall(_.sample == direct),
        s"${direct.size} sampled turns, ${all.count(_.sample != direct)} passes differ")
      res.info("fingerprint") = java.lang.Long.toHexString(warm.hashSum)
      res.info("error_rows_per_pass") = warm.errors
    } else {
      val spans = new Spans
      val tracer = new SparkTrace(spark)
      // alternate untraced and traced passes; the gap is the tracing overhead
      def tracedPass(k: Int): (Pass, SparkTrace.Snap) = {
        spark.sparkContext.addSparkListener(tracer)
        tracer.reset()
        val p = spans(s"pass-$k", "pass")(_ => pass(spark, input, keys))
        val s = tracer.snapshot()
        spark.sparkContext.removeSparkListener(tracer)
        (p, s)
      }
      // untraced, traced, traced, untraced: neither kind always runs warmer
      val untraced1 = pass(spark, input, keys)
      val (traced, snaps) = Seq(tracedPass(0), tracedPass(1)).unzip
      val untraced = Seq(untraced1, pass(spark, input, keys))
      val facadeUs = EngineTrace.run(sample, spans, res)
      val tracedS = traced.map(_.wallS)
      ShellMetrics.put(res, snaps.reduce(_ ++ _), traced.length, tracedS.sum, o.cores, n, facadeUs)
      res.metrics("trace.overhead_share") =
        Stats.median(tracedS) / Stats.median(untraced.map(_.wallS)) - 1
      res.metrics("trace.query_coverage_min") = 0.0
      val runs = warmups.toSeq ++ untraced ++ traced
      res.attempted = n * runs.length
      res.failed = runs.map(p => if (p.error.isDefined) n else p.errors).sum
      res.metrics("run.failed_share") = res.failed.toDouble / res.attempted
      Idle.store(res)
      Idle.queries(res)
      res.info("untraced_pass_s") = untraced.map(_.wallS)
      res.info("traced_pass_s") = tracedS
      spans.writeJsonl(o.work.resolveSibling("traces").resolve(s"${in.name}-${o.seed}.jsonl"))
    }
    cached.unpersist(blocking = true)
    res
  }
}
