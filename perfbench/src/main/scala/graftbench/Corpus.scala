package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.pipeline.{CheckpointedExtract, ExtractJob, ParquetSnapshotStore, TranscriptGen, Turn}
import graft.queries.TempCaches

/** The `corpus_queries` workload: five registry queries over a seeded,
  * seed-ordered staged corpus, each built, executed into `noop` and
  * released in turn. */
object Corpus {

  val Queries: Seq[String] = Seq(
    "q12_minhash_lsh", "q19_cosine_near_dup_lsh", "q41_ingest_dedup",
    "q38_extract_corpus_clean", "q33_checkpoint_roundtrip")

  val QueryMetrics: Seq[String] = Seq(
    "build_s", "exec_s", "jobs", "stages", "task_s", "gc_s", "shuffle_mb",
    "spill_mb", "plan_gap_s")

  val Documents = 2500
  val Embeddings = 1000
  val Dim = 64

  /** Writes the two tables the queries read, each as one parquet file. */
  def stage(spark: SparkSession, seed: Long, dir: Path): Unit =
    Seq("documents" -> Gen.documents(spark, seed, Documents, shuffled = true),
        "embeddings" -> Gen.embeddings(spark, seed, Embeddings, Dim)).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }

  /** The shape of the staged tables, to set beside the sf0.1 figures
    * in README.md. */
  def properties(spark: SparkSession, dir: Path): Map[String, Any] = {
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val words = size(split(col("text"), " "))
    val d = docs.agg(count(lit(1)), countDistinct(col("text")),
      avg(col("text").endsWith(" dup").cast("double")), min(words), avg(words), max(words),
      avg(length(col("text")))).head()
    val langs = docs.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1) / d.getLong(0).toDouble).toMap
    val e = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
      .agg(count(lit(1)), min(size(col("embedding"))), countDistinct(col("label"))).head()
    Map("documents" -> d.getLong(0), "distinct_texts" -> d.getLong(1),
      "near_dup_share" -> d.getDouble(2), "words_min" -> d.getInt(3), "words_mean" -> d.getDouble(4),
      "words_max" -> d.getInt(5), "chars_mean" -> d.getDouble(6), "lang_mix" -> langs,
      "embeddings" -> e.getLong(0), "embedding_dim" -> e.getInt(1), "labels" -> e.getLong(2))
  }

  final case class QRun(buildS: Double, execS: Double, wallS: Double,
                        execFromMs: Long, execToMs: Long, error: Option[String])

  /** Build (the registry function call), execute into `noop`, release. */
  def runQuery(spark: SparkSession, name: String, dir: Path): QRun = {
    val t0 = System.nanoTime()
    var t1 = t0
    var e0, e1 = 0L
    val err =
      try {
        val df = SparkEntry.queries(name)(spark, dir.toString)
        t1 = System.nanoTime(); e0 = System.currentTimeMillis()
        noop(df)
        e1 = System.currentTimeMillis()
        None
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t2 = System.nanoTime()
    TempCaches.release(spark)
    val t3 = System.nanoTime()
    QRun((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t0) / 1e9, e0, e1, err)
  }

  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def sweep(spark: SparkSession, dir: Path): Seq[QRun] = Queries.map(runQuery(spark, _, dir))

  /** Warm-up: every query at once from a small thread pool, so the
    * one-off costs of a fresh JVM (class loading, JIT, code generation)
    * overlap. Caches are released only when all have finished, since a
    * release frees every query's pinned intermediates. Returns each
    * query's error, if any. */
  def warmUp(spark: SparkSession, dir: Path, threads: Int,
             sink: String => DataFrame => Unit): Seq[Option[String]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = Queries.map(q => pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] =
          try { sink(q)(SparkEntry.queries(q)(spark, dir.toString)); None }
          catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }))
      futures.map(_.get())
    } finally {
      pool.shutdown()
      TempCaches.release(spark)
    }
  }

  /** The extraction input of q33 and q38: the staged documents as turns. */
  def turns(spark: SparkSession, dir: Path): DataFrame =
    TranscriptGen.fromDocuments(graft.queries.Tables.parallelize(
      graft.queries.Tables.documents(spark, dir.toString)))

  def run(spark: SparkSession, o: Main.Opts): Result = {
    import spark.implicits._
    val res = new Result
    var dir: Path = null
    val setups = (1 to (if (o.trace) 1 else Stats.Setups)).map { k =>
      // a fresh directory per set-up: no stale file listings
      val d = o.work.resolve(s"corpus-$k")
      val s = Stats.timed(stage(spark, o.seed, d))._2
      dir = d
      s
    }
    res.info("input") = properties(spark, dir)
    val nTurns = turns(spark, dir).count()

    if (!o.trace) {
      // the warm-up sweep doubles as the check sweep: oracle queries
      // and q33 write their result for comparison, the rest go to noop
      val outDir = o.work.resolve("outputs")
      val oracle = SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
      val keep = oracle.keySet + "q33_checkpoint_roundtrip"
      val (warm, warmS) = Stats.timed(warmUp(spark, dir, o.cores, q =>
        if (keep(q)) _.write.mode("overwrite").parquet(outDir.resolve(q).toString) else noop))
      res.info("warmup_s") = warmS
      warm.zip(Queries).foreach { case (e, q) => res.check(s"warmup_$q", e.isEmpty, e.getOrElse("")) }
      val checksFrom = System.nanoTime()
      // order-free fingerprint: row count and the sum of row hashes
      def fp(df: DataFrame) = df.select(xxhash64(col("conv_id"), col("turn_idx"),
        col("platform"), col("text_content")).as("h"))
        .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
      val direct = fp(ExtractJob.run(spark, turns(spark, dir), repartitionInput = false))
      val back = fp(spark.read.parquet(outDir.resolve("q33_checkpoint_roundtrip").toString))
      res.check("q33_read_back_equals_direct_extraction",
        direct == back && back.getLong(0) == nTurns,
        s"$nTurns turns; direct $direct, read-back $back")
      res.info("tables_dir") = dir.toString
      res.info("oracle") = oracle.map { case (q, sql) =>
        q -> Map("sql" -> sql, "out" -> outDir.resolve(q).toString) }

      res.info("checks_s") = (System.nanoTime() - checksFrom) / 1e9
      val passes = collection.mutable.ArrayBuffer.empty[Seq[QRun]]
      while (passes.map(_.map(_.wallS).sum).sum < o.seconds) passes += sweep(spark, dir)
      val sweepS = passes.map(_.map(_.wallS).sum).toSeq
      res.metrics("ops_per_s") = Stats.median(sweepS.map(Queries.length / _))
      res.metrics("setup_s") = Stats.median(setups)
      res.attempted = Queries.length.toLong * passes.length
      res.failed = passes.map(_.count(_.error.isDefined)).sum
      res.info("passes") = passes.length
      res.info("sweep_s") = Stats.median(sweepS)
      res.info("query_s") = Queries.zipWithIndex.map { case (q, i) =>
        q -> Stats.median(passes.map(_(i).wallS).toSeq) }.toMap
      res.info("setup_samples_s") = setups
      passes.flatten.flatMap(_.error).distinct.foreach(e => res.check("timed_query_error", ok = false, e))
    } else {
      val spans = new Spans
      val tracer = new SparkTrace(spark)
      val warm = warmUp(spark, dir, o.cores, _ => noop)
      // untraced, traced, untraced: the gap is the tracing overhead
      val untracedRuns = sweep(spark, dir)
      val tracedRuns = collection.mutable.ArrayBuffer.empty[QRun]
      spark.sparkContext.addSparkListener(tracer)
      var all: SparkTrace.Snap = SparkTrace.Snap(0, Vector.empty, Vector.empty)
      val coverage = collection.mutable.ArrayBuffer.empty[Double]
      val traced = spans("sweep", "sweep") { root =>
        Queries.map { q =>
          tracer.reset()
          val r = spans(q, "query", root)(_ => runQuery(spark, q, dir))
          tracedRuns += r
          val s = tracer.snapshot()
          all = all ++ s
          val m = res.metrics
          m(s"q.$q.build_s") = r.buildS
          m(s"q.$q.exec_s") = r.execS
          m(s"q.$q.jobs") = s.jobs
          m(s"q.$q.stages") = s.stages.length
          m(s"q.$q.task_s") = s.taskS
          m(s"q.$q.gc_s") = s.gcS
          m(s"q.$q.shuffle_mb") = s.shuffleWriteMb
          m(s"q.$q.spill_mb") = s.spillMb
          m(s"q.$q.plan_gap_s") = s.gapS(r.execFromMs, r.execToMs)
          coverage += (r.buildS + r.execS) / r.wallS
          r.wallS
        }.sum
      }
      spark.sparkContext.removeSparkListener(tracer)
      val untracedRuns2 = sweep(spark, dir)
      val untraced = (untracedRuns.map(_.wallS).sum + untracedRuns2.map(_.wallS).sum) / 2

      // the store layer, with q33's arguments, through a timing wrapper
      val storeRoot = Files.createTempDirectory(o.work, "store")
      val store = new TimedStore(new ParquetSnapshotStore(storeRoot.toString), storeRoot)
      val (_, runS) = Stats.timed(CheckpointedExtract.run(spark, turns(spark, dir), store,
        buckets = 8, bucketsPerCommit = 4, repartitionInput = false))
      val (backRows, backS) = Stats.timed(store.readData(spark).count())
      res.check("store_read_back_rows", backRows == nTurns, s"$backRows of $nTurns turns")
      val m = res.metrics
      m("store.run_s") = runS
      m("store.commit_s") = store.commitNs / 1e9
      m("store.commits") = store.commits
      m("store.committed_mb") = store.committedBytes / SparkTrace.MB
      m("store.staging_left") = TimedStore.stagingLeft(storeRoot)
      m("store.read_back_s") = backS

      val sample = turns(spark, dir)
        .filter(pmod(xxhash64(lit(o.seed), col("conv_id"), col("turn_idx")), lit(4)) === 0)
        .as[Turn].collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
      val facadeUs = EngineTrace.run(sample, spans, res)
      // q38 and q33 each extract every turn once per sweep
      ShellMetrics.put(res, all, 1, traced, o.cores, 2 * nTurns, facadeUs)
      m("trace.overhead_share") = traced / untraced - 1
      m("trace.query_coverage_min") = coverage.min
      res.check("query_build_exec_cover_wall", coverage.min >= 0.9,
        Queries.zip(coverage).map { case (q, c) => f"$q $c%.3f" }.mkString(", "))
      val errors = warm ++ (untracedRuns ++ tracedRuns ++ untracedRuns2).map(_.error)
      res.attempted = errors.length
      res.failed = errors.count(_.isDefined)
      m("run.failed_share") = res.failed.toDouble / res.attempted
      errors.flatten.distinct.foreach(e => res.check("query_error", ok = false, e))
      res.info("untraced_sweep_s") = untraced
      res.info("traced_sweep_s") = traced
      spans.writeJsonl(o.work.resolveSibling("traces").resolve(s"corpus_queries-${o.seed}.jsonl"))
    }
    res
  }
}
