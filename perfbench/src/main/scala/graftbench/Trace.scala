package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.TranscriptStore

/** In-memory span recorder. A span has a name, start, end, parent and
  * a trace id (one turn or one query); spans are written out once,
  * when the run ends. Single-threaded by design: the traced calls run
  * on the calling thread. */
final class Spans {
  import Spans.Span
  private val buf = ArrayBuffer.empty[Span]

  def apply[T](trace: String, name: String, parent: Int = -1)(f: Int => T): T = {
    val id = buf.length
    buf += Span(id, parent, trace, name, System.nanoTime(), 0L)
    try f(id)
    finally buf(id) = buf(id).copy(end = System.nanoTime())
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs: Map[Int, Long] = {
    val kids = buf.filter(_.parent >= 0).groupBy(_.parent)
    buf.map { s =>
      val iv = kids.get(s.id).toSeq.flatMap(_.map(c => (c.start, c.end)))
      s.id -> (s.dur - Spans.coverage(iv))
    }.toMap
  }

  /** Total self time per span name over spans matching `keep`. */
  def selfByName(keep: Span => Boolean = _ => true): Map[String, Long] = {
    val self = selfNs
    buf.filter(keep).groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, buf.map(Result.mapper.writeValueAsString).asJava)
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Length of the union of [start, end) intervals. */
  def coverage(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

/** Job, stage and task metrics of everything Spark runs while it is
  * registered. Events arrive on the listener bus asynchronously, so
  * readers call [[drain]] before reading. */
final class SparkTrace(spark: SparkSession) extends SparkListener {
  import SparkTrace._
  private val taskQ = new ConcurrentLinkedQueue[TaskRec]()
  private val stageQ = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobN = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobN.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime) stageQ.add((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null) taskQ.add(TaskRec(
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      schedDelayMs = math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime),
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      spill = m.diskBytesSpilled, input = m.inputMetrics.bytesRead))
  }

  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def reset(): Unit = { drain(); taskQ.clear(); stageQ.clear(); jobN.set(0) }

  def snapshot(): Snap = {
    drain()
    Snap(jobN.get, taskQ.asScala.toVector, stageQ.asScala.toVector)
  }
}

object SparkTrace {
  final case class TaskRec(runMs: Long, cpuNs: Long, gcMs: Long, schedDelayMs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)
  final case class Snap(jobs: Int, tasks: Vector[TaskRec], stages: Vector[(Long, Long)]) {
    def ++(o: Snap): Snap = Snap(jobs + o.jobs, tasks ++ o.tasks, stages ++ o.stages)
    def taskS: Double = tasks.map(_.runMs).sum / 1e3
    def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
    def gcS: Double = tasks.map(_.gcMs).sum / 1e3
    def schedDelayS: Double = tasks.map(_.schedDelayMs).sum / 1e3
    def shuffleWriteMb: Double = tasks.map(_.shuffleWrite).sum / MB
    def shuffleReadMb: Double = tasks.map(_.shuffleRead).sum / MB
    def spillMb: Double = tasks.map(_.spill).sum / MB
    def inputMb: Double = tasks.map(_.input).sum / MB
    /** Slowest task over the median task, over tasks that ran. */
    def skew: Double = {
      val t = tasks.map(_.runMs).filter(_ > 0).sorted
      if (t.isEmpty) 0.0 else t.last.toDouble / t(t.length / 2)
    }
    /** Wall time in [fromMs, toMs] during which no stage was running:
      * planning, AQE re-optimization and other work outside stages. */
    def gapS(fromMs: Long, toMs: Long): Double = {
      val iv = stages.map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
        .filter { case (s, e) => e > s }
      (toMs - fromMs - Spans.coverage(iv)) / 1e3
    }
  }
  val MB: Double = 1024.0 * 1024.0
}

/** A [[TranscriptStore]] that delegates to `inner` and times commits
  * and measures what each one publishes under `root`. */
final class TimedStore(inner: TranscriptStore, root: Path) extends TranscriptStore {
  var commits = 0
  var commitNs = 0L
  var committedBytes = 0L

  override def commit(data: DataFrame, lineage: DataFrame, metrics: DataFrame,
                      doneBuckets: Seq[Int]): Long = {
    val t0 = System.nanoTime()
    val id = inner.commit(data, lineage, metrics, doneBuckets)
    commitNs += System.nanoTime() - t0
    commits += 1
    committedBytes += TimedStore.treeBytes(root.resolve(s"snapshot=$id"))
    id
  }
  override def currentSnapshot(): Option[Long] = inner.currentSnapshot()
  override def committedBuckets(): Set[Int] = inner.committedBuckets()
  override def readData(spark: SparkSession): DataFrame = inner.readData(spark)
}

object TimedStore {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Staging directories left behind: the store's `_tmp_*` and the
    * extraction job's `graft-extract-staging*` under the temp dir. */
  def stagingLeft(root: Path): Int = {
    def count(dir: Path, prefix: String): Int =
      if (!Files.isDirectory(dir)) 0
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.count(_.getFileName.toString.startsWith(prefix))
        finally s.close()
      }
    count(root, "_tmp_") + count(Paths.get(System.getProperty("java.io.tmpdir")),
      "graft-extract-staging")
  }
}
