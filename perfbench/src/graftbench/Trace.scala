package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the calling thread; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Records spans in memory. A span's name is also the Spark job group of
  * every job its body submits, so listener counts land on the innermost
  * open span.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0
  var pass = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.fold(-1)(_._1)
    open = (id, name) :: open
    sc.setJobGroup(name, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some((_, outer)) => sc.setJobGroup(outer, outer)
        case None => sc.clearJobGroup()
      }
      done += Span(id, name, parent, pass, startMs, t0, t1)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  /** A span's duration minus the part its direct children cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum
}

/** Work one job group did, as Spark's task metrics report it. */
final class GroupMetrics {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var planMs = 0L

  def +=(o: GroupMetrics): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    planMs += o.planMs
  }
}

/** Benchmark-owned listener: per-job-group task metrics, RDD storage
  * high-water mark, and query planning time. Registered only
  * for traced passes.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val groups = mutable.Map.empty[String, GroupMetrics]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var storageBytes = 0L
  private var peakStorage = 0L
  /** (start of analysis in epoch ms, analysis + optimization + planning ms) */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def of(group: String) = groups.getOrElseUpdate(group, new GroupMetrics)
  private def groupOfStage(id: Int) = stageGroup.getOrElse(id, "")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(groupOfStage(e.stageInfo.stageId)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = of(groupOfStage(e.stageId))
    g.tasks += 1
    val m = e.taskMetrics
    val duration = e.taskInfo.duration
    g.maxTaskMs = math.max(g.maxTaskMs, duration)
    if (m != null) {
      g.taskMs += m.executorRunTime
      g.cpuNs += m.executorCpuTime
      g.gcMs += m.jvmGCTime
      g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.schedDelayMs += math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storageBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size == 0L) rddBlocks.remove(key) else rddBlocks(key) = size
      peakStorage = math.max(peakStorage, storageBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    plans += ((start, planMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def peakStorageBytes: Long = synchronized(peakStorage)

  /** Metrics per job group, with planning time given to the innermost
    * span that was open when each query's analysis began.
    */
  def byGroup(spans: Seq[Span]): Map[String, GroupMetrics] = synchronized {
    val out = groups.map { case (k, v) => k -> { val c = new GroupMetrics; c += v; c } }
    plans.foreach { case (t, ms) =>
      val inner = spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.seconds).headOption
      out.getOrElseUpdate(inner.fold("")(_.name), new GroupMetrics).planMs += ms
    }
    out.toMap
  }
}
