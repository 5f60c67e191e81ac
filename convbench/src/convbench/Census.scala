package convbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch seconds with nanosecond steps, on the same base as
  * the listener's millisecond event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs / 1e3 + (System.nanoTime() - baseNs) / 1e9
}

/** A finished span: `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double,
                      attrs: Map[String, String] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span store, written out once when the benchmark ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(name: String, parent: Int, start: Double, end: Double,
          attrs: Map[String, String] = Map.empty): Int = synchronized {
    val id = buf.size
    buf += Span(id, name, parent, start, end, attrs)
    id
  }
  /** Time `body` as a span under `parent`; returns the result and span id. */
  def time[T](name: String, parent: Int, attrs: Map[String, String] = Map.empty)(body: => T): (T, Int) = {
    val t0 = Clock.now()
    val r = body
    (r, add(name, parent, t0, Clock.now(), attrs))
  }
  def all: Seq[Span] = synchronized(buf.toList)
  def children(id: Int): Seq[Span] = all.filter(_.parent == id)
  /** Duration minus the part of it that the span's children cover. */
  def selfTime(id: Int): Double = {
    val s = all(id)
    val kids = children(id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (lo.isNaN || a > hi) { if (!lo.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!lo.isNaN) covered += hi - lo
    s.dur - covered
  }
}

/** SparkListener census. Always tracks the bytes the block manager holds
  * for persisted RDD blocks (memory + disk) and their peak; while
  * `tracing` it also records jobs, stages and task totals for the
  * per-layer report. */
final class Census extends SparkListener {
  @volatile var tracing = false
  final case class JobRec(id: Int, start: Double, pool: String, var end: Double = Double.NaN)
  final case class StageRec(id: Int, job: Int, start: Double, end: Double, tasks: Int,
                            shuffleWrite: Long)

  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  @volatile private var current = 0L
  @volatile private var peak = 0L

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Start a new measurement window: clears records and re-bases the peak
    * at what is held right now. */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); totals.clear()
    peak = current
  }
  def peakBytes: Long = peak
  def heldBytes: Long = current

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        current += size - blocks.put(b, size).getOrElse(0L)
        if (current > peak) peak = current
      case _ =>
    }
  }

  /** Unpersist drops an RDD's blocks without a block update per block. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toList.foreach(b => current -= blocks.remove(b).getOrElse(0L))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    val pool = Option(e.properties).flatMap(p => Option(p.getProperty("spark.scheduler.pool"))).orNull
    jobs += JobRec(e.jobId, e.time / 1e3, pool)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time / 1e3)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L) / 1e3, i.completionTime.getOrElse(0L) / 1e3, i.numTasks,
      Option(i.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) synchronized {
    totals("tasks") += 1
    if (e.taskInfo.failed || e.taskInfo.killed) totals("failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      totals("run_s") += m.executorRunTime / 1e3
      totals("cpu_s") += m.executorCpuTime / 1e9
      totals("gc_s") += m.jvmGCTime / 1e3
      totals("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      totals("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
      totals("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
      val delay = e.taskInfo.duration - m.executorDeserializeTime - m.executorRunTime -
        m.resultSerializationTime - (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L)
      totals("sched_delay_s") += math.max(0L, delay) / 1e3
    }
  }
}
