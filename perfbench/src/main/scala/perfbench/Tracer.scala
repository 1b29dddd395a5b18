package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** What the scheduler reports for the work of one span. */
final class Counters {
  var jobs = 0L
  var taskS = 0.0
  var taskCpuS = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "task_s" -> taskS, "task_cpu_s" -> taskCpuS,
    "shuffle_write_mb" -> shuffleWriteBytes / Tracer.MB,
    "spill_mb" -> spillBytes / Tracer.MB, "input_rows" -> inputRows)
}

/** Listener the benchmark registers on the session it measures.
  *
  *  - Storage: the bytes every cached/checkpointed RDD block holds (memory
  *    plus disk), from block-update events, with a resettable peak and
  *    the peak number of RDDs holding blocks (live pins).
  *  - Spans: jobs are charged to the span named by their job group, or
  *    to the open span when a job carries none (work started on a thread
  *    the client thread did not create); stages inherit their job's
  *    span, and task-end metrics land on their stage's span.
  *
  * Events arrive on the bus thread; readers call [[org.apache.spark.BusDrain]]
  * first and read under the same lock.
  */
final class Tracer extends SparkListener {
  @volatile var open: String = null

  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val spans = mutable.HashMap.empty[String, Counters]
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private val rddBlockCount = mutable.HashMap.empty[Int, Int]
  private var storageBytes = 0L
  private var peakBytes = 0L
  private var peakRdds = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orElse(Option(open))
    group.foreach { key =>
      spans.getOrElseUpdate(key, new Counters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = key)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (key <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = spans.getOrElseUpdate(key, new Counters)
      c.taskS += m.executorRunTime / 1e3
      c.taskCpuS += m.executorCpuTime / 1e9
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId => synchronized {
        update(id, e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize)
        peakBytes = math.max(peakBytes, storageBytes)
        peakRdds = math.max(peakRdds, rddBlockCount.size)
      }
      case _ => ()
    }

  /** Unpersisting an RDD drops its blocks without per-block events. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toList.foreach(update(_, 0L))
  }

  private def update(id: RDDBlockId, size: Long): Unit = {
    val before = blocks.getOrElse(id, 0L)
    if (size > 0 && before == 0)
      rddBlockCount(id.rddId) = rddBlockCount.getOrElse(id.rddId, 0) + 1
    if (size == 0 && before > 0) {
      val n = rddBlockCount.getOrElse(id.rddId, 1) - 1
      if (n == 0) rddBlockCount.remove(id.rddId)
      else rddBlockCount(id.rddId) = n
    }
    if (size > 0) blocks(id) = size else blocks.remove(id)
    storageBytes += size - before
  }

  /** Restart the peaks from the storage held now. */
  def resetPeaks(): Unit = synchronized {
    peakBytes = storageBytes
    peakRdds = rddBlockCount.size
  }

  def peakStorageMb: Double = synchronized(peakBytes / Tracer.MB)
  def peakPins: Int = synchronized(peakRdds)

  /** Remove and return the counters charged to `key`. */
  def take(key: String): Counters = synchronized {
    stageSpan.filterInPlace((_, k) => k != key)
    spans.remove(key).getOrElse(new Counters)
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
}
