package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Operation and check accounting shared by every iteration of a run. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ListBuffer.empty[String]
  val checks = mutable.ListBuffer.empty[Map[String, Any]]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) { failed += 1; failures += s"$name: $detail" }
  }
}

/** Process-wide clocks: wall, CPU of every JVM thread, and GC time. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def wallS: Double = System.nanoTime() / 1e9
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}

/** One iteration of a workload.
  *
  * `traced`: every call runs under a job group named for its span, and
  * the span is recorded (name, start, end, parent, iteration id) with the
  * scheduler counters the [[Tracer]] charged to it. Untraced iterations
  * run the same calls without job groups and record nothing per span.
  *
  * `capture`: the iteration whose outputs are checked; its drained frames
  * are written as parquet under `work/oracle/<key>` instead.
  */
final class Iter(val spark: SparkSession, val data: String, val work: String,
                 val id: Int, val traced: Boolean, val capture: Boolean,
                 val order: Long, tracer: Tracer, outcome: Outcome,
                 runStart: Double) {
  val spans = mutable.ListBuffer.empty[mutable.Map[String, Any]]
  /** Checked outputs by oracle key: collected rows, or a drained
    * frame's (row count, order-independent row-hash sum). */
  val outputs = mutable.LinkedHashMap.empty[String, Any]
  private val notes = mutable.LinkedHashMap.empty[String, mutable.Map[String, Any]]

  /** Run `body` as one operation: counted as attempted, counted as failed
    * (and rethrown) when it throws. Traced iterations record it as a span;
    * `prefix` marks a lazy-prefix span whose self time is its difference
    * from the previous prefix.
    */
  def span[T](name: String, prefix: Boolean = false)(body: => T): T = {
    outcome.attempted += 1
    val key = s"$id:$name"
    val sc = spark.sparkContext
    if (traced) { sc.setJobGroup(key, name, interruptOnCancel = false); tracer.open = key }
    val (t0, gc0) = (Clock.wallS, Clock.gcS)
    val out =
      try body
      catch {
        case NonFatal(e) =>
          outcome.failed += 1
          outcome.failures += s"$name: $e"
          throw e
      } finally if (traced) { sc.clearJobGroup(); tracer.open = null }
    val (t1, gc1) = (Clock.wallS, Clock.gcS)
    if (traced) {
      BusDrain(sc)
      spans += (mutable.LinkedHashMap[String, Any](
        "name" -> name, "kind" -> (if (prefix) "prefix" else "span"),
        "parent" -> "iteration", "iter" -> id,
        "start" -> (t0 - runStart), "end" -> (t1 - runStart),
        "wall_s" -> (t1 - t0), "gc_s" -> (gc1 - gc0)) ++
        tracer.take(key).toMap ++ notes.getOrElse(name, Map.empty))
    }
    out
  }

  /** Attach a counter to a span of this iteration (recorded when traced). */
  def note(spanName: String, counter: String, value: Any): Unit = {
    notes.getOrElseUpdate(spanName, mutable.LinkedHashMap.empty)(counter) = value
    spans.find(_("name") == spanName).foreach(_(counter) = value)
  }

  /** Run `df` to completion and discard the rows — the work of a `noop`
    * sink — through the frame's own query execution, so its executed
    * plan (AQE final plan included) can be inspected afterwards. A keyed
    * output also records its row count and row-hash sum; in the capture
    * iteration it goes to parquet under `work/oracle/<key>` instead.
    */
  def drain(df: DataFrame, key: String = null): Unit =
    if (capture && key != null)
      df.write.mode("overwrite").parquet(s"$work/oracle/$key")
    else {
      val qe = df.queryExecution
      val sc = spark.sparkContext
      val (rows, hash) = (sc.longAccumulator, sc.longAccumulator)
      SQLExecution.withNewExecutionId(qe, Some("drain")) {
        qe.toRdd.foreachPartition { it =>
          var (n, h) = (0L, 0L)
          while (it.hasNext) { h += it.next().hashCode; n += 1 }
          rows.add(n)
          hash.add(h)
        }
      }
      if (key != null) outputs(key) = (rows.value.longValue, hash.value.longValue)
    }

  /** The seed's fixed order of a run's independent operations. */
  def permute[A](xs: Seq[A]): Seq[A] = new scala.util.Random(order).shuffle(xs)
}
