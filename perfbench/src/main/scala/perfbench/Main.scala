package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables
import graft.std.SessionMemo

/** Runs one workload in this JVM and writes the raw record (set-up
  * samples, per-iteration samples, traced spans, checks, provenance) as
  * JSON for `perfbench/run.py`, which derives the metrics.
  *
  * Run shape: [[Setups]] set-ups (session start, then a probe that opens
  * every input table; the first is timed from the process start the
  * caller passes as `--t0-ms`, the later ones restart the session), one
  * untimed capture iteration whose outputs are checked, one untimed warm
  * iteration, then measured iterations until `--seconds` have passed and
  * at least [[MinIters]] ([[MinTracedIters]] when traced) ran.
  * With `--trace 1` untraced and traced iterations alternate, so one run
  * yields both the per-layer split and the tracing overhead.
  *
  * Exit code 0 only when every operation and check succeeded and the
  * record was written.
  */
object Main {
  final case class Args(workload: String, data: String, work: String,
                        seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, t0Ms: Long, record: String)

  val Setups = 4
  /** Measured iterations at least: one untraced, or when traced four,
    * alternating untraced and traced, so the JIT's last warm-up shows in
    * both kinds instead of biasing the tracing overhead and `other_s`. */
  val MinIters = 1
  val MinTracedIters = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("data"), req("work"), req("seed").toLong,
      req("seconds").toDouble, req("trace") == "1", req("cores").toInt,
      req("t0-ms").toLong, req("record"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.tune(s)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
      .getOrElse(sys.error(s"unknown workload ${a.workload}"))
    val outcome = new Outcome
    val record = mutable.LinkedHashMap.empty[String, Any]
    val tracer = new Tracer
    var spark: SparkSession = null
    try spark = measure(a, wl, outcome, record, tracer, s => spark = s)
    catch {
      case NonFatal(e) =>
        outcome.failed += 1
        outcome.failures += s"run aborted: $e"
        e.printStackTrace()
    }
    record("attempted") = outcome.attempted
    record("failed") = outcome.failed
    record("failures") = outcome.failures.toList
    record("checks") = outcome.checks.toList
    Files.write(Paths.get(a.record), Json.write(record).getBytes(StandardCharsets.UTF_8))
    if (spark != null) spark.stop()
    sys.exit(if (outcome.failed == 0 && outcome.attempted > 0) 0 else 1)
  }

  private def measure(a: Args, wl: Workload, outcome: Outcome,
                      record: mutable.Map[String, Any], tracer: Tracer,
                      publish: SparkSession => Unit): SparkSession = {
    new File(a.work, "oracle").mkdirs()
    // set-up: session start + every input table opened and counted
    val setupS = (0 until Setups).map { i =>
      val t0 = if (i == 0) a.t0Ms / 1e3 else System.currentTimeMillis() / 1e3
      val s = session(a)
      publish(s)
      wl.tables.foreach(t => Tables(s, a.data, t).count())
      val dt = System.currentTimeMillis() / 1e3 - t0
      if (i < Setups - 1) s.stop()
      dt
    }
    val spark = SparkSession.active
    spark.sparkContext.addSparkListener(tracer)
    record("setup_s") = setupS
    record("provenance") = Map(
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master, "cores" -> a.cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "data" -> a.data, "seed" -> a.seed, "workload" -> wl.name,
      "seconds" -> a.seconds, "trace" -> a.trace)

    val runStart = Clock.wallS
    // where the run's time went, for the record
    val phases = mutable.LinkedHashMap[String, Any](
      "setup_end_s" -> (System.currentTimeMillis() - a.t0Ms) / 1e3)
    def phase(name: String): Unit = phases(name) = Clock.wallS - runStart
    def iter(id: Int, traced: Boolean, capture: Boolean) =
      new Iter(spark, a.data, a.work, id, traced, capture, a.seed, tracer,
        outcome, runStart)

    // two untimed warm-up iterations: the capture iteration, whose outputs
    // are the checked ones, then one on the measured path (the JIT is
    // still compiling through it: ~20% more process CPU on the loops)
    val cap = iter(0, traced = false, capture = true)
    wl.run(cap)
    phase("capture_s")
    wl.verify(cap, outcome)
    wl.cleanup(cap)
    phase("verify_s")
    val warm = iter(0, traced = false, capture = false)
    wl.run(warm)
    wl.cleanup(warm)
    phase("warm_s")
    record("oracle_sql") = Option(new File(a.work, "oracle").list).toSeq.flatten
      .map(k => k -> SparkEntry.oracleSql(k)).toMap

    val iterations = mutable.ListBuffer.empty[Map[String, Any]]
    val checkedRows = mutable.Map.empty[String, Long]
    val firstHash = mutable.Map.empty[String, Long]
    val t0 = Clock.wallS
    var id = 1
    def enough = Clock.wallS - t0 >= a.seconds && id > (if (a.trace) MinTracedIters else MinIters)
    while (!enough) {
      val traced = a.trace && id % 2 == 0
      val it = iter(id, traced, capture = false)
      val memo0 = memoTotals
      tracer.resetPeaks()
      val (w0, c0) = (Clock.wallS, Clock.cpuS)
      wl.run(it)
      val (w1, c1) = (Clock.wallS, Clock.cpuS)
      BusDrain(spark.sparkContext)
      val memo1 = memoTotals
      val exports = wl match {
        case ClearvueJob =>
          val mb = ClearvueJob.outputMb(it)
          mb.foreach { case (s, v) => it.note(s, "output_mb", v) }
          mb.values.sum
        case _ => 0.0
      }
      // every measured iteration returns the checked rows, or for a
      // drained frame the checked row count and the first iteration's
      // row-hash sum
      it.outputs.foreach {
        case (k, (n: Long, h: Long)) =>
          val rows = checkedRows.getOrElseUpdate(k,
            spark.read.parquet(s"${a.work}/oracle/$k").count())
          val first = firstHash.getOrElseUpdate(k, h)
          outcome.check(s"iter$id.$k", n == rows && h == first,
            s"$n rows with hash sum $h; checked $rows rows, first hash sum $first")
        case (k, rows) =>
          outcome.check(s"iter$id.$k", cap.outputs.get(k).contains(rows),
            "collected rows differ from the checked rows")
      }
      iterations += Map(
        "id" -> id, "traced" -> traced, "wall_s" -> (w1 - w0), "cpu_s" -> (c1 - c0),
        "peak_storage_mb" -> tracer.peakStorageMb, "pins_peak" -> tracer.peakPins,
        "export_mb" -> exports,
        "memo_hits" -> (memo1._1 - memo0._1), "memo_builds" -> (memo1._2 - memo0._2),
        "spans" -> it.spans.map(_.toMap).toList)
      wl.cleanup(it)
      id += 1
    }
    record("iterations") = iterations.toList
    phase("measured_s")
    record("phases") = phases
    spark
  }

  private def memoTotals: (Long, Long) = {
    val c = SessionMemo.counters.values
    (c.map(_._1).sum, c.map(_._2).sum)
  }
}
