package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, lit, xxhash64}

import graft.clean.Clean
import graft.ext.ExtQueries
import graft.fincal.FiscalCalendar
import graft.metrics.Metrics
import graft.queries.{BiQueries, Merged}
import graft.sinks.{Charts, Sinks}
import graft.sources.Tables
import graft.std.{Materialize, Plans, SchemaOps}

/** A closed-loop workload: one client thread calls into the engine's
  * public functions, each call starting when the previous one returned.
  */
sealed trait Workload {
  def name: String
  /** Input tables the set-up probe opens. */
  def tables: Seq[String]
  /** The iteration's work; everything it does is timed. */
  def run(it: Iter): Unit
  /** Untimed housekeeping after an iteration. */
  def cleanup(it: Iter): Unit = Materialize.releaseAll()
  /** Untimed output checks, once per run, on the capture iteration. */
  def verify(it: Iter, outcome: Outcome): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(ClearvueJob, IterativeLoops)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def dirMb(f: File): Double =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirMb).sum
    else f.length / Tracer.MB

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** The paper's batch job: read → star join → clean → fiscal calendar →
  * margins and flags → pin (the session memo) → BI aggregations → the
  * three JSONL collections, the CSV workbook and the XLSX report.
  */
object ClearvueJob extends Workload {
  val name = "clearvue_job"
  val tables = Seq("lineitem", "orders", "customer", "nation", "region", "part")

  val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q1_revenue_by_month" -> BiQueries.revenueByMonth,
    "q1b_gm_join" -> BiQueries.revenueByMonthJoined,
    "q2_top_products" -> (BiQueries.topProducts(_)),
    "q3_sales_region_brand" -> BiQueries.salesByRegionBrand,
    "q4_ar_by_region" -> BiQueries.arByRegion,
    "q5_summary" -> BiQueries.summary)

  val collections: Seq[(String, Seq[String])] = Seq(
    "sales_lines" -> Sinks.SalesLinesColumns,
    "receivables" -> Sinks.ReceivablesColumns,
    "payments" -> Sinks.PaymentsColumns)

  val sinks = Seq("sinks.jsonl" -> "collections", "sinks.csv" -> "workbook",
    "sinks.xlsx" -> "report.xlsx")

  private def out(it: Iter) = new File(s"${it.work}/exports")

  def sheets(c: DataFrame): Seq[(String, DataFrame)] = Seq(
    "summary" -> BiQueries.summary(c),
    "revenue_by_month" -> BiQueries.revenueByMonth(c),
    "top_products" -> BiQueries.topProducts(c),
    "sales_by_region_brand" -> BiQueries.salesByRegionBrand(c),
    "ar_by_region" -> BiQueries.arByRegion(c),
    "quality_issues" -> BiQueries.qualityIssueCounts(c))

  def run(it: Iter): Unit = {
    val (spark, data) = (it.spark, it.data)
    if (it.traced) prefixes(it)
    it.span("std.memo_build")(Merged.cleanedShared(spark, data))
    def cleaned = Merged.cleanedShared(spark, data)
    var planS = 0.0
    var exchanges = 0
    it.span("queries.bi") {
      it.permute(queries).foreach { case (key, q) =>
        val df = q(cleaned)
        if (it.traced) {
          val t0 = Clock.wallS
          df.queryExecution.executedPlan
          planS += Clock.wallS - t0
        }
        it.outputs(key) = df.collect().toSeq
        if (it.traced) exchanges += Plans.health(df).exchanges
        if (it.capture) df.write.mode("overwrite").parquet(s"${it.work}/oracle/$key")
      }
    }
    it.note("queries.bi", "plan_s", planS)
    it.note("queries.bi", "exchanges", exchanges)
    val dir = out(it).getPath
    it.span("sinks.jsonl") {
      it.permute(collections).foreach { case (c, cols) =>
        Sinks.writeJsonl(Sinks.projectCollection(cleaned, cols), s"$dir/collections/$c")
      }
    }
    it.span("sinks.csv")(Sinks.writeWorkbook(sheets(cleaned), s"$dir/workbook"))
    it.span("sinks.xlsx") {
      Charts.writeReportXlsx(sheets(cleaned), BiQueries.revenueByMonth(cleaned),
        BiQueries.topProducts(cleaned), s"$dir/report.xlsx")
    }
  }

  /** Sink output sizes in MB, by span; the XLSX report counts its charts. */
  def outputMb(it: Iter): Map[String, Double] = sinks.map { case (s, f) =>
    val base = new File(out(it), f)
    s -> (Workloads.dirMb(base) +
      (if (s == "sinks.xlsx") Workloads.dirMb(new File(s"${base.getPath}.charts")) else 0.0))
  }.toMap

  /** The lazy prefixes of the memo build, each forced on its own (traced
    * iterations only): the scans the star join reads (its own tables and
    * pruned columns, read in one execution as a union), the join,
    * cleaning, the fiscal calendar and the derived metrics. The frames
    * are built before the spans, so a span holds only the execution;
    * each execution recomputes from the scan, so a stage's self time is
    * its difference from the previous prefix, and the memo build's own
    * (the pin, plus building the frames) is its difference from the last.
    */
  private def prefixes(it: Iter): Unit = {
    val (spark, data) = (it.spark, it.data)
    val merged = Merged.merged(spark, data)
    val scans = merged.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec =>
        (s.relation.location.rootPaths.head.getName.stripSuffix(".parquet"),
          s.requiredSchema.fieldNames.toSeq)
    }
    val reads = scans.map { case (t, cols) =>
      Tables(spark, data, t).select(cols.map(col): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val cleaned = Clean.withEventDate(Clean.parseDates(Clean.castNumerics(
      Clean.normalizeStrings(SchemaOps.dropArtifacts(
        SchemaOps.snakeCaseColumns(merged))))))
    val calendar = FiscalCalendar.withFinCalendar(cleaned)
    val chain = Seq("sources.read" -> reads, "queries.merged" -> merged,
      "clean.pipeline" -> cleaned, "fincal.calendar" -> calendar,
      "metrics.derive" -> Metrics.withAll(calendar))
    chain.foreach { case (name, df) => it.span(name, prefix = true)(it.drain(df)) }
    it.note("sources.read", "scans", scans.map { case (t, c) => s"$t:${c.mkString(",")}" })
    it.note("queries.merged", "exchanges", Plans.health(merged).exchanges)
  }

  override def cleanup(it: Iter): Unit = {
    Merged.releaseShared(it.spark)
    Materialize.releaseAll()
    Workloads.delete(out(it))
  }

  /** Each exported collection, read back with its projection's schema,
    * has the cleaned frame's row count and the same order-independent
    * row hash as its `p14_*` projection.
    */
  override def verify(it: Iter, outcome: Outcome): Unit = {
    val cleaned = Merged.cleanedShared(it.spark, it.data)
    val rows = cleaned.count()
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .groupBy().agg(org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.sum(col("h"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    collections.foreach { case (c, cols) =>
      val expected = Sinks.projectCollection(cleaned, cols)
      val back = it.spark.read.schema(expected.schema)
        .json(s"${out(it).getPath}/collections/$c")
      val (n, h) = digest(back)
      val (en, eh) = digest(expected)
      outcome.check(s"export.$c.rows", n == rows, s"$n rows read back, cleaned has $rows")
      outcome.check(s"export.$c.hash", n == en && h == eh,
        s"read-back hash $h over $n rows vs p14 projection $eh over $en rows")
    }
    outputMb(it).foreach { case (s, mb) =>
      outcome.check(s"$s.output", mb > 0, s"$s wrote no bytes")
    }
  }
}

/** The iterative operators: PageRank and sampled betweenness over the
  * co-purchase chain graph, and the k-means elbow sweep, in the seed's
  * order.
  */
object IterativeLoops extends Workload {
  val name = "iterative_loops"
  val tables = Seq("lineitem", "part", "embeddings")

  val ops: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("ext.graph_pagerank", "x20_pagerank", ExtQueries.pageRank),
    ("ext.graph_betweenness", "x58_betweenness", ExtQueries.betweennessCentrality),
    ("ext.kmeans_elbow", "s26_kmeans_elbow", ExtQueries.kmeansElbow))

  def run(it: Iter): Unit =
    it.permute(ops).foreach { case (span, key, op) =>
      val df = it.span(span) {
        val df = op(it.spark, it.data)
        it.drain(df, key)
        Materialize.releaseAll()
        df
      }
      if (it.traced && span.startsWith("ext.graph_"))
        it.note(span, "exchanges", Plans.health(df).exchanges)
    }
}
