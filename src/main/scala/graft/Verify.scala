package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero
  * when any query failed, after dumping all the others. */
object Verify {
  /** Run every dump in order, logging a failed one and going on to the
    * next, freeing each one's pins; returns the names that failed.
    */
  private[graft] def dumpAll(dumps: Seq[(String, () => Unit)]): Seq[String] =
    dumps.flatMap { case (name, dump) =>
      val failed =
        try { dump(); None }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // free this query's materialize-once pins (see Bench)
      graft.std.Materialize.releaseAll()
      failed
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.sources.Tables.tune(spark) // join-strategy confs, see scaladoc
    spark.sparkContext.setLogLevel("WARN")
    // see Bench: pin release intentionally discards truncated lineage
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=t24,s7 dumps a comma-separated subset (local
    // iteration; SparkEntry.keyMatcher is the shared rule). The oracle
    // json is filtered to match so a subset compare doesn't report
    // missing dirs.
    val selectedKey: String => Boolean =
      sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.keyMatcher)
        .getOrElse(_ => true)
    val failed = dumpAll(SparkEntry.queries.toSeq
      .filter(e => selectedKey(e._1)).map { case (name, fn) =>
        name -> (() => fn(spark, sfDir).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
      })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selectedKey(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // free the session memos (see graft.std.SessionMemo) before stop
    graft.std.SessionMemo.releaseSession(spark)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
