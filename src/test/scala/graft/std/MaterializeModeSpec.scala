package graft.std

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.ExtQueries

/** The materialize-once contract must hold under BOTH mechanisms: the
  * single-node `localCheckpoint` default and the cluster-safe
  * `persist(DISK_ONLY)` mode (lineage kept ⇒ executor loss recomputes
  * instead of failing). Call sites never see the difference — proven by
  * running the heaviest pinned pipeline (MinHash→LSH→verify, two pins)
  * end-to-end under each mode and comparing rows.
  */
class MaterializeModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("dedup pipeline rows identical under local and disk modes") {
    def run(): Set[(Long, Long, Double)] =
      ExtQueries.minHashLshPairs(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set("spark.graft.materialize.mode", "local")
    val local = try run() finally Materialize.releaseAll()
    spark.conf.set("spark.graft.materialize.mode", "disk")
    val disk = try run() finally {
      Materialize.releaseAll()
      spark.conf.unset("spark.graft.materialize.mode")
    }
    assert(local.nonEmpty)
    assert(local == disk)
  }

  /** r22: the partitioned standing-state pin must (a) return the same
    * rows, (b) leave consumers keyed on the pin key exchange-free —
    * the contract the warm curation lookup joins lean on — and
    * (c) free BOTH its cache entry and the checkpoint RDD under it on
    * releasePin. Proven under both materialize modes (the disk mode
    * skips the checkpoint, so (c)'s RDD half is local-mode-only).
    */
  test("pinUnregisteredBy: same rows, key-partitioned consumers plan " +
    "no exchange, releasePin frees the blocks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
    for (mode <- Seq("local", "disk")) {
      spark.conf.set("spark.graft.materialize.mode", mode)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val p = try Materialize.pinUnregisteredBy(in, col("k"))
      finally spark.conf.unset("spark.graft.materialize.mode")
      assert(p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        in.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        s"rows must survive the $mode pin")
      // a groupBy on the pin key must satisfy its distribution from
      // the cached repartition — zero shuffle exchanges in the plan
      val agg = p.groupBy(col("k")).agg(count(lit(1)))
      agg.write.format("noop").mode("overwrite").save()
      assert(graft.sources.Bucketing.exchangeCount(agg) == 0,
        s"$mode-mode pin must make key-grouped consumers exchange-free")
      Materialize.releasePin(p)
      assert(spark.sparkContext.getPersistentRDDs.keySet
        .diff(before).isEmpty,
        s"releasePin must free every block the $mode pin created")
    }
  }

  test("releaseAll drops localCheckpoint blocks") {
    import spark.implicits._
    val pinned = Materialize.once(Seq(1, 2, 3).toDF("v"))
    val rddId = pinned.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  /** Release is best-effort for ordinary failures only: a pin whose
    * release throws a non-fatal exception must not keep the pins after
    * it alive (or fail the query that released them), but an OOM or an
    * interrupt must not be swallowed on the way out.
    */
  test("a non-fatal release failure is contained; a fatal one propagates") {
    import spark.implicits._
    Materialize.register(() => throw new IllegalStateException("gone"))
    val pinned = Materialize.once(Seq(1, 2).toDF("v"))
    val rddId = pinned.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "the pin after the failing release must still be freed")
    Materialize.register(() => throw new OutOfMemoryError("simulated"))
    intercept[OutOfMemoryError](Materialize.releaseAll())
    intercept[InterruptedException](
      Materialize.releaseQuietly(throw new InterruptedException()))
    assert(Materialize.pinCount == 0)
  }
}
