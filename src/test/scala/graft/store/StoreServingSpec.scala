package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The incremental serving layout: merges rewrite only touched
  * key-buckets, lookups prune to one bucket dir, semantics equal the
  * full-table online merge.
  */
class StoreServingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore() = FeatureStore(
    spark,
    Files.createTempDirectory("fs-serving").toString,
    keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

  private def bucketFiles(dir: String): Map[String, Set[(String, Long)]] = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(dir)).filter(_.isDirectory)
      .map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath)
            .map(f => (f.getPath.getName, f.getModificationTime)).toSet
      }.toMap
  }

  test("merge upserts: newest wins, new keys insert, others untouched") {
    val s = freshStore()
    s.mergeServing(Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (2L, ts("2024-01-02 10:00:00"), 200.0),
    ).toDF("customer_id", "purchase_timestamp", "v"))
    s.mergeServing(Seq(
      (2L, ts("2024-01-05 10:00:00"), 222.0), // update
      (3L, ts("2024-01-03 10:00:00"), 300.0), // insert
    ).toDF("customer_id", "purchase_timestamp", "v"))
    val got = s.serving().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 100.0, 2L -> 222.0, 3L -> 300.0))
  }

  test("stale event loses to stored newer record (MERGE matched branch)") {
    val s = freshStore()
    s.mergeServing(Seq((1L, ts("2024-06-01 00:00:00"), 5.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 9.0)) // older
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(s.serving().head().getDouble(2) == 5.0)
  }

  test("a merge rewrites ONLY the bucket dirs its keys hash into") {
    val s = freshStore()
    // seed many keys so several buckets exist
    s.mergeServing((1L to 200L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val dir = s"${s.conf.path}/serving"
    val before = bucketFiles(dir)
    assert(before.size > 10) // many kb= dirs
    // single-key merge
    s.mergeServing(Seq((7L, ts("2024-02-01 00:00:00"), 7.7))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val after = bucketFiles(dir)
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    // and the data is correct
    assert(s.getServingRecord(7L).head().getDouble(2) == 7.7)
  }

  test("point lookup scans exactly one bucket partition") {
    val s = freshStore()
    s.mergeServing((1L to 100L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val q = s.getServingRecord(42L)
    assert(q.head().getDouble(2) == 42.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("kb"),
      s"expected kb partition filter in:\n$plan")
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
  }

  test("inference in serving mode == versioned-online mode (final state)") {
    import graft.pipeline.{FeatureEngineering, LoyaltyModel}
    import graft.streaming.InferencePipeline
    val hist = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0, 5.0),
      (1L, ts("2024-01-03 09:30:00"), 50.0, 6.0),
      (2L, ts("2024-01-02 12:00:00"), 200.0, 9.0),
    ).toDF("customer_id", "purchase_timestamp", "purchase_value", "loyalty_score")
    val feats = FeatureEngineering.engineerFeatures(hist)
    val model = LoyaltyModel.train(feats.unionByName(feats.withColumn(
      "latest_loyalty_score", $"latest_loyalty_score" + 0.1)))
    val batches = Seq(
      Seq((1L, ts("2024-02-01 00:00:00"), 80.0),
        (9L, ts("2024-02-01 00:00:00"), 40.0)),
      Seq((2L, ts("2024-02-02 00:00:00"), 10.0),
        (9L, ts("2024-02-03 00:00:00"), 60.0)))
      .map(_.toDF("customer_id", "purchase_timestamp", "purchase_value"))
    def runMode(useServing: Boolean) = {
      val s = freshStore()
      s.ingest(feats) // serving() falls back to the history view
                      // until the first serving merge
      batches.foreach { b =>
        val (scored, _) = InferencePipeline.processBatch(b, s, model, useServing)
        graft.core.Pin.release(scored)
      }
      val view = if (useServing) s.serving() else s.online()
      view.orderBy($"customer_id").collect()
        .map(r => (r.getLong(0),
          r.getAs[Double]("avg_purchase_value"),
          r.getAs[Double]("avg_loyalty_score"),
          r.getAs[Double]("latest_loyalty_score"))).toSeq
    }
    assert(runMode(useServing = true) == runMode(useServing = false))
  }

  test("seq counter recovers from the serving table after a restart") {
    val dir = Files.createTempDirectory("fs-serving").toString
    val s1 = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    val t0 = ts("2024-01-01 00:00:00")
    s1.mergeServing(Seq((1L, t0, 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    s1.mergeServing(Seq((1L, t0, 2.0)) // same ts — _seq breaks the tie
      .toDF("customer_id", "purchase_timestamp", "v"))
    // "restart": a fresh store instance over the same path (no offline
    // dir exists — serving-only usage). A reset counter would stamp
    // _seq 0 and lose to the stored _seq 1 row.
    val s2 = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    s2.mergeServing(Seq((1L, t0, 3.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(s2.serving().head().getDouble(2) == 3.0)
  }

  test("seq never reuses a number after restart, even when the " +
      "highest-seq batch left no surviving rows") {
    val dir = Files.createTempDirectory("fs-serving").toString
    val s1 = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    s1.mergeServing(Seq((1L, ts("2024-06-01 00:00:00"), 1.0)) // seq 0
      .toDF("customer_id", "purchase_timestamp", "v"))
    // seq 1 — older event time, every row superseded: no _seq 1 trace
    // survives in the table, only the sidecar remembers it
    s1.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 2.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val s2 = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    s2.mergeServing(Seq((2L, ts("2024-01-01 00:00:00"), 3.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    // a survivors-only recovery would stamp 1 (reusing the dead
    // batch's number); the sidecar continues at 2
    val stamped = spark.read.parquet(s"$dir/serving")
      .filter($"customer_id" === 2L)
      .select($"_seq").as[Long].head()
    assert(stamped == 2L)
  }

  test("point lookup with an Int literal against a Long key still hits") {
    val s = freshStore()
    s.mergeServing(Seq((42L, ts("2024-01-01 00:00:00"), 4.2))
      .toDF("customer_id", "purchase_timestamp", "v"))
    // Int 42 must hash to the same bucket as the stored Long 42
    assert(s.getServingRecord(42).head().getDouble(2) == 4.2)
  }

  test("serving merge is idempotent (at-least-once replay safe)") {
    val s = freshStore()
    val batch = Seq((1L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, ts("2024-01-02 00:00:00"), 2.0))
      .toDF("customer_id", "purchase_timestamp", "v")
    s.mergeServing(batch)
    val once = s.serving().orderBy($"customer_id").collect().toSeq
    s.mergeServing(batch) // replay
    val twice = s.serving().orderBy($"customer_id").collect().toSeq
    assert(once.map(_.getLong(0)) == twice.map(_.getLong(0)))
    assert(once.map(_.getDouble(2)) == twice.map(_.getDouble(2)))
  }
}
