package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.core.Pin
import graft.pipeline.{FeatureEngineering, LoyaltyModel}
import graft.store.FeatureStore

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingStateFold.{Event, KeyResult}

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Event(1, ts("2024-01-01 10:00:00"), 1L, 10.0),
    Event(2, ts("2024-01-02 10:00:00"), 1L, 20.0),
    Event(3, ts("2024-01-03 10:00:00"), 1L, 30.0),
    Event(4, ts("2024-01-01 11:00:00"), 2L, 7.0),
    Event(5, ts("2024-01-02 11:00:00"), 2L, 9.0),
  )

  /** Run the fold over the events split into `splits` micro-batches,
    * return final state per key.
    */
  private def runStream(splits: Seq[Seq[Event]]): Map[Long, (Double, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingStateFold(input.toDS())
      .writeStream.format("memory").queryName("fold_out")
      .outputMode(OutputMode.Update()).start()
    splits.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    // last emitted row per key = final state
    spark.table("fold_out").groupBy($"user_id")
      .agg(last($"folded_avg").as("a"), max($"n").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
  }

  test("stream fold in 1 batch == stream fold in N batches == sequential replay (T1-T3)") {
    // a(1) over 10,20,30: 10 → 15 → 22.5 ; a(2) over 7,9: 7 → 8
    val expected = Map(1L -> (22.5, 3L), 2L -> (8.0, 2L))
    assert(runStream(Seq(events)) == expected)
    assert(runStream(events.grouped(2).toSeq) == expected)
    assert(runStream(events.map(Seq(_))) == expected)
  }

  test("out-of-order within a micro-batch is reordered by (ts, event_id)") {
    val shuffled = Seq(events(2), events(0), events(4), events(1), events(3))
    assert(runStream(Seq(shuffled)) == Map(1L -> (22.5, 3L), 2L -> (8.0, 2L)))
  }

  test("end-to-end micro-batch inference: enrich + score + upsert + DLQ (T4)") {
    val dir = Files.createTempDirectory("infer-test").toString
    val store = FeatureStore(spark, s"$dir/store", "customer_id", "purchase_timestamp")

    // seed the store from engineered historical features
    val hist = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0, 5.0),
      (1L, ts("2024-01-03 09:30:00"), 50.0, 6.0),
      (2L, ts("2024-01-02 12:00:00"), 200.0, 9.0),
    ).toDF("customer_id", "purchase_timestamp", "purchase_value", "loyalty_score")
    val feats = FeatureEngineering.engineerFeatures(hist)
    store.ingest(feats)
    val model = LoyaltyModel.train(feats.unionByName(feats.withColumn(
      "latest_loyalty_score", $"latest_loyalty_score" + 0.1))) // >p rows for OLS

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.lang.Long, Timestamp, java.lang.Double)]
    val stream = input.toDF()
      .toDF("customer_id", "purchase_timestamp", "purchase_value")
    // data must be present before start: AvailableNow snapshots the
    // available offsets when the query starts
    input.addData(
      (1L, ts("2024-02-01 00:00:00"), 80.0),           // known customer
      (9L, ts("2024-02-01 00:00:00"), 40.0),           // cold start
      (null, ts("2024-02-01 00:00:00"), 1.0))          // poison → DLQ
    val q = InferencePipeline.run(stream, store, model,
      s"$dir/scored", s"$dir/dlq", s"$dir/ckpt")
    q.awaitTermination()

    val scored = spark.read.parquet(s"$dir/scored")
    assert(scored.count() == 2)
    assert(scored.columns.contains("predicted_loyalty_score"))
    val dlq = spark.read.parquet(s"$dir/dlq")
    assert(dlq.count() == 1 && dlq.head().isNullAt(0))

    // upsert landed: customer 9 now exists online; customer 1 updated
    // with the A3 pairwise-average transition
    // (feature_store_manager.py:260-264)
    assert(store.recordExists(9L))
    val c1 = store.getRecord(1L).get
    assert(c1.getAs[Double]("latest_purchase_value") == 80.0)
    assert(c1.getAs[Double]("avg_purchase_value") == (75.0 + 80.0) / 2)
    val pred1 = scored.filter($"customer_id" === 1L)
      .head().getAs[Double]("predicted_loyalty_score")
    assert(math.abs(c1.getAs[Double]("avg_loyalty_score") - (5.5 + pred1) / 2) < 1e-12)
    // cold start seeds averages from this event (predicted score,
    // feature_store_manager.py:227-230)
    val c9 = store.getRecord(9L).get
    assert(c9.getAs[Double]("avg_purchase_value") == 40.0)
    val pred9 = scored.filter($"customer_id" === 9L)
      .head().getAs[Double]("predicted_loyalty_score")
    assert(math.abs(c9.getAs[Double]("avg_loyalty_score") - pred9) < 1e-12)
    // offline history is append-only: 2 seed rows + 2 scored rows
    assert(store.offline().count() == 4)
  }

  test("serving-mode inference: the scored sink carries the scores upserted, " +
      "not ones recomputed after the serving merge") {
    val dir = Files.createTempDirectory("infer-serving").toString
    val store = FeatureStore(spark, s"$dir/store", "customer_id", "purchase_timestamp")
    val hist = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0, 5.0),
      (1L, ts("2024-01-03 09:30:00"), 50.0, 6.0),
      (2L, ts("2024-01-02 12:00:00"), 200.0, 9.0),
    ).toDF("customer_id", "purchase_timestamp", "purchase_value", "loyalty_score")
    val feats = FeatureEngineering.engineerFeatures(hist)
    // seed the serving layout, so the batch enriches against the
    // bucket files its own merge then rewrites
    store.ingestServing(feats)
    val model = LoyaltyModel.train(feats.unionByName(feats.withColumn(
      "latest_loyalty_score", $"latest_loyalty_score" + 0.1)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.lang.Long, Timestamp, java.lang.Double)]
    input.addData(
      (1L, ts("2024-02-01 00:00:00"), 80.0),
      (9L, ts("2024-02-01 00:00:00"), 40.0))
    InferencePipeline.run(
      input.toDF().toDF("customer_id", "purchase_timestamp", "purchase_value"),
      store, model, s"$dir/scored", s"$dir/dlq", s"$dir/ckpt",
      useServing = true).awaitTermination()

    // the served A3 transition averages in the score the batch
    // predicted from PRE-merge features; the sink must hold that same
    // score, not one re-derived from the merged row
    val sink1 = spark.read.parquet(s"$dir/scored")
      .filter($"customer_id" === 1L).head().getAs[Double]("predicted_loyalty_score")
    val c1 = store.getServingRecord(1L).head()
    assert(c1.getAs[Double]("latest_loyalty_score") == sink1)
    assert(math.abs(c1.getAs[Double]("avg_loyalty_score") - (5.5 + sink1) / 2) < 1e-12)
  }

  test("micro-batch replay with the same txn id is exactly-once at the store") {
    val dir = Files.createTempDirectory("replay-test").toString
    val store = FeatureStore(spark, s"$dir/store", "customer_id",
      "purchase_timestamp")
    val hist = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0, 5.0),
      (1L, ts("2024-01-03 09:30:00"), 50.0, 6.0),
      (2L, ts("2024-01-02 12:00:00"), 200.0, 9.0),
    ).toDF("customer_id", "purchase_timestamp", "purchase_value",
      "loyalty_score")
    val feats = FeatureEngineering.engineerFeatures(hist)
    store.ingest(feats, txnId = Some("seed"))
    val model = LoyaltyModel.train(feats.unionByName(feats.withColumn(
      "latest_loyalty_score", $"latest_loyalty_score" + 0.1)))
    val batch = Seq((1L, ts("2024-02-01 00:00:00"), 80.0))
      .toDF("customer_id", "purchase_timestamp", "purchase_value")
    // first delivery
    Pin.release(InferencePipeline.processBatch(batch, store, model,
      txnId = Some("stream-0"))._1)
    val versions = store.offlineVersions
    val online = store.online().collect().toSet
    // foreachBatch re-delivery after a crash-before-checkpoint: same
    // batch, same id — must change NOTHING
    Pin.release(InferencePipeline.processBatch(batch, store, model,
      txnId = Some("stream-0"))._1)
    assert(store.offlineVersions == versions)
    assert(store.offline().count() == 3)
    assert(store.online().collect().toSet == online)
    // the A3 transition applied exactly once: avg = (75 + 80) / 2
    assert(store.getRecord(1L).get
      .getAs[Double]("avg_purchase_value") == (75.0 + 80.0) / 2)
  }

  test("compaction + vacuum: history folds to one commit, stranded dirs reclaimed") {
    val dir = Files.createTempDirectory("vacuum-test").toString
    val store = FeatureStore(spark, s"$dir/store", "customer_id",
      "purchase_timestamp")
    def batch(id: Long, v: Double) =
      Seq((id, ts("2024-01-01 10:00:00"), v))
        .toDF("customer_id", "purchase_timestamp", "avg_purchase_value")
    store.ingest(batch(1L, 1.0)) // v0
    store.ingest(batch(2L, 2.0)) // v1
    store.ingest(batch(3L, 3.0)) // v2
    // pure appends: every data dir is still referenced by the newest
    // manifest, so vacuum reclaims nothing (only old manifests drop)
    assert(store.vacuumOffline(retain = 1) == 0)
    assert(store.offlineVersions == Seq(2L))
    assert(store.offline().count() == 3)
    // compaction rewrites the snapshot into one commit (v3); the
    // three append dirs are now unreferenced by the retained version
    store.compactOffline()
    assert(store.offline().count() == 3)
    assert(store.vacuumOffline(retain = 1) == 3)
    assert(store.offlineVersions.size == 1)
    assert(store.offline().count() == 3)
    assert(store.latestView().count() == 3)
  }
}
