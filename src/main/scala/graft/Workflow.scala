package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{FeatureEngineering, LoyaltyModel}
import graft.store.FeatureStore
import graft.streaming.InferencePipeline

/** End-to-end smoke of the full reference workflow (`main.py:97-134`,
  * SURVEY.md §3.1→3.3) on driver test data: engineer features from a
  * historical split of `events` → ingest into the feature store →
  * train OLS → replay the remaining events through the streaming
  * inference pipeline → report final state.
  *
  * Usage: runMain graft.Workflow [sfDir] [workDir]
  */
object Workflow {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-workflow").toString)
    val spark = graft.core.Sessions.local(appName = "graft-workflow")
    try run(spark, sfDir, workDir) finally spark.stop()
  }

  /** The workflow on `spark`, reading `sfDir`'s `events` and writing
    * under `workDir`: the store at `store/`, the model at `model/`,
    * the scored sink at `scored/`. Throws if the CDC reconstruction
    * disagrees with the full history.
    */
  def run(spark: SparkSession, sfDir: String, workDir: String): Unit = {
    import spark.implicits._

    // events → the reference's purchase schema (FIXTURES.md §B:
    // user_id/ts/value ↔ customer_id/purchase_timestamp/purchase_value;
    // a derived bounded score plays loyalty_score)
    val events = graft.core.Tables.load(spark, sfDir, "events")
      .select(
        $"user_id".as("customer_id"),
        $"ts".as("purchase_timestamp"),
        $"value".as("purchase_value"),
        (lit(1.0) + pmod($"event_id", lit(90)) / lit(10.0)).as("loyalty_score"),
        $"event_id")
    // 70/30 historical/inference split by time (reference README.md:33-36)
    val splitTs = events.select(
      percentile_approx($"purchase_timestamp".cast("double"), lit(0.7), lit(10000)))
      .head().getDouble(0)
    val hist = events.filter($"purchase_timestamp".cast("double") <= splitTs)
    val live = events.filter($"purchase_timestamp".cast("double") > splitTs)

    // §3.1 engineer + ingest
    val feats = FeatureEngineering.engineerFeatures(
      hist.drop("event_id"))
    val store = FeatureStore(spark, s"$workDir/store",
      "customer_id", "purchase_timestamp")
    store.ingest(feats)
    println(s"[workflow] ingested ${feats.count()} customer features; " +
      s"offline rows=${store.offline().count()}")

    // §3.2 train + persist + reload
    val model = LoyaltyModel.train(feats)
    LoyaltyModel.save(model, s"$workDir/model")
    val loaded = LoyaltyModel.load(s"$workDir/model")
    println(s"[workflow] trained OLS coef=${loaded.coefficients} " +
      s"intercept=${loaded.intercept}")

    // §3.3 streaming replay of the live split (file source → micro-batches)
    val eventDir = s"$workDir/incoming"
    live.select($"customer_id", $"purchase_timestamp", $"purchase_value")
      .repartition(4).write.mode("overwrite").parquet(eventDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(eventDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(eventDir)
    val t0 = System.nanoTime()
    val q = InferencePipeline.run(stream, store, loaded,
      s"$workDir/scored", s"$workDir/dlq", s"$workDir/ckpt")
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val scored = spark.read.parquet(s"$workDir/scored")
    val n = scored.count()
    println(f"[workflow] streamed $n events in $secs%.1f s " +
      f"(${n / secs}%.0f events/s); online keys=${store.online().count()}")
    val sample = scored.orderBy($"customer_id", $"purchase_timestamp")
      .select($"customer_id", $"purchase_value", $"predicted_loyalty_score")
      .head(3).toSeq
    println(s"[workflow] sample scored rows: $sample")

    // per-event-faithful state-store path (StatefulInference) over the
    // same live split, for throughput comparison with the MERGE path
    import graft.streaming.StatefulInference
    import graft.streaming.StatefulInference.PEvent
    val t1 = System.nanoTime()
    val stateStream = spark.readStream
      .schema(spark.read.parquet(eventDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(eventDir)
      .as[PEvent]
    val sq = StatefulInference(stateStream,
      loaded.coefficients.toArray, loaded.intercept)
      .writeStream.format("parquet")
      .option("path", s"$workDir/state_scored")
      .option("checkpointLocation", s"$workDir/state_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    val secs2 = (System.nanoTime() - t1) / 1e9
    val n2 = spark.read.parquet(s"$workDir/state_scored").count()
    println(f"[workflow] stateful path: $n2 events in $secs2%.1f s " +
      f"(${n2 / secs2}%.0f events/s)")

    // CDC leg: the streaming replay committed one offline version per
    // micro-batch; an incremental consumer reads ONLY the delta since
    // the version it last saw (manifest fast path — O(delta) files)
    val vs = store.offlineVersions
    val vMid = vs(vs.length / 2)
    val delta = store.offlineChangesSince(vMid)
    val nDelta = delta.count()
    val reconstructed = store.offlineAt(vMid).count() + nDelta
    val full = store.offline().count()
    require(reconstructed == full,
      s"CDC reconstruction $reconstructed != full history $full")
    println(s"[workflow] CDC: ${vs.length} versions; replaying from " +
      s"v$vMid yields $nDelta delta rows; snapshot+delta == $full rows ✓")
  }
}
