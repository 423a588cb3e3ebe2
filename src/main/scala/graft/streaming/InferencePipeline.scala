package graft.streaming

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Pin
import graft.pipeline.{EventEnricher, LoyaltyModel}
import graft.store.FeatureStore

/** Port of the real-time inference loop (`core/inference.py:227-281`)
  * as a Structured Streaming micro-batch pipeline:
  *
  *   readStream → per-batch (sort by event time → enrich against the
  *   online view (J1/P4) → batch-score (M3) → upsert into the feature
  *   store (S6) → append scored rows to a sink; rows that fail
  *   validation go to a dead-letter sink (T4)).
  *
  * The reference processes <2 events/s (sequential `iterrows` +
  * simulated delays); here each micro-batch is one broadcast join +
  * one model transform + one parquet append, so throughput is bounded
  * by batch overhead, not per-event calls. Checkpointing supplies
  * at-least-once redelivery (the reference's retry queue,
  * `inference.py:270-279`); the DLQ reproduces its log-and-drop of
  * twice-failed events.
  */
object InferencePipeline {

  /** Validation predicate — the "processing failure" surface. The
    * reference fails an event on a 5% coin flip (`inference.py:255-259`,
    * simulation); our engine's real failure mode is malformed input.
    */
  def isValid(c: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    c.map(_.isNotNull).reduce(_ && _)

  /** Process one micro-batch. Returns (scored, deadLetters). Exposed
    * separately so batch-vs-stream equivalence is testable without a
    * streaming harness.
    */
  def processBatch(
      batch: DataFrame,
      store: FeatureStore,
      model: LinearRegressionModel,
      useServing: Boolean = false,
      txnId: Option[String] = None): (DataFrame, DataFrame) = {
    import batch.sparkSession.implicits._
    val valid = batch.filter(
      isValid($"customer_id", $"purchase_timestamp", $"purchase_value"))
    val dead = batch.filter(
      !isValid($"customer_id", $"purchase_timestamp", $"purchase_value"))
    // no per-batch sort needed: enrichment and scoring are
    // row-independent, and the store's MERGE applies newest-wins by
    // event time regardless of row order
    // serving mode reads/writes the bucket-partitioned layout: the
    // upsert then costs O(batch) bucket rewrites, not O(#keys) — the
    // steady-state streaming shape at 100 TB
    val enriched = EventEnricher.enrich(valid,
      if (useServing) store.serving() else store.online())
    // snapshot before the upsert: the upsert rewrites the online view
    // or the serving buckets this plan reads. A lineage-preserving
    // persist is not enough — the overwrite re-caches plans over the
    // rewritten path, so the sink would carry scores recomputed from
    // the post-merge features (and a recompute could hit deleted files)
    val scored = Pin.snapshot(LoyaltyModel.score(model, enriched))
    // the A3 state transition on write-back
    // (`update_customer_features`, feature_store_manager.py:260-264):
    // existing → new_avg = (old_avg + new)/2 for purchase value and
    // (predicted) loyalty; new customer → avg seeds from this event
    // (feature_store_manager.py:227-230, with the PREDICTED score,
    // inference.py:218-225). Per-batch MERGE granularity: a key seen
    // twice in one micro-batch gets one newest-event transition, not
    // two sequential ones (divergence documented in SURVEY.md §7
    // risks; exact per-event sequencing is StreamingStateFold).
    val upserts = scored.select(
      $"customer_id", $"purchase_timestamp",
      $"latest_purchase_value",
      when($"known_customer", ($"avg_purchase_value" + $"purchase_value") / 2)
        .otherwise($"purchase_value").as("avg_purchase_value"),
      when($"known_customer", ($"avg_loyalty_score" + $"predicted_loyalty_score") / 2)
        .otherwise($"predicted_loyalty_score").as("avg_loyalty_score"),
      $"predicted_loyalty_score".as("latest_loyalty_score"))
    if (useServing) store.ingestServing(upserts, txnId)
    else store.putRecords(upserts, txnId)
    (scored, dead)
  }

  /** Launch the streaming query over an event stream with the given
    * sinks. `events` must be a streaming DataFrame with columns
    * (customer_id, purchase_timestamp, purchase_value).
    *
    * The store upsert inside each micro-batch carries the transaction
    * id `<txnPrefix>-<batchId>`: `foreachBatch` is at-least-once (a
    * crash after the store write but before the checkpoint advances
    * re-delivers the batch with the SAME id), and the store's
    * idempotent-replay fence turns that into exactly-once history
    * commits. `txnPrefix` must be unique per logical stream writing
    * into the store (the store is single-writer anyway); batch ids
    * alone restart from the checkpoint, so the pair is stable across
    * recovery.
    */
  def run(
      events: DataFrame,
      store: FeatureStore,
      model: LinearRegressionModel,
      scoredSink: String,
      dlqSink: String,
      checkpoint: String,
      useServing: Boolean = false,
      txnPrefix: String = "inference"): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (scored, dead) = processBatch(batch, store, model, useServing,
          txnId = Some(s"$txnPrefix-$batchId"))
        scored.write.mode("append").parquet(scoredSink)
        if (!dead.isEmpty) dead.write.mode("append").parquet(dlqSink)
        Pin.release(scored)
      }
      .start()
}
