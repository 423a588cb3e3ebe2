package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.store.FeatureStore

/** Deletion requests arriving ON THE BUS — the Kafka-tombstone /
  * GDPR-queue shape: ingest batches and forget batches interleave
  * through the SAME exactly-once discipline (ingest through the
  * offset-fenced sink semantics via txn ids; forgets fenced by the
  * same offline txn ledger, keyed on the tombstone batch id), so
  * replaying either kind of batch is a no-op and the final
  * two-tier state equals applying the unique operations once, in
  * order.
  */
class TombstoneIngestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("interleaved ingest and tombstone batches, both replayed: " +
      "final state == each unique operation applied once in order") {
    val fs = FeatureStore(
      spark,
      Files.createTempDirectory("fs-tomb").toString,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

    def batchDf(rows: Seq[(Long, String, Double)]) =
      rows.map { case (k, t, v) => (k, ts(t), v) }
        .toDF("customer_id", "purchase_timestamp", "avg_purchase_value")

    // b1: customers 1-3 land
    fs.ingest(batchDf(Seq(
      (1L, "2024-01-01 10:00:00", 100.0),
      (2L, "2024-01-01 11:00:00", 200.0),
      (3L, "2024-01-01 12:00:00", 300.0))), txnId = Some("ing-1"))
    // t1: customer 2 asks to be forgotten
    fs.forgetKeys(Seq(2L), txnId = Some("tomb-1"))
    // b1 REPLAYED (at-least-once bus): must not resurrect customer 2
    fs.ingest(batchDf(Seq(
      (1L, "2024-01-01 10:00:00", 100.0),
      (2L, "2024-01-01 11:00:00", 200.0),
      (3L, "2024-01-01 12:00:00", 300.0))), txnId = Some("ing-1"))
    // b2: customer 2 GENUINELY returns (new txn) + customer 4 lands
    fs.ingest(batchDf(Seq(
      (2L, "2024-02-01 09:00:00", 250.0),
      (4L, "2024-02-01 10:00:00", 400.0))), txnId = Some("ing-2"))
    // t1 REPLAYED: must not delete the returned customer 2
    fs.forgetKeys(Seq(2L), txnId = Some("tomb-1"))
    // t2: customer 1 forgotten
    fs.forgetKeys(Seq(1L), txnId = Some("tomb-2"))
    fs.forgetKeys(Seq(1L), txnId = Some("tomb-2")) // t2 replayed

    // reference: ops applied once in order → 2 (returned, 250.0),
    // 3 (300.0), 4 (400.0); customer 1 gone everywhere
    val want = Map(2L -> 250.0, 3L -> 300.0, 4L -> 400.0)
    val serving = fs.online().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(serving === want)
    val latest = fs.latestView().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(latest === want)
    // history: customer 1 fully gone; customer 2 only the RETURN row
    // (the pre-tombstone history stayed deleted through the replays)
    assert(fs.offline().filter($"customer_id" === 1L).isEmpty)
    assert(fs.offline().filter($"customer_id" === 2L).count() === 1L)
    assert(fs.offline().count() === 3L)
  }
}
