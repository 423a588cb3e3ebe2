package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[FeatureStore.forgetKeys]] — the right-to-be-forgotten request
  * across both tiers: offline history (every version of the key) and
  * the bucket-partitioned online store (including a bucket emptied
  * outright). Other keys' records and latest values survive
  * untouched; txn replay is a no-op; a never-ingested key changes
  * nothing.
  */
class FeatureStoreForgetSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore() = FeatureStore(
    spark,
    Files.createTempDirectory("fs-forget").toString,
    keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

  private val batch = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100.0),
    (1L, ts("2024-01-03 09:30:00"), 50.0),
    (2L, ts("2024-01-02 12:00:00"), 200.0),
    (3L, ts("2024-01-04 08:00:00"), 300.0),
  ).toDF("customer_id", "purchase_timestamp", "avg_purchase_value")

  test("forgetKeys removes every version from history, the online " +
      "view, and keeps other keys' latest values intact") {
    val fs = freshStore()
    fs.ingest(batch)
    fs.forgetKeys(Seq(1L))
    // history: BOTH of key 1's versions are gone, others complete
    assert(fs.offline().filter($"customer_id" === 1L).isEmpty)
    assert(fs.offline().count() === 2L)
    // online store: its bucket rewritten without the key
    assert(fs.online().filter($"customer_id" === 1L).isEmpty)
    val latest = fs.latestView().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(latest === Map(2L -> 200.0, 3L -> 300.0))
    // point lookup: cold start, not a stale record
    assert(fs.getRecord(1L).isEmpty)
  }

  test("forgetKeys rewrites only the touched serving buckets and " +
      "clears a bucket emptied outright") {
    val fs = freshStore()
    fs.ingest(batch)
    assert(fs.online().filter($"customer_id" === 1L).count() === 1L)
    fs.forgetKeys(Seq(1L))
    assert(fs.online().filter($"customer_id" === 1L).isEmpty)
    val latest = fs.online().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(latest === Map(2L -> 200.0, 3L -> 300.0))
    // forget the remaining keys too: their buckets empty and clear
    fs.forgetKeys(Seq(2L, 3L))
    assert(fs.online().isEmpty)
    assert(fs.offline().isEmpty)
  }

  test("txn replay is a no-op; forgetting a never-ingested key " +
      "changes nothing") {
    val fs = freshStore()
    fs.ingest(batch)
    val vBefore = fs.offlineVersions.last
    fs.forgetKeys(Seq(99L)) // never ingested: stats prune to no file
    assert(fs.offlineVersions.last === vBefore)
    assert(fs.offline().count() === 4L)
    fs.forgetKeys(Seq(2L), txnId = Some("forget-2"))
    val vAfter = fs.offlineVersions.last
    assert(fs.offline().count() === 3L)
    fs.forgetKeys(Seq(2L), txnId = Some("forget-2")) // replay
    assert(fs.offlineVersions.last === vAfter)
    assert(fs.latestView().count() === 2L)
  }

  test("a cached serving record stops serving after forgetKeys — the " +
      "read-through signature catches the bucket rewrite with no " +
      "explicit invalidate") {
    val fs = freshStore()
    fs.ingest(batch)
    val cache = new ServingCache(spark, s"${fs.conf.path}/serving",
      "customer_id", 64, 16, dropCols = Seq("_seq"))
    assert(cache.get(1L).nonEmpty)
    assert(cache.get(2L).nonEmpty)
    fs.forgetKeys(Seq(1L))
    // the bucket rewrite (or removal) changed the dir signature: the
    // NEXT get reloads and the forgotten customer is gone — serving a
    // stale cached record here would be the compliance failure
    assert(cache.get(1L).isEmpty)
    assert(cache.get(2L).nonEmpty) // other keys keep serving
  }

  test("the HTTP get_record wire 404s for a forgotten customer — the " +
      "reference's own serving API at the end of the forget chain") {
    val fs = freshStore()
    fs.ingest(batch)
    val ep = new ServingEndpoint(fs.servingCache())
    val port = ep.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val r = client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      assert(get("/record?id=1")._1 === 200)
      fs.forgetKeys(Seq(1L))
      assert(get("/record?id=1") === ((404, """{"Record":[]}""")))
      assert(get("/record?id=2")._1 === 200)
    } finally ep.stop()
  }

  test("forgetKeys leaves compliance-reportable audit evidence on the " +
      "history commit — key count and rows removed, never the keys") {
    val fs = freshStore()
    fs.ingest(batch)
    fs.forgetKeys(Seq(1L), txnId = Some("rtbf-9"))
    val log = fs.offlineAuditLog()
      .as[(Long, String, String, String, String)].collect().toSeq
    val del = log.filter(_._2 == "delete")
    assert(del.nonEmpty && del.forall(_._3 == "rtbf-9"))
    assert(del.exists(r => r._4 == "key_count" && r._5 == "1"))
    // customer 1 had TWO history records — both counted as removed
    assert(del.exists(r => r._4 == "rows_removed" && r._5 == "2"))
    assert(del.exists(r => r._4 == "key_col" && r._5 == "customer_id"))
    // the forgotten identifier itself never appears in the ledger
    assert(!del.exists(r => r._4 != "key_count" && r._5 == "1"))
  }

  test("history deletion is time-travel-visible and vacuumable, like " +
      "any takedown") {
    val fs = freshStore()
    fs.ingest(batch)
    val vBefore = fs.offlineVersions.last
    fs.forgetKeys(Seq(3L))
    assert(fs.offlineAt(vBefore).count() === 4L) // pre-forget snapshot
    assert(fs.offline().count() === 3L)
  }

  test("forget on an EMPTY store is a complete no-op; guards reject " +
      "empty and NULL key lists") {
    val fs = freshStore()
    fs.forgetKeys(Seq(1L)) // nothing ingested anywhere: no-op
    assert(fs.offlineVersions.isEmpty)
    intercept[IllegalArgumentException](fs.forgetKeys(Nil))
    intercept[IllegalArgumentException](fs.forgetKeys(Seq(1L, null)))
    // layout delete on a dir with no committed buckets: no-op
    graft.operators.Layout.deleteFromBucketPartitioned(
      spark, java.nio.file.Files.createTempDirectory("no-bkts").toString,
      "customer_id", Seq(1L), 64)
  }

  test("a type-mismatched key fails loudly instead of silently " +
      "missing its bucket — the cast-to-NULL guard on the serving " +
      "delete") {
    val fs = freshStore()
    fs.ingest(batch)
    // "nope" cannot cast to the stored Long key type: without the
    // guard xxhash64 degenerates to the seed hash, targets a wrong
    // bucket, and the forget silently removes nothing
    val e = intercept[IllegalArgumentException] {
      graft.operators.Layout.deleteFromBucketPartitioned(
        spark, s"${fs.conf.path}/serving", "customer_id",
        Seq("nope"), 64)
    }
    assert(e.getMessage.contains("cast"))
    // nothing was deleted by the failed call
    assert(fs.online().count() === 3L)
    // a castable STRING form of a real key still works (cast, not
    // type-equality, is the contract)
    graft.operators.Layout.deleteFromBucketPartitioned(
      spark, s"${fs.conf.path}/serving", "customer_id", Seq("2"), 64)
    assert(fs.online().filter($"customer_id" === 2L).isEmpty)
    assert(fs.online().count() === 2L)
  }
}
