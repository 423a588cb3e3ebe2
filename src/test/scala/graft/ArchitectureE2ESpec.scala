package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.sources.{EventSource, OffsetTrackedSink}
import graft.store.{FeatureStore, VersionedTable}

/** The reference's whole workflow diagram (`Feature Store Test.png`,
  * `README.md:31-78`) as ONE green test, Spark-native end to end:
  *
  *   bus drop-dir → `EventSource` (wire shape) → `OffsetTrackedSink`
  *   (row-wise offset fence, parsed rows via the post-fence transform)
  *   → versioned landing history → incremental serving merge
  *   (the online table's bucket MERGE via `FeatureStore.mergeServing`)
  *   → `ServingCache.get` returning the freshly-merged values
  *
  * — including a DRIVER KILL/RESTART in the middle (fresh checkpoint +
  * fresh sink instance + full bus redelivery), after which every
  * offset must still land exactly once and the cache must serve values
  * matching a batch-computed oracle.
  */
class ArchitectureE2ESpec extends SparkSpec {
  import spark.implicits._

  /** Wire-shaped purchase events: (partition, offset, customer,
    * amount); event time = `offset` minutes after the epoch, so a
    * replayed offset always carries the same purchase_timestamp and a
    * higher offset is a newer purchase.
    */
  private def wire(rows: (Int, Long, Long, Double)*): DataFrame =
    rows.map { case (p, o, c, a) =>
      (p, o, o * 60000000L, c.toString, s"c=$c;a=$a")
    }.toDF("partition", "offset", "ts_us", "key", "value")
      .selectExpr("partition", "offset", "timestamp_micros(ts_us) as ts",
        "key", "value")

  /** The post-fence parse: wire value → typed purchase columns. */
  private def parse(df: DataFrame): DataFrame =
    df.selectExpr(
      "cast(key as bigint) as customer_id",
      "ts as purchase_timestamp",
      "cast(regexp_extract(value, 'a=([0-9.]+)', 1) as double) as amount")

  test("bus → fenced landing → serving merge → cache survives a mid-flight restart") {
    val dropDir = Files.createTempDirectory("e2e-bus").toString
    val landing = new VersionedTable(
      spark, Files.createTempDirectory("e2e-landing").toString)
    val store = FeatureStore(spark,
      Files.createTempDirectory("e2e-store").toString,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

    // ---- leg 1: producer drops a file; ingest loop drains it -------
    wire((0, 0L, 1L, 10.0), (0, 1L, 2L, 20.0), (1, 0L, 3L, 30.0))
      .write.mode("append").parquet(dropDir)
    val sink1 = new OffsetTrackedSink(landing, "bus")
    EventSource.runIngest(
        new EventSource.FileEventSource(dropDir), spark, sink1,
        Files.createTempDirectory("e2e-cp1").toString,
        transform = parse)
      .awaitTermination()
    val v1 = landing.currentVersion.get
    store.mergeServing(landing.read())
    val cache = store.servingCache()
    assert(cache.get(1L).get.getAs[Double]("amount") == 10.0)
    assert(cache.get(3L).get.getAs[Double]("amount") == 30.0)

    // ---- CRASH + RESTART -------------------------------------------
    // the driver dies after sink1's commits but before its checkpoint
    // is trusted: the restarted driver has a FRESH checkpoint and a
    // FRESH sink instance (marks recovered from the landing manifests
    // alone), and the bus redelivers EVERYTHING — plus new offsets,
    // one of which supersedes customer 1's amount
    wire((0, 1L, 2L, 20.0), // pure replay
        (0, 2L, 1L, 11.5),  // new: customer 1, newer purchase
        (1, 1L, 4L, 40.0))  // new: customer 4
      .write.mode("append").parquet(dropDir)
    val sink2 = new OffsetTrackedSink(landing, "bus")
    EventSource.runIngest(
        new EventSource.FileEventSource(dropDir), spark, sink2,
        Files.createTempDirectory("e2e-cp2").toString,
        transform = parse)
      .awaitTermination()

    // exactly-once across the restart: p0 {0,1,2} + p1 {0,1} = 5 rows
    val landed = landing.read()
    assert(landed.count() == 5,
      "every bus offset must land exactly once across the restart")

    // ---- incremental serving merge of the post-restart delta -------
    store.mergeServing(landing.changesSince(v1).drop("change_type"))

    // the cache must serve the freshly-merged values (read-through
    // signature invalidation — no manual invalidate() call)
    assert(cache.get(1L).get.getAs[Double]("amount") == 11.5,
      "cache must surface the newer purchase after the merge")
    assert(cache.get(4L).get.getAs[Double]("amount") == 40.0)

    // ---- batch oracle ----------------------------------------------
    // latest-per-customer computed from the landing history in one
    // batch query; every cached value must match it
    val oracle = landed
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"customer_id")
          .orderBy($"purchase_timestamp".desc)))
      .filter($"_rn" === 1)
      .select($"customer_id", $"amount")
      .as[(Long, Double)].collect().toMap
    assert(oracle.keySet == Set(1L, 2L, 3L, 4L))
    for ((c, amt) <- oracle)
      assert(cache.get(c).get.getAs[Double]("amount") == amt,
        s"cache and batch oracle disagree for customer $c")

    // ---- the over-the-wire leg -------------------------------------
    // the same values served through the Record-shaped HTTP endpoint
    // (the reference's get_record runtime API role) — the full
    // workflow diagram ends at a network lookup, so the test does too
    val ep = new graft.store.ServingEndpoint(cache)
    val port = ep.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      for ((c, amt) <- oracle) {
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/record?id=$c")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200)
        assert(resp.body().contains(
          s""""FeatureName":"amount","ValueAsString":"$amt""""),
          s"endpoint and batch oracle disagree for customer $c")
      }
    } finally ep.stop()
  }

  test("operations leg: checkpoint + compaction + vacuum keep the fence across a restart") {
    // the long-running production lifecycle on the same architecture:
    // steady-state ingest builds mark history; the operator compacts
    // the landing table and vacuums old versions; a restarted driver
    // faces a FULL bus redelivery — and the replay fence must hold
    // even though every original mark-bearing manifest is gone,
    // because checkpointMarks() re-recorded the frontier inside the
    // retained window (retention bounded by checkpoint cadence, not
    // stream lifetime)
    val dropDir = Files.createTempDirectory("e2e-ops-bus").toString
    val landing = new VersionedTable(
      spark, Files.createTempDirectory("e2e-ops-landing").toString)

    wire((0, 0L, 1L, 10.0), (0, 1L, 2L, 20.0), (0, 2L, 1L, 11.0))
      .write.mode("append").parquet(dropDir)
    val sink1 = new OffsetTrackedSink(landing, "bus")
    EventSource.runIngest(
        new EventSource.FileEventSource(dropDir), spark, sink1,
        Files.createTempDirectory("e2e-ops-cp1").toString,
        transform = parse)
      .awaitTermination()                       // v0: rows + marks 0-2
    landing.replace(landing.read())             // v1: compaction
    assert(sink1.checkpointMarks().nonEmpty)    // v2: marks re-record
    // retention reaches the compaction + checkpoint, NOT the ingest
    // manifest that originally carried the marks
    landing.vacuum(retain = 2, graceMs = 0L)
    assert(landing.versions.head >= 1L, "the mark-bearing v0 is gone")

    // restart: fresh checkpoint + fresh sink; the bus redelivers
    // everything plus one new purchase
    wire((0, 3L, 3L, 30.0)).write.mode("append").parquet(dropDir)
    EventSource.runIngest(
        new EventSource.FileEventSource(dropDir), spark,
        new OffsetTrackedSink(landing, "bus"),
        Files.createTempDirectory("e2e-ops-cp2").toString,
        transform = parse)
      .awaitTermination()

    val landed = landing.read()
    assert(landed.count() == 4,
      "full redelivery after compaction+vacuum must stay fenced")
    // and the serving view of the survivors is correct
    val latest = landed
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"customer_id")
          .orderBy($"purchase_timestamp".desc)))
      .filter($"_rn" === 1)
      .select($"customer_id", $"amount")
      .as[(Long, Double)].collect().toMap
    assert(latest == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }
}
