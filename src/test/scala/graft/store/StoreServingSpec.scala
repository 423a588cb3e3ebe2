package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The online store's key-bucket table: merges rewrite only touched
  * key buckets, lookups read one bucket's files, readers stay on their
  * snapshot across merges, and the merged table equals the
  * latest-per-key view recomputed from the history.
  */
class StoreServingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore() = FeatureStore(
    spark,
    Files.createTempDirectory("fs-serving").toString,
    keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

  private def onlineTable(s: FeatureStore) =
    new VersionedTable(spark, s"${s.conf.path}/serving")

  /** The current online manifest's files (table-root-relative), by
    * the key bucket each entry records.
    */
  private def bucketFiles(s: FeatureStore): Map[Int, Set[String]] = {
    val t = onlineTable(s)
    t.readManifest(t.currentVersion.get).files
      .groupMap(f => t.partitionOf(f, "kb").get)(_.path)
      .view.mapValues(_.toSet).toMap
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
    val got = s.online().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 100.0, 2L -> 222.0, 3L -> 300.0))
  }

  test("stale event loses to stored newer record (MERGE matched branch)") {
    val s = freshStore()
    s.mergeServing(Seq((1L, ts("2024-06-01 00:00:00"), 5.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 9.0)) // older
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(s.online().head().getDouble(2) == 5.0)
  }

  test("a merge rewrites ONLY the bucket dirs its keys hash into") {
    val s = freshStore()
    // seed many keys so several buckets exist
    s.mergeServing((1L to 200L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val before = bucketFiles(s)
    assert(before.size > 10) // many buckets
    // single-key merge
    s.mergeServing(Seq((7L, ts("2024-02-01 00:00:00"), 7.7))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val after = bucketFiles(s)
    assert(after.keySet == before.keySet)
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed == Set(s.servingCache().bucketOf(7L)),
      s"expected only key 7's bucket to change its manifest entries, got $changed")
    // and the data is correct
    assert(s.getRecord(7L).get.getDouble(2) == 7.7)
  }

  test("point lookup scans exactly one bucket partition") {
    val s = freshStore()
    s.mergeServing((1L to 100L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val files = bucketFiles(s)
    val own = files(s.servingCache().bucketOf(42L))
    assert(own.nonEmpty && files.size > 1)
    // delete every OTHER bucket's data files: the lookup must not
    // need any of them
    val fsys = new Path(s.conf.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (f <- files.values.flatten.toSet -- own)
      assert(fsys.delete(new Path(s"${s.conf.path}/serving/$f"), false), f)
    assert(s.getRecord(42L).map(_.getDouble(2)) == Some(42.0))
  }

  test("readers planned before a merge read the pre-merge snapshot; " +
      "fresh reads see the merge") {
    val s = freshStore()
    s.mergeServing((1L to 50L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val all = s.online()
    val one = s.online().filter($"customer_id" === 7L)
    // plan both scans (file listing included) before the merge
    all.queryExecution.executedPlan
    one.queryExecution.executedPlan
    // a merge into key 7's bucket: replaces that bucket's files
    s.mergeServing(Seq((7L, ts("2024-02-01 00:00:00"), 77.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val pre = (1L to 50L).map(i => i -> i.toDouble).toMap
    assert(byKey(all) == pre)
    assert(byKey(one) == Map(7L -> 7.0))
    assert(byKey(s.online()) == pre.updated(7L, 77.0))
    assert(s.getRecord(7L).map(_.getDouble(2)) == Some(77.0))
  }

  test("inference: the merged online() == latestView() recomputed " +
      "from the full history, after the bootstrap and every batch") {
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
    val s = freshStore()
    // the incremental bucket merge against the full-history window,
    // the reference for what the online store must hold
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(df.col).toIndexedSeq: _*)
        .orderBy($"customer_id").collect().toSeq
    def assertAgrees(step: String) =
      assert(rows(s.online()) == rows(s.latestView()), step)
    s.ingest(feats)
    assertAgrees("bootstrap")
    batches.zipWithIndex.foreach { case (b, i) =>
      val (scored, _) = InferencePipeline.processBatch(b, s, model)
      graft.core.Pin.release(scored)
      assertAgrees(s"batch $i")
    }
    assert(s.online().count() == 3L)
    // both batches landed: 9 is a new key, 1 and 2 were updated
    assert(rows(s.online()).map(_.getAs[Double]("latest_purchase_value")) ==
      Seq(80.0, 10.0, 60.0))
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
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(df.col).toIndexedSeq: _*)
        .orderBy($"customer_id").collect().toSeq
    // serving mode: every batch merges only its touched buckets
    val s = freshStore()
    s.ingestServing(feats)
    batches.foreach { b =>
      val (scored, _) = InferencePipeline.processBatch(b, s, model)
      graft.core.Pin.release(scored)
    }
    // versioned-online mode: the whole online table written in one
    // pass from the final history, as a full-rewrite version would be
    val full = freshStore()
    full.ingest(s.offline().drop("_seq", "event_date"))
    assert(rows(s.serving()) == rows(full.online()))
    assert(s.serving().count() == 3L)
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
    assert(s2.online().head().getDouble(2) == 3.0)
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
    val stamped = new VersionedTable(spark, s"$dir/serving").read()
      .filter($"customer_id" === 2L)
      .select($"_seq").as[Long].head()
    assert(stamped == 2L)
  }

  test("point lookup with an Int literal against a Long key still hits") {
    val s = freshStore()
    s.mergeServing(Seq((42L, ts("2024-01-01 00:00:00"), 4.2))
      .toDF("customer_id", "purchase_timestamp", "v"))
    // Int 42 must hash to the same bucket as the stored Long 42
    assert(s.getRecord(42).map(_.getDouble(2)) == Some(4.2))
  }

  test("serving merge is idempotent (at-least-once replay safe)") {
    val s = freshStore()
    val batch = Seq((1L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, ts("2024-01-02 00:00:00"), 2.0))
      .toDF("customer_id", "purchase_timestamp", "v")
    s.mergeServing(batch)
    val once = s.online().orderBy($"customer_id").collect().toSeq
    s.mergeServing(batch) // replay
    val twice = s.online().orderBy($"customer_id").collect().toSeq
    assert(once.map(_.getLong(0)) == twice.map(_.getLong(0)))
    assert(once.map(_.getDouble(2)) == twice.map(_.getDouble(2)))
  }
}
