package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore() = FeatureStore(
    spark,
    Files.createTempDirectory("fs-test").toString,
    keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

  private val batch1 = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100.0),
    (1L, ts("2024-01-03 09:30:00"), 50.0),
    (2L, ts("2024-01-02 12:00:00"), 200.0),
  ).toDF("customer_id", "purchase_timestamp", "avg_purchase_value")

  test("ingest + latestView: one row per key, newest wins") {
    val fs = freshStore()
    fs.ingest(batch1)
    val latest = fs.latestView().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(latest == Map(1L -> 50.0, 2L -> 200.0))
    assert(fs.offline().count() == 3) // full history retained
  }

  test("upsert updates existing key and inserts new key (MERGE semantics)") {
    val fs = freshStore()
    fs.ingest(batch1)
    fs.putRecords(Seq(
      (1L, ts("2024-01-05 08:00:00"), 75.0),  // matched → update
      (3L, ts("2024-01-04 11:00:00"), 10.0),  // not matched → insert
    ).toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    val latest = fs.latestView().collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(latest == Map(1L -> 75.0, 2L -> 200.0, 3L -> 10.0))
    assert(fs.offline().count() == 5) // offline store is append-only
  }

  test("event-time ties broken by ingest sequence (later batch wins)") {
    val fs = freshStore()
    fs.ingest(Seq((1L, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    fs.putRecords(Seq((1L, ts("2024-01-01 10:00:00"), 2.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    assert(fs.latestView().head().getDouble(2) == 2.0)
  }

  test("a batch with a NEW feature column widens online AND serving views") {
    val fs = freshStore()
    fs.ingest(batch1)
    // second batch carries a new column the first never had
    fs.ingest(Seq((1L, ts("2024-01-06 10:00:00"), 60.0, 7L))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value",
        "visit_count"))
    // online view: widened, old rows null, new row carries the value
    val online = fs.online()
    assert(online.columns.contains("visit_count"))
    val byKey = online.collect()
      .map(r => r.getLong(r.fieldIndex("customer_id")) ->
        (if (r.isNullAt(r.fieldIndex("visit_count"))) None
         else Some(r.getLong(r.fieldIndex("visit_count"))))).toMap
    assert(byKey == Map(1L -> Some(7L), 2L -> None))
    // the new column reached the rewritten bucket's files too
    assert(fs.getRecord(1L).get.getAs[Long]("visit_count") == 7L)
    // a bucket the widening ingest did NOT rewrite: the cache tier
    // serves its row with the new column, null — as getRecord does
    val cache = fs.servingCache()
    assert(cache.bucketOf(2L) != cache.bucketOf(1L))
    val cached = cache.get(2L).get
    assert(cached.schema.fieldNames.contains("visit_count"),
      s"cached row lacks the widened column: ${cached.schema}")
    assert(cached.isNullAt(cached.fieldIndex("visit_count")))
    assert(fs.getRecord(2L).get.isNullAt(
      fs.getRecord(2L).get.fieldIndex("visit_count")))
    // and a NARROWER later batch appends with nulls instead of throwing
    fs.ingest(Seq((4L, ts("2024-01-07 10:00:00")))
      .toDF("customer_id", "purchase_timestamp"))
    assert(fs.online().filter($"customer_id" === 4L).count() == 1)
  }

  test("same-key same-event-time duplicates within ONE batch dedup deterministically") {
    // both rows share (key, ts, _seq); the content-hash tiebreak must
    // pick the same survivor on every run and in either row order —
    // on the bootstrap, on a merge into an initialized layout (through
    // ingest and through the layout-only mergeServing), in the point
    // lookup, and in the full-history view
    val a = (9L, ts("2024-02-01 00:00:00"), 111.0)
    val b = (9L, ts("2024-02-01 00:00:00"), 222.0)
    val seed = Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
    def df(rows: Seq[(Long, Timestamp, Double)]) =
      rows.toDF("customer_id", "purchase_timestamp", "avg_purchase_value")
    def viaIngest(seeded: Boolean, dup: Seq[(Long, Timestamp, Double)]) = {
      val fs = freshStore()
      if (seeded) fs.ingest(df(seed))
      fs.ingest(df(dup))
      Seq(fs.online().filter($"customer_id" === 9L).head().getDouble(2),
        fs.getRecord(9L).get.getDouble(2),
        fs.latestView().filter($"customer_id" === 9L).head().getDouble(2))
    }
    def viaMerge(dup: Seq[(Long, Timestamp, Double)]) = {
      val fs = freshStore()
      fs.mergeServing(df(seed))
      fs.mergeServing(df(dup))
      Seq(fs.getRecord(9L).get.getDouble(2))
    }
    val picks = Seq(Seq(a, b), Seq(b, a)).map(dup =>
      viaIngest(seeded = false, dup) ++ viaIngest(seeded = true, dup) ++
        viaMerge(dup))
    assert(picks.flatten.distinct.size == 1,
      s"survivor depends on path or row order (a,b) / (b,a): $picks")
  }

  test("seq recovery survives a zero-row history with no sidecar") {
    val dir = Files.createTempDirectory("fs-test").toString
    val fs1 = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    fs1.ingest(batch1.limit(0)) // zero-row version; history now exists
    // history but no committed bucket: lookups miss, never a missing path
    assert(fs1.getRecord(1L).isEmpty)
    assert(!fs1.recordExists(1L))
    // simulate the lost-sidecar crash window the scaladoc documents
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$dir/_seq"), false)
    val fs2 = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    fs2.ingest(batch1) // must recover to seq 0, not NPE
    assert(fs2.latestView().count() == 2)
  }

  test("point lookup + existence probe (get_record round-trip, reference tests.py:12-36)") {
    val fs = freshStore()
    fs.ingest(batch1)
    val rec = fs.getRecord(1L)
    assert(rec.isDefined && rec.get.getDouble(2) == 50.0)
    assert(fs.recordExists(2L))
    assert(!fs.recordExists(99L))
    assert(fs.getRecord(99L).isEmpty)
  }

  test("getRecord and recordExists run no Spark job and agree with the " +
      "serving cache and online()") {
    val fs = freshStore()
    fs.ingest(batch1)
    // the new column reaches key 1's rewritten bucket only
    fs.ingest(Seq((1L, ts("2024-01-06 10:00:00"), 60.0, 7L))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value",
        "visit_count"))
    val cache = fs.servingCache()
    assert(cache.bucketOf(2L) != cache.bucketOf(1L))
    // a Long id, an Int literal against the Long key, an unkeyable
    // string and a missing key
    val ids = Seq[Any](1L, 2, "not-a-number", 99L)
    var got = Seq.empty[(Option[Row], Boolean)]
    assert(countJobs { got = ids.map(id => fs.getRecord(id) -> fs.recordExists(id)) } == 0)
    val online = fs.online().collect()
      .map(r => r.getAs[Long]("customer_id") -> r).toMap
    val want = Seq(online.get(1L), online.get(2L), None, None)
    for (((id, (rec, exists)), w) <- ids.zip(got).zip(want)) {
      assert(rec == w, s"getRecord($id)")
      assert(exists == w.nonEmpty, s"recordExists($id)")
      assert(cache.get(id) == w, s"servingCache().get($id)")
    }
    assert(got.head._1.get.getAs[Long]("visit_count") == 7L)
    val two = got(1)._1.get
    assert(two.isNullAt(two.fieldIndex("visit_count")))
  }

  test("compaction is idempotent and online() matches latestView()") {
    val fs = freshStore()
    fs.ingest(batch1)
    fs.putRecords(Seq((1L, ts("2024-01-05 08:00:00"), 75.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    def history() = fs.offline()
      .orderBy($"customer_id", $"purchase_timestamp").collect().toSeq
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"customer_id").collect().toSeq
    val before = history()
    fs.compactOffline()
    val once = history()
    fs.compactOffline()
    val twice = history()
    assert(once == before, "compaction changed the history rows")
    assert(twice == once, "a second compaction changed the history rows")
    assert(fs.offlineVersions.size == 4) // two ingests + two compactions
    assert(byKey(fs.online()) == byKey(fs.latestView()))
    assert(byKey(fs.online()).map(r => r.getLong(0) -> r.getDouble(2)) ==
      Seq(1L -> 75.0, 2L -> 200.0))
  }

  test("a crashed first merge leaves only serving/_temporary: the " +
      "next ingest bootstraps the layout from the history") {
    val dir = Files.createTempDirectory("fs-crash").toString
    val fs = FeatureStore(spark, dir,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    fs.ingest(batch1)
    // simulate a crash inside the first merge: its data dir was
    // written (a partial file) and version 0 claimed, but no manifest
    // was published
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/serving"), true)
    val partial = java.nio.file.Paths.get(dir, "serving", "data", "c_crashed", "kb=3")
    Files.createDirectories(partial)
    Files.writeString(partial.resolve("part-00000.parquet"), "garbage")
    val manifests = java.nio.file.Paths.get(dir, "serving", "_manifests")
    Files.createDirectories(manifests)
    Files.writeString(manifests.resolve("v_0.claim"), "data/c_crashed")
    // before the repair: reads fall back to the history view
    assert(fs.getRecord(2L).map(_.getDouble(2)) == Some(200.0))
    assert(fs.recordExists(1L))
    assert(fs.online().count() == 2L)
    fs.ingest(Seq((3L, ts("2024-01-04 11:00:00"), 10.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    val byKey = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy($"customer_id").collect().toSeq
    assert(byKey(fs.online()) == byKey(fs.latestView()))
    assert(fs.online().count() == 3L)
    // a key known only from the history is served from a bucket now,
    // and no read touches the crashed merge's orphan file
    assert(fs.getRecord(1L).map(_.getDouble(2)) == Some(50.0))
    val files = fs.online().filter($"customer_id" === 1L).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("kb=")))
    assert(!fs.online().inputFiles.exists(_.contains("c_crashed")))
    assert(fs.servingCache().get(1L).map(_.getDouble(2)) == Some(50.0))
  }

  test("offline date scan: predicate reaches the parquet footers") {
    val fs = freshStore()
    fs.ingest(batch1)
    val pruned = fs.offline().filter($"event_date" === "2024-01-01")
    assert(pruned.count() == 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_date"),
      s"event_date filter must push into the scan:\n$plan")
  }

  test("offlineRange prunes whole commits at the manifest level") {
    val fs = freshStore()
    fs.ingest(Seq((1L, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    fs.ingest(Seq((2L, ts("2024-02-01 10:00:00"), 2.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    val jan = fs.offlineRange("2024-01-01", "2024-01-31")
    assert(jan.count() == 1)
    // manifest pruning drops the February COMMIT before any file
    // planning: no February file may appear in the scan's input set
    val allFiles = fs.offline().inputFiles.toSet
    assert(allFiles.size >= 2)
    assert(jan.inputFiles.toSet.subsetOf(allFiles))
    assert(jan.inputFiles.length < allFiles.size,
      "February's commit directory should not be planned at all")
  }

  test("time travel: version N-1 readable and unchanged after an upsert") {
    val fs = freshStore()
    fs.ingest(batch1)                       // version 0
    val v0 = fs.offlineVersions.max
    fs.putRecords(Seq((1L, ts("2024-01-05 08:00:00"), 75.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    assert(fs.offlineVersions.size == 2)
    assert(fs.offlineAt(v0).count() == 3)   // pre-upsert history intact
    assert(fs.offline().count() == 4)
    // the old snapshot never contains the upserted row
    assert(fs.offlineAt(v0)
      .filter($"avg_purchase_value" === 75.0).isEmpty)
  }

  test("concurrent append isolation: a pinned snapshot is immune to later ingests") {
    val fs = freshStore()
    fs.ingest(batch1)
    val pinned = fs.offline() // snapshot of version 0, resolved now
    assert(pinned.count() == 3)
    fs.ingest(Seq((9L, ts("2024-03-01 10:00:00"), 9.0))
      .toDF("customer_id", "purchase_timestamp", "avg_purchase_value"))
    // re-executing the pinned frame replans from version 0's manifest
    assert(pinned.count() == 3)
    assert(fs.offline().count() == 4)
  }

  test("idempotent replay: re-ingesting a committed txnId is a no-op") {
    val fs = freshStore()
    fs.ingest(batch1, txnId = Some("batch-2024-01-05"))
    val versions = fs.offlineVersions
    val latest = fs.latestView().collect().toSet
    fs.ingest(batch1, txnId = Some("batch-2024-01-05")) // replay
    assert(fs.offline().count() == 3)
    assert(fs.offlineVersions == versions)
    assert(fs.latestView().collect().toSet == latest)
    // a NEW txn still commits
    fs.ingest(batch1, txnId = Some("batch-2024-01-06"))
    assert(fs.offline().count() == 6)
  }

  test("CDC changesSince: append chain reads only the added commits") {
    val vt = new VersionedTable(spark,
      Files.createTempDirectory("vt-cdc").toString)
    val v0 = vt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = vt.commit(Seq((3L, "c")).toDF("id", "v"))
    vt.commit(Seq((4L, "d")).toDF("id", "v"))
    // v0 → current: exactly the two appended rows, tagged insert
    val d = vt.changesSince(v0)
    assert(d.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).toSet == Set((3L, "c", "insert"), (4L, "d", "insert")))
    // fast path: only the added commit dirs are planned — the v0
    // snapshot's files never enter the scan
    val v0Files = vt.readAt(v0).inputFiles.toSet
    assert(d.inputFiles.toSet.intersect(v0Files).isEmpty)
    // v1 → v1: empty diff, schema preserved
    val none = vt.changesSince(v1, Some(v1))
    assert(none.isEmpty && none.columns.toSeq == Seq("id", "v", "change_type"))
  }

  test("CDC after replace: row-level fallback emits delete/insert pairs") {
    val vt = new VersionedTable(spark,
      Files.createTempDirectory("vt-cdc2").toString)
    val v0 = vt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // compaction rewrites the snapshot: row 2 dropped, row 3 added,
    // row 1 carried over unchanged
    val v1 = vt.replace(Seq((1L, "a"), (3L, "c")).toDF("id", "v"))
    val d = vt.changesSince(v0, Some(v1)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d == Set((3L, "c", "insert"), (2L, "b", "delete")))
    // multiset semantics: a duplicated row diffs by count
    val v2 = vt.commit(Seq((1L, "a")).toDF("id", "v")) // second copy of (1,a)
    val d2 = vt.rowDiff(v1, v2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(d2 == Seq((1L, "a", "insert")))
  }

  test("writer claim protocol: a dangling claim wastes its number, nothing else") {
    val fs = freshStore()
    fs.ingest(batch1) // v0
    // simulate a crashed writer: claim v1 but never publish it
    val dir = new java.io.File(
      fs.conf.path + "/offline/_manifests")
    assert(new java.io.File(dir, "v_1.claim").createNewFile())
    fs.ingest(batch1) // must skip to v2
    assert(fs.offlineVersions == Seq(0L, 2L))
    assert(fs.offline().count() == 6)
  }
}
