package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.SparkSpec

/** The ElastiCache-role cache tier over the bucketed online table:
  * correct values, zero-job repeat lookups, read-through invalidation
  * on merge, bounded LRU eviction, and hash agreement with the
  * layout's own bucketing.
  */
class ServingCacheSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore() = FeatureStore(
    spark,
    Files.createTempDirectory("fs-cache").toString,
    keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

  test("cache lookups match the layout's pruned scan; repeats are hits") {
    val s = freshStore()
    s.mergeServing((1L to 100L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val cache = s.servingCache()
    for (k <- Seq(1L, 7L, 63L, 100L)) {
      val got = cache.get(k).get
      val want = s.online().filter($"customer_id" === k).head()
      assert(got.getAs[Double]("v") == want.getAs[Double]("v"), s"key $k")
    }
    val (h0, m0) = cache.stats
    // repeats of the same keys: all hits, no further bucket loads
    for (k <- Seq(1L, 7L, 63L, 100L)) assert(cache.get(k).nonEmpty)
    val (h1, m1) = cache.stats
    assert(m1 == m0, "repeat lookups must not reload any bucket")
    assert(h1 == h0 + 4)
    assert(cache.get(9999L).isEmpty, "unknown key in an existing bucket")
  }

  test("a serving merge invalidates exactly via the signature (read-through)") {
    val s = freshStore()
    s.mergeServing(Seq((5L, ts("2024-01-01 00:00:00"), 50.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val cache = s.servingCache()
    assert(cache.get(5L).get.getAs[Double]("v") == 50.0)
    // newer event merges in-place into the same bucket dir
    s.mergeServing(Seq((5L, ts("2024-06-01 00:00:00"), 55.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(cache.get(5L).get.getAs[Double]("v") == 55.0,
      "stale cached bucket must reload after the merge")
  }

  test("LRU keeps at most maxCachedBuckets buckets and stays correct") {
    val s = freshStore()
    s.mergeServing((1L to 200L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val cache = s.servingCache(maxCachedBuckets = 2)
    // touch many distinct buckets to force eviction churn
    val keys = (1L to 60L)
    keys.foreach(k => assert(cache.get(k).get.getAs[Double]("v") == k.toDouble))
    // correctness survives eviction: re-read an early key
    assert(cache.get(1L).get.getAs[Double]("v") == 1.0)
    val (_, misses) = cache.stats
    assert(misses > 2, "eviction must have forced reloads")
  }

  test("driver-side bucket hash agrees with Layout.keyBucket") {
    val s = freshStore()
    s.mergeServing((1L to 50L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val cache = s.servingCache()
    val want = s.online()
      .select($"customer_id",
        graft.operators.Layout.keyBucket("customer_id", 64).as("kb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (k <- 1L to 50L)
      assert(cache.bucketOf(k) == want(k), s"bucket mismatch for key $k")
  }

  test("a cold bucket load never blocks hits on already-cached buckets") {
    // round-8 verdict #1: the old get() held the global lock across the
    // parquet collect, so one cold-bucket load stalled EVERY concurrent
    // lookup. Gate one bucket's load on a latch and prove a hit on a
    // different, already-cached bucket completes while the load hangs.
    val s = freshStore()
    s.mergeServing((1L to 200L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val kA = 1L
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val releaseSlow = new java.util.concurrent.CountDownLatch(1)
    val cache = new ServingCache(s, 16) {
      private val bA = bucketOf(kA)
      override protected def loadBucket(b: Int, plan: ServingCache.BucketPlan) = {
        if (b != bA) { // every OTHER bucket's load hangs until released
          slowStarted.countDown()
          assert(releaseSlow.await(30, java.util.concurrent.TimeUnit.SECONDS))
        }
        super.loadBucket(b, plan)
      }
    }
    assert(cache.get(kA).get.getAs[Double]("v") == 1.0) // bucket A cached
    // a key in a DIFFERENT bucket: its load will hang on the latch
    val kB = (2L to 200L).find(k => cache.bucketOf(k) != cache.bucketOf(kA)).get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val slow = pool.submit(new java.util.concurrent.Callable[Option[Double]] {
        def call() = cache.get(kB).map(_.getAs[Double]("v"))
      })
      assert(slowStarted.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the cold load must have started")
      // while the cold load hangs: the cached-bucket hit must complete
      val hit = pool.submit(new java.util.concurrent.Callable[Option[Double]] {
        def call() = cache.get(kA).map(_.getAs[Double]("v"))
      })
      assert(hit.get(5, java.util.concurrent.TimeUnit.SECONDS) == Some(1.0),
        "a hit on a cached bucket must not wait for another bucket's load")
      assert(!slow.isDone, "the gated load must still be in flight")
      releaseSlow.countDown()
      assert(slow.get(30, java.util.concurrent.TimeUnit.SECONDS)
        == Some(kB.toDouble))
    } finally { releaseSlow.countDown(); pool.shutdownNow(): Unit }
  }

  test("concurrent misses on the SAME bucket coalesce into one load") {
    val s = freshStore()
    s.mergeServing((1L to 100L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val cache = new ServingCache(s, 16) {
      override protected def loadBucket(b: Int, plan: ServingCache.BucketPlan) = {
        loads.incrementAndGet()
        Thread.sleep(200) // widen the race window
        super.loadBucket(b, plan)
      }
    }
    // two keys in the SAME bucket, requested concurrently
    val k1 = 1L
    val k2 = (2L to 100L).find(k => cache.bucketOf(k) == cache.bucketOf(k1)).get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Option[Double]] {
        def call() = cache.get(k1).map(_.getAs[Double]("v"))
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Option[Double]] {
        def call() = cache.get(k2).map(_.getAs[Double]("v"))
      })
      assert(f1.get(30, java.util.concurrent.TimeUnit.SECONDS) == Some(1.0))
      assert(f2.get(30, java.util.concurrent.TimeUnit.SECONDS) == Some(k2.toDouble))
      assert(loads.get() == 1,
        "the second miss must reuse the first's load (double-check)")
    } finally pool.shutdownNow(): Unit
  }

  test("an unparseable id against a numeric key is None, not NumberFormatException") {
    val s = freshStore()
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val cache = s.servingCache()
    assert(cache.get("not-a-number").isEmpty)
    assert(cache.get("").isEmpty)
    assert(cache.get("1").nonEmpty, "a parseable string id still resolves")
  }

  test("a never-merged serving layout yields None, not PATH_NOT_FOUND") {
    val s = freshStore()
    assert(s.servingCache().get(1L).isEmpty)
  }

  test("a crashed first merge's _temporary-only dir yields None, not a 500") {
    val s = freshStore()
    // simulate a crash inside the first merge: an orphan data dir with
    // a partial file and a pending claim on version 0, no manifest
    val orphan = java.nio.file.Paths.get(
      s"${s.conf.path}/serving", "data", "c_crashed", "kb=3")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-00000.parquet"), "garbage")
    val manifests = java.nio.file.Paths.get(s"${s.conf.path}/serving", "_manifests")
    java.nio.file.Files.createDirectories(manifests)
    java.nio.file.Files.writeString(manifests.resolve("v_0.claim"), "data/c_crashed")
    assert(s.servingCache().get(1L).isEmpty,
      "a claim without a manifest is no committed version")
    // and the layout repairs on the next merge as documented
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(s.servingCache().get(1L).get.getAs[Double]("v") == 1.0)
  }

  test("a NULL-keyed row does not break lookups of the keys sharing its bucket") {
    val s = freshStore()
    s.mergeServing(((None +: (1L to 200L).map(Option(_))).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.fold(-1.0)(_.toDouble))))
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(s.online().filter($"customer_id".isNull).count() == 1)
    val cache = s.servingCache(maxCachedBuckets = 64)
    for (k <- 1L to 200L) {
      assert(cache.get(k).map(_.getAs[Double]("v")) == Some(k.toDouble), s"key $k")
      assert(s.getRecord(k).map(_.getAs[Double]("v")) == Some(k.toDouble), s"key $k")
    }
  }

  test("a double-keyed layout serves lookups; unkeyable ids are misses") {
    val fs = FeatureStore(spark,
      Files.createTempDirectory("fs-cache-dbl").toString,
      keyCol = "k", eventTimeCol = "purchase_timestamp")
    fs.mergeServing(
      Seq((1.5, ts("2024-01-01 00:00:00"), 10.0), (2.5, ts("2024-01-01 00:00:00"), 20.0))
        .toDF("k", "purchase_timestamp", "v"))
    val cache = fs.servingCache()
    assert(cache.get("1.5").get.getAs[Double]("v") == 10.0)
    assert(cache.get(2.5).get.getAs[Double]("v") == 20.0)
    assert(cache.get("not-a-number").isEmpty,
      "unparseable id must be a miss, not an exception")
  }

  test("an empty (never-merged) bucket yields None, not an error") {
    val s = freshStore()
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    val cache = s.servingCache()
    // probe keys until one hashes to a bucket with no manifest entry
    val t = new VersionedTable(spark, s"${s.conf.path}/serving")
    val written = t.readManifest(t.currentVersion.get).files
      .flatMap(t.partitionOf(_, "kb")).toSet
    assert(written.size == 1)
    val missing = (2L to 300L).find(k => !written(cache.bucketOf(k)))
    assert(missing.nonEmpty, "some key must hash to an unwritten bucket")
    assert(cache.get(missing.get).isEmpty)
  }

  test("concurrent real loads of distinct buckets from 8 threads equal the " +
      "serial loads (one shared reader)") {
    val s = freshStore()
    s.mergeServing((1L to 400L).map(i =>
        (i, new Timestamp(1704067200000L + i * 1000003L), i.toDouble, s"name-$i"))
      .toDF("customer_id", "purchase_timestamp", "v", "name"))
    val keys = (1L to 400L)
    val serialCache = s.servingCache(maxCachedBuckets = 64)
    val serial = keys.map(k => k -> serialCache.get(k).get).toMap
    val cache = s.servingCache(maxCachedBuckets = 64)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // one task per bucket, all released at once
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = keys.groupBy(cache.bucketOf).values.toSeq.map { ks =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Long, Option[Row])]] {
          def call() = { start.await(); ks.map(k => k -> cache.get(k)) }
        })
      }
      start.countDown()
      val got = futures.flatMap(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.size === keys.size)
      for ((k, row) <- got) assert(row === Some(serial(k)), s"key $k")
      assert(cache.stats._2 === futures.size.toLong, "one load per bucket")
    } finally pool.shutdownNow(): Unit
  }
}
