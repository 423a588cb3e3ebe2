package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

/** The ElastiCache-role cache tier over the bucketed serving layout:
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
      val want = s.getServingRecord(k).head()
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
    val want = s.serving().sparkSession.read
      .parquet(s"${s.conf.path}/serving")
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
    val cache = new ServingCache(spark, s"${s.conf.path}/serving",
        "customer_id", 64, 16, dropCols = Seq("_seq")) {
      private val bA = bucketOf(kA)
      override protected def loadBucket(b: Int, sig: String) = {
        if (b != bA) { // every OTHER bucket's load hangs until released
          slowStarted.countDown()
          assert(releaseSlow.await(30, java.util.concurrent.TimeUnit.SECONDS))
        }
        super.loadBucket(b, sig)
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
    val cache = new ServingCache(spark, s"${s.conf.path}/serving",
        "customer_id", 64, 16, dropCols = Seq("_seq")) {
      override protected def loadBucket(b: Int, sig: String) = {
        loads.incrementAndGet()
        Thread.sleep(200) // widen the race window
        super.loadBucket(b, sig)
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
    // simulate the crash: servingDir exists but holds only the
    // committer's scratch dir — no kb= partitions, no parquet footers
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"${s.conf.path}/serving", "_temporary"))
    assert(s.servingCache().get(1L).isEmpty,
      "bare-existence probe would throw 'unable to infer schema' here")
    // and the layout repairs on the next merge as documented
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    assert(s.servingCache().get(1L).get.getAs[Double]("v") == 1.0)
  }

  test("a double-keyed layout serves lookups; unkeyable ids are misses") {
    val dir = Files.createTempDirectory("fs-cache-dbl").toString
    graft.operators.Layout.mergeBucketPartitioned(
      s"$dir/serving",
      Seq((1.5, ts("2024-01-01 00:00:00"), 10.0), (2.5, ts("2024-01-01 00:00:00"), 20.0))
        .toDF("k", "purchase_timestamp", "v"),
      "k", Seq("purchase_timestamp"), nBuckets = 8)
    val cache = new ServingCache(spark, s"$dir/serving", "k", nBuckets = 8)
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
    // probe keys until one hashes to a bucket with no kb= dir
    val missing = (2L to 300L).find(k =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${s.conf.path}/serving", s"kb=${cache.bucketOf(k)}")))
    assert(missing.nonEmpty, "some key must hash to an unwritten bucket")
    assert(cache.get(missing.get).isEmpty)
  }
}
