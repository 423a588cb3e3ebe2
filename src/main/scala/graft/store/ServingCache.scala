package graft.store

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** ElastiCache-shaped keyed serving tier, Spark-native (the
  * reference's scaling plan puts ElastiCache in front of the online
  * store for sub-ms lookups, `Scaling and monitoring strategies.md:
  * 19-21`). The Spark-native answer keeps the BUCKET as the cache
  * unit: the store's online table is partitioned into key buckets,
  * so a point lookup needs exactly one bucket — this tier memoizes
  * whole buckets in a bounded driver-side LRU and serves repeated
  * lookups from memory with NO Spark job at all. A miss reads the
  * bucket with the store's own loader ([[FeatureStore#readBucket]],
  * the one [[FeatureStore#getRecord]] reads with), also without a
  * Spark job; it holds one bucket in driver memory, which the LRU
  * then keeps.
  *
  * The tier knows nothing of the table's layout: every get plans from
  * the store's shared online snapshot ([[FeatureStore#onlineSnapshot]]),
  * which costs one filesystem LIST of `_manifests` (no data read) and,
  * once per new version, one manifest parse. A bucket's signature is
  * its [[ServingCache.BucketPlan]] — its file list in that snapshot
  * plus the snapshot schema. A merge that rewrites the bucket replaces
  * its files and an add-column commit widens the schema, so the bucket
  * reloads exactly when its rows can have changed. That gives
  * read-your-merges semantics without TTL guesswork; `invalidate()`
  * drops everything for the blunt version.
  *
  * Capacity: memory = maxCachedBuckets × bucket size; more buckets ⇒
  * smaller cache units ⇒ a hot-set cache that holds the hot KEYS'
  * buckets, exactly how a production keyed cache shards.
  *
  * Concurrency is [[BucketCache]]'s: a cold miss loads under its
  * bucket's own latch, so it never blocks hits (or other buckets'
  * misses), and concurrent misses on the same bucket coalesce into
  * one load.
  */
class ServingCache(store: FeatureStore, maxCachedBuckets: Int = 16) {
  import ServingCache.BucketPlan

  private final class CachedBucket(val plan: BucketPlan, val rows: Map[String, Row])

  private val cache = new BucketCache[CachedBucket](maxCachedBuckets)

  /** (hits, misses) — a miss is any get that (re)loaded its bucket. */
  def stats: (Long, Long) = cache.stats

  /** Currently resident buckets — the health/metrics surface's view
    * of cache warmth (≤ maxCachedBuckets by the LRU bound).
    */
  def loadedBuckets: Int = cache.size

  def invalidate(): Unit = cache.invalidate()

  /** The bucket this key hashes into. No filesystem call once the
    * store has parsed a snapshot: the key type and bucket rule never
    * change.
    */
  def bucketOf(id: Any): Int = {
    val s = store.anySnapshot.getOrElse(throw new IllegalStateException(
      s"${store.conf.path}: the online table has no committed version"))
    s.bucketOf(id).getOrElse(throw new IllegalArgumentException(
      s"id '$id' cannot be normalized to key type ${s.keyType.simpleString}"))._2
  }

  /** The bucket load itself — the store's driver-local bucket read, no
    * Spark job. A test seam: the concurrency spec overrides it with a
    * gated slow load to prove a cold miss never blocks other buckets'
    * hits.
    */
  protected def loadBucket(b: Int, plan: BucketPlan): Map[String, Row] =
    store.readBucket(plan)

  /** Point lookup. Cache hit: zero Spark jobs, one LIST, no waiting on
    * any in-flight load. Miss: one bucket load under that bucket's own
    * latch, memoized for next time — also zero Spark jobs. A table
    * with no committed version (never merged, or only a crashed
    * merge's orphan files) and an unkeyable id have no row: None.
    */
  def get(id: Any): Option[Row] = for {
    s <- store.onlineSnapshot()
    (key, b) <- s.bucketOf(id)
    plan = s.plan(b)
    row <- cache.get(b, _.plan == plan)(
      new CachedBucket(plan, loadBucket(b, plan))).rows.get(key.toString)
  } yield row
}

object ServingCache {

  /** What one bucket reads in an online snapshot: its data files
    * (paths relative to the table root) and the snapshot schema.
    */
  final case class BucketPlan(files: Seq[String], schema: StructType)
}
