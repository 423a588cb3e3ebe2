package graft.store

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Layout

/** ElastiCache-shaped keyed serving tier, Spark-native (the
  * reference's scaling plan puts ElastiCache in front of the online
  * store for sub-ms lookups, `Scaling and monitoring strategies.md:
  * 19-21`). The Spark-native answer keeps the BUCKET as the cache
  * unit: the online table is a [[VersionedTable]] partitioned into key
  * buckets (`pmod(xxhash64(key), nBuckets)`, one bucket per data file,
  * recorded in its manifest entry), so a point lookup needs exactly
  * one bucket — this tier memoizes whole buckets in a bounded
  * driver-side LRU and serves repeated lookups from memory with NO
  * Spark job at all.
  *
  * Read-through consistency: each get lists `_manifests` (one
  * filesystem LIST, no data read) and, once per new version, parses
  * that manifest. A bucket's signature is its [[ServingCache.BucketPlan]]
  * — its file list in the current manifest plus the manifest schema.
  * A merge that rewrites the bucket replaces its files and an
  * add-column commit widens the schema, so the bucket reloads exactly
  * when its rows can have changed. That gives read-your-merges
  * semantics without TTL guesswork; `invalidate()` drops everything
  * for the blunt version.
  *
  * Capacity: memory = maxCachedBuckets × bucket size. At 100 TB the
  * knob pairs with `nBuckets` — more buckets ⇒ smaller cache units ⇒
  * a hot-set cache that holds the hot KEYS' buckets, exactly how a
  * production keyed cache shards.
  *
  * Concurrency is [[BucketCache]]'s: a cold miss loads under its
  * bucket's own latch, so it never blocks hits (or other buckets'
  * misses), and concurrent misses on the same bucket coalesce into
  * one load.
  */
class ServingCache(spark: SparkSession, servingDir: String,
    keyCol: String, nBuckets: Int = 64, maxCachedBuckets: Int = 16,
    dropCols: Seq[String] = Nil) {
  import ServingCache.BucketPlan

  require(nBuckets > 0 && maxCachedBuckets > 0,
    "nBuckets and maxCachedBuckets must be positive")

  private final class CachedBucket(val plan: BucketPlan, val rows: Map[String, Row])

  private val cache = new BucketCache[CachedBucket](maxCachedBuckets)

  private val table = new VersionedTable(spark, servingDir)

  /** One parsed online manifest: its schema and per-bucket files. */
  private final class Snapshot(val version: Long, val schema: StructType,
      val buckets: Map[Int, Seq[String]]) {
    val keyType: DataType = schema(keyCol).dataType
  }

  @volatile private var snap: Snapshot = null

  /** (hits, misses) — a miss is any get that (re)loaded its bucket. */
  def stats: (Long, Long) = cache.stats

  /** Currently resident buckets — the health/metrics surface's view
    * of cache warmth (≤ maxCachedBuckets by the LRU bound).
    */
  def loadedBuckets: Int = cache.size

  def invalidate(): Unit = cache.invalidate()

  /** The current online snapshot: one LIST of `_manifests`, and one
    * manifest parse per new version. None before the first commit.
    */
  private def current(): Option[Snapshot] = table.currentVersion.map { v =>
    val s = snap
    if (s != null && s.version == v) s
    else synchronized {
      if (snap != null && snap.version == v) snap
      else {
        val m = table.readManifest(v)
        val parsed = new Snapshot(v, m.schema,
          m.files.flatMap(f => table.partitionOf(f, FeatureStore.BucketCol)
            .map(_ -> f.path)).groupMap(_._1)(_._2))
        if (snap == null || snap.version < v) snap = parsed
        parsed
      }
    }
  }

  /** The stored key type. It never changes once the table exists (a
    * commit cannot change a column's type), so after the first
    * snapshot it costs no filesystem call.
    */
  private def keyType: DataType = Option(snap).orElse(current()).map(_.keyType)
    .getOrElse(throw new IllegalStateException(
      s"$servingDir: the online table has no committed version"))

  /** The bucket `Layout.keyBucket` assigns this key — computed by
    * evaluating the SAME Catalyst expression driver-side, so no 1-row
    * Spark job per lookup.
    */
  def bucketOf(id: Any): Int = {
    val kt = keyType
    val key = Layout.storedKey(id, kt).getOrElse(throw new IllegalArgumentException(
      s"id '$id' cannot be normalized to key type ${kt.simpleString}"))
    Layout.keyBucketOf(key, kt, nBuckets)
  }

  /** The bucket load itself — one read of the bucket's manifest files
    * under the manifest schema (the same files `FeatureStore.getRecord`
    * plans). A test seam: the concurrency spec overrides it with a
    * gated slow load to prove a cold miss never blocks other buckets'
    * hits.
    */
  protected def loadBucket(b: Int, plan: BucketPlan): Map[String, Row] =
    if (plan.files.isEmpty) Map.empty
    else spark.read.schema(plan.schema)
      .parquet(plan.files.map(f => s"$servingDir/$f"): _*).drop(dropCols: _*)
      .collect().map(r => r.getAs[Any](keyCol).toString -> r).toMap

  /** Point lookup. Cache hit: zero Spark jobs, one LIST, no waiting on
    * any in-flight load. Miss: one bucket load under that bucket's own
    * latch, memoized for next time. A table with no committed version
    * (never merged, or only a crashed merge's orphan files) has no
    * keys: None.
    */
  def get(id: Any): Option[Row] = for {
    s <- current()
    key <- Layout.storedKey(id, s.keyType) // unkeyable: no stored row
    b = Layout.keyBucketOf(key, s.keyType, nBuckets)
    plan = BucketPlan(s.buckets.getOrElse(b, Nil), s.schema)
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
