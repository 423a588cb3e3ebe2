package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, DecimalType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, StringType}

/** ElastiCache-shaped keyed serving tier, Spark-native (the
  * reference's scaling plan puts ElastiCache in front of the online
  * store for sub-ms lookups, `Scaling and monitoring strategies.md:
  * 19-21`). The Spark-native answer keeps the BUCKET as the cache
  * unit: the serving layout is already hash-partitioned into `kb=`
  * dirs (`Layout.mergeBucketPartitioned`), so a point lookup needs
  * exactly one bucket — this tier memoizes whole buckets in a
  * bounded driver-side LRU and serves repeated lookups from memory
  * with NO Spark job at all.
  *
  * Read-through consistency: each get checks the bucket dir's file
  * signature (names + lengths + mtimes — one filesystem LIST, no data
  * read) and reloads the bucket iff a serving merge rewrote it since
  * caching. That gives read-your-merges semantics without TTL
  * guesswork; `invalidate()` drops everything for the blunt version.
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
  require(nBuckets > 0 && maxCachedBuckets > 0,
    "nBuckets and maxCachedBuckets must be positive")

  private final class CachedBucket(val sig: String, val rows: Map[String, Row])

  private val cache = new BucketCache[CachedBucket](maxCachedBuckets)

  /** (hits, misses) — a miss is any get that (re)loaded its bucket. */
  def stats: (Long, Long) = cache.stats

  /** Currently resident buckets — the health/metrics surface's view
    * of cache warmth (≤ maxCachedBuckets by the LRU bound).
    */
  def loadedBuckets: Int = cache.size

  def invalidate(): Unit = cache.invalidate()

  private def fs =
    new Path(servingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // resolved once from the layout's own schema; `null` until the
  // layout exists (get() guards the never-merged case on it, so no
  // other lookup ever pays an exists() call)
  @volatile private var keyTypeCache: DataType = null
  private def keyType: DataType = {
    var kt = keyTypeCache
    if (kt == null) {
      kt = spark.read.parquet(servingDir).schema(keyCol).dataType
      keyTypeCache = kt
    }
    kt
  }

  /** Normalize the caller's id to the STORED key type so the hash
    * matches `Layout.keyBucket`'s `xxhash64(cast(key))` exactly.
    * None for an id that cannot be a stored key at all (e.g. a
    * non-numeric string against a long-keyed layout) — a lookup miss,
    * not a NumberFormatException into the caller's serving path.
    */
  private def norm(id: Any): Option[Any] =
    try Some(keyType match {
      case LongType    => id.toString.toLong
      case IntegerType => id.toString.toInt
      case ShortType   => id.toString.toShort
      case ByteType    => id.toString.toByte
      case DoubleType  => id.toString.toDouble
      case FloatType   => id.toString.toFloat
      case StringType  => id.toString
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(id.toString), d.precision, d.scale)
      case _           => id
    })
    // NonFatal, not just NumberFormatException: every conversion
    // failure is 'this id can match no stored key' — a miss, never an
    // exception into the serving path
    catch { case scala.util.control.NonFatal(_) => None }

  /** The bucket `Layout.keyBucket` assigns this key — computed by
    * evaluating the SAME Catalyst expression (`pmod(xxhash64(key),
    * n)`) driver-side, so no 1-row Spark job per lookup.
    */
  def bucketOf(id: Any): Int = {
    val key = norm(id).getOrElse(throw new IllegalArgumentException(
      s"id '$id' cannot be normalized to key type ${keyType.simpleString}"))
    val h = new XxHash64(Seq(Literal.create(key, keyType)))
      .eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** Change signature of one bucket dir: one filesystem LIST, no data
    * read. "absent" for a bucket no merge has written yet.
    */
  private def signature(b: Int): String = {
    val dir = new Path(s"$servingDir/kb=$b")
    if (!fs.exists(dir)) "absent"
    else fs.listStatus(dir).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** The bucket load itself — one single-bucket parquet read (the
    * same pruned scan `FeatureStore.getServingRecord` plans). A test
    * seam: the concurrency spec overrides it with a gated slow load
    * to prove a cold miss never blocks other buckets' hits.
    */
  protected def loadBucket(b: Int, sig: String): Map[String, Row] =
    if (sig == "absent") Map.empty
    else spark.read.parquet(s"$servingDir/kb=$b").drop(dropCols: _*)
      .collect().map(r => r.getAs[Any](keyCol).toString -> r).toMap

  /** Point lookup. Cache hit: zero Spark jobs, one LIST, no waiting on
    * any in-flight load. Miss: one bucket load under that bucket's own
    * latch, memoized for next time.
    */
  def get(id: Any): Option[Row] = {
    // a layout no merge has COMMITTED yet has no keys (and no schema
    // to normalize against) — None, not a PATH_NOT_FOUND (or, after a
    // crashed first merge left only `_temporary`, an unreadable
    // schema-less dir → 'unable to infer schema') from the driver.
    // Once the key type resolves the layout exists (merges only add),
    // so steady-state lookups skip the probe entirely.
    if (keyTypeCache == null &&
        !graft.operators.Layout.hasCommittedBuckets(spark, servingDir))
      return None
    val key = norm(id) match {
      case Some(k) => k.toString
      case None    => return None // unkeyable id can match no stored row
    }
    val b = bucketOf(id)
    val sig = signature(b)
    cache.get(b, _.sig == sig)(new CachedBucket(sig, loadBucket(b, sig)))
      .rows.get(key)
  }
}
