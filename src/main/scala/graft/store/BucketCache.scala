package graft.store

/** The bounded in-memory cache every serving tier keeps in front of a
  * partition-directory layout. The cache unit is one loaded partition
  * directory, keyed by its partition number: a serving `kb=` bucket
  * ([[ServingCache]]), a BM25 `tb=` term bucket ([[Bm25SearchTier]]),
  * an IVF `cell=` ([[IvfSearchTier]]) or a signature `bb=` band bucket
  * ([[SigSearchTier]]). The LRU keeps the hot partitions resident and
  * evicts cold ones in access order; memory = `maxEntries` × partition
  * size.
  *
  * Concurrency: the LRU map and counters are guarded by a short global
  * lock whose critical sections are O(1) with no IO. The LOAD (a
  * driver-local read of the partition's parquet files, [[BucketFiles]]
  * — the milliseconds part) runs under a PER-KEY latch only. A cold
  * miss therefore never blocks hits or other keys' misses, and two
  * concurrent misses on the SAME key coalesce into one load via the
  * latch's double-check. That is the serving-tier
  * contract: the point of the cache is sub-ms repeat lookups, and a
  * tier that serializes every hit behind one cold load has the wrong
  * concurrency shape.
  *
  * `valid` lets a caller reject a resident value (the serving cache's
  * read-through signature, the bucket's files and schema in the
  * store's current online snapshot); a rejected value is reloaded and
  * counts as a miss.
  */
private[store] final class BucketCache[V](maxEntries: Int) {
  require(maxEntries > 0, s"cache bound must be positive, got $maxEntries")

  // guarded by `this` — every critical section on it is O(1), no IO
  private val lru = new java.util.LinkedHashMap[Int, V](
      16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Int, V]): Boolean =
      this.size() > maxEntries
  }
  private var hitsN = 0L
  private var missesN = 0L

  // one load latch per key ever missed — bounded by the layout's
  // partition count; hits never touch these
  private val latches = new java.util.concurrent.ConcurrentHashMap[Int, Object]

  /** (hits, misses) — a miss is any get that (re)loaded its value. */
  def stats: (Long, Long) = synchronized((hitsN, missesN))

  /** Resident entries (≤ `maxEntries` by the LRU bound). */
  def size: Int = synchronized(lru.size)

  def invalidate(): Unit = synchronized(lru.clear())

  private def resident(key: Int, valid: V => Boolean): Option[V] =
    synchronized {
      val c = Option(lru.get(key)).filter(valid)
      if (c.isDefined) hitsN += 1
      c
    }

  /** The cached value for `key`, or `load`'s result memoized — `load`
    * runs under `key`'s latch only.
    */
  def get(key: Int, valid: V => Boolean = (_: V) => true)(load: => V): V =
    resident(key, valid).getOrElse {
      latches.computeIfAbsent(key, _ => new Object).synchronized {
        // double-check under the latch: a concurrent miss on the same
        // key may have loaded it while we waited — reuse that load
        resident(key, valid).getOrElse {
          val v = load
          synchronized { missesN += 1; lru.put(key, v) }
          v
        }
      }
    }
}
