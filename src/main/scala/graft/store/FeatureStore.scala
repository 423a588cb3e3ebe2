package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pin
import graft.operators.Layout

/** Spark-native feature store: the reference's dual online/offline
  * storage model (`core/feature_store_manager.py`) re-expressed without
  * managed services.
  *
  *  - **Offline store** = append-only parquet history. Every ingest and
  *    every upsert appends (SageMaker semantics: `put_record` lands in
  *    BOTH stores, `feature_store_manager.py:233-236` + offline
  *    replication). Partitioned by a derived `event_date` column so a
  *    100 TB history prunes to the queried date range (dynamic partition
  *    pruning reaches the scan).
  *  - **Online store** = latest-record-per-key table (reference
  *    `feature_store_manager.py:101,165-168`), a second
  *    [[VersionedTable]] partitioned into key buckets: each data file
  *    holds one bucket and its manifest entry records which. Every
  *    ingest MERGEs into it bucket by bucket — one manifest removes
  *    the touched buckets' files and adds their rewrites (Delta
  *    Lake's MERGE, VLDB 2020) — so an upsert is O(batch) and a point
  *    lookup reads one bucket's files. Readers plan from one
  *    manifest, so they are snapshot-isolated from concurrent merges
  *    like history readers are. [[FeatureStore#latestView]]
  *    recomputes the same rows from the history.
  *
  * Keys and event time are declared once per store (the reference's
  * record-identifier / event-time feature-group config,
  * `feature_store_manager.py:96-101`); a monotonically-increasing
  * `_seq` column breaks event-time ties deterministically (the
  * reference is silently nondeterministic here — SURVEY.md §7 risks).
  */
final case class FeatureStoreConf(
    path: String,
    keyCol: String,
    eventTimeCol: String)

class FeatureStore(spark: SparkSession, val conf: FeatureStoreConf) {
  import spark.implicits._

  import FeatureStore.BucketCol

  private val offlineDir = s"${conf.path}/offline"
  private val servingDir = s"${conf.path}/serving"
  private val servingBuckets = 64
  private val seqCol     = "_seq"

  /** The offline history is a [[VersionedTable]] — manifest-listed
    * parquet commits with snapshot isolation, time travel
    * ([[offlineAt]]), manifest-level date pruning ([[offlineRange]])
    * and idempotent replay (the `txnId` on [[ingest]]); the managed
    * offline-store semantics the reference delegates to its platform
    * (`feature_store_manager.py:96-100`), self-contained.
    */
  // keyCol in statsCols: [[forgetKeys]] prunes its history rewrite to
  // the files whose key band overlaps a forgotten key (key-clustered
  // ingest keeps bands tight); event_date drives offlineRange pruning
  private val offlineTable =
    new VersionedTable(spark, offlineDir,
      statsCols = Seq("event_date", conf.keyCol))

  /** The online store: latest record per key, one key bucket per
    * data file ([[mergeLayout]]).
    */
  private val onlineTable = new VersionedTable(spark, servingDir)

  private def key = col(conf.keyCol)
  private def bucket = Layout.keyBucket(conf.keyCol, servingBuckets)
  private def ts  = col(conf.eventTimeCol)

  /** Next ingest sequence number (single writer — the reference
    * ingests with `max_workers=1`, `feature_store_manager.py:119`).
    * Recovered once per store object, then counted in memory: a full
    * history scan per micro-batch would dominate streaming upsert
    * cost.
    *
    * The counter is persisted to a tiny `_seq` sidecar BEFORE the
    * allocated number is used in any data write, so recovery never
    * depends on surviving rows: a layout-only store whose batch was
    * entirely superseded by newer event times leaves no `_seq` trace
    * in the table, and scanning survivors there would reuse a number
    * and make a later exact event-time tie resolve nondeterministically.
    * The row scan remains the fallback for stores written before the
    * sidecar existed (or a sidecar lost mid-swap).
    */
  private var seqCounter: Long = -1L
  private def nextSeq(): Long = {
    if (seqCounter < 0L)
      seqCounter = readSeqSidecar().getOrElse {
        // max over ZERO rows is null (a table that exists but holds
        // only empty versions) — recover to 0, don't NPE the store
        def maxSeq(df: DataFrame): Long =
          Option(df.agg(max(col(seqCol))).head().get(0))
            .map(_.asInstanceOf[Long] + 1L).getOrElse(0L)
        if (exists) maxSeq(offline())
        else if (servingInitialized) maxSeq(onlineTable.read())
        else 0L
      }
    val s = seqCounter
    seqCounter += 1L
    writeSeqSidecar(seqCounter)
    s
  }

  private def seqSidecarPath = new Path(s"${conf.path}/_seq")

  private def readSeqSidecar(): Option[Long] = {
    if (!fs.exists(seqSidecarPath)) None
    else {
      val in = fs.open(seqSidecarPath)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLongOption
      finally in.close()
    }
  }

  /** Temp-write + rename; a crash between delete and rename leaves no
    * sidecar, which recovery treats as "fall back to the row scan" —
    * never a stale number, because the sidecar is written before its
    * value's first data write.
    */
  private def writeSeqSidecar(next: Long): Unit = {
    val tmp = new Path(s"${conf.path}/_seq.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(seqSidecarPath)) fs.delete(seqSidecarPath, false)
    fs.rename(tmp, seqSidecarPath): Unit
  }

  /** All storage probes and the sidecar commit go through the
    * Hadoop `FileSystem` API — the store works identically on local
    * FS, HDFS, or an object store, and never assumes POSIX rename.
    */
  private def fs =
    new Path(conf.path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = offlineTable.currentVersion.nonEmpty

  /** S5 — batch ingest: merge the frame into the online store, then
    * append it to the offline history. One commit per tier, no
    * per-row calls (vs the reference's row-at-a-time `PutRecord`
    * loop).
    *
    * The merge ([[mergeLayout]]) reads and rewrites only the
    * ≤ |batch| key buckets the batch's keys hash into, so upsert cost
    * is O(batch), constant in history size and in key count. The
    * FIRST merge bootstraps the online table from the full history
    * plus this batch (one window over both), so keys ingested before
    * it existed never look like cold starts.
    *
    * `txnId`: optional idempotency token. Replaying a batch whose id
    * is already committed is a complete no-op (no history commit, no
    * seq burn, no merge) — the at-least-once contract for retrying
    * ingest pipelines. The merge commits BEFORE the history commit so
    * the history commit is the transaction fence: the merge is
    * value-idempotent (newest-wins dedup), so a crash between the two
    * commits is repaired by the replay redoing both, and a crash after
    * the history commit means the replay can skip both. A crash inside
    * the merge leaves a claim and an orphan data dir but no manifest:
    * readers stay on the previous online version.
    */
  def ingest(df: DataFrame, txnId: Option[String] = None): Unit = {
    if (txnId.exists(offlineTable.txnCommitted)) return
    val stamped = df.withColumn(seqCol, lit(nextSeq()))
    mergeLayout(
      if (servingInitialized || !exists) stamped
      else offline().drop("event_date")
        .unionByName(stamped, allowMissingColumns = true))
    offlineTable.commit(stamped.withColumn("event_date", to_date(ts)), txnId)
  }

  /** S6 — upsert semantics are identical to ingest at the storage
    * layer; the matched/not-matched branching of MERGE happens inside
    * the bucket merge's [[dedupLatest]]: the newest `(event_time,
    * _seq)` record per key wins, whether it updated an existing key or
    * introduced a new one.
    */
  def putRecords(df: DataFrame, txnId: Option[String] = None): Unit =
    ingest(df, txnId)

  /** Alias of [[ingest]], kept while `perfbench/` still calls it. */
  def ingestServing(df: DataFrame, txnId: Option[String] = None): Unit =
    ingest(df, txnId)

  /** S3 — full append-only history (offline store scan): a snapshot
    * read of the current version, immune to concurrent appends.
    */
  def offline(): DataFrame = offlineTable.read()

  /** Time-travel scan of the history as of `version` (0-based commit
    * number; each ingest/upsert is one commit).
    */
  def offlineAt(version: Long): DataFrame = offlineTable.readAt(version)

  /** Committed history versions, ascending. */
  def offlineVersions: Seq[Long] = offlineTable.versions

  /** The offline history's compliance ledger (see
    * [[VersionedTable.auditLog]]): every delete-class commit's
    * evidence — a [[forgetKeys]] call's history commit reports its
    * key count and rows removed here, never the keys.
    */
  def offlineAuditLog(): DataFrame = offlineTable.auditLog()

  /** CDC over the history: rows committed after `fromVersion`, tagged
    * `change_type` — O(delta) file reads on the append-only chain
    * ([[VersionedTable.changesSince]]). Incremental consumers (online
    * refresh, replication, index maintenance) poll this instead of
    * rescanning the history.
    */
  def offlineChangesSince(fromVersion: Long): DataFrame =
    offlineTable.changesSince(fromVersion)

  /** Rewrite the full history into ONE commit (file compaction):
    * appends accumulate a data directory per ingest, and at streaming
    * cadence that is the small-files problem — this folds them. Same
    * rows, new version; older versions stay readable until
    * [[vacuumOffline]] reclaims their now-unreferenced directories.
    */
  def compactOffline(): Unit = { offlineTable.replace(offline()): Unit }

  /** Reclaim storage of both tiers, keeping the `retain` newest
    * versions of each (see [[VersionedTable.vacuum]] for the
    * retention/replay-fence contract). Returns the deleted
    * data-directory count. Pure history appends free no directories
    * (every manifest references its ancestors' data); run
    * [[compactOffline]] first to strand them. An online merge
    * supersedes the touched buckets' files, and their commit directory
    * is reclaimed once no retained online version references any file
    * in it.
    */
  def vacuumOffline(retain: Int = 8,
      graceMs: Long = VersionedTable.DefaultVacuumGraceMs): Int =
    offlineTable.vacuum(retain, graceMs) + onlineTable.vacuum(retain, graceMs)

  /** Date-bounded history scan with manifest-level commit pruning
    * (plus parquet footer pruning within surviving files) — the
    * 100 TB "read one day of a year of history" path.
    */
  def offlineRange(lo: String, hi: String): DataFrame =
    offlineTable.readRange(lo, hi)

  /** RIGHT-TO-BE-FORGOTTEN — delete every record of `keys` from BOTH
    * tiers in one call, the deletion story the reference's domain
    * (a CUSTOMER feature store) actually demands: deleting only the
    * history while the online store keeps serving the customer's
    * features is a compliance failure, not staleness.
    *
    *  - offline HISTORY: [[VersionedTable.deleteKeys]] — copy-on-write
    *    with file-stats pruning on the key band (the key column is in
    *    `statsCols`; key-clustered ingest keeps bands tight), time
    *    travel still spans the delete, [[vacuumOffline]] reclaims;
    *  - ONLINE store: one commit rewriting only the ≤ |keys| buckets
    *    the keys hash into; a bucket emptied outright simply has no
    *    file in the new manifest.
    *
    * A key that cannot be a stored key (a string that does not parse
    * as the stored numeric key type) fails loudly before either tier
    * changes: hashed as-is it would target the wrong bucket and the
    * forget would silently miss. NULL-keyed rows are retained in both
    * tiers (the deleteKeys contract: a delete removes exactly the rows
    * its predicate matches TRUE). A key never ingested is a no-op
    * everywhere. Idempotent under `txnId`: the bucket delete runs
    * BEFORE the fenced history commit (the [[ingest]] ordering) — it
    * is value-idempotent, so a replay after a crash between tiers
    * repairs it, and once the history commit lands the replay skips
    * everything.
    */
  def forgetKeys(keys: Seq[Any], txnId: Option[String] = None): Unit = {
    if (txnId.exists(offlineTable.txnCommitted)) return
    require(keys.nonEmpty, "forgetKeys with an empty key list")
    require(keys.forall(_ != null), "forgetKeys with a NULL key")
    onlineTable.currentVersion.map(onlineTable.readManifest).foreach { m =>
      val kt = keyType(m)
      val stored = keys.distinct.map(k => k -> Layout.storedKey(k, kt))
      val bad = stored.collect { case (k, None) => k }
      require(bad.isEmpty, s"forgetKeys: keys $bad do not cast to the " +
        s"stored key type ${kt.simpleString} — the delete would silently miss")
      val ks = stored.flatMap(_._2)
      onlineTable.rewritePartitions("delete", BucketCol,
        ks.map(Layout.keyBucketOf(_, kt, servingBuckets)).toSet,
        inserts = false) {
        _.filter(!key.isin(ks: _*) || key.isNull).withColumn(BucketCol, bucket)
      }
    }
    if (exists) offlineTable.deleteKeys(conf.keyCol, keys, txnId): Unit
  }

  /** Window-dedup to the newest `(event_time, _seq)` record per key —
    * the one newest-wins rule behind [[latestView]] and every bucket
    * merge. Input must carry the `_seq` column.
    */
  private def dedupLatest(df: DataFrame): DataFrame = {
    // final tiebreak: a content hash of the BUSINESS columns. `_seq`
    // breaks ties BETWEEN batches, but two rows of ONE batch share a
    // seq — a same-key same-event-time pair inside a batch would
    // otherwise dedup to whichever row the shuffle delivered first.
    // Metadata columns (seq, derived date, bucket) are excluded so
    // the hash covers the IDENTICAL column list at every call site
    // (bucket merge vs full-history view see different metadata) —
    // every path picks the same survivor; a full tie means the rows
    // are identical and either is correct.
    val hashCols = df.columns
      .filterNot(Set(seqCol, "event_date", BucketCol)).sorted
    val rowHash = xxhash64(hashCols.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(key)
      .orderBy(ts.desc, col(seqCol).desc, rowHash.desc)
    df.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .drop("_rn")
  }

  /** W2 — latest record per key, computed from the full history. The
    * window shuffles once on the key; it is the reference the online
    * table is checked against.
    */
  def latestView(): DataFrame =
    dedupLatest(offline()).drop(seqCol, "event_date")

  /** MERGE a batch into the online table: one commit that removes the
    * files of the buckets the batch's keys hash into and adds their
    * rewrites, the newest `(event_time, _seq)` record per key winning
    * over stored and batch rows alike ([[dedupLatest]]). Untouched
    * buckets' files are never opened, and nothing is overwritten, so
    * readers planned on the previous version keep reading it.
    */
  private def mergeLayout(batch: DataFrame): Unit = {
    val bootstrap = !servingInitialized
    // pinned: the touched-bucket collect and the rewrite both read
    // it; released once the merge commits or fails
    val b = batch.transform(Pin.snapshot)
    try {
      val touched = b.select(bucket).distinct().as[Int].collect().toSet
      if (touched.nonEmpty)
        onlineTable.rewritePartitions("merge", BucketCol, touched,
          inserts = true) { cur =>
          // widen in BOTH directions: a batch with a new feature column
          // must reach the online files (projecting it away would
          // silently diverge them from the history forever), and a
          // batch missing a column gets null for it, exactly like the
          // history table's schema evolution
          val merged = dedupLatest(cur.unionByName(b, allowMissingColumns = true))
            .withColumn(BucketCol, bucket)
          // the bootstrap spreads each bucket over every shuffle
          // partition of its window: one write task per bucket instead
          if (bootstrap) merged.repartition(col(BucketCol)) else merged
        }
    } finally Pin.release(b)
  }

  /** Merge a batch into the online store WITHOUT a history commit —
    * for callers that keep their own history (a fenced landing table)
    * and only need the latest-per-key table. Same newest-wins MERGE
    * as [[ingest]]; idempotent, so at-least-once replay repairs a
    * crashed merge. No bootstrap: a store with history but no online
    * table gets only this batch's keys.
    */
  def mergeServing(df: DataFrame): Unit =
    mergeLayout(df.withColumn(seqCol, lit(nextSeq())))

  /** S4's table — the online store: one row per key, a snapshot read
    * of the current online version; falls back to the history view
    * before the first merge.
    */
  def online(): DataFrame =
    if (!servingInitialized) latestView()
    else onlineTable.read().drop(seqCol)

  /** Alias of [[online]], kept while `perfbench/` still calls it. */
  def serving(): DataFrame = online()

  private def servingInitialized: Boolean =
    onlineTable.currentVersion.nonEmpty

  private def keyType(m: onlineTable.Manifest) =
    m.schema(conf.keyCol).dataType

  /** The cache tier in front of the online store (the reference's
    * ElastiCache role): bounded bucket-level LRU with read-through
    * signature invalidation — repeated lookups cost zero Spark jobs.
    * See [[ServingCache]].
    */
  def servingCache(maxCachedBuckets: Int = 16): ServingCache =
    new ServingCache(spark, servingDir, conf.keyCol, servingBuckets,
      maxCachedBuckets, dropCols = Seq(seqCol))

  /** Point lookup planned from the current online manifest: the
    * scan reads exactly the files of the key's bucket (asserted in
    * StoreServingSpec). Before the first merge it filters the history
    * view instead.
    */
  private[store] def getServingRecord(id: Any): DataFrame =
    onlineTable.currentVersion.map(onlineTable.readManifest) match {
      case None => latestView().filter(key === lit(id))
      case Some(m) =>
        val kt = keyType(m)
        val k = Layout.storedKey(id, kt)
        val files = k.fold(Seq.empty[onlineTable.FileEntry]) { v =>
          val b = Layout.keyBucketOf(v, kt, servingBuckets)
          m.files.filter(onlineTable.partitionOf(_, BucketCol).contains(b))
        }
        onlineTable.readFiles(m.schema, files)
          .filter(k.fold(lit(false))(v => key === lit(v)))
          .drop(seqCol)
    }

  /** S4 — online point lookup (`get_record`,
    * `feature_store_manager.py:165-168`): one bucket read.
    */
  def getRecord(id: Any): Option[org.apache.spark.sql.Row] =
    getServingRecord(id).collect().headOption

  /** P2 — existence probe (`customer_features_exist`,
    * `feature_store_manager.py:155-172`).
    */
  def recordExists(id: Any): Boolean = !getServingRecord(id).isEmpty
}

object FeatureStore {

  /** The online table's partition column: the key's bucket. */
  private[store] val BucketCol = "kb"

  def apply(spark: SparkSession, path: String, keyCol: String,
      eventTimeCol: String): FeatureStore =
    new FeatureStore(spark, FeatureStoreConf(path, keyCol, eventTimeCol))
}
