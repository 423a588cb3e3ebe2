package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *    `feature_store_manager.py:101,165-168`), a key-bucket-partitioned
  *    parquet layout that every ingest MERGEs into bucket by bucket —
  *    O(batch) per upsert, one bucket read per point lookup. One table
  *    rewritten partition by partition is Delta Lake's MERGE design
  *    (VLDB 2020); [[FeatureStore#latestView]] recomputes the same
  *    rows from the history.
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

  private def key = col(conf.keyCol)
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
        else if (servingInitialized) maxSeq(spark.read.parquet(servingDir))
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
    * append it to the offline history (one snapshot commit). One
    * parquet write per tier, no per-row calls (vs the reference's
    * row-at-a-time `PutRecord` loop).
    *
    * The online store is a key-bucket-PARTITIONED layout
    * ([[graft.operators.Layout.mergeBucketPartitioned]]): a batch only
    * reads and rewrites the ≤ |batch| bucket dirs its keys hash into,
    * so upsert cost is O(batch), constant in history size and in key
    * count. The FIRST merge bootstraps the layout from the full
    * history plus this batch (one window over both), so keys ingested
    * before the layout existed never look like cold starts.
    *
    * `txnId`: optional idempotency token. Replaying a batch whose id
    * is already committed is a complete no-op (no history commit, no
    * seq burn, no merge) — the at-least-once contract for retrying
    * ingest pipelines. The merge runs BEFORE the history commit so the
    * commit is the transaction fence: the merge is value-idempotent
    * (newest-wins dedup), so a crash between merge and commit — or
    * inside a multi-bucket merge — is repaired by the replay redoing
    * both, and a crash after the commit means the replay can skip
    * both.
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

  /** Reclaim history storage, keeping the `retain` newest versions
    * (see [[VersionedTable.vacuum]] for the retention/replay-fence
    * contract). Returns deleted data-directory count. Pure appends
    * free no directories (every manifest references its ancestors'
    * data); run [[compactOffline]] first to strand them.
    */
  def vacuumOffline(retain: Int = 8,
      graceMs: Long = VersionedTable.DefaultVacuumGraceMs): Int =
    offlineTable.vacuum(retain, graceMs)

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
    *  - ONLINE store: only the ≤ |keys| bucket dirs the keys hash into
    *    are rewritten
    *    ([[graft.operators.Layout.deleteFromBucketPartitioned]]).
    *
    * NULL-keyed rows are retained in both tiers (the deleteKeys
    * contract: a delete removes exactly the rows its predicate
    * matches TRUE). A key never ingested is a no-op everywhere.
    * Idempotent under `txnId`: the bucket delete runs BEFORE the
    * fenced history commit (the [[ingest]] ordering) — it is
    * value-idempotent, so a replay after a crash between tiers
    * repairs it, and once the history commit lands the replay skips
    * everything.
    */
  def forgetKeys(keys: Seq[Any], txnId: Option[String] = None): Unit = {
    if (txnId.exists(offlineTable.txnCommitted)) return
    require(keys.nonEmpty, "forgetKeys with an empty key list")
    require(keys.forall(_ != null), "forgetKeys with a NULL key")
    if (servingInitialized)
      Layout.deleteFromBucketPartitioned(
        spark, servingDir, conf.keyCol, keys, servingBuckets)
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
      .filterNot(Set(seqCol, "event_date", "kb")).sorted
    val rowHash = xxhash64(hashCols.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(key)
      .orderBy(ts.desc, col(seqCol).desc, rowHash.desc)
    df.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .drop("_rn")
  }

  /** W2 — latest record per key, computed from the full history. The
    * window shuffles once on the key; it is the reference the bucket
    * layout is checked against, and — a snapshot read of one history
    * version — the strictly isolated form of [[online]].
    */
  def latestView(): DataFrame =
    dedupLatest(offline()).drop(seqCol, "event_date")

  private def mergeLayout(batch: DataFrame): Unit =
    Layout.mergeBucketPartitioned(
      servingDir, batch, conf.keyCol, dedupLatest, servingBuckets)

  /** Merge a batch into the online store WITHOUT a history commit —
    * for callers that keep their own history (a fenced landing table)
    * and only need the latest-per-key layout. Same newest-wins MERGE
    * as [[ingest]]; idempotent, so at-least-once replay repairs a
    * crashed multi-bucket commit. No bootstrap: a store with history
    * but no layout gets only this batch's keys.
    *
    * ISOLATION CAVEAT: a bucket merge replaces that bucket's files IN
    * PLACE, so a reader that planned its scan just before a merge of
    * the same bucket commits can hit deleted files. Single writer is
    * assumed; concurrent reads during a merge of the same bucket need
    * `spark.sql.files.ignoreMissingFiles` + retry, or [[latestView]]
    * — a snapshot read of one history version — where strict read
    * isolation matters.
    */
  def mergeServing(df: DataFrame): Unit =
    mergeLayout(df.withColumn(seqCol, lit(nextSeq())))

  /** S4's table — the online store: one row per key, a full scan of
    * the bucket layout; falls back to the history view before the
    * first merge (or after a forget emptied every bucket).
    */
  def online(): DataFrame =
    if (!servingInitialized) latestView()
    // mergeSchema: dynamic overwrite rewrites only TOUCHED buckets,
    // so after an add-column batch the bucket dirs disagree on schema
    // and footer-sampled inference could silently drop the new column
    else spark.read.option("mergeSchema", "true")
      .parquet(servingDir).drop(seqCol, "kb")

  /** Alias of [[online]], kept while `perfbench/` still calls it. */
  def serving(): DataFrame = online()

  private def servingInitialized: Boolean =
    Layout.hasCommittedBuckets(spark, servingDir)

  /** The cache tier in front of the online store (the reference's
    * ElastiCache role): bounded bucket-level LRU with read-through
    * signature invalidation — repeated lookups cost zero Spark jobs.
    * See [[ServingCache]].
    */
  def servingCache(maxCachedBuckets: Int = 16): ServingCache =
    new ServingCache(spark, servingDir, conf.keyCol, servingBuckets,
      maxCachedBuckets, dropCols = Seq(seqCol))

  /** Partition-pruned point lookup — the scan lists exactly one `kb=`
    * directory (asserted in StoreServingSpec). Before the first merge
    * it filters the history view instead, so a store whose history
    * holds no committed bucket yet never hits a missing path.
    */
  private[store] def getServingRecord(id: Any): DataFrame =
    if (!servingInitialized) latestView().filter(key === lit(id))
    else Layout.bucketLookup(
      spark, servingDir, conf.keyCol, lit(id), servingBuckets)
      .drop(seqCol, "kb")

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
  def apply(spark: SparkSession, path: String, keyCol: String,
      eventTimeCol: String): FeatureStore =
    new FeatureStore(spark, FeatureStoreConf(path, keyCol, eventTimeCol))
}
