package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory (SURVEY.md §7.1): one place for the engine's
  * execution defaults — UTC timestamps (oracle parity), shuffle
  * parallelism sized to local cores (not the 200 default), AQE left
  * on for runtime re-planning, graft's native SQL functions
  * registered.
  */
object Sessions {

  /** FQCN of Spark's RocksDB state store provider — the streaming
    * 100 TB knob (SURVEY §7): the default HDFS-backed provider keeps
    * every stateful operator's state in EXECUTOR HEAP (fine for
    * bounded windows; a corpus-growing state like
    * [[graft.streaming.StreamNearDup]]'s band buckets eventually
    * OOMs), while RocksDB keeps it on local disk with a block cache,
    * so state capacity scales with disk not heap. Changelog
    * checkpointing writes per-batch deltas instead of full SST
    * uploads — the production setting for large state.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      appName: String = "graft",
      rocksdbState: Boolean =
        sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1")): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // keep bucketed scans bucketed: the auto-disable rule only looks
      // at join/agg distribution needs and would drop bucket PRUNING
      // for filter-only plans — the store's point-lookup path
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      // reliable-checkpoint hygiene (core.Pin.release): let the
      // ContextCleaner delete checkpoint FILES once the RDD is GC'd —
      // without this an iterative job leaks one directory per round
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // fixture-reader timestamp typing (scan-level, keeps pushdown) —
    // owned HERE, not by Tables.load: a loader must not mutate the
    // shared session's conf as a side effect (see Tables.readerConfs)
    Tables.readerConfs.foreach { case (k, v) => builder.config(k, v) }
    if (rocksdbState) {
      builder
        .config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
        .config("spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled", "true")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    spark
  }
}
