package graft

import java.nio.file.Files

import graft.store.FeatureStore

/** The reference workflow end to end on sf0.001 (`Workflow.run`):
  * engineer → ingest → train → streaming replay → the CDC
  * reconstruction check, on the shared session.
  */
class WorkflowSpec extends SparkSpec {

  test("reference workflow: ingest → train → stream replay → CDC " +
      "reconstruction") {
    val workDir = Files.createTempDirectory("graft-workflow").toString
    Workflow.run(spark, sf, workDir) // throws if CDC reconstruction fails
    val store = FeatureStore(spark, s"$workDir/store",
      "customer_id", "purchase_timestamp")
    assert(spark.read.parquet(s"$workDir/scored").count() > 0)
    // the replay committed one history version per micro-batch
    assert(store.offlineVersions.size > 1)
    // one online table: the key-bucket layout, no versioned copy
    val layout = new java.io.File(s"$workDir/store").list().toSet
      .filterNot(_.startsWith(".")) // filesystem checksum files
    assert(layout == Set("offline", "serving", "_seq"),
      s"store layout: $layout")
    val cols = store.latestView().columns.sorted.toIndexedSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(df.col): _*).collect().toSet
    assert(rows(store.online()) == rows(store.latestView()))
  }
}
