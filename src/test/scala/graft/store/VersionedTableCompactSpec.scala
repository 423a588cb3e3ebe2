package graft.store

import java.nio.file.Files

import graft.SparkSpec

/** Compaction through [[VersionedTable.replace]]: rewriting the same
  * rows into fewer files breaks the append chain, yet CDC across it
  * reports no change, time travel spans it, a txn replay is a no-op,
  * later appends keep the O(delta) CDC path, and vacuum reclaims the
  * superseded small-file dirs.
  */
class VersionedTableCompactSpec extends SparkSpec {
  import spark.implicits._

  test("appends after a compaction keep the O(delta) CDC fast path; " +
      "vacuum reclaims the superseded small-file dirs") {
    val vt = new VersionedTable(spark,
      Files.createTempDirectory("vtcompact").toString, Seq("doc_id"))
    for (b <- 0 until 4)
      vt.commit(Seq((b.toLong, s"x$b")).toDF("doc_id", "text").coalesce(1))
    val vPre = vt.currentVersion.get
    // the compaction: the same rows rewritten as one file
    val vc = vt.replace(vt.read().coalesce(1), txnId = Some("cmp-1"))
    assert(vt.readManifest(vc).files.size === 1)
    // CDC across the same-rows rewrite: zero changes (the rowDiff path)
    assert(vt.changesSince(vPre).count() === 0L)
    // time travel: the pre-compaction version reads intact
    assert(vt.readAt(vPre).count() === 4L)
    // idempotent replay
    assert(vt.replace(vt.read().coalesce(1), txnId = Some("cmp-1")) === vc)
    vt.commit(Seq((99L, "new")).toDF("doc_id", "text").coalesce(1))
    val changes = vt.changesSince(vc)
    assert(changes.select($"doc_id").as[Long].collect().toSeq === Seq(99L))
    // vacuum to the latest 1 version: the pre-compaction commit dirs
    // (4 tiny dirs, no longer referenced) are reclaimed
    val reclaimed = vt.vacuum(retain = 1, graceMs = 0L)
    assert(reclaimed >= 4)
    assert(vt.read().count() === 5L)
  }
}
