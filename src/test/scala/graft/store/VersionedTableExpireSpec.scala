package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The retention commit ([[VersionedTable.expireBefore]]): row
  * semantics (strictly-below cutoff expires, NULL timestamps are
  * retained), the three-way file classification (whole-file DROP
  * without a read, verbatim carry, boundary rewrite), typed cutoff
  * comparison, time travel across the expiry, CDC tagging, txn
  * idempotence, and the no-op sweep.
  */
class VersionedTableExpireSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(statsCols: Seq[String] = Nil) = new VersionedTable(
    spark, Files.createTempDirectory("vtexp").toString, statsCols)

  test("expireBefore removes exactly the rows strictly below the " +
      "cutoff; earlier versions still read the full snapshot; CDC " +
      "tags the expired rows") {
    val vt = fresh(statsCols = Seq("day"))
    val v1 = vt.commit((1L to 20L).map(i => (i, s"d$i")).toDF("day", "text"))
    val v2 = vt.expireBefore("day", "8")
    assert(v2 > v1)
    assert(vt.read().select($"day").as[Long].collect().sorted.toSeq ===
      (8L to 20L).toSeq)
    assert(vt.readAt(v1).count() === 20L)
    val changes = vt.changesSince(v1)
      .filter($"change_type" === "delete")
      .select($"day").as[Long].collect().sorted.toSeq
    assert(changes === (1L to 7L).toSeq)
  }

  test("three-way classification on day-clustered commits: fully-" +
      "expired files are DROPPED from the manifest without a rewrite, " +
      "fully-live files are carried verbatim, only the boundary file " +
      "is rewritten") {
    val vt = fresh(statsCols = Seq("day"))
    // three day-clustered single-file commits, the ingest norm
    vt.commit((1L to 10L).map(i => (i, s"a$i")).toDF("day", "text")
      .coalesce(1))
    vt.commit((11L to 20L).map(i => (i, s"b$i")).toDF("day", "text")
      .coalesce(1))
    vt.commit((21L to 30L).map(i => (i, s"c$i")).toDF("day", "text")
      .coalesce(1))
    val vBefore = vt.currentVersion.get
    val before = vt.readManifest(vBefore).files
    assert(before.size === 3)
    var v = -1L
    val sweepJobs = countJobs { v = vt.expireBefore("day", "15") }
    // the boundary rewrite costs what a plain commit of its surviving
    // rows costs: the cutoff check runs on the driver, with no job
    val commitJobs = countJobs {
      fresh(statsCols = Seq("day")).commit((15L to 20L).map(i => (i, s"b$i"))
        .toDF("day", "text").coalesce(1)): Unit
    }
    assert(sweepJobs === commitJobs)
    val after = vt.readManifest(v).files
    // commit 1 (days 1-10, no NULLs recorded in its #nulls stat):
    // dropped whole — its entry is gone and NO rewritten file holds
    // its rows
    val oldFile = before.find(_.stats("day")._2.toLong == 10L).get
    assert(!after.contains(oldFile))
    // commit 3 (days 21-30): carried VERBATIM (identical FileEntry)
    val liveFile = before.find(_.stats("day")._1.toLong == 21L).get
    assert(after.contains(liveFile))
    // exactly one new file: the rewritten boundary (days 15-20)
    val rewritten = after.filterNot(before.contains)
    assert(rewritten.size === 1)
    assert(rewritten.head.stats("day")._1.toLong === 15L)
    assert(rewritten.head.stats("day")._2.toLong === 20L)
    assert(vt.read().count() === 16L)
    // the dropped file is still on disk for time travel until vacuum
    assert(vt.readAt(vBefore).count() === 30L)
  }

  test("NULL timestamps are retained: an expired-band file holding " +
      "NULL rows is rewritten (not dropped) and its NULL rows survive") {
    val vt = fresh(statsCols = Seq("day"))
    // one file whose non-NULL band is fully expired but which also
    // holds NULL-stamped rows — the #nulls stat forbids the whole-
    // file drop
    val v1 = vt.commit(
      Seq((Some(1L), "a"), (Some(2L), "b"), (None, "unstamped"))
        .toDF("day", "text").coalesce(1))
    val v = vt.expireBefore("day", "10")
    assert(v > v1)
    val rows = vt.read().select($"text").as[String].collect().toSet
    assert(rows === Set("unstamped"))
  }

  test("a file with NO stats for the column (all-NULL) is carried " +
      "verbatim — every row is NULL, and NULL rows are retained") {
    val vt = fresh(statsCols = Seq("day"))
    vt.commit(Seq((Option.empty[Long], "x"), (Option.empty[Long], "y"))
      .toDF("day", "text").coalesce(1))
    vt.commit(Seq((Some(1L), "old")).toDF("day", "text").coalesce(1))
    val before = vt.readManifest(vt.currentVersion.get).files
    val nullFile = before.find(!_.stats.contains("day")).get
    val v = vt.expireBefore("day", "10")
    val after = vt.readManifest(v).files
    assert(after.contains(nullFile))
    assert(vt.read().select($"text").as[String].collect().toSet ===
      Set("x", "y"))
  }

  test("CDC across an expire reads ONLY the touched files — carried-" +
      "verbatim files cancel in the multiset diff and are pruned " +
      "from both scans") {
    val vt = fresh(statsCols = Seq("day"))
    vt.commit((1L to 10L).map(i => (i, s"a$i")).toDF("day", "text")
      .coalesce(1))
    vt.commit((11L to 20L).map(i => (i, s"b$i")).toDF("day", "text")
      .coalesce(1))
    vt.commit((21L to 30L).map(i => (i, s"c$i")).toDF("day", "text")
      .coalesce(1))
    val vBefore = vt.currentVersion.get
    vt.expireBefore("day", "11") // drops file 1 whole, no rewrite
    val diff = vt.changesSince(vBefore)
    assert(diff.filter($"change_type" === "delete")
      .select($"day").as[Long].collect().sorted.toSeq === (1L to 10L))
    assert(diff.filter($"change_type" === "insert").isEmpty)
    // the two surviving files were carried verbatim — the diff never
    // opens them
    assert(diff.inputFiles.length === 1)
  }

  test("schema evolution: files committed BEFORE the timestamp column " +
      "existed are carried verbatim (their rows read as NULL ts and " +
      "NULL is retained)") {
    val vt = fresh(statsCols = Seq("day"))
    // pre-evolution commit: no `day` column at all
    vt.commit(Seq(("legacy a"), ("legacy b")).toDF("text").coalesce(1))
    vt.commit(Seq((1L, "old"), (20L, "new")).toDF("day", "text")
      .coalesce(1))
    val before = vt.readManifest(vt.currentVersion.get).files
    val legacyFile = before.find(!_.stats.contains("day")).get
    val v = vt.expireBefore("day", "10")
    val after = vt.readManifest(v).files
    assert(after.contains(legacyFile))
    assert(vt.read().select($"text").as[String].collect().toSet ===
      Set("legacy a", "legacy b", "new"))
  }

  test("numeric cutoff compares numerically, not lexicographically") {
    val vt = fresh(statsCols = Seq("n"))
    vt.commit(Seq((9L, "nine"), (100L, "hundred")).toDF("n", "text"))
    // lexicographically "100" < "9" would expire the wrong row
    vt.expireBefore("n", "50")
    assert(vt.read().select($"text").as[String].collect().toSeq ===
      Seq("hundred"))
  }

  test("string-typed timestamps (ISO dates) compare lexicographically " +
      "and still classify files three ways") {
    val vt = fresh(statsCols = Seq("d"))
    vt.commit(Seq(("2024-05-01", "old1"), ("2024-05-20", "old2"))
      .toDF("d", "text").coalesce(1))
    vt.commit(Seq(("2024-06-10", "mid"), ("2024-06-20", "kept"))
      .toDF("d", "text").coalesce(1))
    vt.commit(Seq(("2024-07-01", "new1"), ("2024-07-09", "new2"))
      .toDF("d", "text").coalesce(1))
    val before = vt.readManifest(vt.currentVersion.get).files
    val v = vt.expireBefore("d", "2024-06-15")
    val after = vt.readManifest(v).files
    // May file dropped whole, July file verbatim, June file rewritten
    assert(!after.contains(before.find(_.stats("d")._1 == "2024-05-01").get))
    assert(after.contains(before.find(_.stats("d")._1 == "2024-07-01").get))
    assert(vt.read().select($"text").as[String].collect().toSet ===
      Set("kept", "new1", "new2"))
  }

  test("a sweep that touches nothing publishes nothing; txn replay " +
      "is a no-op") {
    val vt = fresh(statsCols = Seq("day"))
    val v1 = vt.commit((10L to 20L).map(i => (i, s"d$i")).toDF("day", "text"))
    assert(vt.expireBefore("day", "5") === v1)
    val v2 = vt.expireBefore("day", "15", txnId = Some("sweep-1"))
    assert(v2 > v1)
    assert(vt.expireBefore("day", "19", txnId = Some("sweep-1")) === v2)
    assert(vt.read().count() === 6L)
  }

  test("a cutoff above every band expires EVERYTHING: the manifest " +
      "goes empty but keeps the schema, reads return zero rows, and " +
      "a later commit restarts the table") {
    val root = Files.createTempDirectory("vtexp").toString
    val vt = new VersionedTable(spark, root, Seq("day"))
    vt.commit((1L to 10L).map(i => (i, s"d$i")).toDF("day", "text")
      .coalesce(1))
    def dataDirs = new java.io.File(s"$root/data").list().toSet
    val dirsBefore = dataDirs
    var v = -1L
    // a drop-only sweep reads nothing and writes nothing
    assert(countJobs { v = vt.expireBefore("day", "100") } === 0)
    assert(dataDirs === dirsBefore)
    assert(vt.readManifest(v).files.isEmpty)
    assert(vt.read().count() === 0L)
    assert(vt.read().columns.toSeq === Seq("day", "text"))
    vt.commit(Seq((200L, "reborn")).toDF("day", "text"))
    assert(vt.read().select($"text").as[String].collect().toSeq ===
      Seq("reborn"))
  }

  test("vacuum after expire reclaims the whole-dropped files' commit " +
      "dirs; the current snapshot survives intact") {
    val vt = fresh(statsCols = Seq("day"))
    vt.commit((1L to 10L).map(i => (i, s"a$i")).toDF("day", "text")
      .coalesce(1))
    vt.commit((11L to 20L).map(i => (i, s"b$i")).toDF("day", "text")
      .coalesce(1))
    vt.expireBefore("day", "11") // commit-1 dropped whole, no rewrite
    assert(vt.read().count() === 10L)
    assert(vt.vacuum(retain = 1, graceMs = 0) >= 1)
    // the live snapshot still reads after reclaim
    assert(vt.read().select($"day").as[Long].collect().sorted.toSeq ===
      (11L to 20L).toSeq)
  }

  test("expireBefore on a column NOT in statsCols throws instead of " +
      "silently retaining everything (the compliance no-op guard)") {
    val vt = fresh(statsCols = Seq("day"))
    vt.commit(Seq((1L, "a"), (2L, "b")).toDF("day", "text"))
    val e = intercept[IllegalArgumentException] {
      vt.expireBefore("text", "zzz")
    }
    assert(e.getMessage.contains("statsCols"))
    // a table with NO statsCols at all gets the same loud failure
    val bare = fresh(statsCols = Nil)
    bare.commit(Seq((1L, "a")).toDF("day", "text"))
    intercept[IllegalArgumentException] { bare.expireBefore("day", "0") }
    assert(bare.read().count() === 1L)
  }

  test("an unparseable cutoff on a numeric column throws instead of " +
      "expiring every stamped row through the NULL cast") {
    val vt = fresh(statsCols = Seq("day"))
    vt.commit(Seq((1L, "a"), (2L, "b")).toDF("day", "text"))
    val e = intercept[IllegalArgumentException] {
      vt.expireBefore("day", "2024-05-01") // a date against a Long col
    }
    assert(e.getMessage.contains("parse"))
    // nothing was published and nothing expired
    assert(vt.read().count() === 2L)
    assert(vt.versions.size === 1)
  }

  test("expire result equals a fresh filter of the full snapshot " +
      "(multi-file, unclustered commits)") {
    val vt = fresh(statsCols = Seq("day"))
    // interleaved commits: bands overlap, so classification mixes
    // verbatim/boundary across files
    vt.commit((1L to 30L by 3).map(i => (i, s"a$i")).toDF("day", "text"))
    vt.commit((2L to 30L by 3).map(i => (i, s"b$i")).toDF("day", "text"))
    vt.commit((3L to 30L by 3).map(i => (i, s"c$i")).toDF("day", "text"))
    vt.expireBefore("day", "13")
    val got = vt.read().select($"day", $"text").as[(Long, String)]
      .collect().sorted.toSeq
    val want = (1L to 30L).filter(_ >= 13L)
      .map(i => (i, s"${Seq("a", "b", "c")((i.toInt - 1) % 3)}$i")).sorted
    assert(got === want)
  }
}
