package graft.store

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** VersionedTable v2 contracts: add-column schema evolution,
  * file-level multi-column stats pruning, stats-string escaping, and
  * the lost-append audit/heal.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(statsCols: Seq[String] = Nil) = new VersionedTable(
    spark, Files.createTempDirectory("vt2").toString, statsCols)

  test("schema evolution: add-column appends widen; old files backfill NULL") {
    val vt = fresh()
    val v0 = vt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val v1 = vt.commit(Seq((3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "v", "score"))
    // current read: widened schema, pre-evolution rows NULL-backfilled
    val cur = vt.read()
    assert(cur.columns.toSeq == Seq("id", "v", "score"))
    val byId = cur.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(30L), 4L -> Some(40L)))
    // time travel: the pre-evolution snapshot keeps its own schema
    assert(vt.readAt(v0).columns.toSeq == Seq("id", "v"))
    assert(vt.readAt(v1).columns.toSeq == Seq("id", "v", "score"))
  }

  test("schema evolution: a commit missing an existing column reads as NULL") {
    val vt = fresh()
    vt.commit(Seq((1L, "a", 10L)).toDF("id", "v", "score"))
    vt.commit(Seq((2L, "b")).toDF("id", "v")) // narrower frame
    val got = vt.read().collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got == Map(1L -> Some(10L), 2L -> None))
  }

  test("schema evolution: a type change fails loudly, never corrupts") {
    val vt = fresh()
    vt.commit(Seq((1L, "a")).toDF("id", "v"))
    val before = vt.versions
    intercept[IllegalArgumentException] {
      vt.commit(Seq((2L, 99L)).toDF("id", "v")) // v: string → bigint
    }
    assert(vt.versions == before, "failed commit must not publish")
    assert(vt.read().count() == 1)
  }

  test("schema evolution composes with CDC: mixed-schema chain diffs cleanly") {
    val vt = fresh()
    val v0 = vt.commit(Seq((1L, "a")).toDF("id", "v"))
    vt.commit(Seq((2L, "b", 20L)).toDF("id", "v", "score"))
    // fast path reads only the added commit, with the TARGET schema
    val d = vt.changesSince(v0).collect()
    assert(d.map(_.getLong(0)).toSeq == Seq(2L))
    assert(d.head.getLong(2) == 20L)
    // row-level fallback unifies schemas instead of failing the union
    val d2 = vt.rowDiff(v0, vt.currentVersion.get)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(d2 == Set(2L -> "insert"))
  }

  test("file-level stats prune individual files inside surviving commits") {
    val vt = fresh(statsCols = Seq("day", "n"))
    // each commit writes 4 files, each covering one distinct day
    // range partitioning: contiguous day ranges, no empty partitions
    // (a hash repartition can leave empty files, which carry no stats
    // and are conservatively kept by every range read)
    def batch(days: Seq[String]) = days.zipWithIndex
      .flatMap { case (d, i) => Seq((d, i * 10L + 1), (d, i * 10L + 5)) }
      .toDF("day", "n")
      .repartitionByRange(days.size, $"day")
    vt.commit(batch(Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")))
    vt.commit(batch(Seq("2024-01-05", "2024-01-06", "2024-01-07", "2024-01-08")))
    val all = vt.read().inputFiles.toSet
    assert(all.size >= 4, s"expected multiple files, got ${all.size}")
    val oneDay = vt.readRange("day", "2024-01-02", "2024-01-02")
    assert(oneDay.count() == 2)
    // pruning is FILE-level: fewer inputs than one whole commit's
    // worth (commit-granular pruning could do no better than 4)
    assert(oneDay.inputFiles.length <= 2,
      s"${oneDay.inputFiles.length} of ${all.size} files survived pruning")
  }

  test("numeric stats compare numerically, not lexicographically") {
    val vt = fresh(statsCols = Seq("n"))
    // one file holds n ∈ {2, 3}, another n ∈ {10, 11}: the string
    // compare '10' < '2' would prune the wrong file
    vt.commit(Seq(2L, 3L).toDF("n").repartition(1))
    vt.commit(Seq(10L, 11L).toDF("n").repartition(1))
    val hi = vt.readRange("n", "10", "11")
    assert(hi.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    assert(hi.inputFiles.length < vt.read().inputFiles.length,
      "the {2,3} file must be pruned for the [10,11] range")
    val lo = vt.readRange("n", "2", "3")
    assert(lo.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("stats strings with quotes/backslashes/newlines round-trip the manifest") {
    val vt = fresh(statsCols = Seq("k"))
    val nasty = Seq("a\"quote", "b\\slash", "c\nnewline", "d;semi|bar=eq%pct")
    vt.commit(nasty.toDF("k"))
    // v1 rejected the whole version on parse; v2 must read it back
    assert(vt.read().count() == 4)
    val m = vt.readManifest(vt.currentVersion.get)
    val (mn, mx) = m.files.flatMap(_.stats.get("k"))
      .reduce((a, b) => (Seq(a._1, b._1).min, Seq(a._2, b._2).max))
    assert(mn == nasty.min && mx == nasty.max)
    assert(vt.readRange("k", "a", "e").count() == 4)
  }

  test("lost-append audit heals the claim/publish interleave from either side") {
    val vt = fresh()
    val v0 = vt.commit(Seq((1L, "a")).toDF("id", "v"))
    val v1 = vt.commit(Seq((2L, "b")).toDF("id", "v")) // writer A's append
    // forge writer B's flawed publish: based on v0's snapshot (claim
    // taken before A published), so its manifest omits A's commit —
    // the lost-append window the audit exists for
    val root = vt.readAt(v0).inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/data/c_.*", "")
    val mdir = java.nio.file.Paths.get(root, "_manifests")
    val v0Body = new String(
      Files.readAllBytes(mdir.resolve("v_0.manifest")), "UTF-8")
    Files.writeString(mdir.resolve("v_2.claim"), "")
    Files.writeString(mdir.resolve("v_2.manifest"),
      v0Body.replaceFirst("\\{\"version\":0,", "{\"version\":2,"))
    // current snapshot has silently lost A's rows
    assert(vt.read().count() == 1)
    // A-side audit: A's commit is missing from the current snapshot →
    // re-append it on top
    val aFiles = vt.readManifest(v1).files
      .filterNot(f => vt.readManifest(v0).files.map(_.commit).contains(f.commit))
    val healed = vt.auditAppend(v1, aFiles,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    assert(healed > 2)
    assert(vt.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // B-side audit on the healed chain is a no-op (subset holds)
    assert(vt.auditAppend(healed, Seq.empty,
      vt.readManifest(healed).schema) == healed)
  }

  test("two interleaved healers re-appending the same files converge to each file exactly once") {
    val vt = fresh()
    vt.commit(Seq((1L, "a")).toDF("id", "v"))
    val v1 = vt.commit(Seq((2L, "b")).toDF("id", "v"))
    val v0Dirs = vt.readManifest(0L).files.map(_.commit).toSet
    val aFiles = vt.readManifest(v1).files
      .filterNot(f => v0Dirs.contains(f.commit))
    val schema = vt.readManifest(v1).schema
    // the healer race: both healers computed the SAME re-append set
    // against a snapshot read before either published; each then
    // publishes it. Without path-dedup in the append branch the second
    // publish duplicates the first healer's files (duplicate rows).
    vt.publishManifest("append", aFiles, schema, None)
    vt.publishManifest("append", aFiles, schema, None)
    val m = vt.readManifest(vt.currentVersion.get)
    assert(m.files.map(_.path).distinct.size == m.files.size,
      "manifest must list each file exactly once")
    assert(vt.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("readRange row filter keeps int64 exactness past 2^53") {
    val vt = fresh(statsCols = Seq("n"))
    // 2^53 and 2^53+1 collapse to the same double: a string-literal
    // bound (coerced via double) would wrongly admit 2^53
    val p53 = 9007199254740992L
    vt.commit(Seq(p53, p53 + 1).toDF("n").repartition(1))
    val got = vt.readRange("n", (p53 + 1).toString, (p53 + 3).toString)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(p53 + 1), s"got $got — double-coerced bound admitted 2^53")
  }

  test("vacuum spares an in-flight claim's data dirs, reclaims them once the grace expires") {
    val vt = fresh()
    vt.commit(Seq((1L, "a")).toDF("id", "v"))            // v0
    vt.replace(Seq((2L, "b")).toDF("id", "v"))           // v1: v0's dir orphaned
    val root = vt.read().inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/data/c_.*", "")
    // forge an in-flight writer: data written, claim v2 naming the dir,
    // manifest not yet published — the claim→publish window
    val inflight = java.nio.file.Paths.get(root, "data", "c_inflight")
    Files.createDirectories(inflight)
    Files.writeString(inflight.resolve("part-00000.parquet"), "pending")
    Files.writeString(java.nio.file.Paths.get(root, "_manifests", "v_2.claim"),
      "data/c_inflight\n")
    assert(vt.vacuum(retain = 1) == 1,
      "v0's dir (referenced by the manifest dropped NOW) is swept immediately")
    assert(Files.exists(inflight), "in-flight commit's dir must survive")
    // round-8 advice: a LATER manifest must NOT unpin a younger claim —
    // A claims v2, B claims+publishes v3, A may still be mid-publish
    vt.replace(Seq((3L, "c")).toDF("id", "v"))           // v3 (> claim 2)
    vt.vacuum(retain = 1)
    assert(Files.exists(inflight),
      "a newer manifest does not prove the claimant dead (in-grace claim pins)")
    // only grace expiry declares the claimant crashed; graceMs = 0 is
    // the operator's no-writers-live assertion
    Thread.sleep(5)
    assert(vt.vacuum(retain = 1, graceMs = 0) >= 1)
    assert(!Files.exists(inflight), "expired claim no longer pins its dir")
    // the claim FILE survives: deleting it would free version 2 for
    // re-allocation, and a resumed claimant's publish would then
    // silently clobber the new writer's manifest (rename replaces on
    // POSIX) — numbers must never be reusable while a claimant could
    // still be alive
    assert(Files.exists(java.nio.file.Paths.get(root, "_manifests", "v_2.claim")),
      "vacuum must not delete a pending claim file (version-reuse hazard)")
    val next = vt.replace(Seq((4L, "d")).toDF("id", "v"))
    assert(next > 3, s"allocation must skip the retained claim number; got $next")
  }

  test("randomized commit/replace/vacuum interleavings keep every retained version readable") {
    // model test for the grace-reworked vacuum: under the single-writer
    // contract, no sequence of appends, replaces, and vacuums (at both
    // grace extremes) may ever corrupt the current snapshot or leave a
    // listed version unreadable (a swept dir a manifest still needs)
    val rnd = new scala.util.Random(9)
    val vt = fresh()
    var expected = Seq.empty[(Long, String)]
    for (i <- 1 to 22) {
      rnd.nextInt(4) match {
        case 0 | 1 =>
          val rows = Seq((i.toLong, s"r$i"))
          vt.commit(rows.toDF("id", "v"))
          expected = expected ++ rows
        case 2 =>
          val rows = (1 to rnd.nextInt(3) + 1)
            .map(j => (i.toLong * 100 + j, s"c$i-$j"))
          vt.replace(rows.toDF("id", "v"))
          expected = rows
        case _ =>
          vt.vacuum(retain = rnd.nextInt(3) + 1,
            graceMs = if (rnd.nextBoolean()) 0L
              else VersionedTable.DefaultVacuumGraceMs): Unit
      }
      assert(vt.read().collect().map(r => (r.getLong(0), r.getString(1)))
        .sorted.toSeq == expected.sorted,
        s"snapshot diverged from the model after step $i")
      // every version vacuum retained must still resolve to real files
      vt.versions.foreach(v => vt.readAt(v).count())
    }
  }

  test("vacuum leaves a young unclaimed dir (the pre-claim writeData window) until grace") {
    val vt = fresh()
    vt.commit(Seq((1L, "a")).toDF("id", "v"))            // v0
    val root = vt.read().inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/data/c_.*", "")
    // forge a writer INSIDE writeData: the dir exists, no claim yet —
    // commit() only claims after the (long) Spark write finishes
    val inflight = java.nio.file.Paths.get(root, "data", "c_writing")
    Files.createDirectories(inflight)
    Files.writeString(inflight.resolve("part-00000.parquet"), "half")
    assert(vt.vacuum(retain = 1) == 0,
      "an unreferenced dir younger than the grace may be an in-flight write")
    assert(Files.exists(inflight))
    // age the dir past the grace: now provably abandoned
    Files.setLastModifiedTime(inflight,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(vt.vacuum(retain = 1) == 1)
    assert(!Files.exists(inflight), "orphan past the grace is reclaimed")
  }

  test("a pre-v2 (op-less header) manifest is rejected with a migration error") {
    val vt = fresh()
    vt.commit(Seq((1L, "a")).toDF("id", "v"))
    val root = vt.read().inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/data/c_.*", "")
    val mdir = java.nio.file.Paths.get(root, "_manifests")
    // v1 wrote {"version":N,"txn":"..."} with {"dir":...} entries; the
    // op cannot be inferred (v1 replace wrote the identical header), so
    // reading must fail loudly instead of guessing append
    Files.writeString(mdir.resolve("v_1.claim"), "")
    Files.writeString(mdir.resolve("v_1.manifest"),
      "{\"version\":1,\"txn\":\"\"}\n{\"dir\":\"data/c_x\",\"min\":\"a\",\"max\":\"b\"}\n")
    val e = intercept[IllegalStateException](vt.readManifest(1L))
    assert(e.getMessage.contains("pre-v2"))
    assert(e.getMessage.contains("v_1.manifest"))
    assert(e.getMessage.contains("migration"))
    // the %-escaped text format that preceded the JSON codec: schema,
    // stats and audit stored as strings — also a named migration error
    Files.writeString(mdir.resolve("v_1.manifest"),
      "{\"version\":1,\"txn\":\"\",\"op\":\"append\",\"schema\":" +
        "\"{\\\"type\\\":\\\"struct\\\",\\\"fields\\\":[]}\"," +
        "\"audit\":\"k=v%3B\"}\n" +
        "{\"file\":\"data/c_x/part-0\",\"commit\":\"data/c_x\",\"stats\":\"v=a|b\"}\n")
    val old = intercept[IllegalStateException](vt.readManifest(1L))
    assert(old.getMessage.contains("v_1.manifest"))
    assert(old.getMessage.contains("%-escaped text format"))
    assert(old.getMessage.contains("migration"))
    // a truncated entry line names the manifest it was found in
    val v0Lines = new String(
      Files.readAllBytes(mdir.resolve("v_0.manifest")), "UTF-8").split("\n")
    Files.writeString(mdir.resolve("v_1.manifest"),
      v0Lines(0).replaceFirst("\\{\"version\":0,", "{\"version\":1,") + "\n" +
        v0Lines(1).take(v0Lines(1).length / 2) + "\n")
    val cut = intercept[IllegalStateException](vt.readManifest(1L))
    assert(cut.getMessage.contains("v_1.manifest"), cut.getMessage)
    assert(cut.getMessage.contains("corrupt line"), cut.getMessage)
    // audit values holding the old codec's delimiters round-trip
    Files.delete(mdir.resolve("v_1.manifest"))
    Files.delete(mdir.resolve("v_1.claim"))
    val nasty = Map("q" -> "a\"quote", "b" -> "back\\slash",
      "n" -> "new\nline", "d" -> "semi;eq=pct%bar|")
    val v = vt.commitAudited(Seq((2L, "b")).toDF("id", "v"), nasty)
    assert(vt.auditOf(v) == nasty)
  }

  test("lost-append audit, B side: predecessor's append is carried forward") {
    val vt = fresh()
    val v0 = vt.commit(Seq((1L, "a")).toDF("id", "v"))
    val v1 = vt.commit(Seq((2L, "b")).toDF("id", "v")) // A's append
    val root = vt.readAt(v0).inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/data/c_.*", "")
    val mdir = java.nio.file.Paths.get(root, "_manifests")
    val v0Body = new String(
      Files.readAllBytes(mdir.resolve("v_0.manifest")), "UTF-8")
    Files.writeString(mdir.resolve("v_2.claim"), "")
    Files.writeString(mdir.resolve("v_2.manifest"),
      v0Body.replaceFirst("\\{\"version\":0,", "{\"version\":2,"))
    // B audits its own publish (v2): the immediately-below manifest
    // (A's v1 append) is not a subset → B restores A's files
    val healed = vt.auditAppend(2L, vt.readManifest(v0).files,
      vt.readManifest(v0).schema)
    assert(healed > 2)
    assert(vt.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("a rejected publish releases its claim; the version number is not burned") {
    val dir = Files.createTempDirectory("vt2").toString
    val vt = new VersionedTable(spark, dir)
    vt.commit(Seq((1L, "a")).toDF("id", "v"))
    // type-changing append: mergeSchemas refuses AFTER the claim won
    intercept[IllegalArgumentException] {
      vt.commit(Seq((2L, 99L)).toDF("id", "v")) // v: string -> long
    }
    // a published version keeps its claim marker by design; the leak
    // is a claim with NO manifest (a pending claim nobody owns)
    val names = new java.io.File(s"$dir/_manifests").listFiles()
      .map(_.getName).toSet
    val orphans = names.filter(_.endsWith(".claim"))
      .filterNot(c => names.contains(c.stripSuffix(".claim") + ".manifest"))
    assert(orphans.isEmpty,
      s"failed publish leaked pending claims: $orphans")
    // a compatible commit proceeds and takes the RELEASED number
    val v = vt.commit(Seq((2L, "b")).toDF("id", "v"))
    assert(v == 1L, "released version number must be reusable")
    assert(vt.read().count() == 2)
  }

  /** Spark jobs started while `action` runs (the listener bus is
    * asynchronous: drained by a short wait).
    */
  private def countJobs(action: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try { action; Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Per data file (path relative to the table root): Spark's own
    * min/max of `cast(c as string)` and NULL count for each of `cols`,
    * for files where the column has a non-NULL value.
    */
  private def sparkStats(vt: VersionedTable, cols: Seq[String])
      : Map[String, Map[String, (String, String)]] = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("string")), max(col(c).cast("string")),
      sum(when(col(c).isNull, 1L).otherwise(0L)).cast("string")))
    vt.read().groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        r.getString(0).replaceFirst(".*/(data/c_)", "$1") ->
          cols.zipWithIndex.flatMap { case (c, i) =>
            if (r.isNullAt(1 + 3 * i)) Nil
            else {
              val nulls = r.getString(3 + 3 * i)
              Seq(c -> (r.getString(1 + 3 * i), r.getString(2 + 3 * i)),
                s"$c#nulls" -> (nulls, nulls))
            }
          }.toMap
      }.toMap
  }

  test("a commit whose stats columns are date, long and string runs only " +
      "its write job; footer bands equal Spark's own per-file stats") {
    val cols = Seq("d", "n", "s")
    val vt = fresh(statsCols = cols)
    // three files of two rows each; the third is all-NULL
    val rows = Seq(
      (Some("2024-01-05"), Some(7L), Some("zebra")),
      (None, Some(-3L), Some("Ünïcode ☃ straße")),
      (Some("0001-01-01"), Some(Long.MinValue), Some("Ärger")),
      (Some("2024-02-29"), Some(Long.MaxValue), None),
      (None, None, None),
      (None, None, None))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("d", "n", "s")
      .withColumn("d", to_date($"d"))
    assert(countJobs(vt.commit(df): Unit) == 1,
      "footer-exact stats columns need no read-back job")
    val m = vt.readManifest(vt.currentVersion.get)
    assert(m.files.size == 3)
    val expected = sparkStats(vt, cols)
    m.files.foreach { f =>
      assert(f.stats.removed("#rows") == expected(f.path), f.path)
      assert(f.stats("#rows")._1 == "2")
    }
    // the all-NULL file records no band for any column
    assert(m.files.exists(_.stats.keySet == Set("#rows")))
  }

  test("an INT96 timestamp stats column gets its band from the read-back job") {
    val saved = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val vt = fresh(statsCols = Seq("t", "n"))
      val df = spark.sparkContext.parallelize(Seq(
        (Some("2024-01-05 10:00:00"), 1L), (None, 2L),
        (Some("2023-06-30 23:59:59"), 3L)), 2).toDF("t", "n")
        .withColumn("t", to_timestamp($"t"))
      vt.commit(df)
      val m = vt.readManifest(vt.currentVersion.get)
      val expected = sparkStats(vt, Seq("t", "n"))
      assert(m.files.exists(_.stats.contains("t")))
      m.files.foreach(f =>
        assert(f.stats.removed("#rows") == expected(f.path), f.path))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", saved)
  }
}
