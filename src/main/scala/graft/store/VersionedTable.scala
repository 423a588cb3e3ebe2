package graft.store

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.TextNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructType}

import VersionedTable.{Carry, Drop, FileAction, Json, Rewrite}

/** Minimal ACID snapshot layer over parquet — the Delta/Iceberg-shaped
  * table format the offline store's approach commits to, built only on
  * what Spark ships (parquet-hadoop for footers, Jackson for the
  * manifest's JSON lines). Replaces "a directory of parquet files IS
  * the table" with "a MANIFEST of files is the table":
  *
  *  - every commit writes its data files to a fresh, never-reused
  *    directory `data/c_<uuid>` (write once, no in-place mutation);
  *  - a version's manifest `_manifests/v_<n>.manifest` is JSON lines:
  *    a header (version, txn, op, schema, audit) and one line per
  *    live data FILE (with its commit directory and per-file column
  *    stats), carrying forward the previous version's files (append)
  *    or starting over (replace/compaction). Manifests of the older
  *    text formats fail loudly with a migration error;
  *  - readers resolve the table to the HIGHEST fully-published
  *    manifest and plan their scan from its file list alone — an
  *    in-flight writer is invisible until its manifest publishes, so
  *    reads are snapshot-isolated for free, and `readAt(n)` is time
  *    travel (old data dirs are never deleted by appends);
  *  - writers claim version n+1 by atomic exclusive create of a
  *    `.claim` marker, then publish the manifest via temp-write +
  *    rename — two phases so readers can never observe a
  *    half-written manifest. A loser of the claim race rebases on the
  *    new current manifest and retries; a writer that crashes between
  *    claim and publish wastes one version number (the claim is never
  *    reused) and nothing else. After publishing an APPEND, the
  *    writer audits for the lost-append interleave (see below) and
  *    heals or fails loudly instead of silently dropping a commit.
  *
  * Schema evolution: each manifest records the snapshot's schema
  * (merged across commits — add-column appends widen it; a type
  * change fails loudly). Reads plan with the manifest schema, so
  * files written before a column existed backfill it with NULL —
  * the Delta/Iceberg add-column semantics — and `readAt` of a
  * pre-evolution version sees that version's own (narrower) schema.
  *
  * Partitioned commits: a commit written partitioned by a column
  * ([[rewritePartitions]] — the online store's key buckets) records
  * each file's partition value in its manifest entry, so a reader
  * plans one partition's scan from the manifest alone.
  *
  * Scan planning: the manifest carries per-FILE min/max stats for the
  * configured `statsCols`, so a range read prunes individual files
  * BEFORE touching the filesystem (the Iceberg manifest-pruning idea
  * at file granularity — assert via `df.inputFiles`). Numeric stats
  * compare numerically, others lexicographically. A commit takes the
  * stats of signed integer, string and date columns from the parquet
  * footers it just wrote, with no Spark job; only the other types
  * (timestamps, floating point, decimals, ...) or a footer without
  * usable statistics cost one read-back aggregation job over the new
  * files. Within surviving files, the pushed-down predicate still
  * prunes parquet row groups by footer min/max. At 100 TB the knobs
  * are the same as any table format's: periodic `replace` compaction
  * bounds manifest length and file counts; manifests themselves are
  * O(files) tiny text lines read only on the driver.
  *
  * Idempotent replay: a commit may carry an application transaction
  * id; re-committing an id that any manifest already records is a
  * no-op returning the committed version — at-least-once ingest
  * pipelines (the store's streaming path) can replay a batch safely.
  *
  * Lost-append audit: with base entries read after the claim, two
  * ACCIDENTAL writers can interleave as claim(A,n) → claim(B,n+1) →
  * baseRead(B: n−1) → publish(either order) — B's manifest omits A's
  * commit, so A's append would silently vanish from the current
  * snapshot (readable only via readAt(n)). Both writers therefore
  * audit after publishing an append: a writer whose commit is missing
  * from the now-current snapshot re-appends its files on top; a
  * writer whose immediate predecessor's files it failed to carry
  * forward re-appends the missing files. Either way the final
  * current snapshot contains both appends (spec: lost-append heal).
  * The audit bounds its repair rounds and fails loudly past them; a
  * replace racing an append is outside the audit's scope (it cannot
  * be healed without knowing intent) and stays on the documented
  * single-writer contract.
  *
  * Single-JVM caveat: exclusive-create is atomic on HDFS and
  * best-effort on local FS / object stores without conditional puts —
  * same caveat every manifest-pointer design documents.
  */
class VersionedTable(spark: SparkSession, root: String,
    statsCols: Seq[String] = Nil) {

  private val manifestsDir = s"$root/_manifests"
  private val manifestRe = "v_(\\d+)\\.manifest".r
  private val claimRe = "v_(\\d+)\\.claim".r

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One live data file: root-relative path, its commit directory,
    * and per-statsCol (min, max) string bounds (absent for a column
    * that is all-NULL in the file or missing from its commit).
    */
  final case class FileEntry(path: String, commit: String,
      stats: Map[String, (String, String)])

  /** One parsed manifest. `op` is what produced the version;
    * `schema` is the snapshot's reconciled read schema. `audit` is
    * the op's compliance-reportable evidence (delete-class commits:
    * key COUNTS, cutoffs, file/row removal totals — never the keys
    * themselves, which would re-retain forgotten identifiers inside
    * the manifest); empty for ops without one.
    */
  final case class Manifest(txn: Option[String], op: String,
      schema: StructType, files: Seq[FileEntry],
      audit: Map[String, String] = Map.empty)

  // ---- manifest encoding: JSON lines -------------------------------
  //
  // line 1, the header: {"version":N,"txn":"..","op":"..",
  //   "schema":{<StructType JSON>},"audit":{"key":"value",..}}
  // one line per live file: {"file":"..","commit":"..",
  //   "stats":{"col":["min","max"],..}}

  /** The manifest of `version`: header line, then one line per file. */
  private def manifestBody(version: Long, txnId: Option[String], op: String,
      schema: StructType, audit: Map[String, String],
      files: Seq[FileEntry]): String = {
    txnId.foreach { t =>
      require(t.matches("[A-Za-z0-9._:-]+"),
        s"txnId '$t' — use [A-Za-z0-9._:-]+")
    }
    val header = Json.createObjectNode().put("version", version)
      .put("txn", txnId.getOrElse("")).put("op", op)
    header.set[JsonNode]("schema", Json.readTree(schema.json))
    val auditNode = header.putObject("audit")
    audit.toSeq.sortBy(_._1).foreach { case (k, v) => auditNode.put(k, v) }
    val entries = files.map { f =>
      val e = Json.createObjectNode().put("file", f.path).put("commit", f.commit)
      val st = e.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        st.putArray(c).add(mn).add(mx)
      }
      e
    }
    (header +: entries).map(Json.writeValueAsString).mkString("", "\n", "\n")
  }

  private[store] def readManifest(n: Long): Manifest = {
    def corrupt(why: String): Nothing =
      throw new IllegalStateException(s"$root v_$n.manifest: $why")
    def migration(what: String): Nothing = corrupt(s"$what — tables " +
      "written in an older manifest format require migration (re-commit " +
      "their data through this class); their op and stats cannot be " +
      "read safely")
    val in = fs.open(new Path(manifestsDir, s"v_$n.manifest"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    def parse(line: String): JsonNode =
      try Json.readTree(line)
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
        corrupt(s"corrupt line '$line' (${e.getOriginalMessage})")
      }
    def text(o: JsonNode, field: String): String = o.get(field) match {
      case t: TextNode => t.textValue
      case _ => corrupt(s"line without a string '$field': $o")
    }
    def fields(o: JsonNode): Seq[(String, JsonNode)] =
      o.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
    val h = parse(lines.headOption.getOrElse(""))
    // a pre-v2 header has no op: guessing one would poison
    // auditAppend/changesSince (a v1 `replace` misread as `append`
    // re-appends compacted-away files). The %-escaped text format that
    // followed stored the schema, stats and audit as strings.
    if (h.has("version") && !h.has("op"))
      migration(s"pre-v2 manifest (op-less header '$h')")
    if (h.has("op") && !h.path("schema").isObject)
      migration("manifest in the retired %-escaped text format")
    val op = text(h, "op")
    if (!VersionedTable.Ops(op)) corrupt(s"unknown op '$op' in header $h")
    val schema =
      try DataType.fromJson(h.path("schema").toString).asInstanceOf[StructType]
      catch { case e: Exception => corrupt(s"corrupt schema (${e.getMessage})") }
    val files = lines.tail.map { line =>
      val e = parse(line)
      FileEntry(text(e, "file"), text(e, "commit"),
        fields(e.path("stats")).map { case (c, b) =>
          if (!b.isArray || b.size != 2) corrupt(s"corrupt stats band '$c' in $line")
          c -> (b.get(0).asText, b.get(1).asText)
        }.toMap)
    }
    Manifest(Some(text(h, "txn")).filter(_.nonEmpty), op, schema, files,
      fields(h.path("audit")).map { case (k, v) => k -> v.asText }.toMap)
  }

  /** Compliance-reportable audit evidence recorded by the op that
    * published `version` — removal counts, cutoffs, key counts
    * (never the keys themselves). Empty for ops without one.
    */
  def auditOf(version: Long): Map[String, String] =
    readManifest(version).audit

  /** One LIST of `_manifests` — the only filesystem call a reader
    * pays to find the current version.
    */
  private def listNumbers(re: scala.util.matching.Regex): Seq[Long] =
    try fs.listStatus(new Path(manifestsDir)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case re(n) => Some(n.toLong)
        case _     => None
      }
    }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Committed (readable) versions, ascending. */
  def versions: Seq[Long] = listNumbers(manifestRe).sorted

  def currentVersion: Option[Long] = versions.lastOption

  /** True iff some committed manifest records `txnId`. Incremental:
    * this instance caches every txn id it has seen and reads only
    * manifests NEWER than its high-water mark, so a long-lived
    * per-batch caller (the bus sink commits every micro-batch) pays
    * O(new versions) amortized, not O(all versions) per call — after
    * 10k micro-batches the old full scan opened 10k manifests per
    * commit. Vacuum dropping old versions is safe here: a dropped
    * manifest's txn stays cached, and committed-ness never un-happens.
    * Cross-instance writers are still observed (the version LIST runs
    * every call; only the manifest READS are memoized).
    */
  def txnCommitted(txnId: String): Boolean = synchronized {
    versions.filter(_ > txnScannedUpTo).foreach { n =>
      readManifest(n).txn.foreach(txnSeen += _)
      txnScannedUpTo = math.max(txnScannedUpTo, n)
    }
    txnSeen.contains(txnId)
  }
  private var txnScannedUpTo: Long = -1L
  private val txnSeen = scala.collection.mutable.HashSet.empty[String]

  /** All committed txn ids, ascending version order. Consumers that
    * encode durable state in their txn ids (the bus sink's offset
    * high-water marks, `graft.sources.OffsetTrackedSink`) recover it
    * from here; same O(versions) driver-side scan as [[txnCommitted]].
    */
  def committedTxnIds: Seq[String] = versions.flatMap(n => readManifest(n).txn)

  /** Txn ids of manifests with `fromExcl < version < toExcl` only —
    * the post-publish interleave probe ([[graft.sources
    * .OffsetTrackedSink]] scans exactly the window between its fence
    * snapshot and its own publish for a foreign writer's marks).
    * Empty range → zero manifest reads, so the common no-interleave
    * case costs nothing.
    */
  def txnIdsBetween(fromExcl: Long, toExcl: Long): Seq[String] =
    versions.filter(n => n > fromExcl && n < toExcl)
      .flatMap(n => readManifest(n).txn)

  // ---- reads --------------------------------------------------------

  /** `files` read under `schema`, the manifest's reconciliation
    * contract: files written before a column existed backfill it with
    * NULL, and a column dropped from one commit's frame reads as NULL
    * there.
    */
  private[store] def readFiles(schema: StructType,
      files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(files.map(f => s"$root/${f.path}"): _*)

  /** Snapshot read of the given version — the file list AND schema
    * are frozen in the manifest, so the frame is immune to later
    * commits and later schema evolution.
    */
  def readAt(version: Long): DataFrame = {
    val m = readManifest(version)
    readFiles(m.schema, m.files)
  }

  private def noVersion: Nothing =
    throw new IllegalStateException(s"$root: no committed version")

  /** Snapshot read of the current version. */
  def read(): DataFrame = readAt(currentVersion.getOrElse(noVersion))

  /** `c`'s type in the snapshot schema; string when unknown, the
    * conservative comparison for stats bands.
    */
  private def colType(m: Manifest, c: String): DataType =
    m.schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)

  /** The one stats comparator: `a` against `b` as values of `dt`.
    * Numeric columns compare as numbers (their cast-to-string forms
    * don't order lexicographically), everything else as strings
    * (dates/timestamps in ISO form order correctly). None when a
    * numeric bound does not parse: no file is pruned or dropped on it.
    */
  private def compareAs(dt: DataType)(a: String, b: String): Option[Int] =
    dt match {
      case _: NumericType =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case _ => Some(a.compareTo(b))
    }

  /** Whether the stats band [mn, mx] meets [lo, hi]; an unparseable
    * bound keeps the file.
    */
  private def overlaps(dt: DataType, mn: String, mx: String,
      lo: String, hi: String): Boolean =
    (for (a <- compareAs(dt)(mn, hi); b <- compareAs(dt)(mx, lo))
      yield a <= 0 && b >= 0).getOrElse(true)

  /** Range read with FILE-level manifest pruning on `statsCol`: files
    * whose [min,max] band misses [lo,hi] are dropped from the scan
    * BEFORE any filesystem touch (assert via `df.inputFiles`). Files
    * without stats for the column are conservatively kept. The
    * returned frame still carries the row-level filter, which also
    * reaches the parquet footers of surviving files.
    */
  def readRange(statsCol: String, lo: String, hi: String): DataFrame = {
    require(statsCols.contains(statsCol),
      s"$root: readRange($statsCol) needs the column in statsCols=$statsCols")
    val m = readManifest(currentVersion.getOrElse(noVersion))
    val dt = colType(m, statsCol)
    val kept = m.files.filter(f =>
      f.stats.get(statsCol).forall { case (mn, mx) => overlaps(dt, mn, mx, lo, hi) })
    // row filter with TYPED bounds: comparing a numeric column against
    // a string literal coerces both to double, which loses exactness
    // past 2^53 — while the manifest pruning above (BigDecimal) stays
    // exact. Cast the bounds to the column's own type instead.
    readFiles(m.schema, kept).filter(col(statsCol) >= lit(lo).cast(dt) &&
      col(statsCol) <= lit(hi).cast(dt))
  }

  /** Single-stats-column convenience (the store's event_date path). */
  def readRange(lo: String, hi: String): DataFrame = {
    require(statsCols.nonEmpty, s"$root: readRange needs statsCols")
    readRange(statsCols.head, lo, hi)
  }

  /** CDC between two committed versions, rows tagged `change_type`
    * (`insert` / `delete`). Fast path: when the target's manifest
    * carries every source commit forward (the append-only chain —
    * the common case), the changes are EXACTLY the added commit
    * directories, so the diff reads O(delta) files and compares no
    * rows at all — the manifest IS the change log. After a `replace`
    * (compaction/rewrite) breaks the chain, falls back to
    * [[rowDiff]]'s multiset row comparison. Downstream incremental
    * consumers (online-view refresh, index maintenance, replication)
    * poll this instead of rescanning the table. Rows read with the
    * TARGET version's schema (evolution-safe).
    */
  def changesSince(fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(currentVersion).getOrElse(noVersion)
    require(fromVersion <= to, s"changesSince($fromVersion > $to)")
    // FILE-path-level subset, not commit-dir-level: [[deleteKeys]]
    // carries the UNTOUCHED files of a commit dir forward while
    // dropping its touched siblings, so a dir-set test would misread
    // a delete as a pure append and tag the rewritten survivors as
    // inserts (while losing the deletes entirely)
    val fromPaths = readManifest(fromVersion).files.map(_.path).toSet
    val toM = readManifest(to)
    if (fromPaths.subsetOf(toM.files.map(_.path).toSet))
      readFiles(toM.schema, toM.files.filterNot(f => fromPaths.contains(f.path)))
        .withColumn("change_type", lit("insert"))
    else rowDiff(fromVersion, to)
  }

  /** Multiset row diff between two snapshots: rows only in `to` tag
    * `insert`, rows only in `from` tag `delete` (an update appears as
    * its delete/insert pair — key-level pairing is the consumer's
    * join). Both sides read with the LATER version's schema so an
    * evolved column diffs as NULL→value instead of failing the union.
    *
    * FILE-pruned: a data file carried VERBATIM between the two
    * manifests contributes the identical row multiset to both sides,
    * and multiset subtraction cancels common parts exactly
    * ((F + A) ∖ (F + B) = A ∖ B for any common F) — so the diff reads
    * only each side's files NOT in the other manifest. A takedown or
    * retention sweep therefore diffs O(touched files), never
    * O(table): the CDC feed standing-index repair consumes after an
    * expire costs what the expire touched.
    */
  def rowDiff(fromVersion: Long, toVersion: Long): DataFrame = {
    val later = readManifest(math.max(fromVersion, toVersion))
    val fromM = readManifest(fromVersion)
    val toM = readManifest(toVersion)
    val fromPaths = fromM.files.map(_.path).toSet
    val toPaths = toM.files.map(_.path).toSet
    val from = readFiles(later.schema,
      fromM.files.filterNot(f => toPaths.contains(f.path)))
    val to = readFiles(later.schema,
      toM.files.filterNot(f => fromPaths.contains(f.path)))
    to.exceptAll(from).withColumn("change_type", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("change_type", lit("delete")))
  }

  // ---- writes -------------------------------------------------------

  private def absRootPath: String =
    fs.makeQualified(new Path(root)).toUri.getPath

  /** Footer-only facts of one part file: its row count and, for each
    * stats column whose footer statistics are EXACT, that column's
    * stats entries — `(min, max)` rendered as `cast(c as string)`
    * renders them, plus the `<col>#nulls` count — or no entries when
    * the column is absent from the file or all-NULL. A column missing
    * from the result is not footer-exact here ([[footerString]]);
    * an unreadable footer yields (None, empty).
    */
  private def footerStats(p: Path)
      : (Option[Long], Map[String, Map[String, (String, String)]]) =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, spark.sparkContext.hadoopConfiguration),
        VersionedTable.FooterReadOptions)
      try {
        val meta = r.getFooter.getFileMetaData
        val legacyDates =
          meta.getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime")
        val chunks = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        def exact(c: String): Option[Map[String, (String, String)]] =
          if (!meta.getSchema.containsField(c)) Some(Map.empty)
          else {
            val t = meta.getSchema.getType(Seq(c): _*)
            val mine = chunks.filter(_.getPath.toDotString == c)
            // a chunk whose stats omit min/max while holding values
            // (parquet drops oversized binary bounds) is not exact
            val complete = t.isPrimitive && mine.forall { cc =>
              val st = cc.getStatistics
              st != null && st.isNumNullsSet &&
                (st.hasNonNullValue || st.getNumNulls == cc.getValueCount)
            }
            if (!complete) None
            else {
              val merged = Statistics.createStats(t)
              mine.foreach(cc => merged.mergeStatistics(cc.getStatistics))
              def str(v: Any) = footerString(t.asPrimitiveType, legacyDates, v)
              if (!merged.hasNonNullValue) Some(Map.empty) // all-NULL
              else for {
                mn <- str(merged.genericGetMin)
                mx <- str(merged.genericGetMax)
              } yield {
                val nulls = merged.getNumNulls.toString
                Map(c -> (mn, mx), s"$c#nulls" -> (nulls, nulls))
              }
            }
          }
        (Some(r.getRecordCount),
          statsCols.flatMap(c => exact(c).map(c -> _)).toMap)
      } finally r.close()
    } catch { case scala.util.control.NonFatal(_) => (None, Map.empty) }

  /** `v`, a footer min/max of parquet type `pt`, as Spark's
    * `cast(c as string)` renders the same value — for the types where
    * the two provably agree: signed integers, strings (parquet orders
    * UTF-8 bytes unsigned, as Spark compares strings), and dates of
    * years 1–9999 written without the legacy Julian rebase. None for
    * every other type (timestamps, floating point, decimals, binary...):
    * the commit's read-back aggregation covers those columns.
    */
  private def footerString(pt: PrimitiveType, legacyDates: Boolean,
      v: Any): Option[String] = {
    import PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, null) => Some(v.toString)
      case (INT32 | INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
          if i.isSigned => Some(v.toString)
      case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation)
          if !legacyDates =>
        val d = java.time.LocalDate.ofEpochDay(v.asInstanceOf[Integer].longValue)
        Option.when(d.getYear >= 1 && d.getYear <= 9999)(d.toString)
      case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        Some(v.asInstanceOf[Binary].toStringUsingUTF8)
      case _ => None
    }
  }

  /** Σ `#rows` over entries, as long as EVERY entry carries the stat
    * (a partial sum would misreport removals) — None otherwise.
    */
  private def rowsOf(entries: Seq[FileEntry]): Option[Long] = {
    val counts = entries.map(_.stats.get("#rows").map(_._1.toLong))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Inventory + per-file stats of a freshly written commit dir. The
    * file list comes from the filesystem (authoritative — zero-row
    * part files still belong to the commit). One footer read per file
    * gives its `#rows` (which lets delete-class commits report rows
    * removed by manifest arithmetic alone) and the stats of every
    * footer-exact stats column. The columns some footer cannot state
    * exactly get ONE grouped read-back scan keyed by
    * `input_file_name()`: per-file min/max cast to string, plus the
    * NULL count under `<col>#nulls` — min/max ignore NULLs, so
    * decisions that must account for NULL rows, like
    * [[expireBefore]]'s whole-file drop, need the count. Both paths
    * record identical entries.
    */
  private def filesOf(dir: String): Seq[FileEntry] = {
    val absRoot = absRootPath
    def rel(p: Path): String =
      p.toUri.getPath.stripPrefix(absRoot).stripPrefix("/")
    // recursive: a partitioned commit nests its files in `col=value`
    // dirs, and each file's values become its stats band (min = max).
    // listStatus, not listFiles: the located statuses of a recursive
    // listFiles fork a process per file for its permissions on a local
    // filesystem
    def walk(d: Path): Seq[Path] = fs.listStatus(d).toSeq.flatMap(st =>
      if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
    val footers = walk(new Path(s"$root/$dir"))
      .filter(_.getName.startsWith("part-"))
      .map(p => rel(p) -> footerStats(p))
    val readBack = statsCols.filterNot(c => footers.forall(_._2._2.contains(c)))
    val readBackStats: Map[String, Map[String, (String, String)]] =
      if (readBack.isEmpty) Map.empty
      else {
        val df = spark.read.parquet(s"$root/$dir")
        val present = readBack.filter(df.columns.contains)
        if (present.isEmpty) Map.empty
        else {
          val aggs = present.flatMap(c => Seq(
            min(col(c)).cast("string").as(s"mn_$c"),
            max(col(c)).cast("string").as(s"mx_$c"),
            sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L)))
              .cast("string").as(s"nl_$c")))
          df.groupBy(input_file_name().as("f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect()
            .map { r =>
              val file = rel(new Path(new java.net.URI(r.getString(0))))
              file -> present.zipWithIndex.flatMap { case (c, i) =>
                val mn = r.getString(1 + 3 * i)
                val mx = r.getString(2 + 3 * i)
                val nl = r.getString(3 + 3 * i)
                if (mn == null || mx == null) None
                else Seq(c -> (mn, mx), s"$c#nulls" -> (nl, nl))
              }.toMap
            }.toMap
        }
      }
    footers.map { case (p, (rows, exact)) =>
      val partValues = p.split('/').dropRight(1).flatMap { seg =>
        seg.split("=", 2) match {
          case Array(c, v) => Some(c -> (v, v))
          case _           => None
        }
      }
      FileEntry(p, dir, exact.values.flatten.toMap ++
        readBackStats.getOrElse(p, Map.empty) ++ partValues ++
        rows.map(n => "#rows" -> (n.toString, n.toString)))
    }
  }

  /** Widen `prev` with `cur`'s new columns; a column present in both
    * must keep its type (loud failure — silent type change is the
    * corruption every table format refuses). All fields are stored
    * nullable: a column absent from some commit reads as NULL there.
    */
  private def mergeSchemas(prev: StructType, cur: StructType): StructType = {
    val prevNames = prev.fieldNames.toSet
    prev.fields.foreach { f =>
      cur.fields.find(_.name == f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"$root: schema evolution cannot change '${f.name}' from " +
            s"${f.dataType.simpleString} to ${g.dataType.simpleString}")
      }
    }
    StructType((prev.fields ++ cur.fields.filterNot(f =>
      prevNames.contains(f.name))).map(_.copy(nullable = true)))
  }

  /** Claim-then-publish of version = max(any claim or manifest)+1;
    * returns the published version number. For `append`, the new
    * manifest is the current files plus `addFiles` under the merged
    * schema; for `replace`, exactly `addFiles` under `addSchema`.
    *
    * Writer concurrency contract: ONE writer at a time (the store's
    * own model — the reference ingests single-worker). The claim
    * protocol plus the post-publish lost-append audit (see class
    * docs) make ACCIDENTAL concurrent appends converge to a snapshot
    * containing both, instead of silently dropping one.
    */
  private[store] def publishManifest(op: String, addFiles: Seq[FileEntry],
      addSchema: StructType, txnId: Option[String],
      audit: Map[String, String] = Map.empty): Long = {
    fs.mkdirs(new Path(manifestsDir))
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val next = (listNumbers(claimRe) ++ listNumbers(manifestRe))
        .foldLeft(-1L)(math.max) + 1L
      val claimed =
        try {
          // the claim body names the commit dirs this writer will
          // publish: vacuum spares dirs named by a PENDING claim (see
          // vacuum), closing the claim→publish window during which a
          // commit's data is on disk but referenced by no manifest
          val out = fs.create(new Path(manifestsDir, s"v_$next.claim"), false)
          try out.write(addFiles.map(_.commit).distinct.sorted
            .mkString("\n").getBytes("UTF-8"))
          finally out.close()
          true
        }
        catch { case _: java.io.IOException => false } // lost the race
      if (claimed) try {
        // base entries are read AFTER the claim: the claim winner
        // observes every manifest published before its claim
        val base = currentVersion.map(readManifest)
        val (files, schema) = op match {
          case "append" =>
            val prevSchema = base.fold(addSchema)(_.schema)
            // de-dup by path: two concurrent lost-append healers each
            // computed their re-append set against a snapshot read
            // BEFORE this claim — whichever publishes second would
            // otherwise re-append files the first already restored
            // (duplicate rows). Base order wins; only genuinely-new
            // paths append.
            val merged = (base.map(_.files).getOrElse(Seq.empty) ++ addFiles)
              .distinctBy(_.path)
            (merged, mergeSchemas(prevSchema, addSchema))
          case _ => (addFiles, StructType(
            addSchema.fields.map(_.copy(nullable = true))))
        }
        // BUDGET CARRY-FORWARD (r15 ADVICE #2): the privacy ledger's
        // running totals must survive vacuum, but vacuum retains
        // purely by count — if ordinary commits (appends, replaces,
        // expiries) follow the last DP release and vacuum runs
        // with a small retain, every manifest carrying the totals
        // would drop and the budget gate would silently reset. So the
        // monotone ledger keys fold FORWARD onto EVERY manifest this
        // table publishes: the newest manifest — which vacuum always
        // retains (retain >= 1) — always carries the full history,
        // structurally, with no vacuum-side special case. A release
        // commit's own audit map overrides the carried values (it
        // computed the new totals).
        val carried = base.map(_.audit).getOrElse(Map.empty)
          .view.filterKeys(VersionedTable.CarryForwardAuditKeys).toMap
        val body = manifestBody(next, txnId, op, schema, carried ++ audit, files)
        val tmp = new Path(manifestsDir, s"v_$next.manifest.tmp")
        val out = fs.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, new Path(manifestsDir, s"v_$next.manifest")))
          throw new IllegalStateException(
            s"$root: publish of v_$next failed to rename its manifest")
        return next
      } catch {
        // release our claim before propagating (schema-merge reject,
        // manifest-write failure): the claimant itself is giving the
        // number back SYNCHRONOUSLY, so reuse is safe — without this,
        // every failed attempt of a retry loop leaks a claim file
        // that vacuum never reclaims and that pins the commit's
        // orphan data dirs for a full grace period each
        case e: Throwable =>
          val m = new Path(manifestsDir, s"v_$next.manifest")
          if (!fs.exists(m)) // only if OUR manifest didn't publish
            fs.delete(new Path(manifestsDir, s"v_$next.claim"), false)
          throw e
      }
    }
    throw new IllegalStateException(
      s"$root: could not claim a version in $attempts attempts")
  }

  /** Post-publish lost-append audit (class docs): ensure the CURRENT
    * snapshot contains (a) our own commit and (b) our immediate
    * predecessor's commits if it was an append. Heals by re-appending
    * the missing files; bounded rounds, loud failure past them.
    * Returns the version whose snapshot passed the audit.
    */
  private[store] def auditAppend(published: Long, myFiles: Seq[FileEntry],
      mySchema: StructType): Long = {
    val myDirs = myFiles.map(_.commit).toSet
    var round = 0
    while (round < 5) {
      round += 1
      val vs = versions
      val top = vs.last
      val topM = readManifest(top)
      val topDirs = topM.files.map(_.commit).toSet
      if (!myDirs.subsetOf(topDirs)) {
        // a later writer published from a snapshot predating our
        // commit — re-append our files on top of the current snapshot
        publishManifest("append",
          myFiles.filterNot(f => topDirs.contains(f.commit)), mySchema, None)
      } else {
        val below = vs.filter(_ < top).lastOption.map(readManifest)
        val missing = below match {
          case Some(b) if b.op == "append" =>
            b.files.filterNot(f => topDirs.contains(f.commit))
          case _ => Seq.empty // replace below us resets the chain by design
        }
        if (missing.isEmpty) return vs.last
        // we published without carrying a just-published append
        // forward — restore its files (schema: the dropped manifest's)
        publishManifest("append", missing,
          below.fold(mySchema)(_.schema), None)
      }
    }
    throw new IllegalStateException(
      s"$root: lost-append audit did not converge after $round rounds " +
        s"(concurrent writers exceeded the accidental-interleave contract)")
  }

  /** Write `df` as one new commit directory; with `partitionBy` each
    * file lands under a `col=value` subdirectory and holds one value.
    */
  private def writeData(df: DataFrame,
      partitionBy: Option[String] = None): Seq[FileEntry] = {
    val dir = s"data/c_${UUID.randomUUID().toString.take(8)}"
    val w = df.write.mode("error")
    partitionBy.fold(w)(w.partitionBy(_)).parquet(s"$root/$dir")
    filesOf(dir)
  }

  /** Append `df` as a new commit; returns the new version (after the
    * lost-append audit — under an accidental concurrent append this
    * may be a healed version above the first published one). With
    * `txnId`, replaying an already-committed id is a no-op returning
    * the current version (idempotent at-least-once ingest). A frame
    * with NEW columns widens the table schema (add-column evolution);
    * a changed column type fails loudly.
    */
  def commit(df: DataFrame, txnId: Option[String] = None): Long =
    commitAudited(df, Map.empty, txnId)

  /** [[commit]] with compliance audit evidence attached to the
    * manifest — the RELEASE-side counterpart of the deletion audit:
    * a privacy release records what mechanism ran and what privacy
    * budget it spent (`graft.operators.Privacy.releaseDp` writes
    * `privacy.epsilon_ticks`, and [[auditLog]] then answers "what ε
    * has this table consumed"). Same append semantics and txn replay
    * fence as [[commit]]; the audit map carries metadata only, never
    * data. (On the accidental-concurrent-append HEAL path the
    * re-published manifest keeps the files but not the audit field —
    * the lost-append audit's rescue manifests are system commits; the
    * originally-published manifest, which [[auditLog]] also reads,
    * retains it.)
    */
  def commitAudited(df: DataFrame, audit: Map[String, String],
      txnId: Option[String] = None): Long = {
    if (txnId.exists(txnCommitted)) return currentVersion.get
    val files = writeData(df)
    val v = publishManifest("append", files, df.schema, txnId, audit)
    auditAppend(v, files, df.schema)
  }

  /** DELETE rows whose `keyCol` is in `keys` — the takedown /
    * retention commit every corpus store needs (VERDICT r11 #3). The
    * Delta-style copy-on-write rewrite with FILE-level manifest
    * pruning: a data file whose [min,max] stats band for `keyCol`
    * misses every key is carried into the new manifest VERBATIM
    * (never read, never rewritten — assert via FileEntry identity);
    * only overlapping files are re-read, anti-filtered, and
    * rewritten. Work is O(touched files + |keys|·files), not
    * O(table) — on a store whose commits arrive key-clustered (the
    * ingest norm: doc ids are monotone per batch) a takedown touches
    * the handful of files holding those docs.
    *
    * `keys` is a DRIVER-side list: takedown/retention sets are
    * catalog-sized (a legal request, an expired-source purge), the
    * same bounded-driver-state contract as Curation's source
    * catalogs. NULL keys are not supported in the DELETE LIST (NOT
    * IN over a NULL would drop every row of a touched file), but
    * NULL VALUES in the column are retained: the keep-predicate is
    * explicitly `NOT isin(keys) OR isNull`, because a bare
    * `!isin` evaluates to NULL (not true) on NULL-keyed rows and a
    * copy-on-write rewrite would silently drop them from every
    * touched file (r12 advice) — a delete must remove exactly the
    * rows the predicate matches TRUE, nothing else.
    *
    * Semantics: publishes op `delete` whose manifest is
    * untouched ++ rewritten — earlier versions stay readable (time
    * travel spans deletes), [[changesSince]] across the delete takes
    * the [[rowDiff]] path and tags removed rows `delete` (the CDC
    * feed standing-index repair consumes, see
    * `operators.IndexMaintenance`), and [[vacuum]] later reclaims
    * the superseded files. Idempotent under `txnId` replay. A delete
    * matching nothing (no overlapping file) publishes nothing and
    * returns the current version.
    */
  def deleteKeys(keyCol: String, keys: Seq[Any],
      txnId: Option[String] = None): Long = {
    require(keys.nonEmpty, s"$root: deleteKeys with an empty key list")
    require(keys.forall(_ != null), s"$root: deleteKeys with a NULL key")
    rewriteFiles("delete", txnId, keyBand(keyCol, keys),
      audit = (files, written) => keyAudit(keyCol, keys, files) ++
        rowsRemoved(files(Rewrite), written)) {
      _.filter(!col(keyCol).isin(keys: _*) || col(keyCol).isNull)
    }
  }

  /** COPY-ON-WRITE ROW UPDATE — one commit rewriting the rows whose
    * `keyCol` is in `keys` through `transform`, everything else
    * untouched: the third delete-class primitive (delete by key,
    * delete by age, now UPDATE by key), built for retroactive
    * rewrites like [[graft.operators.Blocklist]]'s rescrub — a
    * catalog-growth event must scrub ALREADY-LANDED documents
    * without rewriting the whole table.
    *
    * Same file-stats pruning as [[deleteKeys]]: files whose [min,max]
    * band misses every key carry into the new manifest VERBATIM
    * (never read); touched files are re-read, their NON-matching rows
    * carried as-is, their matching rows replaced by
    * `transform(matching)`. The transform must preserve the row
    * SCHEMA (same columns and types — loud failure otherwise: a
    * shape-changing rewrite is [[replace]]'s job) but may change any
    * value, drop rows (return fewer), or expand rows. NULL-keyed rows
    * are never matched (the delete-class predicate contract).
    *
    * Publishes op `update`; time travel spans it; [[changesSince]]
    * takes the [[rowDiff]] path and reports each changed row as its
    * delete/insert pair over ONLY the touched files — the CDC feed
    * standing-index repair consumes. Idempotent under `txnId` replay;
    * keys that touch no file publish nothing.
    */
  def updateRows(keyCol: String, keys: Seq[Any],
      transform: DataFrame => DataFrame,
      txnId: Option[String] = None): Long = {
    require(keys.nonEmpty, s"$root: updateRows with an empty key list")
    require(keys.forall(_ != null), s"$root: updateRows with a NULL key")
    rewriteFiles("update", txnId, keyBand(keyCol, keys),
      audit = (files, _) => keyAudit(keyCol, keys, files)) { base =>
      val matchPred = col(keyCol).isin(keys: _*)
      val transformed = transform(base.filter(matchPred))
      val want = base.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val got = transformed.schema.fields.map(f => (f.name, f.dataType)).toSeq
      require(got == want,
        s"$root: updateRows transform changed the schema " +
          s"($want -> $got) — a shape-changing rewrite is replace()")
      base.filter(!matchPred || col(keyCol).isNull).unionByName(transformed)
    }
  }

  /** A key-list rewrite re-reads the files whose `keyCol` stats band
    * overlaps some key and carries the rest. A file with no stats for
    * the column is conservatively re-read (the [[readRange]] contract).
    */
  private def keyBand(keyCol: String, keys: Seq[Any])(
      m: Manifest): FileEntry => FileAction = {
    val dt = colType(m, keyCol)
    val keyStrs = keys.map(_.toString)
    f => if (f.stats.get(keyCol).forall { case (mn, mx) =>
      keyStrs.exists(k => overlaps(dt, mn, mx, k, k)) }) Rewrite else Carry
  }

  /** Audit evidence of a key-list rewrite: counts only, never the keys
    * (storing them in the manifest would re-retain forgotten
    * identifiers).
    */
  private def keyAudit(keyCol: String, keys: Seq[Any],
      files: FileAction => Seq[FileEntry]): Map[String, String] =
    Map(
      "key_col" -> keyCol,
      "key_count" -> keys.distinct.size.toString,
      "files_touched" -> files(Rewrite).size.toString,
      "files_carried" -> files(Carry).size.toString)

  /** `rows_removed` evidence: the rows of the files a commit removed
    * minus the rows it wrote, when every entry carries its `#rows`.
    */
  private def rowsRemoved(removed: Seq[FileEntry],
      written: Seq[FileEntry]): Map[String, String] =
    (for (r <- rowsOf(removed); w <- rowsOf(written))
      yield "rows_removed" -> (r - w).toString).toMap

  /** Copy-on-write rewrite of whole PARTITIONS, the online store's
    * bucket MERGE and bucket delete. The table is written partitioned
    * by `partCol`, so each data file holds one partition and its
    * manifest entry records the value ([[partitionOf]]). The files of
    * `parts` are re-read and replaced by `rewrite(their rows)`, which
    * must carry `partCol` and stay inside `parts`; every other
    * partition's files carry verbatim. With `inserts` the rewrite may
    * add rows to partitions that hold no file yet (a MERGE); without
    * it, parts with no file publish nothing.
    */
  private[store] def rewritePartitions(op: String, partCol: String,
      parts: Set[Int], inserts: Boolean)(
      rewrite: DataFrame => DataFrame): Long =
    rewriteFiles(op, None,
      _ => f => if (partitionOf(f, partCol).exists(parts)) Rewrite else Carry,
      inserts, Some(partCol))(rewrite)

  /** The `partCol` value a partitioned commit recorded for `f`. */
  private[store] def partitionOf(f: FileEntry, partCol: String): Option[Int] =
    f.stats.get(partCol).map(_._1.toInt)

  /** The copy-on-write core of every row-rewriting commit
    * ([[deleteKeys]], [[updateRows]], [[rewritePartitions]],
    * [[expireBefore]]): `classify` gives each file of the current
    * snapshot one [[VersionedTable.FileAction]]. `Carry` files stay in
    * the new manifest VERBATIM, never read; `Drop` files leave it
    * unread; `Rewrite` files are re-read under the snapshot schema and
    * `rewrite` turns them into their replacement rows. ONE `op`
    * manifest records it all (Delta's remove + add actions in one log
    * entry). Nothing is overwritten, so a reader planned on an earlier
    * version keeps reading its files until [[vacuum]] reclaims them.
    *
    * With nothing to rewrite the call writes no data, and when every
    * file is carried it publishes nothing and returns the current
    * version — unless `inserts`, when `rewrite` always runs and may add
    * rows (it sees an empty frame, with no columns at all on a table
    * with no version yet). The snapshot schema widens with the
    * rewrite's new columns, as an append does. `audit` gets the files
    * of each action and the files written.
    */
  private def rewriteFiles(op: String, txnId: Option[String],
      classify: Manifest => FileEntry => FileAction, inserts: Boolean = false,
      partitionBy: Option[String] = None,
      audit: (FileAction => Seq[FileEntry], Seq[FileEntry]) =>
        Map[String, String] = (_, _) => Map.empty)(
      rewrite: DataFrame => DataFrame): Long = {
    if (txnId.exists(txnCommitted)) return currentVersion.get
    val base = currentVersion.map(readManifest)
    if (base.isEmpty && !inserts) noVersion
    val files = base.fold(Map.empty[FileAction, Seq[FileEntry]])(m =>
      m.files.groupBy(classify(m))).withDefaultValue(Seq.empty)
    val writes = inserts || files(Rewrite).nonEmpty
    if (!writes && files(Drop).isEmpty) return currentVersion.get
    val (written, schema) =
      if (!writes) (Seq.empty[FileEntry], base.get.schema)
      else {
        val rows = rewrite(base.fold(spark.emptyDataFrame)(m =>
          readFiles(m.schema, files(Rewrite))))
        val s = StructType(rows.schema.filterNot(f => partitionBy.contains(f.name)))
        (writeData(rows, partitionBy), base.fold(s)(m => mergeSchemas(m.schema, s)))
      }
    publishManifest(op, files(Carry) ++ written, schema, txnId,
      audit(files, written))
  }

  /** AGE-BASED RETENTION EXPIRY — one commit dropping every row whose
    * `tsCol` orders strictly BELOW `cutoff`. Rows at/above the cutoff
    * are retained, and so are rows with a NULL timestamp: like
    * [[deleteKeys]], a delete removes exactly the rows its predicate
    * matches TRUE, nothing else (the r12 NULL-retention contract) —
    * an unstamped row's age is unknown, not expired.
    *
    * Where [[deleteKeys]] must rewrite every touched file (a key set
    * can hit anywhere inside a band), the one-sided age predicate
    * admits the cheaper THREE-WAY file classification on the
    * manifest's [min,max] bands, which [[rewriteFiles]] carries out:
    *  - `max < cutoff` AND the file's `tsCol#nulls` stat is 0 →
    *    every row is provably expired: the file is DROPPED from the
    *    new manifest without ever being read (earlier versions still
    *    reference it — time travel spans the expiry, [[vacuum]]
    *    reclaims it later);
    *  - `min >= cutoff`, or no stats for the column at all (an
    *    all-NULL or column-absent file — every row NULL ⇒ retained) →
    *    carried into the new manifest VERBATIM (same FileEntry,
    *    never read);
    *  - anything else (band straddles the cutoff, unparseable bound,
    *    expired band with NULL rows present or a pre-`#nulls`-stat
    *    manifest) → read, filtered `tsCol >= cutoff OR tsCol IS
    *    NULL`, rewritten.
    * On a store whose ingest lands time-clustered commits (the norm:
    * batch timestamps are monotone), a retention sweep therefore
    * drops the old files whole and rewrites at most the boundary
    * file — O(boundary), not O(expired) and certainly not O(table);
    * a sweep with no boundary file writes no data and runs no Spark
    * job. This is the third leg of the index/store lifecycle: grow
    * (ingest), shrink by key (takedown), shrink by age (retention);
    * standing indexes repair from the expiry's [[changesSince]]
    * delete feed exactly as for a takedown (`IndexMaintenance`).
    *
    * `cutoff` is a string bound compared with the column's own type
    * ([[readRange]]'s typed contract: numeric columns numerically,
    * everything else lexicographically — ISO dates/timestamps order
    * correctly). Publishes op `expire`; idempotent under `txnId`
    * replay; a sweep that touches nothing publishes nothing and
    * returns the current version.
    *
    * Two loud-failure guards protect the compliance contract
    * (retention believed running but silently doing the wrong thing
    * is the worst failure mode for this op):
    *  - `tsCol` must be in `statsCols` (the [[readRange]] require).
    *    Without it every file lacks stats for the column, every file
    *    classifies as carry-verbatim and the sweep is a silent
    *    permanent no-op. The PER-FILE no-stats → carry branch stays:
    *    with the column configured, a file lacking its stats is one
    *    whose commit lacked the column entirely (schema evolution —
    *    every row reads NULL and NULLs are retained by contract).
    *  - the cutoff must cast to the column's type, checked on the
    *    driver before anything is written. Otherwise the row filter's
    *    `cast(cutoff)` yields NULL, so `ts >= NULL` is never TRUE and
    *    the rewrite would expire EVERY non-NULL-timestamp row — a
    *    typo'd policy constant must throw, not truncate the table.
    */
  def expireBefore(tsCol: String, cutoff: String,
      txnId: Option[String] = None): Long = {
    require(statsCols.contains(tsCol),
      s"$root: expireBefore($tsCol) needs the column in " +
        s"statsCols=$statsCols — without file stats every file " +
        "carries verbatim and the retention sweep silently retains " +
        "everything")
    def classify(m: Manifest): FileEntry => FileAction = {
      val dt = colType(m, tsCol)
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      require(Cast(Literal(cutoff), dt, Some(tz), EvalMode.TRY).eval() != null,
        s"$root: expireBefore($tsCol, $cutoff) — cutoff does not parse " +
          s"as the column type $dt; the row filter's cast would yield " +
          "NULL and expire every stamped row")
      val cmp = compareAs(dt) _
      f => f.stats.get(tsCol) match {
        case None => Carry
        case Some((mn, mx)) =>
          if (cmp(mx, cutoff).exists(_ < 0) &&
            f.stats.get(s"$tsCol#nulls").exists(_._1 == "0")) Drop
          else if (cmp(mn, cutoff).exists(_ >= 0)) Carry
          else Rewrite
      }
    }
    rewriteFiles("expire", txnId, classify,
      audit = (files, written) => Map(
        "ts_col" -> tsCol,
        "cutoff" -> cutoff,
        "files_dropped" -> files(Drop).size.toString,
        "files_carried" -> files(Carry).size.toString,
        "files_rewritten" -> files(Rewrite).size.toString) ++
        rowsRemoved(files(Drop) ++ files(Rewrite), written)) { base =>
      base.filter(col(tsCol) >= lit(cutoff).cast(base.schema(tsCol).dataType) ||
        col(tsCol).isNull)
    }
  }

  /** The COMPLIANCE LEDGER as a DataFrame: one row per (version,
    * audit key) across the table's retained history — (version, op,
    * txn, key, value). A deletion-evidence report ("what did every
    * delete/expire/update remove, and under which transaction") is a
    * filter on this; versions without audit evidence (appends,
    * pre-audit manifests) contribute no rows. Driver-side manifest
    * reads, O(versions).
    */
  def auditLog(): DataFrame = {
    import spark.implicits._
    versions.flatMap { v =>
      val m = readManifest(v)
      m.audit.toSeq.sortBy(_._1).map { case (k, x) =>
        (v, m.op, m.txn.getOrElse(""), k, x)
      }
    }.toDF("version", "op", "txn", "key", "value")
  }

  /** Replace the whole snapshot with `df` (compaction / rewrite): the
    * new manifest lists ONLY the new commit, but earlier versions
    * remain readable — time travel spans compactions. Old data dirs
    * are never deleted here; [[vacuum]] reclaims dirs unreferenced by
    * any retained manifest. The snapshot schema resets to `df`'s.
    */
  def replace(df: DataFrame, txnId: Option[String] = None): Long =
    if (txnId.exists(txnCommitted)) currentVersion.get
    else publishManifest("replace", writeData(df), df.schema, txnId)

  /** Reclaim storage: keep the `retain` most recent versions, delete
    * every older manifest (and its claim marker) and every data
    * directory no retained manifest references. Returns the number of
    * data directories deleted.
    *
    * This SHRINKS the time-travel window to `retain` versions and
    * forgets dropped versions' txn ids (replay fences should outlive
    * retention by keeping `retain` ≥ the replay horizon). Readers
    * pinned at a dropped version fail on next execution — the same
    * contract every table format's vacuum documents.
    *
    * Concurrent-writer safety rests on TWO rules (round-8 advice —
    * the old "a newer manifest proves the claimant dead" heuristic was
    * unsound: A claims v5, B claims+publishes v6, A is still mid-write):
    *
    *  1. Dirs named by any PENDING claim (a claim number with NO
    *     matching manifest — regardless of newer manifests above it)
    *     are spared while the claim file is younger than `graceMs`.
    *     A claim older than `graceMs` is presumed a crashed writer:
    *     it stops pinning its dirs, but the claim FILE is kept —
    *     deleting it would let a later writer re-allocate the number,
    *     and a resumed claimant's publish would then silently clobber
    *     that writer's manifest (rename REPLACES on POSIX). Version
    *     numbers must never be reusable while any claimant could
    *     still be alive, so only dropped-version claims (whose
    *     manifest existed) are ever deleted.
    *  2. An unreferenced data dir is reclaimed IMMEDIATELY only when a
    *     manifest dropped by THIS vacuum referenced it (durably
    *     superseded data). A dir referenced by nothing — which is what
    *     an in-flight commit looks like during `writeData`, BEFORE its
    *     claim exists — is reclaimed only once its mtime is older than
    *     `graceMs`.
    *
    * So `graceMs` must exceed the longest plausible write+publish
    * duration (the same age-based contract as Delta's vacuum retention
    * or Iceberg's remove-orphan-files `olderThan`). The default is a
    * day; an operator certain no writer is live may pass 0 for
    * immediate reclaim of everything unreferenced.
    */
  def vacuum(retain: Int = 2,
      graceMs: Long = VersionedTable.DefaultVacuumGraceMs): Int = {
    require(retain >= 1, "vacuum must retain at least the current version")
    require(graceMs >= 0, "graceMs must be non-negative")
    val now = System.currentTimeMillis()
    val vs = versions
    val dropped = vs.dropRight(retain)
    val manifestSet = vs.toSet
    // rule 1: pending claims (no matching manifest, ANY number). An
    // expired claim stops PINNING but is never deleted (see scaladoc:
    // number reuse would let a resumed claimant clobber a later
    // writer's manifest).
    val pendingClaimDirs = listNumbers(claimRe)
      .filterNot(manifestSet.contains).flatMap { n =>
        val p = new Path(manifestsDir, s"v_$n.claim")
        try {
          if (now - fs.getFileStatus(p).getModificationTime > graceMs) Nil
          else {
            val in = fs.open(p)
            val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            body.linesIterator.map(_.trim).filter(_.nonEmpty)
          }
        } catch { case _: java.io.IOException => Nil } // claim raced away
      }.toSet
    val retained = vs.takeRight(retain)
      .flatMap(readManifest(_).files.map(_.commit)).toSet ++ pendingClaimDirs
    // rule 2 bookkeeping: read the manifests we are about to drop —
    // dirs they reference are durably superseded and reclaim NOW
    val droppedReferenced = dropped.flatMap { n =>
      try readManifest(n).files.map(_.commit)
      catch { case _: Exception => Nil } // unreadable ⇒ treat as orphan
    }.toSet -- retained
    // drop old manifests first: once they're gone no reader can
    // resolve a version whose data is about to disappear
    dropped.foreach { n =>
      fs.delete(new Path(manifestsDir, s"v_$n.manifest"), false)
      fs.delete(new Path(manifestsDir, s"v_$n.claim"), false): Unit
    }
    val dataRoot = new Path(s"$root/data")
    if (!fs.exists(dataRoot)) 0
    else {
      val sweep = fs.listStatus(dataRoot).toSeq.filter(_.isDirectory)
        .filterNot(st => retained.contains(s"data/${st.getPath.getName}"))
        .filter { st =>
          droppedReferenced.contains(s"data/${st.getPath.getName}") ||
            now - st.getModificationTime > graceMs
        }
      sweep.foreach(st => fs.delete(st.getPath, true))
      sweep.size
    }
  }
}

object VersionedTable {
  /** The manifest codec: one JSON object per line. */
  private[store] val Json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The ops a manifest header may name. `compact` is no longer
    * written, but tables that hold such manifests still read.
    */
  private val Ops =
    Set("append", "replace", "delete", "update", "merge", "compact", "expire")

  /** What a copy-on-write commit ([[VersionedTable.rewriteFiles]])
    * does with one live file: keep its entry verbatim, drop it unread,
    * or re-read and rewrite its rows.
    */
  private sealed trait FileAction
  private case object Carry extends FileAction
  private case object Drop extends FileAction
  private case object Rewrite extends FileAction

  /** Read options for footer-only reads, built once: building them per
    * file (from the Hadoop configuration, or from a fresh one) cost
    * about 10 ms per file on a 4-core host, against 0.5 ms for the
    * footer read itself, and a footer read uses none of their settings.
    */
  private val FooterReadOptions =
    org.apache.parquet.ParquetReadOptions.builder().build()

  /** Default age below which vacuum presumes an unreferenced dir or an
    * unmatched claim may belong to a LIVE writer (see [[VersionedTable.vacuum]]).
    */
  val DefaultVacuumGraceMs: Long = 24L * 3600 * 1000

  /** Audit keys that fold forward onto every subsequent manifest —
    * the MONOTONE ledger state (privacy-budget running totals and the
    * per-scope composition state) that must survive vacuum dropping
    * the release manifests that first recorded it. Per-release
    * evidence keys (epsilon_ticks, mechanism, removal counts) do NOT
    * carry: they describe one commit, and losing them to vacuum is
    * the normal retention trade every table format documents.
    */
  val CarryForwardAuditKeys: Set[String] = Set(
    "privacy.epsilon_spent_total_ticks",
    "privacy.delta_spent_total_ticks",
    "privacy.budget_state")
}
