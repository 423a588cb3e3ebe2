package graft.store

import com.sun.net.httpserver.HttpExchange
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IvfIndex

/** RETRIEVAL SERVING (VERDICT r11 #8) — the [[ServingCache]] bucket
  * pattern applied to the standing search indexes: a query-side tier
  * that answers BM25 and ANN probes from DRIVER-CACHED index slices
  * with ZERO Spark jobs per probe, cold or warm, while reproducing the
  * batch operators' results bit-for-bit (spec-pinned wire parity
  * with [[graft.operators.Retrieval.bm25TopKFromIndex]] and
  * [[IvfIndex.topK]]).
  *
  * Read units mirror how each index is partitioned on disk:
  *
  *  - BM25: the postings store `(doc_id, th, tf, dl)` is laid out
  *    `tb = pmod(th, nBuckets)` ([[Bm25SearchTier.writeIndex]]), so
  *    one query term's postings — INCLUDING its exact global df —
  *    live in exactly one partition directory; a probe reads only
  *    its terms' bucket directories, memoized in a per-bucket LRU.
  *    Corpus scalars (N, Σdl) are one Spark reduction, cached on the
  *    driver and refreshed only on [[Bm25SearchTier.invalidate]]
  *    — the BM25 analogue of [[ServingCache]]'s warm tier. `nBuckets`
  *    sizes the read unit: at corpus scale thousands of buckets keep
  *    a bucket cache-able while a term's df stays exact.
  *  - ANN: the IVF store is laid out `cell=<id>` (the
  *    [[IvfIndex.assign]] partition contract); the FROZEN quantizer
  *    lives on the driver, probe→cell choice is a driver-side cosine
  *    over nLists centroids, and only the nProbe chosen cells are
  *    read and reranked with the IDENTICAL cosine fold the codegen'd
  *    expression runs.
  *
  * A bucket load lists its one directory and opens its files on the
  * calling thread ([[BucketFiles]]): no Spark job, and one bucket in
  * driver memory, which the LRU then keeps. A bucket directory the
  * index never wrote (no term, cell or band hashed there) is an empty
  * bucket; a missing index root fails.
  *
  * Scoring parity is exact, not approximate: the driver evaluates
  * the same left-associated double dag, the same
  * `BigDecimal.valueOf(...).setScale(_, HALF_UP)` rounding Spark's
  * `round` applies, the same Long tick summation, and the same
  * (ticks DESC, doc_id) / (sim DESC, vec_id) total orders.
  */
object SearchEndpoint {

  // what each tier reads from one bucket directory of its layout (the
  // partition column lives in the directory name, not the files)
  private[store] val Bm25Postings = StructType(Seq("th", "doc_id", "tf", "dl")
    .map(StructField(_, LongType)))
  private[store] val IvfVectors = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))
  private[store] val SigBands = StructType(StructField("chunk", IntegerType) +:
    Seq("chunk_val", "media_id", "dhash", "ahash").map(StructField(_, LongType)))

  /** Write a BM25 postings frame as the term-bucketed serving layout. */
  def writeBm25Index(post: org.apache.spark.sql.DataFrame, dir: String,
      nBuckets: Int = 64): Unit =
    post.withColumn("tb", pmod(col("th"), lit(nBuckets.toLong)))
      .write.partitionBy("tb").mode("overwrite").parquet(dir)

  /** Write an assigned IVF frame (`vec_id, embedding, cell`) as the
    * cell-partitioned serving layout.
    */
  def writeIvfIndex(indexed: org.apache.spark.sql.DataFrame,
      dir: String): Unit =
    indexed.select(col("vec_id"), col("embedding"), col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)

  /** Write a `(media_id, dhash, ahash)` signature frame as the
    * BAND-bucketed serving layout: each signature explodes into its
    * [[graft.operators.ImageHash.chunks]] pigeonhole bands, and rows
    * partition by `bb = pmod(chunk·2^bandBits + chunk_val, nBuckets)`
    * — the probe computes the same 4 band keys driver-side, so a
    * near-dup admission check reads at most 4 bucket directories,
    * never the index.
    */
  def writeSignatureIndex(sig: org.apache.spark.sql.DataFrame,
      dir: String, nBuckets: Int = 64): Unit = {
    val bandBits = graft.operators.ImageHash.dBits /
      graft.operators.ImageHash.chunks
    sig.select(col("media_id"), col("dhash"), col("ahash"),
        explode(sequence(lit(0),
          lit(graft.operators.ImageHash.chunks - 1))).as("chunk"))
      .withColumn("chunk_val",
        expr(s"shiftrightunsigned(dhash, chunk * $bandBits)")
          .bitwiseAND(lit((1L << bandBits) - 1)))
      .withColumn("bb", pmod(
        col("chunk").cast("long") * (1L << bandBits) + col("chunk_val"),
        lit(nBuckets.toLong)))
      .write.partitionBy("bb").mode("overwrite").parquet(dir)
  }
}

/** Driver-side BM25 scorer over the term-bucketed postings store —
  * see [[SearchEndpoint]]. Thread-safe; per-bucket memoization in a
  * [[BucketCache]].
  */
final class Bm25SearchTier(spark: SparkSession, indexDir: String,
    nBuckets: Int = 64, maxCachedBuckets: Int = 16) {
  require(nBuckets > 0 && maxCachedBuckets > 0,
    "nBuckets and maxCachedBuckets must be positive")

  // the batch operator's scoring constants (`Retrieval.bm25TopKFromIndex`
  // defaults) — bit parity with it needs exactly these values
  private val k1 = 1.2
  private val b = 0.75

  /** th → postings (doc_id, tf, dl), grouped per term at load. */
  private val cache = new BucketCache[Map[Long, Array[(Long, Long, Long)]]](
    maxCachedBuckets)
  private val files = new BucketFiles(spark)
  @volatile private var scalars: (Long, Long) = null // (n, totDl)

  def stats: (Long, Long) = cache.stats

  def invalidate(): Unit = { cache.invalidate(); scalars = null }

  /** Corpus scalars (N docs, Σdl) — ONE Spark reduction over the
    * store, then driver-cached for the tier's lifetime (every doc
    * contributes `dl` identically on all its rows, so a per-doc
    * first() is exact). The only Spark work the tier does.
    */
  private def corpusScalars(): (Long, Long) = {
    val s = scalars
    if (s != null) return s
    val row = spark.read.parquet(indexDir)
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("long"), sum(col("dl")).cast("long"))
      .head()
    // empty-but-present store: count 0 makes sum(dl) NULL — guard
    // instead of letting getLong throw (and search() divide by 0);
    // an empty index answers every query with no results (r12 advice)
    val computed =
      if (row.getLong(0) == 0L) (0L, 0L) else (row.getLong(0), row.getLong(1))
    scalars = computed
    computed
  }

  /** One term's postings from its memoized bucket (a driver-local
    * load of ONLY `tb=<b>`).
    */
  private def postings(th: Long): Option[Array[(Long, Long, Long)]] = {
    val bkt = java.lang.Math.floorMod(th, nBuckets.toLong).toInt
    cache.get(bkt) {
      files.readDir(new Path(s"$indexDir/tb=$bkt"), SearchEndpoint.Bm25Postings)
        .groupBy(_.getLong(0))
        .map { case (t, rows) =>
          t -> rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toArray
        }
    }.get(th)
  }

  /** Top-k BM25 over the standing index for a distinct term-hash set:
    * `(rank, doc_id, score)` — the exact rows
    * `bm25TopKFromIndex(post, [(queryId, th…)], k)` emits for this
    * query. `exclude` reproduces the batch operator's own-doc
    * exclusion (pass the query's doc_id, or -1 for none).
    */
  def search(terms: Seq[Long], k: Int,
      exclude: Long = -1L): Seq[(Int, Long, Double)] = {
    val (n, tot) = corpusScalars()
    if (n == 0L) return Seq.empty
    val ticksByDoc = new java.util.HashMap[java.lang.Long, java.lang.Long]
    terms.distinct.foreach { th =>
      postings(th).foreach { ps =>
        val df = ps.length.toLong
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        ps.foreach { case (doc, tf, dl) =>
          if (doc != exclude) {
            // the EXACT left-associated dag of Retrieval.score
            val t = idf * tf * (k1 + 1.0) /
              (tf + k1 * ((1.0 - b) + b * dl * n / tot)) * 1000000.0
            val tick = java.math.BigDecimal.valueOf(t)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            ticksByDoc.merge(java.lang.Long.valueOf(doc),
              java.lang.Long.valueOf(tick),
              (a: java.lang.Long, b2: java.lang.Long) =>
                java.lang.Long.valueOf(a.longValue() + b2.longValue())): Unit
          }
        }
      }
    }
    import scala.jdk.CollectionConverters._
    ticksByDoc.asScala.toSeq
      .map { case (doc, ticks) => (doc.longValue(), ticks.longValue()) }
      .sortBy { case (doc, ticks) => (-ticks, doc) }
      .take(k)
      .zipWithIndex
      .map { case ((doc, ticks), i) =>
        (i + 1, doc, java.math.BigDecimal.valueOf(ticks / 1000000.0)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      }
  }
}

/** Driver-side ANN scorer over the cell-partitioned IVF store — see
  * [[SearchEndpoint]]. The quantizer is FROZEN on the driver; a
  * probe reads only its nProbe nearest cells.
  */
final class IvfSearchTier(spark: SparkSession, indexDir: String,
    model: IvfIndex.Model, maxCachedCells: Int = 8) {

  private val cache = new BucketCache[Array[(Long, Array[Double])]](
    maxCachedCells)
  private val files = new BucketFiles(spark)

  def stats: (Long, Long) = cache.stats

  def invalidate(): Unit = cache.invalidate()

  /** Memoized driver-local cell load: reads ONLY `cell=<c>`. */
  private def cell(c: Int): Array[(Long, Array[Double])] = cache.get(c) {
    files.readDir(new Path(s"$indexDir/cell=$c"), SearchEndpoint.IvfVectors)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toArray
  }

  /** The identical sequential cosine fold the codegen'd
    * [[org.apache.spark.sql.graft.CosineSimilarityExpr]] runs — bit
    * parity is what makes the wire results equal the batch rerank.
    */
  private def cosine(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-k over the probe's nProbe nearest cells:
    * `(vec_id, sim)` ranked (sim DESC, vec_id) — the exact rows
    * [[IvfIndex.topK]] emits for this probe vector.
    */
  def search(vec: Array[Double], k: Int,
      nProbe: Int = 4): Seq[(Long, Double)] =
    model.nearestCells(vec, nProbe).flatMap(cell(_))
      .map { case (id, e) => (id, cosine(e, vec)) }
      .sortBy { case (id, sim) => (-sim, id) }
      .take(k)
}

/** Driver-side perceptual near-dup ADMISSION probe over the
  * band-bucketed signature store — the serving form of
  * [[graft.operators.ImageHash.nearDupGate]]: an ingest worker asks
  * "is this media already in the corpus?" before admitting it. The
  * probe's 4 pigeonhole band keys map to at most 4 bucket
  * directories ([[SearchEndpoint.writeSignatureIndex]]'s layout),
  * loaded on the driver and memoized in the LRU — probes are ZERO
  * Spark jobs, and results are exactly the batch gate's rows
  * for a one-probe batch (banding is EXACT for Hamming ≤ 3, so
  * parity is a theorem, not a tolerance).
  */
final class SigSearchTier(spark: SparkSession, indexDir: String,
    nBuckets: Int = 64, maxCachedBuckets: Int = 16) {
  require(nBuckets > 0 && maxCachedBuckets > 0,
    "nBuckets and maxCachedBuckets must be positive")

  private val bandBits = graft.operators.ImageHash.dBits /
    graft.operators.ImageHash.chunks
  private val bandMask = (1L << bandBits) - 1

  /** (chunk, chunk_val) → signatures in that band. */
  private val cache = new BucketCache[Map[(Int, Long), Array[(Long, Long, Long)]]](
    maxCachedBuckets)
  private val files = new BucketFiles(spark)

  def stats: (Long, Long) = cache.stats

  def invalidate(): Unit = cache.invalidate()

  private def bandsOf(dhash: Long): Seq[(Int, Long)] =
    (0 until graft.operators.ImageHash.chunks)
      .map(c => (c, (dhash >>> (c * bandBits)) & bandMask))

  /** One band's signatures from its memoized bucket (a driver-local
    * load of ONLY `bb=<b>`).
    */
  private def signatures(band: (Int, Long)): Option[Array[(Long, Long, Long)]] = {
    val bkt = java.lang.Math.floorMod(
      band._1.toLong * (1L << bandBits) + band._2, nBuckets.toLong).toInt
    cache.get(bkt) {
      files.readDir(new Path(s"$indexDir/bb=$bkt"), SearchEndpoint.SigBands)
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (k, rows) =>
          k -> rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toArray
        }
    }.get(band)
  }

  /** Near-dup matches of one probe signature against the standing
    * index: `(media_id, hamming, a_hamming)` ordered (hamming ASC,
    * media_id) — the exact row set
    * `nearDupGate(index, [(probe)], maxHamming)` emits. An empty
    * result means the probe is novel and safe to admit.
    */
  def probe(dhash: Long, ahash: Long,
      maxHamming: Int = 3): Seq[(Long, Int, Int)] = {
    require(maxHamming < graft.operators.ImageHash.chunks,
      s"banding supports Hamming < ${graft.operators.ImageHash.chunks}")
    val seen = new java.util.HashMap[java.lang.Long, (Int, Int)]
    bandsOf(dhash).foreach { band =>
      signatures(band).foreach(_.foreach {
        case (media, dh, ah) =>
          val hd = java.lang.Long.bitCount(dh ^ dhash)
          if (hd <= maxHamming)
            seen.putIfAbsent(java.lang.Long.valueOf(media),
              (hd, java.lang.Long.bitCount(ah ^ ahash))): Unit
      })
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
      .map { case (m, (hd, ha)) => (m.longValue(), hd, ha) }
      .sortBy { case (m, hd, _) => (hd, m) }
  }
}

/** Loopback HTTP surface over the search tiers — the retrieval
  * sibling of [[ServingEndpoint]], on the same [[HttpScaffold]]:
  *
  *   GET /search?q=quick+brown&k=5[&exclude=7]
  *     → {"Results":[{"rank":1,"doc_id":9,"score":1.234567},…]}
  *   GET /ann?vec=0.1,0.2,…&k=10[&nprobe=4]
  *     → {"Results":[{"vec_id":3,"sim":0.987654},…]}
  *   GET /stats → bucket/cell cache hits+misses for every wired tier
  *
  * The ANN and signature tiers are optional (`null`): without one its
  * route answers 503 (ANN) or is absent (signature), and `/stats`
  * leaves it out.
  *
  * Query text tokenizes with the corpus contract
  * ([[graft.operators.NearDup.tokenHash64]] over single-space
  * tokens), so wire queries hash exactly like ingested documents.
  */
final class SearchHttpEndpoint(bm25: Bm25SearchTier, ivf: IvfSearchTier,
    sig: SigSearchTier = null, port: Int = 0, nThreads: Int = 4,
    scrub: Seq[String] = Nil) {
  import HttpScaffold.{BadRequest, num}
  import graft.core.Json.esc

  // the scrub catalog compiles to its automaton at construction and
  // every /scrub request is pure driver compute — zero Spark jobs by
  // construction. CATALOG GROWTH (the rescrub event) reaches the
  // online tier through [[reloadScrubCatalog]]: one driver-side
  // automaton rebuild, atomically swapped — in-flight requests finish
  // on the old automaton, the next request masks under the grown
  // catalog. No restart, still zero Spark jobs.
  @volatile private var scrubAc =
    if (scrub.isEmpty) null
    else graft.operators.Blocklist.buildAutomaton(scrub)

  /** Swap the scrub catalog for a grown one (the online leg of
    * `Blocklist.rescrub` — the batch side rewrites the landed corpus,
    * this keeps request-time masking in step). Pure driver compute;
    * the same catalog validation as the batch automaton build.
    */
  def reloadScrubCatalog(patterns: Seq[String],
      caseFold: Boolean = false): Unit = {
    scrubAc = graft.operators.Blocklist.buildAutomaton(patterns, caseFold)
  }

  private val http = new HttpScaffold(port, nThreads)

  // form decoding: `+` in free text is a space
  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    HttpScaffold.rawParam(ex, name)
      .map(HttpScaffold.decode(_, plusIsSpace = true, s"'$name'"))

  // numeric query params parse inside the BadRequest wrapper — a
  // malformed k/exclude/nprobe/maxh is a client error (400), not a
  // 500 with an exception string
  private def numParam[T](ex: HttpExchange, name: String, dflt: T,
      kind: String)(parse: String => T): T =
    queryParam(ex, name).map { v =>
      try parse(v)
      catch { case _: NumberFormatException =>
        throw new BadRequest(s"'$name' must be a $kind")
      }
    }.getOrElse(dflt)

  private def intParam(ex: HttpExchange, name: String, dflt: Int): Int =
    numParam(ex, name, dflt, "32-bit integer")(_.toInt)

  private def results(rows: Seq[String]): String =
    rows.mkString("""{"Results":[""", ",", "]}")

  http.route("/search") { ex =>
    queryParam(ex, "q").map(_.trim).filter(_.nonEmpty) match {
      case None => (400, """{"error":"missing required query parameter 'q'"}""")
      case Some(q) =>
        val k = intParam(ex, "k", 5)
        val exclude = numParam(ex, "exclude", -1L, "64-bit integer")(_.toLong)
        val terms = q.split(" ", -1).toSeq
          .map(graft.operators.NearDup.tokenHash64)
        (200, results(bm25.search(terms, k, exclude).map {
          case (rank, doc, score) =>
            s"""{"rank":$rank,"doc_id":$doc,"score":${num(score)}}"""
        }))
    }
  }

  http.route("/ann") { ex =>
    if (ivf == null) (503, """{"error":"no ANN tier wired"}""")
    else queryParam(ex, "vec").map(_.trim).filter(_.nonEmpty) match {
      case None => (400, """{"error":"missing required query parameter 'vec'"}""")
      case Some(v) =>
        val vec =
          try v.split(",", -1).map(_.trim.toDouble)
          catch { case _: NumberFormatException =>
            throw new BadRequest("vec must be a comma-separated double list")
          }
        val k = intParam(ex, "k", 10)
        val nProbe = intParam(ex, "nprobe", 4)
        (200, results(ivf.search(vec, k, nProbe).map { case (id, sim) =>
          s"""{"vec_id":$id,"sim":${num(sim)}}"""
        }))
    }
  }

  // GET /neardup?dhash=…&ahash=…[&maxh=3] — the admission check:
  // {"Results":[{"media_id":…,"hamming":…,"a_hamming":…},…]}; an
  // empty Results list means novel, admit. Only when a signature
  // tier is wired.
  if (sig != null) http.route("/neardup") { ex =>
    (queryParam(ex, "dhash"), queryParam(ex, "ahash")) match {
      case (Some(d), Some(a)) =>
        val (dh, ah) =
          try (d.toLong, a.toLong)
          catch { case _: NumberFormatException =>
            throw new BadRequest("dhash/ahash must be signed 64-bit longs")
          }
        val maxH = intParam(ex, "maxh", 3)
        (200, results(sig.probe(dh, ah, maxH).map { case (m, hd, ha) =>
          s"""{"media_id":$m,"hamming":$hd,"a_hamming":$ha}"""
        }))
      case _ =>
        (400, """{"error":"missing required query parameters 'dhash','ahash'"}""")
    }
  }

  // GET /scrub?text=… — the online leg of the blocklist family
  // (q171's cover masking at request time): {"masked":…,
  // "n_masked":N,"n_spans":N}. 503 until a catalog is wired
  // (at construction or via reloadScrubCatalog) — answering
  // UNMASKED text from a scrub route would be the silent
  // compliance failure.
  http.route("/scrub") { ex =>
    val ac = scrubAc // one volatile read per request
    if (ac == null)
      (503, """{"error":"no scrub catalog wired"}""")
    else queryParam(ex, "text") match {
      case None =>
        (400, """{"error":"missing required query parameter 'text'"}""")
      case Some(t) =>
        val (m, nm, ns) = ac.maskCovered(t, '*')
        (200, s"""{"masked":"${esc(m)}","n_masked":$nm,"n_spans":$ns}""")
    }
  }

  http.route("/stats") { _ =>
    val tiers = Seq("bm25" -> bm25.stats) ++
      Option(ivf).map("ann" -> _.stats) ++ Option(sig).map("sig" -> _.stats)
    (200, tiers.map { case (name, (h, m)) =>
      s""""$name":{"hits":$h,"misses":$m}"""
    }.mkString("{", ",", "}"))
  }

  def start(): Int = http.start()

  def stop(): Unit = http.stop()
}
