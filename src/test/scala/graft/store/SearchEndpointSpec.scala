package graft.store

import java.nio.file.Files

import scala.io.Source

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{IvfIndex, NearDup, Retrieval}

/** The retrieval serving leg ([[SearchEndpoint]]): wire-shape parity
  * with the batch operators (`bm25TopKFromIndex` / `IvfIndex.topK`)
  * and the zero-Spark-jobs warm path.
  */
class SearchEndpointSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, path: String): String = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val is = if (conn.getResponseCode >= 400) conn.getErrorStream
      else conn.getInputStream
    val src = Source.fromInputStream(is, "UTF-8")
    try src.mkString finally src.close()
  }

  test("BM25 tier: driver results == bm25TopKFromIndex rows, repeat " +
      "probes run zero Spark jobs, wire shape carries rank/doc/score") {
    val docs = Tables.load(spark, sf, "documents").limit(300)
      .localCheckpoint(true)
    val post = Retrieval.docTermStats(docs).localCheckpoint(true)
    val dir = Files.createTempDirectory("bm25-serve").toString
    SearchEndpoint.writeBm25Index(post, dir, nBuckets = 16)
    val tier = new Bm25SearchTier(spark, dir, nBuckets = 16)

    // probe = first 4 tokens of doc 0 (the q103 fixture shape)
    val text = docs.filter($"doc_id" === 0L).select($"text").as[String].head()
    val terms = text.split(" ", -1).take(4).toSeq.map(NearDup.tokenHash64)
    val queries = terms.distinct.map(th => (0L, th)).toDF("query_id", "th")
    val want = Retrieval.bm25TopKFromIndex(post, queries, k = 5)
      .orderBy($"rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
      .map(r => (r._2, r._3, r._4))
    assert(want.nonEmpty)

    // cold path: once the corpus scalars are primed (a search with no
    // terms loads no bucket), the first probe reads its term buckets
    // on the driver without a Spark job
    assert(tier.search(Nil, k = 5) === Nil)
    assert(tier.stats === ((0L, 0L)))
    val coldJobs = countJobs {
      assert(tier.search(terms, k = 5, exclude = 0L) === want)
    }
    assert(coldJobs === 0, s"cold probe ran $coldJobs Spark jobs")
    // warm path: same probe, zero Spark jobs
    val jobs = countJobs {
      assert(tier.search(terms, k = 5, exclude = 0L) === want)
    }
    assert(jobs === 0, s"warm probe ran $jobs Spark jobs")
    val (h, m) = tier.stats
    assert(h > 0L && m > 0L)

    // the HTTP surface serves the same rows (q tokenizes like the
    // corpus; score printed at the 6-decimal contract)
    val ivfDir = Files.createTempDirectory("ivf-serve-x").toString
    val emb = Tables.load(spark, sf, "embeddings").limit(64)
    val (indexed, model) = IvfIndex.buildPivots(emb, nLists = 4)
    SearchEndpoint.writeIvfIndex(indexed, ivfDir)
    val ep = new SearchHttpEndpoint(tier,
      new IvfSearchTier(spark, ivfDir, model))
    val port = ep.start()
    try {
      val q = java.net.URLEncoder.encode(
        text.split(" ", -1).take(4).mkString(" "), "UTF-8")
      val body = get(port, s"/search?q=$q&k=5&exclude=0")
      val wantJson = want.map { case (rank, doc, score) =>
        s"""{"rank":$rank,"doc_id":$doc,"score":${String.format(
          java.util.Locale.ROOT, "%.6f", Double.box(score))}}"""
      }.mkString("""{"Results":[""", ",", "]}")
      assert(body === wantJson)
      assert(get(port, "/search?k=5").contains("missing required"))
      assert(get(port, "/stats").contains("\"bm25\""))
    } finally ep.stop()
  }

  test("ANN tier: driver results == IvfIndex.topK rows; repeat probes " +
      "zero Spark jobs; /ann serves the same ranking") {
    val emb = Tables.load(spark, sf, "embeddings").localCheckpoint(true)
    val (indexed, model) = IvfIndex.buildPivots(emb, nLists = 8)
    val dir = Files.createTempDirectory("ivf-serve").toString
    SearchEndpoint.writeIvfIndex(indexed, dir)
    val tier = new IvfSearchTier(spark, dir, model)

    val probe = emb.filter($"vec_id" === 0L)
    val want = IvfIndex.topK(indexed, model, probe, k = 10, nProbe = 3)
      .as[(Long, Long, Double)].collect().toSeq
      .map(r => (r._2, r._3))
    assert(want.nonEmpty)
    val vec = probe.select($"embedding").as[Array[Float]].head()
      .map(_.toDouble)

    val coldJobs = countJobs {
      assert(tier.search(vec, k = 10, nProbe = 3) === want)
    }
    assert(coldJobs === 0, s"cold probe ran $coldJobs Spark jobs")
    assert(tier.stats._2 === 3L, "the cold probe loaded its 3 cells")
    val jobs = countJobs {
      assert(tier.search(vec, k = 10, nProbe = 3) === want)
    }
    assert(jobs === 0, s"warm probe ran $jobs Spark jobs")

    val bm25Dir = Files.createTempDirectory("bm25-serve-x").toString
    SearchEndpoint.writeBm25Index(
      Retrieval.docTermStats(
        Tables.load(spark, sf, "documents").limit(50)), bm25Dir)
    val ep = new SearchHttpEndpoint(
      new Bm25SearchTier(spark, bm25Dir), tier)
    val port = ep.start()
    try {
      val body = get(port,
        s"/ann?vec=${vec.mkString(",")}&k=10&nprobe=3")
      val wantJson = want.map { case (id, sim) =>
        s"""{"vec_id":$id,"sim":${String.format(
          java.util.Locale.ROOT, "%.6f", Double.box(sim))}}"""
      }.mkString("""{"Results":[""", ",", "]}")
      assert(body === wantJson)
      assert(get(port, "/ann?vec=not,numbers").contains("error"))
    } finally ep.stop()
  }

  test("malformed numeric params are 400s, not 500s; an empty-but-" +
      "present index answers with no results instead of throwing") {
    // fully-purged store shape: schema-only parquet, zero rows
    val docs = Tables.load(spark, sf, "documents").limit(10)
    val post = Retrieval.docTermStats(docs)
    val emptyDir = Files.createTempDirectory("bm25-empty").toString
    post.limit(0).coalesce(1).write.mode("overwrite").parquet(emptyDir)
    val emptyTier = new Bm25SearchTier(spark, emptyDir)
    assert(emptyTier.search(Seq(1L, 2L), k = 5) === Seq.empty)

    val dir = Files.createTempDirectory("bm25-400").toString
    SearchEndpoint.writeBm25Index(post, dir, nBuckets = 4)
    val ivfDir = Files.createTempDirectory("ivf-400").toString
    val emb = Tables.load(spark, sf, "embeddings").limit(32)
    val (indexed, model) = IvfIndex.buildPivots(emb, nLists = 2)
    SearchEndpoint.writeIvfIndex(indexed, ivfDir)
    val sigDir = Files.createTempDirectory("sig-400").toString
    SearchEndpoint.writeSignatureIndex(
      Seq((1L, 5L, 7L)).toDF("media_id", "dhash", "ahash"), sigDir,
      nBuckets = 4)
    val ep = new SearchHttpEndpoint(
      new Bm25SearchTier(spark, dir, nBuckets = 4),
      new IvfSearchTier(spark, ivfDir, model),
      new SigSearchTier(spark, sigDir, nBuckets = 4))
    val port = ep.start()
    try {
      def code(path: String): Int = {
        val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try conn.getResponseCode finally conn.disconnect()
      }
      assert(code("/search?q=a&k=oops") === 400)
      assert(code("/search?q=a&k=5&exclude=NaN") === 400)
      assert(code("/ann?vec=0.5,0.5&nprobe=many") === 400)
      assert(code("/ann?vec=0.5,0.5&k=") === 400)
      assert(code("/neardup?dhash=5&ahash=7&maxh=x") === 400)
      assert(code("/neardup?dhash=5&ahash=7&maxh=2") === 200)
      // a bucket the index never wrote is empty, not a 500: (1, 5, 7)
      // over 4 buckets writes bb=0 and bb=1 only; dhash=2's first band
      // falls in bb=2, its other three in bb=0 (Hamming 3 from 5)
      assert(get(port, "/neardup?dhash=2&ahash=7") ===
        """{"Results":[{"media_id":1,"hamming":3,"a_hamming":0}]}""")
      assert(code("/neardup?dhash=2&ahash=7&maxh=2") === 200)
      assert(get(port, "/neardup?dhash=2&ahash=7&maxh=2") === """{"Results":[]}""")
    } finally ep.stop()

    // BM25: one query term hashes into a tb= bucket no posting fills
    val tiny = Retrieval.docTermStats(
      Seq((1L, "quick brown fox"), (2L, "lazy brown dog")).toDF("doc_id", "text"))
    val tinyDir = Files.createTempDirectory("bm25-holes").toString
    SearchEndpoint.writeBm25Index(tiny, tinyDir, nBuckets = 16)
    val written = new java.io.File(tinyDir).list()
      .filter(_.startsWith("tb=")).map(_.stripPrefix("tb=").toInt).toSet
    val hole = Iterator.from(0).map(i => s"absent$i").find(t =>
      !written(java.lang.Math.floorMod(NearDup.tokenHash64(t), 16L).toInt)).get
    val terms = Seq("brown", hole).map(NearDup.tokenHash64)
    val want = Retrieval.bm25TopKFromIndex(tiny,
        terms.map(th => (-1L, th)).toDF("query_id", "th"), k = 5)
      .orderBy($"rank").as[(Long, Int, Long, Double)].collect().toSeq
      .map(r => (r._2, r._3, r._4))
    assert(want.map(_._2).toSet === Set(1L, 2L))
    assert(new Bm25SearchTier(spark, tinyDir, nBuckets = 16)
      .search(terms, k = 5) === want)
    // a missing index root stays a loud, named error
    val gone = s"$tinyDir-gone"
    val e = intercept[java.io.FileNotFoundException](
      new SigSearchTier(spark, gone, nBuckets = 4).probe(2L, 7L))
    assert(e.getMessage.contains(gone))
  }

  test("BM25 bucket LRU stays bounded and invalidate() refreshes the " +
      "corpus scalars after index growth") {
    val docs = Tables.load(spark, sf, "documents").limit(100)
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("bm25-grow").toString
    val firstHalf = docs.filter($"doc_id" % 2 === 0)
    SearchEndpoint.writeBm25Index(Retrieval.docTermStats(firstHalf), dir,
      nBuckets = 8)
    val tier = new Bm25SearchTier(spark, dir, nBuckets = 8,
      maxCachedBuckets = 2)
    val text = docs.filter($"doc_id" === 0L).select($"text").as[String].head()
    val terms = text.split(" ", -1).take(4).toSeq.map(NearDup.tokenHash64)
    val before = tier.search(terms, k = 5)

    // grow the index to the full corpus; a stale tier still serves
    // the old snapshot, invalidate() picks up the new one
    SearchEndpoint.writeBm25Index(Retrieval.docTermStats(docs), dir,
      nBuckets = 8)
    tier.invalidate()
    val after = tier.search(terms, k = 5)
    val post = Retrieval.docTermStats(docs).localCheckpoint(true)
    val queries = terms.distinct.map(th => (-1L, th)).toDF("query_id", "th")
    val want = Retrieval.bm25TopKFromIndex(post, queries, k = 5)
      .orderBy($"rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
      .map(r => (r._2, r._3, r._4))
    assert(after === want)
    assert(before !== after) // df/N really shifted with growth
  }

  test("/scrub serves the q171 cover masking at request time — parity " +
      "with the batch redact, zero Spark jobs per request") {
    val cat = Seq("mask me", "me now")
    val bm25Dir = Files.createTempDirectory("bm25-scrub").toString
    SearchEndpoint.writeBm25Index(
      Retrieval.docTermStats(
        Tables.load(spark, sf, "documents").limit(20)), bm25Dir)
    val ivfDir = Files.createTempDirectory("ivf-scrub").toString
    val emb = Tables.load(spark, sf, "embeddings").limit(32)
    val (indexed, model) = IvfIndex.buildPivots(emb, nLists = 2)
    SearchEndpoint.writeIvfIndex(indexed, ivfDir)
    val ep = new SearchHttpEndpoint(
      new Bm25SearchTier(spark, bm25Dir),
      new IvfSearchTier(spark, ivfDir, model),
      scrub = cat)
    val port = ep.start()
    try {
      val text = "lead mask me now tail and mask me again"
      val want = graft.operators.Blocklist
        .redact(Seq((1L, text)).toDF("doc_id", "text"), cat)
        .as[(Long, String, Long, Long)].head()
      var body = ""
      val jobs = countJobs {
        body = get(port,
          s"/scrub?text=${java.net.URLEncoder.encode(text, "UTF-8")}")
      }
      assert(jobs === 0, s"/scrub ran $jobs Spark jobs")
      assert(body ===
        s"""{"masked":"${want._2}","n_masked":${want._3},""" +
        s""""n_spans":${want._4}}""")
      assert(want._3 > 0L) // the probe text really matched
      assert(get(port, "/scrub").contains("missing required"))

      // CATALOG GROWTH reaches the online tier (the rescrub event's
      // serving leg): reload with a grown catalog, the next request
      // masks the new pattern too — still zero Spark jobs
      val grown = cat :+ "tail"
      ep.reloadScrubCatalog(grown)
      val want2 = graft.operators.Blocklist
        .redact(Seq((1L, text)).toDF("doc_id", "text"), grown)
        .as[(Long, String, Long, Long)].head()
      var body2 = ""
      val jobs2 = countJobs {
        body2 = get(port,
          s"/scrub?text=${java.net.URLEncoder.encode(text, "UTF-8")}")
      }
      assert(jobs2 === 0, s"post-reload /scrub ran $jobs2 Spark jobs")
      assert(body2 ===
        s"""{"masked":"${want2._2}","n_masked":${want2._3},""" +
        s""""n_spans":${want2._4}}""")
      assert(want2._3 > want._3) // the grown catalog really masks more
    } finally ep.stop()
  }

  test("/scrub answers 503 until a catalog is wired — an unmasked " +
      "answer from a scrub route would be the silent compliance " +
      "failure; a reload brings it live") {
    val bm25Dir = Files.createTempDirectory("bm25-noscrub").toString
    SearchEndpoint.writeBm25Index(
      Retrieval.docTermStats(
        Tables.load(spark, sf, "documents").limit(10)), bm25Dir)
    val ivfDir = Files.createTempDirectory("ivf-noscrub").toString
    val emb = Tables.load(spark, sf, "embeddings").limit(16)
    val (indexed, model) = IvfIndex.buildPivots(emb, nLists = 2)
    SearchEndpoint.writeIvfIndex(indexed, ivfDir)
    val ep = new SearchHttpEndpoint(
      new Bm25SearchTier(spark, bm25Dir),
      new IvfSearchTier(spark, ivfDir, model))
    val port = ep.start()
    try {
      assert(get(port, "/scrub?text=x").contains("no scrub catalog"))
      ep.reloadScrubCatalog(Seq("bad"))
      assert(get(port, "/scrub?text=a%20bad%20day") ===
        """{"masked":"a *** day","n_masked":3,"n_spans":1}""")
    } finally ep.stop()
  }

  test("an endpoint built without an ANN tier answers /ann 503 and " +
      "leaves the tier out of /stats") {
    val bm25Dir = Files.createTempDirectory("bm25-noann").toString
    SearchEndpoint.writeBm25Index(
      Retrieval.docTermStats(
        Tables.load(spark, sf, "documents").limit(10)), bm25Dir)
    val ep = new SearchHttpEndpoint(new Bm25SearchTier(spark, bm25Dir), null)
    val port = ep.start()
    try {
      val conn = new java.net.URI(s"http://127.0.0.1:$port/ann?vec=1.0,0.0")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 503)
      assert(get(port, "/ann?vec=1.0,0.0") === """{"error":"no ANN tier wired"}""")
      assert(get(port, "/stats") === """{"bm25":{"hits":0,"misses":0}}""")
      assert(get(port, "/search?q=x").startsWith("""{"Results":["""))
    } finally ep.stop()
  }
}
