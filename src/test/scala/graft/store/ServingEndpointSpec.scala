package graft.store

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

/** The over-the-wire serving surface: the reference's `get_record`
  * Record shape (`FeatureName`/`ValueAsString` pairs,
  * `utils.py:145-164`) served over loopback HTTP from the cache tier —
  * values, 404-empty-record, bad-request, stats, and concurrent
  * requests riding the per-bucket latches.
  */
class ServingEndpointSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withEndpoint[A](s: FeatureStore)(body: Int => A): A = {
    val ep = new ServingEndpoint(s.servingCache())
    val port = ep.start()
    try body(port) finally ep.stop()
  }

  private def freshStore() = FeatureStore(
    spark,
    Files.createTempDirectory("fs-endpoint").toString,
    keyCol = "customer_id", eventTimeCol = "purchase_timestamp")

  test("GET /record returns the reference's Record wire shape") {
    val s = freshStore()
    s.mergeServing(Seq((42L, ts("2024-01-01 00:00:00"), 7.5))
      .toDF("customer_id", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      val (code, body) = get(port, "/record?id=42")
      assert(code == 200)
      assert(body.contains(
        """{"FeatureName":"customer_id","ValueAsString":"42"}"""))
      assert(body.contains("""{"FeatureName":"v","ValueAsString":"7.5"}"""))
      assert(body.startsWith("""{"Record":["""))
      // the _seq bookkeeping column is dropped before serving
      assert(!body.contains("_seq"))
    }
  }

  test("unknown key is 404 with an empty Record; missing id is 400") {
    val s = freshStore()
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      assert(get(port, "/record?id=9999") == (404, """{"Record":[]}"""))
      assert(get(port, "/record?id=not-a-number")
        == (404, """{"Record":[]}"""), "unparseable id = miss, not a 500")
      assert(get(port, "/record")._1 == 400)
      val (sc, sb) = get(port, "/stats")
      assert(sc == 200 && sb.contains("\"misses\""))
    }
  }

  test("a literal '+' in a string key round-trips the query parameter") {
    // URLDecoder alone applies form-encoding rules and turns '+' into
    // a space — a miss for a record that exists. Only percent-escapes
    // are URI-query semantics.
    val s = FeatureStore(spark,
      Files.createTempDirectory("fs-endpoint-str").toString,
      keyCol = "doc_key", eventTimeCol = "purchase_timestamp")
    s.mergeServing(Seq(("a+b", ts("2024-01-01 00:00:00"), 1.0))
      .toDF("doc_key", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      // raw '+' (RFC 3986 allows it in a query) and %2B must both hit
      assert(get(port, "/record?id=a+b")._1 == 200)
      assert(get(port, "/record?id=a%2Bb")._1 == 200)
    }
  }

  test("concurrent requests serve correctly through the per-bucket latches") {
    val s = freshStore()
    s.mergeServing((1L to 200L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (1L to 200L).map { k =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call() = {
              val (code, body) = get(port, s"/record?id=$k")
              code == 200 && body.contains(
                s""""FeatureName":"v","ValueAsString":"$k.0"""")
            }
          })
        }
        assert(futures.forall(
          _.get(60, java.util.concurrent.TimeUnit.SECONDS)),
          "every concurrent lookup must return its own row")
      } finally pool.shutdownNow(): Unit
    }
  }

  test("GET /records batches lookups in the batch_get_record wire shape") {
    val s = freshStore()
    s.mergeServing(Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.5),
      (2L, ts("2024-01-02 00:00:00"), 2.5),
      (3L, ts("2024-01-03 00:00:00"), 3.5))
      .toDF("customer_id", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      // found + missing + duplicate (deduped) in one round-trip
      val (code, body) = get(port, "/records?ids=1,3,999,1")
      assert(code == 200)
      assert(body.contains(
        """{"RecordIdentifierValueAsString":"1","Record":["""))
      assert(body.contains(
        """{"RecordIdentifierValueAsString":"3","Record":["""))
      assert(body.contains("""{"FeatureName":"v","ValueAsString":"1.5"}"""))
      assert(body.contains("""{"FeatureName":"v","ValueAsString":"3.5"}"""))
      assert(body.contains(""""UnprocessedIdentifiers":["999"]"""))
      assert(!body.contains("\"2.5\""), "unrequested key must not appear")
      // duplicate id collapses to one Record entry
      assert("RecordIdentifierValueAsString\":\"1\"".r
        .findAllIn(body).size == 1)
      // the single-record route still answers beside the batch route
      assert(get(port, "/record?id=2")._1 == 200)
      // empty / oversized identifier lists are rejected loudly
      assert(get(port, "/records?ids=")._1 == 400)
      assert(get(port, "/records")._1 == 400)
      val many = (0 to 100).mkString(",")
      val (tooMany, msg) = get(port, s"/records?ids=$many")
      assert(tooMany == 400 && msg.contains("too many identifiers"))
    }
  }

  test("an encoded comma inside a batch identifier is key content, not a separator") {
    val s = FeatureStore(spark,
      Files.createTempDirectory("fs-endpoint-comma").toString,
      keyCol = "doc_key", eventTimeCol = "purchase_timestamp")
    s.mergeServing(Seq(("a,b", ts("2024-01-01 00:00:00"), 1.0),
      ("c", ts("2024-01-01 00:00:00"), 2.0))
      .toDF("doc_key", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      val (code, body) = get(port, "/records?ids=a%2Cb,c")
      assert(code == 200)
      assert(body.contains("""{"RecordIdentifierValueAsString":"a,b""""),
        "the %2C id must stay one identifier")
      assert(body.contains("""{"RecordIdentifierValueAsString":"c""""))
      assert(body.contains(""""UnprocessedIdentifiers":[]"""))
    }
  }

  test("a malformed percent-escape is the client's 400, not a 500") {
    val s = freshStore()
    s.mergeServing(Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("customer_id", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      // HttpClient refuses to even build a malformed-escape URI, so
      // speak raw HTTP: the server must still answer in the 4xx class
      def rawGet(path: String): String = {
        val sock = new java.net.Socket("127.0.0.1", port)
        try {
          val out = sock.getOutputStream
          out.write((s"GET $path HTTP/1.1\r\nHost: l\r\n" +
            "Connection: close\r\n\r\n").getBytes("US-ASCII"))
          out.flush()
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(sock.getInputStream, "US-ASCII"))
          r.readLine() // e.g. "HTTP/1.1 400 Bad Request"
        } finally sock.close()
      }
      assert(rawGet("/record?id=100%25") != null) // sanity: valid escape
      val s1 = rawGet("/record?id=100%")
      assert(s1 != null && s1.contains(" 400"), s"got: $s1")
      val s2 = rawGet("/records?ids=1,100%")
      assert(s2 != null && s2.contains(" 400"), s"got: $s2")
    }
  }

  test("array features serve as ValueAsStringList, binary as base64 ValueAsString") {
    val s = FeatureStore(spark,
      Files.createTempDirectory("fs-endpoint-arr").toString,
      keyCol = "customer_id", eventTimeCol = "purchase_timestamp")
    s.mergeServing(Seq((7L, ts("2024-01-01 00:00:00"),
        Seq(0.25, 0.5), Array[Byte](1, 2, 3)))
      .toDF("customer_id", "purchase_timestamp", "emb", "blob"))
    withEndpoint(s) { port =>
      val (code, body) = get(port, "/record?id=7")
      assert(code == 200)
      assert(body.contains(
        """{"FeatureName":"emb","ValueAsStringList":["0.25","0.5"]}"""),
        s"array must not leak a Scala debug string: $body")
      assert(!body.contains("ArraySeq") && !body.contains("WrappedArray"))
      val b64 = java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2, 3))
      assert(body.contains(
        s"""{"FeatureName":"blob","ValueAsString":"$b64"}"""))
    }
  }

  test("/healthz reports ok with cache warmth; /metrics carries the dashboard set") {
    val s = freshStore()
    s.mergeServing(Seq((42L, ts("2024-01-01 00:00:00"), 7.5))
      .toDF("customer_id", "purchase_timestamp", "v"))
    withEndpoint(s) { port =>
      val (hc, hb) = get(port, "/healthz")
      assert(hc === 200 && hb.contains(""""status":"ok""""))
      assert(hb.contains(""""buckets_loaded":0"""), s"cold tier: $hb")
      assert(get(port, "/record?id=42")._1 === 200)
      val (hc2, hb2) = get(port, "/healthz")
      assert(hc2 === 200 && hb2.contains(""""buckets_loaded":1"""))
      val (mc, mb) = get(port, "/metrics")
      assert(mc === 200)
      for (field <- Seq("\"hits\":", "\"misses\":", "\"hit_ratio\":",
          "\"lookups\":1", "\"p50_ms\":", "\"p99_ms\":", "\"buckets_loaded\":1"))
        assert(mb.contains(field), s"missing $field in $mb")
    }
  }

  test("a merge-churn storm on one bucket keeps other buckets' p99 bounded") {
    // the operational claim behind the per-bucket latches: repeated
    // serving merges force one bucket through slow reloads, and
    // requests for OTHER buckets must never queue behind them. Slow
    // loads are made explicit (400 ms sleep on every bucket except
    // the warm one); client-observed latency of the warm key is the
    // assertion, so the bound covers the whole HTTP + cache path.
    val s = freshStore()
    def batch(ids: Seq[Long], v: Double) = s.mergeServing(
      ids.map(i => (i, ts("2024-01-01 00:00:00"), v))
        .toDF("customer_id", "purchase_timestamp", "v"))
    batch(1L to 200L, 1.0)
    val kA = 1L
    val cache = new ServingCache(s, 16) {
      private val bA = bucketOf(kA)
      override protected def loadBucket(b: Int, plan: ServingCache.BucketPlan) = {
        if (b != bA) Thread.sleep(400)
        super.loadBucket(b, plan)
      }
    }
    val kB = (2L to 200L).find(k => cache.bucketOf(k) != cache.bucketOf(kA)).get
    val ep = new ServingEndpoint(cache)
    val port = ep.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      assert(get(port, s"/record?id=$kA")._1 === 200) // warm bucket A
      // JIT/HTTP warm-up so the measured window is steady-state
      (1 to 20).foreach(_ => get(port, s"/record?id=$kA"))
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      // the storm: serving merges keep changing bucket B's signature,
      // and each post-merge lookup drags B through a 400 ms reload
      val storm = pool.submit(new java.util.concurrent.Callable[Int] {
        def call() = {
          var reloads = 0
          for (i <- 1 to 3) {
            batch(Seq(kB), i + 1.0)
            val t0 = System.nanoTime()
            if (get(port, s"/record?id=$kB")._1 == 200) {
              if ((System.nanoTime() - t0) / 1e6 >= 400.0) reloads += 1
            }
          }
          stop.set(true)
          reloads
        }
      })
      // meanwhile: hammer the warm bucket and record client latencies
      val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (!stop.get()) {
        val t0 = System.nanoTime()
        val (code, _) = get(port, s"/record?id=$kA")
        assert(code === 200)
        lat += (System.nanoTime() - t0) / 1e6
      }
      assert(storm.get(120, java.util.concurrent.TimeUnit.SECONDS) >= 1,
        "the storm must have dragged bucket B through a slow reload")
      assert(lat.size >= 20, s"expected a steady request stream, got ${lat.size}")
      val sorted = lat.sorted
      val p99 = sorted(math.min((0.99 * sorted.size).toInt, sorted.size - 1))
      assert(p99 < 200.0,
        s"warm-bucket p99 must stay far under the 400 ms reload: $p99 ms " +
          s"(n=${lat.size})")
    } finally {
      pool.shutdownNow()
      ep.stop()
    }
  }

  test("cold bucket loads on request threads run no Spark job and equal " +
      "online(), in rewritten and untouched buckets after an add-column ingest") {
    val s = freshStore()
    s.ingest((1L to 150L).map(i =>
        (i, ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("customer_id", "purchase_timestamp", "v"))
    // the widening batch rewrites only its keys' buckets; every other
    // bucket keeps files without visit_count
    val widened = Seq(3L, 40L, 151L)
    s.ingest(widened.map(i =>
        (i, ts("2024-02-01 12:34:56.789"), -i.toDouble, i * 10))
      .toDF("customer_id", "purchase_timestamp", "v", "visit_count"))
    val online = s.online()
    val want = online.collect().map(r => r.getAs[Long]("customer_id") -> r).toMap
    val cache = s.servingCache(maxCachedBuckets = 64)
    val buckets = want.keys.groupBy(cache.bucketOf)
    val rewritten = widened.map(cache.bucketOf).toSet
    assert(buckets.keySet.exists(!rewritten(_)), "some bucket is untouched")
    val ep = new ServingEndpoint(cache)
    val port = ep.start()
    try {
      // one request per bucket: each is that bucket's cold load
      val jobs = countJobs {
        for ((_, ks) <- buckets) assert(get(port, s"/record?id=${ks.head}")._1 === 200)
      }
      assert(jobs === 0, s"cold bucket loads ran $jobs Spark jobs")
    } finally ep.stop()
    assert(cache.stats === ((0L, buckets.size.toLong)))
    for ((k, row) <- want) {
      val got = cache.get(k).get
      assert(got === row, s"key $k")
      assert(got.schema.fieldNames.toSeq === online.schema.fieldNames.toSeq)
    }
    assert(cache.stats._2 === buckets.size.toLong, "every later get is a hit")
    assert(cache.get(40L).get.getAs[Long]("visit_count") === 400L)
    assert(cache.get(40L).get.getAs[Timestamp]("purchase_timestamp") ===
      ts("2024-02-01 12:34:56.789"))
    val untouched = want.keys.find(k => !rewritten(cache.bucketOf(k))).get
    assert(cache.get(untouched).get.isNullAt(
      cache.get(untouched).get.fieldIndex("visit_count")))
  }
}
