package perfbench

import java.net.{HttpURLConnection, URI}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{NearDup, Retrieval}
import graft.store.{Bm25SearchTier, FeatureStore, SearchEndpoint,
  SearchHttpEndpoint, ServingCache, ServingEndpoint}

/** `serve`: an open loop of `/record` point lookups on a
  * [[ServingEndpoint]] over `FeatureStore.servingCache`, mixed with
  * `/search` BM25 probes on a [[SearchHttpEndpoint]].
  *
  * Keys follow a seeded Zipf law over key ranks, and ranks are laid out
  * bucket by bucket in a seeded bucket order: the hottest ranks share
  * the first serving buckets, so the hot head fits the 16-bucket cache
  * while the tail (and the LRU churn it causes) loads buckets through
  * Spark. A seeded share of lookups asks for keys that do not exist.
  * Requests are due on a fixed schedule and timed from when they were
  * due, so a stall also charges the requests queued behind it.
  */
object Serve {

  final case class Sizes(keys: Int, docs: Int, vocab: Int, queries: Int,
      refRate: Int, ladder: Seq[Int], setups: Int)

  private val Full = Sizes(keys = 10000, docs = 200, vocab = 1000,
    queries = 200, refRate = 150, ladder = Seq(300, 600, 1200), setups = 2)
  private val Smoke = Sizes(keys = 2000, docs = 100, vocab = 300,
    queries = 10, refRate = 50, ladder = Seq(100), setups = 1)

  /** The engine's serving layout and cache bounds (FeatureStore). */
  val LayoutBuckets = 64
  val CacheBuckets = 16
  val ZipfS = 1.1
  /** Serving buckets holding the hot head; fewer than [[CacheBuckets]],
    * so the LRU keeps them while tail loads churn the spare slots.
    */
  val HotBuckets = 8
  /** One lookup in this many asks for a cold-tail key. */
  val TailEvery = 40
  val HotTermBuckets = 12
  /** One search in this many carries a term from outside the hot term
    * buckets, so it loads an index bucket through Spark.
    */
  val ColdSearchEvery = 20
  val SearchShare = 0.10
  val AbsentShare = 0.05
  val TopK = 5
  /** Latency limit on `/record` p99 for a ladder rate to count as met. */
  val LimitMs = 500.0
  private val T0 = 1704067200L // 2024-01-01T00:00:00Z, seconds

  private val schema = StructType(Seq(
    StructField("customer_id", LongType),
    StructField("purchase_timestamp", TimestampType),
    StructField("latest_purchase_value", DoubleType),
    StructField("avg_purchase_value", DoubleType),
    StructField("avg_loyalty_score", DoubleType),
    StructField("latest_loyalty_score", DoubleType)))

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Seeded inputs: customer records, documents and search queries. */
  final class Inputs(seed: Long, z: Sizes) {
    private val rng = new SplittableRandom(seed)
    val ids: Array[Long] = {
      val pool = Array.tabulate(z.keys * 4)(i => i.toLong + 1L)
      for (i <- pool.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = pool(i); pool(i) = pool(j); pool(j) = t
      }
      pool.take(z.keys)
    }
    val rows: Array[Row] = ids.map { id =>
      Row(id, new java.sql.Timestamp((T0 + rng.nextInt(86400 * 30)) * 1000L),
        round2(rng.nextDouble() * 200), round2(rng.nextDouble() * 200),
        round2(rng.nextDouble() * 10), round2(rng.nextDouble() * 10))
    }
    /** The body `/record` must return for each present key. */
    val body: Map[Long, String] = rows.map { r =>
      val fields = schema.fields.indices.map { i =>
        s"""{"FeatureName":"${schema(i).name}","ValueAsString":"${r.get(i)}"}"""
      }
      r.getLong(0) -> fields.mkString("""{"Record":[""", ",", "]}")
    }.toMap
    private val vocabCdf = zipfCdf(z.vocab, 1.0)
    private def term(): String = s"t${draw(vocabCdf, rng)}"
    val docs: Seq[(Long, String)] = (0 until z.docs).map { d =>
      d.toLong -> Seq.fill(20 + rng.nextInt(41))(term()).mkString(" ")
    }
    /** Search queries. The first [[hotQueries]] take their 2 or 3 terms
      * from the terms whose index bucket is one of a seeded set of
      * [[HotTermBuckets]] buckets, which the search tier's 16-bucket
      * cache holds: once warm, they run no Spark job. The rest (a
      * quarter as many) add one term from another bucket, whose load
      * is the search tier's miss path.
      */
    val hotQueries: Int = z.queries
    val queries: IndexedSeq[String] = {
      val hot = rng.ints(0, LayoutBuckets).distinct().limit(HotTermBuckets)
        .toArray.toSet
      val (hotTerms, coldTerms) = (1 to z.vocab / 2).map(i => s"t$i")
        .partition(t => hot.contains(java.lang.Math.floorMod(
          NearDup.tokenHash64(t), LayoutBuckets.toLong).toInt))
      def pick(ts: IndexedSeq[String]) = ts(rng.nextInt(ts.length))
      val hq = (0 until hotQueries).map { _ =>
        Seq.fill(2 + rng.nextInt(2))(pick(hotTerms)).distinct.mkString(" ")
      }
      val cq = (0 until math.max(1, hotQueries / 4)).map { _ =>
        (pick(coldTerms) +: Seq.fill(1 + rng.nextInt(2))(pick(hotTerms)))
          .distinct.mkString(" ")
      }
      hq ++ cq
    }
  }

  /** CDF of a Zipf law with exponent `s` over ranks 0 until n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }

  def draw(cdf: Array[Double], rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private final case class Built(store: FeatureStore, tier: Bm25SearchTier,
      dir: String)

  /** One full set-up: store ingest plus serving layout, BM25 index. */
  private def build(spark: SparkSession, tracer: Tracer, in: Inputs,
      dir: String): Built = {
    val store = FeatureStore(spark, s"$dir/store", "customer_id",
      "purchase_timestamp")
    val df = spark.createDataFrame(java.util.Arrays.asList(in.rows: _*), schema)
    tracer.span("store.ingest")(store.ingestServing(df))
    import spark.implicits._
    tracer.span("store.index_build") {
      val post = Retrieval.docTermStats(in.docs.toDF("doc_id", "text"))
      SearchEndpoint.writeBm25Index(post, s"$dir/bm25", LayoutBuckets)
    }
    Built(store, new Bm25SearchTier(spark, s"$dir/bm25", LayoutBuckets,
      CacheBuckets), dir)
  }

  private def searchBody(rs: Seq[(Int, Long, Double)]): String =
    rs.map { case (rank, doc, score) =>
      s"""{"rank":$rank,"doc_id":$doc,"score":${String.format(
        java.util.Locale.ROOT, "%.6f", Double.box(score))}}"""
    }.mkString("""{"Results":[""", ",", "]}")

  /** Expected `/search` bodies, from the batch operator over the index. */
  private def expectedSearch(spark: SparkSession, in: Inputs,
      dir: String): IndexedSeq[String] = {
    import spark.implicits._
    val qid0 = 1000000000L // above every doc id: nothing is self-excluded
    val qs = in.queries.zipWithIndex.flatMap { case (q, i) =>
      q.split(" ").map(t => (qid0 + i, NearDup.tokenHash64(t)))
    }.toDF("query_id", "th")
    val post = spark.read.parquet(s"$dir/bm25").drop("tb")
    val got = Retrieval.bm25TopKFromIndex(post, qs, TopK)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        (q - qid0).toInt -> rs.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq
      }
    in.queries.indices.map(i => searchBody(got.getOrElse(i, Nil)))
  }

  /** A request: `/record?id=` (present or absent key) or `/search?q=`. */
  private final case class Req(path: String, expectCode: Int,
      expectBody: String, isGet: Boolean, dueNs: Long, bucket: Int = -1)

  private final case class Done(req: Req, latMs: Double, ok: Boolean,
      detail: String, endNs: Long)

  /** Key ranks laid out bucket by bucket in a seeded bucket order,
    * split into the hot head (the first [[HotBuckets]] buckets, which
    * fit the cache) and the cold tail, plus per-bucket pools of absent
    * ids. The mix is stratified rather than drawn: every
    * [[TailEvery]]-th lookup asks for a tail key, every
    * `1/SearchShare`-th request is a search and every
    * [[ColdSearchEvery]]-th search a cold one, so each run has the same
    * number of bucket-load misses, spread out instead of clustered.
    * Which key (Zipf over the head, uniform over the tail, so tail
    * lookups rarely find their bucket cached), which query, and whether
    * a lookup asks for an absent key are seeded draws.
    */
  private final class Plan(in: Inputs, cache: ServingCache, seed: Long) {
    private val rng = new SplittableRandom(seed ^ 0x5eedL)
    private val order: Array[Int] = {
      val p = Array.range(0, LayoutBuckets)
      for (i <- p.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    private val pos = Array.tabulate(LayoutBuckets)(b => order.indexOf(b))
    val bucket: Map[Long, Int] = in.ids.map(id => id -> cache.bucketOf(id)).toMap
    val ranked: Array[Long] = in.ids.sortBy(id => (pos(bucket(id)), id))
    val hotBuckets: Set[Int] = order.take(HotBuckets).toSet
    private val (head, tail) = ranked.partition(id => hotBuckets(bucket(id)))
    private val headCdf = zipfCdf(head.length, ZipfS)
    private val absent: Map[Int, IndexedSeq[Long]] = {
      val byB = Array.fill(LayoutBuckets)(ArrayBuffer.empty[Long])
      var id = -1L
      while (byB.exists(_.size < 4)) { byB(cache.bucketOf(id)) += id; id -= 1 }
      byB.indices.map(b => b -> byB(b).toIndexedSeq).toMap
    }
    private val searchEvery = math.round(1 / SearchShare).toInt
    private var gets = 0L
    private var searches = 0L

    /** `n` requests due every `1/rate` s from `startNs`. */
    def requests(rate: Int, n: Int, startNs: Long,
        search: IndexedSeq[String]): IndexedSeq[Req] =
      (0 until n).map { i =>
        val due = startNs + (i * 1e9 / rate).toLong
        if (i % searchEvery == searchEvery / 2) {
          searches += 1
          val qi = if (searches % ColdSearchEvery == 0)
            in.hotQueries + rng.nextInt(in.queries.length - in.hotQueries)
            else rng.nextInt(in.hotQueries)
          val q = java.net.URLEncoder.encode(in.queries(qi), "UTF-8")
          Req(s"/search?q=$q&k=$TopK", 200, search(qi), isGet = false, due)
        } else {
          gets += 1
          val id = if (gets % TailEvery == 0) tail(rng.nextInt(tail.length))
            else head(draw(headCdf, rng))
          val b = bucket(id)
          if (rng.nextDouble() < AbsentShare) {
            val pool = absent(b)
            Req(s"/record?id=${pool(rng.nextInt(pool.length))}", 404,
              """{"Record":[]}""", isGet = true, due, b)
          } else Req(s"/record?id=$id", 200, in.body(id), isGet = true, due, b)
        }
      }
  }

  private def httpGet(port: Int, path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(60000)
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    try (code, new String(is.readAllBytes(), "UTF-8")) finally is.close()
  }

  /** Open-loop load: one generator thread releases each request at its
    * due time; `workers` client threads (one keep-alive connection
    * each) send them. Returns completions and the generator's lag (ms).
    */
  private def openLoop(reqs: IndexedSeq[Req], workers: Int,
      portOf: Req => Int, tracer: Tracer): (Seq[Done], Seq[Double]) = {
    val queue = new LinkedBlockingQueue[Option[Req]]
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    val pool = (0 until workers).map { _ =>
      val t = new Thread(() => {
        var next = queue.take()
        while (next.isDefined) {
          val r = next.get
          val res =
            try {
              val (code, body) = tracer.span(
                if (r.isGet) "http.record" else "http.search", r.path)(
                httpGet(portOf(r), r.path))
              val end = System.nanoTime()
              val ok = code == r.expectCode && body == r.expectBody
              Done(r, (end - r.dueNs) / 1e6, ok,
                if (ok) "" else s"${r.path}: HTTP $code ${body.take(120)}", end)
            } catch {
              case e: Exception =>
                val end = System.nanoTime()
                Done(r, (end - r.dueNs) / 1e6, ok = false, s"${r.path}: $e", end)
            }
          done.add(res)
          next = queue.take()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    val lag = new Array[Double](reqs.length)
    for ((r, i) <- reqs.zipWithIndex) {
      // park until just before the due time, then spin: parking alone
      // wakes up to a millisecond late
      var now = System.nanoTime()
      while (now < r.dueNs - 200000L) {
        LockSupport.parkNanos(r.dueNs - 200000L - now); now = System.nanoTime()
      }
      while (now < r.dueNs) { Thread.onSpinWait(); now = System.nanoTime() }
      lag(i) = (now - r.dueNs) / 1e6
      queue.put(Some(r))
    }
    pool.foreach(_ => queue.put(None))
    pool.foreach(_.join(TimeUnit.MINUTES.toMillis(2)))
    import scala.jdk.CollectionConverters._
    (done.asScala.toSeq, lag.toSeq)
  }

  def run(spark: SparkSession, probe: Probe, tracer: Tracer, conf: Conf,
      startS: Double, out: Outcome): Unit = {
    val z = if (conf.smoke) Smoke else Full
    // set-up, several times into fresh directories; the last one is served
    var in: Inputs = null
    val builds = (1 to z.setups).map { i =>
      Stats.timed {
        in = new Inputs(conf.seed, z)
        build(spark, tracer, in, conf.dir(s"serve-setup$i"))
      }
    }
    val built = builds.last._1
    val (expected, expectS) = Stats.timed(expectedSearch(spark, in, built.dir))
    val setupS = startS + Stats.median(builds.map(_._2)) + expectS
    val cache = built.store.servingCache(maxCachedBuckets = CacheBuckets)
    val plan = new Plan(in, cache, conf.seed)
    val memSetup = Stats.liveMemMb()
    val endpoint = new ServingEndpoint(cache, nThreads = conf.cpus)
    val search = new SearchHttpEndpoint(built.tier, null, nThreads = conf.cpus)
    val (recPort, searchPort) = (endpoint.start(), search.start())
    val workers = math.max(1, conf.cpus - 1) // plus the generator thread
    def portOf(r: Req) = if (r.isGet) recPort else searchPort
    try {
      def phase(rate: Int, secs: Double) = {
        val n = math.max(1, (rate * secs).toInt)
        openLoop(plan.requests(rate, n, System.nanoTime() + 20000000L,
          expected), workers, portOf, tracer)
      }
      // warm-up: fills the cache and the JIT before anything is timed
      phase(z.refRate, math.max(1.0, conf.seconds * 0.15))
      val (h0, m0) = cache.stats
      val (bh0, bm0) = built.tier.stats
      val exec0 = probe.snap()
      val refSecs = conf.seconds * 0.7
      val (ref, refLag) = phase(z.refRate, refSecs)
      // ladder above the reference rate; stops at the first rate whose
      // /record p99 misses the limit or whose backlog grows
      def passes(ds: Seq[Done]): Boolean = {
        val gets = ds.filter(_.req.isGet).sortBy(_.req.dueNs)
        val tail = gets.drop(gets.length * 4 / 5).map(_.latMs)
        Stats.q(gets.map(_.latMs), 0.99) <= LimitMs &&
          Stats.median(tail) <= LimitMs / 2 && ds.forall(_.ok)
      }
      val rungSecs = math.max(1.0, conf.seconds * 0.15 / z.ladder.length)
      var best = if (passes(ref)) okRate(ref) else 0.0
      var bestRate = if (best > 0) z.refRate else 0
      val rungs = ArrayBuffer.empty[(Int, Seq[Done])]
      var go = best > 0
      for (rate <- z.ladder if go) {
        val (ds, _) = phase(rate, rungSecs)
        rungs += rate -> ds
        if (passes(ds)) { best = okRate(ds); bestRate = rate }
        else go = false
      }
      val exec = probe.snap() - exec0
      val (h1, m1) = cache.stats
      val (bh1, bm1) = built.tier.stats
      val mem = math.max(memSetup, Stats.liveMemMb())
      val all = ref ++ rungs.flatMap(_._2)
      out.attempted = all.length.toLong
      all.filterNot(_.ok).foreach(d => out.fail(d.detail))

      val gets = ref.filter(_.req.isGet).map(_.latMs)
      val searches = ref.filterNot(_.req.isGet).map(_.latMs)
      val getP50 = Stats.median(gets)
      val getP99 = Stats.q(gets, 0.99)
      val rss = Stats.peakRssMb()
      out.endToEnd ++= Seq(M("setup_s", setupS, "s"),
        M("live_mem_mb", mem, "MB"), M("p50_ms", getP50, "ms"),
        M("tail_ms", getP99, "ms"), M("rate_per_s", okRate(ref), "1/s"))
      val hits = (h1 - h0).toDouble
      val gotsN = (h1 - h0 + m1 - m0).toDouble
      val hotShare = Stats.ratio(ref.count(d => d.req.isGet &&
        plan.hotBuckets.contains(d.req.bucket)),
        ref.count(_.req.isGet))
      val layoutB = Stats.dirBytes(new java.io.File(s"${built.dir}/store/serving"))
      val hotB = plan.hotBuckets.toSeq.map(b => Stats.dirBytes(
        new java.io.File(s"${built.dir}/store/serving/kb=$b"))).sum
      out.named ++= Seq(M("setup_s", setupS, "s"), M("live_mem_mb", mem, "MB"),
        M("peak_rss_mb", rss, "MB"),
        M("get_p50_ms", getP50, "ms"), M("get_p99_ms", getP99, "ms"),
        M("search_p50_ms", Stats.median(searches), "ms"),
        M("search_p99_ms", Stats.q(searches, 0.99), "ms"),
        M("max_ok_rps", best, "1/s"), M("max_ok_rung", bestRate, "1/s"),
        M("ref_rate", z.refRate, "1/s"), M("latency_limit_ms", LimitMs, "ms"),
        M("get_samples", gets.length, "count"),
        M("search_samples", searches.length, "count"),
        M("hit_share", Stats.ratio(hits, gotsN), "ratio"),
        M("hot_bucket_get_share", hotShare, "ratio"),
        M("zipf_s", ZipfS, "exponent"),
        M("tail_key_share", 1.0 / TailEvery, "ratio"),
        M("absent_share", AbsentShare, "ratio"),
        M("search_share", SearchShare, "ratio"),
        M("cold_search_share", 1.0 / ColdSearchEvery, "ratio"),
        M("layout_buckets", LayoutBuckets, "count"),
        M("cache_buckets", CacheBuckets, "count"),
        M("layout_kb", layoutB / 1024.0, "KB"),
        M("hot_buckets_kb", hotB / 1024.0, "KB"),
        M("hot_buckets", HotBuckets, "count"),
        M("cache_bound_kb", layoutB / 1024.0 * CacheBuckets / LayoutBuckets, "KB"),
        M("keys", z.keys, "count"), M("docs", z.docs, "count"))
      for ((rate, ds) <- rungs) {
        val g = ds.filter(_.req.isGet).map(_.latMs)
        out.named += M(s"rung_${rate}_get_p99_ms", Stats.q(g, 0.99), "ms")
      }

      out.layer("store.cache_gets", gotsN, "count")
      out.layer("store.cache_hit_ratio", Stats.ratio(hits, gotsN), "ratio")
      out.layer("store.bucket_loads", (m1 - m0).toDouble, "count")
      out.layer("store.miss_jobs", exec.jobs.toDouble, "count")
      out.layer("store.server_p99_ms", endpoint.quantileMs(0.99), "ms")
      out.layer("store.bm25_lookups", (bh1 - bh0 + bm1 - bm0).toDouble, "count")
      out.layer("store.bm25_hit_ratio",
        Stats.ratio((bh1 - bh0).toDouble, (bh1 - bh0 + bm1 - bm0).toDouble), "ratio")
      out.layer("serve.generator_lag_ms", Stats.q(refLag, 0.99), "ms")
      out.layer("store.ingest_s", Stats.median(tracer.seconds("store.ingest")), "s")
      out.layer("store.index_build_s",
        Stats.median(tracer.seconds("store.index_build")), "s")
      if (conf.trace) direct(plan, cache, built.tier, in, ref, recPort, out)
    } finally { endpoint.stop(); search.stop() }
  }

  /** Requests answered correctly per second, from the first one's due
    * time to the last completion.
    */
  private def okRate(ds: Seq[Done]): Double =
    ds.count(_.ok) / ((ds.map(_.endNs).max - ds.map(_.req.dueNs).min) / 1e9)

  /** Traced run only: the store read tier measured directly, without
    * HTTP, over the key sequence the reference phase requested.
    */
  private def direct(plan: Plan, cache: ServingCache, tier: Bm25SearchTier,
      in: Inputs, ref: Seq[Done], port: Int, out: Outcome): Unit = {
    val keys = ref.filter(d => d.req.isGet && d.req.expectCode == 200)
      .sortBy(_.req.dueNs).map(_.req.path.stripPrefix("/record?id=").toLong)
      .takeRight(500)
    val hitUs = ArrayBuffer.empty[Double]
    val directMs = keys.map { id =>
      val (h0, _) = cache.stats
      val (_, s) = Stats.timed(cache.get(id))
      if (cache.stats._1 > h0) hitUs += s * 1e6
      s * 1e3
    }
    val httpMs = keys.map(id => Stats.timed(httpGet(port, s"/record?id=$id"))._2 * 1e3)
    out.layer("store.cache_hit_us", Stats.median(hitUs.toSeq), "us")
    out.layer("store.endpoint_overhead_ms",
      Stats.median(httpMs) - Stats.median(directMs), "ms")
    // one forced bucket load per layout bucket
    cache.invalidate()
    val missMs = (0 until LayoutBuckets).flatMap { b =>
      plan.ranked.find(id => plan.bucket(id) == b)
        .map(id => Stats.timed(cache.get(id))._2 * 1e3)
    }
    out.layer("store.cache_miss_ms", Stats.median(missMs), "ms")
    val searchMs = in.queries.take(in.hotQueries).map(q =>
      Stats.timed(tier.search(q.split(" ").toSeq.map(NearDup.tokenHash64),
        TopK))._2 * 1e3)
    out.layer("store.bm25_search_ms", Stats.median(searchMs), "ms")
  }
}
