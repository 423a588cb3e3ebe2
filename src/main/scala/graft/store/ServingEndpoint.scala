package graft.store

/** Over-the-wire point-lookup surface for the serving tier — the role
  * the reference delegates to the SageMaker featurestore-runtime
  * `get_record` API (`feature_store_manager.py:165-168`; response
  * parsed as name/value pairs at `utils.py:145-164`). The response
  * mirrors that wire shape exactly:
  *
  *   GET /record?id=42  →  {"Record":[{"FeatureName":"customer_id",
  *                           "ValueAsString":"42"}, ...]}
  *
  * with an empty `Record` (HTTP 404) for an unknown key — the same
  * stringly-typed contract the reference round-trips
  * (`ValueAsString`, `feature_store_manager.py:235`).
  *
  * The endpoint is a thin loopback tier over [[ServingCache]] on the
  * shared [[HttpScaffold]]: a hit costs zero Spark jobs, and the
  * cache's per-bucket load latches are exactly what lets this serve
  * CONCURRENT requests — one cold bucket's load never blocks other
  * requests' hits. A production deployment would front the same cache
  * with its real RPC stack; this pins the contract and the threading
  * shape.
  */
final class ServingEndpoint(cache: ServingCache, port: Int = 0,
    nThreads: Int = 8) {
  import HttpScaffold.rawParam
  import graft.core.Json.{esc => jsonEsc}

  private val http = new HttpScaffold(port, nThreads)

  /** Decode ONLY percent-escapes: these are URI-query semantics, not
    * form encoding — form decoding would turn a literal `+` in a
    * string key into a space and miss an existing record.
    */
  private def pctDecode(v: String): String =
    HttpScaffold.decode(v, plusIsSpace = false, "query parameter")

  http.route("/record") { ex =>
    rawParam(ex, "id").map(pctDecode) match {
      case None =>
        (400, """{"error":"missing required query parameter 'id'"}""")
      case Some(id) =>
        // the reference's Record shape: every present field as a
        // FeatureName/ValueAsString pair; NULL fields omitted
        // (the upstream API omits absent features the same way)
        recordJson(id) match {
          case None    => (404, """{"Record":[]}""")
          case Some(r) => (200, s"""{"Record":$r}""")
        }
    }
  }

  /** One feature's wire pair. Scalars → `ValueAsString`; array
    * columns → `ValueAsStringList` (the upstream FeatureValue's
    * collection shape — a flat `String.valueOf` would leak Scala
    * debug strings like `ArraySeq(0.1, 0.2)` onto the wire); binary
    * columns → base64 `ValueAsString`. Nested collections fall back
    * to element `String.valueOf` (serving rows are flat in practice).
    */
  private def featureJson(name: String, value: Any): String = {
    val k = s"""{"FeatureName":"${jsonEsc(name)}","""
    value match {
      case b: Array[Byte] =>
        k + s""""ValueAsString":"${java.util.Base64.getEncoder.encodeToString(b)}"}"""
      case seq: scala.collection.Seq[_] =>
        // a null ELEMENT is JSON null, not the string "null" — the
        // two are indistinguishable on the wire otherwise
        k + seq.map(e =>
            if (e == null) "null" else "\"" + jsonEsc(String.valueOf(e)) + "\"")
          .mkString("\"ValueAsStringList\":[", ",", "]}")
      case v =>
        k + s""""ValueAsString":"${jsonEsc(String.valueOf(v))}"}"""
    }
  }

  // ---- operations surface (r10): lookup-latency histogram -------------
  // Exponential power-of-two microsecond buckets, lock-free increments:
  // bucket i counts lookups in (2^(i-1), 2^i] µs, i ≤ 25 (~33 s cap).
  // Quantiles read the bucket UPPER bound — a ≤ 2× overestimate, never
  // an underestimate, which is the conservative direction for a p99
  // alert. One histogram per endpoint lifetime; /metrics reads are
  // O(26) and allocation-free on the hot path.
  private val latBuckets = new java.util.concurrent.atomic.AtomicLongArray(26)
  private val startedAtMs = System.currentTimeMillis()

  private def recordLatency(nanos: Long): Unit = {
    val us = math.max(nanos / 1000L, 1L)
    val idx = math.min(64 - java.lang.Long.numberOfLeadingZeros(us - 1), 25L)
    latBuckets.incrementAndGet(idx.toInt): Unit
  }

  /** Upper-bound latency quantile in ms from the histogram (0 when no
    * lookups were recorded yet).
    */
  def quantileMs(q: Double): Double = {
    val counts = Array.tabulate(26)(latBuckets.get)
    val total = counts.sum
    if (total == 0L) 0.0
    else {
      val target = math.max(math.ceil(q * total).toLong, 1L)
      var acc = 0L
      var i = 0
      while (i < 26 && acc + counts(i) < target) { acc += counts(i); i += 1 }
      (1L << i).toDouble / 1000.0
    }
  }

  /** One record's Record-array body, or None when the key is absent.
    * Times the CACHE lookup only (the latency a capacity alert should
    * see), not response serialization.
    */
  private def recordJson(id: String): Option[String] = {
    val t0 = System.nanoTime()
    val got = cache.get(id)
    recordLatency(System.nanoTime() - t0)
    got.map { row =>
      row.schema.fields.iterator.zipWithIndex
        .filterNot { case (_, i) => row.isNullAt(i) }
        .map { case (f, i) => featureJson(f.name, row.get(i)) }
        .mkString("[", ",", "]")
    }
  }

  /** Batch lookups — the reference runtime's `batch_get_record` role:
    * one round-trip for many keys, response mirroring its shape
    * (`Records` entries carrying the identifier + Record pairs;
    * identifiers with no stored record listed under
    * `UnprocessedIdentifiers`). Identifier count is capped at 100 per
    * request, the same batch limit the upstream API enforces —
    * callers page above that. Ids sharing a bucket amortize one cache
    * load; distinct buckets ride the per-bucket latches exactly like
    * concurrent point gets.
    */
  http.route("/records") { ex =>
    // split the RAW value first: an encoded comma (%2C) inside one
    // identifier is key content, not a list separator
    rawParam(ex, "ids").map(_.split(",", -1).iterator
        .map(_.trim).filter(_.nonEmpty).map(pctDecode)
        .distinct.toSeq) match {
      case None | Some(Seq()) =>
        (400, """{"error":"missing required query parameter 'ids' (comma-separated)"}""")
      case Some(ids) if ids.sizeIs > 100 =>
        (400, s"""{"error":"too many identifiers (${ids.size} > 100 per request)"}""")
      case Some(ids) =>
        val (found, missing) = ids.map(id => id -> recordJson(id))
          .partition(_._2.isDefined)
        val recs = found.map { case (id, r) =>
          s"""{"RecordIdentifierValueAsString":"${jsonEsc(id)}",""" +
            s""""Record":${r.get}}"""
        }.mkString("[", ",", "]")
        val unproc = missing.map(m => s""""${jsonEsc(m._1)}"""")
          .mkString("[", ",", "]")
        (200, s"""{"Records":$recs,"UnprocessedIdentifiers":$unproc}""")
    }
  }

  http.route("/stats") { _ =>
    val (h, m) = cache.stats
    (200, s"""{"hits":$h,"misses":$m}""")
  }

  /** Liveness + readiness in one probe: 200 whenever the cache tier
    * answers its introspection calls (an orchestrator's restart
    * trigger); carries warmth + uptime so a human reading the probe
    * sees WHY a cold tier is slow.
    */
  http.route("/healthz", errFields = """"status":"error",""") { _ =>
    val loaded = cache.loadedBuckets
    (200, s"""{"status":"ok","buckets_loaded":$loaded,""" +
      s""""uptime_ms":${System.currentTimeMillis() - startedAtMs}}""")
  }

  /** Operations metrics: cache hit ratio + lookup-latency quantiles
    * (histogram upper bounds — conservative). The numbers a serving
    * dashboard alerts on: hit_ratio collapsing = invalidation storm
    * or working set > LRU bound; p99 jumping with a stable hit_ratio
    * = slow loads (storage tier) rather than cache churn.
    */
  http.route("/metrics") { _ =>
    val (h, m) = cache.stats
    val ratio = if (h + m == 0L) 1.0 else h.toDouble / (h + m)
    (200, s"""{"hits":$h,"misses":$m,"hit_ratio":${HttpScaffold.num(ratio)},""" +
      s""""lookups":${h + m},""" +
      s""""p50_ms":${quantileMs(0.50)},"p99_ms":${quantileMs(0.99)},""" +
      s""""buckets_loaded":${cache.loadedBuckets}}""")
  }

  /** Start serving; returns the bound port (useful with `port = 0`). */
  def start(): Int = http.start()

  def stop(): Unit = http.stop()
}
