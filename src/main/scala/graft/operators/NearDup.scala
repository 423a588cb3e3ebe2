package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Parallel, Pin, Tables}

/** Near-duplicate detection over `documents` — the training-data-
  * pipeline dedup family (north star). The reference has no dedup at
  * all; exact dedup is [[Dedup]].
  *
  * q18 (oracle-checked): exact n-gram Jaccard via an inverted shingle
  * index — the standard exact-similarity-join shape at scale:
  * 1. per doc: distinct 3-word shingles (codegen'd higher-order fns)
  * 2. explode → (shingle, doc) postings; one shuffle on shingle
  * 3. self-join postings per shingle with doc_a < doc_b → co-counts
  * 4. jaccard = co / (|A| + |B| − co), filter ≥ τ
  * Only pairs sharing ≥1 shingle are ever materialized, so cost is
  * bounded by postings-list skew, not |docs|² — at 100 TB, frequent
  * shingles get dropped by a df-cut (stop-shingling), keeping
  * postings lists short. Probabilistic families (MinHash-LSH,
  * SimHash) are in [[MinHashDedup]] / [[SimHash]] — not
  * SQL-reproducible, so spec-checked instead of oracle-checked.
  */
object NearDup {

  /** Distinct n-word shingles of a space-tokenized text. Empty for
    * texts shorter than n tokens (guard needed: Spark `sequence`
    * counts DOWN when stop < start instead of returning empty).
    *
    * Column formulation, kept as the string-valued reference shape
    * (tests, ad-hoc SQL). The hot paths use [[shingleHashSets]]: the
    * nested higher-order functions here don't participate in
    * whole-stage codegen, so each shingle costs an interpreted
    * slice-copy + concat — ~50× slower than the typed hash loop.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ", -1)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** SplitMix64 finalizer — bijective, full-avalanche 64-bit mix. */
  @inline private def smix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31; x
  }

  /** FNV-1a-64 over UTF-16 code units, finalized with [[smix]] so the
    * value is safe as minhash-permutation input.
    */
  def tokenHash64(tok: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < tok.length) {
      h = (h ^ tok.charAt(i)) * 0x100000001b3L
      i += 1
    }
    smix(h)
  }

  /** [[tokenHash64]] over `text(from until to)` without materializing
    * the token — bit-identical to hashing the substring (FNV-1a walks
    * code units left to right).
    */
  @inline def tokenHashRange(text: String, from: Int, to: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < to) {
      h = (h ^ text.charAt(i)) * 0x100000001b3L
      i += 1
    }
    smix(h)
  }

  /** All token hashes of `text` under the `split(" ", -1)` contract,
    * without allocating the token array or token strings — the
    * Array[Long] the shingle passes build, minus the String churn
    * (two char scans: count, then hash in place).
    */
  def tokenHashes(text: String): Array[Long] = {
    val n = text.length
    var cnt = 1
    var i = 0
    while (i < n) { if (text.charAt(i) == ' ') cnt += 1; i += 1 }
    val out = new Array[Long](cnt)
    var start = 0
    var w = 0
    i = 0
    while (i < n) {
      if (text.charAt(i) == ' ') {
        out(w) = tokenHashRange(text, start, i)
        w += 1
        start = i + 1
      }
      i += 1
    }
    out(w) = tokenHashRange(text, start, n)
    out
  }

  /** Walk `text`'s `split(" ", -1)` tokens (single-space separator,
    * empties kept — the corpus-wide tokenizer contract) WITHOUT
    * allocating the token array or the token strings, calling
    * `f(tokenIndex, tokenHash)` per token; returns the token count.
    * The per-token String (and the String[]) the split-based loops
    * allocated was the dominant cost of every postings/shingle pass
    * (r16 measurement); hash equality with the split form is exact.
    */
  @inline def foreachTokenHash(text: String)(f: (Int, Long) => Unit): Int = {
    val n = text.length
    var start = 0
    var idx = 0
    var i = 0
    while (i < n) {
      if (text.charAt(i) == ' ') {
        f(idx, tokenHashRange(text, start, i))
        idx += 1
        start = i + 1
      }
      i += 1
    }
    f(idx, tokenHashRange(text, start, n))
    idx + 1
  }

  /** 64-bit hash of one n-gram from per-token hashes `th(i..i+n-1)`:
    * sequential avalanche fold, order-sensitive. Token→string→hash
    * equality is preserved: tokens contain no separator char, so the
    * joined shingle string determines the token tuple and vice versa.
    */
  @inline private[operators] def shingleHash(th: Array[Long], i: Int, n: Int): Long = {
    var h = 0x9e3779b97f4a7c15L
    var j = 0
    while (j < n) { h = smix(h ^ th(i + j)); j += 1 }
    h
  }

  /** (doc_id, shs): the distinct n-gram shingle hashes of each doc as
    * a SORTED-ascending `array<bigint>` — the typed fast path feeding
    * both the exact inverted-index join and [[MinHashDedup]]. Docs
    * with < n tokens drop out (no shingles ⇒ no Jaccard neighbors).
    * Plain while-loops per partition: tokenize once, hash each token
    * once, fold n-gram hashes, sort + dedup in place. Input is
    * fanned out ([[graft.core.Parallel.fan]]) so single-file scans
    * don't pin the loop to one core.
    *
    * Collision note: distinct shingles collide at ~|shingles|²/2⁶⁴ —
    * negligible below trillions of distinct shingles (same contract
    * as the previous `xxhash64(shingle_string)` formulation).
    */
  def shingleHashSets(docs: DataFrame, n: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    Parallel.fan(docs).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        // zero-alloc tokenize+hash (r16): no String[] / token Strings
        val th = tokenHashes(text)
        if (th.length < n) None
        else {
          var i = 0
          val m = th.length - n + 1
          val out = new Array[Long](m)
          i = 0
          while (i < m) { out(i) = shingleHash(th, i, n); i += 1 }
          java.util.Arrays.sort(out)
          var w = 1
          i = 1
          while (i < m) {
            if (out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
            i += 1
          }
          Some((id, if (w == m) out else java.util.Arrays.copyOf(out, w)))
        }
      })
      .toDF("doc_id", "shs")
  }

  /** Exact Jaccard similarity join: pairs (doc_a < doc_b) with
    * 3-gram-shingle Jaccard ≥ minJaccard. Postings join on the 64-bit
    * shingle hash, not the string — the shuffle carries 8 bytes per
    * posting instead of ~20-char text (collision odds at 64 bits are
    * ~n²/2⁶⁴, irrelevant below trillions of distinct shingles).
    */
  def jaccardPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    jaccardPairsDfCut(docs, minJaccard, dfCut = Int.MaxValue)

  /** The DuckDB side of [[jaccardPairs]]'s shingle sets, shared by
    * the oracles built on the q18 pair contract: `sh` (doc_id,
    * shingle) — each doc's distinct space-joined token 3-grams — and
    * `counts` (doc_id, n) — its set size, the Jaccard denominator's
    * terms.
    */
  val shingleCtesSql: String =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      | counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** [[jaccardPairs]] with stop-shingling: shingles occurring in more
    * than `dfCut` documents are dropped from the INDEX (candidate
    * generation) — the standard cap on postings-list skew at corpus
    * scale. NOTE this makes the join approximate (a pair whose every
    * shared shingle is hot gets missed) and changes the Jaccard
    * denominator to the kept-shingle sets, so the oracle-checked q18
    * uses dfCut = ∞; the cut exists for the 100 TB path and is
    * spec-checked against the exact result on this corpus.
    */
  def jaccardPairsDfCut(docs: DataFrame, minJaccard: Double,
      dfCut: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // pin the hash sets: counts + both self-join sides would otherwise
    // each re-run the tokenize+hash+sort pass (3× the dominant per-row
    // cost — the two join sides' differing projections defeat exchange
    // reuse). ~16 bytes/shingle of block storage, released with the JVM.
    val sets = shingleHashSets(docs).transform(Pin.reuse)
    val shAll = sets.select($"doc_id", explode($"shs").as("sh"))
    val sh =
      if (dfCut == Int.MaxValue) shAll
      else {
        val hot = shAll.groupBy($"sh").agg(count(lit(1)).as("df"))
          .filter($"df" > dfCut).select($"sh")
        shAll.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val counts =
      if (dfCut == Int.MaxValue)
        // no cut ⇒ per-doc kept-shingle count is just the set size —
        // no explode, no shuffle
        sets.select($"doc_id", size($"shs").cast("long").as("n"))
      else sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // pair generation: plain postings self-join on the shingle hash —
    // fully codegen'd (the grouped array-lambda emission used before
    // falls out of whole-stage codegen and materializes per-shingle
    // pair arrays; the streaming join is faster and never builds a
    // bucket-sized row). Co-occurrence count then one hash agg.
    val co = sh.select($"sh", $"doc_id".as("doc_a"))
      .join(sh.select($"sh", $"doc_id".as("doc_b")), "sh")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("co"))
    // counts is DOC-count-sized: unhinted, so AQE broadcasts it at
    // small corpora and shuffles the pair table past threshold
    co.join(counts.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(counts.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .withColumn("jac", $"co".cast("double") / ($"na" + $"nb" - $"co"))
      .filter($"jac" >= minJaccard)
      .select($"doc_a", $"doc_b", $"jac")
  }

  /** Q18 — oracle-checked near-dup pairs at τ = 0.5. */
  def q18NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jaccardPairs(Tables.load(spark, dir, "documents"), 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** ASYMMETRIC shingle CONTAINMENT — the excerpt/quote detector
    * symmetric Jaccard misses: a short doc fully copied inside a
    * long one scores Jaccard ≈ |A|/|B| (tiny) but containment
    * |A∩B|/|A| ≈ 1. Emits DIRECTED pairs (doc_id contained in
    * container_id) with containment ≥ `tauTicks` in exact 1e-6
    * integer ticks (floor division — engine-portable, no float
    * drift). Both directions of a mutual near-dup appear; a strict
    * excerpt appears once.
    *
    * Scale shape: the same inverted postings self-join as
    * [[jaccardPairs]] (only pairs sharing ≥ 1 shingle materialize;
    * the stop-shingling df-cut applies identically at corpus
    * scale), one (pair)-keyed partial agg, then a per-doc-count
    * join that AQE broadcasts while it fits.
    */
  def containmentPairs(docs: DataFrame,
      tauTicks: Long = 600000L): DataFrame = {
    import docs.sparkSession.implicits._
    val sets = shingleHashSets(docs).transform(Pin.reuse)
    val sh = sets.select($"doc_id", explode($"shs").as("sh"))
    sh.join(sh.select($"sh", $"doc_id".as("container_id")), "sh")
      .filter($"doc_id" =!= $"container_id")
      .groupBy($"doc_id", $"container_id")
      .agg(count(lit(1)).as("co_shingles"))
      .join(sets.select($"doc_id", size($"shs").cast("long").as("na")),
        "doc_id")
      .withColumn("containment_ticks",
        expr("(co_shingles * 1000000) div na"))
      .filter($"containment_ticks" >= tauTicks)
      .select($"doc_id", $"container_id", $"co_shingles",
        $"containment_ticks")
  }

  /** Q129 — containment pairs over `documents` at τ = 0.6 (an
    * equal-size near-dup pair needs Jaccard ≥ 0.43 to reach 0.6
    * containment, so the q18 τ=0.5 pairs appear in both directions
    * plus any asymmetric excerpts Jaccard filtered out).
    */
  def q129Containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    containmentPairs(Tables.load(spark, dir, "documents"))
      .orderBy($"doc_id", $"container_id")
  }

  /** DuckDB oracle for [[q129Containment]] — the shared string
    * shingles ([[shingleCtesSql]]), directed co-counts, the same floor
    * division.
    */
  def containmentOracleSql(tauTicks: Long = 600000L): String =
    s"""WITH $shingleCtesSql,
       | prs AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |     count(*)::BIGINT AS co
       |   FROM sh a JOIN sh b
       |     ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |   GROUP BY 1, 2)
       |SELECT da AS doc_id, db AS container_id, co AS co_shingles,
       |  ((co * 1000000) // c.n)::BIGINT AS containment_ticks
       |FROM prs JOIN counts c ON c.doc_id = da
       |WHERE (co * 1000000) // c.n >= $tauTicks
       |ORDER BY doc_id, container_id""".stripMargin

  /** INCREMENTAL near-dup ingest gate — the near-dup sibling of
    * [[Dedup.incrementalNew]] (q55): cross pairs (batch doc, corpus
    * doc) with shingle Jaccard ≥ τ, so an arriving batch is vetted
    * against the already-ingested corpus WITHOUT recomputing any
    * corpus×corpus pair. Cost is O(batch postings ⋈ matching corpus
    * postings): only corpus docs sharing ≥ 1 shingle with the batch
    * are touched.
    *
    * Scale shape: at 100 TB the corpus side is a PERSISTED inverted
    * index (postings bucketed by shingle hash, the [[Layout]]
    * serving-merge contract) — each ingest shuffles only the batch's
    * own postings to the index's partitioning; here it is derived
    * on the fly and pinned once. Batch-side per-doc counts are
    * broadcast (batch-sized by definition); corpus-side counts join
    * hash-to-hash — only count rows for docs that actually co-occur
    * reach the join, and AQE broadcasts when small.
    */
  def jaccardPairsAgainst(batch: DataFrame, corpus: DataFrame,
      minJaccard: Double): DataFrame = {
    import batch.sparkSession.implicits._
    val bs = shingleHashSets(batch).transform(Pin.reuse)
    val cs = shingleHashSets(corpus).transform(Pin.reuse)
    val bPost = bs.select($"doc_id", explode($"shs").as("sh"))
    val cPost = cs.select($"doc_id".as("dup_of"), explode($"shs").as("sh"))
    val co = bPost.join(cPost, "sh")
      .groupBy($"doc_id", $"dup_of")
      .agg(count(lit(1)).as("co"))
    co.join(bs.select($"doc_id", size($"shs").cast("long").as("na")),
        "doc_id")
      .join(cs.select($"doc_id".as("dup_of"), size($"shs").cast("long").as("nb")),
        "dup_of")
      .withColumn("jac", $"co".cast("double") / ($"na" + $"nb" - $"co"))
      .filter($"jac" >= minJaccard)
      .select($"doc_id", $"dup_of", $"jac")
  }

  /** Q91 — incremental near-dup: lower doc_id half as the existing
    * corpus, upper half as the arriving batch (the q55 convention),
    * τ = 0.5.
    */
  def q91IncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val top = docs.agg(max($"doc_id")).head() // null on an empty corpus
    val cut = if (top.isNullAt(0)) 0L else (top.getLong(0) + 1L) / 2L
    jaccardPairsAgainst(
      docs.filter($"doc_id" >= cut), docs.filter($"doc_id" < cut), 0.5)
      .orderBy($"doc_id", $"dup_of")
  }

  /** Embedding near-dup: exact all-pairs cosine ≥ τ as a distributed
    * tile×tile self-join — no driver collect, no whole-corpus
    * broadcast (the r1 shape died at scale: O(corpus) driver memory).
    *
    * Each vector hashes to one of `nBlocks` blocks; the unordered
    * block pair (i ≤ j) is the tile key. The left side replicates a
    * row to tiles (blk, j ≥ blk), the right side to tiles (i ≤ blk,
    * blk), so every vector pair meets in EXACTLY one tile and each
    * row is replicated ≤ nBlocks times — O(N·B) shuffle for O(N²)
    * pair work, the classic triangle-join scheme. Per-pair cosine is
    * the fused codegen'd expression ([[Similarity.cosineSim]], one
    * pass, no intermediate arrays). At 100 TB, set nBlocks ≈
    * √parallelism so tiles saturate the cluster while the sort-merge
    * join buffers only N/B rows per tile key (spillable).
    */
  def embeddingNearDupPairs(emb: DataFrame, tau: Double,
      nBlocks: Int = 16): DataFrame = {
    import emb.sparkSession.implicits._
    val v = emb.select($"vec_id",
        $"embedding".cast("array<double>").as("e"),
        pmod(xxhash64($"vec_id"), lit(nBlocks.toLong)).cast("int").as("blk"))
    val left = v
      .withColumn("tj", explode(sequence($"blk", lit(nBlocks - 1))))
      .select($"vec_id".as("ida"), $"e".as("ea"), $"blk".as("ti"), $"tj")
    val right = v
      .withColumn("ti", explode(sequence(lit(0), $"blk")))
      .select($"vec_id".as("idb"), $"e".as("eb"), $"ti", $"blk".as("tj"))
    left.join(right, Seq("ti", "tj"))
      // same-block tile keeps one ordering; cross-block tiles already
      // see each unordered pair exactly once
      .filter($"ti" < $"tj" || $"ida" < $"idb")
      .withColumn("sim", Similarity.cosineSim($"ea", $"eb"))
      .filter($"sim" >= tau)
      .select(least($"ida", $"idb").as("vec_a"),
        greatest($"ida", $"idb").as("vec_b"), $"sim")
  }

  def q24EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    embeddingNearDupPairs(Tables.load(spark, dir, "embeddings"), 0.4)
      .orderBy($"vec_a", $"vec_b")
  }

  /** Ukkonen-banded Levenshtein with early abandon: the exact
    * distance when ≤ tau, −1 otherwise (the `levenshtein(l, r, τ)`
    * contract). Only cells within tau of the diagonal are computed
    * (O(min(n,m)·τ), not O(n·m)), and the row bails as soon as the
    * whole band exceeds tau — for a random non-dup pair that happens
    * after ~τ rows, so rejections cost O(τ²). `scratch` lets callers
    * reuse the two DP rows across millions of pairs (zero per-pair
    * allocation); pass null for one-shot use.
    *
    * Unit of distance: UTF-16 CODE UNITS (`charAt`/`length`), which
    * equals codepoints — and DuckDB's character-counting
    * `levenshtein` — for BMP text, including all of this corpus
    * (ASCII). Texts with surrogate pairs (emoji, rare CJK) would
    * count each as two edits; for codepoint-exact semantics convert
    * both strings to codepoint arrays before the DP. Documented here
    * as part of the oracle-portability contract.
    */
  private[operators] def bandedLevenshtein(a: String, b: String,
      tau: Int, scratch: Array[Array[Int]] = null): Int = {
    val n = a.length
    val m = b.length
    if (math.abs(n - m) > tau) return -1
    if (n == 0) return m
    if (m == 0) return n
    val inf = tau + 1
    val buf =
      if (scratch != null && scratch(0).length >= m + 1) scratch
      else Array(new Array[Int](m + 1), new Array[Int](m + 1))
    var prev = buf(0)
    var cur = buf(1)
    java.util.Arrays.fill(prev, 0, m + 1, inf)
    var j = 0
    while (j <= math.min(m, tau)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - tau)
      val hi = math.min(m, i + tau)
      // fill one cell wider than this row's band on BOTH sides: row
      // i+1 reads prev over [lo−1, hi+1], and reused scratch keeps
      // stale values outside the filled window
      java.util.Arrays.fill(cur, math.max(0, lo - 2),
        math.min(m, hi + 1) + 1, inf)
      var best = inf
      if (i <= tau) { cur(0) = i; best = i }
      val ca = a.charAt(i - 1)
      j = lo
      while (j <= hi) {
        var v = if (ca == b.charAt(j - 1)) prev(j - 1) else prev(j - 1) + 1
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        if (v > inf) v = inf
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (best >= inf) return -1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) <= tau) prev(m) else -1
  }

  /** Edit-distance near-dup: pairs (doc_a < doc_b) of same-language
    * documents with Levenshtein distance ≤ maxDist — the
    * character-level dedup complement to token-set Jaccard (catches
    * small in-place edits that shift every shingle).
    *
    * The Δlen ≤ maxLenDiff gate is part of the QUERY CONTRACT, not a
    * consequence of the metric: ED ≥ |len(a) − len(b)| only bounds
    * Δlen by maxDist (50), and maxLenDiff (20) is deliberately
    * stricter — "near-dup" here means small in-place edits, not a
    * 50-char insertion. Pairs with 20 < Δlen ≤ 50 are excluded by
    * definition (the oracle applies the same gate). Docs are bucketed by
    * ⌊n_chars / w⌋ with w > maxLenDiff; a candidate pair's buckets
    * then differ by at most 1, so the left side probes (blk, blk+1)
    * and the right side is keyed by blk — every candidate pair meets
    * exactly once (same-bucket ties ordered by doc_id), and the join
    * is a plain equi-join on (lang, bucket): no |docs|² blowup, and
    * the shuffle key is portable. The distance kernel is
    * [[bandedLevenshtein]] in a typed per-partition loop with reused
    * scratch rows — random (reject) pairs cost O(τ²) and near-dups
    * O(len·τ); the built-in `levenshtein(l, r, τ)` expression was
    * ~40× slower here (per-cell UTF8String decoding, no band).
    *
    * At 100 TB: bucket occupancy is corpus/|lang·buckets| — if a
    * (lang, length) stratum is hot, sub-block the bucket with a
    * cheap content key (e.g. first-token hash) the same way; the
    * length bound keeps candidate growth linear in occupancy, not
    * quadratic in the corpus.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 50,
      maxLenDiff: Int = 20, bucketWidth: Int = 25): DataFrame = {
    require(bucketWidth > maxLenDiff, "need bucketWidth > maxLenDiff")
    import docs.sparkSession.implicits._
    // EXPLICIT join-input partitioning: AQE sizes the join stage from
    // the map-side input stats, and this join is multiplicative
    // (candidate pairs ≫ docs) — left to itself the coalescer funnels
    // the join AND the fused DP kernel into ONE task (observed: 257k
    // pairs on 1 partition at sf0.1; wall-time = the single-thread
    // sum). Explicitly repartitioning both inputs on the join keys is
    // exempt from AQE coalescing, satisfies the join's distribution
    // requirement directly, and keeps the kernel fused in the join
    // stage — full parallelism with no extra candidate-text shuffle.
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val d = docs.select($"doc_id", $"text", $"lang", $"n_chars",
      ($"n_chars" / bucketWidth).cast("long").as("blk"))
    val left = d
      .withColumn("jb", explode(array($"blk", $"blk" + 1L)))
      .select($"lang", $"jb", $"doc_id".as("ida"), $"text".as("ta"),
        $"n_chars".as("la"), $"blk".as("blka"))
      .repartition(nParts, $"lang", $"jb")
    val right = d.select($"lang", $"blk".as("jb"), $"doc_id".as("idb"),
      $"text".as("tb"), $"n_chars".as("lb"))
      .repartition(nParts, $"lang", $"jb")
    left.join(right, Seq("lang", "jb"))
      // same-bucket pairs once (id order); cross-bucket pairs appear
      // only with the lower-bucket doc on the left
      .filter(($"blka" === $"jb" && $"ida" < $"idb") || $"blka" < $"jb")
      .filter(abs($"la" - $"lb") <= maxLenDiff)
      .select($"ida", $"idb", $"ta", $"tb")
      .as[(Long, Long, String, String)]
      .mapPartitions { it =>
        val scratch = Array(new Array[Int](1024), new Array[Int](1024))
        it.flatMap { case (ida, idb, ta, tb) =>
          val d = bandedLevenshtein(ta, tb, maxDist, scratch)
          if (d >= 0)
            Some((math.min(ida, idb), math.max(ida, idb), d.toLong))
          else None
        }
      }
      .toDF("doc_a", "doc_b", "dist")
  }

  /** Q73 — same-language pairs within edit distance 50. */
  def q73EditDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    editDistancePairs(Tables.load(spark, dir, "documents"))
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------
  // SHARED-SPAN PROVENANCE (q147) — which spans of which doc pairs
  // are copies: the EXTENT report behind a Jaccard/containment score.
  // ---------------------------------------------------------------

  /** Positional shingle postings: (doc_id, pos 1-based, sh n-gram
    * hash at pos). The positional twin of [[shingleSets]] — span
    * provenance needs WHERE each shingle sits, not just the set.
    */
  def positionalShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    graft.core.Parallel.fan(docs).select($"doc_id", $"text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // zero-alloc tokenize+hash (r16): no String[] / token Strings
        val th = tokenHashes(text)
        if (th.length < n) Iterator.empty
        else Iterator.tabulate(th.length - n + 1)(i =>
          (id, (i + 1).toLong, shingleHash(th, i, n)))
      }
      .toDF("doc_id", "pos", "sh")
  }

  /** SHARED SPANS — maximal ALIGNED runs of shared shingles between
    * doc pairs: (doc_a < doc_b, a_start, b_start, len_tokens). The
    * q129 containment score says "B contains much of A"; this op
    * says WHICH spans — the quote/plagiarism-extent report, and the
    * span-level evidence a decontamination audit attaches to a hit.
    *
    * Distributed gaps-and-islands: the shingle-keyed postings
    * self-join (the q18 inverted-index shape — only co-occurring
    * pairs materialize, never all-pairs, and the df-cut drops
    * boilerplate shingles whose O(df²) join rows carry no provenance
    * signal BEFORE the join) yields aligned hits (pa, pb) per pair;
    * hits on one DIAGONAL (d = pa − pb) that are consecutive in pa
    * form one span, found by the classic island key `pa −
    * row_number()` — the window partitions by (pair, diagonal), so
    * partitions are span-sized, never corpus-sized. A run of m
    * consecutive n-shingles covers m+n−1 tokens.
    */
  def sharedSpans(docs: DataFrame, n: Int = 3, maxDf: Long = 50L,
      minRun: Long = 2L): DataFrame = {
    import docs.sparkSession.implicits._
    val post = positionalShingles(docs, n).transform(graft.core.Pin.reuse)
    // df-cut as a BROADCAST ANTI-join against the HOT set (df >
    // maxDf), not an inner join with the corpus-sized rare set: the
    // hot set is boilerplate-sized by construction (few shingles
    // exceed any sane df cap), so the filter is map-side and the hot
    // shingle's postings never shuffle on sh at all — an inner
    // rare-join still funneled every hot posting row through its one
    // sh-keyed reduce task before dropping it (measured 2.8×-median
    // straggler in PostingsSkewSpec; at corpus scale that task reads
    // the full hot posting list). The df agg itself is skew-safe:
    // countDistinct's partial count between its two exchanges caps
    // per-sh final-stage input at the partition count.
    val p =
      if (maxDf == Long.MaxValue) post
      else {
        val hot = post.groupBy($"sh")
          .agg(countDistinct($"doc_id").as("_df"))
          .filter($"_df" > maxDf).select($"sh")
        post.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val hits = p.select($"sh", $"doc_id".as("doc_a"), $"pos".as("pa"))
      .join(p.select($"sh", $"doc_id".as("doc_b"), $"pos".as("pb")), "sh")
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"pa", $"pb", ($"pa" - $"pb").as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_a", $"doc_b", $"d").orderBy($"pa")
    hits.withColumn("_island", $"pa" - row_number().over(w))
      .groupBy($"doc_a", $"doc_b", $"d", $"_island")
      .agg(min($"pa").as("a_start"), min($"pb").as("b_start"),
        count(lit(1)).as("_m"))
      .filter($"_m" >= minRun)
      .select($"doc_a", $"doc_b", $"a_start", $"b_start",
        ($"_m" + lit(n - 1).cast("long")).as("len_tokens"))
  }

  /** Q147 — shared spans over `documents` at 3-token shingles,
    * df-cut 50, runs of ≥ 2 shingles (≥ 4 shared tokens aligned).
    */
  def q147SharedSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedSpans(Tables.load(spark, dir, "documents"))
      .orderBy($"doc_a", $"doc_b", $"a_start", $"b_start")
  }

  /** DuckDB oracle for [[q147SharedSpans]] — shingle STRINGS where
    * the operator uses 64-bit hashes (the q18/q51/q88 collision
    * contract; tokens contain no separator, so the joined string
    * determines the token tuple), same df-cut, diagonals and island
    * keys.
    */
  def sharedSpansOracleSql(n: Int = 3, maxDf: Long = 50L,
      minRun: Long = 2L): String =
    s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS ts
       |   FROM documents),
       | sp AS (SELECT doc_id, u.p AS pos, u.s AS sh FROM (
       |     SELECT doc_id, unnest(list_transform(
       |       range(1, len(ts) - ${n - 2}),
       |       i -> struct_pack(p := i, s := ${
             (0 until n).map(j => s"ts[i + $j]")
               .mkString(" || ' ' || ")}))) AS u
       |     FROM b WHERE len(ts) >= $n)),
       | rare AS (SELECT sh FROM (
       |     SELECT sh, count(DISTINCT doc_id) AS df FROM sp GROUP BY sh)
       |   WHERE df <= $maxDf),
       | p AS (SELECT sp.* FROM sp JOIN rare USING (sh)),
       | pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |     x.pos AS pa, y.pos AS pb, x.pos - y.pos AS d
       |   FROM p x JOIN p y ON y.sh = x.sh AND x.doc_id < y.doc_id),
       | il AS (SELECT *, pa - row_number() OVER (
       |     PARTITION BY doc_a, doc_b, d ORDER BY pa) AS island
       |   FROM pr),
       | runs AS (SELECT doc_a, doc_b, min(pa) AS a_start,
       |     min(pb) AS b_start, count(*) AS m
       |   FROM il GROUP BY doc_a, doc_b, d, island)
       |SELECT doc_a, doc_b, a_start::BIGINT AS a_start,
       |  b_start::BIGINT AS b_start, (m + ${n - 1})::BIGINT AS len_tokens
       |FROM runs WHERE m >= $minRun
       |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  // ---------------------------------------------------------------
  // WINNOWING (q168) — MOSS-style guarantee-based fingerprint
  // selection [Schleimer, Wilkerson, Aiken, "Winnowing: Local
  // Algorithms for Document Fingerprinting", SIGMOD'03]: from each
  // window of w consecutive k-gram hashes keep the MINIMUM (rightmost
  // on ties — the paper's robust-winnowing rule). Selection keeps
  // ~2/(w+1) of the grams yet GUARANTEES any shared run of at least
  // w+k−1 tokens contributes at least one shared selected
  // fingerprint — the detection floor MinHash can only provide
  // probabilistically. The code-corpus dedup complement to q162's
  // exact cells and q147's span alignment.
  // ---------------------------------------------------------------

  /** Bits reserved for the position in the packed (hash, pos) tie key
    * — supports documents up to 2^20 grams; longer inputs are out of
    * the operator's declared scope (chunk first, q43).
    */
  val winnowPosBits = 20
  private val winnowPosMask = (1L << winnowPosBits) - 1

  /** Selected winnowing fingerprints: DISTINCT (doc_id, fp) over the
    * k-gram [[TextAnalysis.fingerprint]] stream under a w-gram
    * sliding window. The min-of-window with rightmost tie is ONE
    * `min` over a packed key `fp·2^20 + (2^20−1−pos)` (fp < 2^30 by
    * the fingerprint's modulus, so the product stays < 2^51): minimal
    * fp wins, and among equal fps the larger pos gives the smaller
    * packed key. Windows shorter than w (the last w−1 starts, docs
    * with < k+w−1 tokens) select nothing — the paper's full-window
    * rule. One doc-keyed window pass — partitions are document-sized;
    * the selected set is ~2/(w+1) of the gram stream at any corpus
    * size.
    */
  def winnowedFingerprints(docs: DataFrame, k: Int = 4,
      w: Int = 5): DataFrame = {
    import docs.sparkSession.implicits._
    require(k >= 1 && w >= 1, "winnowing needs k >= 1 and w >= 1")
    val grams = graft.core.Parallel.fan(docs)
      .select($"doc_id",
        when(size(split($"text", " ", -1)) >= k,
          transform(
            sequence(lit(1), size(split($"text", " ", -1)) - (k - 1)),
            i => array_join(slice(split($"text", " ", -1), i, lit(k)), " ")))
          .otherwise(array().cast("array<string>")).as("gs"))
      .select($"doc_id", posexplode_outer($"gs").as(Seq("pos0", "g")))
      .filter($"g".isNotNull)
      .select($"doc_id", ($"pos0" + 1).cast("long").as("pos"),
        TextAnalysis.fingerprint($"g").as("fp"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    grams
      .withColumn("key",
        $"fp" * (1L << winnowPosBits) + (lit(winnowPosMask) - $"pos"))
      .withColumn("sel", min($"key").over(win))
      .withColumn("full", count(lit(1)).over(win))
      .filter($"full" === w)
      .select($"doc_id",
        expr(s"sel div ${1L << winnowPosBits}").as("fp"))
      .distinct()
  }

  /** Q168 — winnowing match report over `documents`: doc pairs
    * sharing ≥ `minShared` selected fingerprints, with the df-cut
    * dropping boilerplate fingerprints selected in more than
    * `maxFpDocs` documents (broadcast anti-join against the small hot
    * set — the q122/q147 cap-first rule) BEFORE the pair join.
    * (doc_a, doc_b, shared_fps).
    */
  /** The q168 match report over an EXISTING `(doc_id, fp)` selected
    * set — split out so a STANDING winnowing index (grown by the
    * ingest path, shrunk by `IndexMaintenance.purge`; selection is
    * per-document, so growth can never shift other docs' selections)
    * serves the same report as a fresh corpus pass.
    */
  def winnowingPairsFromSelected(sel0: DataFrame, minShared: Long = 4L,
      maxFpDocs: Long = 20L): DataFrame = {
    import sel0.sparkSession.implicits._
    val sel = graft.core.Pin.reuse(sel0)
    val hot = sel.groupBy($"fp").agg(count(lit(1)).as("nd"))
      .filter($"nd" > maxFpDocs).select($"fp")
    val kept = sel.join(broadcast(hot), Seq("fp"), "left_anti")
    kept.as("a").join(kept.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter($"shared_fps" >= minShared)
      .orderBy($"shared_fps".desc, $"doc_a", $"doc_b")
  }

  def q168Winnowing(spark: SparkSession, dir: String, k: Int = 4,
      w: Int = 5, minShared: Long = 4L, maxFpDocs: Long = 20L): DataFrame =
    winnowingPairsFromSelected(
      winnowedFingerprints(
        graft.core.Tables.load(spark, dir, "documents"), k, w),
      minShared, maxFpDocs)

  /** DuckDB oracle for [[q168Winnowing]] — same k-gram fingerprints
    * (shared [[TextAnalysis.fingerprintSql]]), same packed-key window
    * minimum, same full-window rule, df-cut, and pair join.
    */
  def winnowingOracleSql(k: Int = 4, w: Int = 5, minShared: Long = 4L,
      maxFpDocs: Long = 20L): String =
    s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS ts
       |   FROM documents),
       | g0 AS (SELECT doc_id, u.p AS pos, u.g AS g FROM (
       |     SELECT doc_id, unnest(list_transform(
       |       range(1, len(ts) - ${k - 2}),
       |       i -> struct_pack(p := i, g := ${
             (0 until k).map(j => s"ts[i + $j]")
               .mkString(" || ' ' || ")}))) AS u
       |     FROM b WHERE len(ts) >= $k)),
       | gf AS (SELECT doc_id, pos,
       |     (${TextAnalysis.fingerprintSql("g")}) AS fp
       |   FROM g0),
       | ky AS (SELECT doc_id, pos,
       |     fp * ${1L << winnowPosBits} + (${winnowPosMask} - pos) AS pk
       |   FROM gf),
       | sl AS (SELECT doc_id,
       |     min(pk) OVER (PARTITION BY doc_id ORDER BY pos
       |       ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel,
       |     count(*) OVER (PARTITION BY doc_id ORDER BY pos
       |       ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS nfull
       |   FROM ky),
       | sf AS (SELECT DISTINCT doc_id,
       |     sel // ${1L << winnowPosBits} AS fp
       |   FROM sl WHERE nfull = $w),
       | freq AS (SELECT fp FROM (
       |     SELECT fp, count(*) AS nd FROM sf GROUP BY fp)
       |   WHERE nd <= $maxFpDocs),
       | kp AS (SELECT sf.* FROM sf JOIN freq USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*)::BIGINT AS shared_fps
       |FROM kp a JOIN kp b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY shared_fps DESC, doc_a, doc_b""".stripMargin
}
