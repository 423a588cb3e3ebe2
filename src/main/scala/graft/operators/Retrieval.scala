package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Parallel, Pin, Tables}

/** BM25 lexical retrieval — the inverted-index top-k scorer that
  * turns the corpus statistics family ([[TextStats]] TF-IDF/vocab)
  * into an actual retrieval operator, the lexical half of the
  * standard hybrid (BM25 + dense ANN) stack a training-data /RAG
  * pipeline runs at corpus scale. Okapi BM25 with the +1 idf variant:
  * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1),
  * score(q,d) = Σ_t idf·tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)).
  *
  * Determinism contract: per-(term,doc) contributions are a fixed dag
  * of double ops on exact integers (tf, df, dl, N, Σdl) — identical
  * bits in any engine — rounded to integer millionths ("ticks") BEFORE
  * the per-(query,doc) summation, so the sum is order-independent
  * Long arithmetic (the [[LmScore]] integer-tick convention) and the
  * top-k ordering (ticks DESC, doc_id) is total.
  *
  * Scale shape: [[docTermStats]] is the inverted index — one typed
  * tokenize+count pass, 8-byte term hashes on the wire (the
  * q18/q51/q88 collision contract). A retrieval batch's term set is
  * tiny against a 100 TB corpus, so it broadcasts INTO the index
  * pass: the only postings that ever leave the scan are the query
  * terms' (map-side broadcast-hash filter, no vocabulary-wide
  * shuffle anywhere), and df over that filtered set is still the
  * global document frequency because every row of a kept term
  * survives. The score agg is keyed (query_id, doc_id) — bounded by
  * query-terms × matching docs, never all-pairs — and top-k is a
  * per-query window over only scored docs. Corpus scalars (N, Σdl)
  * are a one-row broadcast cross join. Nothing collects to the
  * driver. (A standing deployment would persist `docTermStats`
  * bucketed by term instead of re-scanning per batch; the per-batch
  * plan here is the ad-hoc form.)
  *
  * Reference scope: absent from the reference (no text retrieval);
  * extends the similarity/curation families of SURVEY.md §2.13.
  */
object Retrieval {

  /** Per-document term statistics (the inverted index): one row per
    * distinct (doc, term) — (doc_id, th 64-bit term hash, tf
    * occurrences in doc, dl doc length in tokens). Tokenization is
    * the corpus-wide contract: split on single spaces, empties kept.
    */
  def docTermStats(docs: DataFrame): DataFrame = termCounts(docs, None)

  /** The term-count tokenize loop behind [[docTermStats]]. With a
    * `keep` set (the scan forms' broadcast query terms) per-doc
    * counting touches only those terms and the rest never
    * materialize as map entries; `dl` still counts every token.
    */
  private def termCounts(docs: DataFrame,
      keep: Option[Set[Long]]): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = keep.map(docs.sparkSession.sparkContext.broadcast(_))
    Parallel.fan(docs).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val all = bc.isEmpty
        val terms = bc.fold(Set.empty[Long])(_.value)
        it.flatMap { case (id, text) =>
          val counts = new java.util.HashMap[Long, Long]
          // zero-alloc tokenize+hash (r16): no String[] / token Strings
          val dl = NearDup.foreachTokenHash(text) { (_, h) =>
            if (all || terms.contains(h))
              counts.merge(h, 1L, java.lang.Long.sum): Unit
          }.toLong
          val out = new Array[(Long, Long, Long, Long)](counts.size)
          val es = counts.entrySet.iterator
          var w = 0
          while (es.hasNext) {
            val e = es.next()
            out(w) = (id, e.getKey, e.getValue, dl)
            w += 1
          }
          out.iterator
        }
      }
      .toDF("doc_id", "th", "tf", "dl")
  }

  /** The distinct non-null `th` of a (tiny, by contract) query frame —
    * a bounded driver read that the scan forms broadcast into their
    * tokenize loop, so non-query tokens never materialize at all
    * (r16); the cores' broadcast term join over the result is
    * idempotent.
    */
  private def queryTerms(queries: DataFrame): Set[Long] = {
    import queries.sparkSession.implicits._
    queries.select($"th").distinct().filter($"th".isNotNull)
      .as[Long].collect().toSet
  }

  /** Top-k BM25 matches per query: (query_id, rank, doc_id, score).
    * `queries` = (query_id, th) distinct term hashes; a query's own
    * doc (query_id = doc_id) is excluded. k1 = 1.2, b = 0.75 (the
    * standard Okapi constants, baked into the tick expression so both
    * engines evaluate the identical literal dag).
    *
    * The queries frame executes twice (the eager term-set collect
    * here plus score's broadcast) — by contract it is tiny; a caller
    * passing an EXPENSIVELY DERIVED queries frame should Pin it
    * first. Same note for [[phraseSearch]]/[[proximitySearch]].
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import docs.sparkSession.implicits._
    // corpus scalars straight off the docs scan (split keeps empties,
    // matching docTermStats's tokenizer): one partial+final agg row
    val corpus = docs
      .select(size(split($"text", " ", -1)).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum($"dl").as("tot"))
    // df over the query-term-filtered postings is still the global
    // document frequency: every row of a kept term survives
    score(termCounts(docs, Some(queryTerms(queries))), corpus, queries, k,
      dedup = false, k1 = k1, b = b)
  }

  /** [[bm25TopK]] scored from a STANDING postings index (the
    * `(doc_id, th, tf, dl)` rows of [[docTermStats]], persisted — and
    * at scale bucketed by `th`): corpus scalars (N, Σdl) derive from
    * the index itself (one per-doc `first(dl)` reduction), so an
    * incrementally-grown index scores exactly like a fresh corpus
    * scan — df, N, and avgdl all shift with every ingested batch,
    * which is the CORRECT BM25 semantics, not drift. Equivalence with
    * the scan path is spec-pinned.
    */
  def bm25TopKFromIndex(post0: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import post0.sparkSession.implicits._
    // self-enforce one posting row per (doc, term): a doc re-landed
    // under a fresh offset (producer re-send the offset fence cannot
    // key on) duplicates its IDENTICAL posting rows, which would
    // double-count df, N, and Σdl. Exact-row dedup absorbs that
    // benign mode; CONFLICTING duplicates (same (doc_id, th),
    // different tf/dl) mean a corrupt index and remain the caller's
    // contract violation.
    //
    // r17: the dedup runs AFTER the broadcast query-term filter
    // (inside `score`) — a row-wise filter commutes with
    // exact-row dedup, so the result is unchanged while the dedup
    // exchange shrinks from THE WHOLE INDEX to the matching postings.
    // The corpus scalars are duplicate-insensitive as computed (the
    // per-doc groupBy collapses re-landed rows, and benign duplicates
    // carry identical dl), so they derive from the raw index with one
    // partially-aggregated pass instead of riding a global dedup
    // shuffle first.
    val corpus = post0.groupBy($"doc_id").agg(first($"dl").as("dl"))
      .agg(count(lit(1)).as("n"), sum($"dl").as("tot"))
    score(post0, corpus, queries, k, dedup = true)
  }

  /** The BM25 serve core of [[bm25TopK]] and [[bm25TopKFromIndex]]:
    * term-filter the postings under the broadcast query-term set (no
    * vocabulary-wide shuffle — df over the filtered postings is still
    * the GLOBAL document frequency, every row of a kept term
    * survives), tick-round per-(term,doc) contributions, Long-sum per
    * (query,doc), per-query top-k. Self-enforces the distinct-(query,
    * term) contract up front: a duplicated query term would join its
    * postings twice and double-count ticks. `dedup` (the index form)
    * exact-row dedups the FILTERED postings — see
    * [[bm25TopKFromIndex]]; the scan form's postings are unique by
    * construction and skip it.
    */
  private def score(post0: DataFrame, corpus: DataFrame,
      queries0: DataFrame, k: Int, dedup: Boolean,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import post0.sparkSession.implicits._
    val queries = queries0.dropDuplicates("query_id", "th")
    // pin the small filtered set (Pin.reuse): it feeds both the df agg
    // and the scoring join, and without it the source would scan twice
    val post = termFiltered(post0, queries, dedup, "doc_id", "th", "tf", "dl")
      .transform(Pin.reuse)
    val df = post.groupBy($"th").agg(count(lit(1)).as("df"))
    // per-(term,doc) contribution in integer millionths — the exact
    // literal dag the oracle SQL evaluates (left-assoc, same literals)
    // k1/b enter as PRE-COMPUTED doubles ((k1+1), k1, (1-b), b) so the
    // oracle can interpolate the identical decimal literals and both
    // engines evaluate the same bit-exact dag
    val ticks = log(($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0))
      .*($"tf").*(lit(k1 + 1.0))
      ./($"tf" + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" * $"n" / $"tot"))
      .*(lit(1000000.0))
    val scored = queries
      .join(post, "th")
      .join(df, "th")
      .crossJoin(broadcast(corpus))
      .filter($"doc_id" =!= $"query_id")
      .select($"query_id", $"doc_id", round(ticks, 0).cast("long").as("tick"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"tick").as("ticks"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"ticks".desc, $"doc_id")
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id",
        round($"ticks" / lit(1000000.0), 6).as("score"))
  }

  /** `post` rows whose `th` is one of `queries`' terms (a broadcast
    * join: query terms are tiny by contract), exact-row deduped on
    * `cols` when `dedup` (the index forms). A row-wise filter
    * commutes with exact-row dedup, so the result equals deduping the
    * whole index first, while the dedup exchange is query-sized
    * instead of index-sized (r17).
    */
  private def termFiltered(post: DataFrame, queries: DataFrame,
      dedup: Boolean, cols: String*): DataFrame = {
    val kept = post.join(broadcast(queries.select("th").distinct()), "th")
    if (dedup) kept.dropDuplicates(cols) else kept
  }

  /** Stand-in query batch carved from the corpus: every doc_id ≡ 0
    * (mod `mod`) contributes its first `nTerms` tokens' distinct
    * hashes as a query — (query_id, th).
    */
  def prefixQueries(docs: DataFrame, mod: Long = 97L,
      nTerms: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter($"doc_id" % mod === 0)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).take(nTerms).distinct
          .map(t => (id, NearDup.tokenHash64(t)))
      }
      .toDF("query_id", "th")
  }

  /** Q103 — BM25 top-5 over `documents`, queries = the first-4-token
    * prefixes of every 97th doc.
    */
  def q103Bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    bm25TopK(docs, prefixQueries(docs), k = 5)
      .orderBy($"query_id", $"rank")
  }

  /** Hybrid retrieval — reciprocal-rank fusion of a lexical (BM25)
    * and a dense (cosine) candidate list, the standard two-leg stack:
    * rrf(d) = Σ_legs 1/(60 + rank_leg(d)), missing leg contributes 0,
    * fused ties broken by doc_id. Fusion consumes only RANKS (exact
    * integers with total orderings on both legs), so the result is
    * engine-portable: the only doubles are two 1/(60+r) terms added
    * in a fixed order.
    *
    * Scale shape: each leg is already bounded per query (BM25 via the
    * filtered-postings plan, cosine via bounded-heap partial top-k),
    * so the fusion joins two ≤ `legK`-row-per-query frames —
    * negligible against either leg. At 100 TB the dense leg swaps the
    * brute-force scan for [[IvfIndex]]/[[AnnIndex]] candidates under
    * the same (sim DESC, vec_id) rank contract.
    */
  def hybridRrfTopK(bm25: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    import bm25.sparkSession.implicits._
    val b = bm25.select($"query_id", $"doc_id", $"rank".as("brank"))
    val c = dense.select($"query_id", $"doc_id", $"rank".as("crank"))
    val rrf = coalesce(lit(1.0) / (lit(60) + $"brank"), lit(0.0))
      .+(coalesce(lit(1.0) / (lit(60) + $"crank"), lit(0.0)))
    val w = Window.partitionBy($"query_id")
      .orderBy($"rrf_raw".desc, $"doc_id")
    b.join(c, Seq("query_id", "doc_id"), "full_outer")
      .select($"query_id", $"doc_id", rrf.as("rrf_raw"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id",
        round($"rrf_raw", 6).as("rrf"))
  }

  /** Dense candidate list for [[hybridRrfTopK]]: exact cosine top-k
    * per probe (bounded-heap partials), self excluded, ranked
    * (sim DESC, vec_id) — the q16 cosine bit-exactness contract.
    */
  def denseRanks(emb: DataFrame, probeMod: Long, k: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val probes = emb.filter($"vec_id" % probeMod === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_emb"))
    val scored = emb.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id",
        Similarity.cosineSim($"embedding", $"probe_emb").as("sim"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"sim".desc, $"vec_id")
    Similarity.topKPerProbe(scored, k)
      .withColumn("rank", row_number().over(w))
      .select($"probe_id".as("query_id"), $"vec_id".as("doc_id"), $"rank")
  }

  /** DuckDB oracle CTE chain shared by q103/q105 and the fuzz band —
    * the single source of truth for the BM25 scoring dag (t..sc),
    * ending in `sc(query_id, doc_id, ticks)`. The k1/b literals are
    * interpolated as the SAME pre-computed doubles the Column dag
    * uses (full-precision Scala Double rendering round-trips).
    */
  def bm25CtesSql(mod: Long = 97L, nTerms: Int = 4,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       | stats AS (SELECT count(*)::BIGINT AS n, sum(len(toks))::BIGINT AS tot FROM t),
       | tok AS (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS tk FROM t),
       | tf AS (SELECT doc_id, tk, max(dl) AS dl, count(*)::BIGINT AS tf
       |   FROM tok GROUP BY doc_id, tk),
       | df AS (SELECT tk, count(*)::BIGINT AS df FROM tf GROUP BY tk),
       | q AS (SELECT doc_id AS query_id, unnest(list_distinct(toks[1:$nTerms])) AS tk
       |   FROM t WHERE doc_id % $mod = 0),
       | sc AS (SELECT q.query_id, tf.doc_id,
       |     sum(round(ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |       * tf.tf * ${k1 + 1.0}
       |       / (tf.tf + $k1 * (${1.0 - b} + $b * tf.dl * n / tot))
       |       * 1000000.0)::BIGINT)::BIGINT AS ticks
       |   FROM q JOIN tf USING (tk) JOIN df USING (tk), stats
       |   WHERE tf.doc_id <> q.query_id
       |   GROUP BY 1, 2)""".stripMargin

  /** Parameterized q103-shape oracle (the fuzz-band builder). */
  def bm25OracleSqlN(k: Int, mod: Long = 97L, nTerms: Int = 4,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25CtesSql(mod, nTerms, k1, b)}
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ticks DESC, doc_id) AS rank,
       |  doc_id, round(ticks / 1000000.0, 6) AS score
       |FROM sc
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** q103 oracle: the BM25 chain ranked (ticks DESC, doc_id), top-5. */
  def bm25OracleSql: String = bm25OracleSqlN(k = 5)

  /** q105 oracle: BM25 ranks (k=10) RRF-fused with the q16-contract
    * cosine ranks (k=10, self excluded), ties by doc_id.
    */
  def hybridOracleSql: String =
    s"""WITH ${bm25CtesSql()},
       | br AS (SELECT query_id, doc_id,
       |     row_number() OVER (PARTITION BY query_id
       |       ORDER BY ticks DESC, doc_id) AS brank
       |   FROM sc QUALIFY brank <= 10),
       | p AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS pe
       |   FROM embeddings WHERE vec_id % 97 = 0),
       | cs AS (SELECT p.query_id, e.vec_id AS doc_id,
       |     list_cosine_similarity(e.embedding::DOUBLE[], p.pe) AS sim
       |   FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.query_id),
       | cr AS (SELECT query_id, doc_id,
       |     row_number() OVER (PARTITION BY query_id
       |       ORDER BY sim DESC, doc_id) AS crank
       |   FROM cs QUALIFY crank <= 10),
       | f AS (SELECT coalesce(br.query_id, cr.query_id) AS query_id,
       |     coalesce(br.doc_id, cr.doc_id) AS doc_id,
       |     coalesce(1.0 / (60 + br.brank), 0) + coalesce(1.0 / (60 + cr.crank), 0)
       |       AS rrf_raw
       |   FROM br FULL OUTER JOIN cr
       |     ON br.query_id = cr.query_id AND br.doc_id = cr.doc_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_raw DESC, doc_id) AS rank,
       |  doc_id, round(rrf_raw, 6) AS rrf
       |FROM f
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Q105 — hybrid top-5: BM25 (first-4-token prefix queries of every
    * 97th doc) fused with cosine over the SAME ids' embeddings,
    * 10 candidates per leg.
    */
  def q105HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    val bm = bm25TopK(docs, prefixQueries(docs), k = 10)
    hybridRrfTopK(bm, denseRanks(emb, probeMod = 97L, k = 10), k = 5)
      .orderBy($"query_id", $"rank")
  }

  // ---------------------------------------------------------------
  // EXACT PHRASE SEARCH (q145) — positional postings + anchor
  // alignment: the "quoted query" the bag-of-words scorers above
  // cannot answer.
  // ---------------------------------------------------------------

  /** Positional postings: one row per token occurrence —
    * (doc_id, pos 1-based, th 64-bit token hash). The positional
    * extension of [[docTermStats]]: where BM25 needs (term, tf),
    * phrase and proximity matching need WHERE each term sits.
    * |postings| = corpus token count — the index a 100 TB engine
    * bucket-partitions by `th` so the query-term probe is a
    * partition-pruned read, not a scan.
    */
  def positionalPostings(docs: DataFrame): DataFrame = positions(docs, None)

  /** The positional tokenize loop behind [[positionalPostings]]. With
    * a `keep` set (the scan forms' broadcast query terms) only those
    * terms' rows are emitted; positions stay global (1-based over ALL
    * tokens).
    */
  private def positions(docs: DataFrame,
      keep: Option[Set[Long]]): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = keep.map(docs.sparkSession.sparkContext.broadcast(_))
    Parallel.fan(docs).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val all = bc.isEmpty
        val terms = bc.fold(Set.empty[Long])(_.value)
        it.flatMap { case (id, text) =>
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long)]
          // zero-alloc tokenize+hash (r16): no String[] / token Strings
          NearDup.foreachTokenHash(text) { (i, h) =>
            if (all || terms.contains(h))
              buf += ((id, (i + 1).toLong, h)): Unit
          }
          buf.iterator
        }
      }
      .toDF("doc_id", "pos", "th")
  }

  /** [[phraseSearch]] served from a STANDING positional-postings
    * index (the `(doc_id, pos, th)` rows of [[positionalPostings]],
    * persisted — at scale bucketed by `th` so the query-term probe is
    * a partition-pruned read). The same benign-re-land contract as
    * [[bm25TopKFromIndex]]: a doc re-landed under a fresh offset
    * duplicates its IDENTICAL posting rows, absorbed by exact-row
    * dedup; conflicting duplicates mean a corrupt index and remain
    * the caller's contract violation. An incrementally-grown index
    * matches a fresh corpus scan exactly (spec-pinned) — phrase
    * matching is per-document, so growth cannot shift other docs'
    * results the way BM25's global df/avgdl do (and THOSE shift
    * correctly too, per [[bm25TopKFromIndex]]).
    */
  def phraseSearchFromIndex(post0: DataFrame,
      phrases: DataFrame): DataFrame =
    phrase(post0, phrases, dedup = true)

  /** [[proximitySearch]] served from the standing positional index —
    * the [[phraseSearchFromIndex]] contract, proximity leg.
    */
  def proximitySearchFromIndex(post0: DataFrame, queries: DataFrame,
      window: Int, dfCap: Long = Long.MaxValue): DataFrame =
    proximity(post0, queries, window, dfCap, dedup = true)

  /** Phrase fixture: the `len` consecutive tokens starting at
    * 1-based `start` of every `mod`-th doc, as (query_id, qpos
    * 0-based, th). Docs shorter than `start+len−1` tokens yield no
    * query (mirrored in the oracle) — a partial phrase is a
    * different query, not a shorter one.
    */
  def phraseQueries(docs: DataFrame, mod: Long = 89L, start: Int = 5,
      len: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter($"doc_id" % mod === 0)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < start + len - 1) Iterator.empty
        else Iterator.tabulate(len)(j =>
          (id, j.toLong, NearDup.tokenHash64(toks(start - 1 + j))))
      }
      .toDF("query_id", "qpos", "th")
  }

  /** EXACT PHRASE MATCH — doc contains the phrase at start `s` iff
    * for every query position `qpos` there is a posting at
    * `s + qpos`. Executed RAREST-TERM-FIRST: the query's minimum-
    * positional-df term is the ANCHOR — only ITS postings generate
    * candidate starts (`anchor = pos − qpos_anchor`) — and every
    * other query position is verified by an exact
    * (doc, pos, th)-keyed semi-join probe at `anchor + qpos`.
    * Returns (query_id, doc_id, n_matches, first_pos).
    *
    * Shape: the postings frame is term-filtered once under the
    * broadcast query-term set and pinned ([[graft.core.Pin.reuse]]);
    * it feeds (a) the per-term positional-df agg that picks each
    * query's anchor, (b) the anchor candidate join, (c) the exact-
    * position verify probe. Candidate volume is Σ over queries of
    * the RAREST term's positional df — not Σ over ALL query terms —
    * and the verify probe is `candidates × (plen−1)` exact equi-
    * lookups, so a frequent ("stop") term in the phrase costs its
    * postings only in the df agg (a count), never in the alignment
    * shuffle. Repeated phrase terms are handled by construction:
    * every POSITION must verify, not every distinct term.
    * [[phraseSearchAligned]] is the direct all-terms alignment form
    * this one is spec-pinned equivalent to.
    */
  def phraseSearch(docs: DataFrame, phrases: DataFrame): DataFrame =
    phrase(positions(docs, Some(queryTerms(phrases))), phrases, dedup = false)

  /** The phrase serve core of [[phraseSearch]] and
    * [[phraseSearchFromIndex]] over a positional-postings frame;
    * `dedup` (the index form) exact-row dedups the term-filtered
    * postings.
    */
  private def phrase(post: DataFrame, phrases: DataFrame,
      dedup: Boolean): DataFrame = {
    import post.sparkSession.implicits._
    val plen = phrases.groupBy($"query_id").agg(count(lit(1)).as("_plen"))
    val filtered = termFiltered(post, phrases, dedup, "doc_id", "pos", "th")
      .transform(Pin.reuse)
    val cands = rarestAnchorCandidates(filtered, phrases)
    // expected (doc, pos, th) probes for the non-anchor positions;
    // the semi-join keeps probes with a matching posting, and a
    // candidate verifies when ALL plen−1 of its probes survive. An
    // expected pos ≤ 0 (anchor before the doc start) simply finds no
    // posting — the same "can't complete" outcome alignment gives.
    val verified = cands
      .join(broadcast(phrases.select($"query_id", $"qpos", $"th")),
        Seq("query_id"))
      .filter($"qpos" =!= $"_aq")
      .select($"query_id", $"doc_id", $"anchor",
        ($"anchor" + $"qpos").as("pos"), $"th")
      .join(filtered.select($"doc_id", $"pos", $"th"),
        Seq("doc_id", "pos", "th"), "left_semi")
      .groupBy($"query_id", $"doc_id", $"anchor")
      .agg(count(lit(1)).as("_nv"))
    cands.join(verified, Seq("query_id", "doc_id", "anchor"), "left")
      .join(broadcast(plen), "query_id")
      .filter(coalesce($"_nv", lit(0L)) === $"_plen" - 1)
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("n_matches"), min($"anchor").as("first_pos"))
  }

  /** Anchor-candidate frame (query_id, doc_id, anchor, _aq) of the
    * phrase core: per query the ANCHOR is the term with the SMALLEST
    * positional df in the (already term-filtered) postings — ties by
    * (th, qpos) for a total order; a term with NO postings (df 0)
    * wins outright and correctly yields zero candidates — and only
    * its postings join, at `anchor = pos − _aq`. Exposed so the
    * join-volume spec can count candidate rows against Σ min-df.
    */
  def rarestAnchorCandidates(filtered: DataFrame,
      phrases: DataFrame): DataFrame = {
    import filtered.sparkSession.implicits._
    val pdf = filtered.groupBy($"th").agg(count(lit(1)).as("_pdf"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"_pdf", $"th", $"qpos")
    val anchor = phrases.join(pdf, Seq("th"), "left")
      .withColumn("_pdf", coalesce($"_pdf", lit(0L)))
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .select($"th", $"query_id", $"qpos".as("_aq"))
    filtered.join(broadcast(anchor), Seq("th"))
      .select($"query_id", $"doc_id", ($"pos" - $"_aq").as("anchor"),
        $"_aq")
  }

  /** The direct ANCHOR-ALIGNMENT phrase form — join postings to ALL
    * query terms, group (query, doc, anchor = pos − qpos), a group
    * holding all `plen` distinct positions is a match. Join volume
    * Σ positional df over every query term; kept as the reference
    * implementation [[phraseSearch]] is differentially spec'd
    * against (and the form the DuckDB oracle mirrors).
    */
  def phraseSearchAligned(docs: DataFrame, phrases: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val post = positionalPostings(docs)
    val plen = phrases.groupBy($"query_id").agg(count(lit(1)).as("_plen"))
    post.join(phrases, "th")
      .select($"query_id", $"doc_id", ($"pos" - $"qpos").as("anchor"),
        $"qpos")
      .groupBy($"query_id", $"doc_id", $"anchor")
      .agg(countDistinct($"qpos").as("_nq"))
      .join(broadcast(plen), "query_id")
      .filter($"_nq" === $"_plen")
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("n_matches"), min($"anchor").as("first_pos"))
  }

  /** Q145 — exact phrase search over `documents`: the 3-token phrase
    * at positions 5–7 of every 89th doc. Every query matches its
    * own source doc at first_pos 5 by construction; the 31-token
    * fixture vocabulary makes cross-doc phrase hits real rather
    * than vanishing (the interesting rows).
    */
  def q145PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    phraseSearch(docs, phraseQueries(docs))
      .orderBy($"query_id", $"doc_id")
  }

  /** PROXIMITY MATCH — the unordered relaxation of [[phraseSearch]]:
    * a doc matches when ALL the query's distinct terms co-occur
    * within some `window`-token span, in any order — the "terms near
    * each other" operator between bag-of-words scoring (q103) and
    * exact phrases (q145). Matching starts are anchored at term
    * occurrences: a span starting at hit position `s` qualifies iff
    * every query term has an occurrence in `[s, s+window−1]` — every
    * minimal qualifying span starts AT a term occurrence, so
    * anchoring at hits loses nothing and bounds the candidate set.
    * Returns (query_id, doc_id, n_starts, first_pos).
    *
    * Shape: the same th-keyed postings probe as q145, then ONE
    * (query, doc)-keyed exchange feeding a per-group two-pointer
    * sliding scan over the position-sorted hits — O(|hits|)
    * amortized evaluation (each hit enters and leaves the window
    * once), group memory doc-length-bounded. It replaces the former
    * (query, doc)-only equi-join whose band post-filter evaluated
    * |hits|² pairs per (query, doc) pair — a frequent ("stop") query
    * term made that quadratic in document length.
    * `dfCap` is the complementary stop-term knob: a query term
    * matching more than `dfCap` DOCUMENTS is dropped from the query
    * (both from hit generation and from the coverage requirement —
    * standard stop-word removal, mirrored in any oracle using it); a
    * query whose terms are ALL cut vanishes from the output. The
    * default ∞ adds no plan nodes. Distinct-TERM coverage
    * (`countDistinct(th)`), not positions: proximity is a set
    * condition where phrase order was the q145 contract.
    */
  def proximitySearch(docs: DataFrame, queries: DataFrame,
      window: Int, dfCap: Long = Long.MaxValue): DataFrame =
    proximity(positions(docs, Some(queryTerms(queries))), queries, window,
      dfCap, dedup = false)

  /** The proximity serve core of [[proximitySearch]] and
    * [[proximitySearchFromIndex]] over a positional-postings frame.
    */
  private def proximity(post: DataFrame, queries: DataFrame,
      window: Int, dfCap: Long, dedup: Boolean): DataFrame = {
    import post.sparkSession.implicits._
    val terms0 = queries.select($"query_id", $"th").distinct()
    val terms =
      if (dfCap == Long.MaxValue) terms0
      else {
        val hot = post
          .join(broadcast(terms0.select($"th").distinct()), "th")
          .groupBy($"th").agg(countDistinct($"doc_id").as("_df"))
          .filter($"_df" > dfCap).select($"th")
        terms0.join(broadcast(hot), Seq("th"), "left_anti")
      }
    val nTerms = terms.groupBy($"query_id").agg(count(lit(1)).as("_nt"))
    // execution = the per-(query, doc) SORTED SLIDING SCAN: one
    // (query, doc)-keyed exchange of the hit rows, then a two-pointer
    // pass over each group's position-sorted hits — O(|hits|)
    // amortized evaluation (each hit enters and leaves the window
    // once), one shuffle total, and the group is doc-length-bounded
    // (the SpanDedup.rewrite memory class).
    // dedup (index path): terms is distinct on (query_id, th), so
    // deduping the joined rows on (query_id, doc_id, pos, th) equals
    // deduping the raw index on (doc_id, pos, th) first — but the
    // exchange is query-sized, not index-sized (r17)
    val hits0 = post.join(broadcast(terms), "th")
    val hits = (if (dedup)
        hits0.dropDuplicates("query_id", "doc_id", "pos", "th")
      else hits0)
      .join(broadcast(nTerms), "query_id")
      .select($"query_id", $"doc_id", $"pos", $"th", $"_nt")
    hits.as[(Long, Long, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (Long, Long),
          it: Iterator[(Long, Long, Long, Long, Long)]) =>
        val (q, d) = key
        val rows = it.toArray.sortBy(_._3)
        val nt = rows(0)._5
        val pos = rows.map(_._3)
        val th = rows.map(_._4)
        val cnt = new java.util.HashMap[java.lang.Long, Integer]
        var inWin = 0 // distinct terms present in [pos(i), pos(i)+W)
        var l = 0
        var j = 0
        var nStarts = 0L
        var first = 0L
        var i = 0
        while (i < pos.length) {
          while (j < pos.length && pos(j) < pos(i) + window) {
            val c = cnt.merge(th(j), 1, (a: Integer, x: Integer) =>
              Integer.valueOf(a.intValue() + x.intValue()))
            if (c.intValue() == 1) inWin += 1
            j += 1
          }
          while (pos(l) < pos(i)) {
            val c = cnt.merge(th(l), -1, (a: Integer, x: Integer) =>
              Integer.valueOf(a.intValue() + x.intValue()))
            if (c.intValue() == 0) { cnt.remove(th(l)); inWin -= 1 }
            l += 1
          }
          if (inWin == nt) {
            if (nStarts == 0L) first = pos(i)
            nStarts += 1L
          }
          i += 1
        }
        (q, d, nStarts, first)
      }
      .filter(_._3 > 0L)
      .toDF("query_id", "doc_id", "n_starts", "first_pos")
  }

  /** Q152 — proximity search: the q145 fixture phrases' TERM SETS,
    * matched within an 8-token window (order-free). Every q145
    * phrase match is a q152 match by construction (a run is a
    * window); the interesting rows are the order-scrambled and
    * gapped co-occurrences phrases miss.
    */
  def q152ProximitySearch(spark: SparkSession, dir: String,
      window: Int = 8): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    proximitySearch(docs, phraseQueries(docs), window)
      .orderBy($"query_id", $"doc_id")
  }

  /** DuckDB oracle for [[q152ProximitySearch]] — token strings,
    * same hit anchoring, band filter and distinct-term coverage.
    */
  def proximityOracleSql(mod: Long = 89L, start: Int = 5,
      len: Int = 3, window: Int = 8): String =
    s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS ts
       |   FROM documents),
       | tk AS (SELECT doc_id, u.p AS pos, u.t AS tok FROM (
       |     SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
       |       i -> struct_pack(p := i, t := ts[i]))) AS u FROM b)),
       | ph AS (SELECT DISTINCT tk.doc_id AS query_id, tk.tok
       |   FROM tk JOIN b ON b.doc_id = tk.doc_id
       |   WHERE tk.doc_id % $mod = 0
       |     AND len(b.ts) >= ${start + len - 1}
       |     AND tk.pos BETWEEN $start AND ${start + len - 1}),
       | nt AS (SELECT query_id, count(*)::BIGINT AS n_terms
       |   FROM ph GROUP BY query_id),
       | hits AS (SELECT ph.query_id, tk.doc_id, tk.pos, tk.tok
       |   FROM tk JOIN ph ON ph.tok = tk.tok),
       | st AS (SELECT DISTINCT query_id, doc_id, pos AS s FROM hits),
       | cov AS (SELECT st.query_id, st.doc_id, st.s,
       |     count(DISTINCT h.tok) AS c
       |   FROM st JOIN hits h ON h.query_id = st.query_id
       |     AND h.doc_id = st.doc_id
       |     AND h.pos >= st.s AND h.pos < st.s + $window
       |   GROUP BY 1, 2, 3),
       | m AS (SELECT cov.query_id, cov.doc_id, cov.s
       |   FROM cov JOIN nt USING (query_id) WHERE cov.c = nt.n_terms)
       |SELECT query_id, doc_id, count(*)::BIGINT AS n_starts,
       |  min(s)::BIGINT AS first_pos
       |FROM m GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin

  /** DuckDB oracle for [[q145PhraseSearch]] — token STRINGS where
    * the operator uses 64-bit hashes (the q18/q51/q88 collision
    * contract), same anchor alignment and distinct-position count.
    */
  def phraseOracleSql(mod: Long = 89L, start: Int = 5,
      len: Int = 3): String =
    s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS ts
       |   FROM documents),
       | tk AS (SELECT doc_id, u.p AS pos, u.t AS tok FROM (
       |     SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
       |       i -> struct_pack(p := i, t := ts[i]))) AS u FROM b)),
       | ph AS (SELECT tk.doc_id AS query_id, tk.pos - $start AS qpos,
       |     tk.tok
       |   FROM tk JOIN b ON b.doc_id = tk.doc_id
       |   WHERE tk.doc_id % $mod = 0
       |     AND len(b.ts) >= ${start + len - 1}
       |     AND tk.pos BETWEEN $start AND ${start + len - 1}),
       | pl AS (SELECT query_id, count(*)::BIGINT AS plen
       |   FROM ph GROUP BY query_id),
       | j AS (SELECT ph.query_id, tk.doc_id,
       |     (tk.pos - ph.qpos)::BIGINT AS anchor, ph.qpos
       |   FROM tk JOIN ph ON ph.tok = tk.tok),
       | a AS (SELECT query_id, doc_id, anchor,
       |     count(DISTINCT qpos) AS nq
       |   FROM j GROUP BY 1, 2, 3),
       | m AS (SELECT a.query_id, a.doc_id, a.anchor
       |   FROM a JOIN pl USING (query_id) WHERE a.nq = pl.plen)
       |SELECT query_id, doc_id, count(*)::BIGINT AS n_matches,
       |  min(anchor)::BIGINT AS first_pos
       |FROM m GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin
}
