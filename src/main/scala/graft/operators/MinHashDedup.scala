package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.core.Pin

/** MinHash-LSH near-duplicate detection — the probabilistic scale path
  * next to the exact inverted-index join in [[NearDup]]. At 100 TB the
  * exact join's postings lists on hot shingles explode; MinHash keeps
  * per-doc state at a fixed signature width and LSH banding turns the
  * similarity join into an equi-join on band keys.
  *
  * r1 used Spark ML's `MinHashLSH.approxSimilarityJoin`, which
  * explodes 2^18-dim sparse vectors through a generic key-distance
  * join — 17.8 s at sf0.1, 40% of the whole bench. This is the
  * explicit form (the [[SimHash]] banding pattern): one pass computes
  * all permutation minima per doc with primitive loops, band keys
  * equi-join via grouped pair emission, and candidates are verified
  * with the EXACT shingle-set Jaccard. Exact verification makes the
  * output deterministic and SQL-expressible: precision is 1 by
  * construction, and with `numBands` single-row bands a pair at
  * Jaccard j is missed with probability (1−j)^numBands (6e-8 at
  * j = 0.5, b = 24) — so the driver's DuckDB oracle can hold the
  * output to exact equality with the exact-join result (q28). Should
  * the gate ever trip anyway, [[missedPairs]] pinpoints the slipped
  * pair(s) instead of leaving a bare hash mismatch.
  *
  * Permutations are `a·x + c` over the 2^64 ring (a odd ⇒ bijective),
  * compared in unsigned order; parameters derive deterministically
  * from the seed.
  */
object MinHashDedup {

  /** (doc_id, shs): distinct sorted 64-bit 3-gram shingle hashes per
    * doc ([[NearDup.shingleHashSets]] — typed loop, fanned-out input).
    * Docs with no shingles (< 3 tokens) drop out — they have no
    * Jaccard neighbors under this shingling.
    */
  private def shingleHashes(docs: DataFrame): DataFrame =
    NearDup.shingleHashSets(docs)

  /** Seeded permutation parameters (a odd ⇒ bijective over 2^64). */
  private def permParams(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new Random(seed)
    (Array.fill(numHashes)(rnd.nextLong() | 1L),
      Array.fill(numHashes)(rnd.nextLong()))
  }

  /** All band keys of one shingle set — the per-doc primitive loop
    * shared by the batch and streaming paths.
    */
  private def docBands(shs: Array[Long], as: Array[Long], cs: Array[Long],
      numBands: Int, rowsPerBand: Int): Array[Long] = {
    val bands = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var key = 0xcbf29ce484222325L
      var r = 0
      while (r < rowsPerBand) {
        val h = b * rowsPerBand + r
        val a = as(h); val c = cs(h)
        var m = Long.MaxValue
        var i = 0
        while (i < shs.length) {
          // sign-bit flip = unsigned comparison order
          val p = (a * shs(i) + c) ^ Long.MinValue
          if (p < m) m = p
          i += 1
        }
        key = (key ^ m) * 1099511628211L
        r += 1
      }
      bands(b) = key
      b += 1
    }
    bands
  }

  private def bandKeysOf(sets: DataFrame, numBands: Int,
      rowsPerBand: Int, seed: Long): DataFrame = {
    import sets.sparkSession.implicits._
    val (as, cs) = permParams(numBands * rowsPerBand, seed)
    sets.as[(Long, Array[Long])]
      .mapPartitions(_.map { case (id, shs) =>
        (id, docBands(shs, as, cs, numBands, rowsPerBand))
      })
      .toDF("doc_id", "bands")
  }

  /** (doc_id, shs, bands): shingle-hash sets annotated with their LSH
    * band keys in the same typed pass — the form the STREAMING
    * near-dup gate needs (each arriving doc must carry both its exact
    * set, for verification, and its full band vector, for
    * lowest-colliding-band pair dedup). Streaming-safe: a pure
    * mapPartitions over whatever sets frame is passed in.
    */
  def setsWithBands(sets: DataFrame, numBands: Int,
      rowsPerBand: Int, seed: Long): DataFrame = {
    import sets.sparkSession.implicits._
    val (as, cs) = permParams(numBands * rowsPerBand, seed)
    sets.as[(Long, Array[Long])]
      .mapPartitions(_.map { case (id, shs) =>
        (id, shs, docBands(shs, as, cs, numBands, rowsPerBand))
      })
      .toDF("doc_id", "shs", "bands")
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing ≥ 1 band key.
    * One shuffle on (band, key); pairs emit via grouped combination
    * (the q18 pattern) instead of a self-join. `maxBucket` caps a
    * band bucket's size (a hot minhash value would otherwise emit
    * O(|bucket|²) pairs — the LSH analogue of q18's df-cut); the cap
    * is the 100 TB knob and defaults to unbounded so q28 stays an
    * exact-equality contract on this corpus.
    */
  def candidatePairs(docs: DataFrame, numBands: Int = 24,
      rowsPerBand: Int = 1, seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): DataFrame =
    candidatePairsOf(shingleHashes(docs), numBands, rowsPerBand, seed,
      maxBucket)

  private def candidatePairsOf(sets: DataFrame, numBands: Int,
      rowsPerBand: Int, seed: Long, maxBucket: Int): DataFrame = {
    import sets.sparkSession.implicits._
    val posting = bandKeysOf(sets, numBands, rowsPerBand, seed)
      .select($"doc_id", posexplode($"bands"))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "key"))
    val lists = posting.groupBy($"band", $"key")
      .agg(collect_list($"doc_id").as("ds"))
      .filter(size($"ds") > 1 && size($"ds") <= maxBucket)
    // ordered-combination emission as a typed flatMap (plain loops) —
    // the nested array-lambda formulation is interpreted and builds
    // the whole m²/2 pair array as one row before exploding
    lists.select($"ds").as[Array[Long]]
      .flatMap { ds =>
        java.util.Arrays.sort(ds)
        for {
          i <- ds.indices.iterator
          j <- (i + 1) until ds.length
        } yield (ds(i), ds(j))
      }
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** LSH candidates verified with the EXACT shingle-set Jaccard:
    * (doc_a, doc_b, jaccard_dist = 1 − J) for pairs with J ≥
    * 1 − maxDistance. Output equals the exact inverted-index join's
    * pairs except for (1−j)^numBands-probability misses — the q28
    * oracle contract.
    */
  def nearDupPairs(docs: DataFrame, maxDistance: Double = 0.5,
      numBands: Int = 24, rowsPerBand: Int = 1, seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    // pin the sets once: band keys + both verify-join sides would
    // otherwise each re-run the shingle hash pass (same rationale as
    // NearDup.jaccardPairsDfCut)
    val sets = shingleHashes(docs).transform(Pin.reuse)
    candidatePairsOf(sets, numBands, rowsPerBand, seed, maxBucket)
      .join(sets.select($"doc_id".as("doc_a"), $"shs".as("sa")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"shs".as("sb")), "doc_b")
      // sorted-merge intersect (codegen'd native expression): the
      // per-candidate hot loop — no per-row hash set, no materialized
      // intersection array (shs arrives sorted from shingleHashSets)
      .withColumn("co", graft.functions.sortedIntersectSize($"sa", $"sb"))
      .withColumn("jac",
        $"co".cast("double") / (size($"sa") + size($"sb") - $"co"))
      .filter($"jac" >= 1.0 - maxDistance)
      .select($"doc_a", $"doc_b", (lit(1.0) - $"jac").as("jaccard_dist"))
  }

  /** Diagnostic: exact-Jaccard pairs at τ = 1 − maxDistance that LSH
    * banding failed to surface as candidates — the (1−j)^numBands
    * misses. Empty on every tested corpus/seed; if the q28 equality
    * gate ever fails, this query names the slipped pairs (ADVICE r2).
    */
  def missedPairs(docs: DataFrame, maxDistance: Double = 0.5,
      numBands: Int = 24, rowsPerBand: Int = 1, seed: Long = 42L): DataFrame = {
    import docs.sparkSession.implicits._
    NearDup.jaccardPairs(docs, 1.0 - maxDistance)
      .join(candidatePairs(docs, numBands, rowsPerBand, seed),
        Seq("doc_a", "doc_b"), "left_anti")
  }
}
