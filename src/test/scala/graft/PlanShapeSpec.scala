package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._

/** Physical-plan assertions — the shapes that must survive a 100×
  * scale-up. Correctness tests say the answers are right; these say
  * the PLANS are right: filters reach the parquet scan, projections
  * prune columns, small sides broadcast, top-k never global-sorts,
  * and the fact table never shuffles for a dim join.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: projection prunes lineitem scan to the 4 needed columns") {
    val p = plan(Relational.q1ScanProject(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"))
  }

  test("q12: shipdate predicate pushes into the parquet scan") {
    val p = plan(Relational.q12Rollup(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q6: dims broadcast — the orders fact table never shuffles for the join") {
    val p = plan(Relational.q6JoinChain(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q5: EXISTS plans as broadcast semi-join, NOT EXISTS as anti-join") {
    assert(plan(Relational.q5Exists(spark, sf)).contains("LeftSemi"))
    assert(plan(Relational.q5NotExists(spark, sf)).contains("LeftAnti"))
  }

  test("q8: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q8TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q2: aggregation is partial (map-side) then final — shuffle carries aggregates") {
    val p = plan(Relational.q2AggFeatures(spark, sf))
    assert(p.contains("partial_"))
    assert(p.contains("HashAggregate"))
  }

  test("q2/q12 hot paths stay inside whole-stage codegen") {
    // AQE finalizes the plan on execution; codegen spans appear then
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // "*(n)" prefixes mark whole-stage-codegen spans in plan strings
    assert(finalPlan(Relational.q2AggFeatures(spark, sf)).contains("*(1) HashAggregate"))
    assert(finalPlan(Relational.q12Rollup(spark, sf)).contains("*(1) HashAggregate"))
  }

  test("q16: probes broadcast — the embedding corpus is never shuffled for the cross join") {
    val p = plan(Similarity.cosineTopK(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("events load still pushes filters down through the ts normalization") {
    val df = Tables.load(spark, sf, "events").filter($"user_id" === 3)
    assert(plan(df).contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,3)]"))
  }

  test("q42: df side broadcasts — the tf table never shuffles for the idf join") {
    val p = plan(TextStats.q42TfIdf(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q176/q178/q179: suppression releases carry NO window — the " +
      "safe-group list broadcasts back as a LEFT SEMI join and the " +
      "fact table never shuffles its rows (r14 verdict #1)") {
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    Seq(
      "q176" -> Privacy.q176KSuppress(spark, sf),
      "q178" -> Privacy.q178Generalize(spark, sf),
      "q179" -> Privacy.q179KlSuppress(spark, sf)).foreach {
      case (name, df) =>
        val p = finalPlan(df)
        assert(!p.contains("Window"),
          s"$name must not buffer quasi groups in a window")
        assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
          s"$name must broadcast the safe-group semi-join")
        assert(!p.contains("SortMergeJoin"), name)
    }
  }

  test("q180: the Mondrian release plan is join-free — cut tables " +
      "and final ranges fold back as literal CASE projections over " +
      "the pinned base (r16: no per-round pin, no range join)") {
    val df = Mondrian.q180Mondrian(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      "the release path must not join at bench leaf counts")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("Mondrian round stats: no window is partitioned by _leaf " +
      "alone over tick-ordered histogram rows (r15 verdict #1 — that " +
      "shape sorts the whole table's distinct values in ONE task at " +
      "round 1); the running count runs per (leaf, coarse bucket) " +
      "with offsets from the bucket-subtotal frame") {
    import org.apache.spark.sql.functions._
    // the internal per-round frame shape: (_leaf, _v1, _t1) over an
    // effectively-unique banded dimension — the q180 acctbal regime
    val rows = spark.range(20000L).select(
      lit("").as("_leaf"),
      (col("id") % 9973 * 7 % 9973).cast("double").as("_v1"),
      (col("id") % 9973 * 7 % 9973).as("_t1"))
    val stats = Mondrian.dimCutStats(rows, 1, shift = 7,
      measureCol = col("_v1"), lEnforce = None)
    stats.collect()
    val p = stats.queryExecution.executedPlan.toString
    // windows partitioned by _leaf alone may order ONLY by the coarse
    // bucket id (the subtotal frame, <= 2^(b-s) rows per leaf); the
    // tick-ordered window must carry _crs in its partition spec
    val leafOnly = """windowspecdefinition\(_leaf#\d+, _(t|v)#"""
      .r.findFirstIn(p)
    assert(leafOnly.isEmpty,
      s"per-leaf tick/value-ordered window found: $leafOnly")
    val leafUnordered =
      """windowspecdefinition\(_leaf#\d+, specifiedwindowframe"""
        .r.findFirstIn(p)
    assert(leafUnordered.isEmpty,
      s"per-leaf unordered (whole-leaf) window found: $leafUnordered")
    assert(p.contains("_crs"), "the coarse/fine split must be planned")
  }

  test("q137: the apportionment rank never funnels domains through " +
      "one task — the row number windows per range bucket, and the " +
      "only SinglePartition exchanges feed scalar aggregates") {
    val df = GraphRank.q137CrawlBudget(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("windowspecdefinition(_rnk_pid"),
      s"rank must window per range bucket:\n$p")
    // no unpartitioned DATA window: every windowspecdefinition either
    // partitions (first arg is a bare column) or is the bounded
    // offsets frame ordered by the bucket id
    val dataUnpart =
      """windowspecdefinition\((?!_rnk_pid)\S+ (ASC|DESC)""".r
        .findFirstIn(p)
    assert(dataUnpart.isEmpty,
      s"unpartitioned data window crept back: $dataUnpart\n$p")
  }

  test("PageRank rounds add no per-round vertex join: from iters 3 " +
      "to 4 the plan gains at most 2 Exchanges (directed plain form) " +
      "and 1 (undirected form)") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 4L, 1L),
      (5L, 3L, 1L)).toDF("src", "dst", "wt")
    val pairs = edges.select($"src".as("doc_a"), $"dst".as("doc_b"))
    def perRound(rank: Int => org.apache.spark.sql.DataFrame): Int = {
      def exchanges(iters: Int): Int = {
        val df = rank(iters)
        df.collect() // finalize AQE
        PlanDump.exchangeCount(df)
      }
      exchanges(4) - exchanges(3)
    }
    assert(perRound(GraphRank.pageRankTicksDirected(edges, _)) <= 2)
    assert(perRound(GraphRank.pageRankTicks(pairs, _)) <= 1)
  }

  test("q43: chunking is shuffle-free — pure per-row fan-out on the scan") {
    val p = plan(TextStats.chunk(Tables.load(spark, sf, "documents")))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("q45: centroid aggregation is partial before the exchange") {
    val p = plan(Curation.q45LabelCentroids(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"expected map-side partial agg:\n$p")
  }

  test("q44: non-keeper set applies as a broadcast anti-join") {
    val df = Curation.q44Curation(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("q50/q54: bigram emission is the typed loop, not an exploded expression") {
    // the interpreted transform-into-struct HOF shape (r3) planned as
    // Generate(explode(...)); the typed pre-aggregating loop plans as
    // MapPartitions and ships distinct-bigram partials instead
    val p50 = plan(TextStats.q50BigramStats(spark, sf))
    assert(p50.contains("MapPartitions"), s"expected typed loop:\n$p50")
    assert(!p50.contains("Generate explode"), s"HOF shape crept back:\n$p50")
    // q54 pins the typed counts (Pin.reuse → lineage-preserving
    // persist), so its bigram legs read the cached partials
    // (InMemoryTableScan) instead of re-running the loop; under a
    // forced localCheckpoint mode the stump is ExistingRDD
    val p54 = plan(LmScore.q54LmScore(spark, sf))
    assert(p54.contains("InMemoryTableScan") || p54.contains("ExistingRDD"))
  }

  test("q51: contamination join keys are the 8-byte shingle hashes") {
    val df = Contamination.q51Contamination(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    // bench side broadcasts at this scale; never a cartesian
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(p.contains("partial_"), "per-doc counts must partial-agg")
  }

  test("q55: incremental dedup plans as an anti-join on the hash index") {
    val df = Dedup.q55IncrementalDedup(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"))
  }

  test("q56: quantization has no shuffle before the output sort") {
    val p = plan(Quantize.int8(Tables.load(spark, sf, "embeddings")))
    assert(!p.contains("Exchange"), s"quantization must be per-row only:\n$p")
  }

  test("q62: global hot-key top-k plans as TakeOrdered, never a full sort") {
    val p = plan(Profiling.q62SkewHotkeys(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    assert(p.contains("partial_count"), "key counts must partial-agg")
  }

  test("q76: sweep-line prefix sum never funnels through one reducer") {
    // the distributed form partitions the running-sum window by the ts
    // bucket; the degenerate shape it replaces planned as
    // `Exchange SinglePartition` + unpartitioned Window. The public
    // q76 materializes the bounded (bucket, day) report driver-side,
    // so the shape assertion runs on the staged pre-collect plan.
    val staged = Temporal.peakConcurrencyStaged(
      graft.core.Tables.load(spark, sf, "events"))
    val p = plan(staged)
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-reducer window crept back:\n$p")
    assert(p.contains("Window"), "prefix sum should still be a window")
  }

  test("q89: tile join inputs keep their explicit partitioning; top-k is partial-agg'd") {
    val df = operators.Similarity.q89KnnGraph(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    // both sides shuffle on the tile key by EXPLICIT repartition —
    // the multiplicative join must not be stats-coalesced to one task
    assert(p.contains("REPARTITION_BY_COL") || p.contains("hashpartitioning(ti"),
      s"explicit tile partitioning missing:\n$p")
    // bounded-heap top-k: partial ObjectHashAggregate BEFORE the
    // exchange, so the shuffle never carries the N^2 scored pairs
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      "bounded-heap partial aggregation expected")
  }

  test("q90: cluster assignment is a shuffle-free projection") {
    val emb = Tables.load(spark, sf, "embeddings")
    val (assigned, _) = operators.KMeansTick.fit(emb, k = 8, iters = 1)
    val p = plan(assigned)
    assert(!p.contains("Exchange"),
      s"assignment must not shuffle — argmin over centroid literals:\n$p")
  }

  test("q92: canonical dup groups annotate back via broadcast, agg is partial") {
    val df = operators.TextNorm.q92PrefixDupGroups(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "dup-group table must broadcast, never shuffle the corpus")
    assert(p.contains("partial_"), "group agg must combine map-side")
  }

  test("ADC scoring is per-row: packed codes, broadcast LUTs, no code-key shuffle") {
    val emb = Tables.load(spark, sf, "embeddings")
    val df = Quantize.pqAdcTopK(emb, Seq(0L, 1L, 2L), 10)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("MapPartitions"), "packed typed encode expected")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "probe LUTs must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffled join on (s, code) rows:\n$p")
  }

  test("q132: no inferred generator filter re-evaluates the " +
      "canonicalization below the frontier aggregates") {
    // an INNER posexplode makes InferFiltersFromGenerate synthesize
    // `size(_prefixes) > 0`; since _prefixes derives from the group
    // key, the predicate pushes below both aggregations and re-runs
    // the whole interpreted canonicalization chain once per raw LINK
    // row (measured 15× the extraction stage's task time at sf0.1).
    // pathHierarchy uses posexplode_outer + a generated-column filter
    // precisely to keep every Filter below the Generate free of the
    // canonicalization expressions.
    val p = plan(UrlNorm.q132PathHierarchy(spark, sf))
    val filterLines = p.linesIterator.filter(_.contains("Filter ")).toSeq
    assert(filterLines.nonEmpty)
    assert(!filterLines.exists(l =>
        l.contains("array_join") || l.contains("size(CASE WHEN")),
      s"canonicalization leaked into a pushed filter:\n$p")
  }
}
