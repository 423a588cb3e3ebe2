package graft.operators

import graft.SparkSpec

class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  /** Scala reference implementation of the exact-tick recurrence —
    * plain Maps, no Spark — the independent oracle for the
    * distributed version. Floor division on non-negative longs.
    */
  private def referenceRanks(pairs: Seq[(Long, Long)],
      iters: Int): Map[Long, (Long, Long)] = {
    val e = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = e.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    var r = deg.map { case (v, _) => v -> 1000000L }
    for (_ <- 1 to iters) {
      val c = r.map { case (v, rv) => v -> rv / deg(v) }
      val s = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => c(u) }.sum
      }
      r = s.map { case (v, sv) => v -> (150000L + (sv * 17) / 20) }
    }
    r.map { case (v, rv) => v -> (deg(v), rv) }
  }

  private def run(pairs: Seq[(Long, Long)], iters: Int) =
    GraphRank.pageRankTicks(pairs.toDF("doc_a", "doc_b"), iters)
      .as[(Long, Long, Long)].collect()
      .map { case (v, d, r) => v -> (d, r) }.toMap

  test("path graph: hand-traced two iterations") {
    // 1-2-3: deg 1/2/1; iter1 ranks 575000/1850000/575000 (traced in
    // the operator's scaladoc terms), iter2 936250/1127500/936250
    val got = run(Seq((1L, 2L), (2L, 3L)), iters = 2)
    assert(got === Map(
      1L -> (1L, 936250L), 2L -> (2L, 1127500L), 3L -> (1L, 936250L)))
  }

  test("triangle is symmetric and conserves the uniform start") {
    // every vertex identical by symmetry; deg 2, r stays at the
    // fixpoint of r = 150000 + (2*(r div 2)*17) div 20 from 1e6
    val got = run(Seq((1L, 2L), (2L, 3L), (1L, 3L)), iters = 5)
    assert(got.values.map(_._1).toSet === Set(2L))
    assert(got.values.map(_._2).toSet.size === 1)
  }

  test("seeded random graph matches the plain-Scala reference exactly") {
    val rnd = new scala.util.Random(4242)
    val pairs = (1 to 120).map { _ =>
      val a = rnd.nextInt(30).toLong
      var b = rnd.nextInt(30).toLong
      while (b == a) b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.distinct
    for (iters <- Seq(1, 3, 5))
      assert(run(pairs, iters) === referenceRanks(pairs, iters),
        s"divergence at iters=$iters")
  }

  test("disconnected components rank independently") {
    val pairs = Seq((1L, 2L), (10L, 11L), (11L, 12L))
    assert(run(pairs, 4) === referenceRanks(pairs, 4))
  }

  test("empty edge set yields an empty ranking (schema intact)") {
    val pairs = Seq.empty[(Long, Long, Long)].toDF("doc_a", "doc_b", "wt")
    val links = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "wt")
    val outW = Seq("doc_id", "out_w", "rank_ticks")
    Seq(
      "unweighted" -> (GraphRank.pageRankTicks(pairs.drop("wt"), 5),
        Seq("doc_id", "degree", "rank_ticks")),
      "weighted" -> (GraphRank.pageRankTicksWeighted(pairs, 5),
        Seq("doc_id", "w_ticks", "rank_ticks")),
      "directed" -> (GraphRank.pageRankTicksDirected(links, 5), outW),
      // redistribute divides the sink mass by |V| = 0 here
      "directed+redistribute" ->
        (GraphRank.pageRankTicksDirected(links, 5, redistribute = true),
          outW),
      "seeded" -> (GraphRank.pageRankTicksSeeded(links, 5,
        Seq(1L).toDF("v")), outW)).foreach { case (form, (df, cols)) =>
      assert(df.columns.toSeq === cols, form)
      assert(df.count() === 0L, form)
    }
  }

  test("q110 on sf0.001 runs and ranks hub docs above leaves") {
    val rows = GraphRank.q110PageRank(spark, sf)
      .as[(Long, Long, Long)].collect()
    // rank order must be consistent with the output's declared sort
    assert(rows.sortBy(t => (-t._3, t._1)).toSeq === rows.toSeq)
    // all ranks at/above the teleport floor of a degree-1 leaf
    assert(rows.forall(_._3 >= 150000L))
  }

  /** Plain-Scala reference for the WEIGHTED recurrence: the degree
    * split becomes a weight split, same floor-division Long dag.
    */
  private def referenceWeighted(edges: Seq[(Long, Long, Long)],
      iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).max) }.toSeq
    val ws = e.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    var r = ws.map { case (v, _) => v -> 1000000L }
    for (_ <- 1 to iters) {
      val s = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => (r(u) * w) / ws(u) }.sum
      }
      r = s.map { case (v, sv) => v -> (150000L + (sv * 17) / 20) }
    }
    r.map { case (v, rv) => v -> (ws(v), rv) }
  }

  private def runWeighted(edges: Seq[(Long, Long, Long)], iters: Int) =
    GraphRank.pageRankTicksWeighted(
        edges.toDF("doc_a", "doc_b", "wt"), iters)
      .as[(Long, Long, Long)].collect()
      .map { case (v, w, r) => v -> (w, r) }.toMap

  test("weighted: seeded random weighted graph matches the reference") {
    val rnd = new scala.util.Random(1717)
    val edges = (1 to 140).map { _ =>
      val a = rnd.nextInt(25).toLong
      var b = rnd.nextInt(25).toLong
      while (b == a) b = rnd.nextInt(25).toLong
      (math.min(a, b), math.max(a, b), 50L + rnd.nextInt(950).toLong)
    }.distinct
    for (iters <- Seq(1, 3, 5))
      assert(runWeighted(edges, iters) === referenceWeighted(edges, iters),
        s"divergence at iters=$iters")
  }

  test("weighted: uniform weights reproduce the unweighted ranking") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val uw = run(pairs, 4)
    val w = runWeighted(pairs.map { case (a, b) => (a, b, 1000L) }, 4)
    // (r * w) div (d * w) = r div d when all weights are equal
    assert(w.map { case (v, (wt, r)) => v -> (wt / 1000L, r) } === uw)
  }

  test("weighted: duplicate/reoriented/self-loop edges are collapsed") {
    val clean = Seq((1L, 2L, 700L), (2L, 3L, 400L))
    val dirty = clean ++ Seq((2L, 1L, 700L), (1L, 2L, 700L), (3L, 3L, 999L))
    assert(runWeighted(dirty, 3) === runWeighted(clean, 3))
  }

  test("weighted: heavier neighbor pulls more rank") {
    // star 2-1-3 with edge (1,2) 5x the weight of (1,3): vertex 2
    // receives 5/6 of vertex 1's mass each round, so it must outrank 3
    val got = runWeighted(Seq((1L, 2L, 1000L), (1L, 3L, 200L)), 5)
    assert(got(2L)._2 > got(3L)._2)
  }

  /** Plain-Scala reference for the DIRECTED recurrence: endpoints are
    * the vertex set; a vertex with no in-links holds the teleport
    * floor; parallel edges sum their weights.
    */
  private def referenceDirected(edges: Seq[(Long, Long, Long)],
      iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val ws = e.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = verts.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val s = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => (r(u) * w) / ws(u) }.sum
      }
      r = verts.map(v => v -> (150000L + (s.getOrElse(v, 0L) * 17) / 20)).toMap
    }
    r.map { case (v, rv) => v -> (ws.getOrElse(v, 0L), rv) }
  }

  private def runDirected(edges: Seq[(Long, Long, Long)], iters: Int) =
    GraphRank.pageRankTicksDirected(
        edges.toDF("src", "dst", "wt"), iters)
      .as[(Long, Long, Long)].collect()
      .map { case (v, w, r) => v -> (w, r) }.toMap

  test("directed: seeded random digraph matches the reference") {
    val rnd = new scala.util.Random(2929)
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        1L + rnd.nextInt(3).toLong)
    }.filter(t => t._1 != t._2).distinct
    for (iters <- Seq(1, 3, 5))
      assert(runDirected(edges, iters) === referenceDirected(edges, iters),
        s"divergence at iters=$iters")
  }

  test("directed: in-link-less sources hold the teleport floor; sinks leak") {
    // 1 -> 2 -> 3: vertex 1 never receives, 3 never gives
    val got = runDirected(Seq((1L, 2L, 1L), (2L, 3L, 1L)), 4)
    assert(got(1L)._2 === 150000L + (0L * 17) / 20)
    assert(got(3L)._1 === 0L, "sink has no out-weight")
    assert(got(2L)._2 > got(1L)._2 && got(3L)._2 > got(1L)._2)
    assert(got === referenceDirected(Seq((1L, 2L, 1L), (2L, 3L, 1L)), 4))
  }

  test("directed: parallel edges sum weights; self-links drop") {
    val clean = Seq((1L, 2L, 3L), (1L, 3L, 1L))
    val dirty = Seq((1L, 2L, 1L), (1L, 2L, 2L), (1L, 3L, 1L), (2L, 2L, 9L))
    assert(runDirected(dirty, 3) === runDirected(clean, 3))
  }

  /** Plain-Scala reference for the REDISTRIBUTING directed recurrence:
    * sink mass (vertices with no out-edge) splits |V| ways by floor
    * division and folds into every vertex's pre-damping sum.
    */
  private def referenceRedistributed(edges: Seq[(Long, Long, Long)],
      iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val ws = e.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct
    val nv = verts.size.toLong
    var r = verts.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val share = verts.filterNot(ws.contains).map(r).sum / nv
      val s = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => (r(u) * w) / ws(u) }.sum
      }
      r = verts.map(v =>
        v -> (150000L + ((s.getOrElse(v, 0L) + share) * 17) / 20)).toMap
    }
    r.map { case (v, rv) => v -> (ws.getOrElse(v, 0L), rv) }
  }

  private def runRedistributed(edges: Seq[(Long, Long, Long)], iters: Int) =
    GraphRank.pageRankTicksDirected(
        edges.toDF("src", "dst", "wt"), iters, redistribute = true)
      .as[(Long, Long, Long)].collect()
      .map { case (v, w, r) => v -> (w, r) }.toMap

  /** Seeded digraph where src draws from a narrower range than dst —
    * the high vertices receive links but emit none (guaranteed sinks).
    */
  private def sinkyEdges(seed: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to 120).map { _ =>
      (rnd.nextInt(14).toLong, rnd.nextInt(24).toLong,
        1L + rnd.nextInt(3).toLong)
    }.filter(t => t._1 != t._2).distinct
  }

  test("redistribute: seeded sink-heavy digraph matches the reference") {
    val edges = sinkyEdges(5151)
    for (iters <- Seq(1, 3, 5))
      assert(runRedistributed(edges, iters) ===
        referenceRedistributed(edges, iters), s"divergence at iters=$iters")
  }

  test("redistribute: no sinks means identical to the plain variant") {
    // a cycle has no sinks — sink mass is 0 every round
    val cyc = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 3L), (1L, 3L, 1L))
    assert(runRedistributed(cyc, 5) === runDirected(cyc, 5))
  }

  test("redistribute: total mass is conserved up to floor loss; " +
      "the plain variant leaks") {
    val edges = sinkyEdges(6060)
    val nv = (edges.map(_._1) ++ edges.map(_._2)).distinct.size.toLong
    val ne = edges.size.toLong
    val s0 = nv * 1000000L
    for (iters <- Seq(1, 3, 5)) {
      val total = runRedistributed(edges, iters).values.map(_._2).sum
      // every div floors DOWNWARD: per round the loss is < |E| (edge
      // splits) + |V| (share floor) + |V| (damping floor)
      assert(total <= s0, s"mass created at iters=$iters")
      assert(total >= s0 - iters * (ne + 2 * nv),
        s"mass lost beyond floor rounding at iters=$iters: $total vs $s0")
      // the plain variant leaks the sinks' mass outright
      val plain = runDirected(edges, iters).values.map(_._2).sum
      assert(plain < total, s"no leak difference at iters=$iters")
    }
  }

  test("contraction conserves total edge weight, self-loops included") {
    val rnd = new scala.util.Random(7722)
    val edges = (1 to 200).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
        1L + rnd.nextInt(9).toLong)
    }.toDF("src", "dst", "wt")
    // 40 vertices contract into 7 keys
    val mapping = (0L until 40L).map(v => (v, s"k${v % 7}"))
      .toDF("vid", "key")
    val contracted = GraphRank.contractEdges(edges, mapping)
    assert(contracted.agg(org.apache.spark.sql.functions.sum($"wt"))
      .head().getLong(0) ===
      edges.agg(org.apache.spark.sql.functions.sum($"wt")).head().getLong(0))
    // and the contracted graph has at most 7x7 key pairs
    assert(contracted.count() <= 49L)
  }

  test("q116/q117 on sf0.001: domain rank contracts, sink rank retains mass") {
    val doms = GraphRank.q116DomainRank(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(doms.nonEmpty)
    assert(doms.sortBy(t => (-t._3, t._1)).toSeq === doms.toSeq)
    // domains are PSL-registered: never a bare public suffix label pair
    assert(doms.forall(d => d._1.count(_ == '.') >= 1))
    val sink = GraphRank.q117SinkRank(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(sink.nonEmpty)
    // every 5th doc's out-links were dropped: those vertices are sinks
    assert(sink.filter(_._1 % 5 == 0).forall(_._2 === 0L))
  }

  /** Plain-Scala reference for the SEEDED recurrence: start mass and
    * teleport only on seeds.
    */
  private def referenceSeeded(edges: Seq[(Long, Long, Long)], iters: Int,
      seeds: Set[Long]): Map[Long, (Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val ws = e.groupBy(_._1).map { case (v, es) => v -> es.map(_._3).sum }
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = verts.map(v => v -> (if (seeds(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val s = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => (r(u) * w) / ws(u) }.sum
      }
      r = verts.map(v => v -> ((if (seeds(v)) 150000L else 0L) +
        (s.getOrElse(v, 0L) * 17) / 20)).toMap
    }
    r.map { case (v, rv) => v -> (ws.getOrElse(v, 0L), rv) }
  }

  private def runSeeded(edges: Seq[(Long, Long, Long)], iters: Int,
      seeds: Seq[Long]) =
    GraphRank.pageRankTicksSeeded(
        edges.toDF("src", "dst", "wt"), iters, seeds.toDF("v"))
      .as[(Long, Long, Long)].collect()
      .map { case (v, w, r) => v -> (w, r) }.toMap

  test("seeded: seeded random digraph matches the reference") {
    val rnd = new scala.util.Random(8844)
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        1L + rnd.nextInt(3).toLong)
    }.filter(t => t._1 != t._2).distinct
    val seeds = Seq(0L, 5L, 10L, 15L, 20L)
    for (iters <- Seq(1, 3, 5))
      assert(runSeeded(edges, iters, seeds) ===
        referenceSeeded(edges, iters, seeds.toSet),
        s"divergence at iters=$iters")
  }

  test("seeded: the all-vertices seed set reproduces the plain ranking") {
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 3L), (1L, 3L, 1L))
    assert(runSeeded(edges, 5, Seq(1L, 2L, 3L)) === runDirected(edges, 5))
  }

  test("seeded: vertices unreachable from the seed set stay at zero") {
    // two chains; only chain 1's head is trusted — chain 3→4 never
    // receives teleport or flow, so both its vertices rank 0
    val got = runSeeded(Seq((1L, 2L, 1L), (3L, 4L, 1L)), 4, Seq(1L))
    assert(got(3L)._2 === 0L && got(4L)._2 === 0L)
    assert(got(1L)._2 > 0L && got(2L)._2 > 0L)
  }

  /** Plain-Scala reference for max-normalized HITS. */
  private def referenceHits(edges: Seq[(Long, Long, Long)],
      iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct
    var h = verts.map(_ -> 1000000L).toMap
    var a = verts.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val aRaw = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => h(u) * w }.sum }
      val am = aRaw.values.max
      a = verts.map(v => v -> aRaw.getOrElse(v, 0L) * 1000000L / am).toMap
      val hRaw = e.groupBy(_._1).map { case (v, es) =>
        v -> es.map { case (_, u, w) => a(u) * w }.sum }
      val hm = hRaw.values.max
      h = verts.map(v => v -> hRaw.getOrElse(v, 0L) * 1000000L / hm).toMap
    }
    verts.map(v => v -> (h(v), a(v))).toMap
  }

  private def runHits(edges: Seq[(Long, Long, Long)], iters: Int) =
    GraphRank.hitsTicks(edges.toDF("src", "dst", "wt"), iters)
      .as[(Long, Long, Long)].collect()
      .map { case (v, hh, aa) => v -> (hh, aa) }.toMap

  test("hits: seeded random digraph matches the reference") {
    val rnd = new scala.util.Random(9393)
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        1L + rnd.nextInt(3).toLong)
    }.filter(t => t._1 != t._2).distinct
    for (iters <- Seq(1, 3, 5))
      assert(runHits(edges, iters) === referenceHits(edges, iters),
        s"divergence at iters=$iters")
  }

  test("hits: a pure directory page is the top hub, never an authority") {
    // 1 links to 2,3,4 (each also interlinked so hubs/auths mix);
    // vertex 1 receives nothing → authority 0, hub max
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),
      (2L, 3L, 1L), (3L, 4L, 1L))
    val got = runHits(edges, 4)
    assert(got(1L)._2 === 0L, "directory page must have zero authority")
    assert(got.values.map(_._1).max === got(1L)._1,
      "directory page must be the max hub")
  }

  /** Plain-Scala reference for clamped weighted-majority label
    * propagation with min-label tie-break and carry-on-silence.
    */
  private def referenceLabelProp(edges: Seq[(Long, Long, Long)],
      seeds: Map[Long, Long], iters: Int): Map[Long, Option[Long]] = {
    val e = edges.filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val verts = (e.map(_._1) ++ e.map(_._2)).distinct
    var l: Map[Long, Option[Long]] = verts.map(v => v -> seeds.get(v)).toMap
    for (_ <- 1 to iters) {
      val votes = e.flatMap { case (u, v, w) => l(u).map(lb => (v, lb, w)) }
        .groupBy(t => (t._1, t._2))
        .map { case ((v, lb), ts) => (v, lb, ts.map(_._3).sum) }
      val win = votes.groupBy(_._1).map { case (v, vs) =>
        v -> vs.minBy(t => (-t._3, t._2))._2
      }
      l = verts.map(v =>
        v -> seeds.get(v).orElse(win.get(v)).orElse(l(v))).toMap
    }
    l
  }

  private def runLabelProp(edges: Seq[(Long, Long, Long)],
      seeds: Seq[(Long, Long)], iters: Int): Map[Long, Option[Long]] =
    GraphRank.labelPropagateTicks(edges.toDF("src", "dst", "wt"),
        seeds.toDF("v", "label"), iters)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("labelprop: seeded random digraph matches the reference") {
    val rnd = new scala.util.Random(1212)
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
        1L + rnd.nextInt(3).toLong)
    }.filter(t => t._1 != t._2).distinct
    val seeds = Seq(0L -> 0L, 7L -> 1L, 14L -> 0L, 21L -> 1L).toMap
    for (iters <- Seq(1, 3, 5))
      assert(runLabelProp(edges, seeds.toSeq, iters) ===
        referenceLabelProp(edges, seeds, iters),
        s"divergence at iters=$iters")
  }

  test("labelprop: seeds clamp, ties take the smaller label, silence carries") {
    // 1(seed:1) -> 3 <- 2(seed:0) with equal weight: tie → label 0;
    // 3 -> 4 gets 3's label one round later; 5 -> 1 cannot flip the
    // clamped seed; 6 is isolated-from-labels and stays null
    val edges = Seq((1L, 3L, 5L), (2L, 3L, 5L), (3L, 4L, 1L),
      (5L, 1L, 9L), (6L, 5L, 1L))
    val got = runLabelProp(edges, Seq(1L -> 1L, 2L -> 0L), 3)
    assert(got(3L) === Some(0L), "tie must take the smaller label")
    assert(got(4L) === Some(0L), "label must propagate a second hop")
    assert(got(1L) === Some(1L), "seed label is clamped")
    assert(got(5L) === None && got(6L) === None,
      "vertices no label ever reaches stay null")
  }

  /** Plain-Scala reference BFS: round-synchronous frontier expansion,
    * first touch = min-hop, bounded rounds.
    */
  private def referenceBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      maxR: Int): Map[Long, Long] = {
    val adj = edges.filter(t => t._1 != t._2).distinct
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).distinct }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (r <- 1 to maxR if frontier.nonEmpty) {
      val nxt = frontier.flatMap(v => adj.getOrElse(v, Seq.empty))
        .filterNot(dist.contains)
      dist ++= nxt.map(_ -> r.toLong)
      frontier = nxt
    }
    dist
  }

  private def runBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxR: Int): Map[Long, Long] =
    GraphRank.bfsDepth(edges.map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "wt"),
      seeds.toDF("v"), maxR)
      .as[(Long, Long)].collect().toMap

  test("bfs: diamond takes the min path; cycles terminate; " +
      "unreachable vertices are absent") {
    // 1 → 2 → 4 and 1 → 4 (diamond: depth(4) = 1, not 2);
    // 4 → 5 → 6 → 4 (cycle reached from the seed side);
    // 8 → 9 unreachable from seed 1
    val edges = Seq((1L, 2L), (2L, 4L), (1L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (8L, 9L))
    val got = runBfs(edges, Seq(1L), maxR = 10)
    assert(got === Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 3L))
    assert(got === referenceBfs(edges, Set(1L), 10))
  }

  test("bfs: maxRounds truncates depth; a seed inside a chain wins") {
    val chain = (1L to 9L).sliding(2).map(p => (p(0), p(1))).toSeq
    // from vertex 1, rounds=3 reaches only depths ≤ 3
    assert(runBfs(chain, Seq(1L), 3) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // a second seed mid-chain caps depths from its side
    val two = runBfs(chain, Seq(1L, 7L), 8)
    assert(two(7L) === 0L && two(8L) === 1L && two(6L) === 5L)
    assert(two === referenceBfs(chain, Set(1L, 7L), 8))
  }

  test("bfs: seeded random digraphs match the reference across seeds") {
    for (seed <- Seq(4511, 4522, 4533)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 140).map { _ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      }.filter(t => t._1 != t._2).distinct
      val seeds = edges.map(_._1).distinct.sorted.take(2)
      for (maxR <- Seq(0, 2, 6))
        assert(runBfs(edges, seeds, maxR) ===
          referenceBfs(edges, seeds.toSet, maxR),
          s"divergence at seed=$seed maxR=$maxR")
    }
  }

  /** Plain-Scala reference triangle profile: brute-force over the
    * canonical undirected edge set — every a < b < c combination.
    */
  private def referenceTriangles(
      edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val ue = edges.filter(t => t._1 != t._2)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val es = ue.toSet
    val deg = (ue.map(_._1) ++ ue.map(_._2))
      .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
    val verts = deg.keys.toSeq.sorted
    val triCount = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    for {
      (a, b) <- ue
      c <- verts if c > b && es((a, c)) && es((b, c))
    } { triCount(a) += 1; triCount(b) += 1; triCount(c) += 1 }
    deg.map { case (v, d) =>
      val t = triCount(v)
      val cl = if (d >= 2) (2 * t * 1000000L) / (d * (d - 1)) else 0L
      v -> (d, t, cl)
    }
  }

  private def runTriangles(
      edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    GraphRank.triangleStats(edges.map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "wt"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (v, d, t, c) => v -> (d, t, c) }.toMap

  test("triangles: K3 + pendant, K4, and a square hand-check") {
    // K3 {1,2,3} with pendant 3—4: each K3 vertex in 1 triangle;
    // clustering 1 for deg-2 vertices, 1/3 for vertex 3 (deg 3)
    val got = runTriangles(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(got === Map(
      1L -> (2L, 1L, 1000000L), 2L -> (2L, 1L, 1000000L),
      3L -> (3L, 1L, 333333L), 4L -> (1L, 0L, 0L)))
    // K4: every vertex in C(3,2) = 3 triangles, clustering exactly 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    assert(runTriangles(k4) ===
      (1L to 4L).map(v => v -> (3L, 3L, 1000000L)).toMap)
    // 4-cycle: no triangles anywhere
    val sq = runTriangles(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(sq.values.forall { case (_, t, c) => t == 0L && c == 0L })
  }

  test("triangles: direction, duplicates, and self-loops are " +
      "symmetrized away") {
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val dirty = Seq((2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (3L, 3L))
    assert(runTriangles(dirty) === runTriangles(clean))
  }

  test("triangles: seeded random graphs match the brute-force " +
      "reference across seeds") {
    for (seed <- Seq(6101, 6202, 6303)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 160).map { _ =>
        (rnd.nextInt(22).toLong, rnd.nextInt(22).toLong)
      }.filter(t => t._1 != t._2).distinct
      assert(runTriangles(edges) === referenceTriangles(edges),
        s"divergence at seed=$seed")
    }
  }

  test("cocitation: shared citers pair, the out-degree cap drops " +
      "directory pages, jaccard is capped-universe") {
    // citers 1,2,3 each cite {10, 20}; citer 4 cites {10, 30};
    // citer 99 is a DIRECTORY page citing 12 targets — capped out,
    // so its co-citations (including 20–30) never materialize
    val base = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (4L, 10L), (4L, 30L))
    val dir99 = (10L to 21L).map(t => (99L, t))
    val edges = (base ++ dir99).map { case (s, d) => (s, d, 1L) }
      .toDF("src", "dst", "wt")
    val got = GraphRank.cocitationPairs(edges, maxOutDeg = 10L,
        minCoCiters = 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // in capped universe: in(10) = {1,2,3,4}, in(20) = {1,2,3};
    // (10,20): co=3, jaccard = 3/(4+3-3) = 750000 ticks;
    // (10,30): co=1 < minCoCiters — filtered
    assert(got === Seq((10L, 20L, 3L, 750000L)))
    // raising the cap admits the directory page: (20,21) and friends
    // still need >= 2 citers, but (10,20) gains citer 99
    val loose = GraphRank.cocitationPairs(edges, maxOutDeg = 20L,
        minCoCiters = 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(loose.contains((10L, 20L, 4L, 1000000L * 4L / 5L)))
  }

  /** Plain-Scala reference peeling: synchronous rounds until the
    * round budget or the fixpoint, then per-vertex core degree.
    */
  private def referenceKCore(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] = {
    var ue = edges.filter(t => t._1 != t._2)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    for (_ <- 1 to rounds) {
      val deg = (ue.map(_._1) ++ ue.map(_._2))
        .groupBy(identity).map { case (v, vs) => v -> vs.size }
      ue = ue.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
    }
    (ue.map(_._1) ++ ue.map(_._2))
      .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] =
    GraphRank.kCore(edges.map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "wt"), k, rounds)
      .as[(Long, Long)].collect().toMap

  test("kcore: tendrils peel, the core survives, peeling cascades") {
    // triangle {1,2,3} + path 3—4—5: round 1 peels 5 (deg 1), round
    // 2 peels 4 (its degree FELL to 1) — the cascade — leaving the
    // triangle as the whole 2-core
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(runKCore(edges, 2, 8) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3 empties it entirely (no vertex has 3 core neighbors)
    assert(runKCore(edges, 3, 8) === Map.empty[Long, Long])
    // a round budget too small stops mid-cascade, deterministically
    assert(runKCore(edges, 2, 1) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("kcore: seeded random graphs match the reference at several " +
      "k and round budgets") {
    for (seed <- Seq(7101, 7202)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 130).map { _ =>
        (rnd.nextInt(28).toLong, rnd.nextInt(28).toLong)
      }.filter(t => t._1 != t._2).distinct
      for (k <- Seq(2, 3); rounds <- Seq(1, 3, 8))
        assert(runKCore(edges, k, rounds) ===
          referenceKCore(edges, k, rounds),
          s"divergence at seed=$seed k=$k rounds=$rounds")
    }
  }

  test("reciprocity: mutual pairs count, one-way links don't, " +
      "parallel edges collapse") {
    // 1↔2 mutual; 1→3 one-way; 3→4 one-way; duplicate 1→2 edges and
    // a self-loop must not inflate anything
    val edges = Seq((1L, 2L, 1L), (1L, 2L, 5L), (2L, 1L, 1L),
      (1L, 3L, 1L), (3L, 4L, 1L), (4L, 4L, 9L))
      .toDF("src", "dst", "wt")
    val got = GraphRank.reciprocity(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((2L, 1L, 500000L)),   // 2 out, 1 reciprocated
      2L -> ((1L, 1L, 1000000L)),  // its single out-link is mutual
      3L -> ((1L, 0L, 0L))))       // 4 has no real out-links
  }

  test("crawlBudget: hand-traced apportionment with a remainder tie") {
    // B=10, weights 5/3/2/2 (W=12): exact shares 4.166/2.5/1.666/1.666
    // → bases 4/2/1/1 (Σ8), leftover 2; remainders 2/6/8/8 → the two
    // ties at 8 rank first by domain asc ⇒ c and d get the extras
    val w = Seq(("a", 5L), ("b", 3L), ("c", 2L), ("d", 2L))
      .toDF("domain", "wt")
    val got = GraphRank.crawlBudget(w, budget = 10L)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("a", 5L, 4L, 0L, 4L), ("b", 3L, 2L, 0L, 2L),
      ("c", 2L, 1L, 1L, 2L), ("d", 2L, 1L, 1L, 2L)))
  }

  test("crawlBudget: quotas always sum to the budget and stay within " +
      "one of the exact share, across random weight sets") {
    for (seed <- Seq(9101, 9202, 9303); budget <- Seq(0L, 3L, 97L, 1000L)) {
      val rnd = new scala.util.Random(seed)
      val w = (1 to 40).map(i => (f"d$i%02d", 1L + rnd.nextInt(1000).toLong))
      val ww = w.map(_._2).sum
      val got = GraphRank.crawlBudget(w.toDF("domain", "wt"), budget)
        .as[(String, Long, Long, Long, Long)].collect()
      assert(got.map(_._5).sum === budget, s"sum seed=$seed B=$budget")
      val wm = w.toMap
      got.foreach { case (d, _, _, _, q) =>
        val lo = budget * wm(d) / ww
        assert(q == lo || q == lo + 1, s"$d quota $q vs floor $lo")
      }
    }
  }

  test("randomized band: every directed variant matches its reference " +
      "across seeds") {
    // the per-variant tests above each use one seed; this band sweeps
    // four more through ALL six variants — 24 differential cases —
    // so a tie-break or floor-order bug that one topology happens to
    // mask still gets caught
    for (seed <- Seq(1101, 2202, 3303, 4404)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 120).map { _ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong,
          1L + rnd.nextInt(5).toLong)
      }.filter(t => t._1 != t._2).distinct
      val undirected = edges.map { case (a, b, w) =>
        (math.min(a, b), math.max(a, b), w) }.distinct
      assert(runDirected(edges, 3) === referenceDirected(edges, 3),
        s"directed seed=$seed")
      assert(runRedistributed(edges, 3) === referenceRedistributed(edges, 3),
        s"redistribute seed=$seed")
      val sd = edges.map(_._1).distinct.sorted.take(3)
      assert(runSeeded(edges, 3, sd) === referenceSeeded(edges, 3, sd.toSet),
        s"seeded seed=$seed")
      assert(runHits(edges, 3) === referenceHits(edges, 3), s"hits seed=$seed")
      val ls = edges.map(_._1).distinct.sorted.take(4)
        .zipWithIndex.map { case (v, i) => v -> (i % 2).toLong }
      assert(runLabelProp(edges, ls, 3) ===
        referenceLabelProp(edges, ls.toMap, 3), s"labelprop seed=$seed")
      assert(runWeighted(undirected, 3) ===
        referenceWeighted(undirected, 3), s"weighted seed=$seed")
      // the r11 structural family sweeps the same topologies: BFS
      // depth, triangles, k-core, reciprocity, co-citation
      val plain = edges.map(t => (t._1, t._2))
      assert(runBfs(plain, sd, 3) === referenceBfs(plain, sd.toSet, 3),
        s"bfs seed=$seed")
      assert(runTriangles(plain) === referenceTriangles(plain),
        s"triangles seed=$seed")
      assert(runKCore(plain, 2, 6) === referenceKCore(plain, 2, 6),
        s"kcore seed=$seed")
      assert(runReciprocity(plain) === referenceReciprocity(plain),
        s"reciprocity seed=$seed")
      assert(runCocitation(plain, 10L, 2L) ===
        referenceCocitation(plain, 10L, 2L), s"cocitation seed=$seed")
    }
  }

  /** Plain-Scala reciprocity reference. */
  private def referenceReciprocity(
      edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2).distinct.toSet
    e.groupBy(_._1).map { case (s, out) =>
      val n = out.size.toLong
      val r = out.count { case (_, d) => e((d, s)) }.toLong
      s -> (n, r, r * 1000000L / n)
    }
  }

  private def runReciprocity(
      edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    GraphRank.reciprocity(edges.map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "wt"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  /** Plain-Scala co-citation reference (cap-first, capped-universe
    * Jaccard, floor ticks).
    */
  private def referenceCocitation(edges: Seq[(Long, Long)],
      maxOut: Long, minCo: Long): Map[(Long, Long), (Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2).distinct
    val keep = e.groupBy(_._1).filter(_._2.size <= maxOut)
      .values.flatten.toSeq
    val nin = keep.groupBy(_._2).map { case (d, es) => d -> es.size.toLong }
    keep.groupBy(_._1).values.toSeq
      .flatMap { out =>
        val ds = out.map(_._2).distinct.sorted
        for (a <- ds; b <- ds if a < b) yield (a, b)
      }
      .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
      .filter(_._2 >= minCo)
      .map { case ((a, b), co) =>
        (a, b) -> (co, co * 1000000L / (nin(a) + nin(b) - co))
      }
  }

  private def runCocitation(edges: Seq[(Long, Long)], maxOut: Long,
      minCo: Long): Map[(Long, Long), (Long, Long)] =
    GraphRank.cocitationPairs(edges.map { case (a, b) => (a, b, 1L) }
        .toDF("src", "dst", "wt"), maxOut, minCo)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap

  test("inlinkFeatures: weights, diversity, self-loops dropped") {
    import org.apache.spark.sql.functions.col
    // doc 10: 3 inlinks (wt 2+1+1) from 3 pages on 2 domains (1,2 on
    // dA — the "link farm" shape: many pages, one domain); doc 20:
    // one inlink plus a SELF-LOOP that must not count
    val edges = Seq((1L, 10L, 2L), (2L, 10L, 1L), (3L, 10L, 1L),
      (3L, 20L, 4L), (20L, 20L, 9L)).toDF("src", "dst", "wt")
    val mapping = Seq((1L, "dA"), (2L, "dA"), (3L, "dB"), (20L, "dC"))
      .toDF("doc_id", "domain")
    val got = GraphRank.inlinkFeatures(edges, mapping)
      .orderBy(col("dst"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      // 2 domains over 3 linkers → 666666 ticks (floor division)
      (10L, 4L, 3L, 2L, 2L, 666666L),
      (20L, 4L, 1L, 1L, 4L, 1000000L)))
  }
}
