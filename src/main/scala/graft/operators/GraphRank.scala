package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Pin, Tables}

/** Graph-based authority scoring over the near-dup similarity graph —
  * the source-weighting op of web-scale corpus curation (host/document
  * rank as a quality prior, the CommonCrawl-pipeline role of PageRank).
  * The reference has no graph ops; this is the beyond-reference
  * LLM-pipeline family (SURVEY §2 NS rows), composing the q18 pair
  * detector into a ranked-corpus diagnostic: documents central in a
  * dense similarity neighborhood score high (template/boilerplate
  * families), isolated documents keep the teleport floor.
  *
  * Determinism across engines is the design constraint: float PageRank
  * sums in fold order, which no two engines (or two partitionings!)
  * agree on. Here every rank is an exact Long in 1e-6 "ticks" and each
  * iteration is
  *
  *   r'(v) = 150000 + (17 · Σ_{u→v} (r(u) div deg(u))) div 20
  *
  * — floor division on non-negative longs, so Spark's `div` and
  * DuckDB's `//` produce bit-identical trajectories and the oracle can
  * hash-match the full ranking (same tick trick as the BM25 scorer,
  * `Retrieval.scala`). d = 0.85 damping becomes the exact ×17/20;
  * the 0.15 teleport term is 150000 ticks of the 1e6 start mass.
  *
  * Scale shape (the part that must survive 100×): per iteration, ONE
  * src-keyed join of the pinned edge frame against the |V|-sized
  * contribution-sum frame (AQE broadcasts it while it fits — vertex
  * tables are |V|, edge tables |E| ≫ |V|) and ONE dst-keyed partial
  * agg. Out-weights and teleport flags fold into the edge frame once
  * before the loop; the vertex frame is joined once, for the output.
  * The edge set is pinned once (`Pin.reuse`) because it feeds every
  * iteration — without the cut, each of the 5 rounds would re-run the
  * full Jaccard postings join upstream. Iterations are a fixed count,
  * not a convergence probe. The plain forms keep rank state off the
  * driver and run the loop as one job at the final action; the
  * redistributing form pins each round's frame and reads one Long
  * (the sink share) per round.
  */
object GraphRank {

  /** Directed edge normalization shared by the link-graph operators:
    * (src, dst, wt) with self-loops dropped and parallel rows combined
    * (`combine`, a sum by default), pinned — every consumer reads it
    * once per round.
    */
  private def directedEdges(edges: DataFrame,
      combine: Column => Column = sum(_)): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select($"src", $"dst", $"wt")
      .filter($"src" =!= $"dst")
      .groupBy($"src", $"dst").agg(combine($"wt").as("wt"))
      .transform(Pin.reuse)
  }

  /** The vertex set of an edge frame, (v, w): every src and dst, w its
    * out-weight in one agg (a dst-only row adds 0, so a sink has 0).
    */
  private def vertexSet(e: DataFrame): DataFrame =
    e.select(col("src").as("v"), col("wt").as("w"))
      .union(e.select(col("dst").as("v"), lit(0L).as("w")))
      .groupBy("v").agg(sum("w").as("w"))

  /** The one PageRank loop behind the four public forms. `e` is a
    * normalized directed edge set (see [[directedEdges]]); the
    * source's out-weight w and teleport flag t ∈ {0, 1} (1, or seed
    * membership when `seeds` is given) fold into it once, giving the
    * pinned edge frame (src, dst, wt, w, t). Loop state is the
    * contribution sum s(dst) plus a scalar `share`, and the rank
    * recurrence folds inline into the next round's contribution:
    *
    *   c = ((t·150000 + ((coalesce(s(src), 0) + share)·17) div 20)·wt) div w
    *
    * (round 1: (t·1e6·wt) div w). A round is ONE src-keyed join and
    * ONE dst-keyed partial agg. The vertex frame (v, w, t), w = 0 on a
    * sink, is joined once, for the output:
    * r = t·150000 + ((coalesce(s, 0) + share)·17) div 20.
    *
    * `share` is 0 unless `redistribute` (unseeded only: every sink
    * teleports). Then share_i = (Σ r_{i-1} over the sinks) div |V|,
    * read on the driver as one Long per round. Every sink is a dst,
    * so it has a row in s, flagged `k` from the edge frame; the round
    * frame is pinned because it feeds both the share read and the
    * next round.
    */
  private def rankTicks(e: DataFrame, iters: Int, wName: String,
      seeds: Option[DataFrame] = None, redistribute: Boolean = false,
      symmetric: Boolean = false): DataFrame = {
    val ss = e.sparkSession
    import ss.implicits._
    require(iters >= 1, "iters must be >= 1")
    // teleport flag t on key column `v` of `df`: 1, or seed membership
    def teleport(df: DataFrame, v: String): DataFrame = seeds.fold(
      df.withColumn("t", lit(1L))) { sd =>
      val f = sd.toDF("sv").distinct()
      df.join(f, df(v) === f("sv"), "left")
        .withColumn("t", when(f("sv").isNull, 0L).otherwise(1L)).drop("sv")
    }
    // the output's vertex frame: co-partitioned with s when unpinned;
    // redistribute pins it, as it also feeds k and the |V| read
    val vf = teleport(vertexSet(e), "v")
      .transform(df => if (redistribute) Pin.reuse(df) else df)
    // a window keeps `e` single-referenced: w folds in with one pass
    val ew = teleport(e.withColumn("w",
      sum($"wt").over(Window.partitionBy($"src"))), "src")
    val ne = (if (!redistribute) ew
      else ew.join(vf.select($"v".as("dst"), ($"w" === 0L).as("k")), "dst"))
      .transform(Pin.reuse)
    val keepK = if (redistribute) Seq(max($"k").as("k")) else Nil
    def sums(in: DataFrame, c: String): DataFrame =
      in.groupBy($"dst").agg(sum(expr(c)).as("s"), keepK: _*)
    def rank(t: String, s: String, share: Long): String =
      s"$t * 150000 + ((coalesce($s, 0) + $share) * 17) div 20"
    // |V| and round 1's share in one read; an empty graph has no
    // sinks, so its 0 sink mass divides by 1
    val (nv, share1) = if (!redistribute) (1L, 0L) else {
      val h = vf.agg(count(lit(1)), count(when($"w" === 0L, 1))).head()
      val n = math.max(h.getLong(0), 1L)
      (n, h.getLong(1) * 1000000L / n)
    }
    var share = share1
    var s = sums(ne, "(t * 1000000 * wt) div w")
    var held: DataFrame = null
    for (_ <- 2 to iters) {
      val prev = if (redistribute) Pin.iterative(s) else s
      if (held != null) Pin.release(held)
      // in a symmetric closure every src has a row in s, so the inner
      // join loses no edge and leaves AQE free to build either side
      s = sums(ne.join(prev.select($"dst".as("cv"), $"s".as("ps")),
          $"src" === $"cv", if (symmetric) "inner" else "left"),
        s"((${rank("t", "ps", share)}) * wt) div w")
      if (redistribute) {
        held = prev
        share = prev.filter($"k")
          .agg(coalesce(sum(expr(rank("1", "s", share))), lit(0L)))
          .head().getLong(0) / nv
      }
    }
    vf.join(s, vf("v") === s("dst"), "left")
      .select($"v".as("doc_id"), $"w".as(wName),
        expr(rank("t", "s", share)).as("rank_ticks"))
      .orderBy($"rank_ticks".desc, $"doc_id")
  }

  /** Exact-integer PageRank. `edges` is an undirected pair set with
    * columns (doc_a, doc_b); vertices are the pair endpoints
    * (isolated docs are out of the graph — they carry no edge mass
    * and would sit at the teleport floor forever). The operator is
    * public, so the input contract is enforced rather than assumed:
    * duplicate pair rows, either-orientation re-listings, and
    * self-loops are all collapsed/dropped in the symmetric-closure
    * step (without it a duplicated row would silently double-count
    * both the degree and the contribution, diverging from PageRank
    * semantics and from the oracle). It is the weighted form with
    * every weight 1. Returns (doc_id, degree, rank_ticks), rank_ticks
    * the exact Long trajectory value after `iters` rounds from a
    * uniform 1e6 start.
    */
  def pageRankTicks(edges: DataFrame, iters: Int): DataFrame =
    undirected(edges.select(col("doc_a"), col("doc_b"), lit(1L).as("wt")),
      iters, "degree")

  /** The undirected forms: the core over the symmetric closure,
    * max-weight winning among re-listings of one pair. The closure is
    * pinned; its upstream (the Jaccard pair join) is the expensive
    * part.
    */
  private def undirected(edges: DataFrame, iters: Int,
      wName: String): DataFrame = {
    val (a, b) = (col("doc_a"), col("doc_b"))
    val sym = edges.select(a.as("src"), b.as("dst"), col("wt"))
      .union(edges.select(b.as("src"), a.as("dst"), col("wt")))
    rankTicks(directedEdges(sym, max(_)), iters, wName, symmetric = true)
  }

  /** Q110 — similarity-graph PageRank over `documents`: edges are the
    * exact 3-gram-shingle Jaccard pairs at τ = 0.05 (the q18 detector,
    * opened wider so near-miss neighborhoods contribute structure, not
    * just verbatim dups), 5 exact-tick iterations.
    */
  def q110PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankTicks(
      NearDup.jaccardPairs(Tables.load(spark, dir, "documents"), 0.05),
      iters = 5)

  /** EDGE-WEIGHTED exact-integer PageRank — the weighted-host-rank
    * form production curation uses (a near-identical neighbor should
    * pull more rank than a barely-over-threshold one). `edges` is
    * (doc_a, doc_b, wt) with POSITIVE Long weight ticks; duplicates,
    * re-orientations (max-weight wins) and self-loops are collapsed
    * like [[pageRankTicks]]. The recurrence replaces the degree split
    * with a weight split, still in pure floor-division Long
    * arithmetic so the trajectory is engine-exact:
    *
    *   r'(v) = 150000 + (17 · Σ_{u→v} ((r(u) · wt(u,v)) div W(u))) div 20
    *
    * with W(u) = Σ_x wt(u,x).
    *
    * Overflow domain: the per-term product r(u)·wt must stay under
    * 2⁶³. Total rank mass is ≤ |V|·1.15e6 ticks, so with the default
    * 1e3 weight scale ([[jaccardWeightTicks]]) the operator is exact
    * for |V| up to ~8e9 vertices — web-host-graph scale; a finer
    * 1e6 weight scale trades that to |V| ≲ 8e6. The documented
    * escalation past 2⁶³ is the split identity
    * r·wt div W = wt·(r div W) + (wt·(r mod W)) div W.
    */
  def pageRankTicksWeighted(edges: DataFrame, iters: Int): DataFrame =
    undirected(edges, iters, "w_ticks")

  /** DIRECTED weighted PageRank — the web-link-graph form (a page
    * endorses the pages it links to; endorsement is not symmetric).
    * `edges` is (src, dst, wt), positive Long weights (typically link
    * multiplicities); parallel rows sum their weights, self-links
    * drop. Vertices are ALL edge endpoints; a vertex with no in-links
    * sits at the teleport floor (it has no contribution sum; the
    * output LEFT join against the vertex frame supplies 0), and a
    * sink vertex's mass leaks — the plain no-dangling-redistribution
    * variant, exact and engine-portable like the undirected forms:
    *
    *   r'(v) = 150000 + (17 · Σ_{u→v} ((r(u) · wt(u,v)) div W(u))) div 20
    *
    * With `redistribute`, DANGLING-MASS REDISTRIBUTION (the canonical
    * PageRank form): the sinks' mass splits |V| ways by floor
    * division and every vertex receives the share BEFORE damping,
    *
    *   r'(v) = 150000 + (17 · (Σ contrib + (Σ_sinks r) div |V|)) div 20
    *
    * so total mass is CONSERVED up to floor loss (< |E| + 2|V| ticks
    * per round, all downward — spec'd in GraphRankSpec); the plain
    * variant deflates every rank on sink-heavy web graphs.
    *
    * Scale shape: out-weights fold into the edge set ONCE before the
    * loop; per round one src-keyed rank join and one dst-keyed
    * partial agg, no vertex join (see [[rankTicks]]).
    */
  def pageRankTicksDirected(edges: DataFrame, iters: Int,
      redistribute: Boolean = false): DataFrame =
    rankTicks(directedEdges(edges), iters, "out_w",
      redistribute = redistribute)

  /** The q113 extraction parsed to internal doc targets with link
    * multiplicity as weight — the doc-level edge set feeding q114
    * (direct rank) and q116 (domain contraction then rank):
    * (src, dst, wt).
    */
  def linkEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val pages = docs.select($"doc_id",
      HtmlExtract.syntheticLinkedHtml($"doc_id", $"text").as("html"))
    val links = HtmlExtract.extractLinks(pages)
      // try_cast: an external href extracts to '' — ANSI cast would
      // throw; null-and-drop mirrors the oracle's TRY_CAST
      .select($"doc_id".as("src"),
        expr("try_cast(regexp_extract(href, '/doc/([0-9]+)', 1) " +
          "as bigint)").as("dst"))
      .filter($"dst".isNotNull)
    // internal links only: targets that exist as documents (doc_id is
    // unique, so the inner join is a semi join)
    links.join(docs.select($"doc_id".as("dst")), "dst")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("wt"))
  }

  /** Q114 — directed PageRank over the EXTRACTED link graph: the q113
    * outlink extraction parsed to internal doc targets (the ingest →
    * graph → rank composition a web-curation pipeline runs), link
    * multiplicity as edge weight, 5 exact-tick iterations.
    */
  def q114HostRank(spark: SparkSession, dir: String): DataFrame =
    pageRankTicksDirected(linkEdges(spark, dir), iters = 5)

  /** GRAPH CONTRACTION by a vertex key — the host/domain-graph step
    * of web curation: map each endpoint of (src, dst, wt) through
    * `mapping` (vertex → key) and sum weights per key pair. Pure
    * relational: two key joins + one partial-agg sum; at web scale
    * the mapping is |V| (pages) while edges are |E| ≫ |V|, so AQE
    * broadcasts the mapping side while it fits. SELF-LOOPS (edges
    * inside one key) are KEPT — total edge weight is conserved
    * exactly (the spec'd invariant); the rank operator drops them
    * under its own documented contract.
    */
  def contractEdges(edges: DataFrame, mapping: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    // the mapping feeds BOTH endpoint joins — pin it so its producing
    // plan (for q116: the whole URL-canonicalization chain) runs once,
    // not once per join side
    val m = Pin.reuse(mapping.toDF("vid", "key"))
    edges
      .join(m.select($"vid".as("src"), $"key".as("ksrc")), "src")
      .join(m.select($"vid".as("dst"), $"key".as("kdst")), "dst")
      .groupBy($"ksrc".as("src"), $"kdst".as("dst"))
      .agg(sum($"wt").as("wt"))
  }

  /** Q116 — DOMAIN-level PageRank, the actual host-rank quality prior
    * of web curation: contract the q113/q114 doc link graph by each
    * page's REGISTERED DOMAIN (q115's PSL rule over the synthetic
    * URLs) and rank the contracted graph with the directed tick
    * recurrence. Returns (domain, out_w, rank_ticks).
    */
  def q116DomainRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val doms = UrlNorm.canonicalize(
        docs.select($"doc_id", UrlNorm.syntheticUrl($"doc_id").as("url")))
      .select($"doc_id", $"domain")
    val edges = contractEdges(linkEdges(spark, dir), doms)
    pageRankTicksDirected(edges, iters = 5)
      .select($"doc_id".as("domain"), $"out_w", $"rank_ticks")
      .orderBy($"rank_ticks".desc, $"domain")
  }

  /** IN-LINK CONTEXT features — the per-page authority signals a
    * curation ranker consumes directly: total in-link weight,
    * distinct linking pages, distinct linking REGISTERED DOMAINS
    * (the spam-resistant diversity signal: a link farm on one domain
    * inflates `n_inlinks` but cannot move `n_linking_domains`), the
    * heaviest single-page contribution, and the domain-diversity
    * ratio in 1e-6 ticks (exact integer division — engine-portable,
    * no float drift). `edges` is (src, dst, wt) with parallel edges
    * pre-aggregated (the [[linkEdges]] contract) and self-loops
    * dropped here (a page linking itself is navigation chrome, not
    * an authority signal); `mapping` is (vertex → domain).
    *
    * Scale shape: one equi-join of the edge set against the
    * |V|-sized mapping (AQE broadcasts it while it fits, degrades to
    * a shuffle join beyond) + ONE dst-keyed partial-agg — no window,
    * no all-pairs, no driver state. The distinct-count shuffles the
    * (dst, domain) pairs exactly once.
    */
  def inlinkFeatures(edges: DataFrame, mapping: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.filter($"src" =!= $"dst")
      .join(mapping.toDF("src", "src_domain"), "src")
      .groupBy($"dst")
      .agg(sum($"wt").as("n_inlinks"),
        count(lit(1)).as("n_linkers"),
        countDistinct($"src_domain").as("n_linking_domains"),
        max($"wt").as("max_from_one_page"))
      .withColumn("diversity_ticks",
        expr("(n_linking_domains * 1000000) div n_linkers"))
  }

  /** Q127 — in-link features of the q113/q114 link graph with q115's
    * registered-domain mapping. (doc_id, n_inlinks, n_linkers,
    * n_linking_domains, max_from_one_page, diversity_ticks).
    */
  def q127InlinkFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val doms = UrlNorm.canonicalize(
        Tables.load(spark, dir, "documents")
          .select($"doc_id", UrlNorm.syntheticUrl($"doc_id").as("url")))
      .select($"doc_id", $"domain")
    inlinkFeatures(linkEdges(spark, dir), doms)
      .select($"dst".as("doc_id"), $"n_inlinks", $"n_linkers",
        $"n_linking_domains", $"max_from_one_page", $"diversity_ticks")
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[q127InlinkFeatures]] — the link CTEs
    * re-aggregated to (src, dst, wt), the canonicalization chain for
    * source domains, one grouped select with the same integer
    * division.
    */
  def inlinkOracleSql: String =
    s"""WITH $linkEdgeCtesSql,
       | m AS (SELECT src, dst, count(*)::BIGINT AS wt FROM ed
       |   GROUP BY 1, 2),
       | u AS (SELECT doc_id, ${UrlNorm.syntheticUrlSql("doc_id")} AS url
       |   FROM documents),
       |${UrlNorm.canonCtesSql}
       |SELECT m.dst AS doc_id, sum(m.wt)::BIGINT AS n_inlinks,
       |  count(*)::BIGINT AS n_linkers,
       |  count(DISTINCT f.domain)::BIGINT AS n_linking_domains,
       |  max(m.wt)::BIGINT AS max_from_one_page,
       |  ((count(DISTINCT f.domain) * 1000000) // count(*))::BIGINT
       |    AS diversity_ticks
       |FROM m JOIN fin f ON f.doc_id = m.src
       |GROUP BY m.dst ORDER BY doc_id""".stripMargin

  /** Q117 — directed PageRank WITH dangling-mass redistribution over
    * a sink-bearing graph: the q114 edge set minus the out-links of
    * every 5th doc (fetched-but-unparsed frontier pages — they
    * receive links but contribute none, the real-web sink shape the
    * full q114 fixture lacks: there every doc has an out-link).
    */
  def q117SinkRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pageRankTicksDirected(
      linkEdges(spark, dir).filter($"src" % 5 =!= 0),
      iters = 5, redistribute = true)
  }

  /** SEED-PERSONALIZED directed PageRank (the TrustRank / topic-
    * sensitive form): start mass and the per-round teleport exist
    * only on the SEED vertices, so rank measures proximity to the
    * trusted set through link structure — the spam-demotion /
    * topical-authority prior of web curation. Same exact-tick
    * contract; recurrence:
    *
    *   r'(v) = [v ∈ S]·150000 + (17 · Σ_{u→v} ((r(u)·wt) div W(u))) div 20
    *
    * with r0 = [v ∈ S]·1e6. When S = all vertices this is exactly
    * [[pageRankTicksDirected]] (spec'd). Scale shape identical to
    * the plain form plus ONE seed-flag join into the pinned vertex
    * frame before the loop (the flag is the core's teleport flag t),
    * so per-round cost is unchanged and the loop stays one job.
    */
  def pageRankTicksSeeded(edges: DataFrame, iters: Int,
      seeds: DataFrame): DataFrame =
    rankTicks(directedEdges(edges), iters, "out_w", seeds = Some(seeds))

  /** Q120 — TrustRank over the q114 link graph with every 10th doc as
    * a trusted seed: rank flows out of the seed set along links.
    */
  def q120TrustRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pageRankTicksSeeded(
      linkEdges(spark, dir),
      iters = 5,
      seeds = Tables.load(spark, dir, "documents")
        .select($"doc_id").filter($"doc_id" % 10 === 0))
  }

  /** DuckDB oracle for [[q120TrustRank]]. */
  def trustRankOracleSql(iters: Int): String =
    directedRecurrenceSql(
      s"""$linkEdgeCtesSql,
         | e AS (SELECT src, dst, count(*)::BIGINT AS wt FROM ed
         |   GROUP BY src, dst)""".stripMargin,
      iters,
      seedsCte = Some("seeds AS (SELECT DISTINCT doc_id AS sv " +
        "FROM documents WHERE doc_id % 10 = 0)"))

  /** The q113-link → doc-edge CTE chain shared by the q114/q116/q117
    * oracles: `ed(src, dst)` one row per internal link occurrence
    * (TRY_CAST mirrors Spark's null-on-no-match target parse;
    * existence filter keeps only targets that are documents).
    */
  def linkEdgeCtesSql: String =
    s"""${HtmlExtract.linkedCtesSql},
       | ln AS (SELECT src, dst FROM (
       |     SELECT doc_id AS src,
       |       TRY_CAST(regexp_extract(unnest(list_transform(l,
       |         a -> regexp_extract(a, '${HtmlExtract.AnchorRe}', 1))),
       |         '/doc/([0-9]+)', 1) AS BIGINT) AS dst
       |     FROM lk)
       |   WHERE dst IS NOT NULL),
       | ed AS (SELECT src, dst FROM ln
       |   JOIN (SELECT DISTINCT doc_id FROM documents) d ON d.doc_id = ln.dst
       |   WHERE src <> dst)""".stripMargin

  /** DIRECTED tick recurrence as chained CTEs over caller-supplied
    * edge CTEs (which must define `e(src, dst, wt)` — self-loops
    * dropped, parallel edges aggregated). LEFT joins against the
    * vertex set keep in-link-less vertices at the teleport floor.
    * With `redistribute`, each round adds one scalar CTE collecting
    * sink mass (vertices absent from `ws`) and folds its |V|-way
    * floor share into every vertex's pre-damping sum — the exact
    * mirror of the Spark operator's redistributing form.
    */
  def directedRecurrenceSql(edgeCtes: String, iters: Int,
      redistribute: Boolean = false, vertexName: String = "doc_id",
      seedsCte: Option[String] = None): String = {
    // personalized (seeded) form: start mass and teleport exist ONLY
    // on seed vertices — `seedsCte` must define `seeds(sv)`
    def teleport(v: String): String = seedsCte match {
      case Some(_) =>
        s"(CASE WHEN $v IN (SELECT sv FROM seeds) THEN 150000 ELSE 0 END)"
      case None => "150000"
    }
    val r0 = seedsCte match {
      case Some(_) =>
        """(CASE WHEN v IN (SELECT sv FROM seeds)
          |   THEN 1000000 ELSE 0 END)::BIGINT""".stripMargin
      case None => "1000000::BIGINT"
    }
    val iterCtes = (1 to iters).map { i =>
      val shareCte =
        if (redistribute)
          s""" s$i AS (SELECT
             |    (SELECT coalesce(sum(p.r), 0)::BIGINT FROM r${i - 1} p
             |      WHERE p.v NOT IN (SELECT v FROM ws)) //
             |    (SELECT count(*)::BIGINT FROM verts) AS share),
             |""".stripMargin
        else ""
      val shareTerm = if (redistribute) s" + (SELECT share FROM s$i)" else ""
      s"""$shareCte r$i AS (SELECT vv.v,
         |   ${teleport("vv.v")} + ((CAST(coalesce(sum((p.r * e.wt) // ws.w), 0) AS BIGINT)$shareTerm) * 17) // 20 AS r
         |  FROM verts vv
         |  LEFT JOIN e ON e.dst = vv.v
         |  LEFT JOIN r${i - 1} p ON p.v = e.src
         |  LEFT JOIN ws ON ws.v = e.src
         |  GROUP BY vv.v)""".stripMargin
    }.mkString(",\n")
    val seedsPart = seedsCte.map(c => s" $c,\n").getOrElse("")
    s"""WITH $edgeCtes,
       |$seedsPart ws AS (SELECT src AS v, sum(wt)::BIGINT AS w FROM e GROUP BY src),
       | verts AS (SELECT DISTINCT v FROM
       |   (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       | r0 AS (SELECT v, $r0 AS r FROM verts),
       |$iterCtes
       |SELECT f.v AS $vertexName, coalesce(ws.w, 0) AS out_w, f.r AS rank_ticks
       |FROM r$iters f LEFT JOIN ws ON ws.v = f.v
       |ORDER BY rank_ticks DESC, $vertexName""".stripMargin
  }

  /** DuckDB oracle for [[q114HostRank]]. */
  def directedOracleSql(iters: Int): String =
    directedRecurrenceSql(
      s"""$linkEdgeCtesSql,
         | e AS (SELECT src, dst, count(*)::BIGINT AS wt FROM ed
         |   GROUP BY src, dst)""".stripMargin,
      iters)

  /** DuckDB oracle for [[q116DomainRank]]: the link CTEs, the FULL
    * q115 canonicalization as the doc → domain mapping (zero drift —
    * the q115 oracle text is embedded as a subquery), domain-level
    * contraction with same-domain links dropped, then the directed
    * recurrence over string vertices.
    */
  def domainOracleSql(iters: Int): String =
    directedRecurrenceSql(
      s"""$linkEdgeCtesSql,
         | doms AS (SELECT doc_id, domain FROM (${UrlNorm.oracleSql}) _q115),
         | e AS (SELECT da.domain AS src, db.domain AS dst,
         |     count(*)::BIGINT AS wt
         |   FROM ed JOIN doms da ON da.doc_id = ed.src
         |           JOIN doms db ON db.doc_id = ed.dst
         |   WHERE da.domain <> db.domain
         |   GROUP BY 1, 2)""".stripMargin,
      iters, vertexName = "domain")

  /** DuckDB oracle for [[q117SinkRank]]: the q114 edge CTEs minus
    * every 5th doc's out-links, redistributing recurrence.
    */
  def sinkRankOracleSql(iters: Int): String =
    directedRecurrenceSql(
      s"""$linkEdgeCtesSql,
         | e AS (SELECT src, dst, count(*)::BIGINT AS wt FROM ed
         |   WHERE src % 5 <> 0 GROUP BY src, dst)""".stripMargin,
      iters, redistribute = true)

  /** HITS hubs-and-authorities in exact tick arithmetic — the
    * complementary authority model to PageRank (a good HUB links to
    * good authorities; a good AUTHORITY is linked from good hubs —
    * directory pages vs content pages, both curation signals). The
    * float algorithm L2-normalizes each half-step; for an
    * engine-exact trajectory this uses MAX-normalization in Long
    * ticks (sup-norm — a standard HITS variant) so every round is
    * floor division on non-negative longs:
    *
    *   a_i(v) = (Σ_{u→v} h_{i-1}(u)·wt) · 1e6 div max_v(Σ …)
    *   h_i(v) = (Σ_{v→u} a_i(u)·wt)     · 1e6 div max_v(Σ …)
    *
    * from h_0 = 1e6. Overflow domain: the raw sums stay < 2⁶³ while
    * Σ_edges wt < ~9e12 per vertex neighborhood — web-host scale.
    *
    * Scale shape: per round two (key, partial-agg-sum) shuffles (one
    * per direction) plus two SCALAR max aggs folded back as 1-row
    * cross joins (never a driver read). Each raw-sum frame has two
    * consumers (its max and its normalized projection), so rounds pin
    * raw frames and release the previous round's — the probe-mode
    * pattern, two jobs per round.
    */
  def hitsTicks(edges: DataFrame, iters: Int): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    require(iters >= 1, "iters must be >= 1")
    val e = directedEdges(edges)
    val verts = vertexSet(e).select("v").transform(Pin.reuse)
    // SPARSE score frames through the loop (r16 optimization): a
    // vertex missing from h/a carries value 0, and a 0 score
    // contributes 0 to every raw sum — so the per-half-step
    // verts-completion LEFT join (a broadcast build + join per
    // half-step) is unnecessary inside the loop; one completion join
    // at the end restores the all-vertices output. Values are
    // unchanged: dropping an edge row whose endpoint scores 0 equals
    // summing its 0 term, and the max ignores exactly the rows the
    // old left join padded with 0.
    var h = verts.select($"v", lit(1000000L).as("h"))
    var a = verts.select($"v", lit(0L).as("a"))
    var pinnedPrev: Seq[DataFrame] = Nil
    for (_ <- 1 to iters) {
      val aRaw = Pin.iterative(
        e.join(h.withColumnRenamed("v", "hv"), $"src" === $"hv")
          .select($"dst", ($"h" * $"wt").as("x"))
          .groupBy($"dst").agg(sum($"x").as("xa")))
      val aMax = aRaw.agg(max($"xa").as("ma"))
      a = aRaw.crossJoin(aMax)
        .select($"dst".as("v"), expr("(xa * 1000000) div ma").as("a"))
      val hRaw = Pin.iterative(
        e.join(a.withColumnRenamed("v", "av"), $"dst" === $"av")
          .select($"src", ($"a" * $"wt").as("x"))
          .groupBy($"src").agg(sum($"x").as("xh")))
      val hMax = hRaw.agg(max($"xh").as("mh"))
      h = hRaw.crossJoin(hMax)
        .select($"src".as("v"), expr("(xh * 1000000) div mh").as("h"))
      pinnedPrev.foreach(Pin.release)
      pinnedPrev = Seq(aRaw, hRaw)
    }
    verts
      .join(h.withColumnRenamed("v", "vh"), $"v" === $"vh", "left")
      .join(a.withColumnRenamed("v", "va"), $"v" === $"va", "left")
      .select($"v".as("doc_id"),
        coalesce($"h", lit(0L)).as("hub_ticks"),
        coalesce($"a", lit(0L)).as("auth_ticks"))
      .orderBy($"auth_ticks".desc, $"hub_ticks".desc, $"doc_id")
  }

  /** Q121 — HITS over the q114 link graph: (doc_id, hub_ticks,
    * auth_ticks), 5 exact-tick rounds.
    */
  def q121Hits(spark: SparkSession, dir: String): DataFrame =
    hitsTicks(linkEdges(spark, dir), iters = 5)

  /** DuckDB oracle for [[q121Hits]] — the same max-normalized
    * half-steps as chained CTEs. The maxima are GLOBAL WINDOW
    * functions (`max(x) OVER ()`), not scalar subqueries: a scalar
    * subquery would reference each raw CTE a second time, and with
    * CTE inlining that doubles the whole upstream chain per
    * half-step — 2^(2·iters) plan blowup (measured: the subquery
    * form never finished at sf0.01). The window form keeps every CTE
    * single-referenced, so the chain stays linear. `max` ignores the
    * NULLs the LEFT join introduces for in-link-less vertices, so
    * the window value equals the raw maximum.
    */
  def hitsOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s""" a${i}raw AS (SELECT e.dst AS v, CAST(sum(p.h * e.wt) AS BIGINT) AS x
         |   FROM e JOIN h${i - 1} p ON p.v = e.src GROUP BY e.dst),
         | a$i AS (SELECT vv.v,
         |     (coalesce(ar.x, 0) * 1000000) // (max(ar.x) OVER ()) AS a
         |   FROM verts vv LEFT JOIN a${i}raw ar ON ar.v = vv.v),
         | h${i}raw AS (SELECT e.src AS v, CAST(sum(p.a * e.wt) AS BIGINT) AS x
         |   FROM e JOIN a$i p ON p.v = e.dst GROUP BY e.src),
         | h$i AS (SELECT vv.v,
         |     (coalesce(hr.x, 0) * 1000000) // (max(hr.x) OVER ()) AS h
         |   FROM verts vv LEFT JOIN h${i}raw hr ON hr.v = vv.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgeCtesSql,
       | e AS (SELECT src, dst, count(*)::BIGINT AS wt FROM ed
       |   GROUP BY src, dst),
       | verts AS (SELECT DISTINCT v FROM
       |   (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       | h0 AS (SELECT v, 1000000::BIGINT AS h FROM verts),
       |$iterCtes
       |SELECT h.v AS doc_id, h.h AS hub_ticks, a.a AS auth_ticks
       |FROM h$iters h JOIN a$iters a ON a.v = h.v
       |ORDER BY auth_ticks DESC, hub_ticks DESC, doc_id""".stripMargin
  }

  /** SEMI-SUPERVISED label propagation over a directed weighted graph
    * — the label-spreading op of web curation (spam/topic labels flow
    * along links from a small audited seed set to the whole corpus).
    * Seeds are CLAMPED (an audited label never flips); every other
    * vertex takes, per round, the weighted-majority label of its
    * labeled in-neighbors, keeping its previous label when no vote
    * arrives. Determinism: vote sums are exact Longs and the argmax
    * tie-breaks by SMALLEST label id, so the trajectory is
    * engine-portable like the rank family.
    *
    * Scale shape: per round one (dst,label)-keyed partial-agg shuffle
    * + one per-dst argmax (a max of (votes, −label) structs — no
    * window over raw votes), then a vertex-keyed 3-way left join.
    * The round's label frame has two consumers next round (votes and
    * the carry join) — pinned per round, previous released.
    */
  def labelPropagateTicks(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    require(iters >= 1, "iters must be >= 1")
    val e = directedEdges(edges)
    val verts = vertexSet(e).select("v").transform(Pin.reuse)
    val sd = seeds.toDF("sv", "slabel").distinct().transform(Pin.reuse)
    var labels = Pin.iterative(
      verts.join(sd, verts("v") === $"sv", "left")
        .select($"v", $"slabel".as("label")))
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.filter($"label".isNotNull)
          .withColumnRenamed("v", "lv"), $"src" === $"lv")
        .groupBy($"dst", $"label").agg(sum($"wt").as("votes"))
      // deterministic argmax: max of (votes, −label) structs ranks by
      // votes then by SMALLEST label on ties
      val winners = votes.groupBy($"dst")
        .agg(max(struct($"votes", (lit(0L) - $"label").as("nl"))).as("m"))
        .select($"dst", (lit(0L) - $"m.nl").as("wlabel"))
      val next = verts
        .join(sd, verts("v") === $"sv", "left")
        .join(winners, verts("v") === winners("dst"), "left")
        .join(labels.withColumnRenamed("v", "pv")
          .withColumnRenamed("label", "plabel"),
          verts("v") === $"pv", "left")
        .select(verts("v"),
          coalesce($"slabel", $"wlabel", $"plabel").as("label"))
      val pinned = Pin.iterative(next)
      Pin.release(labels) // always pinned here (the l0 frame is too)
      labels = pinned
    }
    labels.select($"v".as("doc_id"), $"label").orderBy($"doc_id")
  }

  /** Q123 — label propagation over the q114 link graph: every 17th
    * doc is an audited seed labeled doc_id mod 2 (two classes),
    * 4 rounds. (doc_id, label) with label NULL where no label ever
    * arrived.
    */
  def q123LabelProp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    labelPropagateTicks(
      linkEdges(spark, dir),
      Tables.load(spark, dir, "documents")
        .filter($"doc_id" % 17 === 0)
        .select($"doc_id".as("v"), ($"doc_id" % 2).as("label")),
      iters = 4)
  }

  /** DuckDB oracle for [[q123LabelProp]] — same clamp/vote/carry
    * rounds as chained CTEs, argmax via `row_number` over
    * (votes DESC, label ASC).
    */
  def labelPropOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s""" v$i AS (SELECT e.dst, p.label, CAST(sum(e.wt) AS BIGINT) AS votes
         |   FROM e JOIN l${i - 1} p ON p.v = e.src
         |   WHERE p.label IS NOT NULL GROUP BY e.dst, p.label),
         | w$i AS (SELECT dst, label FROM (
         |     SELECT dst, label, row_number() OVER
         |       (PARTITION BY dst ORDER BY votes DESC, label ASC) AS rn
         |     FROM v$i) WHERE rn = 1),
         | l$i AS (SELECT vv.v, coalesce(s.slabel, w.label, p.label) AS label
         |   FROM verts vv
         |   LEFT JOIN seeds s ON s.sv = vv.v
         |   LEFT JOIN w$i w ON w.dst = vv.v
         |   LEFT JOIN l${i - 1} p ON p.v = vv.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgeCtesSql,
       | e AS (SELECT src, dst, count(*)::BIGINT AS wt FROM ed
       |   GROUP BY src, dst),
       | verts AS (SELECT DISTINCT v FROM
       |   (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       | seeds AS (SELECT DISTINCT doc_id AS sv, doc_id % 2 AS slabel
       |   FROM documents WHERE doc_id % 17 = 0),
       | l0 AS (SELECT vv.v, s.slabel AS label FROM verts vv
       |   LEFT JOIN seeds s ON s.sv = vv.v),
       |$iterCtes
       |SELECT v AS doc_id, label FROM l$iters ORDER BY doc_id""".stripMargin
  }

  /** Jaccard pairs with integer weight ticks at the overflow-safe 1e3
    * scale: (doc_a, doc_b, wt = round(jac·1000)). The round happens on
    * the raw co/union double — the identical dag the oracle evaluates.
    */
  def jaccardWeightTicks(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.select($"doc_a", $"doc_b",
      round($"jac" * lit(1000.0), 0).cast("long").as("wt"))
  }

  /** Q112 — Jaccard-WEIGHTED similarity-graph PageRank over
    * `documents` at τ = 0.05, 5 exact-tick iterations: near-identical
    * neighborhoods concentrate rank harder than in q110.
    */
  def q112PageRankWeighted(spark: SparkSession, dir: String): DataFrame =
    pageRankTicksWeighted(
      jaccardWeightTicks(
        NearDup.jaccardPairs(Tables.load(spark, dir, "documents"), 0.05)),
      iters = 5)

  /** DuckDB oracle for [[q110PageRank]]: the q18 edge CTEs at the same
    * threshold, then the identical integer recurrence unrolled as
    * chained CTEs (fixed iteration count ⇒ no recursion needed — and
    * chained CTEs are portable where recursive-CTE aggregation rules
    * are not). `//` is DuckDB's floor division; the per-term
    * `CAST(... AS BIGINT)` collapses DuckDB's HUGEINT sum back to the
    * Long domain Spark computes in (values stay ≪ 2⁶³ by
    * construction: Σ ranks ≤ |V| · 1e6).
    */
  def oracleSql(minJaccard: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s""" r$i AS (SELECT e.dst AS v,
         |   150000 + (CAST(sum(p.r // deg.d) AS BIGINT) * 17) // 20 AS r
         |  FROM e JOIN r${i - 1} p ON p.v = e.src
         |         JOIN deg ON deg.v = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${NearDup.shingleCtesSql},
       | prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
       |   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |   GROUP BY 1, 2),
       | jacs AS (SELECT doc_a, doc_b
       |   FROM prs JOIN counts ca ON ca.doc_id = doc_a
       |            JOIN counts cb ON cb.doc_id = doc_b
       |   WHERE co::DOUBLE / (ca.n + cb.n - co) >= $minJaccard),
       | e AS (SELECT doc_a AS src, doc_b AS dst FROM jacs
       |   UNION ALL SELECT doc_b, doc_a FROM jacs),
       | deg AS (SELECT src AS v, count(*)::BIGINT AS d FROM e GROUP BY src),
       | r0 AS (SELECT v, 1000000::BIGINT AS r FROM deg),
       |$iterCtes
       |SELECT f.v AS doc_id, deg.d AS degree, f.r AS rank_ticks
       |FROM r$iters f JOIN deg ON deg.v = f.v
       |ORDER BY rank_ticks DESC, doc_id""".stripMargin
  }

  /** DuckDB oracle for [[q112PageRankWeighted]]: the q110 edge CTEs
    * plus 1e3-scale weight ticks on the raw co/union double (same
    * dag, same round), max-weight symmetric dedup, then the weighted
    * recurrence unrolled as chained CTEs. Per-term `(p.r * e.wt) //
    * ws.w` stays in BIGINT; only the sum needs the HUGEINT collapse.
    */
  def weightedOracleSql(minJaccard: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s""" r$i AS (SELECT e.dst AS v,
         |   150000 + (CAST(sum((p.r * e.wt) // ws.w) AS BIGINT) * 17) // 20 AS r
         |  FROM e JOIN r${i - 1} p ON p.v = e.src
         |         JOIN ws ON ws.v = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${NearDup.shingleCtesSql},
       | prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS co
       |   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |   GROUP BY 1, 2),
       | jacs AS (SELECT doc_a, doc_b,
       |     CAST(round(co::DOUBLE / (ca.n + cb.n - co) * 1000.0) AS BIGINT) AS wt
       |   FROM prs JOIN counts ca ON ca.doc_id = doc_a
       |            JOIN counts cb ON cb.doc_id = doc_b
       |   WHERE co::DOUBLE / (ca.n + cb.n - co) >= $minJaccard),
       | e0 AS (SELECT doc_a AS src, doc_b AS dst, wt FROM jacs
       |   UNION ALL SELECT doc_b, doc_a, wt FROM jacs),
       | e AS (SELECT src, dst, max(wt) AS wt FROM e0
       |   WHERE src <> dst GROUP BY src, dst),
       | ws AS (SELECT src AS v, sum(wt)::BIGINT AS w FROM e GROUP BY src),
       | r0 AS (SELECT v, 1000000::BIGINT AS r FROM ws),
       |$iterCtes
       |SELECT f.v AS doc_id, ws.w AS w_ticks, f.r AS rank_ticks
       |FROM r$iters f JOIN ws ON ws.v = f.v
       |ORDER BY rank_ticks DESC, doc_id""".stripMargin
  }

  /** BFS MIN-HOP depth from a seed set over directed edges — the
    * crawl-depth label of web curation: pages few clicks from a
    * trusted seed list are kept at higher priority (crawl-depth
    * quotas are a standard corpus-quality knob, and depth is the
    * scheduling tier a BFS crawler actually fetches in). Returns
    * (v, depth) for every vertex reachable within `maxRounds` hops
    * (seeds at depth 0); unreachable vertices are absent — depth is
    * a property of the reachable set, not a default.
    *
    * Frontier algorithm (the textbook distributed BFS): per round,
    * one src-keyed join of the CURRENT FRONTIER against the edge set
    * (never the full visited set — work per round is O(edges out of
    * the frontier), so total work is O(|E|) across all rounds, not
    * O(|E|·rounds)), one distinct, one anti-join against the visited
    * set. First touch IS min-hop because exploration is strictly
    * round-ordered. The loop exits early on an empty frontier (one
    * cheap existence probe per round on a pinned frame); both the
    * visited set and the frontier pin per round and release their
    * predecessors — O(1) rounds of storage, not O(rounds).
    *
    * Self-loops are dropped (they never change a depth); parallel
    * edges collapse in the distinct.
    */
  def bfsDepth(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val e = edges.select($"src", $"dst")
      .filter($"src" =!= $"dst").distinct()
      .transform(Pin.reuse)
    var dist = Pin.iterative(
      seeds.toDF("v").distinct().select($"v", lit(0L).as("depth")))
    var frontier = dist
    var exhausted = false
    for (r <- 1 to maxRounds if !exhausted) {
      val nxt = Pin.iterative(
        frontier.join(e, frontier("v") === e("src"))
          .select(e("dst").as("v")).distinct()
          .join(dist, Seq("v"), "left_anti")
          .select($"v", lit(r.toLong).as("depth")))
      if (nxt.isEmpty) { Pin.release(nxt); exhausted = true }
      else {
        val grown = Pin.iterative(dist.unionByName(nxt))
        if (!(frontier eq dist)) Pin.release(frontier)
        Pin.release(dist)
        dist = grown
        frontier = nxt
      }
    }
    if (!(frontier eq dist)) Pin.release(frontier)
    dist.orderBy($"v")
  }

  /** Q130 — crawl depth over the q113/q114 link graph from every 13th
    * doc as a seed (a small audited seed list, disjoint from the q120
    * trust seeds' rule): (doc_id, depth), reachable set only.
    */
  def q130CrawlDepth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bfsDepth(
      linkEdges(spark, dir),
      Tables.load(spark, dir, "documents")
        .select($"doc_id").filter($"doc_id" % 13 === 0),
      maxRounds = 8)
      .select($"v".as("doc_id"), $"depth")
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[q130CrawlDepth]] — a recursive-CTE walk
    * bounded at the same hop count; `UNION` (not `UNION ALL`) dedups
    * (v, d) states so the recursion terminates on cycles, and the
    * final `min(d)` collapses walk depths to min-hop — the oracle
    * checks the frontier algorithm against straight walk semantics,
    * the same adversarial pairing as the q124 doubling-vs-walk check.
    */
  def crawlDepthOracleSql(maxRounds: Int = 8): String =
    s"""WITH RECURSIVE $linkEdgeCtesSql,
       | e AS (SELECT DISTINCT src, dst FROM ed),
       | seeds AS (SELECT DISTINCT doc_id AS sv FROM documents
       |   WHERE doc_id % 13 = 0),
       | bfs(v, d) AS (
       |   SELECT sv, 0::BIGINT FROM seeds
       |   UNION
       |   SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.v
       |   WHERE bfs.d < $maxRounds)
       |SELECT v AS doc_id, min(d)::BIGINT AS depth FROM bfs
       |GROUP BY v ORDER BY doc_id""".stripMargin

  /** TRIANGLE COUNT + LOCAL CLUSTERING COEFFICIENT per vertex — the
    * community-structure signals of web/graph curation: a page whose
    * neighbors also link each other sits inside a genuine topical
    * community; a link-farm hub has thousands of neighbors that never
    * interlink (clustering ≈ 0) — the classic spam-vs-community
    * discriminator. Directed edges are symmetrized to a canonical
    * undirected edge set first. Returns (v, degree, n_triangles,
    * clustering_ticks) with clustering = 2·T·1e6 div (deg·(deg−1))
    * in exact integer ticks (0 when deg < 2).
    *
    * Scale shape — DEGREE-ORDERED ORIENTATION, the standard
    * distributed-triangle trick: orient every undirected edge from
    * the endpoint lower in the (degree, id) total order to the
    * higher, enumerate wedges by self-joining oriented edges on
    * their source, and close each wedge with one more oriented-edge
    * join. Each triangle a≺b≺c is counted exactly once (at its
    * minimum vertex). The payoff at 100 TB: a vertex's ORIENTED
    * out-degree is O(√|E|) regardless of its real degree — a
    * 10M-degree hub contributes no wedges from its low side — so the
    * wedge join is O(Σ d⁺(v)²) = O(|E|^1.5) worst case instead of
    * the unoriented Σ deg² blow-up, and the count is
    * orientation-invariant so the oracle's id-ordered SQL matches
    * bit-for-bit. Three shuffles total (degree agg, wedge join,
    * closing join) + one per-vertex partial agg; no windows, no
    * driver state.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val ue = edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
      .transform(Pin.reuse)
    val deg = ue.select($"a".as("v"))
      .unionByName(ue.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
      .transform(Pin.reuse)
    // (deg, v) is a TOTAL order (v unique), so ka ≠ kb always and the
    // orientation below is well-defined
    val o = ue
      .join(deg.select($"v".as("a"), struct($"deg", $"v").as("ka")), "a")
      .join(deg.select($"v".as("b"), struct($"deg", $"v").as("kb")), "b")
      .select(
        when($"ka" < $"kb", $"a").otherwise($"b").as("u"),
        when($"ka" < $"kb", $"b").otherwise($"a").as("w"),
        when($"ka" < $"kb", $"kb").otherwise($"ka").as("kw"))
      .transform(Pin.reuse)
    // wedge (x, y) out of u with kx < ky: the closing edge, if any,
    // is oriented x → y by transitivity of the total order
    val wedges = o.select($"u", $"w".as("x"), $"kw".as("kx"))
      .join(o.select($"u", $"w".as("y"), $"kw".as("ky")), Seq("u"))
      .filter($"kx" < $"ky")
      .select($"u", $"x", $"y")
    val tris = wedges
      .join(o.select($"u".as("x"), $"w".as("y")), Seq("x", "y"))
      .select($"u", $"x", $"y")
    val tc = tris.select($"u".as("v"))
      .unionByName(tris.select($"x".as("v")))
      .unionByName(tris.select($"y".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("n_triangles"))
    deg.join(tc, Seq("v"), "left")
      .select($"v", $"deg".as("degree"),
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .withColumn("clustering_ticks",
        when($"degree" >= 2,
          expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  /** Q131 — triangle/clustering profile of the symmetrized q113/q114
    * link graph: (doc_id, degree, n_triangles, clustering_ticks).
    */
  def q131Triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    triangleStats(linkEdges(spark, dir))
      .select($"v".as("doc_id"), $"degree", $"n_triangles",
        $"clustering_ticks")
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[q131Triangles]] — ID-ordered orientation
    * (a < b < c), which the count is invariant to, so the SQL is the
    * three-way canonical-edge join a textbook writes while Spark runs
    * the degree-ordered plan; same tick division.
    */
  def trianglesOracleSql: String =
    s"""WITH $linkEdgeCtesSql,
       | ue AS (SELECT DISTINCT least(src, dst) AS a,
       |     greatest(src, dst) AS b FROM ed WHERE src <> dst),
       | deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
       |     SELECT a AS v FROM ue UNION ALL SELECT b FROM ue)
       |   GROUP BY v),
       | tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |   FROM ue e1 JOIN ue e2 ON e2.a = e1.b
       |   JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
       | tv AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
       |   UNION ALL SELECT z FROM tri),
       | tc AS (SELECT v, count(*)::BIGINT AS nt FROM tv GROUP BY v)
       |SELECT d.v AS doc_id, d.deg AS degree,
       |  coalesce(tc.nt, 0)::BIGINT AS n_triangles,
       |  (CASE WHEN d.deg >= 2
       |    THEN (2 * coalesce(tc.nt, 0) * 1000000) // (d.deg * (d.deg - 1))
       |    ELSE 0 END)::BIGINT AS clustering_ticks
       |FROM deg d LEFT JOIN tc ON tc.v = d.v
       |ORDER BY doc_id""".stripMargin

  /** CO-CITATION similarity — the "related pages" signal of classic
    * web IR: two pages repeatedly linked BY the same sources are
    * about the same thing, whether or not they link each other (the
    * graph dual of the q129 content containment — similarity from how
    * the web CITES, not what the page says). Pairs (doc_a < doc_b)
    * share ≥ `minCoCiters` distinct citing pages; Jaccard over the
    * two in-link source sets in exact 1e-6 floor-division ticks.
    *
    * Scale shape: the inverted-index self-join keyed on the CITING
    * page (the q18/q122 postings shape — only pairs sharing a citer
    * materialize, never all-pairs), with the standard frequency cap
    * applied FIRST: a source citing more than `maxOutDeg` pages is a
    * directory/boilerplate navigation page — it contributes
    * O(outdeg²) join rows and near-zero signal, so it is dropped
    * before the join on both engines (the q122 `maxFpDomains` / df-
    * cut rationale). In-set sizes are computed on the capped edge
    * set, so the Jaccard is exactly the capped-universe Jaccard.
    * One pair-keyed partial agg; the per-doc in-count join AQE-
    * broadcasts while it fits.
    */
  def cocitationPairs(edges: DataFrame, maxOutDeg: Long = 10L,
      minCoCiters: Long = 2L): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select($"src", $"dst")
      .filter($"src" =!= $"dst").distinct()
    val od = e.groupBy($"src").agg(count(lit(1)).as("d"))
    val ke = e.join(od.filter($"d" <= maxOutDeg).select($"src"), "src")
      .transform(Pin.reuse)
    val nin = ke.groupBy($"dst").agg(count(lit(1)).as("n"))
    ke.select($"src", $"dst".as("doc_a"))
      .join(ke.select($"src", $"dst".as("doc_b")), "src")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("co_citers"))
      .filter($"co_citers" >= minCoCiters)
      .join(nin.select($"dst".as("doc_a"), $"n".as("na")), "doc_a")
      .join(nin.select($"dst".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b", $"co_citers",
        expr("(co_citers * 1000000) div (na + nb - co_citers)")
          .as("jaccard_ticks"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Q133 — co-citation pairs over the q113/q114 link graph. */
  def q133Cocitation(spark: SparkSession, dir: String): DataFrame =
    cocitationPairs(linkEdges(spark, dir))

  /** DuckDB oracle for [[q133Cocitation]] — same cap-first chain,
    * same directed co-counts, same floor division.
    */
  def cocitationOracleSql(maxOutDeg: Long = 10L,
      minCoCiters: Long = 2L): String =
    s"""WITH $linkEdgeCtesSql,
       | e AS (SELECT DISTINCT src, dst FROM ed),
       | od AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       | ke AS (SELECT e.src, e.dst FROM e JOIN od ON od.src = e.src
       |   WHERE od.d <= $maxOutDeg),
       | nin AS (SELECT dst, count(*)::BIGINT AS n FROM ke GROUP BY dst),
       | prs AS (SELECT a.dst AS da, b.dst AS db, count(*)::BIGINT AS co
       |   FROM ke a JOIN ke b ON a.src = b.src AND a.dst < b.dst
       |   GROUP BY 1, 2 HAVING count(*) >= $minCoCiters)
       |SELECT da AS doc_a, db AS doc_b, co AS co_citers,
       |  ((co * 1000000) // (na.n + nb.n - co))::BIGINT AS jaccard_ticks
       |FROM prs JOIN nin na ON na.dst = da JOIN nin nb ON nb.dst = db
       |ORDER BY doc_a, doc_b""".stripMargin

  /** K-CORE decomposition by synchronous peeling — the density prior
    * of graph curation: the k-core is the maximal subgraph where
    * every vertex keeps ≥ k neighbors, so tree-like tendrils and
    * weakly-attached pages peel away while genuinely interlinked
    * communities survive (link farms are notoriously core-dense,
    * isolated spam pages never reach the 2-core — both directions of
    * the signal matter). Synchronous rounds on the SYMMETRIZED edge
    * set: each round drops every edge with an endpoint of current
    * degree < k; exactly `rounds` rounds run on both engines (the
    * peeling is monotone, so a round after the fixpoint is a no-op —
    * the loop exits early when the edge count stops falling, which
    * cannot change the result). Returns (v, core_degree): vertices
    * still present after peeling with their within-core degree.
    *
    * Scale shape: per round ONE degree partial-agg + one semi-join
    * of the edge set against survivors (src side; the dst side rides
    * the same frame because the edge set is kept symmetric). Edge
    * frame pins per round, predecessor released — O(1) rounds of
    * storage. Rounds needed = peeling depth, O(log n) on real web
    * graphs (worst case a path peels from both ends).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    // canonical undirected, then SYMMETRIC representation: each
    // undirected edge appears in both orientations, so degree(v) is
    // a plain count over src = v and one survivor semi-join filters
    // both endpoints
    val ue = edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
    var e = Pin.iterative(
      ue.select($"a".as("src"), $"b".as("dst"))
        .unionByName(ue.select($"b".as("src"), $"a".as("dst"))))
    var nEdges = e.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val surv = e.groupBy($"src".as("v")).agg(count(lit(1)).as("d"))
        .filter($"d" >= k).select($"v")
      val next = Pin.iterative(
        e.join(surv.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
          .join(surv.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
          .select($"src", $"dst"))
      val n = next.count()
      if (n == nEdges) { Pin.release(next); converged = true }
      else { Pin.release(e); e = next; nEdges = n }
    }
    e.groupBy($"src".as("v")).agg(count(lit(1)).as("core_degree"))
  }

  /** Q134 — the 2-core of the symmetrized q113/q114 link graph after
    * 8 peeling rounds: (doc_id, core_degree).
    */
  def q134KCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kCore(linkEdges(spark, dir), k = 2, rounds = 8)
      .select($"v".as("doc_id"), $"core_degree")
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[q134KCore]] — the same synchronous peeling
    * as chained CTEs. Degrees come from WINDOW counts over the
    * symmetric edge list, so each round's CTE references its
    * predecessor exactly ONCE (a separate degree CTE would be a
    * second reference and CTE inlining would grow the plan 3^rounds —
    * the q121 scalar-subquery lesson applied here).
    */
  def kCoreOracleSql(k: Int = 2, rounds: Int = 8): String = {
    val iterCtes = (1 to rounds).map { i =>
      s""" e$i AS (SELECT src, dst FROM (
         |   SELECT src, dst,
         |     count(*) OVER (PARTITION BY src) AS ds,
         |     count(*) OVER (PARTITION BY dst) AS dd
         |   FROM e${i - 1})
         |  WHERE ds >= $k AND dd >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgeCtesSql,
       | ue AS (SELECT DISTINCT least(src, dst) AS a,
       |     greatest(src, dst) AS b FROM ed WHERE src <> dst),
       | e0 AS (SELECT a AS src, b AS dst FROM ue
       |   UNION ALL SELECT b, a FROM ue),
       |$iterCtes
       |SELECT src AS doc_id, count(*)::BIGINT AS core_degree
       |FROM e$rounds GROUP BY src ORDER BY doc_id""".stripMargin
  }

  /** LINK RECIPROCITY per page — the link-exchange detector: organic
    * links are overwhelmingly one-way (a page cites an authority; the
    * authority doesn't cite back), while "you link me, I link you"
    * schemes produce reciprocated edges, so a page whose out-links
    * are mostly reciprocated is a strong spam-farm candidate. Per
    * source page: distinct out-links, how many are reciprocated
    * (the reverse edge exists), and the reciprocity ratio in exact
    * 1e-6 floor-division ticks.
    *
    * Scale shape: ONE self-semi-join of the distinct edge set
    * against its own reversal (equi-keyed on (src, dst) — a plain
    * hash join, no inequality, no all-pairs) + two src-keyed partial
    * aggs that reuse the same shuffle key. No windows, no driver
    * state.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select($"src", $"dst")
      .filter($"src" =!= $"dst").distinct()
      .transform(Pin.reuse)
    val recip = e.join(
      e.select($"dst".as("src"), $"src".as("dst")),
      Seq("src", "dst"), "left_semi")
    e.groupBy($"src").agg(count(lit(1)).as("n_out"))
      .join(recip.groupBy($"src").agg(count(lit(1)).as("n_recip")),
        Seq("src"), "left")
      .select($"src", $"n_out",
        coalesce($"n_recip", lit(0L)).as("n_recip"))
      .withColumn("reciprocity_ticks",
        expr("(n_recip * 1000000) div n_out"))
  }

  /** Q135 — reciprocity profile of the q113/q114 link graph:
    * (doc_id, n_out, n_recip, reciprocity_ticks).
    */
  def q135Reciprocity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    reciprocity(linkEdges(spark, dir))
      .select($"src".as("doc_id"), $"n_out", $"n_recip",
        $"reciprocity_ticks")
      .orderBy($"doc_id")
  }

  /** DuckDB oracle for [[q135Reciprocity]] — same distinct edge set,
    * reversal via an IN-pair semi join, same floor division.
    */
  def reciprocityOracleSql: String =
    s"""WITH $linkEdgeCtesSql,
       | e AS (SELECT DISTINCT src, dst FROM ed),
       | rc AS (SELECT a.src, count(*)::BIGINT AS nr
       |   FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src
       |   GROUP BY a.src),
       | no AS (SELECT src, count(*)::BIGINT AS n FROM e GROUP BY src)
       |SELECT no.src AS doc_id, no.n AS n_out,
       |  coalesce(rc.nr, 0)::BIGINT AS n_recip,
       |  ((coalesce(rc.nr, 0) * 1000000) // no.n)::BIGINT
       |    AS reciprocity_ticks
       |FROM no LEFT JOIN rc ON rc.src = no.src
       |ORDER BY doc_id""".stripMargin

  /** CRAWL-BUDGET allocation by LARGEST-REMAINDER apportionment — the
    * step that turns a quality prior into a fetch schedule: a crawler
    * has `budget` fetch slots per cycle and every domain deserves a
    * share proportional to its rank. Floats would drift and rounding
    * naively breaks Σquota = budget; the largest-remainder method
    * (Hamilton apportionment) is exact in integers: base_i =
    * ⌊B·wᵢ/W⌋, then the B − Σbase leftover slots go to the largest
    * remainders (domain asc tie-break). Invariants (spec'd): quotas
    * sum to EXACTLY the budget, and every quota is the floor or
    * ceiling of the exact proportional share. Zero/negative-weight
    * rows are excluded by contract.
    *
    * Scale shape: one scalar total (1-row cross join, plan-side),
    * one partial-agg leftover scalar, and the remainder rank via
    * [[graft.core.Ranks.globalRowNumber]] — apportionment is
    * inherently a global order over remainders, but the rank runs as
    * a range-partitioned two-level row number ((rem desc, domain) is
    * total, so ranks are partition-invariant), never as the
    * single-reducer window that would funnel 100M+ domains through
    * one task. The weight table is pinned: it feeds the total, the
    * leftover, and the ranked output.
    */
  def crawlBudget(weights: DataFrame, budget: Long): DataFrame = {
    import weights.sparkSession.implicits._
    require(budget >= 0, "budget must be >= 0")
    val w = weights.toDF("domain", "wt").filter($"wt" > 0)
    val tot = w.agg(sum($"wt").as("W"))
    val based = w.crossJoin(tot)
      .withColumn("base", expr(s"($budget * wt) div W"))
      .withColumn("rem", expr(s"($budget * wt) % W"))
      .transform(Pin.reuse)
    val leftover = based.agg((lit(budget) - sum($"base")).as("L"))
    graft.core.Ranks.globalRowNumber(based.crossJoin(leftover),
        Seq($"rem".desc, $"domain"), "rk")
      .select($"domain", $"wt".as("weight"), $"base".as("base_quota"),
        when($"rk" <= $"L", 1L).otherwise(0L).as("extra"))
      .withColumn("quota", $"base_quota" + $"extra")
      .orderBy($"domain")
  }

  /** Q137 — 1000 fetch slots apportioned over the q116 domain rank. */
  def q137CrawlBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    crawlBudget(
      q116DomainRank(spark, dir).select($"domain", $"rank_ticks"),
      budget = 1000L)
  }

  /** DuckDB oracle for [[q137CrawlBudget]] — the full q116 oracle as
    * a subquery, then the same integer apportionment and window.
    */
  def crawlBudgetOracleSql(iters: Int = 5, budget: Long = 1000L): String =
    s"""WITH src AS (SELECT * FROM (${domainOracleSql(iters)}) _q116),
       | w AS (SELECT domain, rank_ticks AS wt FROM src WHERE rank_ticks > 0),
       | tot AS (SELECT sum(wt)::BIGINT AS W FROM w),
       | b AS (SELECT domain, wt, ($budget * wt) // W AS base,
       |     ($budget * wt) % W AS rem FROM w, tot),
       | l AS (SELECT $budget - sum(base)::BIGINT AS L FROM b),
       | r AS (SELECT domain, wt, base, rem,
       |     row_number() OVER (ORDER BY rem DESC, domain) AS rk FROM b)
       |SELECT domain, wt AS weight, base::BIGINT AS base_quota,
       |  (CASE WHEN rk <= l.L THEN 1 ELSE 0 END)::BIGINT AS extra,
       |  (base + CASE WHEN rk <= l.L THEN 1 ELSE 0 END)::BIGINT AS quota
       |FROM r, l ORDER BY domain""".stripMargin
}
