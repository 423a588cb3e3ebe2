package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pin, Tables}

/** Near-duplicate CLUSTER assignment — the step after pair detection
  * in a training-data dedup pipeline: near-dup pairs form a graph,
  * each connected component is one duplicate cluster, and the keeper
  * per cluster is the canonical representative (min doc_id). The
  * reference has no graph ops at all; at corpus scale this is the
  * standard "dedup by transitive closure" shape (a ∼ b ∼ c collapses
  * to one survivor even when a ≁ c directly).
  *
  * Components via iterative min-label propagation over DataFrames:
  * every vertex starts labeled with the min of its closed
  * neighborhood; each round joins labels across edges and takes the
  * per-vertex min; fixpoint when no label shrinks. Rounds = graph
  * diameter — near-dup clusters are shallow (pairs share text, so
  * clusters are dense and tiny), which makes plain propagation the
  * right cost at 100 TB: each round is one equi-join + one
  * partial-agg min, all shuffle-on-key, no driver-side graph. A
  * graph whose diameter exceeds `maxIter` fails with a named
  * `IllegalStateException` rather than returning split clusters;
  * large-star/small-star [Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14] halves diameter per round and is
  * the path if a workload ever needs long-diameter graphs.
  */
object DupClusters {

  /** (id, cluster_id) for every vertex of `edges`; cluster_id = the
    * minimum vertex reachable. `edges` is undirected (any
    * orientation) over vertices of ANY ordered type — numbers,
    * domains, URLs — so for string graphs the label doubles as the
    * component's canonical representative with no election pass.
    *
    * The result stays backed by the final round's pinned blocks
    * (|vertices-in-pairs| label rows); callers done with it may
    * release them. Every other pin is released before return, and
    * all of them, the labels included, when the loop throws.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    import edges.sparkSession.implicits._
    // pin the INPUT once before the symmetric union: both union
    // branches reference the edge subtree, and near-dup pair chains
    // (shingle joins, banded media hashes) are the expensive part —
    // unpinned, the whole upstream chain evaluated TWICE inside the
    // sym job (measured r13: q41 29.4 → 16.5 task-secs, q125
    // 4.6 → 2.9, q156 35.6 → 26.5 from this pin alone)
    val e = Pin.reuse(edges.toDF("src", "dst"))
    // symmetric closure once; propagation then only needs src→dst
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .transform(Pin.reuse)
    // seed labels with the 1-hop closed-neighborhood min — exactly
    // what round 1 of propagation would compute from identity labels,
    // for the price of the agg alone (no join): one round saved.
    // Pin.iterative cuts each round's lineage (the plan would
    // otherwise accrete every round's joins); LAZY, so the round's
    // convergence probe is also the action that materializes it — one
    // action per round, and none before round 1
    var labels = sym.groupBy($"src")
      .agg(min(least($"dst", $"src")).as("label"))
      .withColumnRenamed("src", "id")
      .transform(Pin.iterative(_, eager = false))
    var converged = false
    try {
      var iter = 0
      while (!converged && iter < maxIter) {
        // chg marks vertices whose label shrank this round: the probe
        // counts them, which needs no arithmetic on the label type
        val next = labels
          .join(
            sym.join(labels.select($"id".as("dst"), $"label".as("nl")), "dst")
              .groupBy($"src").agg(min($"nl").as("nl"))
              .withColumnRenamed("src", "id"),
            Seq("id"), "left")
          .select($"id", least($"label", coalesce($"nl", $"label")).as("label"),
            (coalesce($"nl", $"label") < $"label").cast("long").as("chg"))
          .transform(Pin.iterative(_, eager = false))
        try converged =
          next.agg(coalesce(sum($"chg"), lit(0L))).head().getLong(0) == 0L
        finally {
          // sym is materialized by round 1's probe, so the edge pin
          // has served its purpose (released after the first action
          // so a lazy cluster-mode persist still dedups the union's
          // two branches); Pin.release reaches the checkpoint-rooted
          // RDD where a bare Dataset.unpersist is a no-op
          if (iter == 0) Pin.release(e)
          Pin.release(labels)
          labels = next
        }
        iter += 1
      }
    } finally {
      Pin.release(e)
      Pin.release(sym)
      if (!converged) Pin.release(labels)
    }
    // an unconverged result is silently WRONG (split clusters, several
    // keepers per real component) — fail loudly instead of returning it
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "graph diameter exceeds the propagation budget; raise maxIter " +
          "or use a diameter-halving scheme (large-star/small-star)")
    labels.select($"id", $"label".as("cluster_id"))
  }

  /** The DuckDB side of [[connectedComponents]]: the recursive
    * transitive-closure CTEs `e` (both orientations of the `pairs`
    * CTE's (`a`, `b`) rows) and `reach` (id, r) — every vertex r
    * reachable from id, so `min(r)` per id is the cluster label.
    * Tractable in the oracles because dedup clusters are tiny; the
    * Spark side never materializes the closure. Needs `WITH RECURSIVE`.
    */
  def reachCtesSql(pairs: String = "np", a: String = "doc_a",
      b: String = "doc_b"): String =
    s"""e AS (SELECT $a AS s, $b AS d FROM $pairs
       |       UNION ALL SELECT $b, $a FROM $pairs),
       | reach AS (
       |   SELECT s AS id, s AS r FROM e
       |   UNION
       |   SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d)""".stripMargin

  /** Q41 — oracle-checked duplicate-cluster assignment over the
    * `documents` near-dup graph at τ = 0.5 (the q18 pair set):
    * (doc_id, cluster_id, is_keeper). DuckDB recomputes components
    * with a recursive transitive-closure CTE — feasible because
    * clusters are tiny; Spark never materializes the closure.
    */
  def q41DupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = NearDup.jaccardPairs(Tables.load(spark, dir, "documents"), 0.5)
      .select($"doc_a", $"doc_b")
    connectedComponents(pairs)
      .select($"id".as("doc_id"), $"cluster_id",
        ($"id" === $"cluster_id").as("is_keeper"))
      .orderBy($"doc_id")
  }

  /** Near-dup graph degree profile — the hub report that decides
    * which documents are template/boilerplate sources (high degree =
    * one text near-duplicated across many others): per-endpoint
    * degree and strongest similarity over the τ-thresholded pair
    * set. Pairs are pinned once (they feed both endpoint
    * projections); degrees are one union + one agg over |pairs|·2
    * rows — graph-sized, never corpus-sized.
    */
  def degreeProfile(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val p = pairs.transform(Pin.reuse)
    val ends = p.select($"doc_a".as("doc_id"), $"jac")
      .unionByName(p.select($"doc_b".as("doc_id"), $"jac"))
    ends.groupBy($"doc_id")
      .agg(count(lit(1)).as("degree"), round(max($"jac"), 6).as("max_jac"))
  }

  /** Q86 — degree profile of the τ=0.5 near-dup graph. */
  def q86DupDegrees(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    degreeProfile(
        NearDup.jaccardPairs(Tables.load(spark, dir, "documents"), 0.5))
      .orderBy($"doc_id")
  }
}
