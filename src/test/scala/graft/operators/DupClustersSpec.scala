package graft.operators

import org.apache.spark.sql.functions.sum

import graft.SparkSpec

class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    DupClusters.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("components: chain, triangle, isolated pair, transitive merge") {
    val got = cc(Seq(
      (1L, 2L), (2L, 3L),           // chain → component 1
      (10L, 11L),                   // pair → component 10
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle → component 20
      (3L, 4L)))                    // extends the chain
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("long path converges (propagation needs diameter rounds)") {
    val n = 12L
    val got = cc((1L until n).map(i => (i, i + 1)))
    assert(got == (1L to n).map(_ -> 1L).toMap)
  }

  test("edge orientation irrelevant; duplicate edges harmless") {
    val a = cc(Seq((5L, 9L), (9L, 5L), (5L, 9L), (7L, 9L)))
    assert(a == Map(5L -> 5L, 9L -> 5L, 7L -> 5L))
  }

  test("connectedComponentsOrdered: string vertices, numeric agreement") {
    // string graph: label = lexicographic min of the component
    val s = DupClusters.connectedComponents(Seq(
        ("m.com", "b.com"), ("b.com", "z.com"), ("q.io", "p.io"))
        .toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(s == Map("b.com" -> "b.com", "m.com" -> "b.com",
      "z.com" -> "b.com", "p.io" -> "p.io", "q.io" -> "p.io"))
    // numeric graphs label by the numeric (not the string) order
    assert(cc(Seq((9L, 10L), (10L, 100L), (30L, 4L))) ==
      Map(9L -> 9L, 10L -> 9L, 100L -> 9L, 30L -> 4L, 4L -> 4L))
  }

  test("connectedComponentsOrdered: long path needs diameter rounds") {
    // a 12-chain of zero-padded strings — sorts like the numbers, and
    // forces the changed-count probe through ~diameter true rounds
    val got = DupClusters.connectedComponents(
        (1 until 12).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
          .toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == (1 to 12).map(i => f"v$i%03d" -> "v001").toMap)
  }

  test("components release every pin but the result's, on success " +
      "and when the round budget runs out") {
    def leaked(call: => Unit): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      call
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    // a 12-chain needs more rounds than the budget: the named error,
    // and no pin left behind
    var err: IllegalStateException = null
    assert(leaked {
      err = intercept[IllegalStateException](DupClusters.connectedComponents(
        (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst"), maxIter = 3))
    }.isEmpty)
    assert(err.getMessage.contains("did not converge in 3 rounds"))
    var got: org.apache.spark.sql.DataFrame = null
    val kept = leaked {
      got = DupClusters.connectedComponents(
        Seq(("m.com", "b.com"), ("b.com", "z.com")).toDF("src", "dst"))
    }
    // the result reads the final round's pinned labels and nothing else
    val needed = got.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(kept.subsetOf(needed), s"leaked $kept, result reads $needed")
    assert(got.count() == 3L)
  }

  test("components run no probe job before round 1: a graph whose seed " +
      "labels are the fixpoint costs the two pins and one round") {
    // star around the minimum plus a triangle: every vertex's closed
    // neighborhood already holds its component's minimum
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val jobs = countJobs(DupClusters.connectedComponents(edges): Unit)
    // under this session's adaptive execution: the eager edge and sym
    // pins plus round 1, whose changed-count probe materializes the
    // seed labels too. A separate probe before round 1 (an aggregate
    // over the seed labels) would add its shuffle-map and result jobs
    assert(jobs == 9, s"$jobs jobs")
  }

  test("q41 shape: keeper iff min of cluster; clusters are q18 pairs' closure") {
    val q = DupClusters.q41DupClusters(spark, sf).cache()
    val rows = q.collect()
    // every cluster's keeper is its min doc_id, exactly one per cluster
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rs) =>
      assert(rs.map(_.getLong(0)).min == cid)
      assert(rs.count(_.getBoolean(2)) == 1)
    }
    // doc ids in clusters = doc ids in the pair set
    val inPairs = NearDup.jaccardPairs(
      graft.core.Tables.load(spark, sf, "documents"), 0.5)
      .select($"doc_a").union(
        NearDup.jaccardPairs(
          graft.core.Tables.load(spark, sf, "documents"), 0.5).select($"doc_b"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == inPairs)
    q.unpersist(); ()
  }

  test("q86 degree profile: handshake sum and endpoint coverage") {
    val pairs = NearDup.jaccardPairs(
      graft.core.Tables.load(spark, sf, "documents"), 0.5).cache()
    val deg = DupClusters.degreeProfile(pairs).cache()
    // handshake lemma: Σ degree = 2·|pairs|
    assert(deg.agg(sum($"degree")).head().getLong(0) == 2 * pairs.count())
    // every endpoint appears, with degree ≥ 1 and max_jac ≥ τ
    assert(deg.filter($"degree" < 1L || $"max_jac" < 0.5).isEmpty)
    val endpoints = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b")).distinct().count()
    assert(deg.count() == endpoints)
  }
}
