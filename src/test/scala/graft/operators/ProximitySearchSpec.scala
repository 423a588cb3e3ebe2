package graft.operators

import graft.SparkSpec

class ProximitySearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private def terms(qid: Long, ts: String*) =
    ts.zipWithIndex.map { case (t, i) =>
      (qid, i.toLong, NearDup.tokenHash64(t))
    }.toDF("query_id", "qpos", "th")

  private def run(d: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame, w: Int) =
    Retrieval.proximitySearch(d, q, w)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap

  test("window boundary is exact: terms window-1 apart match, one " +
      "further apart do not") {
    val d = docs(
      1L -> "x a b c y", // a..y: a at 2, y at 5 — span 4 within w=4
      2L -> "x a b c d y") // a at 2, y at 6 — span 5, out at w=4
    val got = run(d, terms(1L, "a", "y"), 4)
    assert(got.contains((1L, 1L)))
    assert(!got.contains((1L, 2L)))
  }

  test("order-free: a scrambled phrase matches proximity where exact " +
      "phrase search rejects it") {
    val d = docs(1L -> "z fox brown quick z")
    val q = terms(9L, "quick", "brown", "fox")
    assert(run(d, q, 8).contains((9L, 1L)))
    val phrase = Retrieval.phraseSearch(d, q)
      .as[(Long, Long, Long, Long)].collect()
    assert(phrase.isEmpty)
  }

  test("starts anchor at term hits: n_starts counts qualifying " +
      "anchors and first_pos is the earliest") {
    // "a b" within w=3 over "a b z a z b": qualifying anchors are
    // every term occurrence whose 3-window still covers both terms
    val d = docs(1L -> "a b z a z b")
    val got = run(d, terms(2L, "a", "b"), 3)
    // anchors: pos1 a ([1,3] has a,b), pos2 b? [2,4] has b,a — yes,
    // pos4 a ([4,6] has a,b), pos6 b ([6,8] only b) no, pos3? not a hit
    assert(got((2L, 1L)) === ((3L, 1L)))
  }

  test("duplicate terms in the query collapse to the distinct set") {
    val d = docs(1L -> "p q r")
    val q = terms(3L, "p", "p", "q")
    assert(run(d, q, 3).contains((3L, 1L)))
  }

  test("binned band join bounds evaluation: a planted stop-term doc " +
      "evaluates ≤ 2·W·|hits| candidate pairs, not |hits|²") {
    val h = 256
    val w = 8
    val d = docs(1L -> Seq.fill(h)("stop").mkString(" "))
    val q = terms(5L, "stop")
    // the result is exact: every start's window holds the term
    val got = run(d, q, w)
    assert(got((5L, 1L)) === ((h.toLong, 1L)))
  }

  test("dfCap drops stop terms from the query on both the hit and " +
      "coverage sides; an all-cut query vanishes") {
    val flood = (1L to 30L).map(i => i -> "the a the")
    val d = docs(flood :+ (100L -> "rare b the"): _*)
    // 'the' df=31 > cap 10; 'rare' df=1
    val cut = Retrieval.proximitySearch(d, terms(5L, "rare", "the"), 4,
        dfCap = 10L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val bare = run(d, terms(5L, "rare"), 4)
    assert(cut === bare)
    assert(Retrieval.proximitySearch(d, terms(6L, "the"), 4, dfCap = 10L)
      .count() === 0L)
  }

  test("index-served proximity ≡ fresh scan through re-landed " +
      "duplicate posting rows") {
    val d = docs(1L -> "x a b c y", 2L -> "x a b c d y")
    val q = terms(1L, "a", "y")
    val post = Retrieval.positionalPostings(d)
    val relanded = post.union(post.limit(4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "doc_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows(Retrieval.proximitySearchFromIndex(relanded, q, 4)) ===
      rows(Retrieval.proximitySearch(d, q, 4)))
  }
}
