package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Random

import graft.SparkSpec
import graft.operators.StateFold

/** Property-style checks (SURVEY.md §5.2-3) over seeded random cases:
  * latest-view newest-wins under arbitrary batch splits, append-only
  * history, and replay-determinism of the order-dependent fold.
  * (Plain seeded generation — the scalatest/scalacheck bridge isn't in
  * the offline dependency cache.)
  */
class StorePropertySpec extends SparkSpec {
  import spark.implicits._

  private def toDf(rows: List[(Long, Int, Double)]) =
    rows.map { case (k, t, v) =>
      (k, new Timestamp(1704067200000L + t * 1000L), v)
    }.toDF("customer_id", "purchase_timestamp", "avg_purchase_value")

  test("property: latest view == newest-wins fold, for random rows and batch splits") {
    val rnd = new Random(42)
    (1 to 8).foreach { _ =>
      // unique (key, ts) pairs so newest-wins is well-defined within a batch
      val rows = rnd.shuffle(
        (for (k <- 1L to 5L; t <- 0 until 20) yield (k, t)).toList)
        .take(1 + rnd.nextInt(25))
        .map { case (k, t) => (k, t, rnd.nextDouble() * 100) }
      val nBatches = 1 + rnd.nextInt(3)
      val fs = FeatureStore(spark,
        Files.createTempDirectory("fs-prop").toString,
        "customer_id", "purchase_timestamp")
      val batches = rows.grouped(
        math.max(1, (rows.size + nBatches - 1) / nBatches)).toList
      batches.foreach(b => fs.putRecords(toDf(b)))
      // expected: per key, max (ts, batch index) wins
      val expected = batches.zipWithIndex
        .flatMap { case (b, i) => b.map { case (k, t, v) => (k, t, i, v) } }
        .groupBy(_._1)
        .map { case (k, rs) => k -> rs.maxBy(r => (r._2, r._3))._4 }
      val got = fs.latestView().collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got == expected, s"rows=$rows batches=${batches.size}")
      assert(fs.offline().count() == rows.size) // append-only history
    }
  }

  test("property: the pairwise fold is replay-deterministic and bounded by min/max") {
    val rnd = new Random(7)
    (1 to 50).foreach { _ =>
      val vs = List.fill(1 + rnd.nextInt(30))(rnd.nextDouble() * 200 - 100)
      val a = StateFold.foldValues(vs)
      assert(a == StateFold.foldValues(vs))
      assert(a >= vs.min - 1e-9 && a <= vs.max + 1e-9)
    }
  }

  test("property: random interleavings of puts and forgets match a " +
      "driver-side model (history content AND latest view)") {
    val rnd = new Random(20260816L)
    (1 to 5).foreach { round =>
      val fs = FeatureStore(spark,
        Files.createTempDirectory("fs-forget-prop").toString,
        "customer_id", "purchase_timestamp")
      // model rows: (key, t, batchIdx, value); a forget drops every
      // row of the key so far — later puts may re-land it
      var hist = List.empty[(Long, Int, Int, Double)]
      var batchIdx = 0
      var tCounter = 0
      for (_ <- 1 to 8) {
        if (rnd.nextDouble() < 0.35 && hist.nonEmpty) {
          val k = hist(rnd.nextInt(hist.size))._1
          fs.forgetKeys(Seq(k))
          hist = hist.filterNot(_._1 == k)
        } else {
          val rows = (1 to 1 + rnd.nextInt(5)).map { _ =>
            tCounter += 1
            (1L + rnd.nextInt(4).toLong, tCounter, rnd.nextDouble() * 100)
          }.toList
          fs.putRecords(toDf(rows))
          hist = hist ++ rows.map { case (k, t, v) => (k, t, batchIdx, v) }
          batchIdx += 1
        }
      }
      val expectedLatest = hist.groupBy(_._1)
        .map { case (k, rs) => k -> rs.maxBy(r => (r._2, r._3))._4 }
      val gotLatest = fs.latestView().collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(gotLatest === expectedLatest, s"round $round")
      // history content, not just count: every surviving (key, value)
      val expectedHist = hist.map(r => (r._1, r._4)).sorted
      val gotHist = fs.offline()
        .select($"customer_id", $"avg_purchase_value")
        .as[(Long, Double)].collect().toSeq.sorted
      assert(gotHist === expectedHist, s"round $round")
      // the online store — the bucket layout every putRecords merges
      // into and every forget rewrites — agrees with the model too
      val gotOnline = fs.online().collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(gotOnline === expectedLatest, s"round $round")
    }
  }
}
