package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Privacy

/** INCREMENTAL T-CLOSENESS CENSUS under ingest (r15 verdict missing
  * #6, completing the streaming k/l/t trio beside [[StreamingCensus]])
  * — the t census compares each quasi group's SENSITIVE DISTRIBUTION
  * against the global one, and both are mergeable partial aggregates:
  * one state record per quasi group holds the group's sensitive-value
  * histogram, updated per micro-batch, emitting the group's refreshed
  * histogram snapshot (Update mode).
  *
  * Why the op emits HISTOGRAMS and not emd_ticks directly: EMD is
  * measured against the GLOBAL distribution, and every batch moves it
  * — a batch touching only group A changes group B's distance too, so
  * a per-group state transition cannot carry a final EMD. The census
  * therefore refreshes in two bounded steps: the stateful op maintains
  * and emits per-group histograms (state O(groups × sensitive
  * domain) — band a high-cardinality sensitive first, the batch
  * census convention), and [[censusOf]] folds the LATEST snapshots
  * into the exact [[Privacy.tCensusFromHist]] EMD census — a
  * histogram-sized recompute, never a corpus re-scan. Batch ≡ stream
  * across any micro-batch split, spec'd.
  *
  * ORDERING CONTRACT: the EMD is over the ORDERED sensitive domain,
  * and sensitive values ride as strings here — the encoding must
  * preserve the domain order (zero-pad numerics, or band to ordered
  * labels), or the distance is computed over the wrong ground metric.
  * NULL sensitive rows are EXCLUDED (the batch t census convention:
  * no position in the ordered domain), so all-NULL groups emit
  * nothing and conservatively suppress downstream, exactly like the
  * batch release.
  */
object StreamingTCensus {

  /** One observation: the encoded quasi combination and the
    * (non-NULL) sensitive value.
    */
  final case class Obs(quasi: String, sens: String)

  /** A group's refreshed histogram snapshot; `n` (the group's total
    * rows so far) only grows, so the max-n emission per group is the
    * newest — and it carries EVERY sensitive key seen (histograms
    * only accumulate), which is what lets [[censusOf]] reconstruct
    * the latest state per (group, sensitive) with one `max_by`.
    */
  final case class GroupHist(quasi: String, n: Long,
      counts: Map[String, Long])

  /** Encode (possibly streaming) `df` into observations — the
    * [[StreamingCensus.observations]] quasi-key convention, but
    * NULL-sensitive rows are dropped (they have no position in the
    * ordered domain — the batch census filters them identically).
    */
  def observations(df: DataFrame, quasiCols: Seq[String],
      sensitive: Column): Dataset[Obs] = {
    require(quasiCols.nonEmpty, "t-closeness needs quasi-identifiers")
    import df.sparkSession.implicits._
    df.filter(sensitive.isNotNull)
      .select(StreamingCensus.quasiKey(quasiCols),
        sensitive.cast("string").as("sens"))
      .as[Obs]
  }

  private def updateGroup(
      quasi: String, obs: Iterator[Obs],
      state: GroupState[StreamingCensus.SensHist]): Iterator[GroupHist] = {
    val merged = obs.foldLeft(
      state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])) {
      (m, o) => m.updated(o.sens, m.getOrElse(o.sens, 0L) + 1L)
    }
    if (merged.isEmpty) Iterator.empty
    else {
      state.update(StreamingCensus.SensHist(merged))
      Iterator(GroupHist(quasi, merged.valuesIterator.sum, merged))
    }
  }

  /** Wire the histogram maintenance onto a (possibly streaming)
    * Dataset[Obs]: Update-mode output, one refreshed snapshot per
    * touched group per micro-batch.
    */
  def apply(obs: Dataset[Obs]): Dataset[GroupHist] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.quasi)
      .flatMapGroupsWithState[StreamingCensus.SensHist, GroupHist](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        updateGroup)
  }

  /** Fold emitted snapshots into the refreshed t census: the latest
    * count per (group, sensitive) is the one from the group's max-n
    * emission (`max_by` — counts only grow and the newest snapshot
    * carries every key), then the exact batch EMD census runs over
    * that histogram. Bounded by groups × sensitive domain; no corpus
    * re-scan. Equals `Privacy.tClosenessCensus` over everything
    * ingested so far, keyed by the encoded quasi string.
    */
  def censusOf(emissions: Dataset[GroupHist], tTicks: Long): DataFrame = {
    require(tTicks >= 0, "t must be >= 0")
    val hist = emissions.toDF()
      .select(col("quasi"), col("n"), explode(col("counts"))
        .as(Seq("_sens", "_c")))
      .groupBy(col("quasi"), col("_sens"))
      .agg(max_by(col("_c"), col("n")).as("_cnt"))
    Privacy.tCensusFromHist(hist, Seq("quasi"), tTicks)
  }
}
