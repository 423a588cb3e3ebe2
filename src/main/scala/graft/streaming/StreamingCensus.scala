package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** INCREMENTAL K-ANONYMITY / L-DIVERSITY CENSUS under ingest (r14
  * verdict missing #7) — the streaming leg of
  * [[graft.operators.Privacy.kAnonymityCensus]]: a release gate that
  * re-scans the whole corpus per release does not survive a corpus
  * that grows by the hour, but group count and sensitive diversity
  * are MERGEABLE partial aggregates, so the census maintains itself:
  * one state record per quasi-identifier group holding the group's
  * sensitive-value histogram, updated per micro-batch, emitting the
  * group's refreshed census row (Update mode — the standing-index
  * maintenance pattern).
  *
  * State size: O(groups × distinct sensitive values per group) — the
  * l-diversity DOMAIN, not the row count; a census whose sensitive
  * attribute is high-cardinality should band it first (exactly what
  * the q175 fixture does with spend bands). Keys and sensitive
  * values ride as strings with the engine's NULL sentinel, so NULL
  * quasi combinations form their own linkable group and a NULL
  * sensitive value counts as one value — identical to the batch
  * census (batch ≡ stream across any micro-batch split, spec'd).
  */
object StreamingCensus {

  /** One observation: the quasi-identifier combination (encoded) and
    * the sensitive value.
    */
  final case class Obs(quasi: String, sens: String)

  /** Per-group state: the sensitive-value histogram. */
  final case class SensHist(counts: Map[String, Long])

  /** One census row, keyed by the encoded quasi combination. */
  final case class Census(quasi: String, group_n: Long, l_div: Long,
      k_risk: Boolean, l_risk: Boolean)

  /** Encode (possibly streaming) `df` into observations with the
    * noise-seam convention: quasi columns joined on U+0001 with
    * NULLs as U+0002 (so NULL groups stay distinct from empty strings), the
    * sensitive value stringified with the same sentinel.
    */
  def observations(df: DataFrame, quasiCols: Seq[String],
      sensitive: Column): Dataset[Obs] = {
    require(quasiCols.nonEmpty, "census needs quasi-identifiers")
    import df.sparkSession.implicits._
    df.select(quasiKey(quasiCols),
      coalesce(sensitive.cast("string"), lit("\u0002")).as("sens"))
      .as[Obs]
  }

  /** The `quasi` key of every streaming privacy operator: the quasi
    * columns joined on U+0001, NULLs as U+0002.
    */
  private[streaming] def quasiKey(quasiCols: Seq[String]): Column =
    concat_ws("\u0001", quasiCols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0002"))): _*).as("quasi")

  private def updateGroup(k: Long, l: Long)(
      quasi: String, obs: Iterator[Obs],
      state: GroupState[SensHist]): Iterator[Census] = {
    val merged = obs.foldLeft(
      state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])) {
      (m, o) => m.updated(o.sens, m.getOrElse(o.sens, 0L) + 1L)
    }
    if (merged.isEmpty) Iterator.empty
    else {
      state.update(SensHist(merged))
      val n = merged.valuesIterator.sum
      val lDiv = merged.size.toLong
      Iterator(Census(quasi, n, lDiv, n < k, lDiv < l))
    }
  }

  /** Wire the census onto a (possibly streaming) Dataset[Obs]:
    * Update-mode output, one refreshed census row per touched group
    * per micro-batch. The LAST row per quasi key is the group's
    * current census — identical to the batch census over everything
    * ingested so far.
    */
  def apply(obs: Dataset[Obs], k: Long, l: Long): Dataset[Census] = {
    import obs.sparkSession.implicits._
    require(k >= 1 && l >= 1, "k and l must be >= 1")
    obs.groupByKey(_.quasi)
      .flatMapGroupsWithState[SensHist, Census](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        updateGroup(k, l))
  }
}
