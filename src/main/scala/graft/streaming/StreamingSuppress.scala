package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING K-SUPPRESSION — the hold-until-k gate (r15, the release
  * leg beside [[StreamingCensus]]'s audit leg): an event stream that
  * feeds a shared extract must not forward a row while its
  * quasi-identifier group is still small enough to re-identify, but
  * a batch re-suppression per release defeats streaming. The gate
  * BUFFERS each group's rows while the group is under `k`; the
  * moment the group reaches `k` it flushes the buffer and passes
  * every later row straight through — so a row is emitted exactly
  * when its group has (ever) reached k, and the released set after
  * any prefix of the stream equals `Privacy.kSuppress` over that
  * prefix (batch ≡ stream, spec'd across micro-batch splits).
  * Releases are FINAL (Append mode): k-anonymity only grows as
  * groups grow, so nothing emitted ever needs retraction.
  *
  * State: per group, a count plus AT MOST k−1 buffered payloads —
  * once a group crosses k the buffer empties forever, so total state
  * is O(groups × k), the gate's inherent price (you cannot release
  * the first row of a group before its k-th arrives without breaking
  * the guarantee). Keys ride as encoded strings with the engine's
  * NULL sentinel, so NULL quasi combinations buffer and release as
  * their own group, exactly like the batch release's null-safe join.
  */
object StreamingSuppress {

  /** One observation: the encoded quasi combination and an opaque
    * payload (the row id or body the gate forwards).
    */
  final case class Obs(quasi: String, payload: String)

  /** Per-group state: rows seen, and the under-k buffer. */
  final case class GroupBuf(n: Long, buffered: Seq[String])

  /** One released row. */
  final case class Released(quasi: String, payload: String)

  /** Encode (possibly streaming) `df` into observations — the
    * [[StreamingCensus.observations]] key convention.
    */
  def observations(df: DataFrame, quasiCols: Seq[String],
      payload: Column): Dataset[Obs] = {
    require(quasiCols.nonEmpty, "suppression needs quasi-identifiers")
    import df.sparkSession.implicits._
    df.select(
      concat_ws("\u0001", quasiCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0002"))): _*)
        .as("quasi"),
      payload.cast("string").as("payload"))
      .as[Obs]
  }

  private def updateGroup(k: Long)(
      quasi: String, obs: Iterator[Obs],
      state: GroupState[GroupBuf]): Iterator[Released] = {
    val prior = state.getOption.getOrElse(GroupBuf(0L, Nil))
    val incoming = obs.map(_.payload).toSeq
    val n = prior.n + incoming.size
    if (n >= k) {
      // crossed (or already past) k: flush anything buffered, pass
      // the batch through, and never buffer again
      state.update(GroupBuf(n, Nil))
      (prior.buffered ++ incoming).iterator
        .map(Released(quasi, _))
    } else {
      state.update(GroupBuf(n, prior.buffered ++ incoming))
      Iterator.empty
    }
  }

  /** Wire the gate onto a (possibly streaming) Dataset[Obs]: Append
    * output, one row per released payload, emitted in the micro-batch
    * where its group's count first reaches `k` (or on arrival for
    * already-safe groups).
    */
  def apply(obs: Dataset[Obs], k: Long): Dataset[Released] = {
    import obs.sparkSession.implicits._
    require(k >= 1, "k must be >= 1")
    obs.groupByKey(_.quasi)
      .flatMapGroupsWithState[GroupBuf, Released](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        updateGroup(k))
  }

  /** A timestamped observation for the TTL gate. */
  final case class ObsT(quasi: String, payload: String,
      ts: java.sql.Timestamp)

  /** One gated row: `released = true` is a normal release;
    * `released = false` is the DEAD-LETTER leg — the row's group
    * never reached k within the TTL, so its buffer expired to the
    * DLQ instead of being silently released (or silently leaked as
    * state forever). Route on the flag: the false rows go to the
    * quarantine sink, never the extract.
    */
  final case class Gated(quasi: String, payload: String,
      released: Boolean)

  private def updateGroupTtl(k: Long, ttlMs: Long)(
      quasi: String, obs: Iterator[ObsT],
      state: GroupState[GroupBuf]): Iterator[Gated] = {
    if (state.hasTimedOut) {
      val prior = state.getOption.getOrElse(GroupBuf(0L, Nil))
      if (prior.buffered.nonEmpty) {
        // an under-k buffer went stale: expire it to the DLQ and drop
        // ALL the group's state — a late k-th arrival starts a FRESH
        // group (the expired rows are in quarantine, not in the
        // release; re-admitting them would need a re-ingest)
        state.remove()
        prior.buffered.iterator.map(Gated(quasi, _, released = false))
      } else {
        // a stale timeout on a group that crossed k before it fired:
        // keep the pass-through state, register no new timeout
        state.update(prior)
        Iterator.empty
      }
    } else {
      val prior = state.getOption.getOrElse(GroupBuf(0L, Nil))
      val batch = obs.toSeq
      val n = prior.n + batch.size
      if (n >= k) {
        state.update(GroupBuf(n, Nil))
        (prior.buffered ++ batch.map(_.payload)).iterator
          .map(Gated(quasi, _, released = true))
      } else {
        state.update(GroupBuf(n, prior.buffered ++ batch.map(_.payload)))
        // the TTL clock is event time: expire when the watermark
        // passes the group's newest event + ttl (the set point must
        // sit past the current watermark or Spark rejects it)
        val maxTs = batch.map(_.ts.getTime).max
        state.setTimeoutTimestamp(
          math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1L))
        Iterator.empty
      }
    }
  }

  /** The hold-until-k gate with an EVENT-TIME TTL (r15 ADVICE #3 /
    * verdict next-round #8): the plain gate buffers an under-k
    * group's payloads FOREVER by design — on a long-lived stream
    * with a fine quasi key that state is unbounded in group count,
    * each stuck group pinning up to k−1 full payloads. This variant
    * expires a buffer whose group has seen nothing for `ttlMs` of
    * event time: the buffered rows emit on the DEAD-LETTER leg
    * (`released = false` — never silently released, never silently
    * dropped) and the group's state is removed, so a late arrival
    * starts a fresh group. Crossed-k groups keep their O(1) count
    * state and pass through forever, exactly like the plain gate.
    *
    * The released-true prefix still equals `Privacy.kSuppress` over
    * the NON-EXPIRED rows; expiry deliberately trades the exact
    * whole-prefix equivalence for bounded payload state — the DLQ is
    * the audit trail of that trade. `watermarkDelay` is the usual
    * lateness allowance applied to `ts` before the stateful gate.
    */
  def withTtl(obs: Dataset[ObsT], k: Long, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Gated] = {
    import obs.sparkSession.implicits._
    require(k >= 1, "k must be >= 1")
    require(ttlMs > 0, "ttl must be positive")
    obs.withWatermark("ts", watermarkDelay)
      .groupByKey(_.quasi)
      .flatMapGroupsWithState[GroupBuf, Gated](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        updateGroupTtl(k, ttlMs))
  }
}
