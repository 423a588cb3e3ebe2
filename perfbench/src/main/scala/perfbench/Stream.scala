package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.regression.LinearRegressionModel
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.{FeatureEngineering, LoyaltyModel, TrainingDataset}
import graft.store.FeatureStore
import graft.streaming.InferencePipeline

/** `stream`: a closed loop of micro-batches. Seeded event files are
  * replayed through `InferencePipeline.run(..., useServing = true)`,
  * one file per trigger, against a store pre-loaded from a historical
  * split (features engineered, model trained from the offline store,
  * as `graft.Workflow` does). Events mix repeat keys, new keys (the
  * cold-start enrich path), out-of-order event times (newest-wins
  * MERGE) and malformed rows (the dead-letter sink). Every batch
  * commits one offline version, so per-commit cost that grows with
  * history shows in the late batches.
  */
object Stream {

  final case class Sizes(customers: Int, histEvents: Int, batchEvents: Int,
      batchesPerSecond: Double, setups: Int)

  private val Full = Sizes(customers = 5000, histEvents = 15000,
    batchEvents = 50, batchesPerSecond = 0.4, setups = 2)
  private val Smoke = Sizes(customers = 300, histEvents = 900,
    batchEvents = 40, batchesPerSecond = 0.5, setups = 1)

  val MalformedShare = 0.05
  val NewShare = 0.20
  val LateShare = 0.10
  private val T0 = 1704067200L // 2024-01-01T00:00:00Z, seconds

  private val eventSchema = StructType(Seq(
    StructField("customer_id", LongType),
    StructField("purchase_timestamp", TimestampType),
    StructField("purchase_value", DoubleType)))

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  final case class Ev(id: java.lang.Long, sec: java.lang.Long,
      value: java.lang.Double, kind: String) {
    def valid: Boolean = id != null && sec != null && value != null
    def row: Row = Row(id, if (sec == null) null else ts(sec.longValue), value)
  }

  /** Seeded history and event batches. */
  final class Inputs(seed: Long, z: Sizes, batches: Int) {
    private val rng = new SplittableRandom(seed)
    val history: Array[Row] = Array.tabulate(z.histEvents) { i =>
      Row(1L + rng.nextInt(z.customers), ts(T0 + 2L * i),
        round2(rng.nextDouble() * 200), round2(rng.nextDouble() * 10))
    }
    val batch: IndexedSeq[IndexedSeq[Ev]] = {
      var nextNew = z.customers + 1L
      var late = 0L
      var inOrder = T0 + 2L * z.histEvents + 10L
      val known = ArrayBuffer.range(1L, z.customers + 1L)
      (0 until batches).map { _ =>
        val evs = (0 until z.batchEvents).map { _ =>
          val u = rng.nextDouble()
          val value = java.lang.Double.valueOf(round2(rng.nextDouble() * 200))
          if (u < MalformedShare) {
            val id = java.lang.Long.valueOf(known(rng.nextInt(known.length)))
            inOrder += 1
            val sec = java.lang.Long.valueOf(inOrder)
            rng.nextInt(3) match {
              case 0 => Ev(null, sec, value, "malformed")
              case 1 => Ev(id, null, value, "malformed")
              case _ => Ev(id, sec, null, "malformed")
            }
          } else if (u < MalformedShare + NewShare) {
            nextNew += 1
            inOrder += 1
            Ev(nextNew - 1, inOrder, value, "new")
          } else {
            val id = known(rng.nextInt(known.length))
            if (u < MalformedShare + NewShare + LateShare) {
              // an odd second inside the history span: older than most
              // stored rows, and unique across the run
              late += 1
              Ev(id, T0 + 1L + 2L * ((late * 7919L) % z.histEvents), value, "late")
            } else {
              inOrder += 1
              Ev(id, inOrder, value, "repeat")
            }
          }
        }
        known ++= evs.filter(_.kind == "new").map(_.id.longValue)
        evs
      }
    }
  }

  private final case class Built(store: FeatureStore,
      model: LinearRegressionModel, dir: String)

  private def build(spark: SparkSession, tracer: Tracer, in: Inputs,
      dir: String): Built = {
    val histSchema = StructType(Seq(
      StructField("customer_id", LongType),
      StructField("purchase_timestamp", TimestampType),
      StructField("purchase_value", DoubleType),
      StructField("loyalty_score", DoubleType)))
    val hist = spark.createDataFrame(java.util.Arrays.asList(in.history: _*),
      histSchema)
    val feats = tracer.span("pipeline.engineer") {
      val f = FeatureEngineering.engineerFeatures(hist).persist()
      f.count(); f
    }
    val store = FeatureStore(spark, s"$dir/store", "customer_id",
      "purchase_timestamp")
    tracer.span("store.ingest")(store.ingestServing(feats))
    feats.unpersist()
    val train = tracer.span("pipeline.training_sql") {
      val t = TrainingDataset.build(spark, store).persist()
      t.count(); t
    }
    val model = tracer.span("pipeline.train")(LoyaltyModel.train(train))
    train.unpersist()
    writeBatches(spark, in, s"$dir/incoming")
    Built(store, model, dir)
  }

  /** One parquet file per batch, with increasing modification times so
    * the file source replays them in batch order.
    */
  private def writeBatches(spark: SparkSession, in: Inputs, dir: String): Unit = {
    val rdd = spark.sparkContext.parallelize(in.batch.map(_.map(_.row)),
      in.batch.length).flatMap(identity)
    spark.createDataFrame(rdd, eventSchema).write.parquet(s"$dir.tmp")
    val parts = new java.io.File(s"$dir.tmp").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == in.batch.length,
      s"expected ${in.batch.length} batch files, got ${parts.length}")
    new java.io.File(dir).mkdirs()
    val base = System.currentTimeMillis() - parts.length * 10000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(dir, f"batch-$i%05d.parquet")
      require(f.renameTo(dst), s"rename $f")
      dst.setLastModified(base + i * 10000L)
    }
  }

  private type State = mutable.Map[Long, Row]

  private def state(store: FeatureStore): State = {
    val m = mutable.Map.empty[Long, Row]
    val df = store.serving()
    df.select(FeatureEngineering.featureCols.map(df.col): _*).collect()
      .foreach(r => m(r.getLong(0)) = r)
    m
  }

  /** The model's score for one feature vector, as
    * `LinearRegressionModel.predict` evaluates it.
    */
  private def predict(m: LinearRegressionModel, f: Array[Double]): Double = {
    val c = m.coefficients.toArray
    var dot = 0.0
    for (i <- c.indices) dot += f(i) * c(i)
    dot + m.intercept
  }

  /** The features an event is scored on, enriched against `old`
    * (cold start: its own value, loyalty 0).
    */
  private def features(v: Double, old: Option[Row]): Array[Double] = old match {
    case Some(o) => Array(v, o.getDouble(3), o.getDouble(4))
    case None => Array(v, v, 0.0)
  }

  /** Event scores keyed by (customer id, event time in ms). */
  private type Scores = Map[(Long, Long), Double]

  /** Newest-wins replay of the batches over `init`, as the pipeline
    * specifies it: each valid event is enriched against the state
    * before its batch, scored, and merged; the newest event time per
    * key wins. Returns the final state, each event's score, and the
    * score each event would get if enriched against the state after
    * its batch's merge (the known sink defect, see [[run]]).
    */
  private def replay(init: State, batches: Seq[Seq[Ev]],
      model: LinearRegressionModel): (State, Scores, Scores) = {
    val st = init.clone()
    val scores = mutable.Map.empty[(Long, Long), Double]
    val postMerge = mutable.Map.empty[(Long, Long), Double]
    for (b <- batches) {
      val valid = b.filter(_.valid)
      val ups = valid.map { e =>
        val id = e.id.longValue
        val v = e.value.doubleValue
        val old = st.get(id)
        val p = predict(model, features(v, old))
        scores((id, e.sec.longValue * 1000L)) = p
        id -> (old match {
          case Some(o) => Row(id, ts(e.sec.longValue), v,
            (o.getDouble(3) + v) / 2, (o.getDouble(4) + p) / 2, p)
          case None => Row(id, ts(e.sec.longValue), v, v, p, p)
        })
      }
      for ((id, rs) <- ups.groupBy(_._1)) {
        val r = rs.map(_._2).maxBy(_.getTimestamp(1).getTime)
        if (st.get(id).forall(_.getTimestamp(1).getTime < r.getTimestamp(1).getTime))
          st(id) = r
      }
      for (e <- valid) postMerge((e.id.longValue, e.sec.longValue * 1000L)) =
        predict(model, features(e.value.doubleValue, st.get(e.id.longValue)))
    }
    (st, scores.toMap, postMerge.toMap)
  }

  /** Same row; scores may differ in the last bits (BLAS summation). */
  private def same(a: Row, b: Row): Boolean =
    a.length == b.length && a.toSeq.zip(b.toSeq).forall {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (x, y) => x == y
    }

  /** One trigger's progress: start (epoch ms), durations, batch id. */
  final case class Trigger(batchId: Long, startMs: Long, triggerMs: Double,
      addBatchMs: Double)

  final case class Replayed(triggers: Seq[Trigger], exec: Exec,
      writes: Seq[Write])

  /** Replays the batch files through the inference pipeline. */
  private def stream(spark: SparkSession, probe: Probe, tracer: Tracer,
      b: Built): Replayed = {
    import scala.jdk.CollectionConverters._
    probe.snap(); probe.progress.clear(); probe.writes.clear()
    val exec0 = probe.snap()
    val src = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"${b.dir}/incoming")
    tracer.span("streaming.run") {
      InferencePipeline.run(src, b.store, b.model, s"${b.dir}/scored",
        s"${b.dir}/dlq", s"${b.dir}/ckpt", useServing = true)
        .awaitTermination()
    }
    val exec = probe.snap() - exec0
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val triggers = probe.progress.asScala.toSeq.filter(_.numInputRows > 0)
      .sortBy(_.batchId).map(p => Trigger(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d(p, "triggerExecution"), d(p, "addBatch")))
    Replayed(triggers, exec, probe.writes.asScala.toSeq)
  }

  /** Valid events per second of wall time over `ts`, from the first
    * one's start to the last one's end.
    */
  private def eventsPerS(in: Inputs, ts: Seq[Trigger]): Double = {
    val valid = ts.map(t => in.batch(t.batchId.toInt).count(_.valid)).sum
    val wallMs = ts.last.startMs + ts.last.triggerMs - ts.head.startMs
    valid / (wallMs / 1e3)
  }

  def run(spark: SparkSession, probe: Probe, tracer: Tracer, conf: Conf,
      startS: Double, out: Outcome): Unit = {
    val z = if (conf.smoke) Smoke else Full
    // the first trigger pays the query's one-time start costs; it runs
    // and is checked, but the latency and rate figures skip it
    val nBatches = 1 + math.max(3, math.round(conf.seconds * z.batchesPerSecond).toInt)
    var in: Inputs = null
    val builds = (1 to z.setups).map { i =>
      Stats.timed {
        in = new Inputs(conf.seed, z, nBatches)
        build(spark, tracer, in, conf.dir(s"stream-setup$i"))
      }
    }
    val setupS = startS + Stats.median(builds.map(_._2))
    val b = builds.last._1
    val init = state(b.store)
    // read-after-merge probe: cache the buckets of keys the last batch
    // will merge, so the post-stream gets must reload them
    val cache = b.store.servingCache()
    val probeKeys = in.batch.last.filter(e => e.valid && e.kind == "repeat")
      .map(_.id.longValue).distinct.take(16)
    probeKeys.foreach(cache.get(_))
    val memSetup = Stats.liveMemMb()
    val r = stream(spark, probe, tracer, b)
    val mem = math.max(memSetup, Stats.liveMemMb())
    val measured = r.triggers.drop(1)
    val triggerMs = measured.map(_.triggerMs)
    val (getsMs, gotRows) = probeKeys.map { id =>
      val (row, s) = Stats.timed(cache.get(id))
      (s * 1e3, id -> row)
    }.unzip

    // output checks
    val events = in.batch.flatten
    out.attempted = events.length.toLong
    val scored = spark.read.parquet(s"${b.dir}/scored")
      .select("customer_id", "purchase_timestamp", "purchase_value",
        "predicted_loyalty_score").collect()
    val dlqDir = new java.io.File(s"${b.dir}/dlq")
    val dlq = if (dlqDir.exists) spark.read.parquet(dlqDir.getPath)
      .select("customer_id", "purchase_timestamp", "purchase_value").collect()
      else Array.empty[Row]
    def key(r: Row) = (Option(r.get(0)), Option(r.get(1)).map(_.toString),
      Option(r.get(2)))
    val sentValid = events.filter(_.valid).map(e => key(e.row))
    val sentBad = events.filterNot(_.valid).map(e => key(e.row))
    def diff(a: Seq[Any], b: Seq[Any]): Int = {
      val ca = a.groupBy(identity).view.mapValues(_.size).toMap
      val cb = b.groupBy(identity).view.mapValues(_.size).toMap
      (ca.keySet ++ cb.keySet).toSeq.map(k =>
        math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0))).sum
    }
    val scoredDiff = diff(scored.map(key).toSeq, sentValid)
    val dlqDiff = diff(dlq.map(key).toSeq, sentBad)
    (0 until scoredDiff).foreach(_ => out.fail("scored rows differ from the valid events sent"))
    (0 until dlqDiff).foreach(_ => out.fail("dead-letter rows differ from the malformed events sent"))
    val versions = b.store.offlineVersions.length
    out.check(versions == 1 + nBatches,
      s"offline versions $versions, expected ${1 + nBatches} (set-up + one per batch)")
    val (want, scores, postMerge) = replay(init, in.batch, b.model)
    val got = state(b.store)
    out.check(got.keySet == want.keySet,
      s"served keys ${got.size} vs replayed ${want.size}")
    for ((id, w) <- want; g <- got.get(id) if !same(g, w))
      out.fail(s"key $id served $g, newest-wins replay gives $w")
    for ((id, row) <- gotRows)
      out.check(row.exists(r => same(Row.fromSeq(r.toSeq.take(6)), want(id))),
        s"read-after-merge get of key $id returned $row, want ${want(id)}")
    // Sink scores. A known engine defect is reported but not counted as
    // a failure: the scored sink is written after the batch's serving
    // merge, whose write re-caches the scored plan, so a sink score may
    // be the one recomputed from the post-merge features instead of the
    // one the store upserted. Any other sink score is a failure.
    def near(p: Double, x: Double) = math.abs(p - x) <= 1e-9 * math.max(1.0, math.abs(p))
    var sinkScoreMismatch = 0
    for (s <- scored if s.get(0) != null && s.get(1) != null) {
      val k = (s.getLong(0), s.getTimestamp(1).getTime)
      val got = if (s.isNullAt(3)) Double.NaN else s.getDouble(3)
      if (!scores.get(k).exists(near(_, got))) {
        if (postMerge.get(k).exists(near(_, got))) sinkScoreMismatch += 1
        else out.fail(s"scored-sink row $k has score $got, want " +
          s"${scores.get(k)} (or ${postMerge.get(k)} from post-merge features)")
      }
    }
    if (sinkScoreMismatch > 0)
      System.err.println(s"[perfbench] known defect: $sinkScoreMismatch of " +
        s"${scored.length} scored-sink scores are the post-merge ones, not " +
        "the scores upserted")

    out.check(r.triggers.length == nBatches,
      s"${r.triggers.length} triggers with input, expected $nBatches")
    val bp50 = Stats.median(triggerMs)
    val bp90 = Stats.q(triggerMs, 0.9)
    val eps = eventsPerS(in, measured)
    val rss = Stats.peakRssMb()
    out.endToEnd ++= Seq(M("setup_s", setupS, "s"), M("live_mem_mb", mem, "MB"),
      M("p50_ms", bp50, "ms"), M("tail_ms", bp90, "ms"),
      M("rate_per_s", eps, "1/s"))
    def share(k: String) = events.count(_.kind == k).toDouble / events.length
    out.named ++= Seq(M("setup_s", setupS, "s"), M("live_mem_mb", mem, "MB"),
      M("peak_rss_mb", rss, "MB"), M("events_per_s", eps, "1/s"),
      M("batch_p50_ms", bp50, "ms"),
      M("batch_p90_ms", bp90, "ms"), M("batches", nBatches, "count"),
      M("measured_batches", measured.length, "count"),
      M("batch_events", z.batchEvents, "count"),
      M("events", events.length, "count"),
      M("valid_events", events.count(_.valid), "count"),
      M("malformed_share", share("malformed"), "ratio"),
      M("new_key_share", share("new"), "ratio"),
      M("late_share", share("late"), "ratio"),
      M("repeat_share", share("repeat"), "ratio"),
      M("versions_reached", versions, "count"),
      M("known_defect_sink_score_mismatch", sinkScoreMismatch, "count"),
      M("setup_customers", z.customers, "count"))

    val n = math.max(r.triggers.length, 1).toDouble
    val tenth = math.max(1, triggerMs.length / 10)
    out.layer("streaming.batches", measured.length, "count")
    out.layer("streaming.add_batch_ms", Stats.median(measured.map(_.addBatchMs)), "ms")
    out.layer("streaming.trigger_overhead_ms", Stats.median(
      measured.map(t => t.triggerMs - t.addBatchMs)), "ms")
    out.layer("streaming.jobs_per_batch", r.exec.jobs / n, "count")
    out.layer("streaming.tasks_per_batch", r.exec.tasks / n, "count")
    out.layer("streaming.task_run_s_per_batch", r.exec.runMs / 1e3 / n, "s")
    out.layer("streaming.batch_growth", Stats.ratio(
      Stats.median(triggerMs.takeRight(tenth)),
      Stats.median(triggerMs.take(tenth))), "ratio")
    val storeDir = new java.io.File(s"${b.dir}/store")
    val manifests = Option(new java.io.File(storeDir, "offline/_manifests")
      .listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".manifest"))
    out.layer("store.versions", versions, "count")
    out.layer("store.manifest_kb", manifests.map(_.length).sum / 1024.0, "KB")
    out.layer("store.manifest_kb_last", manifests.maxByOption(f =>
      f.getName.stripPrefix("v_").stripSuffix(".manifest").toLongOption
        .getOrElse(-1L)).map(_.length / 1024.0).getOrElse(0.0), "KB")
    val storeWrites = r.writes.filter(_.path.contains(storeDir.getName))
    out.layer("store.write_bytes_per_event",
      Stats.ratio(storeWrites.map(_.bytes).sum.toDouble,
        events.count(_.valid).toDouble), "B/event")
    out.layer("store.buckets_rewritten_per_batch",
      r.writes.filter(_.path.endsWith("/serving")).map(_.parts).sum / n, "count")
    out.layer("store.space_amp", Stats.ratio(Stats.dirBytes(storeDir).toDouble,
      Stats.dirBytes(new java.io.File(storeDir, "serving")).toDouble), "ratio")
    out.layer("store.post_merge_get_ms", Stats.median(getsMs), "ms")
    for (k <- Seq("pipeline.engineer", "store.ingest", "pipeline.training_sql",
        "pipeline.train"))
      out.layer(s"${k}_s", Stats.median(tracer.seconds(k)), "s")
  }

  /** Traced run only: the same replay on a one-core session, as a
    * single-thread reference (not gated). Stops the caller's session.
    */
  def local1EventsPerS(spark: SparkSession, conf: Conf): Double = {
    spark.stop()
    val (s1, _) = Main.session(1)
    try {
      val z = if (conf.smoke) Smoke else Full
      val in = new Inputs(conf.seed, z, 4)
      val b = build(s1, new Tracer(false), in, conf.dir("stream-local1"))
      eventsPerS(in, stream(s1, new Probe(s1), new Tracer(false), b).triggers.drop(1))
    } finally s1.stop()
  }
}
