package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Run settings, parsed from the command line `run.py` builds. */
final case class Conf(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cpus: Int, work: String, data: String, hashes: String,
    traceOut: String, smoke: Boolean) {
  def dir(name: String): String = s"$work/$name"
}

/** Benchmark main: one workload per JVM. Prints a report line of the
  * workload's named metrics, then the result line (the last line of
  * stdout): correctness, ops attempted and failed, and the end-to-end
  * metrics (untraced) or the per-layer metrics (traced).
  */
object Main {

  /** End-to-end metrics, the same names on every workload; what each
    * one measures per workload is in perfbench/README.md.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "live_mem_mb" -> "MB", "p50_ms" -> "ms",
    "tail_ms" -> "ms", "rate_per_s" -> "1/s")

  /** Per-layer metrics: name, unit, and the end-to-end metric and
    * workload it should move. Every traced run reports all of them; a
    * layer the workload does not exercise reads 0. The query layers come
    * from the query slice every traced run adds ([[Analytics]]), whose
    * own end-to-end figures (`query_total_s`, `query_core_s`) are in the
    * report line.
    */
  val Layers: Seq[(String, String, String)] = {
    val ops = Seq("exec_s" -> "s", "jobs" -> "count", "stages" -> "count",
      "tasks" -> "count", "task_run_s" -> "s", "task_cpu_s" -> "s",
      "cpu_per_run" -> "ratio", "deser_s" -> "s", "gc_s" -> "s",
      "shuffle_write_mb" -> "MB", "fetch_wait_s" -> "s", "spill_mb" -> "MB")
    Seq(
      ("core.session_start_s", "s", "setup_s@all"),
      ("core.pin_mb", "MB", "query_total_s@query slice"),
      ("core.pinned_rdds", "count", "query_total_s@query slice"),
      ("SparkEntry.build_s.heavy", "s", "query_total_s@query slice"),
      ("SparkEntry.build_s.core", "s", "query_core_s@query slice"),
      ("SparkEntry.plan_s.heavy", "s", "query_total_s@query slice"),
      ("SparkEntry.plan_s.core", "s", "query_core_s@query slice")) ++
    (for (stratum <- Seq("heavy", "core"); (n, u) <- ops)
      yield (s"operators.$n.$stratum", u,
        if (stratum == "core") "query_core_s@query slice"
        else "query_total_s@query slice")) ++
    Seq(
      ("store.cache_gets", "count", "base of store.cache_hit_ratio"),
      ("store.cache_hit_ratio", "ratio", "get_p99_ms@serve"),
      ("store.cache_hit_us", "us", "get_p50_ms@serve"),
      ("store.cache_miss_ms", "ms", "get_p99_ms,max_ok_rps@serve"),
      ("store.bucket_loads", "count", "get_p99_ms@serve"),
      ("store.miss_jobs", "count", "get_p99_ms@serve"),
      ("store.endpoint_overhead_ms", "ms", "get_p50_ms@serve"),
      ("store.server_p99_ms", "ms", "max_ok_rps@serve"),
      ("store.bm25_search_ms", "ms", "search_p99_ms@serve"),
      ("store.bm25_lookups", "count", "base of store.bm25_hit_ratio"),
      ("store.bm25_hit_ratio", "ratio", "search_p99_ms@serve"),
      ("serve.generator_lag_ms", "ms", "validity check@serve"),
      ("streaming.batches", "count", "base of the per-batch metrics"),
      ("streaming.add_batch_ms", "ms", "batch_p50_ms@stream"),
      ("streaming.trigger_overhead_ms", "ms", "batch_p50_ms@stream"),
      ("streaming.jobs_per_batch", "count", "batch_p50_ms,events_per_s@stream"),
      ("streaming.tasks_per_batch", "count", "batch_p50_ms,events_per_s@stream"),
      ("streaming.task_run_s_per_batch", "s", "batch_p50_ms,events_per_s@stream"),
      ("streaming.batch_growth", "ratio", "batch_p90_ms@stream"),
      ("streaming.local1_events_per_s", "1/s", "reference only@stream"),
      ("store.versions", "count", "batch_p90_ms@stream"),
      ("store.manifest_kb", "KB", "batch_p90_ms@stream"),
      ("store.manifest_kb_last", "KB", "batch_p90_ms@stream"),
      ("store.write_bytes_per_event", "B/event", "events_per_s@stream"),
      ("store.buckets_rewritten_per_batch", "count",
        "batch_p50_ms@stream,get_p99_ms@serve"),
      ("store.space_amp", "ratio", "read/write trade-off@stream"),
      ("store.post_merge_get_ms", "ms", "get_p99_ms@serve"),
      ("pipeline.engineer_s", "s", "setup_s@stream"),
      ("store.ingest_s", "s", "setup_s@serve,stream"),
      ("pipeline.training_sql_s", "s", "setup_s@stream"),
      ("pipeline.train_s", "s", "setup_s@stream"),
      ("store.index_build_s", "s", "setup_s@serve")) ++
    EndToEnd.map { case (n, u) => (s"traced.$n", u, s"tracing overhead vs $n") }
  }

  private def parse(args: Array[String]): Conf = {
    val flags = Set("--smoke")
    val kv = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for ${args(i)}")
        kv(args(i)) = args(i + 1); i += 2
      }
    }
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Conf(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--cpus").toInt, get("--work"),
      get("--data"), get("--hashes"), get("--trace-out"),
      kv.contains("--smoke"))
  }

  /** The engine's session factory at `local[cpus]`, timed. */
  def session(cpus: Int): (SparkSession, Double) = {
    val (spark, s) = Stats.timed(graft.core.Sessions.local(
      cpus = cpus.toString, appName = "perfbench"))
    spark.sparkContext.setLogLevel("ERROR")
    (spark, s)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    Files.createDirectories(Paths.get(conf.work))
    val tracer = new Tracer(conf.trace)
    val (spark, startS) = session(conf.cpus)
    val out = new Outcome
    out.layer("core.session_start_s", startS, "s")
    val probe = new Probe(spark)
    // a workload that throws has no result: no result line, exit 1
    try {
      conf.workload match {
        case "serve" => Serve.run(spark, probe, tracer, conf, startS, out)
        case "stream" => Stream.run(spark, probe, tracer, conf, startS, out)
        case w => sys.error(s"unknown workload $w")
      }
      if (conf.trace) {
        Analytics.run(spark, probe, tracer, conf, out)
        if (conf.workload == "stream") out.layer("streaming.local1_events_per_s",
          Stream.local1EventsPerS(spark, conf), "1/s")
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
    report(conf, tracer, out)
  }

  private def report(conf: Conf, tracer: Tracer, out: Outcome): Unit = {
    out.failures.take(50).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    if (out.failures.size > 50)
      System.err.println(s"[perfbench] … ${out.failures.size - 50} more failures")
    val failed = math.min(out.failures.size.toLong, math.max(out.attempted, 1L))
    println(s"""{"report":${Out.str(conf.workload)},"named":${Out.metrics(out.named)},""" +
      s""""ops_failed_ratio":{"value":${Out.num(failed.toDouble / math.max(out.attempted, 1L))},""" +
      s""""failed":$failed,"attempted":${out.attempted}}}""")
    val e2e = out.endToEnd.map(m => m.name -> m).toMap
    val metrics =
      if (!conf.trace) EndToEnd.map { case (n, u) =>
        e2e.getOrElse(n, M(n, Double.NaN, u)) }
      else {
        e2e.values.foreach(m => out.layer(s"traced.${m.name}", m.value, m.unit))
        tracer.write(Paths.get(conf.traceOut,
          s"${conf.workload}-seed${conf.seed}.json"))
        println(s"""{"layer_targets":${Layers.map { case (n, _, t) =>
          s"${Out.str(n)}:${Out.str(t)}" }.mkString("{", ",", "}")}}""")
        Layers.map { case (n, u, _) => out.layers.getOrElse(n, M(n, 0.0, u)) }
      }
    val correct = out.failures.isEmpty && metrics.forall(m => !m.value.isNaN)
    println(s"""{"correct":$correct,"attempted":${math.max(out.attempted, 1L)},""" +
      s""""failed":$failed,"metrics":${Out.metrics(metrics)}}""")
  }
}
