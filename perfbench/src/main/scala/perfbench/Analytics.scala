package perfbench

import org.apache.spark.sql.SparkSession

import graft.{PartitionSweep, SparkEntry}

/** The query slice of a traced run: a fixed list of `SparkEntry.queries`
  * over the fixture tables, run once each in sorted order after one
  * warm-up query. It measures the query layers (`SparkEntry` build and
  * planning, `operators`, `core.Pin`) that the serving and streaming
  * workloads barely touch; their end-to-end gate is `graft.Bench`. Two
  * strata: `heavy` (executor, shuffle and Pin bound) and `core` (the
  * reference feature-store queries, bound by query build and planning).
  *
  * The timed action is `collect()`, not `graft.Bench`'s `count()`: the
  * collected rows are then hashed outside the timer, so every query's
  * output is checked without running it a second time. Results at the
  * fixture's scale are small, so the two actions cost about the same.
  */
object Analytics {

  /** Attribution and convergence cases the roadmap names: LM scoring,
    * PMI, duplicate clusters and label propagation. Bound by executors,
    * shuffle and `Pin`. (`q110_pagerank`, `q145_phrase_search` and the
    * queries at 1.5 s or more in BENCH_r17_c8.json are left out: with
    * them one pass takes over 75 s, longer than a run may last.)
    */
  val Heavy: Seq[String] = Seq("q54_lm_score", "q71_pmi",
    "q41_dup_clusters", "q123_label_prop").sorted

  /** The reference feature-store queries `q1_*` to `q15_*`, with
    * `q14b_udaf_fold` (the UDAF fold path).
    */
  val Core: Seq[String] = SparkEntry.queries.keys
    .filter(_.matches("q([1-9]|1[0-5])b?_.*")).toSeq.sorted

  private val Smoke = Seq("q1_scan_project", "q4_enrich_join", "q54_lm_score")

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def loadHashes(path: String, data: String): Map[String, String] = {
    val key = new java.io.File(data).getName
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    // {"<data dir name>": {"<query>": "<hash>", ...}, ...}
    val section = ("\"" + java.util.regex.Pattern.quote(key) +
      "\"\\s*:\\s*\\{([^}]*)\\}").r
    section.findFirstMatchIn(txt).map { m =>
      "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r.findAllMatchIn(m.group(1))
        .map(x => x.group(1) -> x.group(2)).toMap
    }.getOrElse(Map.empty)
  }

  private final case class Timing(name: String, heavy: Boolean, wallS: Double,
      buildS: Double, exec: Exec, pinB: Long, pinN: Int)

  private def dropPins(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, probe: Probe, tracer: Tracer, conf: Conf,
      out: Outcome): Unit = {
    val names = if (conf.smoke) Smoke else (Heavy ++ Core).sorted
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    val heavy = Heavy.toSet
    tracer.span("core.tables_load") {
      Tables.foreach(t => graft.core.Tables.load(spark, conf.data, t).count())
    }
    val expected = loadHashes(conf.hashes, conf.data)
    // warm-up, as graft.Bench does: JIT and codegen land on no query
    SparkEntry.queries(names.head)(spark, conf.data).count()
    dropPins(spark)

    val timings = names.map { n =>
      val fn = SparkEntry.queries(n)
      val e0 = probe.snap()
      val t0 = System.nanoTime()
      val (timing, rows, schema) = tracer.span("SparkEntry.query", n) {
        val df = tracer.span("SparkEntry.build", n)(fn(spark, conf.data))
        val t1 = System.nanoTime()
        val rows = tracer.span("operators.collect", n)(df.collect())
        val t2 = System.nanoTime()
        val (pb, pn) = probe.pinned()
        (Timing(n, heavy(n), (t2 - t0) / 1e9, (t1 - t0) / 1e9, Exec.zero, pb, pn),
          rows, df.schema)
      }
      val withExec = timing.copy(exec = probe.snap() - e0)
      dropPins(spark)
      // output check: the canonical hash of the collected rows
      val h = PartitionSweep.canonHash(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema))
      out.check(expected.get(n).contains(h), s"$n: result hash $h, " +
        s"expected ${expected.getOrElse(n, "<none recorded>")}")
      withExec
    }
    out.attempted += names.length

    out.named ++= Seq(M("query_total_s", timings.map(_.wallS).sum, "s"),
      M("query_core_s", timings.filterNot(_.heavy).map(_.wallS).sum, "s"),
      M("queries_heavy", names.count(heavy), "count"),
      M("queries_core", names.count(n => !heavy(n)), "count"))
    for (t <- timings) out.named += M(s"q.${t.name}", t.wallS, "s")

    for ((stratum, isHeavy) <- Seq("heavy" -> true, "core" -> false)) {
      val ts = timings.filter(_.heavy == isHeavy)
      def ex(f: Exec => Double) = ts.map(t => f(t.exec)).sum
      out.layer(s"SparkEntry.build_s.$stratum", ts.map(_.buildS).sum, "s")
      out.layer(s"SparkEntry.plan_s.$stratum", ex(_.planMs / 1e3), "s")
      out.layer(s"operators.exec_s.$stratum", ts.map(t => t.wallS - t.buildS).sum, "s")
      out.layer(s"operators.jobs.$stratum", ex(_.jobs.toDouble), "count")
      out.layer(s"operators.stages.$stratum", ex(_.stages.toDouble), "count")
      out.layer(s"operators.tasks.$stratum", ex(_.tasks.toDouble), "count")
      val run = ex(_.runMs / 1e3)
      val cpu = ex(_.cpuNs / 1e9)
      out.layer(s"operators.task_run_s.$stratum", run, "s")
      out.layer(s"operators.task_cpu_s.$stratum", cpu, "s")
      out.layer(s"operators.cpu_per_run.$stratum", Stats.ratio(cpu, run), "ratio")
      out.layer(s"operators.deser_s.$stratum", ex(_.deserMs / 1e3), "s")
      out.layer(s"operators.gc_s.$stratum", ex(_.gcMs / 1e3), "s")
      out.layer(s"operators.shuffle_write_mb.$stratum",
        ex(_.shuffleWriteB / 1048576.0), "MB")
      out.layer(s"operators.fetch_wait_s.$stratum", ex(_.fetchWaitMs / 1e3), "s")
      out.layer(s"operators.spill_mb.$stratum", ex(_.spillB / 1048576.0), "MB")
    }
    out.layer("core.pin_mb", timings.map(_.pinB).max / 1048576.0, "MB")
    out.layer("core.pinned_rdds", timings.map(_.pinN).max.toDouble, "count")
  }
}
