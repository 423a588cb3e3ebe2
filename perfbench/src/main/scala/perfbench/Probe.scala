package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals at one instant; differences of two snapshots
  * give the work one phase launched.
  */
final case class Exec(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuNs: Long, deserMs: Long, gcMs: Long, shuffleWriteB: Long,
    fetchWaitMs: Long, spillB: Long, planMs: Long) {
  def -(o: Exec): Exec = Exec(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, deserMs - o.deserMs,
    gcMs - o.gcMs, shuffleWriteB - o.shuffleWriteB,
    fetchWaitMs - o.fetchWaitMs, spillB - o.spillB, planMs - o.planMs)
}

object Exec {
  val zero: Exec = Exec(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** One file write a Spark command made: target path, dynamic
  * partitions written, and bytes.
  */
final case class Write(path: String, parts: Long, bytes: Long)

/** Counters the benchmark reads from Spark's own listener buses: a
  * [[SparkListener]] for jobs, stages and task metrics, a
  * [[QueryExecutionListener]] for planning time and file writes, and a
  * [[StreamingQueryListener]] for per-trigger progress. Registered by
  * the benchmark; the engine is not changed.
  */
final class Probe(spark: SparkSession) {
  private val jobs, stages, tasks, runMs, cpuNs, deserMs, gcMs,
    shuffleWriteB, fetchWaitMs, spillB, planMs = new AtomicLong
  val writes = new ConcurrentLinkedQueue[Write]
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled): Unit
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum)
      def visit(p: SparkPlan): Unit = p.foreach {
        case r: CommandResultExec => visit(r.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case w: DataWritingCommandExec => w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
            writes.add(Write(c.outputPath.toString, m("numParts"),
              m("numOutputBytes"))): Unit
          case _ => ()
        }
        case _ => ()
      }
      visit(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Totals after every event posted so far has been delivered. */
  def snap(): Exec = {
    org.apache.spark.graft.Listeners.drain(spark.sparkContext)
    Exec(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get, deserMs.get,
      gcMs.get, shuffleWriteB.get, fetchWaitMs.get, spillB.get, planMs.get)
  }

  /** Bytes and count of the RDD blocks currently persisted or
    * checkpointed (the engine's `Pin` sites).
    */
  def pinned(): (Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0)
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }
}

/** In-memory spans around the benchmark's calls into the engine. A
  * span has a name, start, end, parent span and a request, batch or
  * query id; spans are written out once, when the run ends. Disabled,
  * it only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, tag: String,
      startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, tag, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Durations in seconds of every span called `name`. */
  def seconds(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val base = spans.asScala.map(_.startNs).minOption.getOrElse(0L)
    val body = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Out.str(s.name)},""" +
        s""""tag":${Out.str(s.tag)},"start_us":${(s.startNs - base) / 1000},""" +
        s""""end_us":${(s.endNs - base) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body): Unit
  }
}

/** Small numeric helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile (numpy's default), NaN when empty. */
  def q(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: scala.collection.Seq[Double]): Double = q(xs, 0.5)

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Resident-memory high-water mark of this process in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Memory the program holds, in MB: heap in use right after a full
    * collection, plus non-heap in use (metaspace, code cache). Unlike
    * the resident high-water mark, it does not follow the fixed heap
    * size. Call it only between timed phases: the collection stops
    * the world.
    */
  def liveMemMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** A metric value with its unit, in reporting order. */
final case class M(name: String, value: Double, unit: String)

/** What one workload run produced: metrics, ops counts, and the
  * failures found by its output checks (never dropped silently: each
  * is printed and counted).
  */
final class Outcome {
  val endToEnd = mutable.ArrayBuffer.empty[M]
  val named = mutable.ArrayBuffer.empty[M]
  val layers = mutable.LinkedHashMap.empty[String, M]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = failures += msg
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = M(name, value, unit)
}

object Out {
  def str(s: String): String = graft.core.Json.str(s)

  /** A number as JSON with all its digits; non-finite values (an empty
    * sample) print as 0 so the line stays valid JSON.
    */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def metrics(ms: Iterable[M]): String =
    ms.map(m => s"${str(m.name)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}")
      .mkString("{", ",", "}")
}
