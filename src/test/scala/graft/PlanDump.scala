package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps `.explain("formatted")` for named SparkEntry queries into
  * plans/<round>/<name>_<suffix>.txt — the optimization round's
  * before/after plan evidence. Test-scoped tooling.
  *
  * Beside each path it prints two `Exchange` node counts: `final`, in
  * the dumped plan, and `build`, summed over the plans executed while
  * the frame was built (eager pins, scalar reads). A loop that pins
  * per round moves its per-round exchanges out of the dumped plan and
  * into `build`.
  *
  * Run: `sbt "Test/runMain graft.PlanDump q180_mondrian,q121_hits
  * after /root/testdata/sf0.1 r17"`.
  */
object PlanDump extends AdaptiveSparkPlanHelper {

  /** `Exchange` nodes (shuffle and broadcast) in a physical plan,
    * adaptive query stages and subqueries included. */
  def exchangeCount(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  def exchangeCount(df: DataFrame): Int =
    exchangeCount(df.queryExecution.executedPlan)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = args.lift(1).getOrElse("after")
    val sf = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val round = args.lift(3).getOrElse("r17")
    val spark = core.Sessions.local(appName = "plan-dump")
    // keep fixture stores lazy/inspectable, mirroring graft.Plans
    spark.conf.set("spark.graft.keepFixtureStores", "true")
    val executed = mutable.ArrayBuffer.empty[Int]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.synchronized(executed += exchangeCount(qe.executedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    Files.createDirectories(Paths.get(s"plans/$round")): Unit
    names.foreach { name =>
      executed.synchronized(executed.clear())
      val df = SparkEntry.queries(name)(spark, sf)
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      val build = executed.synchronized(executed.sum)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val counts = s"exchanges: final ${exchangeCount(df)}, build $build"
      Files.writeString(Paths.get(s"plans/$round/${name}_$suffix.txt"),
        s"## $name ($suffix, explain formatted; $counts)\n\n$plan\n"): Unit
      println(s"dumped $name -> plans/$round/${name}_$suffix.txt $counts")
    }
    spark.stop()
  }
}
