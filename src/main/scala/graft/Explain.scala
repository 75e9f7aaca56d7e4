package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Plan auditor: prints the formatted physical plan of selected catalog queries
  * so pushdown / broadcast / codegen coverage can be reviewed (and regressions
  * spotted) without a notebook. Usage: runMain graft.Explain [queryName...] */
object Explain {
  def main(args: Array[String]): Unit = {
    // the bench/verify session: AQE on, graft extension loaded (an sf0.001
    // fixture sizes the initial partitions at #cores, as none does)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val dir = "/root/testdata/sf0.001"
    if (args.headOption.contains("--summary")) { summary(spark, dir); spark.stop(); return }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, dir)
      finalPlan(df)
      df.explain("formatted")
    }
    spark.stop()
  }

  /** Runs the query and returns its physical plan: under AQE the plan is
    * only final (runtime join picks, codegen stages, coalesced shuffles)
    * once the query has executed. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** One line per catalog query: shuffle count, join strategies, codegen spans,
    * scan-level pushdown — the audit table behind PLANS.md.
    *
    * Counts are over the nodes of the final adaptive plan and its subqueries
    * (through query stages, not into AQE's initial plan; a reused exchange
    * is not counted as a second exchange). */
  private def summary(spark: SparkSession, dir: String): Unit = {
    println("| query | shuffles | bcast | BHJ | SMJ | TakeOrdered | WSCG spans | pushed filters |")
    println("|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      try {
        val nodes = Aqe.collectWithSubqueries(finalPlan(fn(spark, dir))) { case p => p }
        def count(cls: Class[_]) = nodes.count(cls.isInstance)
        val pushed = nodes.count {
          case s: FileSourceScanExec => s.metadata.get("PushedFilters").exists(_ != "[]")
          case _ => false
        }
        println(s"| $n | ${count(classOf[ShuffleExchangeExec])} " +
          s"| ${count(classOf[BroadcastExchangeExec])} " +
          s"| ${count(classOf[BroadcastHashJoinExec])} | ${count(classOf[SortMergeJoinExec])} " +
          s"| ${if (count(classOf[TakeOrderedAndProjectExec]) > 0) "y" else ""} " +
          s"| ${count(classOf[WholeStageCodegenExec])} | $pushed |")
      } catch {
        case e: Throwable =>
          println(s"| $n | err:${e.getClass.getSimpleName} | | | | | | |")
      }
    }
  }
}
