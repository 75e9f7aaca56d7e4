package perfbench

import graft.engine.Analytics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Layer figures of single queries: each is split into constructing the
  * DataFrame (including reading its inputs), optimizing, physical planning
  * and executing. */
object QueryLayers {
  val Phases = Seq("construct", "optimize", "plan", "exec")

  /** Runs `build` then `exec`, with a span per phase under a span named
    * `name` when traced. */
  def run[T](name: String, n: Int, tracer: Option[Tracer])(build: => DataFrame)(
      exec: DataFrame => T): T =
    tracer match {
      case None => exec(build)
      case Some(t) => t.span(name, n) {
        val df = t.span("construct", n)(build)
        t.span("optimize", n)(df.queryExecution.optimizedPlan)
        t.span("plan", n)(df.queryExecution.executedPlan)
        t.span("exec", n)(exec(df))
      }
    }

  /** Medians over the query spans `qs`, under `prefix`. */
  def metrics(prefix: String, tracer: Tracer, qs: Seq[Span], rowsOut: Seq[Double]): Map[String, Double] = {
    def phase(q: Span, p: String): Option[Span] = tracer.children(q).find(_.name == p)
    def med(f: Span => Double): Double = Main.median(qs.map(f))
    def c(q: Span): Counters = tracer.countersOf(q)
    Phases.map(p => s"$prefix.${p}_ms" -> med(q => phase(q, p).map(_.ms).getOrElse(0.0))).toMap ++ Map(
      s"$prefix.wall_ms" -> med(_.ms),
      s"$prefix.driver_only_ms" -> med(q => q.ms - c(q).busyMs(q.startMs, q.endMs)),
      s"$prefix.construct_jobs" ->
        med(q => phase(q, "construct").map(tracer.countersOf(_).jobs.toDouble).getOrElse(0.0)),
      s"$prefix.jobs" -> med(c(_).jobs.toDouble),
      s"$prefix.tasks" -> med(c(_).tasks.toDouble),
      s"$prefix.shuffle_read_bytes" -> med(c(_).shuffleReadBytes.toDouble),
      s"$prefix.shuffle_write_bytes" -> med(c(_).shuffleWriteBytes.toDouble),
      s"$prefix.spill_bytes" -> med(c(_).spillBytes.toDouble),
      s"$prefix.gc_ms" -> med(c(_).gcMs.toDouble),
      s"$prefix.rows_out" -> Main.median(rowsOut))
  }

  /** A row as JSON-ready values. */
  def values(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toString
    case v => v
  }
}

/** The dashboard reports a BI client runs over gold: each reads its gold
  * tables by path, as a DirectQuery client would, optionally pruned to one
  * `Order_Year` partition, and calls one `engine.Analytics` report. */
object Dashboards {
  val Names = Seq("monthly_sales_yoy", "top_products", "avg_daily", "delivery_kpis",
    "share_by_customer_state", "share_by_seller_state", "share_by_category")
  /** All years, or one `Order_Year` partition of the generated span. */
  val Scopes = Seq("all", "2016", "2017", "2018")

  def build(spark: SparkSession, gold: String, report: String, scope: String): DataFrame = {
    def table(t: String): DataFrame = spark.read.parquet(s"$gold/$t")
    def fact(t: String): DataFrame =
      if (scope == "all") table(t) else table(t).filter(col("Order_Year") === scope.toInt)
    def share(dim: String, key: String, group: String): DataFrame =
      Analytics.shareOfSales(fact("fact_sales"),
        table(dim).select(col(key).as("Dim_Key"), col(group)), "Dim_Key", key, group)
    report match {
      case "monthly_sales_yoy" => Analytics.monthlySalesYoY(fact("fact_sales"))
      case "top_products" => Analytics.topProducts(fact("fact_sales"))
      case "avg_daily" => Analytics.avgDaily(fact("fact_orders"))
      case "delivery_kpis" => Analytics.deliveryKpis(fact("fact_orders"))
      case "share_by_customer_state" => share("dim_customers", "Customer_ID", "Customer_State")
      case "share_by_seller_state" => share("dim_sellers", "Seller_ID", "Seller_State")
      case "share_by_category" => share("dim_products", "Product_ID", "Product_Category")
    }
  }
}

/** The n-th key of a seeded sequence that visits every key once per round,
  * each round in a fresh seeded order, so every run issues the same mix. */
final class SeededOrder[K](keys: Seq[K], seed: Long) {
  private val rng = new scala.util.Random(seed)
  private val seq = scala.collection.mutable.ArrayBuffer.empty[K]
  def apply(n: Int): K = {
    while (seq.size <= n) seq ++= rng.shuffle(keys)
    seq(n)
  }
}
