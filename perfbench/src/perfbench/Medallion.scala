package perfbench

import graft.engine.{Fs, Pipeline}
import org.apache.spark.sql.SparkSession

/** `medallion_refresh`: each operation is what a dashboard user waits for
  * after new data lands: one `Pipeline.run` from the generated Olist CSVs to
  * gold, then the seven dashboard reports over the new gold, each over all
  * years or one `Order_Year` partition, in a seeded order. Every operation
  * writes a directory of its own, so each one's output is checked after the
  * loop. */
final class Medallion(seed: Long, work: String) extends Workload {
  import Medallion._

  private val src = s"$work/olist"
  private var expected: OlistGen.Output = _

  def input(spark: SparkSession, rep: Int): Unit = {
    Fs.rmTree(src)
    expected = OlistGen.generate(src, seed, Orders)
  }

  def passOps: Int = 1

  /** At least three refreshes a run, so the median is a middle sample: the
    * first refresh after the warm-up is the slowest, and under CPU
    * contention it slows down about twice as much as later ones, so a
    * median of two, which is their mean, moves with it. */
  def minPasses: Int = 3

  /** One untimed refresh and its reports, each over the next scope in
    * turn, so every report and every kind of scope has run once. */
  def warmUp(spark: SparkSession): Unit = {
    val out = s"$work/warmup"
    Pipeline.run(spark, src, out)
    for ((r, i) <- Dashboards.Names.zipWithIndex)
      Dashboards.build(spark, s"$out/gold", r, Dashboards.Scopes(i % Dashboards.Scopes.size)).collect()
  }

  def key(n: Int): String = "refresh"

  def op(spark: SparkSession, n: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val out = s"$work/ops/op$n"
    var retries = 0
    val onRetry = (_: String, _: Int, _: Throwable) => retries += 1
    val report = tracer match {
      case None => Pipeline.run(spark, src, out, onRetry = onRetry)
      case Some(t) =>
        // a span per stage: each completed stage opens the next one
        val nextOf = Stages.zip(Stages.tail).toMap
        t.begin(Stages.head, n)
        try Pipeline.run(spark, src, out, onRetry = onRetry,
          onStageComplete = s => t.next(nextOf(s), n))
        finally t.end()
    }
    val rng = new scala.util.Random(seed * 1000003L + n)
    def dashboards(): Seq[Map[String, Any]] = rng.shuffle(Dashboards.Names).map { r =>
      val scope = Dashboards.Scopes(rng.nextInt(Dashboards.Scopes.size))
      val rows = QueryLayers.run("report", n, tracer)(
        Dashboards.build(spark, s"$out/gold", r, scope))(_.collect())
      Map("report" -> r, "scope" -> scope, "rows" -> rows.toSeq.map(QueryLayers.values))
    }
    val reports = tracer match {
      case None => dashboards()
      case Some(t) => t.span("dashboards", n)(dashboards())
    }
    Map(
      "silver_rows" -> report.silverRows,
      "gate" -> report.qualityChecks.map(c => Map("name" -> c.name, "violations" -> c.violations)),
      "gold_tables" -> report.goldTables,
      "gold" -> s"$out/gold", "retries" -> retries, "reports" -> reports)
  }

  def finish(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any] = Map("expected" -> Map(
    "source_rows" -> expected.sourceRows, "source_bytes" -> expected.sourceBytes,
    "planted" -> expected.planted, "silver_rows" -> expected.silverRows,
    "fact_rows" -> expected.factRows, "fact_cents" -> expected.factCents,
    "review_score_sum" -> expected.reviewScoreSum,
    "fact_sales_rows_by_year" -> expected.factSalesRowsByYear))

  /** Stage figures of the median operation (the mean of the two middle
    * ones for an even count), so that the stage times and the dashboards'
    * time add up to its wall time; per-report figures are medians over all
    * traced reports. */
  def layers(tracer: Tracer, ops: Seq[OpRecord], warmUpS: Double): Map[String, Double] = {
    val roots = tracer.spans.filter(s => s.parent == -1 && s.name == "op").sortBy(_.ms).toSeq
    val mid = if (roots.size % 2 == 1) Seq(roots(roots.size / 2))
      else roots.slice(roots.size / 2 - 1, roots.size / 2 + 1)
    val cores = Runtime.getRuntime.availableProcessors()
    def avg(f: Span => Double): Double = if (mid.isEmpty) 0.0 else mid.map(f).sum / mid.size
    def child(root: Span, name: String): Option[Span] = tracer.children(root).find(_.name == name)
    val stages = Stages.flatMap { stage =>
      def c(r: Span): Counters = child(r, stage).map(tracer.countersOf).getOrElse(new Counters)
      val p = s"pipeline.$stage."
      Seq(
        p + "wall_s" -> avg(r => child(r, stage).map(_.ms / 1e3).getOrElse(0.0)),
        p + "busy_frac" -> avg(r => child(r, stage).map(s => c(r).runMs / (s.ms * cores)).getOrElse(0.0)),
        p + "jobs" -> avg(c(_).jobs.toDouble),
        p + "tasks" -> avg(c(_).tasks.toDouble),
        p + "input_bytes" -> avg(c(_).inputBytes.toDouble),
        p + "output_bytes" -> avg(c(_).outputBytes.toDouble),
        p + "output_rows" -> avg(c(_).outputRows.toDouble),
        p + "shuffle_write_bytes" -> avg(c(_).shuffleWriteBytes.toDouble),
        p + "spill_bytes" -> avg(c(_).spillBytes.toDouble),
        p + "gc_ms" -> avg(c(_).gcMs.toDouble))
    }.toMap
    val reports = tracer.spans.filter(_.name == "report").toSeq
    val rowsOut = ops.flatMap(_.payload.get("reports").toSeq
      .flatMap(_.asInstanceOf[Seq[Map[String, Any]]]))
      .map(_("rows").asInstanceOf[Seq[_]].size.toDouble)
    stages ++ QueryLayers.metrics("reports", tracer, reports, rowsOut) +
      ("dashboards.wall_s" -> avg(r => child(r, "dashboards").map(_.ms / 1e3).getOrElse(0.0)))
  }
}

object Medallion {
  /** Orders per input set: a fiftieth of the public Olist dump, about 31 K
    * source rows over 9 CSVs. A refresh is mostly the fixed cost of its
    * ~130 jobs (a tenth of the dump takes only about 1.3 times as long), and
    * a run has to fit a cold refresh and three warm ones. */
  val Orders = 1989

  val Stages = Seq("bronze", "silver", "quality_checks", "gold", "tail")
}
