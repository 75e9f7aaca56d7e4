package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{GenData, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The implementing module of every catalog query, and the queries the
  * sweep runs, from `perfbench/catalog_modules.tsv`. */
object CatalogModules {
  val Modules = Seq("engine.RelOps", "ext.Dedup", "ext.TextStats", "ext.Similarity",
    "streaming.Events", "other")

  final case class Entry(query: String, module: String, swept: Boolean)

  def load(path: String): Seq[Entry] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, m, s) = l.split("\t")
        Entry(q, m, s == "1")
      }

  /** Every `SparkEntry.queries` key must be mapped exactly once, to a known
    * module, so a new query cannot go unattributed. */
  def selfCheck(entries: Seq[Entry]): Unit = {
    val keys = SparkEntry.queries.keySet
    val dup = entries.groupBy(_.query).collect { case (q, es) if es.size > 1 => q }
    val missing = keys -- entries.map(_.query)
    val unknown = entries.map(_.query).toSet -- keys
    val badModule = entries.filterNot(e => Modules.contains(e.module)).map(_.query)
    require(dup.isEmpty && missing.isEmpty && unknown.isEmpty && badModule.isEmpty,
      s"catalog module map: duplicated ${dup.toSeq.sorted.mkString(",")}; " +
        s"unmapped ${missing.toSeq.sorted.mkString(",")}; " +
        s"not in the catalog ${unknown.toSeq.sorted.mkString(",")}; " +
        s"unknown module ${badModule.mkString(",")}")
  }
}

/** `catalog_sweep`: passes over a fixed cross-section of the operator
  * catalog, every implementing module represented, each pass in a seeded
  * order, over TPC-H-shaped tables that `graft.GenData` writes in set-up.
  * Each operation executes one query's own physical plan to exhaustion,
  * as `graft.Bench` does. */
final class CatalogSweep(seed: Long, work: String) extends Workload {
  /** GenData multiplier relative to sf0.1: sf0.01, the oracle scale. */
  val Mult = 0.1

  /** The GenData tables the swept queries and their oracle SQL read; the
    * others are not generated. A swept query that reads another table fails
    * in the warm-up. */
  val Tables = Set("orders", "events", "documents", "embeddings")

  private val entries = CatalogModules.load("perfbench/catalog_modules.tsv")
  CatalogModules.selfCheck(entries)
  private val swept = entries.filter(_.swept).map(_.query).sorted
  private val moduleOf = entries.map(e => e.query -> e.module).toMap
  private val order = new SeededOrder(swept, seed)
  private var dir: String = _
  private def resultsDir = s"$work/catalog_out"
  private var resultErrors = Map.empty[String, String]

  def passOps: Int = swept.size

  /** Five passes: the first timed passes are usually the slowest, and the
    * median leaves them out. */
  def minPasses: Int = 5

  def input(spark: SparkSession, rep: Int): Unit = {
    dir = s"$work/tpch$rep"
    GenData.gen(spark, dir, Mult, Tables)
  }

  /** Two untimed passes: the first also builds the at-rest indexes the
    * queries share; after it alone, the next pass is still about a fifth
    * slower, and more variable, than later ones. The second writes each
    * query's result, with the oracle SQL next to it in `finish`, for the
    * DuckDB comparison. */
  def warmUp(spark: SparkSession): Unit = {
    swept.foreach(q => SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count())
    resultErrors = swept.flatMap { q =>
      try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$q")
        None
      } catch { case e: Exception => Some(q -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    }.toMap
  }

  def key(n: Int): String = order(n)

  def op(spark: SparkSession, n: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val q = order(n)
    val rows = QueryLayers.run("query", n, tracer)(SparkEntry.queries(q)(spark, dir))(
      _.queryExecution.toRdd.count())
    Map("module" -> moduleOf(q), "rows_out" -> rows)
  }

  def finish(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Any] =
    Map("tables_dir" -> dir, "tables" -> Tables.toSeq.sorted, "results_dir" -> resultsDir, "result_errors" -> resultErrors,
      "swept" -> swept, "oracle_sql" -> swept.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)

  def layers(tracer: Tracer, ops: Seq[OpRecord], warmUpS: Double): Map[String, Double] = {
    val passes = ops.size.toDouble / swept.size
    val queries = tracer.spans.filter(_.name == "query").toSeq
    val keyOf = ops.map(o => o.n -> o.key).toMap
    val perModule = CatalogModules.Modules.flatMap { m =>
      val qs = queries.filter(q => keyOf.get(q.op).flatMap(moduleOf.get).contains(m))
      Seq(
        s"catalog.$m.wall_s" -> qs.map(_.ms).sum / 1e3 / passes,
        s"catalog.$m.driver_only_ms" ->
          qs.map(q => q.ms - tracer.countersOf(q).busyMs(q.startMs, q.endMs)).sum / passes)
    }
    QueryLayers.metrics("catalog", tracer, queries,
      ops.flatMap(_.payload.get("rows_out")).map(_.toString.toDouble)) ++ perModule +
      ("catalog.prime_s" -> warmUpS)
  }
}
