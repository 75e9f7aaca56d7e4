package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB comparison (tools/check.py), and
  * verify_errors.json (query → `Class: message`, `{}` on a clean run). */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's SQL would otherwise make json.load
    * fail on the whole file. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated list of query-name substrings to dump.
    val only: Option[Seq[String]] = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    // SPARK_GRAFT_ANSI=true runs the dump under ANSI (see Sessions)
    val spark = Sessions.local(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    val errors = SparkEntry.queries.toSeq.filter(kv => selected(kv._1)).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql.filter(kv => selected(kv._1))))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), jsonObject(errors))
    spark.stop()
  }
}
