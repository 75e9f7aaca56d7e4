package graft

import java.io.IOException
import java.nio.file.{FileVisitOption, FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session factory of the repo's mains (Bench, Verify, SoakBench,
  * GenData, Explain): a local session with AQE on and the graft extension
  * loaded, the configuration the paper's reference job runs under.
  *
  * Env: `SPARK_GRAFT_CPUS` (local cores, default 4) and `SPARK_GRAFT_ANSI`
  * (`spark.sql.ansi.enabled`, default false — the engine's integer-division
  * and overflow conventions are written for non-ANSI Spark; an ANSI pass
  * turns silent NULLs from overflow, bad casts and division by zero into
  * loud failures). */
object Sessions {
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
  private val ansi: Boolean = sys.env.get("SPARK_GRAFT_ANSI").exists(_.trim.toBoolean)

  /** On-disk bytes under `dir`, following symlinks (a linked fixture table is
    * read like any other). A link loop or an unreadable entry is skipped,
    * never followed twice; a missing dir is 0. */
  def fixtureBytes(dir: String): Long = {
    var total = 0L
    Files.walkFileTree(Paths.get(dir),
      java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS), Int.MaxValue,
      new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          total += a.size(); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    total
  }

  /** Starting partition count of every AQE exchange: one per 8 MB of
    * fixture, at least `cpus`, at most 4096.
    *
    * Every exchange STARTS at this count and AQE coalesces it to
    * ~advisory-sized reducer inputs measured from the actual map output. This
    * keeps corpus-mass aggregates' final-agg hash maps memory-resident at ANY
    * SF (the q93 sf300 partition cliff: HashAggregate falls into sort-based
    * spilling when distinct-key mass / #reducers outgrows the task's map)
    * while the aggregate keeps its own exchange, so partial states collapse
    * before the wire.
    *
    * The count is DATA-SIZED, not a constant: a fixed 2048 was measured at
    * sf0.1 to cost the catalog +33 s (q227 1.1→6.9 s) — every map task pays
    * per-bucket writer overhead on every shuffle, coalesced or not.
    * fixture/8 MB ≈ one initial partition per ~32 MB of exploded exchange
    * mass (the n-gram streams run ~4× the at-rest corpus): sf0.1 (17 MB)
    * stays at #cores while sf1000 (9.4 GB documents) starts at ~1200. On a
    * cluster this is "size shuffle.partitions to the input". */
  def initialPartitionNum(cpus: Int, fixtureBytes: Long): Int =
    math.min(4096L, math.max(cpus.toLong, fixtureBytes / (8L << 20))).toInt

  /** `local[cpus]` session; `fixtureDir` (the tables the run reads) sizes the
    * initial exchange partitions, #cores without one. */
  def local(fixtureDir: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.ansi.enabled", ansi)
      .config("spark.sql.shuffle.partitions", cpus)
      // belt-and-braces for bloomPredicate's two ≤384 MB sketch partials
      // (RelOps.scala) — the default 1g leaves no headroom at the cap
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitionNum(cpus, fixtureDir.map(fixtureBytes).getOrElse(0L)))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "52428800")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default codegen class cache (100 entries) thrashes across the
      // catalog (several codegen stages per query): big generated classes
      // would re-janino-compile every pass
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every global window (the catalog's deterministic row numbering) warns
    // "No Partition Defined" each time it is planned: hundreds per bench run
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
