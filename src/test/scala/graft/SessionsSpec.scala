package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.{FloatDotProduct, GraftExtensions}

/** The session factory and the native-function table: one builder, one
  * partition-sizing law, one list of functions read by both the extension
  * and `VectorExpressions.register`. */
class SessionsSpec extends SparkSuite {

  test("initialPartitionNum: one per 8 MB of fixture, floored at cpus, capped at 4096") {
    val mb = 1L << 20
    assert(Sessions.initialPartitionNum(4, 0L) == 4)
    assert(Sessions.initialPartitionNum(4, 39 * mb) == 4)
    assert(Sessions.initialPartitionNum(4, 40 * mb) == 5)
    assert(Sessions.initialPartitionNum(1, 17 * mb) == 2)
    assert(Sessions.initialPartitionNum(4, 1L << 45) == 4096)
  }

  test("fixtureBytes follows a symlinked table, survives a link loop, reads a missing dir as 0") {
    val root = Files.createTempDirectory("graft_sessions_spec")
    try {
      val fixture = Files.createDirectory(root.resolve("sf"))
      val outside = Files.createDirectory(root.resolve("elsewhere"))
      Files.write(fixture.resolve("orders.parquet"), new Array[Byte](3000))
      Files.write(outside.resolve("lineitem.parquet"), new Array[Byte](5000))
      Files.createSymbolicLink(fixture.resolve("lineitem.parquet"),
        outside.resolve("lineitem.parquet"))
      Files.createSymbolicLink(fixture.resolve("loop"), fixture)
      assert(Sessions.fixtureBytes(fixture.toString) == 8000L)
      assert(Sessions.fixtureBytes(root.resolve("absent").toString) == 0L)
    } finally {
      // unlink first: rmTree descends through a directory link
      Files.deleteIfExists(root.resolve("sf/loop"))
      rmTree(root.toString)
    }
  }

  test("SparkSession.builder appears in src/main/scala only inside Sessions.scala") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"guard must run from the repo root: $main missing")
    val files = Files.walk(main)
    val offenders = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Sessions.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder("))
      .map(main.relativize(_).toString).toList
    finally files.close()
    assert(offenders.isEmpty, s"session built outside graft.Sessions: ${offenders.mkString(", ")}")
  }

  test("an extension-built session resolves every table function without register") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val missing = GraftExtensions.functions.map(_._1).filterNot(registry.functionExists)
    assert(missing.isEmpty, s"not injected by GraftExtensions: ${missing.mkString(", ")}")
    // the injected optimizer rule: the cast form over float arrays plans as
    // the specialized expression (arrays built from `id`, so nothing folds)
    val df = s.range(3).selectExpr("array(CAST(id AS FLOAT), CAST(id + 1 AS FLOAT)) AS a")
      .selectExpr("graft_dot(CAST(a AS array<double>), CAST(a AS array<double>)) AS d")
    val specialized = df.queryExecution.optimizedPlan.expressions.exists(_.exists {
      case _: FloatDotProduct => true
      case _ => false
    })
    assert(specialized, s"expected graft_float_dot in:\n${df.queryExecution.optimizedPlan}")
  }
}
