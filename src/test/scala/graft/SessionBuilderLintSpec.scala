package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every harness and test session comes from
  * `SessionTuning.local`, so the bench, the oracle dump, the dev tools
  * and the test suites run one configuration. A session built beside it
  * drifts (a missing time zone, a core count of its own, tuning left
  * out) and measures an engine nothing else runs. */
class SessionBuilderLintSpec extends AnyFunSuite {

  private val roots = Seq(Paths.get("src/main"), Paths.get("src/test"))
  private val allowed = Paths.get("src/main/scala/graft/SessionTuning.scala")
  private val self = Paths.get("src/test/scala/graft/SessionBuilderLintSpec.scala")
  private val needle = "SparkSession.builder()"

  test("SparkSession.builder() appears under src/main and src/test only in SessionTuning") {
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root (no $r)"))
    Seq(allowed, self).foreach(p => assert(Files.isRegularFile(p), s"$p moved: update this lint"))
    val offenders = roots.flatMap(r => Files.walk(r).iterator.asScala)
      .filter(p => Files.isRegularFile(p) && !p.equals(allowed) && !p.equals(self))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"$needle outside SessionTuning:\n  " + offenders.mkString("\n  "))
  }

  test("the lake suites' session carries SessionTuning.local(4)'s confs") {
    val conf = graft.lake.LakeSuite.spark.conf
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "192")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(graft.lake.LakeSuite.spark.sparkContext.master === "local[4]")
  }
}
