package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `OuterReference` appears nowhere under `src/main`.
  * Correlated subqueries are Catalyst's to plan — a DELETE / UPDATE
  * condition or SET value binds to the target's attribute ids and Spark's
  * own subquery rewrites decorrelate it. Code that walks outer
  * references by hand re-derives NOT IN, EXISTS and count-bug semantics
  * Spark already gets right, and refuses every shape it does not know. */
class SubqueryLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main")

  test("OuterReference appears nowhere under src/main") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val offenders = Files.walk(root).iterator.asScala
      .filter(Files.isRegularFile(_))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("OuterReference") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "OuterReference under src/main:\n  " + offenders.mkString("\n  "))
  }
}
