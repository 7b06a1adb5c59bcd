package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `cloneSession(` belongs to `SessionBridge` alone. A
  * session cloned per operation gets fresh class loaders, so every plan
  * it runs is compiled again (Spark caches generated classes per class
  * loader) — a cost no test of results would notice. Derive sessions
  * through `SessionBridge.sessionWithConfs` / `withConfs`, which reuse
  * one derived session per caller and overlay. */
class SessionCloneLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main")
  private val allowed = Paths.get(
    "src/main/scala/org/apache/spark/sql/graftbridge/SessionBridge.scala")

  test("cloneSession( appears under src/main only in SessionBridge") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    assert(Files.isRegularFile(allowed), s"$allowed moved: update this lint")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.equals(allowed))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("cloneSession(") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "cloneSession( outside SessionBridge:\n  " + offenders.mkString("\n  "))
  }
}
