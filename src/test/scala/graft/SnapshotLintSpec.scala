package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: snapshots are made in `SnapshotProducer` alone. Under
  * `graft.lake`, a `Snapshot(` constructor call and the
  * `lastSnapshotId) + 1` id mint appear only there and in
  * `Model.scala`'s parser. A hand-built snapshot skips what the
  * producer stamps — row ids, the summary's standard keys, the report's
  * delete meters — and drifts from it unnoticed. */
class SnapshotLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft/lake")
  private val producer = root.resolve("SnapshotProducer.scala")
  private val model = root.resolve("Model.scala")
  private val ctor = """(?<![\w.])(new\s+)?Snapshot(\.apply)?\(""".r
  private val mint = "lastSnapshotId) + 1"

  /** (file, line number, enclosing def, line) of every hit. */
  private def hits(p: Path): Seq[(Path, Int, String, String)] = {
    var enclosing = ""
    Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
      """\bdef\s+(\w+)""".r.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
      val code = line.trim
      if (code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")) None
      else if (ctor.findFirstIn(line).isDefined || line.contains(mint))
        Some((p, i + 1, enclosing, code))
      else None
    }.toSeq
  }

  test("Snapshot( and the snapshot-id mint appear under graft.lake only in the producer") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    assert(Files.isRegularFile(producer), s"$producer moved: update this lint")
    val all = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap(hits).toSeq
    val offenders = all.filterNot { case (p, _, enclosing, code) =>
      p.equals(producer) ||
        (p.equals(model) && (enclosing == "parseSnapshot" ||
          code.startsWith("final case class Snapshot(")))
    }
    assert(offenders.isEmpty, "snapshots built outside SnapshotProducer:\n  " +
      offenders.map { case (p, n, _, code) => s"$p:$n: $code" }.mkString("\n  "))
    // the producer itself mints once and builds once
    val own = all.filter(_._1.equals(producer)).map(_._4)
    assert(own.count(_.contains(mint)) === 1 && own.count(ctor.findFirstIn(_).isDefined) === 1,
      own.mkString("\n"))
  }
}
