package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the lake has ONE parquet writer, `graft.lake.LakeWriter`.
  * Its tasks write final files and return their manifest entries, so no
  * lake write goes through Spark's file committer (`.write.parquet(`,
  * `.write.options(`) and no driver re-reads the footers it just wrote
  * (`harvestPaths`, a listing in `StatsHarvester`). `addFiles` lists the
  * foreign directory it imports through `DataFs`. */
class LakeWriterLintSpec extends AnyFunSuite {

  private val lake = Paths.get("src/main/scala/graft/lake")
  private val harvester = lake.resolve("StatsHarvester.scala")

  private def offenders(files: Seq[Path], needles: Seq[String]): Seq[String] =
    files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
      }
    }

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(lake), s"run from the repository root (no $lake)")
    Files.walk(lake).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
  }

  test("no committer-based parquet write and no harvestPaths under graft.lake") {
    val found = offenders(sources, Seq(".write.parquet(", ".write.options(", "harvestPaths"))
    assert(found.isEmpty, "lake writes go through LakeWriter:\n  " + found.mkString("\n  "))
  }

  test("StatsHarvester lists no directory") {
    assert(Files.isRegularFile(harvester), s"$harvester moved: update this lint")
    val found = offenders(Seq(harvester), Seq("listStatus"))
    assert(found.isEmpty, "StatsHarvester reads the files it is given:\n  " +
      found.mkString("\n  "))
  }
}
