package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}

/** The orphan sweep's data-side listing walks the tree with
  * `listStatus` (no per-file owner/permission load) and must return the
  * same (path, mtime) set as Hadoop's recursive `listFiles`. */
class DataFsListingSpec extends LakeSuite {

  private def viaListFiles(dir: String): Set[(String, Long)] = {
    val h = new HPath(dir)
    val it = h.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(h, true)
    val out = Set.newBuilder[(String, Long)]
    while (it.hasNext) { val st = it.next(); out += ((st.getPath.toString, st.getModificationTime)) }
    out.result()
  }

  test("listFilesRecursive equals listFiles(dir, recursive) on nested directories") {
    val root = Files.createTempDirectory("graft_listing_")
    // a Spark parquet write: part files, their .crc side files, _SUCCESS
    spark.range(0, 100, 1, 3).write.parquet(root.resolve("a/w1").toString)
    // hand-made nesting three levels down, a hidden-looking name and an
    // empty directory
    val deep = Files.createDirectories(root.resolve("a/b/c"))
    Files.write(deep.resolve("x.parquet"), Array[Byte](1, 2, 3))
    Files.write(root.resolve("a/b/_SUCCESS"), Array.emptyByteArray)
    Files.write(root.resolve("top.gdv"), Array[Byte](4))
    Files.createDirectories(root.resolve("empty/inner"))
    deep.resolve("x.parquet").toFile.setLastModified(1234567000L)

    for (dir <- Seq(root.toString, "file://" + root.toString)) {
      val got = DataFs.listFilesRecursive(LakePath(dir))
      assert(got.size == got.toSet.size, "a file was listed twice")
      assert(got.toSet == viaListFiles(dir), dir)
    }
    val names = DataFs.listFilesRecursive(LakePath(root.toString)).map(_._1)
    assert(names.exists(_.endsWith("/a/b/c/x.parquet")))
    assert(names.count(_.endsWith(".parquet")) >= 4)
    assert(!names.exists(_.endsWith(".crc")), "checksum side files are not data")
    assert(DataFs.listFilesRecursive(LakePath(root.resolve("missing").toString)).isEmpty)
  }
}
