package graft.lake

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Real contention on the commit CAS: N threads race appendFile commits
  * against one table; every commit must land (no lost updates) and the
  * attempt counters must reflect the retries the losers performed. */
class ConcurrencySpec extends LakeSuite {

  // Same contention protocol against ALL commit backends: the hard-link
  // CAS (local FS), the conditional-put map (object-store/H2 semantics —
  // no links or renames, only putIfAbsent), the Hadoop FileSystem
  // API (the s3a://-shaped path, create-exclusive as the CAS), and the
  // hadoop-fs path again over mem:// — an in-process FileSystem with
  // REAL object-store semantics (flat keys, PUT-at-close visibility,
  // copy+delete rename that replaces silently; MemFileSystem), proving
  // the write-then-publish CAS against what MinIO would give the
  // reference. The commit protocol must not care which provides the
  // atomicity.
  private var memN = 0
  for ((backendName, mkBackend, mkWh) <- Seq(
      ("local-fs hard-link CAS",
        () => new LocalFsCommitBackend: CommitBackend, () => freshWarehouse()),
      ("in-memory conditional put",
        () => new InMemoryCommitBackend: CommitBackend, () => freshWarehouse()),
      ("hadoop-fs create-exclusive",
        () => new HadoopFsCommitBackend: CommitBackend, () => freshWarehouse()),
      ("hadoop-fs over mem:// object store",
        () => null: CommitBackend, // open() routes the scheme itself
        () => { memN += 1; s"mem://conc$memN/wh" }),
      // the reference's ACTUAL commit mechanism (JdbcCatalog on an
      // embedded database, LocalIcebergCatalog.java:133-135): the CAS
      // is the row-insert's primary-key uniqueness
      ("jdbc (Derby embedded) row-insert CAS",
        () => new JdbcCommitBackend("jdbc:derby:" + java.nio.file.Files
          .createTempDirectory("graft_jdbc_").resolve("db")): CommitBackend,
        () => freshWarehouse()))) {
    test(s"8 concurrent append commits all land; no lost updates [$backendName]") {
      val metrics = new SimpleMetrics
      val cat = LakeCatalog.open(mkWh(), metrics, mkBackend())
      val t = cat.createTable("ns", "contended", ordersDF.schema)
      // stage data files sequentially (Spark jobs), then race ONLY the
      // metadata commits — that is where the CAS lives
      val batches = (0 until 8).map { i =>
        t.writeDataFiles(ordersDF.filter(
          org.apache.spark.sql.functions.col("o_orderkey") % 8 === i).coalesce(1))
      }
      val reports = Await.result(
        Future.sequence(batches.map { b =>
          Future(cat.loadTable("ns", "contended").newAppend()
            .appendFile(b.head).commit())
        }), 120.seconds)

      val re = cat.loadTable("ns", "contended")
      assert(re.snapshots.size === 8)
      assert(re.metadata.currentFiles.size === 8)
      assert(re.metadata.currentSnapshot.get.totalRecords === ordersDF.count())
      assert(re.newScan().toDF(spark).count() === ordersDF.count())
      // every commit succeeded exactly once; contention shows up as
      // attempts > 1 somewhere (not guaranteed per-thread, but the SUM of
      // attempts must be >= number of commits)
      assert(reports.map(_.attempts).sum >= 8)
      assert(reports.map(_.snapshotId).distinct.size === 8)
    }
  }

  test("racing branch and main commits serialize; both lineages stay complete") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "brace", ordersDF.schema)
    val base = ordersDF.filter(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 0)
    t.appendData(base)
    t.createBranch("b")
    // stage 6 single-file batches sequentially, then race the commits:
    // 3 onto the branch, 3 onto main, all against one CAS
    val staged = (0 until 6).map { i =>
      t.writeDataFiles(ordersDF.filter(
        org.apache.spark.sql.functions.col("o_orderkey") % 12 === (2 * i + 1))
        .coalesce(1))
    }
    val reports = Await.result(Future.sequence(staged.zipWithIndex.map {
      case (files, i) => Future {
        val handle = cat.loadTable("ns", "brace")
        if (i % 2 == 0) handle.commitSnapshot(LakeTable.CommitRequest.Append(files,
          LakeTable.CommitRequest.Branch("b")))
        else handle.commitSnapshot(LakeTable.CommitRequest.Append(files))
      }
    }), 120.seconds)

    val re = cat.loadTable("ns", "brace")
    // every commit landed exactly once, on its own snapshot
    assert(reports.map(_.snapshotId).distinct.size === 6)
    assert(re.snapshots.size === 7) // base + 6
    // main carries base + its 3 commits (%12 residues 3,7,11 ⇔ %4=3);
    // the branch carries base + its 3 (%12 residues 1,5,9 ⇔ %4=1)
    assert(re.newScan().toDF(spark).count() ===
      base.count() + ordersDF.filter(
        org.apache.spark.sql.functions.col("o_orderkey") % 4 === 3).count())
    assert(re.scanRef("b").toDF(spark).count() ===
      base.count() + ordersDF.filter(
        org.apache.spark.sql.functions.col("o_orderkey") % 4 === 1).count())
  }

  test("two hadoop-fs backend INSTANCES racing one path: exactly one putIfAbsent wins") {
    // the guard must be JVM-global: a per-instance lock let two backends
    // opened on the same file:// warehouse (two catalog opens, or the
    // streaming sink-id mint) both pass the exists-check + rename
    val dir = LakePath(freshWarehouse())
    for (i <- 0 until 50) {
      val target = dir.resolve(s"doc-$i.json")
      val racers = (0 until 4).map(r => Future {
        new HadoopFsCommitBackend().putIfAbsent(target, s"winner-$r")
      })
      val wins = Await.result(Future.sequence(racers), 60.seconds).count(identity)
      assert(wins === 1, s"iteration $i: $wins racers claimed the CAS")
    }
  }

  test("conflicting copy-on-write ops: the loser aborts instead of resurrecting rows") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "cow", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 2)
    val n = ordersDF.count()
    // two handles, both seeing the same live files
    val a = cat.loadTable("ns", "cow")
    val b = cat.loadTable("ns", "cow")
    a.compact(spark, 1) // rewrites every live file
    // b's delete targets files a already removed: with retries disabled
    // the conflict surfaces — committing the stale rewrite would
    // re-append copies of data a compacted away
    assertThrows[CommitConflictException](
      b.deleteWhere(spark, LakePredicate.NotNull("o_orderkey"), conflictRetries = 0))
    val re = cat.loadTable("ns", "cow")
    assert(re.newScan().toDF(spark).count() === n) // winner's state intact
    // a concurrent APPEND between read and commit is NOT a conflict:
    // the CoW op's removed files are still live, so it lands on retry
    val c = cat.loadTable("ns", "cow")
    import org.apache.spark.sql.functions.col
    // a DETERMINISTIC 10-row set: a bare limit(10) could pick different
    // rows when re-evaluated for the expectation below
    val firstTen = ordersDF.orderBy(col("o_orderkey")).limit(10)
    re.appendData(firstTen)
    c.compact(spark, 1) // stale handle, but its target files survive
    assert(cat.loadTable("ns", "cow").newScan().toDF(spark).count() === n + 10)
    // with retries left (the default), a conflicted CoW op re-runs
    // against FRESH metadata and lands: b is stale since before a's
    // compact, but its delete now applies to the current state
    b.deleteWhere(spark, LakePredicate.Ge("o_totalprice", Double.box(400000.0)))
    val expected =
      ordersDF.filter(col("o_totalprice") < 400000.0).count() +
        firstTen.filter(col("o_totalprice") < 400000.0).count()
    assert(cat.loadTable("ns", "cow").newScan().toDF(spark).count() === expected)
  }

  test("racing CREATE OR REPLACE VIEW commits all land; version log complete") {
    // the view log uses the same putIfAbsent CAS as table commits: 8
    // racing replaces must each land ONE version (losers retry on
    // fresh state, no dropped or duplicated versions), and the final
    // doc must be one of the racers' definitions intact
    val cat = LakeCatalog.open(freshWarehouse(), new SimpleMetrics,
      new InMemoryCommitBackend)
    cat.createNamespace("ns")
    val schema = new org.apache.spark.sql.types.StructType().add("c", "int")
    val results = Await.result(Future.sequence((0 until 8).map { i =>
      Future(cat.replaceView("ns", "v") { cur =>
        val nextId = cur.map(_.currentVersionId + 1).getOrElse(1)
        val ver = ViewVersion(nextId, 1000L + nextId, s"SELECT $i AS c",
          schema, "cat", Seq("ns"), Seq("c"), Seq("c"), Seq(""))
        ViewDoc("ns.v", nextId,
          cur.map(_.versions).getOrElse(Nil) :+ ver,
          Map("racer" -> i.toString))
      })
    }), 60.seconds)
    assert(results.size === 8)
    val doc = cat.loadView("ns", "v").get
    // final state is exactly one racer's write, not a merge artifact;
    // the full definition history (one version per landed replace)
    // survived the race — each racer appended to the CURRENT log
    assert(doc.properties.get("racer")
      .exists(r => doc.current.sql == s"SELECT $r AS c"))
    assert(doc.currentVersionId === doc.versions.size)
    assert(doc.versions.map(_.versionId) === (1 to doc.versions.size))
    // the version log recorded every landed replace: the final doc's
    // currentVersionId (asserted == versions.size above) must be 8 —
    // create counts as v1, each racing replace appended exactly one
    assert(doc.currentVersionId === 8)
  }
}
