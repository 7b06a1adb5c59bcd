package graft.lake

import org.apache.spark.sql.functions._

/** Named refs: tags pin history immutably, branches take append
  * commits off the main lineage, fastForward publishes an audited
  * branch — write-audit-publish over the same CAS commit protocol. */
class BranchTagSpec extends LakeSuite {

  test("tags pin snapshots: readable by name, expiry-proof, droppable") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "tags", ordersDF.schema)
    val even = ordersDF.filter(col("o_orderkey") % 2 === 0)
    val first = t.appendData(even)
    t.createTag("v1", first.snapshotId)
    t.refresh().appendData(ordersDF.filter(col("o_orderkey") % 2 === 1))

    // the tag reads the pinned snapshot by name
    assert(t.refresh().scanRef("v1").toDF(spark).count() === even.count())
    assert(t.scanRef("main").toDF(spark).count() === ordersDF.count())
    // expiry keeps the tagged snapshot even when keepLast would drop it
    assert(t.expireSnapshots(keepLast = 1).isEmpty)
    assert(t.refresh().scanRef("v1").toDF(spark).count() === even.count())
    // dropping the tag releases it: now expiry reclaims
    t.dropRef("v1")
    assert(t.expireSnapshots(keepLast = 1) === Seq(first.snapshotId))
    intercept[NoSuchElementException](t.scanRef("v1"))
    // guards
    intercept[IllegalArgumentException](t.createTag("main", t.currentSnapshotId))
    intercept[IllegalArgumentException](t.createTag("x", 9999L))
  }

  test("branch commits advance the branch only; fastForward publishes; main stays isolated") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "wap", ordersDF.schema)
    val base = ordersDF.filter(col("o_orderkey") % 2 === 0)
    val staged = ordersDF.filter(col("o_orderkey") % 2 === 1)
    t.appendData(base)
    t.createBranch("audit")
    // two staged commits onto the branch
    t.refresh().appendDataToBranch("audit", staged.filter(col("o_orderkey") % 4 === 1))
    t.refresh().appendDataToBranch("audit", staged.filter(col("o_orderkey") % 4 === 3))

    // main is untouched; the branch sees base + staged
    assert(t.refresh().newScan().toDF(spark).count() === base.count())
    assert(t.scanRef("audit").toDF(spark).count() === ordersDF.count())
    // ...the audit read is what WAP validates, then publishes:
    t.fastForward("audit")
    assert(t.refresh().newScan().toDF(spark).count() === ordersDF.count())
    // lineage: current parents back through the branch commits to base
    val cur = t.metadata.currentSnapshot.get
    assert(t.metadata.refs("audit").snapshotId === cur.id)
    // post-publish appends continue on main normally
    t.appendData(ordersDF.limit(5).withColumn("o_orderkey", col("o_orderkey") + 600000000L))
    assert(t.refresh().newScan().toDF(spark).count() === ordersDF.count() + 5)
  }

  test("fastForward refuses when main diverged; branch append refuses on tags/unknown refs") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "div", ordersDF.schema)
    t.appendData(ordersDF.filter(col("o_orderkey") % 2 === 0))
    t.createBranch("b")
    t.refresh().appendDataToBranch("b", ordersDF.limit(3))
    // main moves independently → publishing would discard that commit
    t.refresh().appendData(ordersDF.limit(7)
      .withColumn("o_orderkey", col("o_orderkey") + 400000000L))
    val e = intercept[IllegalArgumentException](t.refresh().fastForward("b"))
    assert(e.getMessage.contains("fast-forward"))
    // tag targets refuse commits; unknown branches refuse
    t.createTag("pin", t.currentSnapshotId)
    intercept[IllegalArgumentException](
      t.refresh().appendDataToBranch("pin", ordersDF.limit(1)))
    intercept[NoSuchElementException](
      t.refresh().appendDataToBranch("nope", ordersDF.limit(1)))
    // refs survive restart (metadata round trip)
    val reopened = LakeCatalog.open(t.catalog.warehouse.toString).loadTable("ns", "div")
    assert(reopened.refs.keySet === Set("b", "pin"))
  }

  test("branch-scoped DELETE/UPDATE/MERGE: mutations stage on the branch, main untouched") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "bmut", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    val mainCount = ordersDF.count()
    t.createBranch("stage")

    // CoW delete on the branch
    t.refresh().deleteWhere(spark, LakePredicate.Eq("o_orderstatus", "F"),
      branch = Some("stage"))
    val afterDelete = ordersDF.filter(col("o_orderstatus") =!= "F").count()
    assert(t.refresh().scanRef("stage").toDF(spark).count() === afterDelete)
    assert(t.newScan().toDF(spark).count() === mainCount) // main untouched

    // CoW update on the branch (over the branch's post-delete state)
    t.refresh().updateWhere(spark, LakePredicate.Eq("o_orderstatus", "O"),
      Map("o_orderpriority" -> lit("9-STAGED")), branch = Some("stage"))
    val staged = t.refresh().scanRef("stage").toDF(spark)
    assert(staged.filter(col("o_orderstatus") === "O")
      .filter(col("o_orderpriority") =!= "9-STAGED").count() === 0L)
    assert(t.newScan().toDF(spark)
      .filter(col("o_orderpriority") === "9-STAGED").count() === 0L)

    // keyed MERGE on the branch: replacements + new keys
    val upd = ordersDF.filter(col("o_orderkey") % 10 === 0 && col("o_orderstatus") =!= "F")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    t.refresh().mergeInto(spark, upd, Seq("o_orderkey"), branch = Some("stage"))
    val merged = t.refresh().scanRef("stage").toDF(spark)
    assert(merged.count() === afterDelete) // same keys, replaced in place
    assert(merged.filter(col("o_orderkey") % 10 === 0).count() === upd.count())

    // audit passed: publish via fastForward — main becomes the staged state
    t.refresh().fastForward("stage")
    val published = t.refresh().newScan().toDF(spark)
    assert(published.count() === afterDelete)
    assert(published.filter(col("o_orderstatus") === "F").count() === 0L)
    // merged keys (%10 == 0) were REPLACED by source rows carrying the
    // original priority; every other O row keeps the staged update
    assert(published.filter(col("o_orderstatus") === "O" &&
        col("o_orderkey") % 10 =!= 0)
      .filter(col("o_orderpriority") =!= "9-STAGED").count() === 0L)
  }

  test("MoR delete stages on a branch: tombstones scoped to the branch head") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "bmor", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    t.createBranch("stage")
    t.refresh().deleteWhereMoR(spark, LakePredicate.Eq("o_orderstatus", "F"),
      branch = Some("stage"))
    val survivors = ordersDF.filter(col("o_orderstatus") =!= "F").count()
    // the branch head carries the tombstones; its scan subtracts them
    assert(t.refresh().scanRef("stage").toDF(spark).count() === survivors)
    // main: untouched — no tombstones, full row set, zero delete files
    assert(t.newScan().toDF(spark).count() === ordersDF.count())
    assert(t.metadata.currentSnapshot.exists(_.deleteFiles.isEmpty))
    // publish: main now sees the staged MoR state
    t.refresh().fastForward("stage")
    assert(t.refresh().newScan().toDF(spark).count() === survivors)
    // and rewrite_position_deletes self-heals the published table
    t.refresh().rewritePositionDeletes(spark)
    assert(t.refresh().metadata.currentSnapshot.exists(_.deleteFiles.isEmpty))
    assert(t.newScan().toDF(spark).count() === survivors)
  }

  test("MoR update + MoR merge stage on a branch; compact-after-publish materializes") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "bmor2", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    val mainCount = ordersDF.count()
    t.createBranch("stage")

    // MoR update on the branch: tombstones + updated rows on the head
    t.refresh().updateWhereMoR(spark, LakePredicate.Eq("o_orderstatus", "O"),
      Map("o_orderpriority" -> lit("9-STAGED")), branch = Some("stage"))
    val staged = t.refresh().scanRef("stage").toDF(spark)
    assert(staged.count() === mainCount) // update preserves row count
    assert(staged.filter(col("o_orderstatus") === "O")
      .filter(col("o_orderpriority") =!= "9-STAGED").count() === 0L)
    assert(t.newScan().toDF(spark)
      .filter(col("o_orderpriority") === "9-STAGED").count() === 0L)
    assert(t.metadata.currentSnapshot.exists(_.deleteFiles.isEmpty))

    // MoR merge (eq-delete upsert) on the branch: replaced + new keys
    val upd = ordersDF.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val ins = ordersDF.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 700000000L)
    t.refresh().mergeIntoMoR(spark, upd.unionByName(ins), Seq("o_orderkey"),
      branch = Some("stage"))
    val merged = t.refresh().scanRef("stage").toDF(spark)
    assert(merged.count() === mainCount + 5)
    // replaced keys carry the doubled price exactly once each
    assert(merged.filter(col("o_orderkey") % 10 === 0 &&
      col("o_orderkey") < 700000000L).count() === upd.count())
    assert(t.refresh().newScan().toDF(spark).count() === mainCount) // main untouched

    // publish, then compact materializes the MoR state into clean files
    t.refresh().fastForward("stage")
    assert(t.refresh().newScan().toDF(spark).count() === mainCount + 5)
    t.refresh().compact(spark, targetFiles = 2)
    val cur = t.refresh().metadata.currentSnapshot.get
    assert(cur.deleteFiles.isEmpty && cur.eqDeleteFiles.isEmpty)
    val healed = t.newScan().toDF(spark)
    assert(healed.count() === mainCount + 5)
    // merged (%10) and inserted (+7e8) keys carry source priorities;
    // every other O row keeps the staged MoR update
    assert(healed.filter(col("o_orderstatus") === "O")
      .filter(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") < 700000000L)
      .filter(col("o_orderpriority") =!= "9-STAGED").count() === 0L)

    // a typo'd branch fails fast, before any source write
    intercept[NoSuchElementException](
      t.refresh().mergeIntoMoR(spark, upd, Seq("o_orderkey"), branch = Some("nope")))
  }

  test("ref retention: aged-out refs stop pinning history; ageless and pre-retention refs never expire") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "bret", ordersDF.schema)
    val first = t.appendData(ordersDF.limit(10))
    t.refresh().appendData(ordersDF.limit(5))

    // a short-lived tag and an ageless tag pin the same old snapshot
    t.refresh().createTag("ephemeral", first.snapshotId, maxRefAgeMs = Some(1L))
    t.refresh().createTag("forever", first.snapshotId)
    Thread.sleep(10)
    // the aged tag drops in the expiry pass; the ageless one still pins
    assert(t.refresh().expireSnapshots(keepLast = 1).isEmpty)
    assert(!t.refresh().refs.contains("ephemeral"))
    assert(t.refs.contains("forever"))
    assert(t.metadata.snapshot(first.snapshotId).isDefined)

    // drop the survivor: now nothing pins and the snapshot expires
    t.dropRef("forever")
    assert(t.refresh().expireSnapshots(keepLast = 1) === Seq(first.snapshotId))

    // table-property DEFAULT ages refs that carry no explicit max age —
    // but branch commits must not reset the clock (advance-in-place)
    val head2 = t.refresh().currentSnapshotId
    t.refresh().createBranch("stale")
    t.refresh().appendDataToBranch("stale", ordersDF.limit(3))
    val staleCreated = t.refresh().refs("stale").createdAtMs
    assert(staleCreated > 0L) // stamped at creation...
    assert(t.refs("stale").maxRefAgeMs.isEmpty)
    t.refresh().setProperty("history.expire.max-ref-age-ms", "1")
    Thread.sleep(10)
    t.refresh().appendData(ordersDF.limit(2)) // move main past the fork
    assert(t.refresh().expireSnapshots(keepLast = 1).nonEmpty)
    assert(!t.refresh().refs.contains("stale"))
    assert(t.metadata.snapshot(head2).isEmpty) // branch-pinned history freed

    // retention survives the metadata round trip (restart durability)
    t.removeProperty("history.expire.max-ref-age-ms")
    t.refresh().createTag("pinned", t.currentSnapshotId, maxRefAgeMs = Some(3600000L))
    val reopened = LakeCatalog.open(t.catalog.warehouse.toString).loadTable("ns", "bret")
    assert(reopened.refs("pinned").maxRefAgeMs === Some(3600000L))
    assert(reopened.refs("pinned").createdAtMs > 0L)

    intercept[IllegalArgumentException](
      t.refresh().createTag("bad", t.currentSnapshotId, maxRefAgeMs = Some(0L)))

    // an ACTIVELY advancing branch never ages out: a branch commit
    // refreshes the age basis (head snapshot time), so only idle time
    // counts — aging from frozen creation time would silently drop
    // actively staged work
    t.refresh().createBranch("active", maxRefAgeMs = Some(1500L))
    Thread.sleep(1600) // past the age measured from CREATION
    t.refresh().appendDataToBranch("active", ordersDF.limit(1))
    t.refresh().expireSnapshots(keepLast = 1)
    assert(t.refresh().refs.contains("active")) // fresh head keeps it
    Thread.sleep(1600) // now genuinely idle past the age
    t.refresh().expireSnapshots(keepLast = 1)
    assert(!t.refresh().refs.contains("active"))
  }

  test("racing branch mutations serialize: the loser revalidates against the new head") {
    val cat = LakeCatalog.open(freshWarehouse())
    val t = cat.createTable("ns", "brace2", ordersDF.schema)
    t.appendData(ordersDF, numFiles = 4)
    t.createBranch("stage")
    val pred = LakePredicate.Eq("o_orderstatus", "F")
    val staleBase = t.refresh().metadata.refs("stage").snapshotId
    // a branch append lands between a branch delete's read and commit:
    // the delete validating against the stale branch head must conflict
    t.refresh().appendDataToBranch("stage",
      ordersDF.limit(9).withColumn("o_orderkey", col("o_orderkey") + 700000000L))
    intercept[CommitConflictException] {
      t.refresh().commitSnapshot(LakeTable.CommitRequest.RowDelta("delete",
        LakeTable.RowLevelWrite(), Some((staleBase, pred)), branch = Some("stage")))
    }
    // the public op (with retries) converges on the post-append head
    t.refresh().deleteWhere(spark, pred, branch = Some("stage"))
    assert(t.refresh().scanRef("stage").toDF(spark)
      .filter(col("o_orderstatus") === "F").count() === 0L)
  }

  test("SQL surface: VERSION AS OF ref names, refs metadata table, WAP procedures") {
    val wh = freshWarehouse()
    spark.conf.set("spark.sql.catalog.wap", classOf[sql.LakeSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.wap.warehouse", wh)
    spark.sql("CREATE NAMESPACE wap.ns")
    spark.sql(s"CREATE TABLE wap.ns.t (${ordersDF.schema.toDDL})")
    val t = LakeCatalog.open(wh).loadTable("ns", "t")
    val base = ordersDF.filter(col("o_orderkey") % 2 === 0)
    t.appendData(base)
    spark.sql(s"CALL wap.system.create_tag('ns.t', 'v1', ${t.currentSnapshotId})")
    spark.sql("CALL wap.system.create_branch('ns.t', 'stage')")
    t.refresh().appendDataToBranch("stage", ordersDF.filter(col("o_orderkey") % 2 === 1))

    // ref-name time travel: the branch head and the tag, by name
    assert(spark.sql("SELECT count(*) FROM wap.ns.t VERSION AS OF 'stage'")
      .head.getLong(0) === ordersDF.count())
    assert(spark.sql("SELECT count(*) FROM wap.ns.t VERSION AS OF 'v1'")
      .head.getLong(0) === base.count())
    // main still at base until the audit passes...
    assert(spark.sql("SELECT count(*) FROM wap.ns.t").head.getLong(0) === base.count())
    val ff = spark.sql("CALL wap.system.fast_forward('ns.t', 'stage')").head
    assert(ff.getLong(1) > ff.getLong(0))
    assert(spark.sql("SELECT count(*) FROM wap.ns.t").head.getLong(0)
      === ordersDF.count())
    // refs metadata table: main + tag + branch
    val refs = spark.sql(
      "SELECT name, type FROM wap.ns.t.refs ORDER BY name").collect()
    assert(refs.map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("main", "branch"), ("stage", "branch"), ("v1", "tag")))
    spark.sql("CALL wap.system.drop_ref('ns.t', 'stage')")
    assert(spark.sql("SELECT count(*) FROM wap.ns.t.refs").head.getLong(0) === 2L)
  }
}
