package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level timing probe for the incremental-MV scenario — finds
  * which step goes superlinear at scale (round-15 sf10 triage). */
object MvProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/tmp/sf1"
    val spark = graft.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PHASE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = spark.read.parquet(s"$d/orders.parquet")
    val cat = graft.lake.LakeCatalog.open(
      java.nio.file.Files.createTempDirectory("mvprobe_").toString)
    val sumsOnly = args.length > 1 && args(1) == "sums"
    val base = cat.createTable("p", "b", src.schema)
    val viewFields = Seq(
      StructField("o_orderpriority", StringType),
      StructField("cnt", LongType), StructField("cents", LongType)) ++
      (if (sumsOnly) Nil else Seq(
        StructField("min_cents", LongType), StructField("max_cents", LongType)))
    val view = cat.createTable("p", "v", StructType(viewFields))
    val keys = Seq("o_orderpriority")
    val cents = expr("CAST(floor(o_totalprice * 100) AS LONG)")
    def refresh(tag: String) = t(s"refresh:$tag") {
      graft.lake.IncrementalAggView.refresh(spark, base, view, keys,
        Seq("cents" -> cents),
        mins = Seq("min_cents" -> cents), maxs = Seq("max_cents" -> cents))
    }
    def refreshAny(tag: String) =
      if (sumsOnly) t(s"refresh:$tag") {
        graft.lake.IncrementalAggView.refresh(spark, base, view, keys,
          Seq("cents" -> cents))
      } else refresh(tag)
    t("append1")(base.refresh().appendData(src, numFiles = 4))
    refreshAny("initial")
    t("delete>=400k")(base.refresh().deleteWhere(spark,
      graft.lake.LakePredicate.Ge("o_totalprice", Double.box(400000.0))))
    t("append2")(base.refresh().appendData(
      src.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)))
    t("changelog.count") {
      val b = base.refresh()
      println("  delta rows = " + b.changelog(spark,
        view.refresh().metadata.properties.get(
          graft.lake.IncrementalAggView.WatermarkProp).map(_.toLong)
          .getOrElse(0L), Some(b.metadata.currentSnapshotId)).count())
    }
    refreshAny("delete+append")
    t("updateF")(base.refresh().updateWhere(spark,
      graft.lake.LakePredicate.Eq("o_orderstatus", "F"),
      Map("o_orderpriority" -> lit("9-MOVED"))))
    refreshAny("update")
    spark.stop()
  }
}
