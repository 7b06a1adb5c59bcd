package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress data builder (round-11 stretch): replicate the
  * driver's sf0.1 tables C× (default 10 ≈ sf1) into a scratch dir
  * with SHIFTED KEYS, preserving the foreign-key structure and the
  * corpus's duplicate rate:
  *
  *  - each scaled table's primary key shifts by copyIndex × (max+1);
  *    foreign keys to scaled tables shift by the same constant, so
  *    every copy is a self-consistent universe and joins fan out 10×
  *    in ROWS, never in matches-per-key;
  *  - fixed dimensions (region, nation) copy unchanged — like real
  *    growth, the dim side of a broadcast join stays small;
  *  - document texts get a per-copy suffix token so cross-copy texts
  *    are NEAR- but not EXACT-duplicates — without it every doc gains
  *    9 identical twins and the dedup family degenerates into an
  *    artificial all-dup benchmark (n_chars is recomputed to stay
  *    consistent);
  *  - events keep their user ids (10× the events per user = denser
  *    sessions, the realistic direction for sessionization stress).
  *
  * NOT an oracle input — the correctness gate stays on the driver's
  * own parquet. This feeds [[BenchScaled]], the scale-cliff probe. */
object MakeScaledData {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def span(name: String, key: String): Long =
      tbl(name).agg(max(col(key))).head.getLong(0) + 1L

    val kCust = span("customer", "c_custkey")
    val kSupp = span("supplier", "s_suppkey")
    val kPart = span("part", "p_partkey")
    val kOrd = span("orders", "o_orderkey")
    val kDoc = span("documents", "doc_id")
    val kVec = span("embeddings", "vec_id")
    val kEv = span("events", "event_id")

    // Repartition the SMALL input BEFORE the crossJoin explosion and
    // write the exploded rows directly: the first cut repartitioned
    // AFTER the C× blow-up, i.e. a full shuffle of C× the bytes purely
    // to control file count — at C=1000 that is a ~60 GB lineitem
    // shuffle that exhausted local disk. Shuffling the 17 MB input to
    // `files` partitions gives the same file count and the same
    // parallelism with the explosion running map-side only.
    def scaled(df: DataFrame, shifts: Map[String, Long], files: Int)(
        extra: DataFrame => DataFrame): DataFrame = {
      val cols = df.columns
      val withC = df.repartition(files).crossJoin(
        broadcast(spark.range(copies.toLong).toDF("__c")))
      val shifted = shifts.foldLeft(withC) { case (d, (c, k)) =>
        d.withColumn(c, col(c) + col("__c") * k)
      }
      extra(shifted).select(cols.map(col).toIndexedSeq: _*)
    }

    def write(name: String, df: DataFrame, files: Int): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    write("region", tbl("region"), 1)
    write("nation", tbl("nation"), 1)
    write("customer", scaled(tbl("customer"), Map("c_custkey" -> kCust), 4)(identity), 4)
    write("supplier", scaled(tbl("supplier"), Map("s_suppkey" -> kSupp), 2)(identity), 2)
    write("part", scaled(tbl("part"), Map("p_partkey" -> kPart), 4)(identity), 4)
    write("orders", scaled(tbl("orders"),
      Map("o_orderkey" -> kOrd, "o_custkey" -> kCust), 8)(identity), 8)
    write("lineitem", scaled(tbl("lineitem"),
      Map("l_orderkey" -> kOrd, "l_partkey" -> kPart, "l_suppkey" -> kSupp),
      16)(identity), 16)
    write("events", scaled(tbl("events"), Map("event_id" -> kEv), 8)(identity), 8)
    write("documents", scaled(tbl("documents"), Map("doc_id" -> kDoc), 8) { d =>
      d.withColumn("text", concat(col("text"), lit(" v"), col("__c")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, 8)
    write("embeddings", scaled(tbl("embeddings"), Map("vec_id" -> kVec), 4)(
      identity), 4)

    println(s"SCALED src=$src dst=$dst copies=$copies")
    spark.stop()
  }
}
