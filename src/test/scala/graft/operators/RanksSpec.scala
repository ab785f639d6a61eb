package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins [[Ranks.globalRowNumber]]'s contract: correct global ids, no
  * data-wide single-partition sort, and — for the composite-key
  * overload — no range hotspot under a heavily duplicated prefix key. */
class RanksSpec extends SparkSpecBase {

  test("composite keys: ids follow the total tuple order") {
    import spark.implicits._
    // 90% of rows share grp=0; (grp, sub) is unique.
    val df = spark.range(0, 10000).toDF("sub")
      .withColumn("grp", when(col("sub") % 10 === 0, col("sub") % 7 + 1).otherwise(0L))
    val ranked = Ranks.globalRowNumber(df, Seq(col("grp"), col("sub")), "gid")
    val rows = ranked.select("grp", "sub", "gid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = rows.map { case (g, s, _) => (g, s) }.sorted
      .zipWithIndex.map { case (k, i) => (k, i + 1L) }.toMap
    assert(rows.forall { case (g, s, id) => expected((g, s)) == id })
  }

  test("composite keys spread a 90%-duplicate prefix key across ranges") {
    import spark.implicits._
    val df = spark.range(0, 10000).toDF("sub")
      .withColumn("grp", when(col("sub") % 10 === 0, col("sub") % 7 + 1).otherwise(0L))
    // Single-key range partitioning would put the 9000 grp=0 rows in ONE
    // range; with the tiebreaker in the range key the biggest partition
    // must stay near the 10000/8 average.
    val sizes = df.repartitionByRange(8, col("grp"), col("sub"))
      .groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    assert(sizes.max <= 3 * 10000 / 8,
      s"hot prefix key still hotspots a range partition: ${sizes.mkString(",")}")
  }

  test("ids stay 1..n in key order when a caller reads a column only the ranked rows carry") {
    // 200k rows collapse to 5,000 keys. Reading `payload` after ranking
    // lets column pruning narrow any second read of the input, so the
    // numbering must come from ONE partitioning of the rows or ids are
    // duplicated and skipped.
    val df = spark.range(0, 200000)
      .select(md5((col("id") % 5000).cast("string")).as("k"), (col("id") % 5000).as("payload"))
      .distinct()
    val ranked = Ranks.globalRowNumber(df, col("k"), "gid")
    for (_ <- 1 to 3) {
      val rows = ranked.select("k", "payload", "gid").collect()
        .map(r => (r.getString(0), r.getLong(2)))
      val ids = rows.map(_._2)
      val dense = ids.sorted.toSeq == (1L to 5000L)
      assert(dense, s"ids are not 1..5000: ${ids.distinct.length} distinct, max ${ids.max}")
      val ordered = rows.sortBy(_._1).map(_._2).toSeq == (1L to 5000L)
      assert(ordered, "ids do not follow key order")
    }
  }
}
