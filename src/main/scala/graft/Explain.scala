package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit utility: prints the formatted physical plan for the named
  * queries (or a default audit set) at a given SF dir. Used to check
  * that filters/projections reach the parquet scan (PushedFilters /
  * ReadSchema), small sides broadcast, and operators stay inside
  * WholeStageCodegen.
  *
  *   sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q2_filter_project", "q3_star_join", "q10_topk_per_group",
        "d2_dedup_minhash_lsh", "d4_dedup_ngram_jaccard", "s7_ann_pq_topk",
        "s8_ann_ivfpq_topk", "q21_group_signature_ids", "t30_sequence_packing")
    // The shared engine session (GraftSession) guarantees committed
    // plans show exactly the planner policy the bench runs.
    val cpus = GraftSession.envCpus("4")
    val spark = GraftSession.builder("graft-explain", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      // Each query plans against an empty cache, as Bench and perfbench
      // run it: a frame an earlier query cached would otherwise show up
      // as an InMemoryTableScan in place of the scan the query runs.
      spark.sharedState.cacheManager.clearCache()
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
