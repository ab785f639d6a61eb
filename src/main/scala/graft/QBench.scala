package graft

import org.apache.spark.sql.SparkSession

/** Single-query timing harness for iterating on one operator without the
  * full bench sweep: runs each named query `reps` times (first run is the
  * warm-up) and prints per-run wall times.
  *
  *   sbt "runMain graft.QBench <sfDir> <reps> <query> [query ...]"
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = if (args.length > 2) args.drop(2).toSeq else Seq("q1_agg")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-qbench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val times = (0 until reps).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, rows)
      }
      // Locale.ROOT: a comma-decimal default locale would break a
      // parse of the times= list.
      def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", v)
      println(s"QBENCH $n rows=${times.head._2} times=${times.map(t => fmt(t._1)).mkString(",")}")
    }
    spark.stop()
  }
}
