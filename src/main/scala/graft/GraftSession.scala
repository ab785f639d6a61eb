package graft

import org.apache.spark.sql.SparkSession

/** The engine-owned Spark session configuration: one definition for
  * every main that plans or serves declared queries (Bench, QBench,
  * Explain, StageProf, Verify, demos and the serving
  * surfaces). Planner behavior is engine policy, so what the bench
  * measures is what every other surface ships.
  *
  * Config rationale:
  *   - shuffle partitions = core count (local mode has no reason for
  *     200); at cluster scale AQE coalescing is the partition-count
  *     governor either way.
  *   - AQE + partition coalescing on (the reference enables the same).
  *   - Join strategy: sort-merge → shuffled-hash ONLY via AQE's runtime
  *     rewrite, which checks the ACTUAL post-shuffle partition bytes
  *     against the 64 MB threshold. That is scale-safe regardless of
  *     estimates, because an SHJ build side (unlike sort-merge) cannot
  *     spill. The static `preferSortMergeJoin=false` is NOT set: it
  *     decides from ESTIMATED sizes and could OOM on a bad cardinality
  *     estimate. Operators that KNOW a side is a bounded aggregate
  *     force SHJ with an explicit `shuffle_hash` hint (d14/d16/d17's df
  *     semi-joins).
  *   - UTC session zone: the events loader refuses anything else (the
  *     TIMESTAMP_NTZ cast reads naive values in the session zone).
  */
object GraftSession {

  /** The driver-contract core count (`$SPARK_GRAFT_CPUS`). */
  def envCpus(default: String = "32"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
