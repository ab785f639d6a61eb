package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Filters and projections
  * declared downstream reach the scan (Parquet pushdown + pruning) because
  * we never materialize here — each call returns a lazy scan node.
  *
  * At 100 TB these would be directory-backed partitioned tables; the
  * loader is the single seam where that changes (swap path → table
  * identifier), so operators never hard-code storage layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema memo per (sfDir, table): `spark.read.parquet` with no
    * explicit schema runs a footer-reading DRIVER JOB on every call —
    * profiled at 30-60 ms per load, 1-3 loads per query construction,
    * per bench rep. The testdata tables are immutable for a process
    * lifetime (the driver regenerates them only between rounds), so the
    * schema is cacheable METADATA — exactly what a catalog/metastore
    * table (the 100 TB deployment shape) provides for free; no result
    * or data is memoized. Keyed by directory so mixed-SF sessions (the
    * specs) stay correct. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Drop every memoized schema. The memo is safe under the documented
    * immutability contract above; this hook exists for the one case
    * that contract doesn't cover — an in-JVM test (or tool) rewriting a
    * table under a reused path with a DIFFERENT schema, which would
    * otherwise read with the stale one silently. Mirrors
    * AnnIndex.build's invalidation of its own memo. */
  private[graft] def invalidateSchemas(): Unit = schemaCache.clear()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Small single-file tables scan as ONE partition; operators doing
    * heavy per-row work (hashing, HOFs, self-joins) must first spread
    * rows across cores or they run single-threaded. Cheap for small
    * tables; at 100 TB the scan is already many-partitioned and this is
    * a no-op.
    *
    * The partition estimate is metadata-only — `inputFiles` plus (when
    * the file count alone doesn't settle it) driver-side file sizes
    * against `files.maxPartitionBytes`. Never touches `df.rdd`, which
    * would force RDD lineage materialization on every loader call. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= p) df
    else {
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      val conf = spark.sparkContext.hadoopConfiguration
      val bytes = files.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(conf).getFileStatus(path).getLen
      }.sum
      if (bytes / math.max(maxBytes, 1L) >= p) df else df.repartition(p)
    }
  }

  /** Materialize a cached frame with ONE pass before a plan reads it
    * from multiple LEAF stages of the same job. Concurrent leaf stages
    * race to populate a cold cache and recompute overlapping partitions
    * (the BlockManager "already exists on this machine" churn); for a
    * corpus-heavy cache that is up to one duplicate tokenize/hash pass
    * per extra reader. One count job = one build, but it costs a job
    * submission, so the rule per site is:
    *   - prime only a build that SATURATES the machine, where racing
    *     readers duplicate CPU-bound work (d4's char-gram cache);
    *   - leave a cache unprimed when its racing readers back-fill idle
    *     cores instead (d13's word shingles, c2's fused corpus frame);
    *   - overlap independent work only into an IDLE driver window (c5's
    *     lexical drop set during Lloyd's collects), never beside a
    *     CPU-saturating job (d17's connected components). */
  private[graft] def prime(df: DataFrame): DataFrame = { df.count(); df }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as raw nanos
    * via legacy long mode — and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. Both
    * normalize to the SAME TimestampType micros column every downstream
    * consumer (unix_micros, watermarks, date_format) and every DuckDB
    * oracle (`CAST(ts AS TIMESTAMP)`) sees, so the storage layout never
    * leaks past this loader. Nanos truncate with integer `div` (not `/`
    * — ns-since-epoch exceeds double's 2^53); the NTZ cast interprets
    * the naive value in the session time zone, which is pinned UTC by
    * every entrypoint (Bench/Verify/Cli/specs), matching DuckDB's naive
    * read of the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** The ONE place that maps a physical events.ts layout to the
    * TimestampType micros column consumers see — used by the batch
    * loader above and the streaming reader
    * ([[graft.streaming.EventStream.readEvents]]); a third generator
    * layout extends THIS match and both surfaces follow. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // The NTZ→Timestamp cast interprets the naive value in the
        // SESSION time zone. Every entrypoint pins it to UTC; a session
        // built without that config would silently shift every event by
        // the JVM zone offset — fail loudly instead of skewing results.
        val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
        require(
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
          s"events.ts is TIMESTAMP_NTZ and its cast to TIMESTAMP reads the naive value " +
            s"in the session zone; set spark.sql.session.timeZone=UTC (got '$tz') " +
            "so both engines read the same instants")
        df.withColumn("ts", df("ts").cast("timestamp"))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Shared column helpers keeping Spark output bit-identical to the DuckDB
  * oracle.
  *
  * Money/measure sums: summing IEEE doubles is order-dependent, and Spark's
  * parallel partial aggregation visits rows in a different order than
  * DuckDB. Casting each addend to DECIMAL first makes the sum exact and
  * order-independent; the final cast back to DOUBLE is then deterministic
  * on both engines.
  */
object Exact {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Order-independent SUM of a 2-dp money column → DOUBLE. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Order-independent SUM of a derived measure at 6 dp → DOUBLE. */
  def dsum6(c: Column): Column = sum(c.cast("decimal(27,6)")).cast("double")

  /** Exact average: decimal sum divided by count, division done in DOUBLE
    * (deterministic given identical operands on both engines). */
  def davg(c: Column): Column =
    (sum(c.cast("decimal(18,2)")).cast("double") / count(c)).as("avg")
}
