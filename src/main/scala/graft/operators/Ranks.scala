package graft.operators

import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Scale-safe global id assignment.
  *
  * `Window.orderBy(key)` with no partitionBy plans as a SINGLE-partition
  * sort — one task sorts (and holds) every row, the classic driver-shaped
  * bottleneck. This helper produces the identical `row_number()`-by-key
  * result from ONE parallel global sort: a range exchange puts keys in
  * partition order and each partition sorts its own rows, so global
  * order = (partition, local order). `zipWithIndex` then counts each
  * partition (one job over the sorted output) and numbers every row by
  * its partition's offset plus its local position.
  *
  * Both the counts and the numbering read the SAME shuffle output: the
  * range bounds are sampled once, when the sorted RDD is planned, and
  * every later evaluation of the result reuses that shuffle. Numbering
  * with a per-partition rank joined to per-partition offsets needs two
  * reads of the input instead; once a caller reads a column only the
  * rank side carries, column pruning makes the two range exchanges
  * differ, each samples its own bounds from shuffle output that arrives
  * in varying order, and ids come out duplicated and skipped.
  *
  * The plan work is eager: building the result runs the sort's shuffle
  * and the count job, and the result reads back as an RDD scan.
  */
object Ranks {

  /** Adds `idCol` = 1-based global row number by `key`.
    *
    * CONTRACT: `key` must be unique per row. With duplicate keys the ids
    * among ties depend on which range partition each tie lands in
    * (nondeterministic output), and range partitioning sends EVERY row
    * of a hot key to one partition (a 90% duplicate key re-creates the
    * single-task sort this helper exists to avoid). When rows are only
    * unique as a tuple, pass the full tuple to the composite overload:
    * ties then spread across range boundaries by the tiebreaker columns
    * and the order is total again. Dedupe first if dense_rank semantics
    * are wanted. */
  def globalRowNumber(df: DataFrame, key: Column, idCol: String): DataFrame =
    globalRowNumber(df, Seq(key), idCol)

  /** Composite-key variant: global row number by the (totally-ordering)
    * `keys` tuple. Range partitioning uses the whole tuple, so heavy
    * duplication in a prefix column is spread by the tiebreakers
    * instead of hotspotting one range (RanksSpec pins the balance). */
  def globalRowNumber(df: DataFrame, keys: Seq[Column], idCol: String): DataFrame = {
    val sorted = df.sort(keys: _*)
    val numbered = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1)) }
    df.sparkSession.createDataFrame(numbered, sorted.schema.add(idCol, LongType, nullable = false))
  }

  // NOTE on grouped top-k with few groups (the ANN per-query pattern):
  // no helper is needed. Spark's InferWindowGroupLimit turns a
  // `row_number() ≤ k` filter into WindowGroupLimit(Partial) BELOW the
  // window's exchange, so each input partition forwards at most k rows
  // per group — the lossless two-level funnel, built into physical
  // planning (PlanAuditSpec pins it on the ANN plans).
}
