package graft.olapsus

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** The bridge-table merge — the one genuinely stateful operator in the
  * reference (dags/spark_script_sim.py:130-255): each death carries an
  * ordered list of ICD causes; identical (cause, order) lists share one
  * `chave_grupo_causa`, and new lists get dense new ids appended to
  * `ponteGrupoCausas`.
  *
  * The canonical signature format must be preserved exactly or group
  * identities drift across runs: per element `"$chave_causa:$ordem"`,
  * elements sorted by `ordem`, joined by `"|"` (sim.py:181-192).
  *
  * Scale notes: the per-row aggregation partitions on row_id (map-side
  * combine). New-group id assignment keeps the reference's semantics
  * (dense ids in signature order continuing from max+1, sim.py:214-227)
  * but NOT its single-partition `row_number()` window: ids come from
  * [[graft.operators.Ranks.globalRowNumber]] — one parallel range sort
  * by signature, numbered by partition offset plus local position — so
  * no task ever sorts more than its own partition, and the bridge rows,
  * the signature rows and the fact mapping all read the same numbering.
  * The single-writer assumption (read-before-write merge) is unchanged.
  */
object CauseBridge {

  final case class Result(
      resolved: DataFrame, newBridgeRows: DataFrame, newSignatureRows: DataFrame)

  /** Attach `chave_grupo_causa` to each row of `clean` (needs `row_id`,
    * LINHAA..D, LINHAII_arr) and return the bridge rows (and signature
    * lookup rows) to append for groups not yet in `bridge`.
    *
    * `knownSignatures` is the incrementally-maintained
    * (chave_grupo_causa, group_signature) lookup table, so the merge
    * joins against it instead of re-deriving every existing group's
    * signature from the exploded bridge rows (an explode + sort +
    * collect_list over ALL groups, every batch). It must hold exactly
    * [[signatures]] of `bridge`. */
  def resolve(clean: DataFrame, dimCausa: DataFrame, bridge: DataFrame,
      knownSignatures: DataFrame): Result = {
    val spark = clean.sparkSession

    // Per-row (ordem, codigo) cause list: LINHA A-D are orders 1-4,
    // LINHAII elements continue from 5 (sim.py:149-158).
    val arrays = clean
      .select(col("row_id"), col("LINHAA"), col("LINHAB"), col("LINHAC"), col("LINHAD"),
        coalesce(col("LINHAII_arr"), array()).as("LINHAII_arr"))
      .withColumn(
        "all_causes",
        concat(
          array(struct(lit(1).as("ordem"), col("LINHAA").as("codigo"))),
          array(struct(lit(2).as("ordem"), col("LINHAB").as("codigo"))),
          array(struct(lit(3).as("ordem"), col("LINHAC").as("codigo"))),
          array(struct(lit(4).as("ordem"), col("LINHAD").as("codigo"))),
          expr("transform(LINHAII_arr, (x, i) -> struct(cast(i + 5 as int) as ordem, x as codigo))")))

    val stacked = arrays
      .select(col("row_id"), explode(col("all_causes")).as("ci"))
      .select(col("row_id"), col("ci.ordem").as("ordem_causa"), col("ci.codigo").as("cid_codigo"))
      .filter(col("cid_codigo").isNotNull && col("cid_codigo") =!= "")

    // Unknown ICD code → cause key 0 (sim.py:171-175).
    val mapped = stacked
      .join(broadcast(dimCausa.select(col("codigo_CID").as("cid_codigo"), col("chave_causa"))),
        Seq("cid_codigo"), "left")
      .na.fill(0, Seq("chave_causa"))

    val groups = mapped
      .withColumn("item_sig", concat_ws(":", col("chave_causa"), col("ordem_causa")))
      .withColumn("causa_struct", struct(col("chave_causa"), col("ordem_causa")))
      .groupBy("row_id")
      .agg(
        array_sort(collect_list(struct(col("ordem_causa"), col("item_sig")))).as("sig_sorted"),
        array_sort(collect_list(struct(col("ordem_causa"), col("causa_struct")))).as("causes_sorted"))
      .select(
        col("row_id"),
        concat_ws("|", expr("transform(sig_sorted, x -> x.item_sig)")).as("group_signature"),
        expr("transform(causes_sorted, x -> x.causa_struct)").as("causes_list"))

    val existing = knownSignatures
      .select(col("chave_grupo_causa").as("existing_group_id"), col("group_signature"))
    val nextId: Long = bridge.agg(max("chave_grupo_causa")).head().get(0) match {
      case null => 1L
      case m: Number => m.longValue() + 1
    }

    val merged = groups.join(broadcast(existing), Seq("group_signature"), "left")

    val newGroups = graft.operators.Ranks.globalRowNumber(
        merged.filter(col("existing_group_id").isNull)
          .select("group_signature", "causes_list").distinct(),
        col("group_signature"), "sig_rank")
      .withColumn("new_group_id", col("sig_rank") + lit(nextId - 1))
      .drop("sig_rank")

    val newBridgeRows = newGroups
      .select(col("new_group_id").as("chave_grupo_causa"), explode(col("causes_list")).as("cs"))
      .select(
        col("chave_grupo_causa").cast("int"),
        col("cs.chave_causa").as("chave_causa"),
        col("cs.ordem_causa").cast("int").as("ordem_causa"))

    val mapping = merged
      .join(broadcast(newGroups.select("group_signature", "new_group_id")), Seq("group_signature"), "left")
      .withColumn("final_group_id",
        coalesce(col("existing_group_id"), col("new_group_id")).cast("int"))

    val resolved = clean.join(
      mapping.select(col("row_id"), col("final_group_id").as("chave_grupo_causa")),
      Seq("row_id"), "left")

    val newSignatureRows = newGroups.select(
      col("new_group_id").cast("int").as("chave_grupo_causa"),
      col("group_signature"))

    Result(resolved, newBridgeRows, newSignatureRows)
  }

  /** Canonical signature per existing bridge group, derived from the
    * bridge rows (explode + sort + collect_list over every group). Used
    * to BOOTSTRAP the incrementally-maintained signature lookup table. */
  def signatures(bridge: DataFrame): DataFrame =
    bridge.withColumn("item_sig", concat_ws(":", col("chave_causa"), col("ordem_causa")))
      .groupBy("chave_grupo_causa")
      .agg(array_sort(collect_list(struct(col("ordem_causa"), col("item_sig")))).as("sig_sorted"))
      .select(col("chave_grupo_causa"),
        concat_ws("|", expr("transform(sig_sorted, x -> x.item_sig)")).as("group_signature"))
}
