package graft.olapsus

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the bridge-table merge (SURVEY.md §5.2):
  * idempotence, permutation sensitivity, deterministic dense id
  * assignment, and signature injectivity on generated cause lists. */
class CauseBridgeSpec extends SparkSpecBase {

  /** Deterministic ScalaCheck sampling (no scalatest-plus bridge in the
    * offline cache): n samples from fixed seeds. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  import spark.implicits._

  private val codes = Gen.oneOf("I219", "J189", "I48", "N40", "X999", "ZZZ9")
  private val causeList = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, codes))

  private lazy val dimCausa: DataFrame = Seq(
    (0, "0000"), (1, "I219"), (2, "I48"), (3, "J189"), (4, "N40"), (5, "X999"))
    .toDF("chave_causa", "codigo_CID")

  private def seedBridge: DataFrame =
    Seq((0, 0, 1)).toDF("chave_grupo_causa", "chave_causa", "ordem_causa")

  /** Build a minimal clean-shaped DF: one row per cause list; LINHAA
    * carries the first cause, LINHAII_arr the rest (orders 5+). */
  private def cleanOf(lists: Seq[Seq[String]]): DataFrame = {
    val rows = lists.zipWithIndex.map { case (cs, i) =>
      (i.toLong, cs.head, null: String, null: String, null: String, cs.tail)
    }
    rows.toDF("row_id", "LINHAA", "LINHAB", "LINHAC", "LINHAD", "LINHAII_arr")
  }

  test("idempotence: re-resolving the same lists creates no new groups") {
    samples(Gen.listOfN(5, causeList), 5).foreach { lists =>
      val first = CauseBridge.resolve(cleanOf(lists), dimCausa, seedBridge)
      val bridgeAfter = seedBridge.unionByName(first.newBridgeRows)
      val second = CauseBridge.resolve(cleanOf(lists), dimCausa, bridgeAfter)
      assert(second.newBridgeRows.isEmpty, s"new groups on re-resolve of $lists")
    }
  }

  test("same rows get the same group id; id assignment is deterministic") {
    samples(Gen.listOfN(4, causeList), 5).foreach { lists =>
      val dup = lists ++ lists // every list appears twice
      val r = CauseBridge.resolve(cleanOf(dup), dimCausa, seedBridge)
      val ids = r.resolved.select("row_id", "chave_grupo_causa")
        .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      lists.indices.foreach(i =>
        assert(ids(i.toLong) == ids((i + lists.size).toLong), s"dup rows diverged for $lists"))
      val r2 = CauseBridge.resolve(cleanOf(dup), dimCausa, seedBridge)
      val ids2 = r2.resolved.select("row_id", "chave_grupo_causa")
        .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      assert(ids == ids2, s"non-deterministic ids for $lists")
    }
  }

  test("precomputed signature lookup gives identical results to the recompute path") {
    samples(Gen.listOfN(4, causeList), 4).foreach { lists =>
      val first = CauseBridge.resolve(cleanOf(lists), dimCausa, seedBridge)
      val bridgeAfter = seedBridge.unionByName(first.newBridgeRows)
      val sigTable = CauseBridge.signatures(seedBridge)
        .unionByName(first.newSignatureRows)
      def ids(r: CauseBridge.Result) = r.resolved
        .select("row_id", "chave_grupo_causa")
        .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
      val viaTable = CauseBridge.resolve(
        cleanOf(lists), dimCausa, bridgeAfter, Some(sigTable))
      val viaRecompute = CauseBridge.resolve(cleanOf(lists), dimCausa, bridgeAfter)
      assert(viaTable.newBridgeRows.isEmpty, s"lookup path re-created groups for $lists")
      assert(ids(viaTable) == ids(viaRecompute), s"paths diverged for $lists")
    }
  }

  test("permutation sensitivity: order of causes changes the group") {
    // (A at ordem 1, B at ordem 5) vs (B at ordem 1, A at ordem 5)
    val r = CauseBridge.resolve(
      cleanOf(Seq(Seq("I219", "I48"), Seq("I48", "I219"))), dimCausa, seedBridge)
    val ids = r.resolved.select("chave_grupo_causa").collect().map(_.getInt(0)).toSet
    assert(ids.size == 2, "permuted cause lists must land in distinct groups")
  }

  test("unknown codes map to cause 0 and single-unknown matches seeded group 0") {
    val r = CauseBridge.resolve(cleanOf(Seq(Seq("ZZZ9"))), dimCausa, seedBridge)
    assert(r.newBridgeRows.isEmpty)
    assert(r.resolved.head().getAs[Int]("chave_grupo_causa") == 0)
  }

  test("bridge rows reproduce each group's full ordered cause list") {
    val r = CauseBridge.resolve(
      cleanOf(Seq(Seq("I219", "N40", "I48"))), dimCausa, seedBridge)
    val rows = r.newBridgeRows.orderBy("ordem_causa")
      .collect().map(x => (x.getInt(1), x.getInt(2))).toList
    // I219 → chave 1 at ordem 1; LINHAII: N40 → 4 at 5, I48 → 2 at 6
    assert(rows == List((1, 1), (4, 5), (2, 6)))
  }

  test("thousands of new groups: bridge ids == signature ids == fact ids == 1..n") {
    // 2,400 distinct ordered two-code lists over 60 codes, each seen on
    // eight rows. The bridge rows, the signature rows and the fact
    // mapping are separate evaluations and must agree on one numbering.
    val dim = (1 to 60).map(c => (c, f"C$c%03d")).toDF("chave_causa", "codigo_CID")
    val lists = (0 until 2400).map(i => Seq(f"C${i % 60 + 1}%03d", f"C${i / 60 + 1}%03d"))
    val r = CauseBridge.resolve(cleanOf(Seq.fill(8)(lists).flatten), dim, seedBridge)
    def check(what: String, df: DataFrame): Unit = {
      val ids = df.select("chave_grupo_causa").collect().map(_.getInt(0)).toSeq.distinct.sorted
      val dense = ids == (1 to lists.size)
      assert(dense, s"$what ids: ${ids.size} distinct, max ${ids.max}")
    }
    check("signature", r.newSignatureRows)
    assert(r.newSignatureRows.count() == lists.size, "a signature row per new group")
    check("bridge", r.newBridgeRows)
    check("fact", r.resolved)
    def bySig(df: DataFrame) = df.collect().map(x => x.getInt(0) -> x.getString(1)).toMap
    val same = bySig(CauseBridge.signatures(r.newBridgeRows)) == bySig(r.newSignatureRows)
    assert(same, "bridge rows and signature rows number the groups differently")
  }
}
