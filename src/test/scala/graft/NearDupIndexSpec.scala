package graft

import graft.operators.{Dedup, NearDupIndex}
import graft.streaming.DocStream
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** The incremental near-dup index must converge to exactly the batch
  * operator's pair set, regardless of how the corpus is batched — and
  * replays must be no-ops. */
class NearDupIndexSpec extends SparkSpecBase {

  private def fullPairs = Dedup.d2MinHashLsh.run(spark, sf())
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def indexPairs(root: String) = NearDupIndex.pairs(spark, root)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental adds over two batches equal the batch d2 pair set") {
    val root = Files.createTempDirectory("neardup-idx").toString
    val docs = Tables.documents(spark, sf())
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val n1 = NearDupIndex.addDocuments(spark, half1, root)
    val n2 = NearDupIndex.addDocuments(spark, half2, root)
    assert(n1 + n2 == fullPairs.size.toLong, s"pair counts: $n1 + $n2 vs ${fullPairs.size}")
    assert(indexPairs(root) == fullPairs)
    // Replay: already-indexed docs are skipped, nothing appended.
    assert(NearDupIndex.addDocuments(spark, half2, root) == 0L)
    assert(indexPairs(root) == fullPairs)
  }

  test("appends refuse an index stamped with a different hash family") {
    val root = Files.createTempDirectory("neardup-idx-family").toString
    val docs = Tables.documents(spark, sf())
    NearDupIndex.addDocuments(spark, docs.filter(col("doc_id") % 2 === 0), root)
    // Forge an index built by an older minhash family: band keys from
    // different families never collide, so appending would silently lose
    // every new-vs-old pair — the gate must fail fast instead. (Forged
    // through the Hadoop FS so the local checksum sidecar stays valid.)
    Persist.writeMarker(spark, s"$root/_family", "minhash/1;salted-md5-per-hash")
    val ex = intercept[IllegalStateException] {
      NearDupIndex.addDocuments(spark, docs.filter(col("doc_id") % 2 === 1), root)
    }
    assert(ex.getMessage.contains("hash family"))
    // An UNSTAMPED index (predates stamping) must also refuse.
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_family"))
    intercept[IllegalStateException] {
      NearDupIndex.addDocuments(spark, docs.filter(col("doc_id") % 2 === 1), root)
    }
    // Restoring the current stamp lets the append proceed to convergence.
    Persist.writeMarker(spark, s"$root/_family", Dedup.hashFamilyId)
    NearDupIndex.addDocuments(spark, docs.filter(col("doc_id") % 2 === 1), root)
    assert(indexPairs(root) == fullPairs)
  }

  test("curateAgainstPairs refuses a stale-family pair table") {
    val table = Files.createTempDirectory("neardup-pairs-family").resolve("pairs").toString
    operators.Curation.persistNearDupPairs(spark, sf(), table)
    // Freshly persisted table carries the current stamp and is accepted.
    assert(operators.Curation.curateAgainstPairs(spark, sf(), table).count() > 0)
    Persist.writeMarker(spark, s"$table/_family", "minhash/1;salted-md5-per-hash")
    intercept[IllegalStateException] {
      operators.Curation.curateAgainstPairs(spark, sf(), table)
    }
  }

  test("a duplicate-free corpus leaves a pairless index that still reads, compacts and curates") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("neardup-nodup").toString
    // Fully distinct shingle spaces: no near-dup pair can exist.
    (0L until 30L).map(i =>
      (i, (0 until 25).map(t => s"w${i}_$t").mkString(" "), "en", "web", 150L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val root = Files.createTempDirectory("neardup-idx-nodup").toString
    assert(NearDupIndex.addDocuments(spark, Tables.documents(spark, tmp), root) == 0L)
    // The pairs dir holds only the family stamp — reads must return the
    // empty set, not crash parquet schema inference.
    assert(NearDupIndex.pairs(spark, root).isEmpty)
    val compacted = NearDupIndex.compact(spark, root)
    assert(!compacted.contains("pairs"), compacted.toString) // data-less: skipped
    assert(operators.Curation.curateAgainstPairs(spark, tmp, s"$root/pairs").count() > 0)
    // Replay stays a no-op and later batches still work.
    assert(NearDupIndex.addDocuments(spark, Tables.documents(spark, tmp), root) == 0L)
  }

  test("compaction merges append files, keeps the pair set, and preserves the family stamp") {
    val root = Files.createTempDirectory("neardup-idx-compact").toString
    val docs = Tables.documents(spark, sf())
    (0 until 4).foreach(i =>
      NearDupIndex.addDocuments(spark, docs.filter(col("doc_id") % 4 === i), root))
    assert(indexPairs(root) == fullPairs)
    def parquetFiles(p: String) =
      java.nio.file.Files.list(java.nio.file.Paths.get(p)).toArray
        .map(_.toString).count(_.endsWith(".parquet"))
    assert(parquetFiles(s"$root/shingles") >= 4) // one per batch
    val counts = NearDupIndex.compact(spark, root)
    assert(counts.keySet == Set("pairs", "bands", "shingles"))
    Seq("pairs", "bands", "shingles").foreach(t =>
      assert(parquetFiles(s"$root/$t") == 1, s"$t not merged"))
    assert(indexPairs(root) == fullPairs)
    // The family stamp survived the rewrite: appends still pass the gate
    // and replay stays a no-op against the compacted tables.
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_family")))
    assert(NearDupIndex.addDocuments(spark, docs, root) == 0L)
  }

  test("streaming file-batches maintain the same index") {
    val landing = Files.createTempDirectory("neardup-landing")
    val root = Files.createTempDirectory("neardup-idx-stream").toString
    val docs = Tables.documents(spark, sf())
    docs.filter(col("doc_id") % 2 === 0)
      .write.parquet(landing.resolve("b0").toString)
    docs.filter(col("doc_id") % 2 === 1)
      .write.parquet(landing.resolve("b1").toString)
    // Two directories of files drained one file per micro-batch: the
    // index must not depend on batch boundaries.
    val q = DocStream.indexDocuments(
      spark, s"$landing/*", root, docs.schema)
    q.awaitTermination()
    assert(indexPairs(root) == fullPairs)
  }
}
