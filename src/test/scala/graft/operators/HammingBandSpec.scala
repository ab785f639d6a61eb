package graft.operators

import graft.{SparkEntry, SparkSpecBase}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The pigeonhole recall claim d7 and m7 rest on: banding a hash into
  * `bands` bands loses no pair within Hamming `bands - 1`, so the
  * uncapped [[Dedup.hammingBandPairs]] equals brute-force all-pairs at
  * that radius. Checked on generated corpora in both geometries. */
class HammingBandSpec extends SparkSpecBase {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** 120 hashes of `bits` bits around 8 random centres, each with up to
    * `maxFlips` random bits flipped, so pairs fall on both sides of the
    * radius. */
  private def corpus(bits: Int, maxFlips: Int): Gen[Seq[Long]] = for {
    centres <- Gen.listOfN(8, Gen.choose(0L, (1L << bits) - 1))
    hashes <- Gen.listOfN(120, for {
      c <- Gen.oneOf(centres)
      k <- Gen.choose(0, maxFlips)
      flips <- Gen.listOfN(k, Gen.choose(0, bits - 1))
    } yield flips.foldLeft(c)((h, i) => h ^ (1L << i)))
  } yield hashes

  private def bruteForce(hashes: Seq[Long], block: Long => String,
      maxHamming: Int): Seq[(Long, Long, String, Int)] = {
    val ids = hashes.indices.map(_.toLong)
    for {
      a <- ids; b <- ids if a < b && block(a) == block(b)
      h = java.lang.Long.bitCount(hashes(a.toInt) ^ hashes(b.toInt)) if h <= maxHamming
    } yield (a, b, block(a), h)
  }

  test("d7 geometry: 4x4-bit bands find every pair within Hamming 3") {
    samples(corpus(bits = 16, maxFlips = 6), 3).foreach { hashes =>
      val df = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h.toInt) }.toDF("doc_id", "simhash")
      val got = Dedup.hammingBandPairs(df, "simhash", bands = 4, bandBits = 4, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), "", r.getInt(2))).toSeq.sorted
      val want = bruteForce(hashes, _ => "", 3)
      assert(want.nonEmpty)
      assert(got == want, s"${got.size} banded vs ${want.size} brute-force pairs")
    }
  }

  test("m7 geometry: 14x4-bit bands within a block find every pair within Hamming 13") {
    val block = (id: Long) => Seq("image", "audio", "video")((id % 3).toInt)
    samples(corpus(bits = 56, maxFlips = 20), 3).foreach { hashes =>
      val df = hashes.zipWithIndex.map { case (h, i) => (i.toLong, block(i.toLong), h) }
        .toDF("doc_id", "media_type", "ph")
      val got = Dedup.hammingBandPairs(df, "ph", bands = 14, bandBits = 4, maxHamming = 13,
          block = Seq("media_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3))).toSeq.sorted
      val want = bruteForce(hashes, block, 13)
      assert(want.nonEmpty)
      assert(got == want, s"${got.size} banded vs ${want.size} brute-force pairs")
    }
  }

  test("d7's pairs are exactly the pairs of d3's simhashes within Hamming 3") {
    val d3 = SparkEntry.queries("d3_dedup_simhash")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val d7 = SparkEntry.queries("d7_simhash_hamming_pairs")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val ids = d3.keys.toSeq.sorted
    val want = for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(d3(a) ^ d3(b)) if h <= 3
    } yield (a, b, h)
    assert(want.nonEmpty)
    assert(d7 == want, s"d7 ${d7.size} pairs vs ${want.size} from d3's simhashes")
  }
}
