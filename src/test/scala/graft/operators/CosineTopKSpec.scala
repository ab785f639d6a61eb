package graft.operators

import graft.SparkSpecBase
import graft.functions.VectorFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Similarity.cosineTopK]] against a driver-side brute force built on
  * [[Similarity.dotL]], on generated small vector sets: a third of the
  * rows copy one of a few base vectors (exact-cosine ties), and one of
  * the three key groups is rare (groups with fewer than k candidates). */
class CosineTopKSpec extends SparkSpecBase {

  import spark.implicits._

  private val Dim = 4
  private val k = 5

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val vec: Gen[Seq[Long]] = for {
    h <- Gen.choose(1L, 4L)
    t <- Gen.listOfN(Dim - 1, Gen.choose(-4L, 4L))
  } yield h +: t

  /** (key, vector) rows; vec_id is the row index. */
  private val corpus: Gen[IndexedSeq[(Int, Seq[Long])]] = for {
    n <- Gen.choose(12, 30)
    base <- Gen.listOfN(4, vec)
    rows <- Gen.listOfN(n, for {
      key <- Gen.frequency(5 -> 0, 5 -> 1, 1 -> 2)
      v <- Gen.frequency(2 -> vec, 1 -> Gen.oneOf(base))
    } yield (key, v))
  } yield rows.toIndexedSeq

  private def frame(rows: IndexedSeq[(Int, Seq[Long])]): DataFrame =
    rows.zipWithIndex.map { case ((key, v), i) => (i.toLong, key, v) }
      .toDF("vec_id", "key", "qv")
      .withColumn("nrm", VectorFns.norm2(col("qv")))

  /** (query_id, vec_id, rnk, cos) for the corpus queries vec_id < NQ. */
  private def bruteForce(rows: IndexedSeq[(Int, Seq[Long])],
      excludeSelf: Boolean): Seq[(Long, Long, Int, Double)] = {
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val (x, y) = (a.toArray, b.toArray)
      Similarity.dotL(x, y).toDouble /
        (math.sqrt(Similarity.dotL(x, x).toDouble) * math.sqrt(Similarity.dotL(y, y).toDouble))
    }
    for {
      q <- rows.indices.take(Similarity.NQ)
      ranked = rows.indices
        .filter(c => rows(c)._1 == rows(q)._1 && !(excludeSelf && c == q))
        .map(c => (c.toLong, cos(rows(q)._2, rows(c)._2)))
        .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
        .take(k)
      ((c, s), r) <- ranked.zipWithIndex
    } yield (q.toLong, c, r + 1, s)
  }

  private def topK(rows: IndexedSeq[(Int, Seq[Long])],
      excludeSelf: Boolean): Seq[(Long, Long, Int, Double)] = {
    val vecs = frame(rows)
    val on = col("key") === col("q_key")
    Similarity.cosineTopK(vecs, Similarity.queryHead(vecs, col("key").as("q_key")),
        if (excludeSelf) on && Similarity.NotSelf else on, k)
      .select("query_id", "vec_id", "rnk", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._3))
  }

  test("corpus queries: equals brute force, ties to the lower vec_id, no padding, never itself") {
    val cases = samples(corpus, 10)
    var ties, short = 0
    cases.foreach { rows =>
      val got = topK(rows, excludeSelf = true)
      assert(got == bruteForce(rows, excludeSelf = true))
      assert(got.forall(r => r._1 != r._2), "a corpus query returned itself")
      val byQuery = got.groupBy(_._1)
      ties += byQuery.values.count(rs => rs.sliding(2).exists {
        case Seq(a, b) => a._4 == b._4
        case _ => false
      })
      short += byQuery.values.count(_.size < k)
    }
    // Both properties must actually be exercised by the generated sets.
    assert(ties > 0, "no exact-cosine tie inside any top-k")
    assert(short > 0, "no query had fewer than k candidates")
  }

  test("without self-exclusion (the searchIvf case) an exact copy comes back at rank 1") {
    samples(corpus, 10).foreach { rows =>
      val got = topK(rows, excludeSelf = false)
      assert(got == bruteForce(rows, excludeSelf = false))
      val first = got.filter(_._3 == 1)
      assert(first.map(_._1) == rows.indices.take(Similarity.NQ).map(_.toLong))
      first.foreach { case (q, c, _, _) =>
        assert(rows(c.toInt)._2 == rows(q.toInt)._2, s"query $q: rank 1 is $c, not a copy")
        assert(c <= q, s"query $q: rank 1 is $c, above its own row")
      }
    }
  }
}
