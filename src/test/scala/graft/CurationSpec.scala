package graft

import graft.operators.Curation
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The persisted-pair-table curation path must agree byte-for-byte with
  * the inline c1 pipeline (whose values the DuckDB oracle gate pins). */
class CurationSpec extends SparkSpecBase {

  test("curation against a persisted near-dup pair table equals the inline DAG") {
    val table = Files.createTempDirectory("graft-pairs").resolve("neardup_pairs").toString
    val nPairs = Curation.persistNearDupPairs(spark, sf(), table)
    assert(nPairs >= 0L)
    val inline = Curation.c1Curation.run(spark, sf())
      .collect().map(_.toString).sorted.toSeq
    val persisted = Curation.curateAgainstPairs(spark, sf(), table)
      .collect().map(_.toString).sorted.toSeq
    assert(persisted == inline)
    assert(inline.nonEmpty)
  }

  test("curation composes with the incrementally-built index") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-idx-curate").toString
    val docs = Tables.documents(spark, sf())
    graft.operators.NearDupIndex.addDocuments(
      spark, docs.filter(col("doc_id") % 2 === 0), root)
    graft.operators.NearDupIndex.addDocuments(
      spark, docs.filter(col("doc_id") % 2 === 1), root)
    val viaIndex = Curation.curateAgainstPairs(spark, sf(), s"$root/pairs")
      .collect().map(_.toString).sorted.toSeq
    val inline = Curation.c1Curation.run(spark, sf())
      .collect().map(_.toString).sorted.toSeq
    assert(viaIndex == inline)
  }

  test("persisted pairs reload with the d2 schema") {
    val table = Files.createTempDirectory("graft-pairs2").resolve("neardup_pairs").toString
    Curation.persistNearDupPairs(spark, sf(), table)
    val cols = spark.read.parquet(table).columns.toSet
    assert(Set("doc_a", "doc_b").subsetOf(cols), cols.mkString(","))
  }

  test("c2 funnel is monotone per language, starts at the corpus, and reconciles drops") {
    val f = Curation.c2CurationFunnel.run(spark, sf()).cache()
    // Stage 1 counts the raw corpus exactly.
    val rawTotal = f.filter(col("stage_idx") === 1).agg(sum("n_docs")).head().getLong(0)
    assert(rawTotal == Tables.documents(spark, sf()).count())
    // Each stage can only shrink its stratum, and n_dropped must equal
    // the step difference (rows are per-lang so a window re-derivation
    // must agree with the operator's own column).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("stage_idx")
    val bad = f
      .withColumn("prev", lag(col("n_docs"), 1).over(w))
      .filter(col("prev").isNotNull &&
        (col("n_docs") > col("prev") || col("n_dropped") =!= col("prev") - col("n_docs")))
    assert(bad.isEmpty, bad.collect().mkString("; "))
    // The funnel's terminal stage totals must match c1's census total.
    val c1Total = Curation.c1Curation.run(spark, sf()).agg(sum("n_docs")).head().getLong(0)
    val funnelFinal = f.filter(col("stage_idx") === 4).agg(sum("n_docs")).head().getLong(0)
    assert(funnelFinal == c1Total)
    f.unpersist()
  }

  test("c2 funnel counts null-text documents in every stage total") {
    import spark.implicits._
    // The exact-dedup winner join keys on h = md5(text), which is NULL
    // for a null-text document — an inner join (the pre-r12 shape)
    // erased such rows from EVERY stage count including n_raw, while
    // the DuckDB oracle's raw CTE counts all documents. Testdata has no
    // null texts, so only a forged corpus can pin the left-join fix.
    val tmp = java.nio.file.Files.createTempDirectory("graft-c2null").toString
    val t30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val t25 = (1 to 25).map(i => s"x$i").mkString(" ")
    Seq((1L, Option(t30), "en"), (2L, Option.empty[String], "en"),
        (3L, Option(t25), "pt"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val f = Curation.c2CurationFunnel.run(spark, tmp)
      .select("lang", "stage_idx", "n_docs").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // Raw counts BOTH en docs (the null-text one included); the
    // null-text doc then drops at the quality gate, never silently.
    assert(f(("en", 1)) == 2L, s"null-text doc vanished from n_raw: $f")
    assert(f(("en", 2)) == 1L && f(("pt", 1)) == 1L && f(("pt", 2)) == 1L, f.toString)
  }

  test("c4 group-aware splits leak ZERO near-dup pairs and only move clustered docs") {
    val labels = Curation.c4GroupSplitLabelsForTest(spark, sf()).cache()
    // The property c4 exists for: no near-dup pair straddles splits.
    val pairs = graft.operators.Dedup.d2MinHashLsh.run(spark, sf())
      .select("doc_a", "doc_b")
    val la = labels.select(col("doc_id").as("doc_a"), col("split").as("sa"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("split").as("sb"))
    val straddling = pairs.join(la, Seq("doc_a")).join(lb, Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
    assert(straddling.isEmpty, straddling.collect().mkString("; "))
    // Reassignment only ever touches clustered documents.
    val clustered = graft.operators.Dedup.d6Clusters.run(spark, sf()).select("doc_id")
    val movedOutside = labels.filter(col("split") =!= col("own_split"))
      .join(clustered, Seq("doc_id"), "anti")
    assert(movedOutside.isEmpty, "a singleton doc was reassigned")
    // Census totals cover the whole corpus exactly once.
    val census = Curation.c4GroupSplit.run(spark, sf())
    assert(census.agg(sum("n_docs")).head().getLong(0)
      == Tables.documents(spark, sf()).count())
    labels.unpersist()
  }

  test("fromPersisted serves every pair-consuming artifact equal to its inline operator") {
    val work = Files.createTempDirectory("graft-from-persisted")
    val textPairs = work.resolve("text_pairs").toString
    val embPairs = work.resolve("emb_pairs").toString
    Curation.persistNearDupPairs(spark, sf(), textPairs)
    Curation.persistEmbeddingPairs(spark, sf(), embPairs)
    val fp = Curation.fromPersisted(spark, sf(), textPairs, Some(embPairs))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // Each persisted-path artifact must be byte-identical to the inline
    // recomputation the oracle gate pins.
    assert(rows(fp.census) == rows(Curation.c1Curation.run(spark, sf())))
    assert(rows(fp.funnel) == rows(Curation.c2CurationFunnel.run(spark, sf())))
    assert(rows(fp.leakage) == rows(Curation.c3SplitLeakage.run(spark, sf())))
    assert(rows(fp.groupSplit) == rows(Curation.c4GroupSplit.run(spark, sf())))
    assert(rows(fp.canonicalDocs)
      == rows(graft.operators.Dedup.d9CanonicalDocs.run(spark, sf())))
    assert(rows(fp.canonicalVectors)
      == rows(graft.operators.Dedup.d12CanonicalVectors.run(spark, sf())))
    assert(rows(fp.actionPlan)
      == rows(graft.operators.Dedup.d17DedupActionPlan.run(spark, sf())))
    assert(rows(fp.canonicalDocs).nonEmpty && rows(fp.canonicalVectors).nonEmpty)
    // c5 from storage on BOTH sides: lexical drops off the pair table,
    // semantic dominance off the persisted ANN index (no retraining) —
    // byte-identical to the inline composition, and the semantic stage
    // must be LIVE (strictly fewer survivors than c1's census).
    val annRoot = graft.operators.AnnIndex.defaultRoot(sf())
    graft.operators.AnnIndex.ensureBuilt(spark, sf(), annRoot)
    val semCensus = rows(fp.semanticCensus(annRoot))
    assert(semCensus == rows(Curation.c5SemanticCuration.run(spark, sf())))
    def totalDocs(rs: Seq[String]): Long = // census rows are [lang,split,n_docs,total_tokens]
      rs.map(_.stripPrefix("[").stripSuffix("]").split(",")(2).toLong).sum
    assert(totalDocs(semCensus) < totalDocs(rows(fp.census)),
      "the semantic stage dropped nothing — c5 is inert at this SF")
  }

  test("fromPersisted refuses pair tables stamped with the wrong hash family") {
    val work = Files.createTempDirectory("graft-family-check")
    val textPairs = work.resolve("text_pairs").toString
    val embPairs = work.resolve("emb_pairs").toString
    Curation.persistNearDupPairs(spark, sf(), textPairs)
    Curation.persistEmbeddingPairs(spark, sf(), embPairs)
    // Forge a family drift: an embedding table restamped under the TEXT
    // family (e.g. a path mixup) and a text table under a stale family.
    Persist.writeMarker(spark, s"$embPairs/_family", "emblsh/0;stale")
    Persist.writeMarker(spark, s"$textPairs/_family", "minhash/1;stale")
    val fp = Curation.fromPersisted(spark, sf(), textPairs, Some(embPairs))
    intercept[IllegalStateException] { fp.census.collect() }
    intercept[IllegalStateException] { fp.canonicalVectors.collect() }
    // And the no-embedding-table constructor fails with a rebuild hint,
    // not an NPE/path error.
    val textOnly = Curation.fromPersisted(spark, sf(), textPairs)
    val e = intercept[IllegalStateException] { textOnly.canonicalVectors }
    assert(e.getMessage.contains("persistEmbeddingPairs"))
  }

  test("c3 leakage counts reconcile with a direct recount of straddling pairs") {
    // The shipped split definition, not a local copy: the audit must
    // audit the split t27 actually ships.
    val direct = graft.operators.Dedup.d2MinHashLsh.run(spark, sf())
      .select(graft.operators.HashSplit.splitOf(col("doc_a")).as("sa"),
        graft.operators.HashSplit.splitOf(col("doc_b")).as("sb"))
      .filter(col("sa") =!= col("sb")).count()
    val c3 = Curation.c3SplitLeakage.run(spark, sf()).cache()
    val reported = c3.agg(coalesce(sum("n_pairs"), lit(0L))).head().getLong(0)
    assert(reported == direct)
    // Pair labels are canonicalized: split_a ≤ split_b and never equal.
    assert(c3.filter(col("split_a") >= col("split_b")).isEmpty)
    c3.unpersist()
  }
}
