package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.operators.{AnnIndex, Curation, Dedup, Maintenance, Similarity}

/** Scale claims from counts: the replication premise, then an audit of
  * what each heavy operator does on a K×-replicated corpus.
  *
  * The premise. A K×-replicated corpus must grow every pair/join/block
  * space EXACTLY K× — replicas never cross-match. A shared space
  * fabricates super-linear growth, and every count below would measure
  * the forged data instead of the engine. The cases:
  *   - d2 and d8 pairs never cross replicas, and replica 0 (identity)
  *     equals the base pair set (exact K× would be fragile for an LSH
  *     op: banding recall may differ per replica on borderline pairs)
  *   - d14 spans and d15 per-document ledgers replicate exactly
  *   - lineitem⋈orders grows exactly K× (order-key offset on BOTH sides)
  *   - d2/d4/d13/d14 hold across the alphabet's stride-group boundary
  *
  * The audit. Each of the 33 heavy and index-served probes runs on the
  * base corpus and on the K=2 corpus through the `noop` sink (every row
  * and column evaluated), with a listener over Spark's task metrics,
  * and asserts:
  *   - output rows in the probe's declared [[Rows]] class;
  *   - shuffle records written and the largest task's input records
  *     (scan plus shuffle read) at most K×(1+[[Eps]]) of base plus
  *     [[PartialFloor]] — or at most (1+[[FlatEps]]) of base for the
  *     index probes whose reads are cell-pruned at a cells ∝ n build;
  *   - bytes returned to the driver (the sum of task `resultSize`) at
  *     most (1+[[Eps]]) of base plus [[TaskResultFloor]] per extra task.
  * Automatic broadcast is off while a probe runs: every join side of a
  * test corpus fits under the threshold, and Spark would collect sides
  * to the driver that a production corpus shuffles. The range-exchange
  * sample is one key per partition for the same reason (the default
  * samples every row of a test-sized sort). Explicit broadcast hints
  * and driver collects stay, and are what the collect bound grades.
  *
  * The audit's blind spot: replication keeps within-replica DENSITY
  * constant — every replica is the base corpus again, so a block, band
  * or cell holds as many rows per replica as in base. Growth driven by
  * density (more documents per band bucket as the corpus grows, as d7's
  * 16-bit SimHash returns 1,707,842 pairs for 5,000 documents at sf0.1)
  * is invisible here; it needs a density-growing corpus such as the
  * sf0.01 → sf0.1 step. Only a block key that is not replicated (m7's
  * media_type) lets density grow, and only if the op's hash cannot tell
  * the replicas apart.
  */
class ScaleSchemeSpec extends SparkSpecBase with BeforeAndAfterAll {
  import ScaleSchemeSpec._

  private val K = 2

  /** Every directory this spec writes, deleted after the suite. */
  private val written = mutable.Buffer.empty[String]

  private def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    written += d
    d
  }

  private lazy val scaled: String = {
    val out = tempDir("graft-scalescheme")
    written += Maintenance.appliedRoot(out)
    Replicas.scaleDocuments(spark, sf(), out, K)
    Replicas.scaleEmbeddings(spark, sf(), out, K)
    Replicas.scaleRelational(spark, sf(), out, K)
    out
  }

  private def q(name: String, dir: String): Long =
    SparkEntry.queries(name)(spark, dir).count()

  // THE offset rule, not a mirror of it: the tests fold replica ids
  // back with Replicas' own offsetFor, so a change to the floor
  // constant or max-key logic cannot leave the spec grading against a
  // stale formula.
  private lazy val docOffset: Long =
    Replicas.offsetFor(Tables.documents(spark, sf()), Seq("doc_id"))

  private lazy val vecOffset: Long =
    Replicas.offsetFor(Tables.embeddings(spark, sf()), Seq("vec_id"))

  // d2 is LSH-based: the bijection preserves TRUE Jaccard but
  // re-randomizes minhash values per replica, so banding recall on
  // borderline pairs may differ between replicas — an exact-K× count
  // would be fragile against the data. The deterministic assertions:
  // no pair may cross replicas, and replica 0 (the identity transform)
  // must reproduce the base pair set EXACTLY.
  test("d2: no cross-replica pairs; identity replica reproduces base pairs exactly") {
    val offset = docOffset
    def pairSet(dir: String): Set[(Long, Long)] =
      SparkEntry.queries("d2_dedup_minhash_lsh")(spark, dir)
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scaledPairs = pairSet(scaled)
    assert(scaledPairs.nonEmpty)
    assert(scaledPairs.forall { case (a, b) => a / offset == b / offset },
      "a cross-replica near-dup pair means the replication scheme leaks a shared shingle space")
    val rep0 = scaledPairs.filter { case (a, _) => a / offset == 0 }
    assert(rep0 == pairSet(sf()),
      "replica 0 is the identity transform and must reproduce the base pair set")
  }

  // The bijection preserves gram structure, so spans must not just
  // COUNT K× — every base span must reappear in every replica with the
  // SAME start positions and length, and no span may cross replicas.
  test("d14 span geometry replicates exactly: K copies of each base span, none cross-replica") {
    val offset = docOffset
    def spans(dir: String): Seq[(Long, Long, Long, Long, Long)] =
      SparkEntry.queries("d14_repeated_spans")(spark, dir)
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
          col("start_a").cast("long"), col("start_b").cast("long"),
          col("span_tokens").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val base = spans(sf())
    assert(base.nonEmpty, "the premise check needs base spans to replicate")
    val big = spans(scaled)
    assert(big.forall { case (a, b, _, _, _) => a / offset == b / offset },
      "a cross-replica span means the replication scheme leaks a shared gram space")
    val folded = big.groupBy { case (a, b, sa, sb, n) => (a % offset, b % offset, sa, sb, n) }
      .view.mapValues(_.size).toMap
    val baseMap = base.groupBy(identity).view.mapValues(_.size).toMap
    assert(folded == baseMap.map { case (k, v) => (k, v * K) },
      "every base span must appear exactly K times with identical geometry")
  }

  // d15's census is per-document, so its replication premise is
  // row-level: each replica doc must carry ITS base doc's exact ledger
  // (token count, span count, cut tokens) — the interval-union sweep is
  // deterministic given identical span geometry.
  test("d15 trim census replicates exactly per document") {
    val offset = docOffset
    def census(dir: String): Map[Long, (Long, Long, Long)] =
      SparkEntry.queries("d15_span_trim_census")(spark, dir)
        .select(col("doc_id").cast("long"), col("n_tokens").cast("long"),
          col("n_spans").cast("long"), col("cut_tokens").cast("long"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val base = census(sf())
    assert(base.values.exists(_._3 > 0), "the premise check needs base cuts to replicate")
    val big = census(scaled)
    assert(big.size == K * base.size)
    big.foreach { case (id, ledger) =>
      assert(ledger == base(id % offset),
        s"replica doc $id must mirror base doc ${id % offset}'s ledger exactly")
    }
  }

  // d8 is LSH-blocked: the per-replica dimension permutation preserves
  // every within-replica dot product (so TRUE cosine structure mirrors
  // base exactly — asserted below on the surfaced pairs), but the
  // sign-random-projection bucket scores a PERMUTED vector against
  // fixed per-dimension signs, so bucket-block recall on borderline
  // pairs may differ per replica — the d2-minhash situation, pinned the
  // same way. The permutation is what keeps replicas from being
  // geometric clones: identical coordinates land in identical k-means
  // cells no matter how many cells a scaled build trains, and every
  // cell-pruned ANN probe would read fabricated K× cell growth.
  test("d8: no cross-replica pairs; identity replica reproduces base; cosines replica-invariant") {
    val offset = vecOffset
    def pairs(dir: String): Map[(Long, Long), Double] =
      SparkEntry.queries("d8_dedup_embedding_multiprobe")(spark, dir)
        .select(col("vec_a").cast("long"), col("vec_b").cast("long"),
          col("cosine").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val scaledPairs = pairs(scaled)
    assert(scaledPairs.nonEmpty)
    assert(scaledPairs.keys.forall { case (a, b) => a / offset == b / offset },
      "a cross-replica embedding pair means replicas share an LSH block")
    val basePairs = pairs(sf())
    assert(scaledPairs.filter { case ((a, _), _) => a / offset == 0 } == basePairs,
      "replica 0 is the identity transform and must reproduce base pairs exactly")
    // Every surfaced pair's cosine must equal its base pair's cosine
    // bit-for-bit: the permutation may change WHICH borderline pairs
    // the buckets surface, never the similarity of those it does.
    scaledPairs.foreach { case ((a, b), cos) =>
      basePairs.get((a % offset, b % offset)).foreach { baseCos =>
        assert(cos == baseCos,
          s"pair ($a,$b): cosine $cos != base $baseCos — permutation broke geometry")
      }
    }
  }

  test("lineitem joins orders exactly Kx (order keys offset on BOTH sides)") {
    def joined(dir: String): Long =
      Tables.lineitem(spark, dir).select("l_orderkey")
        .join(Tables.orders(spark, dir).select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"))
        .count()
    assert(joined(scaled) == K * joined(sf()))
  }

  // The affine-map family is only pairwise everywhere-distinct WITHIN a
  // stride group (36 shifts); replicas 36+ switch stride and cross-group
  // map pairs agree on gcd(Δstride, 36) symbols, so the premise needs
  // checking ACROSS that boundary, not just at K=2. K=38 is the
  // cheapest spanning factor (replicas 36, 37 sit in the second stride
  // group).
  private val KDeep = 38

  private lazy val scaledDeep: String = {
    val out = tempDir("graft-scalescheme-deep")
    Replicas.scaleDocuments(spark, sf(), out, KDeep)
    out
  }

  test("d4 char-gram pairs grow exactly Kx across the stride-group boundary") {
    assert(q("d4_dedup_ngram_jaccard", scaledDeep) == KDeep * q("d4_dedup_ngram_jaccard", sf()))
  }

  test("d13 containment pairs grow exactly Kx across the stride-group boundary") {
    assert(q("d13_containment_pairs", scaledDeep) == KDeep * q("d13_containment_pairs", sf()))
  }

  test("d14 repeated spans grow exactly Kx across the stride-group boundary") {
    assert(q("d14_repeated_spans", scaledDeep) == KDeep * q("d14_repeated_spans", sf()))
  }

  test("d2: no cross-replica pairs across the stride-group boundary") {
    val offset = docOffset
    val crossers = SparkEntry.queries("d2_dedup_minhash_lsh")(spark, scaledDeep)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().filter(r => r.getLong(0) / offset != r.getLong(1) / offset)
    assert(crossers.isEmpty,
      s"cross-replica near-dup pairs leak a shared shingle space across stride groups: ${crossers.take(5).mkString(",")}")
  }

  // ---- the replication audit -------------------------------------------

  /** Relative slack on the bounds of probes that grow by design. */
  private val Eps = 0.1

  /** Relative slack on the flat probes' reads. Their query cells hold
    * as many rows as base only on average at a cells ∝ n build, so the
    * bound sits halfway between flat and linear (K = 2). */
  private val FlatEps = 0.5

  /** Additive floor on shuffle and task-input records for probes that
    * grow by design. A partial aggregate writes one record per group
    * per input partition, so its output follows the partition count,
    * not the data. */
  private val PartialFloor = 64L

  /** Bytes one task's result carries besides collected rows (its
    * accumulator and metric updates). A replicated table has more
    * files, so scans run more tasks. It is also the check's
    * resolution: at this corpus size a collect grows visibly only if
    * its rows are wide. */
  private val TaskResultFloor = 8192L

  /** A corpus with the storage artifacts the served probes read, built
    * before any probe is measured: the ANN index at cells ∝ rows (nc, kc
    * and pc ×k) and the persisted d2 pair table. */
  private final class Corpus(val dir: String, k: Int) {
    val ann: String = {
      val root = s"${tempDir("graft-audit-ann")}/ann_index"
      AnnIndex.build(spark, dir, root, nc = Similarity.NC * k,
        kc = Similarity.KC * k, pc = Similarity.PQ_K * k)
      root
    }
    val pairs: String = {
      val out = s"${tempDir("graft-audit-pairs")}/pairs"
      Curation.persistNearDupPairs(spark, dir, out)
      out
    }
  }

  private lazy val baseCorpus = new Corpus(sf(), 1)
  private lazy val scaledCorpus = new Corpus(scaled, K)

  /** One audited probe. `flat`: its reads are cell-pruned and stay
    * near base. `warm`: construct once unmeasured, so a build-once
    * artifact the op owns is not counted as probe work. */
  private final class Probe(val name: String, val rows: Rows, val flat: Boolean = false,
      val warm: Boolean = false)(val run: Corpus => DataFrame)

  private def op(name: String, rows: Rows, warm: Boolean = false): Probe =
    new Probe(name, rows, warm = warm)(c => SparkEntry.queries(name)(spark, c.dir))

  /** Fixed external query batch for s20/s21: the first NQ vectors,
    * reversed, so they are not corpus members. */
  private def external(c: Corpus, label: Boolean): DataFrame =
    Tables.embeddings(spark, c.dir).filter(col("vec_id") < Similarity.NQ)
      .select(Seq(col("vec_id"), reverse(col("embedding")).as("embedding")) ++
        (if (label) Seq(col("label")) else Nil): _*)

  private val probes: Seq[Probe] = Seq(
    // Full near-dup and curation pipelines, gram joins, the vector twin.
    op("c1_corpus_curation", Unchanged),
    op("c4_group_split", Unchanged),
    op("c5_semantic_curation", Unchanged),
    op("d2_dedup_minhash_lsh", AtMostK("doc_a", () => docOffset)),
    op("d4_dedup_ngram_jaccard", ExactK),
    op("d8_dedup_embedding_multiprobe", AtMostK("vec_a", () => vecOffset)),
    op("d9_canonical_docs", ExactK),
    op("d10_dup_gram_fraction", ExactK),
    op("d13_containment_pairs", ExactK),
    op("d14_repeated_spans", ExactK),
    op("d16_lsh_recall_audit", AtMostK("doc_a", () => docOffset)),
    op("d17_dedup_action_plan", ExactK),
    op("d19_cleaned_corpus", ExactK),
    op("d21_apply_action_plan", ExactK, warm = true),
    op("m7_media_phash_pairs", CrossReplica("dHash reads code-point " +
      "gradients, which replica 1's one-letter alphabet shift mostly keeps")),
    // Search over a fixed query set: the scans grow, the pools don't.
    op("s16_hybrid_rrf_search", Unchanged),
    op("s17_ann_pq_rerank", Unchanged),
    // Relational heavies over replicated facts and unreplicated dims.
    op("q3_star_join", Unchanged),
    op("q8_pivot", Unchanged),
    op("q10_topk_per_group", Unchanged),
    op("q18_sessionize", ExactK),
    // Persisted-index probes on a cells ∝ rows build.
    new Probe("s9_ann_ivf_probe", Unchanged, flat = true)(c =>
      AnnIndex.probeIvf(spark, c.ann)),
    new Probe("s10_ann_pq_probe", Unchanged)(c => AnnIndex.probePq(spark, c.dir, c.ann)),
    new Probe("s11_ann_ivfpq_probe", Unchanged, flat = true)(c =>
      AnnIndex.probeIvfPq(spark, c.dir, c.ann)),
    new Probe("s15_ann_filtered_probe", AtMostBase, flat = true)(c =>
      AnnIndex.probeIvfFiltered(spark, c.ann)),
    new Probe("s18_ann_pq_rerank_probe", Unchanged)(c =>
      AnnIndex.probePqRerank(spark, c.dir, c.ann)),
    new Probe("s19_ann_ivfpq_rerank_probe", Unchanged, flat = true)(c =>
      AnnIndex.probeIvfPqRerank(spark, c.dir, c.ann)),
    new Probe("d20_semdedup_probe", ExactK)(c => AnnIndex.probeSemDedup(spark, c.ann)),
    new Probe("d23_semdedup_multicell_probe", ExactK)(c =>
      AnnIndex.probeSemDedupMulti(spark, c.ann)),
    new Probe("s20_ann_external_query_search", Unchanged, flat = true)(c =>
      AnnIndex.searchIvf(spark, c.ann, external(c, label = false))),
    new Probe("s21_ann_external_filtered_search", AtMostBase, flat = true)(c =>
      AnnIndex.searchIvfFiltered(spark, c.ann, external(c, label = true))),
    // c6 served from storage: the persisted pair table plus the index.
    new Probe("c6_semantic_curation_served", Unchanged)(c =>
      Curation.fromPersisted(spark, c.dir, c.pairs).semanticCensus(c.ann)),
    // d18 at the corpus-sized cell count (kc = 0 → semCellCount).
    new Probe("d18_semdedup_scaledkc", ExactK)(c => Dedup.semDeDup(spark, c.dir, 0)))

  private val Phase = "graft.audit.phase"

  /** Task metrics of every job between a start and an end sentinel job.
    * The listener bus delivers events in order, so once the end
    * sentinel's job end arrives, every task of the run has reported. */
  private final class AuditListener extends SparkListener {
    val done = new CountDownLatch(1)
    private val sentinelStages = mutable.Set.empty[Int]
    private var startJob, endJob = -1
    private var counting = false
    var shuffle, maxTaskInput, resultBytes = 0L
    var tasks = 0

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Phase))).foreach { p =>
        sentinelStages ++= e.stageIds
        if (p == "start") startJob = e.jobId else endJob = e.jobId
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == startJob) counting = true
      else if (e.jobId == endJob) done.countDown()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (counting && !sentinelStages(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        shuffle += m.shuffleWriteMetrics.recordsWritten
        maxTaskInput = math.max(maxTaskInput,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
        resultBytes += m.resultSize
        tasks += 1
      }
  }

  private def measure(p: Probe, c: Corpus): Counts = {
    val sc = spark.sparkContext
    def sentinel(phase: String): Unit = {
      sc.setLocalProperty(Phase, phase)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Phase, null)
    }
    if (p.warm) p.run(c)
    spark.sharedState.cacheManager.clearCache()
    val l = new AuditListener
    sc.addSparkListener(l)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "1")
    try {
      sentinel("start")
      val obs = Observation()
      val rep0 = p.rows match {
        case AtMostK(id, offset) => count_if(col(id) < offset())
        case _ => count(lit(1))
      }
      p.run(c).observe(obs, count(lit(1)).as("rows"), rep0.as("replica0"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      sentinel("end")
      assert(l.done.await(2, TimeUnit.MINUTES), "the listener bus did not drain")
      Counts(m("rows").asInstanceOf[Long], m("replica0").asInstanceOf[Long],
        l.shuffle, l.maxTaskInput, l.resultBytes, l.tasks)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.execution.rangeExchange.sampleSizePerPartition")
      sc.removeSparkListener(l)
    }
  }

  private def ratio(a: Long, b: Long): String =
    if (b == 0) (if (a == 0) "0/0" else s"$a/0") else f"${a.toDouble / b}%.2f"

  probes.foreach { p =>
    val name = p.name
    test(s"audit $name: counts scale as declared") {
      val b = measure(p, baseCorpus)
      val s = measure(p, scaledCorpus)
      info(s"$name rows ${b.rows}→${s.rows} (${ratio(s.rows, b.rows)}×, replica 0 ${s.replica0}) " +
        s"shuffle ${b.shuffle}→${s.shuffle} (${ratio(s.shuffle, b.shuffle)}×) " +
        s"task input ${b.maxTaskInput}→${s.maxTaskInput} " +
        s"(${ratio(s.maxTaskInput, b.maxTaskInput)}×) " +
        s"collect ${b.resultBytes}→${s.resultBytes} B " +
        s"(${ratio(s.resultBytes, b.resultBytes)}×) tasks ${b.tasks}→${s.tasks}")
      assert(b.rows > 0, s"$name: the audit needs base output to scale")
      p.rows match {
        case ExactK => assert(s.rows == K * b.rows, s"$name: rows ${s.rows} != K × ${b.rows}")
        case Unchanged => assert(s.rows == b.rows, s"$name: rows ${s.rows} != base ${b.rows}")
        case AtMostBase => assert(s.rows <= b.rows, s"$name: rows ${s.rows} > base ${b.rows}")
        case CrossReplica(why) =>
          assert(s.rows <= K * K * b.rows, s"$name: rows ${s.rows} > K² × ${b.rows} ($why)")
        case AtMostK(_, _) =>
          assert(s.rows <= K * b.rows, s"$name: rows ${s.rows} > K × ${b.rows}")
          assert(s.replica0 == b.rows,
            s"$name: replica 0 holds ${s.replica0} rows, base ${b.rows}")
      }
      def bound(base: Long): Double =
        if (p.flat) (1 + FlatEps) * base else K * (1 + Eps) * base + PartialFloor
      assert(s.shuffle <= bound(b.shuffle),
        s"$name: shuffle records ${s.shuffle} > ${bound(b.shuffle)} (base ${b.shuffle})")
      assert(s.maxTaskInput <= bound(b.maxTaskInput),
        s"$name: largest task input ${s.maxTaskInput} > ${bound(b.maxTaskInput)} " +
          s"(base ${b.maxTaskInput})")
      val cap = (1 + Eps) * b.resultBytes + TaskResultFloor * math.max(0, s.tasks - b.tasks)
      assert(s.resultBytes <= cap,
        s"$name: driver-collected ${s.resultBytes} B > $cap (base ${b.resultBytes} B)")
    }
  }

  override def afterAll(): Unit = {
    written.foreach(Persist.delete(spark, _))
    super.afterAll()
  }
}

private object ScaleSchemeSpec {

  /** How an op's output rows answer K× data. */
  sealed trait Rows
  /** One output row per replicated input row, pair or group. */
  case object ExactK extends Rows
  /** Hash-selected rows: minhash bands, sign-projection buckets or an
    * md5 id sample are re-drawn per replica, so a replica may surface
    * fewer borderline pairs than base: at most K×, and the identity
    * replica (ids in `idCol` below the offset) reproduces base. */
  final case class AtMostK(idCol: String, offset: () => Long) extends Rows
  /** A fixed query batch, or aggregates over dims that are not
    * replicated. */
  case object Unchanged extends Rows
  /** A fixed query batch under a label filter: labels are per replica,
    * so at cells ∝ n a query's label matches 1/K of its probed cells
    * and fewer candidates reach the top-k. */
  case object AtMostBase extends Rows
  /** Pairs that cross replicas because the op's hash does not tell the
    * replicas apart (`why`): at most K² × base. */
  final case class CrossReplica(why: String) extends Rows

  /** What one probe run did, from Spark's own task metrics. */
  final case class Counts(rows: Long, replica0: Long, shuffle: Long,
      maxTaskInput: Long, resultBytes: Long, tasks: Int)
}
