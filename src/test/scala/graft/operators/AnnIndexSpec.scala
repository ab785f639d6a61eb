package graft.operators

import graft.{SparkSpecBase, Tables}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The persisted ANN index must serve EXACTLY the inline operators'
  * answers (build/probe is a lifecycle split, not a semantics change),
  * and appends under frozen codebooks must equal a full encode with
  * those same codebooks — the FAISS train-then-add contract. Lives in
  * graft.operators to drive [[Similarity]]'s package-private stages as
  * the independent expected side. */
class AnnIndexSpec extends SparkSpecBase {

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  /** Exact-cosine top-k within each corpus query's own cell — the
    * inline form of the IVF probes. */
  private def cellTopK(cells: DataFrame): DataFrame =
    Similarity.cellRanked(Similarity.cosineTopK(cells,
      Similarity.queryHead(cells, col("cid").as("q_cid")),
      col("cid") === col("q_cid") && Similarity.NotSelf))

  /** [[cellTopK]] restricted to candidates sharing the query's label. */
  private def cellTopKFiltered(cells: DataFrame): DataFrame =
    Similarity.cellRanked(Similarity.cosineTopK(cells,
      Similarity.queryHead(cells, col("label").as("q_label"), col("cid").as("q_cid")),
      col("cid") === col("q_cid") && col("label") === col("q_label") && Similarity.NotSelf),
      col("label"))

  test("probes serve the inline s5/s7/s8 answers from the persisted tables") {
    val root = Files.createTempDirectory("ann-idx").toString
    AnnIndex.build(spark, sf(), root)
    assert(rows(AnnIndex.probeIvf(spark, root))
      == rows(Similarity.s5IvfTrained.run(spark, sf())))
    assert(rows(AnnIndex.probeIvfSeeded(spark, root))
      == rows(Similarity.s3Inline(spark, sf())))
    assert(rows(AnnIndex.probePq(spark, sf(), root))
      == rows(Similarity.s7PqTopK.run(spark, sf())))
    assert(rows(AnnIndex.probeIvfPq(spark, sf(), root))
      == rows(Similarity.s8IvfPqTopK.run(spark, sf())))
    // Index-served two-stage rerank ≡ the inline s17 (same training
    // corpus → same codebook → same pool → same exact re-scores).
    assert(rows(AnnIndex.probePqRerank(spark, sf(), root))
      == rows(Similarity.s17PqRerank.run(spark, sf())))

    // Cell-pruned two-stage retrieval (s19) ≡ the same composition run
    // inline through Similarity's own stages: s8's cell-gated ADC kept
    // to the rerank pool, then the exact-cosine rerank — an expected
    // side that never touches the index.
    {
      import org.apache.spark.sql.functions.broadcast
      val head = Similarity.collectHead(spark, sf(),
        math.max(Similarity.NQ, 2 * Similarity.PQ_K).toLong)
      val coarse = Similarity.ivfpqCoarse(head)
      val rcb = Similarity.ivfpqResidualCb(head, coarse)
      val vecsAll = Similarity.vectorFrame(spark, sf())
      val cands = Similarity.ivfpqAdcTopK("exp",
          Similarity.ivfpqEncode(vecsAll, coarse, rcb), head, coarse, rcb,
          pool = Similarity.RerankPool)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("adc_rnk"))
      val q = vecsAll.filter(col("vec_id") < Similarity.NQ)
        .select(col("vec_id").as("query_id"),
          col("qv").as("q_qv"), col("nrm").as("q_nrm"))
      val exact = vecsAll.withColumnRenamed("vec_id", "neighbor_id")
        .join(broadcast(cands), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cosine", graft.functions.VectorFns.cosine(
          graft.functions.VectorFns.dot(col("q_qv"), col("qv")),
          col("q_nrm"), col("nrm")))
        .select("query_id", "neighbor_id", "adc_rnk", "cosine")
      val exp = Similarity.topKPerQuery(exact,
          Seq(col("cosine").desc, col("neighbor_id")))
        .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cosine"),
          col("adc_rnk"))
        .orderBy("query_id", "rnk")
      val got = rows(AnnIndex.probeIvfPqRerank(spark, sf(), root))
      assert(got == rows(exp))
      // The second stage must be LIVE at test SF: some candidate's exact
      // rank differs from its ADC rank, or the rerank is untestable.
      assert(got.exists(r => r(2) != r(4)),
        "no visible reorder — the rerank stage is inert at this SF")
    }

    // Index-served semantic dedup (d20) ≡ the inline d18: same trainer,
    // same corpus, same default kc → same cells → same verdicts.
    assert(rows(AnnIndex.probeSemDedup(spark, root))
      == rows(Dedup.d18SemDedup.run(spark, sf())))

    // Filtered probe ≡ the same cells scored inline with the label
    // predicate — and the results respect it: every neighbor shares its
    // query's label (pre-filter semantics from the inverted list).
    val labeled = Tables.spread(Tables.embeddings(spark, sf()))
      .select(col("vec_id"), col("label"),
        graft.functions.VectorFns.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", graft.functions.VectorFns.norm2(col("qv")))
      .cache()
    try {
      val cent = Similarity.trainIvf(spark, sf(), labeled)
      val exp = cellTopKFiltered(
        labeled.withColumn("cid", Similarity.nearestId(col("qv"), cent)))
      val got = rows(AnnIndex.probeIvfFiltered(spark, root))
      assert(got == rows(exp))
      val nbLabels = Tables.embeddings(spark, sf())
        .select(col("vec_id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      got.foreach { r =>
        assert(r(1) == nbLabels(r(2).asInstanceOf[Long]),
          s"neighbor ${r(2)} outside query label ${r(1)}")
      }
    } finally { labeled.unpersist(); () }
  }

  test("append extends the corpus under frozen codebooks; replay is a no-op") {
    val all = Tables.embeddings(spark, sf())
    val split = all.count() / 2 // > the seed/query head (vec_id < 16)
    assert(split >= 16, s"corpus too small to split at $split")
    // Build on the first half only…
    val dirA = Files.createTempDirectory("ann-sub").toString
    all.filter(col("vec_id") < split).write.parquet(s"$dirA/embeddings.parquet")
    val root = Files.createTempDirectory("ann-idx-inc").toString
    AnnIndex.build(spark, dirA, root)
    // …then append the second half: codebooks stay frozen at the
    // half-corpus training.
    AnnIndex.append(spark, root,
      all.filter(col("vec_id") >= split).select("vec_id", "label", "embedding"))
    // Expected = the SAME half-trained codebooks applied to the full
    // corpus in one shot, via Similarity's own stages.
    val vecsA = Similarity.vectorFrame(spark, dirA).cache()
    val vecsAll = Similarity.vectorFrame(spark, sf())
    try {
      val cent = Similarity.trainIvf(spark, dirA, vecsA)
      val expIvf = cellTopK(
        vecsAll.withColumn("cid", Similarity.nearestId(col("qv"), cent)))
      assert(rows(AnnIndex.probeIvf(spark, root)) == rows(expIvf))

      // Seeded family: the frozen first-NC codebook (from the half the
      // index was built on) applied to the full corpus in one shot.
      val seeded = Similarity.collectHead(spark, dirA, Similarity.NC.toLong)
        .toSeq.sortBy(_._1)
      val expSeeded = cellTopK(
        vecsAll.withColumn("cid", Similarity.nearestId(col("qv"), seeded)))
      assert(rows(AnnIndex.probeIvfSeeded(spark, root)) == rows(expSeeded))

      val headPq = Similarity.collectHead(spark, dirA,
        math.max(Similarity.NQ, Similarity.PQ_K).toLong)
      val cb = Similarity.trainPq(vecsA, headPq)
      val expPq = Similarity.pqAdcTopK("exp",
        Similarity.pqEncode(vecsAll, cb), headPq, cb)
      assert(rows(AnnIndex.probePq(spark, sf(), root)) == rows(expPq))

      val headR = Similarity.collectHead(spark, dirA,
        math.max(Similarity.NQ, 2 * Similarity.PQ_K).toLong)
      val coarse = Similarity.ivfpqCoarse(headR)
      val rcb = Similarity.ivfpqResidualCb(headR, coarse)
      val expR = Similarity.ivfpqAdcTopK("exp",
        Similarity.ivfpqEncode(vecsAll, coarse, rcb), headR, coarse, rcb)
      assert(rows(AnnIndex.probeIvfPq(spark, sf(), root)) == rows(expR))

      // Replaying the same batch appends nothing (per-family anti-join).
      val tables = Seq("ivf/codes", "ivf_seeded/codes", "pq/codes", "ivfpq/codes")
      val before = tables.map(t => spark.read.parquet(s"$root/$t").count())
      AnnIndex.append(spark, root,
        all.filter(col("vec_id") >= split).select("vec_id", "label", "embedding"))
      val after = tables.map(t => spark.read.parquet(s"$root/$t").count())
      assert(before == after)
    } finally vecsA.unpersist()
  }

  test("an appended QUERY row reaches qhead — probes prune with it, not past it") {
    // v7 probes take their cell/label prune sets from ivf/qhead. If an
    // append that carries a query-range row (vec_id < NQ) failed to
    // maintain qhead, the codes scan would prune that query's cell away
    // and its results would VANISH — silently wrong, not slow. Build on
    // a corpus missing query 9, append it, and require the probes to
    // equal the one-shot expected over the full corpus (which contains
    // query 9's rows).
    val all = Tables.embeddings(spark, sf())
    val dirA = Files.createTempDirectory("ann-q9").toString
    all.filter(col("vec_id") =!= 9L).write.parquet(s"$dirA/embeddings.parquet")
    val root = Files.createTempDirectory("ann-idx-q9").toString
    AnnIndex.build(spark, dirA, root)
    AnnIndex.append(spark, root,
      all.filter(col("vec_id") === 9L).select("vec_id", "label", "embedding"))
    val labeledAll = Tables.spread(all)
      .select(col("vec_id"), col("label"),
        graft.functions.VectorFns.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", graft.functions.VectorFns.norm2(col("qv")))
      .cache()
    try {
      val vecsA = Similarity.vectorFrame(spark, dirA)
      val cent = Similarity.trainIvf(spark, dirA, vecsA)
      val assigned = labeledAll.withColumn("cid",
        Similarity.nearestId(col("qv"), cent))
      val gotIvf = rows(AnnIndex.probeIvf(spark, root))
      assert(gotIvf == rows(cellTopK(assigned)))
      assert(gotIvf.exists(_.head == 9L), "query 9 absent from the probe")
      val gotFilt = rows(AnnIndex.probeIvfFiltered(spark, root))
      assert(gotFilt == rows(cellTopKFiltered(assigned)))
    } finally { labeledAll.unpersist(); () }
  }

  test("compaction after N appends bounds file counts and leaves probes unchanged") {
    val all = Tables.embeddings(spark, sf())
    val n = all.count()
    val dirA = Files.createTempDirectory("ann-sub-c").toString
    all.filter(col("vec_id") < n / 2).write.parquet(s"$dirA/embeddings.parquet")
    val root = Files.createTempDirectory("ann-idx-c").toString
    AnnIndex.build(spark, dirA, root)
    // Four small appends: each writes one parquet file per family (per
    // cell for the partitioned families) — the small-file accumulation a
    // nightly streaming run produces.
    (0 until 4).foreach { i =>
      AnnIndex.append(spark, root, all
        .filter(col("vec_id") >= n / 2 && col("vec_id") % 4 === i)
        .select("vec_id", "label", "embedding"))
    }
    val ivf = rows(AnnIndex.probeIvf(spark, root))
    val pq = rows(AnnIndex.probePq(spark, sf(), root))
    val ivfpq = rows(AnnIndex.probeIvfPq(spark, sf(), root))
    def dataFiles(p: String): Seq[java.nio.file.Path] = {
      val out = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach { f =>
        if (f.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(f)) out += f
      }
      out.toSeq
    }
    val before = dataFiles(s"$root/pq/codes").size
    assert(before >= 5, s"expected >=5 pre-compact files, got $before") // build + 4 appends
    AnnIndex.compact(spark, root)
    // Everything fits one target file => exactly one file per partition
    // dir (cid cells) and one for the flat pq table.
    assert(dataFiles(s"$root/pq/codes").size == 1)
    dataFiles(s"$root/ivf/codes").groupBy(_.getParent).foreach { case (d, fs) =>
      assert(fs.size == 1, s"$d has ${fs.size} files after compact")
    }
    dataFiles(s"$root/ivfpq/codes").groupBy(_.getParent).foreach { case (d, fs) =>
      assert(fs.size == 1, s"$d has ${fs.size} files after compact")
    }
    assert(rows(AnnIndex.probeIvf(spark, root)) == ivf)
    assert(rows(AnnIndex.probePq(spark, sf(), root)) == pq)
    assert(rows(AnnIndex.probeIvfPq(spark, sf(), root)) == ivfpq)
    // And appends still work against the compacted index (anti-join
    // reads the rewritten codes tables): replay stays a no-op.
    val counts = Seq("ivf/codes", "ivf_seeded/codes", "pq/codes", "ivfpq/codes")
      .map(t => spark.read.parquet(s"$root/$t").count())
    AnnIndex.append(spark, root,
      all.filter(col("vec_id") >= n / 2).select("vec_id", "label", "embedding"))
    assert(Seq("ivf/codes", "ivf_seeded/codes", "pq/codes", "ivfpq/codes")
      .map(t => spark.read.parquet(s"$root/$t").count()) == counts)
  }

  test("ensureBuilt rebuilds on a missing, stale-version, or stale-corpus marker") {
    val root = Files.createTempDirectory("ann-idx-marker").toString
    AnnIndex.ensureBuilt(spark, sf(), root)
    val expected = rows(AnnIndex.probeIvf(spark, root))
    // Forge through the Hadoop FS (the local checksum FS keeps .crc
    // sidecars the marker read validates against).
    val hp = new org.apache.hadoop.fs.Path(s"$root/_built")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash before the commit marker: a half-built root must be rebuilt,
    // never probed. (The JVM-local validation cache is reset the same
    // way a fresh process would start.)
    graft.Persist.resetValidationCacheForTest()
    hfs.delete(hp, false)
    AnnIndex.ensureBuilt(spark, sf(), root)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_built")))
    assert(rows(AnnIndex.probeIvf(spark, root)) == expected)
    // A marker from an older build version (or another corpus) is
    // equally stale: rebuild, don't serve.
    graft.Persist.resetValidationCacheForTest()
    val out = hfs.create(hp, true)
    out.write("v1 f=deadbeef\n".getBytes("UTF-8")); out.close()
    // append() must refuse the stale-version root BEFORE writing anything
    // (a partial ivf-only append under old geometry would corrupt).
    val countsBefore = Seq("ivf/codes", "pq/codes", "ivfpq/codes")
      .map(t => spark.read.parquet(s"$root/$t").count())
    intercept[IllegalStateException] {
      AnnIndex.append(spark, root,
        Tables.embeddings(spark, sf()).select(col("vec_id"), col("label"), col("embedding")))
    }
    assert(Seq("ivf/codes", "pq/codes", "ivfpq/codes")
      .map(t => spark.read.parquet(s"$root/$t").count()) == countsBefore)
    AnnIndex.ensureBuilt(spark, sf(), root)
    assert(rows(AnnIndex.probeIvf(spark, root)) == expected)
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_built")), "UTF-8")
    assert(!marker.contains("deadbeef"), marker)
  }

  test("cell geometry is a build parameter: nc/kc/pc round-trip through the marker") {
    val root = Files.createTempDirectory("ann-idx-geom").toString
    AnnIndex.build(spark, sf(), root, nc = 4, kc = 4, pc = 4)
    // The marker is the no-Spark-job authority for the root's geometry…
    assert(AnnIndex.buildParams(spark, root).contains((4, 4, 4)))
    // …and the persisted centroid tables carry the same cardinalities —
    // including the IVF+PQ coarse codebook, whose cell count must scale
    // with the corpus at 100 TB exactly like the IVF families'.
    assert(spark.read.parquet(s"$root/ivf_seeded/centroids").count() == 4L)
    assert(spark.read.parquet(s"$root/ivf/centroids").count() == 4L)
    assert(spark.read.parquet(s"$root/ivfpq/coarse").count() == 4L)
    // ensureBuilt at the DIFFERENT (default) geometry must rebuild, not
    // serve the 4-cell index; afterwards the marker reports the default.
    graft.Persist.resetValidationCacheForTest()
    AnnIndex.ensureBuilt(spark, sf(), root)
    assert(AnnIndex.buildParams(spark, root)
      .contains((Similarity.NC, Similarity.KC, Similarity.PQ_K)))
    assert(rows(AnnIndex.probeIvfSeeded(spark, root))
      == rows(Similarity.s3Inline(spark, sf())))
    // A non-default coarse count still yields a servable ivfpq family:
    // the probe reads its geometry from the persisted coarse table, so
    // it must return a full top-k answer (pc=4 changes WHICH neighbors
    // — cells are coarser — but never the result shape or coverage).
    graft.Persist.resetValidationCacheForTest()
    AnnIndex.build(spark, sf(), root, pc = 4)
    assert(spark.read.parquet(s"$root/ivfpq/coarse").count() == 4L)
    val probe = AnnIndex.probeIvfPq(spark, sf(), root)
    assert(probe.select("query_id").distinct().count() == Similarity.NQ.toLong,
      "every query must be answered under a non-default coarse geometry")
  }

  test("oversized cells are salted across writer tasks without changing probe answers") {
    val plain = Files.createTempDirectory("ann-idx-plain").toString
    val salted = Files.createTempDirectory("ann-idx-salted").toString
    AnnIndex.build(spark, sf(), plain)
    // maxCellRows=10 forces every real cell over the ceiling — the
    // worst-case salting — while default geometry keeps answers pinned
    // to the inline operators.
    AnnIndex.build(spark, sf(), salted, maxCellRows = 10L)
    // Salting only re-files rows: every probe family answers identically.
    assert(rows(AnnIndex.probeIvf(spark, salted))
      == rows(AnnIndex.probeIvf(spark, plain)))
    assert(rows(AnnIndex.probeIvfSeeded(spark, salted))
      == rows(AnnIndex.probeIvfSeeded(spark, plain)))
    assert(rows(AnnIndex.probeIvfPq(spark, sf(), salted))
      == rows(AnnIndex.probeIvfPq(spark, sf(), plain)))
    // And the hot cell really did fan out into multiple data files.
    val biggestCell = new java.io.File(s"$salted/ivf_seeded/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
      .maxBy(d => d.listFiles().count(f => f.getName.endsWith(".parquet")))
    assert(biggestCell.listFiles().count(f => f.getName.endsWith(".parquet")) > 1,
      s"expected a salted fan-out under ${biggestCell}")
  }

  test("probe reads list only pruned partition directories, never the table root") {
    // The v8 contract: a probe's LISTING cost is bounded by its prune
    // set. Passing the table root to spark.read lists every (cid, label)
    // file before any partition filter prunes a byte — linear in the
    // file count (the r12 s9/s15 regression) — so the scan relations'
    // ROOT PATHS themselves must be the pruned cid= directories. Checked
    // on the logical plan's file indexes (string plans truncate path
    // lists).
    val root = Files.createTempDirectory("ann-idx-pruned").toString
    AnnIndex.build(spark, sf(), root)
    def scanRoots(df: DataFrame, table: String): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString).filter(_.contains(table))
            case _ => Seq.empty[String]
          }
      }.flatten
    def assertPruned(df: DataFrame, table: String): Unit = {
      val roots = scanRoots(df, table)
      assert(roots.nonEmpty, s"no $table scan found in the plan")
      roots.foreach(p => assert(p.contains(s"$table/cid="),
        s"$table read from an unpruned root: $p"))
    }
    assertPruned(AnnIndex.probeIvf(spark, root), "ivf/codes")
    assertPruned(AnnIndex.probeIvfFiltered(spark, root), "ivf/codes")
    assertPruned(AnnIndex.probeIvfSeeded(spark, root), "ivf_seeded/codes")
    assertPruned(AnnIndex.probeIvfPq(spark, sf(), root), "ivfpq/codes")
    // Rerank fetches (s18/s19) prune ivf/codes to the CANDIDATES' fid
    // directories — and those pointers must agree with where the ivf
    // family actually stored the rows (same Lloyd codebook).
    val s18 = AnnIndex.probePqRerank(spark, sf(), root)
    assertPruned(s18, "ivf/codes")
    val s19 = AnnIndex.probeIvfPqRerank(spark, sf(), root)
    assertPruned(s19, "ivf/codes")
    // External-query search: the candidate side must read pruned cell
    // directories too (the query side is a bounded head read of the
    // corpus table, which legitimately appears in the collect phase,
    // never in this returned plan).
    val extQ = graft.Tables.embeddings(spark, sf())
      .filter(col("vec_id") < Similarity.NQ)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.reverse(col("embedding")).as("embedding"))
    assertPruned(AnnIndex.searchIvf(spark, root, extQ), "ivf/codes")
    val extQL = graft.Tables.embeddings(spark, sf())
      .filter(col("vec_id") < Similarity.NQ)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.reverse(col("embedding")).as("embedding"),
        col("label"))
    assertPruned(AnnIndex.searchIvfFiltered(spark, root, extQL), "ivf/codes")
    // fid pointer integrity: every neighbor a rerank returns was
    // readable through its pruned directory, so the exact cosines must
    // match the inline s17 for the same (query, neighbor) pairs — a
    // stale/wrong fid would have dropped the row instead (silent
    // wrongness), which the ≡-inline pins in the first test catch; here
    // pin the prune is REAL: the fetch lists strictly fewer cell dirs
    // than the table holds whenever candidates cover a cell subset.
    val allCells = new java.io.File(s"$root/ivf/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cid="))
    val fetchDirs = scanRoots(s19, "ivf/codes").size
    assert(fetchDirs <= allCells, s"fetch listed $fetchDirs of $allCells dirs")
  }

  test("rebuild retrains and cuts over atomically; appends replay across it") {
    // Build on HALF the corpus, append the rest: codebooks are frozen at
    // the half-corpus training, so the drifted index differs from a
    // full-corpus build (the rebuild's reason to exist).
    val all = Tables.embeddings(spark, sf())
    val split = all.count() / 2
    val dirA = Files.createTempDirectory("ann-reb-sub").toString
    all.filter(col("vec_id") < split).write.parquet(s"$dirA/embeddings.parquet")
    val root = Files.createTempDirectory("ann-reb").toString
    AnnIndex.build(spark, dirA, root)
    AnnIndex.append(spark, root,
      all.filter(col("vec_id") >= split).select("vec_id", "label", "embedding"))
    val drifted = rows(AnnIndex.probeIvf(spark, root))
    // The cutover: retrain on the corpus as it stands NOW. Every probe
    // family must equal a one-shot fresh build on the full corpus.
    AnnIndex.rebuild(spark, sf(), root)
    val freshRoot = Files.createTempDirectory("ann-reb-fresh").toString
    AnnIndex.build(spark, sf(), freshRoot)
    assert(rows(AnnIndex.probeIvf(spark, root))
      == rows(AnnIndex.probeIvf(spark, freshRoot)))
    assert(rows(AnnIndex.probePq(spark, sf(), root))
      == rows(AnnIndex.probePq(spark, sf(), freshRoot)))
    assert(rows(AnnIndex.probeIvfPq(spark, sf(), root))
      == rows(AnnIndex.probeIvfPq(spark, sf(), freshRoot)))
    // The retrain was LIVE: the ivf family's trained cells differ from
    // the half-corpus codebooks' (else the cutover tested nothing).
    assert(rows(AnnIndex.probeIvf(spark, root)) != drifted,
      "full-corpus retrain produced the half-corpus assignment — inert rebuild")
    // Append replay across the cutover: the rebuilt index already holds
    // every row, so re-appending the second half is a no-op.
    val tables = Seq("ivf/codes", "pq/codes", "ivfpq/codes")
    val before = tables.map(t => spark.read.parquet(s"$root/$t").count())
    AnnIndex.append(spark, root,
      all.filter(col("vec_id") >= split).select("vec_id", "label", "embedding"))
    assert(tables.map(t => spark.read.parquet(s"$root/$t").count()) == before)
    // No construction debris survives a completed rebuild.
    val parent = new java.io.File(root).getParentFile
    val base = new java.io.File(root).getName
    assert(!new java.io.File(parent, s".${base}_rebuild_tmp").exists())
    assert(!new java.io.File(parent, s".${base}_rebuild_bak").exists())

    // Crash forged between the two publish renames (root missing, bak
    // holding the old generation): the next rebuild heals and completes.
    val hroot = new org.apache.hadoop.fs.Path(root)
    val hfs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hbak = new org.apache.hadoop.fs.Path(hroot.getParent,
      s".${hroot.getName}_rebuild_bak")
    assert(hfs.rename(hroot, hbak))
    AnnIndex.rebuild(spark, sf(), root)
    assert(rows(AnnIndex.probeIvf(spark, root))
      == rows(AnnIndex.probeIvf(spark, freshRoot)))
    assert(!new java.io.File(parent, s".${base}_rebuild_bak").exists())

    // The swap serializes through the root's writer lease: a live
    // holder makes rebuild fail fast, with the old root still serving.
    val held = graft.WriterLease.acquire(spark, root, "spec-holder")
    try {
      intercept[IllegalStateException] { AnnIndex.rebuild(spark, sf(), root) }
      assert(rows(AnnIndex.probeIvf(spark, root))
        == rows(AnnIndex.probeIvf(spark, freshRoot)))
    } finally held.release()
  }

  test("external-query search: an exact corpus copy retrieves itself at rank 1") {
    // The retrieval sanity every vector store owes: querying with a
    // vector IDENTICAL to an indexed one must return that vector first
    // at cosine exactly 1.0 (external queries have no corpus identity,
    // so self-retrieval is the expected behavior, not an exclusion) —
    // and a query that is NOT a corpus row (the reversed head) must
    // answer from its assigned cell without crashing or padding.
    val root = Files.createTempDirectory("ann-ext").toString
    AnnIndex.build(spark, sf(), root)
    val twin = Tables.embeddings(spark, sf())
      .filter(col("vec_id") === 20L)
      .select((col("vec_id") * 1000).as("qid"), col("embedding"))
    val got = AnnIndex.searchIvf(spark, root, twin).collect()
    assert(got.nonEmpty)
    val first = got.head
    assert(first.getLong(0) == 20000L && first.getLong(1) == 20L
      && first.getInt(3) == 1 && math.abs(first.getDouble(4) - 1.0) < 1e-12,
      s"exact twin not retrieved at rank 1 / cosine 1.0: ${got.take(3).mkString(",")}")
    // Every answered row sits in the query's one assigned cell.
    assert(got.map(_.getLong(2)).distinct.length == 1)
    // An empty request batch answers zero rows, not a crash (the
    // rerankFetch empty-candidate rule).
    assert(AnnIndex.searchIvf(spark, root, twin.limit(0)).count() == 0)

    // Filtered external search: self-retrieval under the twin's OWN
    // label, every neighbor sharing it (pre-filter semantics), and the
    // unfiltered top-k restricted to the label never disagrees with
    // the filtered answer where they overlap.
    val twinL = Tables.embeddings(spark, sf())
      .filter(col("vec_id") === 20L)
      .select((col("vec_id") * 1000).as("qid"), col("embedding"), col("label"))
    val gotF = AnnIndex.searchIvfFiltered(spark, root, twinL).collect()
    assert(gotF.nonEmpty)
    assert(gotF.head.getLong(0) == 20000L && gotF.head.getLong(2) == 20L
      && gotF.head.getInt(4) == 1
      && math.abs(gotF.head.getDouble(5) - 1.0) < 1e-12,
      s"filtered twin not self-retrieved at rank 1: ${gotF.take(3).mkString(",")}")
    val labels = Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val qLabel = labels(20L)
    gotF.foreach(r => assert(labels(r.getLong(2)) == qLabel,
      s"neighbor ${r.getLong(2)} outside the query label $qLabel"))
    assert(AnnIndex.searchIvfFiltered(spark, root, twinL.limit(0)).count() == 0)
  }

  test("streaming appends converge to the batch-append index") {
    val all = Tables.embeddings(spark, sf())
    val split = all.count() / 2
    val dirA = Files.createTempDirectory("ann-sub-s").toString
    all.filter(col("vec_id") < split).write.parquet(s"$dirA/embeddings.parquet")
    // Batch reference: build on the first half, append the rest one-shot.
    val rootBatch = Files.createTempDirectory("ann-idx-b").toString
    AnnIndex.build(spark, dirA, rootBatch)
    AnnIndex.append(spark, rootBatch,
      all.filter(col("vec_id") >= split).select("vec_id", "label", "embedding"))
    // Streaming path: same build, then the second half arrives as a
    // 3-file landing directory drained one file per micro-batch.
    val rootStream = Files.createTempDirectory("ann-idx-s").toString
    AnnIndex.build(spark, dirA, rootStream)
    val landing = Files.createTempDirectory("ann-landing").toString
    val rest = all.filter(col("vec_id") >= split).select("vec_id", "label", "embedding")
    rest.repartition(3).write.mode("overwrite").parquet(s"$landing/vecs")
    val q = graft.streaming.DocStream.indexEmbeddings(
      spark, s"$landing/vecs", rootStream, rest.schema)
    q.awaitTermination()
    // Every probe family must serve identical answers from both roots.
    assert(rows(AnnIndex.probeIvf(spark, rootStream))
      == rows(AnnIndex.probeIvf(spark, rootBatch)))
    assert(rows(AnnIndex.probePq(spark, sf(), rootStream))
      == rows(AnnIndex.probePq(spark, sf(), rootBatch)))
    assert(rows(AnnIndex.probeIvfPq(spark, sf(), rootStream))
      == rows(AnnIndex.probeIvfPq(spark, sf(), rootBatch)))
  }
}
