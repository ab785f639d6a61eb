package graft.operators

import graft.{SparkSpecBase, Tables}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Pins the index-deletion lifecycle: logical removes are immediately
  * visible, purges apply them physically with BOUNDED I/O (only touched
  * partitions rewritten), crashed applies replay to the clean one-shot
  * state, and executing the curation action plan leaves the near-dup
  * index EQUAL to a fresh build over d19's cleaned corpus. Lives in
  * graft.operators to reach Dedup/Similarity package-private stages for
  * the independent expected sides. */
class MaintenanceSpec extends SparkSpecBase {

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  /** Exact-cosine top-k within each corpus query's own cell — the
    * inline form of the IVF probes. */
  private def cellTopK(cells: DataFrame): DataFrame =
    Similarity.cellRanked(Similarity.cosineTopK(cells,
      Similarity.queryHead(cells, col("cid").as("q_cid")),
      col("cid") === col("q_cid") && Similarity.NotSelf))

  private def pairSet(root: String) = NearDupIndex.pairs(spark, root)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The index's full persisted text-side state, normalized for
    * comparison: shingle rows as (doc_id, shingle set) plus the pair
    * set. Two roots with equal state() serve identical answers to every
    * read path. */
  private def state(root: String): (Set[(Long, Set[Long])], Set[(Long, Long, Double)]) = {
    val sh = spark.read.parquet(s"$root/shingles")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toSet
    (sh, pairSet(root))
  }

  private def toks(p: String, from: Int, to: Int): String =
    (from to to).map(i => s"$p$i").mkString(" ")

  /** A corpus where every plan action fires: exact dup (15/16), near
    * dup (14/17 one-token delta), and a shared ≥16-token span between
    * survivors (10/12 share A1..A20 and B1..B16) — the d19 forged
    * geometry, so applyPlan's trim re-index path is exercised. */
  private lazy val forged: String = {
    import org.apache.spark.sql.functions.{col, length}
    import spark.implicits._
    val tmp = Files.createTempDirectory("maint-forged").toString
    val rows = Seq(
      10L -> (toks("f", 1, 10) + " " + toks("A", 1, 20) + " " +
              toks("f", 11, 20) + " " + toks("B", 1, 16)),
      12L -> (toks("h", 1, 10) + " " + toks("A", 1, 20) + " " +
              toks("h", 11, 20) + " " + toks("B", 1, 16)),
      14L -> (toks("z", 1, 40) + " near0"),
      15L -> toks("y", 1, 20),
      16L -> toks("y", 1, 20),
      17L -> (toks("z", 1, 40) + " near1"))
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** applyPlan on `dir` ≡ a fresh index built over d19's cleaned
    * corpus; returns the apply census for action-coverage asserts. */
  private def checkApplied(dir: String): Map[String, Long] = {
    val root = Files.createTempDirectory("maint-apply").toString
    NearDupIndex.addDocuments(spark, Tables.documents(spark, dir), root)
    val census = Maintenance.applyPlan(spark, dir, root)
    val cleaned = Dedup.cleanedDocsFrom(spark, dir, Dedup.d2Pairs(spark, dir))
      .select("doc_id", "text")
    val fresh = Files.createTempDirectory("maint-fresh").toString
    NearDupIndex.addDocuments(spark, cleaned, fresh)
    assert(state(root) == state(fresh))
    // The staging directory (the apply's intermediate) is gone: the
    // delete is the commit point, so its absence marks a completed run.
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_apply_staging")))
    // No tombstones linger: the purge inside the apply consumed them.
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
    census
  }

  test("applyPlan leaves the index equal to a fresh build on the cleaned corpus") {
    // Forged corpus: every action fires — drops AND the trim re-index.
    val cf = checkApplied(forged)
    assert(cf("dropped_docs") > 0, cf.toString)
    assert(cf("trimmed_docs") > 0, cf.toString)
    assert(cf("reindex_pairs") == 0, cf.toString) // trimmed 10/12 no longer pair
    // Testdata: the real corpus (drop-heavy at this SF).
    val ct = checkApplied(sf())
    assert(ct("dropped_docs") > 0, ct.toString)
  }

  test("a crashed apply replays to the one-shot state, however far it got") {
    val docs = Tables.documents(spark, sf())
    val clean = Files.createTempDirectory("maint-clean").toString
    NearDupIndex.addDocuments(spark, docs, clean)
    Maintenance.applyPlan(spark, sf(), clean)
    val want = state(clean)
    // Crash point 1: staged, tombstones written, nothing purged. The
    // replay MUST reuse the staged plan — the pair table it was derived
    // from is already tombstone-filtered, so a recompute would re-derive
    // a smaller plan and silently never re-add the trimmed docs.
    val c1 = Files.createTempDirectory("maint-crash1").toString
    NearDupIndex.addDocuments(spark, docs, c1)
    Maintenance.stagePlan(spark, sf(), c1)
    NearDupIndex.remove(spark, c1,
      spark.read.parquet(s"$c1/_apply_staging/plan").select("doc_id"))
    assert(Maintenance.applyPlan(spark, sf(), c1) != null)
    assert(state(c1) == want)
    // Crash point 2: staged, removed, and died MID-PURGE — one table
    // already rewritten without the tombstoned rows, the others and the
    // tombstone table (the commit point) still in place. The replayed
    // purge's anti-join re-runs as a no-op on the rewritten table and
    // completes the rest.
    val c2 = Files.createTempDirectory("maint-crash2").toString
    NearDupIndex.addDocuments(spark, docs, c2)
    Maintenance.stagePlan(spark, sf(), c2)
    NearDupIndex.remove(spark, c2,
      spark.read.parquet(s"$c2/_apply_staging/plan").select("doc_id"))
    val tomb = spark.read.parquet(s"$c2/tombstones").select("doc_id")
    graft.olapsus.Warehouse.rewritePath(spark, s"$c2/bands", 128L * 1024 * 1024,
      df => df.join(org.apache.spark.sql.functions.broadcast(tomb),
        Seq("doc_id"), "anti"))
    Maintenance.applyPlan(spark, sf(), c2)
    assert(state(c2) == want)
    // Crash point 3: staged, removed AND fully purged — died before the
    // trimmed docs were re-indexed.
    val c3 = Files.createTempDirectory("maint-crash3").toString
    NearDupIndex.addDocuments(spark, docs, c3)
    Maintenance.stagePlan(spark, sf(), c3)
    NearDupIndex.remove(spark, c3,
      spark.read.parquet(s"$c3/_apply_staging/plan").select("doc_id"))
    NearDupIndex.purgeTombstones(spark, c3)
    Maintenance.applyPlan(spark, sf(), c3)
    assert(state(c3) == want)
  }

  test("applyPlan's embedding side drops the dropped docs' vectors") {
    // vec_id ≡ doc_id for this corpus: the plan's DROPS must leave the
    // ANN index (trims keep their vectors — re-embedding edited text is
    // an upstream model call, the documented seam), and the purge must
    // be physical. Probes keep serving afterwards.
    val root = Files.createTempDirectory("maint-ann-apply").toString
    NearDupIndex.addDocuments(spark, Tables.documents(spark, sf()), root)
    val annRoot = Files.createTempDirectory("maint-ann-apply-idx").toString
    AnnIndex.build(spark, sf(), annRoot)
    val census = Maintenance.applyPlan(spark, sf(), root, Some(annRoot))
    assert(census("dropped_docs") > 0)
    val allVecs = Tables.embeddings(spark, sf())
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val plan = Dedup.actionPlanFrom(spark, sf(), Dedup.d2Pairs(spark, sf()))
      .filter(col("action").startsWith("drop")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val droppedVecs = plan.intersect(allVecs)
    assert(droppedVecs.nonEmpty, "no dropped doc has a vector — vacuous case")
    val left = spark.read.parquet(s"$annRoot/pq/codes")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(droppedVecs.intersect(left).isEmpty,
      s"dropped vectors still indexed: ${droppedVecs.intersect(left).take(5)}")
    assert((allVecs -- plan).subsetOf(left), "a kept vector was purged")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(annRoot, "tombstones")))
    assert(AnnIndex.probeIvf(spark, annRoot).count() > 0)
  }

  test("near-dup remove is immediately visible; purge is physical; replays no-op") {
    val docs = Tables.documents(spark, sf())
    val root = Files.createTempDirectory("maint-nd").toString
    NearDupIndex.addDocuments(spark, docs, root)
    val full = pairSet(root)
    // Remove the doc_a side of a few real pairs so the filter is live.
    val gone = full.take(3).map(_._1)
    assert(gone.nonEmpty)
    val ids = spark.createDataFrame(gone.toSeq.map(Tuple1(_))).toDF("doc_id")
    assert(NearDupIndex.remove(spark, root, ids) == gone.size.toLong)
    // Logical deletion: pairs() already excludes every pair touching a
    // tombstoned doc — exactly the full set filtered to live-both-sides
    // (banding only ever pairs present docs, so fresh-build equality on
    // the reduced corpus is this same filter).
    val wantPairs = full.filter(p => !gone.contains(p._1) && !gone.contains(p._2))
    assert(pairSet(root) == wantPairs)
    assert(!NearDupIndex.docStats(spark, root).collect()
      .exists(r => gone.contains(r.getLong(0))))
    // Re-adding a tombstoned doc before the purge must fail loudly: the
    // new rows would be masked by their own tombstones.
    intercept[IllegalStateException] {
      NearDupIndex.addDocuments(spark,
        docs.filter(col("doc_id").isin(gone.toSeq: _*)), root)
    }
    // Physical deletion: same answers, rows actually gone, marker gone.
    val dropped = NearDupIndex.purgeTombstones(spark, root)
    assert(dropped("shingles") == gone.size.toLong, dropped.toString)
    assert(pairSet(root) == wantPairs)
    assert(spark.read.parquet(s"$root/shingles")
      .filter(col("doc_id").isin(gone.toSeq: _*)).count() == 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "tombstones")))
    // Replays: re-removing purged ids tombstones nothing (they're no
    // longer in the index); an empty purge is a no-op.
    assert(NearDupIndex.remove(spark, root, ids) == 0L)
    assert(NearDupIndex.purgeTombstones(spark, root).isEmpty)
    // And the purged doc is re-addable now — an update, completed.
    NearDupIndex.addDocuments(spark,
      docs.filter(col("doc_id") === gone.head), root)
    assert(spark.read.parquet(s"$root/shingles")
      .filter(col("doc_id") === gone.head).count() == 1)
  }

  test("ann remove/purge serve frozen-codebook answers; removed queries stop asking") {
    val root = Files.createTempDirectory("maint-ann").toString
    AnnIndex.build(spark, sf(), root)
    // Remove a block of corpus rows ABOVE every head bound (seeds,
    // queries, codebook rows all live below 16), plus query 9 — which
    // must stop asking as well as answering.
    val all = Tables.embeddings(spark, sf())
    val n = all.count()
    val goneIds = (n - 5 until n).toSeq :+ 9L
    val ids = spark.createDataFrame(goneIds.map(Tuple1(_))).toDF("vec_id")
    assert(AnnIndex.remove(spark, root, ids) == goneIds.size.toLong)
    // Expected: the ORIGINAL corpus' codebooks (frozen — remove never
    // retrains, the append contract) applied inline to the reduced
    // vector set. For the head-derived families (seeded/pq/ivfpq) this
    // IS a fresh build on the reduced corpus, since their codebooks
    // only read rows below 16.
    val vecsAll = Similarity.vectorFrame(spark, sf()).cache()
    try {
      val reduced = vecsAll.filter(!col("vec_id").isin(goneIds: _*))
      val cent = Similarity.trainIvf(spark, sf(), vecsAll)
      val expIvf = rows(cellTopK(
        reduced.withColumn("cid", Similarity.nearestId(col("qv"), cent))))
      val seeds = Similarity.collectHead(spark, sf(), Similarity.NC.toLong)
        .toSeq.sortBy(_._1)
      val expSeeded = rows(cellTopK(
        reduced.withColumn("cid", Similarity.nearestId(col("qv"), seeds))))
      val headPq = Similarity.collectHead(spark, sf(),
        math.max(Similarity.NQ, Similarity.PQ_K).toLong) - 9L
      val cb = Similarity.trainPq(vecsAll, headPq)
      val expPq = rows(Similarity.pqAdcTopK("exp",
        Similarity.pqEncode(reduced, cb), headPq, cb))
      // Logical (tombstone anti-join) and physical (post-purge) reads
      // must agree with the expected — and with each other.
      def check(): Unit = {
        val ivf = rows(AnnIndex.probeIvf(spark, root))
        assert(ivf == expIvf)
        assert(!ivf.exists(r => r.head == 9L || goneIds.contains(r(1))),
          "a removed vector still asks or answers")
        assert(rows(AnnIndex.probeIvfSeeded(spark, root)) == expSeeded)
        assert(rows(AnnIndex.probePq(spark, sf(), root)) == expPq)
      }
      check()
      // Appending a tombstoned id before the purge fails loudly.
      intercept[IllegalStateException] {
        AnnIndex.append(spark, root, all.filter(col("vec_id") === 9L)
          .select("vec_id", "label", "embedding"))
      }
      val purged = AnnIndex.purgeTombstones(spark, root)
      assert(purged("pq/codes") == goneIds.size.toLong, purged.toString)
      check()
      assert(spark.read.parquet(s"$root/pq/codes")
        .filter(col("vec_id").isin(goneIds: _*)).count() == 0)
      assert(spark.read.parquet(s"$root/ivf/qhead")
        .filter(col("vec_id") === 9L).count() == 0)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "tombstones")))
      // Replays: nothing left to tombstone, nothing left to purge.
      assert(AnnIndex.remove(spark, root, ids) == 0L)
      assert(AnnIndex.purgeTombstones(spark, root).isEmpty)
    } finally { vecsAll.unpersist(); () }
  }

  /** Every regular file under `root` with its modification time. */
  private def fileTimes(root: String): Map[String, Long] = {
    val out = scala.collection.mutable.Map[String, Long]()
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).forEach { f =>
      if (java.nio.file.Files.isRegularFile(f))
        out += (f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
    }
    out.toMap
  }

  /** Runs `purge` so that it leaves the state of a purge that died after
    * its rewrites and before its commit: `root/tombstones` is copied aside
    * first and put back afterwards. Returns `answers` as read in between,
    * once the purge completed. */
  private def purgeDiedBeforeCommit[A](root: String)(purge: => Unit)(answers: => A): A = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val tomb = new Path(s"$root/tombstones")
    val fs = tomb.getFileSystem(conf)
    val aside = new Path(Files.createTempDirectory("tomb-aside").toString, "tombstones")
    assert(FileUtil.copy(fs, tomb, fs, aside, false, conf))
    purge
    assert(!fs.exists(tomb))
    val a = answers
    assert(FileUtil.copy(fs, aside, fs, tomb, false, conf))
    a
  }

  test("a purge that died before deleting its tombstones replays as a no-op") {
    def noop(dropped: Map[String, Long]): Unit =
      assert(dropped.nonEmpty && dropped.values.forall(_ == 0L), dropped.toString)
    def tombGone(root: String): Unit =
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "tombstones")))
    // Near-dup index: the rewritten tables already lack the removed docs.
    val nd = Files.createTempDirectory("maint-nd-replay").toString
    NearDupIndex.addDocuments(spark, Tables.documents(spark, sf()), nd)
    val gone = pairSet(nd).take(3).map(_._1).toSeq
    assert(NearDupIndex.remove(spark, nd,
      spark.createDataFrame(gone.map(Tuple1(_))).toDF("doc_id")) == gone.size.toLong)
    def ndAnswers = (pairSet(nd), rows(NearDupIndex.docStats(spark, nd).orderBy("doc_id")))
    val ndWant = purgeDiedBeforeCommit(nd)(NearDupIndex.purgeTombstones(spark, nd))(ndAnswers)
    noop(NearDupIndex.purgeTombstones(spark, nd))
    assert(ndAnswers == ndWant)
    tombGone(nd)
    // ANN index: partitioned and flat families alike.
    val ann = Files.createTempDirectory("maint-ann-replay").toString
    AnnIndex.build(spark, sf(), ann)
    val n = Tables.embeddings(spark, sf()).count()
    val goneIds = (n - 5 until n).toSeq :+ 9L
    assert(AnnIndex.remove(spark, ann,
      spark.createDataFrame(goneIds.map(Tuple1(_))).toDF("vec_id")) == goneIds.size.toLong)
    def annAnswers = (rows(AnnIndex.probeIvf(spark, ann)), rows(AnnIndex.probePq(spark, sf(), ann)))
    val annWant = purgeDiedBeforeCommit(ann)(AnnIndex.purgeTombstones(spark, ann))(annAnswers)
    noop(AnnIndex.purgeTombstones(spark, ann))
    assert(annAnswers == annWant)
    tombGone(ann)
  }

  test("d21 and c6 roots rebuild on a stale corpus marker and stay untouched on a current one") {
    val dir = sf()
    val want = s"v1 f=${graft.Persist.corpusFingerprint(spark, dir, "documents.parquet")}\n"
    val markers = Seq(s"${Maintenance.appliedRoot(dir)}/_applied",
      s"${Maintenance.pairsRoot(dir)}/_built_pairs")
    def runBoth(): Unit = {
      Maintenance.d21AppliedCensus.run(spark, dir).count()
      Maintenance.c6SemanticCurationServed.run(spark, dir).count()
      ()
    }
    def marker(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    def dataFiles(m: String) = fileTimes(new java.io.File(m).getParent)
    runBoth()
    markers.foreach(m => assert(marker(m) == want, m))
    // A current marker in a fresh process: nothing is rewritten.
    val current = markers.map(dataFiles)
    graft.Persist.resetValidationCacheForTest()
    runBoth()
    assert(markers.map(dataFiles) == current)
    // A stale corpus fingerprint (forged through the Hadoop FS, which
    // keeps the checksum sidecar valid): both roots rebuild.
    graft.Persist.resetValidationCacheForTest()
    markers.foreach { m =>
      val hp = new org.apache.hadoop.fs.Path(m)
      val out = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(hp, true)
      try out.write("v1 f=deadbeef\n".getBytes("UTF-8")) finally out.close()
    }
    val stale = markers.map(dataFiles)
    runBoth()
    markers.zip(stale).foreach { case (m, before) =>
      assert(marker(m) == want, m)
      def parquet(fs: Map[String, Long]) = fs.keySet.filter(_.endsWith(".parquet"))
      assert(parquet(dataFiles(m)) != parquet(before), s"$m: root not rebuilt")
    }
  }

  test("purge rewrites ONLY the touched cid directories") {
    val root = Files.createTempDirectory("maint-ann-io").toString
    AnnIndex.build(spark, sf(), root)
    // Pick every victim from ONE ivf cell (above the head bound) so the
    // other cells' directories must survive byte-identical.
    val byCell = spark.read.parquet(s"$root/ivf/codes")
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .filter(col("vec_id") >= 16).collect()
      .groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.map(_.getLong(0)).toSeq }
    val (victimCell, victims) = byCell.maxBy(_._2.size)
    assert(byCell.size > 1, "need >1 populated cell for a bounded-I/O pin")
    def snapshot(table: String): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, table)).forEach { f =>
        if (java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
          out += (f.toString -> (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis))
      }
      out.toMap
    }
    val before = snapshot("ivf/codes")
    AnnIndex.remove(spark, root,
      spark.createDataFrame(victims.map(Tuple1(_))).toDF("vec_id"))
    AnnIndex.purgeTombstones(spark, root)
    val after = snapshot("ivf/codes")
    val touchedPrefix = s"cid=$victimCell"
    before.foreach { case (p, meta) =>
      if (!p.contains(touchedPrefix))
        assert(after.get(p).contains(meta), s"untouched file rewritten: $p")
    }
    assert(before.keys.exists(_.contains(touchedPrefix)), "victim cell had no files")
    // The touched cell really was rewritten: its file set changed (the
    // rewrite publishes fresh files, or drops the dir when emptied).
    assert(before.keySet.filter(_.contains(touchedPrefix))
      != after.keySet.filter(_.contains(touchedPrefix)),
      s"touched cell unchanged: $touchedPrefix")
    // The victims are gone from the rewritten cell, the rest intact.
    val left = spark.read.parquet(s"$root/ivf/codes")
    assert(left.filter(col("vec_id").isin(victims: _*)).count() == 0)
  }
}
