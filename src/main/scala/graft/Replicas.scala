package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K×-replicated copies of a testdata corpus, for scale claims made
  * from counts: an operator run on the base corpus and on its K-replica
  * copy must grow its output, shuffle and task input by at most the
  * factor its design states.
  *
  * Replication keeps the workload's DUPLICATE STRUCTURE linear — each
  * replica is made lexically/geometrically distinct (a per-replica
  * alphabet bijection for text plus a replica-local `source`; a
  * disjoint label space for vectors), so within-replica near-dup
  * structure mirrors the original EXACTLY while replicas don't
  * cross-match. Without that, replicating a doc K times would fabricate
  * K²/2 new near-dup pairs per doc and every count would measure the
  * forged data's quadratic pair growth, not the engine.
  * ScaleSchemeSpec pins the premise and runs the audit.
  */
object Replicas {

  /** Replica id offset derived from the table's ACTUAL max key, never a
    * fixed constant: a constant (say 1e8) collides once base keys reach
    * it — TPC-H order keys do around sf≈17 — and colliding ranges forge
    * cross-replica join matches and fabricated data growth. */
  private[graft] def offsetFor(df: DataFrame, keys: Seq[String]): Long = {
    val maxes = df.agg(max(keys.head), keys.tail.map(max): _*)
      .collect()(0).toSeq.map {
      case null => 0L
      case n: Number => n.longValue()
    }
    math.max(100000000L, maxes.max + 1L)
  }

  /** Per-replica alphabet bijection: ONE affine permutation over the
    * COMBINED 36-symbol alphabet (lowercase + digits), i → (i·stride +
    * r) mod 36 with stride a unit of Z36. Same-stride maps with
    * different shifts are rows of a Latin square — they agree NOWHERE —
    * so the first 36 replicas (stride 1, shifts 0..35) are pairwise
    * collision-free on every symbol, and an everywhere-distinct family
    * cannot exceed 36 members (for fixed c, the 37th map must repeat
    * some π(c)), so that is the achievable optimum. Across stride
    * groups, two maps agree on exactly gcd(Δstride, 36) symbols when
    * the shift difference is divisible by that gcd (else nowhere); all
    * units are odd so gcd ≥ 2, and the stride ORDER below puts the
    * gcd-2 neighbors (1, 11, 23, 35) first — cross-group pairs up to
    * K=72 share at most 2 symbols, so a cross-replica token collision
    * needs a token composed ONLY of those ≤2 symbols, and a shingle
    * needs a run of such tokens (mod-4 pigeonhole makes ≥4 shared
    * symbols unavoidable once three stride groups are in play, i.e.
    * K>72 — replicate past that and this analysis must be redone).
    * Letters may map to digits and vice versa; the map stays
    * a bijection on the combined alphabet, which is what preserves
    * gram/shingle structure exactly. Uppercase gets its own
    * affine-over-26 cycle (stride order likewise gcd-2-first) so case
    * classes never merge. Non-ASCII symbols pass through untouched —
    * fine for the ASCII synthetic corpus, and ScaleSchemeSpec checks
    * the replica-locality OUTCOME against the actual data — including
    * across the stride-group boundary — rather than trusting this
    * reasoning. Replica 0 is the IDENTITY: replica 0 IS the base
    * corpus. */
  private def replicaAlphabet(r: Int): (String, String) = {
    val combined = "abcdefghijklmnopqrstuvwxyz0123456789"
    val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val s36 = Seq(1, 11, 23, 35, 5, 17, 29, 7, 19, 31, 13, 25)((r / 36) % 12)
    val cTo = combined.indices.map(i => combined((i * s36 + r) % 36)).mkString
    val s26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)((r / 26) % 12)
    val uTo = upper.indices.map(i => upper((i * s26 + r) % 26)).mkString
    (combined + upper, cTo + uTo)
  }

  /** K distinct replicas of documents: ids offset into disjoint ranges,
    * text mapped through a per-replica ALPHABET BIJECTION, and `source`
    * suffixed per replica so blocked ops block replica-locally.
    *
    * Why a bijection and not a per-token replica prefix: each replica
    * must MIRROR the base corpus's duplicate structure while replicas
    * never cross-match, and a prefix breaks both halves for character
    * grams — token-body 5-grams stay identical ACROSS replicas, while
    * WITHIN a replica the shared prefix on every token manufactures
    * common grams between unrelated documents. A character bijection
    * preserves gram and shingle structure EXACTLY — same set sizes, same
    * true Jaccard, text length and the n_chars column stay consistent — so
    * exact-scoring ops (d4) produce the SAME pairs per replica as base,
    * while hash-based candidate generation (d2's minhash banding) sees
    * re-randomized hashes per replica and its banding RECALL may differ
    * on borderline pairs; replica 0 is the identity, so its pairs equal
    * base exactly for every op. Distinct per-replica maps keep every
    * token (hence every word-shingle space) replica-distinct. The
    * `source` suffix keeps d4's (lang, source, lenb) blocks
    * replica-local regardless, mirroring the real 100 TB shape: a bigger
    * corpus has proportionally more sources, not deeper per-block
    * cohorts. ScaleSchemeSpec machine-checks the
    * premise: pair/join counts must grow EXACTLY K×. */
  private[graft] def scaleDocuments(spark: SparkSession, dir: String, out: String,
      k: Int): Unit = {
    val base = Tables.documents(spark, dir)
    val idOffset = offsetFor(base, Seq("doc_id"))
    val reps = (0 until k).map { r =>
      val (from, to) = replicaAlphabet(r)
      base
        .withColumn("doc_id", col("doc_id") + lit(r * idOffset))
        .withColumn("source", concat(col("source"), lit(s"_r$r")))
        .withColumn("text", translate(col("text"), from, to))
    }
    reps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
  }

  /** K replicas of embeddings: ids offset, labels suffixed per replica
    * (d8 blocks on label equality, so replicas never pair), and — the
    * vector analogue of the documents' alphabet bijection — each
    * replica's DIMENSIONS are permuted by a distinct affine map
    * i → (i·stride + r) mod d (stride a unit of Z_d; replica 0 is the
    * identity). A permutation common to a whole replica preserves every
    * within-replica dot product and norm EXACTLY — so each replica
    * mirrors the base corpus's similarity structure bit-for-bit — while
    * replicas stop being geometric CLONES of each other. Without this,
    * every copy of a vector has identical coordinates, lands in the
    * same k-means cell as the original no matter how many cells a
    * scaled build trains (8 clones of a query's whole neighborhood in
    * its cell), and every cell-pruned probe reads fabricated K× cell
    * growth even at a cells ∝ n build. Cross-replica dots become
    * arbitrary mid-range values (no forged near-dups: pair ops block on
    * the replica-suffixed label anyway). */
  private[graft] def scaleEmbeddings(spark: SparkSession, dir: String, out: String,
      k: Int): Unit = {
    val base = Tables.embeddings(spark, dir)
    val idOffset = offsetFor(base, Seq("vec_id"))
    val dims = base.select(size(col("embedding"))).head().getInt(0)
    // Strides must be UNITS of Z_dims (gcd 1) or the map is not a
    // bijection — it would duplicate some coordinates and drop others,
    // silently corrupting within-replica geometry, the exact
    // measurement artifact this transform exists to eliminate. Derived
    // from the actual dims, not assumed: a hard-coded odd list is only
    // unit-safe for power-of-two dims (3/5/7 divide 768/1536-style
    // widths).
    val strides = Iterator.from(1, 2)
      .filter(s => BigInt(s).gcd(BigInt(dims)) == 1).take(12).toSeq
    val reps = (0 until k).map { r =>
      val s = strides(r % strides.size)
      val perm = (0 until dims).map(i => (i * s + r) % dims)
      // The map degenerates to the identity whenever s ≡ 1 and r ≡ 0
      // (mod dims) — possible at tiny dims or r a multiple of dims on
      // the stride-1 slot — which would silently re-create the
      // geometric-clone replicas (replica ≡ base, same k-means cell)
      // this transform exists to eliminate. Fail loudly instead of
      // forging cell growth.
      require(r == 0 || perm.zipWithIndex.exists { case (p, i) => p != i },
        s"scaleEmbeddings: replica $r's dimension permutation (stride $s, " +
          s"dims $dims) is the identity — it would clone the base geometry; " +
          "use a replication factor below the dims or add stride groups")
      val permuted =
        if (r == 0) col("embedding")
        else array(perm.map(p => element_at(col("embedding"), p + 1)): _*)
      base
        .withColumn("vec_id", col("vec_id") + lit(r * idOffset))
        .withColumn("label", concat(col("label"), lit(s"_r$r")))
        .withColumn("embedding", permuted)
    }
    reps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
  }

  /** K replicas of the relational facts: order keys offset into disjoint
    * ranges ON BOTH SIDES of the lineitem⋈orders join (replicas join
    * within themselves), while the DIM foreign keys (custkey, partkey)
    * stay as-is — the realistic 100 TB shape, where facts grow and
    * conformed dimensions don't. The dims themselves are copied through
    * unchanged. */
  private[graft] def scaleRelational(spark: SparkSession, dir: String, out: String,
      k: Int): Unit = {
    def reps(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        idOffset: Long): org.apache.spark.sql.DataFrame =
      (0 until k).map { r =>
        keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * idOffset)))
      }.reduce(_ unionByName _)
    // ONE offset for the shared o_orderkey/l_orderkey space — replicas
    // must join within themselves on both sides.
    val orderOffset = offsetFor(Tables.orders(spark, dir), Seq("o_orderkey"))
    reps(Tables.orders(spark, dir), Seq("o_orderkey"), orderOffset)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    reps(Tables.lineitem(spark, dir), Seq("l_orderkey"), orderOffset)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // Events: per-replica user/event id spaces, so sessions (and any
    // per-user window) stay replica-local. Read RAW — Tables.events
    // rewrites ts to TIMESTAMP, which would change the scaled table's
    // schema vs the base layout the loaders expect.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsRaw = spark.read.parquet(s"$dir/events.parquet")
    reps(eventsRaw, Seq("event_id", "user_id"),
      offsetFor(eventsRaw, Seq("event_id", "user_id")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // Dims pass through byte-identical (a broadcast side that does not
    // grow is the point being measured).
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("customer", "nation", "region", "part", "supplier").foreach { t =>
      val src = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val dst = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      org.apache.hadoop.fs.FileUtil.copy(
        src.getFileSystem(conf), src, dst.getFileSystem(conf), dst, false, conf)
    }
  }
}
