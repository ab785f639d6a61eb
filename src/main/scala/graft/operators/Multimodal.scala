package graft.operators

import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded in per-partition batches.
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked DETERMINISTIC STUB (arithmetic over the raw bytes); the
  * Spark-side plumbing — schema, binary payloads, partition-batched decode
  * via `mapPartitions`, metadata struct output — is real and is what a
  * production decoder (JNI/FFI to a codec, or `mapInPandas`+PIL on a
  * PySpark surface) would plug into.
  *
  * Scale: payload bytes never shuffle — decode is a narrow map over the
  * scan; only the small metadata projection flows on. At 100 TB the table
  * would partition by (media_type, date) and the decode stage is
  * embarrassingly parallel.
  */
object Multimodal extends OpModule {

  /** Raw media row as read from storage. */
  final case class MediaRaw(doc_id: Long, media_type: String, payload: Array[Byte])

  /** One decoded media row. `format` is DETECTED from the payload bytes
    * ("png"/"bmp"/"gif"/"jpeg" via [[MediaHeaders.parse]]); "raw" means
    * no recognized container, in which case the dimensions fall back to
    * the stub arithmetic. */
  final case class MediaMeta(
      doc_id: Long,
      media_type: String,
      byte_len: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      first_byte: Int,
      format: String)

  /** Decode kernel: REAL container parsing where the payload carries a
    * recognized image header (PNG with CRC-validated IHDR, BMP with a
    * consistent size field, GIF87a/89a — [[MediaHeaders]]), and the
    * deterministic stub arithmetic as the fallback for opaque payloads.
    * Runs per partition over iterator batches — the exact shape a
    * full-frame codec needs (amortized per-partition init, streaming
    * iterator, no per-row driver round-trips). */
  def decodePartition(rows: Iterator[MediaRaw]): Iterator[MediaMeta] = {
    // A pixel codec would initialize its context here, once per
    // partition (e.g. libjpeg/ffmpeg handle), then decode each payload.
    rows.map { r =>
      val len = r.payload.length
      val fb = if (len > 0) r.payload(0) & 0xff else 0
      MediaHeaders.parse(r.payload) match {
        case Some((fmt, w, h)) =>
          MediaMeta(r.doc_id, r.media_type, len, w, h, 1, fb, fmt)
        case None =>
          MediaMeta(
            doc_id = r.doc_id,
            media_type = r.media_type,
            byte_len = len,
            width = len % 1024,             // stub: "decoded" dimensions
            height = fb,
            n_frames = if (r.media_type == "video") 1 + len % 16 else 1,
            first_byte = fb,
            format = "raw")
      }
    }
  }

  /** Synthesize a media table from documents: payload = UTF-8 bytes of
    * text (an opaque blob as far as the pipeline is concerned),
    * media_type assigned round-robin. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))

  /** Expression-level binary ops: length, checksum, head bytes — the
    * pushdown-friendly projections you run WITHOUT decoding. */
  val m1BinaryMeta: Op = Op(
    "m1_media_binary_meta",
    Some("""
      SELECT doc_id,
             CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
             md5(text) AS checksum
      FROM documents
      ORDER BY doc_id
    """))((spark, dir) => {
    mediaTable(spark, dir)
      .select(
        col("doc_id"), col("media_type"),
        length(col("payload")).as("byte_len"),
        md5(col("payload")).as("checksum"))
      .orderBy("doc_id")
  })

  /** Batched stub decode via mapPartitions; because the stub is
    * deterministic byte arithmetic, even the decode output is
    * oracle-checkable (ASCII text ⇒ first byte == ascii of first char). */
  val m2Decode: Op = Op(
    "m2_media_decode",
    Some("""
      SELECT doc_id,
             CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
             CAST(octet_length(encode(text)) % 1024 AS INTEGER) AS width,
             CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS height,
             CAST(CASE WHEN (doc_id % 3) = 2 THEN 1 + octet_length(encode(text)) % 16 ELSE 1 END AS INTEGER) AS n_frames
      FROM documents
      ORDER BY doc_id
    """))((spark, dir) => {
    import spark.implicits._
    mediaTable(spark, dir)
      .as[MediaRaw]
      .mapPartitions(decodePartition)
      .toDF()
      .select("doc_id", "media_type", "byte_len", "width", "height", "n_frames")
      .orderBy("doc_id")
  })

  /** Per-frame feature table: video rows fan out to one row per SAMPLED
    * frame (every 4th of the stub-decoded n_frames) with a per-frame
    * stub feature read at a frame-dependent offset. The shape is the
    * real thing — explode(sequence) over a per-row frame count, then a
    * per-frame projection; a production pipeline swaps the feature
    * expression for a decoded-frame kernel (m2's mapPartitions seam).
    * Payloads never shuffle: the generator and projection run in the
    * scan stage, and only (doc_id, frame_id, feature) flows on. */
  val m3FrameSample: Op = Op(
    "m3_media_frame_sample",
    Some("""
      WITH v AS (
        SELECT doc_id, text,
               octet_length(encode(text)) AS len,
               CAST(1 + octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
        FROM documents WHERE doc_id % 3 = 2
      )
      SELECT doc_id, n_frames,
             CAST(f AS INTEGER) AS frame_id,
             CAST((f - 1) * 40 AS INTEGER) AS frame_ms,
             CAST(ascii(substring(text, CAST((f * 997) % length(text) AS INTEGER) + 1, 1)) AS INTEGER) AS feat
      FROM (SELECT *, UNNEST(generate_series(1, n_frames, 4)) AS f FROM v)
      ORDER BY doc_id, frame_id
    """))((spark, dir) => {
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2) // the rows mediaTable types as video
      .select(col("doc_id"), col("text"),
        (lit(1) + length(encode(col("text"), "UTF-8")) % 16).cast("int").as("n_frames"))
      .select(col("doc_id"), col("text"), col("n_frames"),
        explode(sequence(lit(1), col("n_frames"), lit(4))).as("frame_id"))
      .select(
        col("doc_id"), col("n_frames"), col("frame_id"),
        ((col("frame_id") - 1) * 40).cast("int").as("frame_ms"),
        ascii(expr("substring(text, (frame_id * 997) % length(text) + 1, 1)"))
          .cast("int").as("feat"))
      .orderBy("doc_id", "frame_id")
  })

  /** Resize planning for image rows: aspect-preserving target geometry
    * (longest side capped at 256, minimum 1px) computed in pure integer
    * arithmetic from the stub-decoded dimensions. The pixel resample
    * itself belongs behind m2's per-partition codec seam; what the
    * engine owns — and what is oracle-checked — is the geometry plan
    * and the narrow projection shape (no payload bytes flow through). */
  val m4Resize: Op = Op(
    "m4_media_resize_plan",
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) % 1024 AS INTEGER) AS w,
               CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS h
        FROM documents WHERE doc_id % 3 = 0
      )
      SELECT doc_id, w, h,
             CAST(CASE WHEN greatest(w, h) <= 256 THEN w
                       ELSE greatest(1, (w * 256) // greatest(w, h)) END AS INTEGER) AS out_w,
             CAST(CASE WHEN greatest(w, h) <= 256 THEN h
                       ELSE greatest(1, (h * 256) // greatest(w, h)) END AS INTEGER) AS out_h
      FROM d
      ORDER BY doc_id
    """))((spark, dir) => {
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0) // the rows mediaTable types as image
      .select(col("doc_id"),
        (length(encode(col("text"), "UTF-8")) % 1024).cast("int").as("w"),
        ascii(substring(col("text"), 1, 1)).cast("int").as("h"))
      .select(col("doc_id"), col("w"), col("h"),
        when(greatest(col("w"), col("h")) <= 256, col("w"))
          .otherwise(greatest(lit(1), expr("(w * 256) div greatest(w, h)")))
          .cast("int").as("out_w"),
        when(greatest(col("w"), col("h")) <= 256, col("h"))
          .otherwise(greatest(lit(1), expr("(h * 256) div greatest(w, h)")))
          .cast("int").as("out_h"))
      .orderBy("doc_id")
  })

  /** REAL header decode over a generated fixture set: each document row
    * becomes a genuine PNG / BMP / GIF header (real magic numbers, real
    * field layout, CRC-correct PNG IHDR) with dimensions derived from
    * doc_id, and [[decodePartition]] must parse the FORMAT AND
    * DIMENSIONS back out of the bytes. The oracle computes the same
    * dimensions arithmetically, so a parser that mis-reads endianness,
    * offsets, or magic detection hash-mismatches loudly. This is the
    * decode seam doing real work — swap "header" for "pixels" and the
    * plumbing is unchanged. */
  val m5HeaderDecode: Op = Op(
    "m5_media_header_decode",
    Some("""
      SELECT doc_id,
             CASE (doc_id % 4) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                               WHEN 2 THEN 'gif' ELSE 'jpeg' END AS format,
             CAST(doc_id % 800 + 1 AS INTEGER) AS width,
             CAST((doc_id * 7) % 600 + 1 AS INTEGER) AS height
      FROM documents
      ORDER BY doc_id
    """))((spark, dir) => {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val fmt = (id % 4) match {
          case 0 => "png"; case 1 => "bmp"; case 2 => "gif"; case _ => "jpeg"
        }
        val w = (id % 800 + 1).toInt
        val h = ((id * 7) % 600 + 1).toInt
        MediaRaw(id, fmt, MediaHeaders.make(fmt, w, h))
      })
      .mapPartitions(decodePartition)
      .toDF()
      // format comes from the PARSER, not the generator — the assertion
      // under test is that the bytes round-trip.
      .select(col("doc_id"), col("format"), col("width"), col("height"))
      .orderBy("doc_id")
  })

  /** Audio-container metadata extraction: synthesize REAL canonical WAV
    * payloads (RIFF/WAVE with a PCM fmt chunk and a sized data chunk)
    * from doc attributes, then recover sample rate / channels / bit
    * depth / sample count by PARSING the bytes back — the audio twin of
    * m5's image-header round-trip. Everything reported comes from the
    * parser, so the assertion under oracle check is that the RIFF byte
    * layout round-trips exactly (the oracle mirrors the generator's
    * arithmetic, as with m5). duration_ms is integral math (no float
    * rates). Payloads are built and parsed inside one mapPartitions over
    * the scan — at 100 TB real audio blobs would stream through the
    * same per-partition kernel without ever shuffling. */
  val m6AudioHeader: Op = Op(
    "m6_audio_header",
    Some("""
      WITH g AS (
        SELECT doc_id,
               CASE (doc_id % 4) WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                 WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
               CAST(1 + doc_id % 2 AS INTEGER) AS channels,
               CAST(doc_id % 200 + 1 AS INTEGER) AS n_samples
        FROM documents
      )
      SELECT doc_id, CAST(sample_rate AS INTEGER) AS sample_rate, channels,
             CAST(16 AS INTEGER) AS bits,
             n_samples,
             CAST(44 + n_samples * channels * 2 AS INTEGER) AS byte_len,
             CAST(n_samples * 1000 // sample_rate AS BIGINT) AS duration_ms
      FROM g
      ORDER BY doc_id
    """))((spark, dir) => {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val rate = Array(8000, 16000, 22050, 44100)((id % 4).toInt)
        val ch = 1 + (id % 2).toInt
        val n = (id % 200 + 1).toInt
        val bytes = MediaHeaders.makeWav(rate, ch, 16, n)
        val (r2, c2, b2, n2) = MediaHeaders.parseWav(bytes)
          .getOrElse(sys.error(s"generated WAV failed to parse for doc $id"))
        (id, r2, c2, b2, n2, bytes.length)
      })
      .toDF("doc_id", "sample_rate", "channels", "bits", "n_samples", "byte_len")
      .withColumn("duration_ms", expr("n_samples * 1000 div sample_rate"))
      .orderBy("doc_id")
  })

  /** Video-container metadata extraction: synthesize REAL minimal MP4s
    * (ISO-BMFF box grammar — ftyp, moov/mvhd with timescale+duration,
    * trak/tkhd with 16.16 fixed-point dimensions) from doc attributes,
    * then recover width / height / timescale / duration by WALKING THE
    * BOXES back — the video twin of m5 (image headers) and m6 (RIFF
    * audio), closing the one common media family the codec seam didn't
    * parse. Everything reported comes from the parser, so the oracle
    * (mirroring the generator's arithmetic) checks that the box layout
    * round-trips exactly: a parser that misreads box sizes, the
    * version byte, or the 16.16 fixed point hash-mismatches loudly.
    * duration_ms is integral (ticks × 1000 // timescale). Same
    * per-partition kernel shape as m5/m6 — at 100 TB real containers
    * stream through it without shuffling payloads. */
  val m8VideoHeader: Op = Op(
    "m8_video_header",
    Some("""
      WITH g AS (
        SELECT doc_id,
               CAST(doc_id % 1920 + 1 AS INTEGER) AS width,
               CAST((doc_id * 3) % 1080 + 1 AS INTEGER) AS height,
               CASE (doc_id % 4) WHEN 0 THEN 600 WHEN 1 THEN 1000
                                 WHEN 2 THEN 24000 ELSE 90000 END AS timescale,
               doc_id % 100000 AS extra
        FROM documents
      )
      SELECT doc_id, width, height, CAST(timescale AS INTEGER) AS timescale,
             CAST(timescale + extra AS BIGINT) AS duration_ticks,
             CAST((timescale + extra) * 1000 // timescale AS BIGINT) AS duration_ms
      FROM g
      ORDER BY doc_id
    """))((spark, dir) => {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (id % 1920 + 1).toInt
        val h = ((id * 3) % 1080 + 1).toInt
        val ts = Array(600, 1000, 24000, 90000)((id % 4).toInt)
        val ticks = (ts + id % 100000).toInt
        val bytes = MediaHeaders.makeMp4(w, h, ts, ticks)
        val (w2, h2, ts2, d2) = MediaHeaders.parseMp4(bytes)
          .getOrElse(sys.error(s"generated MP4 failed to parse for doc $id"))
        (id, w2, h2, ts2, d2.toLong)
      })
      .toDF("doc_id", "width", "height", "timescale", "duration_ticks")
      .withColumn("duration_ms", expr("duration_ticks * 1000 div timescale"))
      .orderBy("doc_id")
  })

  /** Perceptual-hash grid side: 8×8 cells, 56 dHash bits (8 rows × 7
    * horizontal comparisons), so the hash fits a non-negative BIGINT in
    * both engines (a 64-bit variant would occupy the sign bit). */
  private val PG = 8
  private val PhashBits = PG * (PG - 1) // 56

  /** Band count for the Hamming-band candidate join: 14 nibble bands
    * (d7's pattern on the wider word) — a pair sharing NO band differs
    * in ≥ 14 bits, so by pigeonhole every pair within Hamming ≤
    * [[PhashThresh]] = 13 shares at least one band (exact recall at the
    * threshold). 13 of 56 bits ≈ 23% of the grid's comparisons — the
    * usual dHash near-dup band (≈10/64 in the 64-bit folklore). */
  private val PhashBands = 14
  private val PhashBandBits = PhashBits / PhashBands // 4
  private val PhashThresh = PhashBands - 1 // 13
  /** Hot-band bucket cap — the d14 df-cap rule applied to m7's banding:
    * a (media_type, band, value) cohort larger than this is SATURATED
    * 4-bit-key space, not similarity signal: once buckets saturate,
    * uncapped candidate pairs grow as n²/(bands·16·types), and
    * membership in a 16-value bucket at that density is pigeonhole
    * noise. Capped buckets are skipped on BOTH engines —
    * a pair is lost only when EVERY clean band it has is saturated,
    * i.e. when the 56-bit/4-bit-band geometry itself is exhausted and
    * the honest fix is a wider hash, not a bigger join. Sized above
    * every gate corpus's maximum bucket (sf0.1 max: 392), so oracle
    * values are unchanged where the gate grades them. */
  private[graft] val PhashBandCap = 1024

  /** Minimum payload length (decoded characters) for a meaningful
    * perceptual hash: shorter than one pixel per grid cell and the
    * "image" has no structure to hash. */
  private val PhashMinLen = PG * PG

  /** Media near-duplicate pairs via perceptual hash (m7): the m-family's
    * dedup story — every production multimodal pipeline dedups images,
    * and dHash-then-Hamming-band is the standard shape (aHash/dHash per
    * Krawetz; the banding is [[Dedup.hammingBandPairs]], d7's kernel, on
    * a wider word).
    *
    * The "pixel" source is the deterministic decode stub (the m2 seam):
    * the payload's decoded code points stand in for grayscale pixels, a
    * production build swaps in a real thumbnail decoder at the same
    * point and NOTHING downstream changes. The grid is proportional —
    * cell k of [[PG]]² averages the code points in its 1/64th of the
    * stream — so the hash is locality-sensitive BY CONSTRUCTION: a
    * small payload perturbation moves one cell average, flipping at
    * most its adjacent comparison bits (MediaHeadersSpec forges exactly
    * that geometry). All arithmetic is exact integer (sums, floor
    * divisions, comparisons), so the DuckDB mirror hashes identically.
    * Character semantics: both engines read the stream as Unicode CODE
    * POINTS (Spark's split('')+ascii is code-point based for BMP text —
    * PhashSpec pins 2- and 3-byte payloads against the code-point
    * prediction); supplementary characters (outside the BMP) are out of
    * contract, matching the corpus generator's BMP output.
    *
    * Scale shape: the hash is one codegen'd projection per row (no
    * shuffle, no join — payloads never leave their scan); pairing is a
    * banded equi-join on (media_type, band, value) exactly like d7 —
    * candidates grow with bucket cohorts, never corpus-quadratically —
    * and the Hamming verification is a bit_count over the two 56-bit
    * words. */
  /** m7's 56-bit dHash over an explicit value stream — the JVM twin of
    * the op's codegen'd expression chain, arithmetic mirrored term for
    * term (proportional 64-cell partition with floor boundaries, exact
    * integer cell means, right-neighbor comparisons per grid row;
    * PhashSpec pins the two paths bit-identical on forged payloads).
    * ONE definition of the hash a real decoder plugs into: feed it
    * pixels and it is a real dHash; feed it the stub code-point stream
    * and it is the registered op. */
  private[graft] def dHash56(codes: Array[Int]): Long =
    org.apache.spark.sql.graft.GraftHash.dHash56(codes, PG)

  /** The m2-seam production path for m7's hash: per-partition batched
    * decode, REAL pixels when the payload is a recognized raster
    * ([[MediaHeaders.decodeGray]] — row-major grayscale stream),
    * the stub code-point stream otherwise. On text payloads this is
    * bit-identical to the registered op's codegen'd form (PhashSpec
    * pins it), so swapping a real decoder in changes WHAT is hashed,
    * never HOW — banding, thresholds and the pair join downstream are
    * untouched. Payloads under the length gate are dropped, exactly as
    * the op's filter drops them. */
  def phashPartition(rows: Iterator[MediaRaw]): Iterator[(Long, String, Long)] =
    rows.flatMap { r =>
      // A null payload is dropped exactly as the op's isNotNull filter
      // drops a null text — never decoded, never hashed.
      if (r.payload == null) None
      else {
        val codes = MediaHeaders.decodeGray(r.payload) match {
          case Some((_, _, pix)) => pix
          case None =>
            new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
              .codePoints().toArray
        }
        if (codes.length < PhashMinLen) None
        else Some((r.doc_id, r.media_type, dHash56(codes)))
      }
    }

  val m7PhashPairs: Op = Op(
    "m7_media_phash_pairs", {
      val g2 = PG * PG
      val cellsSql = s"""[CASE WHEN ((k+1)*n)//$g2 > (k*n)//$g2
               THEN CAST(list_sum(codes[(k*n)//$g2 + 1:((k+1)*n)//$g2]) AS BIGINT)
                    // (((k+1)*n)//$g2 - (k*n)//$g2)
               ELSE 0 END FOR k IN generate_series(0, ${g2 - 1})]"""
      val hashSql = (for (r <- 0 until PG; c <- 0 until PG - 1) yield {
        val p = r * PG + c
        s"(CASE WHEN cells[${p + 2}] > cells[${p + 1}] THEN ${1L << (r * (PG - 1) + c)} ELSE 0 END)"
      }).mkString(" + ")
      val bandRows = (0 until PhashBands).map(b =>
        s"SELECT doc_id, media_type, ph, $b AS band, (ph // ${1L << (PhashBandBits * b)}) % ${1 << PhashBandBits} AS bv FROM ph")
        .mkString("\n        UNION ALL ")
      Some(s"""
      WITH m AS (
        SELECT doc_id,
               CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               text, length(text) AS n
        FROM documents
        WHERE text IS NOT NULL AND length(text) >= $PhashMinLen
      ), px AS (
        SELECT doc_id, media_type, n,
               [ord(text[i]) FOR i IN generate_series(1, n)] AS codes
        FROM m
      ), cl AS (
        SELECT doc_id, media_type, $cellsSql AS cells FROM px
      ), ph AS (
        SELECT doc_id, media_type, CAST($hashSql AS BIGINT) AS ph FROM cl
      ), bands0 AS (
        $bandRows
      ), bands AS (
        SELECT b.* FROM bands0 b
        JOIN (SELECT media_type, band, bv FROM bands0
              GROUP BY 1, 2, 3 HAVING COUNT(*) <= $PhashBandCap) s
          ON b.media_type = s.media_type AND b.band = s.band AND b.bv = s.bv
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.media_type AS media_type, a.ph AS pa, b.ph AS pb
        FROM bands a JOIN bands b
          ON a.media_type = b.media_type AND a.band = b.band AND a.bv = b.bv
         AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, media_type,
             CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
      FROM cand
      WHERE bit_count(xor(pa, pb)) <= $PhashThresh
      ORDER BY doc_a, doc_b
    """)
    })((spark, dir) => phashPairs(spark, dir))

  /** m7's body (shared with the spec, which drives forged payloads
    * through the same plan). */
  private[graft] def phashPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairsFrom(phashTable(spark, dir))

  /** The op's codegen'd hash stage alone — (doc_id, media_type, ph),
    * cached (the banded self-join reads it once per side). Exposed so
    * PhashSpec can pin it bit-identical to the JVM [[phashPartition]]
    * path on the same payloads. */
  private[graft] def phashTable(spark: SparkSession, dir: String): DataFrame = {
    val docs = mediaTable(spark, dir)
      .select(col("doc_id"), col("media_type"),
        decode(col("payload"), "UTF-8").as("t"))
      .filter(col("t").isNotNull && length(col("t")) >= PhashMinLen)
    // ONE codegen'd call per row ([[org.apache.spark.sql.graft.PHash56]])
    // runs [[dHash56]] over the code-point stream: the op IS the JVM
    // definition the decode seam and PhashSpec pin, and the scan
    // projection materializes no per-character values.
    docs
      .select(col("doc_id"), col("media_type"),
        org.apache.spark.sql.graft.Bridge.column(
          org.apache.spark.sql.graft.PHash56(
            org.apache.spark.sql.graft.Bridge.expression(col("t")), PG)).as("ph"))
      .cache()
  }

  /** m7's banding + pair tail over any (doc_id, media_type, ph) frame:
    * the shared Hamming-band kernel, blocked by media_type and capped at
    * [[PhashBandCap]]. */
  private def phashPairsFrom(ph: DataFrame): DataFrame =
    Dedup.hammingBandPairs(ph, "ph", PhashBands, PhashBandBits, PhashThresh,
      block = Seq("media_type"), cap = Some(PhashBandCap))
      .orderBy("doc_a", "doc_b")

  override def ops: Seq[Op] = Seq(m1BinaryMeta, m2Decode, m3FrameSample, m4Resize,
    m5HeaderDecode, m6AudioHeader, m7PhashPairs, m8VideoHeader)
}

/** Pure-JVM image container header codec: writes and parses the REAL
  * byte layouts of PNG (8-byte signature + IHDR chunk with CRC32), BMP
  * (BITMAPINFOHEADER) and GIF (87a/89a logical screen descriptor). No
  * native deps — exactly the subset of a codec that metadata extraction
  * at 100 TB needs (dimensions without decoding pixels). */
object MediaHeaders {

  private val PngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  private def be32(v: Int) =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int) = Array((v >>> 8).toByte, v.toByte)
  private def le32(v: Int) =
    Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def le16(v: Int) = Array(v.toByte, (v >>> 8).toByte)

  private def readBe32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def readBe16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def readLe32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def readLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def crc32(b: Array[Byte], from: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(b, from, len)
    c.getValue.toInt
  }

  /** A valid header-only payload of the given format and dimensions. */
  def make(format: String, width: Int, height: Int): Array[Byte] = format match {
    case "png" =>
      // signature ++ IHDR: len=13, "IHDR", w, h, depth 8, color 2 (RGB),
      // compression/filter/interlace 0, CRC32 over type+data.
      val chunk = "IHDR".getBytes("US-ASCII") ++ be32(width) ++ be32(height) ++
        Array[Byte](8, 2, 0, 0, 0)
      PngSig ++ be32(13) ++ chunk ++ be32(crc32(chunk, 0, chunk.length))
    case "bmp" =>
      // 14-byte file header (size field = total length) + 40-byte
      // BITMAPINFOHEADER; pixel data offset 54, 24 bpp.
      val total = 54
      "BM".getBytes("US-ASCII") ++ le32(total) ++ Array[Byte](0, 0, 0, 0) ++
        le32(54) ++ le32(40) ++ le32(width) ++ le32(height) ++
        le16(1) ++ le16(24) ++ Array.fill[Byte](24)(0)
    case "gif" =>
      // Logical screen descriptor + the mandatory 0x3B trailer (every
      // complete GIF ends with it — parse() uses that as its
      // whole-payload consistency check, the role the size field plays
      // for BMP).
      require(width <= 0xffff && height <= 0xffff, "GIF dims are uint16")
      "GIF89a".getBytes("US-ASCII") ++ le16(width) ++ le16(height) ++
        Array[Byte](0, 0, 0, 0x3b)
    case "jpeg" =>
      // SOI, APP0/JFIF (the segment real encoders emit first), then a
      // minimal single-component SOF0. Dimensions live in SOF0 as
      // big-endian u16 HEIGHT then WIDTH - the order trips naive
      // parsers, which is why m5 oracle-checks it.
      require(width <= 0xffff && height <= 0xffff, "JPEG dims are uint16")
      val jfif = Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++
        "JFIF".getBytes("US-ASCII") ++
        Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
      val sof0 = Array(0xff, 0xc0).map(_.toByte) ++ be16(11) ++
        Array[Byte](8) ++ be16(height) ++ be16(width) ++
        Array[Byte](1, 1, 0x11, 0)
      Array(0xff, 0xd8).map(_.toByte) ++ jfif ++ sof0
    case other => sys.error(s"unknown media format $other")
  }

  /** Detect + parse a recognized container: Some((format, w, h)) or
    * None for opaque bytes. Validation is strict enough that arbitrary
    * text can't false-positive: PNG requires the 8-byte signature, an
    * IHDR type tag AND a matching chunk CRC; BMP requires the size
    * field to equal the actual payload length; GIF requires the exact
    * 6-byte 87a/89a magic plus the mandatory 0x3B end-of-file trailer
    * and nonzero dimensions; JPEG starts 0xFFD8FF (invalid as UTF-8
    * text) and must contain a well-formed SOF segment. */
  def parse(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b.length >= 33 && b.take(8).sameElements(PngSig)
        && new String(b, 12, 4, "US-ASCII") == "IHDR"
        && readBe32(b, 29) == crc32(b, 12, 17))
      Some(("png", readBe32(b, 16), readBe32(b, 20)))
    else if (b.length >= 54 && b(0) == 'B' && b(1) == 'M'
        && readLe32(b, 2) == b.length)
      Some(("bmp", readLe32(b, 18), readLe32(b, 22)))
    else if (b.length >= 14 && (new String(b, 0, 6, "US-ASCII") == "GIF89a"
        || new String(b, 0, 6, "US-ASCII") == "GIF87a")
        && b(b.length - 1) == 0x3b.toByte
        && readLe16(b, 6) > 0 && readLe16(b, 8) > 0)
      // The 13-byte descriptor has no checksum, so the magic alone
      // would accept text beginning "GIF89a …". Every COMPLETE gif ends
      // with the 0x3B trailer and has nonzero dimensions — requiring
      // both makes a text false-positive need a 'GIF8?a' prefix AND a
      // ';' final byte, which m2's stub fallback depends on not
      // happening.
      Some(("gif", readLe16(b, 6), readLe16(b, 8)))
    else if (b.length >= 4 && b(0) == 0xff.toByte && b(1) == 0xd8.toByte
        && b(2) == 0xff.toByte)
      parseJpeg(b)
    else None
  }

  // ---- real pixel codecs (the m2 seam's decode step made real) -------

  /** A COMPLETE 24-bpp uncompressed BMP carrying `pix` as grayscale
    * pixels (value replicated into B,G,R), row-major top-down input,
    * stored bottom-up with 4-byte row padding — the layout every
    * uncompressed-BMP writer emits. */
  def makeBmp24(width: Int, height: Int, pix: Array[Int]): Array[Byte] = {
    require(pix.length == width * height, "pixel count != w*h")
    val stride = (width * 3 + 3) / 4 * 4
    val data = new Array[Byte](stride * height)
    for (y <- 0 until height; x <- 0 until width) {
      val v = (pix(y * width + x) & 0xff).toByte
      val off = (height - 1 - y) * stride + x * 3 // bottom-up rows
      data(off) = v; data(off + 1) = v; data(off + 2) = v
    }
    val total = 54 + data.length
    "BM".getBytes("US-ASCII") ++ le32(total) ++ Array[Byte](0, 0, 0, 0) ++
      le32(54) ++ le32(40) ++ le32(width) ++ le32(height) ++
      le16(1) ++ le16(24) ++ Array.fill[Byte](24)(0) ++ data
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** A COMPLETE 8-bit grayscale PNG carrying `pix`, every scanline
    * encoded under `filter` (0 none / 1 sub / 2 up / 3 average /
    * 4 paeth — the five standard type-0 filters, so the decoder's
    * defilter paths are each forgeable), IDAT zlib-deflated. */
  def makeGrayPng(width: Int, height: Int, pix: Array[Int],
      filter: Int = 0): Array[Byte] = {
    require(pix.length == width * height, "pixel count != w*h")
    require(filter >= 0 && filter <= 4, "PNG filter type 0-4")
    val raw = new Array[Byte]((width + 1) * height)
    for (y <- 0 until height) {
      raw(y * (width + 1)) = filter.toByte
      for (x <- 0 until width) {
        val cur = pix(y * width + x) & 0xff
        val left = if (x > 0) pix(y * width + x - 1) & 0xff else 0
        val up = if (y > 0) pix((y - 1) * width + x) & 0xff else 0
        val ul = if (x > 0 && y > 0) pix((y - 1) * width + x - 1) & 0xff else 0
        val enc = filter match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        raw(y * (width + 1) + 1 + x) = (enc & 0xff).toByte
      }
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 64)
    val outLen = {
      var n = 0
      while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
      d.end(); n
    }
    val idatData = buf.take(outLen)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val body = tag.getBytes("US-ASCII") ++ data
      be32(data.length) ++ body ++ be32(crc32(body, 0, body.length))
    }
    val ihdr = be32(width) ++ be32(height) ++ Array[Byte](8, 0, 0, 0, 0)
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idatData) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Decode a recognized RASTER payload to its row-major grayscale
    * pixel stream — the m2 seam's "real decoder", pure JVM: 24-bpp
    * uncompressed BMP (bottom-up, stride-padded; gray = (r+g+b)/3
    * exact integer) and 8-bit grayscale PNG (concatenated IDAT chunks
    * inflated with java.util.zip, all five standard scanline filters
    * inverted). None for anything else — truncated pixel data, other
    * bit depths/color types, or a non-raster payload — so callers fall
    * back to the stub stream rather than misread bytes. */
  def decodeGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    parse(b) match {
      case Some(("bmp", w, h)) if w > 0 && h > 0 =>
        // Only the exact layout makeBmp24 documents: 24 bpp (offset
        // 28), BI_RGB compression 0 (offset 30), pixel data at the
        // stated offset (offset 10) covering stride*h bytes.
        val pixOff = readLe32(b, 10)
        val stride = (w * 3 + 3) / 4 * 4
        if (readLe16(b, 28) != 24 || readLe32(b, 30) != 0
            || pixOff < 54 || pixOff.toLong + stride.toLong * h > b.length)
          None
        else Some((w, h, Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          val off = pixOff + (h - 1 - y) * stride + x * 3
          ((b(off) & 0xff) + (b(off + 1) & 0xff) + (b(off + 2) & 0xff)) / 3
        }))
      case Some(("png", w, h)) if w > 0 && h > 0 =>
        // 8-bit grayscale only (IHDR depth 8, color type 0).
        if (b(24) != 8 || b(25) != 0) return None
        // Walk chunks, concatenating IDAT payloads (encoders may split).
        val idat = new java.io.ByteArrayOutputStream()
        var off = 8
        var ok = true
        while (ok && off + 8 <= b.length) {
          val len = readBe32(b, off)
          if (len < 0 || off + 12 + len > b.length) ok = false
          else {
            val tag = new String(b, off + 4, 4, "US-ASCII")
            if (tag == "IDAT") idat.write(b, off + 8, len)
            off += 12 + len
            if (tag == "IEND") off = b.length // done
          }
        }
        if (!ok || idat.size() == 0) return None
        val raw = new Array[Byte]((w + 1) * h)
        val inf = new java.util.zip.Inflater()
        inf.setInput(idat.toByteArray)
        val got = try {
          var n = 0
          while (!inf.finished() && n < raw.length && !inf.needsInput())
            n += inf.inflate(raw, n, raw.length - n)
          n
        } catch { case _: java.util.zip.DataFormatException => -1 }
        finally inf.end()
        if (got != raw.length) return None
        // Invert the per-scanline filter (bpp = 1 byte for gray8).
        val pix = new Array[Int](w * h)
        for (y <- 0 until h) {
          val f = raw(y * (w + 1)) & 0xff
          if (f > 4) return None
          for (x <- 0 until w) {
            val enc = raw(y * (w + 1) + 1 + x) & 0xff
            val left = if (x > 0) pix(y * w + x - 1) else 0
            val up = if (y > 0) pix((y - 1) * w + x) else 0
            val ul = if (x > 0 && y > 0) pix((y - 1) * w + x - 1) else 0
            pix(y * w + x) = f match {
              case 0 => enc
              case 1 => (enc + left) & 0xff
              case 2 => (enc + up) & 0xff
              case 3 => (enc + (left + up) / 2) & 0xff
              case 4 => (enc + paeth(left, up, ul)) & 0xff
            }
          }
        }
        Some((w, h, pix))
      case _ => None
    }

  /** A canonical 44-byte PCM WAV header plus a zero-filled data chunk of
    * `nSamples` frames — the exact RIFF layout every encoder emits:
    * RIFF[size]WAVE, "fmt " chunk (PCM tag, channels, rate, byte rate,
    * block align, bits), "data" chunk sized nSamples × blockAlign. */
  def makeWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nSamples: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataLen = nSamples * blockAlign
    "RIFF".getBytes("US-ASCII") ++ le32(36 + dataLen) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(sampleRate) ++ le32(sampleRate * blockAlign) ++
      le16(blockAlign) ++ le16(bitsPerSample) ++
      "data".getBytes("US-ASCII") ++ le32(dataLen) ++
      Array.fill[Byte](dataLen)(0)
  }

  /** Parse a WAV payload via the real RIFF chunk walk: validate the
    * RIFF size field against the actual byte length (the same
    * whole-payload consistency check BMP parsing uses), find the PCM
    * "fmt " chunk and the "data" chunk wherever they sit, and return
    * (sampleRate, channels, bitsPerSample, nSamples). None on any
    * structural inconsistency — truncation, a non-PCM format tag, a
    * data chunk that isn't a whole number of frames. */
  def parseWav(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b.length < 44 || new String(b, 0, 4, "US-ASCII") != "RIFF"
        || readLe32(b, 4) != b.length - 8
        || new String(b, 8, 4, "US-ASCII") != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // channels, rate, blockAlign, bits
    var dataLen = -1
    while (off + 8 <= b.length) {
      val id = new String(b, off, 4, "US-ASCII")
      val len = readLe32(b, off + 4)
      if (len < 0 || off + 8 + len > b.length) return None
      if (id == "fmt " && len >= 16) {
        if (readLe16(b, off + 8) != 1) return None // PCM only
        fmt = Some((readLe16(b, off + 10), readLe32(b, off + 12),
          readLe16(b, off + 20), readLe16(b, off + 22)))
      } else if (id == "data") dataLen = len
      off += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    fmt match {
      case Some((ch, rate, blockAlign, bits))
          if dataLen >= 0 && blockAlign > 0 && dataLen % blockAlign == 0 =>
        Some((rate, ch, bits, dataLen / blockAlign))
      case _ => None
    }
  }

  // ---- MP4 / ISO-BMFF (ISO/IEC 14496-12) ------------------------------

  /** A minimal, structurally REAL MP4: `ftyp` (major brand isom) then
    * `moov` containing a v0 `mvhd` (timescale + duration in ticks) and
    * one `trak`/`tkhd` (track id 1, width/height as 16.16 fixed point)
    * — the exact box layout every ISO-BMFF muxer emits and every
    * metadata pass reads. Box grammar: [u32be size][4cc type][payload],
    * size covering the header. */
  def makeMp4(width: Int, height: Int, timescale: Int, durationTicks: Int): Array[Byte] = {
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ tpe.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(0) ++ "isom".getBytes("US-ASCII"))
    // mvhd v0: version/flags, creation, modification, timescale,
    // duration, rate 1.0 (16.16), volume 1.0 (8.8), 10 reserved bytes,
    // identity matrix, 6×u32 pre_defined, next_track_ID.
    val mvhd = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(durationTicks) ++
        be32(0x00010000) ++ be16(0x0100) ++ Array.fill[Byte](10)(0) ++
        identityMatrix ++ Array.fill[Byte](24)(0) ++ be32(2))
    // tkhd v0: version/flags (flags 7 = enabled|in-movie|in-preview),
    // creation, modification, track_ID, reserved, duration, 8 reserved,
    // layer, alternate_group, volume, reserved, matrix, then
    // width/height as 16.16 fixed point.
    val tkhd = box("tkhd",
      be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(durationTicks) ++
        Array.fill[Byte](8)(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        identityMatrix ++ be32(width << 16) ++ be32(height << 16))
    ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
  }

  private def identityMatrix: Array[Byte] =
    be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000)

  /** ISO-BMFF box walk: validate the `ftyp` leader, walk the top-level
    * boxes to `moov`, walk its children for `mvhd` (timescale,
    * duration) and the first `trak`'s `tkhd` (width/height, dropping
    * the 16.16 fraction). Returns (width, height, timescale,
    * durationTicks); None on any malformed size/bounds instead of
    * reading garbage — size fields must tile their container exactly,
    * the same strictness the RIFF walk applies. (64-bit `largesize`
    * and to-end-of-file boxes are rejected, not misread: header-only
    * metadata payloads never need them.) */
  def parseMp4(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b.length < 16 || new String(b, 4, 4, "US-ASCII") != "ftyp") return None
    // Bounds checks subtract instead of adding (`size > limit - off`):
    // a hostile size near 2^31 would overflow `off + size` negative and
    // slip past an addition-form check, crashing the walk out-of-bounds
    // instead of returning None — this is the documented seam for REAL
    // (untrusted) containers, so malformed sizes must fail cleanly.
    var off = 0
    var moov = -1
    var moovEnd = -1
    while (off + 8 <= b.length) {
      val size = readBe32(b, off)
      if (size < 8 || size > b.length - off) return None
      if (new String(b, off + 4, 4, "US-ASCII") == "moov") {
        moov = off + 8; moovEnd = off + size
      }
      off += size
    }
    if (off != b.length || moov < 0) return None
    var w = -1; var h = -1; var ts = -1; var dur = -1
    var o = moov
    while (o + 8 <= moovEnd) {
      val size = readBe32(b, o)
      if (size < 8 || size > moovEnd - o) return None
      new String(b, o + 4, 4, "US-ASCII") match {
        case "mvhd" if size >= 8 + 24 && b(o + 8) == 0 =>
          ts = readBe32(b, o + 20); dur = readBe32(b, o + 24)
        case "trak" if w < 0 =>
          // first child must chain of tkhd-bearing boxes; walk children
          var c = o + 8
          val end = o + size
          while (c + 8 <= end) {
            val cs = readBe32(b, c)
            if (cs < 8 || cs > end - c) return None
            if (new String(b, c + 4, 4, "US-ASCII") == "tkhd"
                && cs >= 8 + 84 && b(c + 8) == 0) {
              w = readBe32(b, c + 8 + 76) >>> 16
              h = readBe32(b, c + 8 + 80) >>> 16
            }
            c += cs
          }
          // Children must tile the trak exactly — 1-7 trailing junk
          // bytes would otherwise parse (the documented strictness).
          if (c != end) return None
        case _ => ()
      }
      o += size
    }
    // Same exact-tiling rule for moov's own children.
    if (o != moovEnd) return None
    if (w >= 0 && h >= 0 && ts > 0 && dur >= 0) Some((w, h, ts, dur)) else None
  }

  /** JPEG marker walk: skip segments from SOI until a start-of-frame
    * (SOF0-SOF15 except DHT/JPG/DAC), whose payload is
    * [precision u8][HEIGHT u16be][WIDTH u16be] — the real segment
    * grammar, as a decoder's header pass runs it. Returns None on any
    * malformed structure instead of reading garbage. */
  private def parseJpeg(b: Array[Byte]): Option[(String, Int, Int)] = {
    var off = 2 // past SOI
    while (off + 3 < b.length && b(off) == 0xff.toByte) {
      val marker = b(off + 1) & 0xff
      if (marker >= 0xc0 && marker <= 0xcf
          && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        if (off + 9 > b.length) return None
        return Some(("jpeg", readBe16(b, off + 7), readBe16(b, off + 5)))
      }
      // Standalone markers (RSTn, TEM) carry no length field.
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) off += 2
      else off += 2 + readBe16(b, off + 2)
    }
    None
  }
}
