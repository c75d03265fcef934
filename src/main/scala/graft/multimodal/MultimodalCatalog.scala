package graft.multimodal

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 multimodal columns — opaque binary payloads with typed
  * metadata. The container has no image/audio codecs, so DECODING is a
  * clearly-marked deterministic stub (see StubDecoder); everything
  * Spark-side — the binary column, metadata extraction, frame-sample
  * plan shape, partitioning — is real and tested.
  *
  * Blobs are synthesized from the documents table (text bytes as the
  * payload) so results are deterministic and reproducible at every
  * scale factor. Both queries carry full DuckDB oracles: the Spark side
  * computes over the BINARY column (byte offsets, byte lengths), the
  * oracle over VARCHAR — equivalent because the synthetic corpus is
  * pure ASCII (octet_length == length for every document, asserted in
  * MultimodalSpec), so char positions ARE byte positions. On a real
  * binary corpus only the Spark side applies; the oracle exists to pin
  * the metadata/sampling arithmetic cross-engine.
  */
object MultimodalCatalog extends QueryModule {

  def queries: Seq[Q] = Seq(
    Q(
      "mm_metadata",
      (s, dir) =>
        Tables(s, dir).documents
          .withColumn("blob", col("text").cast("binary"))
          .select(
            col("doc_id"),
            length(col("blob")).cast("long").as("blob_len"),
            hex(substring(col("blob"), 1, 4)).as("magic_hex"),
            md5(col("blob")).as("checksum"),
            // "parsed header" fields — deterministic fake dimensions
            (pmod(col("doc_id"), lit(64)) * 16 + 16).cast("int").as("width"),
            (pmod(col("doc_id"), lit(48)) * 16 + 16).cast("int").as("height"),
            // first checksum byte as the fake luminance statistic —
            // md5-derived so the oracle computes the identical value
            conv(substring(md5(col("blob")), 1, 2), 16, 10).cast("int").as("brightness"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  octet_length(encode(text))::BIGINT AS blob_len,
             |  hex(encode(substr(text, 1, 4))) AS magic_hex,
             |  md5(text) AS checksum,
             |  ((doc_id % 64) * 16 + 16)::INTEGER AS width,
             |  ((doc_id % 48) * 16 + 16)::INTEGER AS height,
             |  ('0x' || substr(md5(text), 1, 2))::INTEGER AS brightness
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_resize",
      // Resize plan: halve the fake header dimensions and digest a
      // deterministic 1-in-4 byte subsample of the payload — the
      // codec-free stand-in for pixel downsampling (a real deployment
      // swaps the subsample for the decoder seam in StubDecoder; the
      // dim arithmetic, narrow per-row shape, and digest plumbing are
      // the real Spark side). No shuffle: pure per-row expressions.
      (s, dir) =>
        Tables(s, dir).documents
          .withColumn("n_samp", expr("CAST((length(text) + 3) DIV 4 AS BIGINT)"))
          .select(
            col("doc_id"),
            ((pmod(col("doc_id"), lit(64)) * 16 + 16) / 2).cast("int").as("out_w"),
            ((pmod(col("doc_id"), lit(48)) * 16 + 16) / 2).cast("int").as("out_h"),
            md5(expr(
              "CAST(array_join(transform(sequence(0L, n_samp - 1L)," +
                " i -> substring(text, CAST(i*4+1 AS INT), 1)), '') AS BINARY)"))
              .as("resized_md5"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             | (((doc_id % 64) * 16 + 16) // 2)::INTEGER AS out_w,
             | (((doc_id % 48) * 16 + 16) // 2)::INTEGER AS out_h,
             | md5(array_to_string([substr(text, (i*4+1)::INTEGER, 1)
             |                      for i in range(0, (length(text)+3)//4)], '')) AS resized_md5
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_framesample",
      (s, dir) => {
        // Deterministic frame sampling: split each blob into 4 equal
        // strides, emit (frame_idx, byte_offset, frame digest). The plan
        // is narrow (posexplode of a per-row sequence) — no shuffle.
        val d = Tables(s, dir).documents
          .withColumn("blob", col("text").cast("binary"))
          .withColumn("stride", greatest(expr("length(blob) div 4"), lit(1)))
        d.select(
          col("doc_id"),
          col("blob"),
          col("stride"),
          posexplode(sequence(lit(0), lit(3))))
          .withColumn("byte_offset", col("pos") * col("stride"))
          .select(
            col("doc_id"),
            col("pos").as("frame_idx"),
            col("byte_offset").cast("long").as("byte_offset"),
            md5(expr("substring(blob, byte_offset + 1, stride)")).as("frame_md5"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH st AS (SELECT doc_id, text,
             |            greatest(octet_length(encode(text)) // 4, 1)::BIGINT AS stride
             |            FROM documents)
             |SELECT doc_id, i::INTEGER AS frame_idx, (i*stride)::BIGINT AS byte_offset,
             |       md5(substr(text, (i*stride + 1)::INTEGER, stride::INTEGER)) AS frame_md5
             |FROM st, UNNEST(range(4)) AS t(i)
             |ORDER BY doc_id, frame_idx""".stripMargin)
    ),
    Q(
      "mm_scene_cut",
      // Scene-boundary detection — the shot-segmentation primitive of a
      // video curation pipeline: frame the payload into 8 strides (as
      // mm_framesample), reduce each frame to a scalar feature (here
      // the first 16 bits of the frame digest — a real deployment swaps
      // in a decoded luminance/histogram via the StubDecoder seam; the
      // framing, feature plumbing, and boundary rule are the real Spark
      // side), and flag a CUT wherever consecutive frames' features
      // jump by >= 49152 (3/4 of the 16-bit range — rare by
      // construction, so boundaries are sparse like real shot cuts).
      //
      // Scale posture: narrow frame explode, then ONE per-asset window
      // (lag over <= 8 rows per doc_id — bounded by the frame count,
      // never by data size) and the presentation sort. Trailing
      // sub-stride frames are dropped as in mm_audio_energy.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("frame_idx")
        val d = Tables(s, dir).documents
          .withColumn("blob", col("text").cast("binary"))
          .withColumn("n", length(col("blob")).cast("long"))
          .withColumn("stride", greatest(expr("n div 8"), lit(1L)))
        d.select(col("doc_id"), col("blob"), col("n"), col("stride"),
            posexplode(sequence(lit(0), lit(7))))
          .filter(col("pos") * col("stride") < col("n"))
          .select(
            col("doc_id"),
            col("pos").cast("long").as("frame_idx"),
            conv(
              substring(md5(expr("substring(blob, CAST(pos*stride + 1 AS INT), CAST(stride AS INT))")), 1, 4),
              16, 10).cast("long").as("feat"))
          .withColumn("diff", abs(col("feat") - lag(col("feat"), 1).over(w)))
          .withColumn("is_cut", coalesce(col("diff") >= 49152, lit(false)))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n,
             |            greatest(length(text)//8, 1)::BIGINT AS stride FROM documents),
             |f AS (SELECT doc_id, k::BIGINT AS frame_idx,
             |      ('0x'||substr(md5(substr(text, (k*stride + 1)::INTEGER, stride::INTEGER)), 1, 4))::BIGINT AS feat
             |      FROM d, UNNEST(range(8)) AS t(k) WHERE k*stride < n),
             |l AS (SELECT doc_id, frame_idx, feat,
             |      abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx))::BIGINT AS diff
             |      FROM f)
             |SELECT doc_id, frame_idx, feat, diff, COALESCE(diff >= 49152, FALSE) AS is_cut
             |FROM l ORDER BY doc_id, frame_idx""".stripMargin)
    ),
    Q(
      "mm_audio_energy",
      // Audio loudness contour — the silence-trim / voice-activity
      // primitive of an audio curation pipeline: treat the payload as
      // 8-bit PCM (one byte = one sample; pure-ASCII corpus makes the
      // byte values computable in BOTH engines via character codes),
      // frame it into 8 equal windows, and emit each window's exact
      // integer energy Σ(sample−64)². A real deployment swaps the
      // byte→sample read for the StubDecoder seam's PCM; the framing
      // arithmetic, the codegen'd higher-order aggregate (no UDF), and
      // the narrow per-row shape are the real Spark side. The trailing
      // sub-frame remainder (< 8 samples) is dropped — standard frame
      // alignment. The per-sample work runs in the NATIVE FrameEnergy
      // kernel (graft's 5th codegen Expression — one flat loop over
      // the payload bytes, no per-sample lambda frames or 1-char
      // slices; measured ~2.7x the interpreted higher-order fold warm
      // at sf0.1 (0.2 s vs 0.6 s), equivalence +
      // codegen residency spec-asserted, SQL-registered as
      // graft_frame_energy). The scan is Fan.out-spread
      // across cores first (a single-row-group local parquet scan
      // yields ONE partition); after that the plan is narrow —
      // kernel + posexplode — and the only exchanges are the spread
      // and the presentation sort.
      (s, dir) => {
        val d = graft.Fan
          .out(Tables(s, dir).documents)
          .withColumn("n", length(col("text")).cast("long"))
          .withColumn("stride", greatest(expr("n div 8"), lit(1L)))
        d.select(
            col("doc_id"),
            col("stride"),
            posexplode(org.apache.spark.sql.graftbridge.Bridge.column(
              graft.expressions.FrameEnergy(
                org.apache.spark.sql.graftbridge.Bridge.expression(col("text")),
                frames = 8,
                center = 64))))
          .select(
            col("doc_id"),
            col("pos").cast("long").as("window_idx"),
            col("stride").as("n_samples"),
            col("col").as("energy"))
          .orderBy("doc_id", "window_idx")
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n,
             |            greatest(length(text)//8, 1)::BIGINT AS stride FROM documents),
             |w AS (SELECT doc_id, text, stride, k AS window_idx, k*stride AS off
             |      FROM d, UNNEST(range(8)) AS t(k) WHERE k*stride < n)
             |SELECT doc_id, window_idx, stride AS n_samples,
             |  list_sum([(unicode(substr(text, (off + i + 1)::INTEGER, 1)) - 64)
             |            * (unicode(substr(text, (off + i + 1)::INTEGER, 1)) - 64)
             |            for i in range(0, stride)])::BIGINT AS energy
             |FROM w ORDER BY doc_id, window_idx""".stripMargin)
    ),
    Q(
      "mm_phash_dedup",
      // Perceptual-hash near-dup detection over binary payloads — the
      // image-dedup layer of a multimodal pipeline (a re-encoded or
      // lightly-edited image survives exact-digest dedup; its pHash
      // differs by a few bits). The hash here is the codec-free
      // stand-in: 64 bits from a length-proportional byte sample of
      // the payload (bit i = sampled byte >= 96), where a real
      // deployment computes DCT-pHash from the StubDecoder seam's
      // pixels — the signature WIDTH, the 4x16-bit chunk layout, the
      // pigeonhole candidate join and the hamming verify are exactly
      // what the real hash plugs into. Near-dup inputs are injected:
      // every 20th doc gets a "re-encode" (+400000) with its first
      // byte rewritten, so its sample differs in at most the low bits.
      //
      // Scale posture: signature build is narrow per-row work; the
      // candidate join is chunk-equality pigeonhole (hamming<=3 pairs
      // MUST share one of 4 exact 16-bit chunks) — equality shuffles
      // only, never all-pairs, same guarantee as dedup_simhash. 16-bit
      // chunk values keep every engine away from BIGINT sign bits.
      (s, dir) => {
        val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        val copies = d
          .filter(pmod(col("doc_id"), lit(20)) === 0)
          .select(
            (col("doc_id") + 400000).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2, length(text) - 1)")).as("text"))
        val sig = d
          .union(copies)
          .withColumn("n", length(col("text")).cast("long"))
          .select(
            col("doc_id") +: (0 until 4).map { c =>
              (0 until 16).map { k =>
                val i = c * 16 + k
                when(
                  ascii(expr(s"substring(text, CAST(($i * n) DIV 64 AS INT) + 1, 1)")) >= 96,
                  lit(1L << k)).otherwise(lit(0L))
              }.reduce(_ + _).as(s"c$c")
            }: _*)
        val chunks = sig.select(
          col("doc_id"),
          col("c0"), col("c1"), col("c2"), col("c3"),
          posexplode(array(col("c0"), col("c1"), col("c2"), col("c3"))))
        chunks
          .as("a")
          .join(
            chunks.as("b"),
            col("a.pos") === col("b.pos") && col("a.col") === col("b.col") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("id_a"),
            col("b.doc_id").as("id_b"),
            (bit_count(col("a.c0").bitwiseXOR(col("b.c0"))) +
              bit_count(col("a.c1").bitwiseXOR(col("b.c1"))) +
              bit_count(col("a.c2").bitwiseXOR(col("b.c2"))) +
              bit_count(col("a.c3").bitwiseXOR(col("b.c3")))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents
             |           UNION ALL SELECT doc_id+400000, 'Z' || substr(text, 2, length(text)-1)
             |           FROM documents WHERE doc_id%20=0),
             |nn AS (SELECT doc_id, text, length(text)::BIGINT AS n FROM d),
             |bits AS (SELECT doc_id, i,
             |       CASE WHEN ascii(substr(text, ((i*n)//64 + 1)::INTEGER, 1)) >= 96 THEN 1 ELSE 0 END AS b
             |       FROM nn, UNNEST(range(64)) AS t(i)),
             |ch AS (SELECT doc_id, i//16 AS c,
             |       SUM(CASE WHEN b = 1 THEN (1::BIGINT << (i % 16)::INTEGER) ELSE 0 END)::BIGINT AS chunk
             |       FROM bits GROUP BY 1, 2),
             |sig AS (SELECT doc_id,
             |       MAX(CASE WHEN c=0 THEN chunk END) AS c0, MAX(CASE WHEN c=1 THEN chunk END) AS c1,
             |       MAX(CASE WHEN c=2 THEN chunk END) AS c2, MAX(CASE WHEN c=3 THEN chunk END) AS c3
             |       FROM ch GROUP BY 1),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |       bit_count(xor(a.c0,b.c0)) + bit_count(xor(a.c1,b.c1)) +
             |       bit_count(xor(a.c2,b.c2)) + bit_count(xor(a.c3,b.c3)) AS hamming
             |       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |         AND (a.c0=b.c0 OR a.c1=b.c1 OR a.c2=b.c2 OR a.c3=b.c3))
             |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)
    ),
    Q(
      "mm_decode_real",
      // A REAL binary format across the decoder seam (RealCodecs): the
      // fixture side builds honest-to-spec BMP (54-byte header,
      // little-endian fields, bottom-up rows padded to 4 bytes) and
      // 8-bit-PCM WAV (RIFF/fmt/data chunk framing) files from each
      // document's bytes; the decode side walks the headers with a
      // pure-JVM parser that trusts ONLY the bytes (pixel offset,
      // stride, dims, data-chunk location all read from the file).
      // The oracle recomputes the constructed fields relationally, so
      // an endianness/offset/stride/chunk-walk mistake on either side
      // is a hash mismatch — this is the proof the mm_* seam carries a
      // genuine format, not just deterministic fakes.
      //
      // Scale posture: blob build + parse are narrow per-row work in
      // one mapPartitions (the exact shape a native codec call takes);
      // Fan.out spreads the single-row-group scan first; the only
      // exchange after that is the presentation sort.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) =>
            StubDecoder.Blob(
              id,
              if (id % 2 == 0) RealCodecs.bmpBytes(id, text)
              else RealCodecs.wavBytes(id, text))
          }(org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decode(blobs).toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'bmp' AS fmt,
             |  (doc_id % 16 + 1)::INTEGER AS width,
             |  (doc_id % 12 + 1)::INTEGER AS height,
             |  0 AS sample_rate,
             |  ((doc_id % 16 + 1) * 3 * (doc_id % 12 + 1))::BIGINT AS n_payload,
             |  list_sum([unicode(substr(text, (p % length(text) + 1)::INTEGER, 1))
             |            for p in range(0, (doc_id % 16 + 1) * 3 * (doc_id % 12 + 1))])::BIGINT
             |    AS payload_sum
             |FROM documents WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT doc_id, 'wav', 0, 0, (8000 + (doc_id % 8) * 1000)::INTEGER,
             |  length(text)::BIGINT,
             |  list_sum([(unicode(substr(text, (i + 1)::INTEGER, 1)) - 64)
             |            * (unicode(substr(text, (i + 1)::INTEGER, 1)) - 64)
             |            for i in range(0, length(text))])::BIGINT
             |FROM documents WHERE doc_id % 2 = 1
             |ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_png_decode",
      // A COMPRESSED real format across the decoder seam: honest-to-spec
      // PNG (8-bit grayscale, non-interlaced) built with a genuine zlib
      // deflate, every row forward-filtered with filter r mod 5 — all
      // five spec filters (None/Sub/Up/Average/Paeth) appear in any
      // image with h ≥ 5 — and the compressed stream split into
      // ≤64-byte IDAT chunks. The decode side (RealCodecs.pngStats)
      // trusts only the bytes: signature, chunk walk with CRC32
      // verification of EVERY chunk, IHDR field reads, multi-IDAT
      // reassembly, zlib inflate, and per-row unfiltering driven by
      // the filter byte in the decompressed stream. Unlike BMP/WAV
      // (arithmetic re-framing), a PNG mistake is unrecoverable — a
      // filter-dispatch or predictor slip corrupts every later row via
      // the reconstructed-left/up feedback, so the oracle (pixel law
      // recomputed from the text bytes) catches single-byte errors.
      // n_paeth_rows pins the filter dispatch itself; n_idat is
      // compression-dependent and dropped here (MultimodalSpec asserts
      // multi-IDAT reassembly happened).
      //
      // Scale posture: identical to the other decoder-seam ops —
      // narrow per-asset build+parse in one mapPartitions, Fan.out
      // first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.pngBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodePng(blobs).toDF().drop("n_idat").orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT doc_id,
             |         (doc_id % 16 + 1)::INTEGER AS w, (doc_id % 12 + 1)::INTEGER AS h,
             |         [unicode(substr(text, (p % length(text) + 1)::INTEGER, 1))
             |          for p in range(0, (doc_id % 16 + 1) * (doc_id % 12 + 1))] AS vals
             |       FROM documents)
             |SELECT doc_id, 'png' AS fmt, w AS width, h AS height,
             |len(vals)::BIGINT AS n_px, list_sum(vals)::BIGINT AS px_sum,
             |list_min(vals)::INTEGER AS px_min, list_max(vals)::INTEGER AS px_max,
             |len([r for r in range(0, h) if r % 5 = 4])::INTEGER AS n_paeth_rows
             |FROM px ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_gif_decode",
      // A SECOND compressed real format, with a different compression
      // family: GIF87a over genuine LZW (variable-width 9→12-bit codes
      // packed LSB-first, dynamic dictionary with the KwKwK
      // just-added-code case, clear-code resets at 4096, greedy
      // longest-match encode) — where PNG exercised zlib's
      // Huffman+LZ77 via the JVM, the LZW pair here is implemented
      // end to end, so BOTH directions of a real dictionary coder are
      // under test. Framing is spec-true: logical screen descriptor,
      // 256-entry grayscale global color table (skip driven by the
      // packed flags), image descriptor, ≤64-byte length-prefixed
      // sub-blocks, trailer. Pixel law shared with PNG/BMP, so the
      // oracle recomputes the same arithmetic — any bit-packing,
      // width-switch or dictionary slip corrupts pixels and breaks
      // the hash. n_subblocks is compression-dependent and dropped
      // here (spec asserts multi-block reassembly on an
      // incompressible fixture, and the KwKwK path on a repetitive
      // one).
      //
      // Scale posture: identical to the other decoder-seam ops.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.gifBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeGif(blobs).toDF().drop("n_subblocks").orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT doc_id,
             |         (doc_id % 16 + 1)::INTEGER AS w, (doc_id % 12 + 1)::INTEGER AS h,
             |         [unicode(substr(text, (p % length(text) + 1)::INTEGER, 1))
             |          for p in range(0, (doc_id % 16 + 1) * (doc_id % 12 + 1))] AS vals
             |       FROM documents)
             |SELECT doc_id, 'gif' AS fmt, w AS width, h AS height,
             |len(vals)::BIGINT AS n_px, list_sum(vals)::BIGINT AS px_sum,
             |list_min(vals)::INTEGER AS px_min, list_max(vals)::INTEGER AS px_max
             |FROM px ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_jpeg_decode",
      // The THIRD compression family across the decoder seam, and what
      // an actual image corpus ships: baseline sequential JPEG
      // (ITU-T T.81) — per-block forward DCT, quantization, zigzag,
      // DC-differential + AC run-length Huffman with byte stuffing,
      // and RESTART MARKERS every 2 MCUs — both directions implemented
      // from the spec (RealCodecs.jpegEncode/jpegDecode, Annex K
      // tables read from the FILE on decode, never assumed). Oracle
      // exactness despite a lossy codec: the fixture's pixel law is
      // CONSTANT PER 8×8 BLOCK, whose FDCT is pure DC with every AC
      // exactly zero — with the all-ones quant table the round trip is
      // bit-exact, so the relational oracle recomputes the decoded
      // pixels (and the restart count, deterministic from the block
      // count: ceil(blocks/2)−1). The general AC/textured path runs
      // unconditionally and is spec-pinned against the JDK's
      // independent ImageIO decoder (MultimodalSpec).
      //
      // Scale posture: identical to the other decoder-seam ops —
      // narrow per-asset build+parse in one mapPartitions, Fan.out
      // first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.jpegBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeJpeg(blobs).toDF().orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT doc_id,
             |         (8 * (doc_id % 4 + 1))::INTEGER AS w,
             |         (8 * (doc_id % 3 + 1))::INTEGER AS h,
             |         [unicode(substr(text, (b % length(text) + 1)::INTEGER, 1))
             |          for b in range(0, (doc_id % 4 + 1) * (doc_id % 3 + 1))] AS blocks
             |       FROM documents)
             |SELECT doc_id, 'jpeg' AS fmt, w AS width, h AS height,
             |(w * h)::BIGINT AS n_px, (64 * list_sum(blocks))::BIGINT AS px_sum,
             |list_min(blocks)::INTEGER AS px_min, list_max(blocks)::INTEGER AS px_max,
             |len(blocks)::INTEGER AS n_blocks,
             |((len(blocks) - 1) // 2)::INTEGER AS n_restarts
             |FROM px ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_flac_decode",
      // The FOURTH entropy-coding family across the decoder seam, and
      // the close of its last stub: FLAC (RFC 9639) — a PREDICTIVE
      // coder where PNG was zlib, GIF a dictionary coder and JPEG a
      // transform coder. Both directions implemented from the spec
      // (RealCodecs.flacBytes/flacDecode): STREAMINFO, fixed-blocksize
      // frames with spec-true headers and UTF-8-style coded frame
      // numbers, CONSTANT / VERBATIM / FIXED(0-4) / LPC subframes
      // (explicit quantized predictor: warmup, precision, shift,
      // coefficients — any coefficient set is valid FLAC, so the
      // encoder declares one and the round trip stays exact) with
      // zigzag-Rice residual partitions and the raw-bits escape, and
      // BOTH checksums verified per frame (CRC-8 header, CRC-16 frame
      // — the audio sibling of PNG's CRC32 arm). The encoder rotates
      // VERBATIM/FIXED/LPC by frame index, so a decoder faking any
      // one family breaks the hash; losslessness makes the oracle
      // exact — the same widening law as mm_wav_pcm16, recomputed
      // relationally, plus the deterministic frame count
      // ceil(n/64). Multi-channel, reserved codes, invalid LPC
      // precision and negative shifts refuse loudly (spec-pinned in
      // Round17Spec, with golden-bytes layout pins for both the fixed
      // and LPC families and corrupted-CRC refusal).
      //
      // Scale posture: identical to the other decoder-seam ops —
      // narrow per-asset build+parse in one mapPartitions, Fan.out
      // first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.flacBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeFlac(blobs).toDF().orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |         (16000 + (doc_id % 4) * 8000)::INTEGER AS sample_rate,
             |         [(unicode(substr(text, (i + 1)::INTEGER, 1)) - 64) * 257
             |          for i in range(0, length(text))] AS ss
             |       FROM documents)
             |SELECT doc_id, sample_rate, len(ss)::BIGINT AS n_samples,
             |((len(ss) + 63) // 64)::INTEGER AS n_frames,
             |list_sum(ss)::BIGINT AS sum_s,
             |list_sum([s * s for s in ss])::BIGINT AS energy,
             |list_max([abs(s) for s in ss])::INTEGER AS peak
             |FROM d ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_wav_pcm16",
      // The production AUDIO BIT DEPTH across the decoder seam: real
      // mono 16-bit-PCM WAVs (sample = (char − 64) · 257, the natural
      // 8→16-bit widening, written little-endian SIGNED), parsed back
      // by the RIFF chunk walk with bits==16 pinned and samples
      // sign-extended via toShort. Sign handling is the test: chars
      // below '@' produce negative samples, and an unsigned read
      // shifts each by 65536 — sum, energy and peak all break at once
      // against the oracle, which recomputes the widening law
      // relationally. Loudness (Σ s²) and peak are the clipping /
      // level screens an audio curation pipeline runs first.
      //
      // Scale posture: identical to the other decoder-seam ops —
      // narrow per-asset build+parse in one mapPartitions, Fan.out
      // first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.wav16Bytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodePcm16(blobs).toDF().orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |         (16000 + (doc_id % 4) * 8000)::INTEGER AS sample_rate,
             |         [(unicode(substr(text, (i + 1)::INTEGER, 1)) - 64) * 257
             |          for i in range(0, length(text))] AS ss
             |       FROM documents)
             |SELECT doc_id, sample_rate, len(ss)::BIGINT AS n_samples,
             |list_sum(ss)::BIGINT AS sum_s,
             |list_sum([s * s for s in ss])::BIGINT AS energy,
             |list_max([abs(s) for s in ss])::INTEGER AS peak
             |FROM d ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_channel_stats",
      // The decode CONSUMER: per-channel image statistics
      // (count/sum/min/max of each BGR channel) straight off the real
      // BMP decoder — the screen a multimodal curation pipeline applies
      // right after decode (constant or clipped channels flag broken
      // encodes; per-channel brightness feeds exposure filters). Every
      // BMP here is parsed header-first (pixel offset, stride, dims
      // from the bytes, RealCodecs.channelStats), so the oracle —
      // which recomputes the stats straight from the text bytes the
      // builder embedded, channel = payload index mod 3 — breaks on
      // any stride/offset/channel-interleave mistake.
      //
      // Scale posture: identical to mm_decode_real — narrow per-row
      // build+parse in one mapPartitions (3 output rows per asset),
      // Fan.out first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.bmpBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeChannels(blobs).toDF().orderBy("doc_id", "channel")
      },
      Some("""WITH px AS (SELECT doc_id, text,
             |         ((doc_id % 16 + 1) * 3 * (doc_id % 12 + 1))::INTEGER AS n_total
             |       FROM documents),
             |ch AS (SELECT doc_id, c,
             |       [unicode(substr(text, (p % length(text) + 1)::INTEGER, 1))
             |        for p in range(c, n_total, 3)] AS vals
             |       FROM px, UNNEST([0, 1, 2]) AS t(c))
             |SELECT doc_id, c AS channel, len(vals)::BIGINT AS n_px,
             |list_sum(vals)::BIGINT AS sum_px,
             |list_min(vals)::INTEGER AS min_px, list_max(vals)::INTEGER AS max_px
             |FROM ch ORDER BY doc_id, channel""".stripMargin)
    ),
    Q(
      "mm_blur_metric",
      // Sharpness / blur SCREEN off the real BMP decoder — the
      // variance-of-Laplacian filter every image-curation pipeline
      // runs to drop out-of-focus frames: Σ lap² of the horizontal
      // second difference over the green channel, per asset. The
      // pixel addressing is the test: green = unpadded payload index
      // ≡ 1 (mod 3), rows walked through the byte-derived stride —
      // the oracle recomputes the identical arithmetic from the text
      // bytes, so a channel-interleave or stride slip breaks the
      // hash. Images narrower than 3 px have no interior columns and
      // legitimately report n_lap = 0 (kept via the left join).
      //
      // Scale posture: identical to the other decoder-seam ops —
      // narrow per-asset build+parse in one mapPartitions, Fan.out
      // first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.bmpBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeBlur(blobs).toDF().orderBy("doc_id")
      },
      Some("""WITH px AS (SELECT doc_id, text,
             |         (doc_id % 16 + 1)::INTEGER AS w, (doc_id % 12 + 1)::INTEGER AS h
             |       FROM documents),
             |g AS (SELECT doc_id, r, c,
             |      unicode(substr(text, ((r*w*3 + c*3 + 1) % length(text) + 1)::INTEGER, 1)) AS v
             |      FROM px, UNNEST(range(h)) AS t1(r), UNNEST(range(w)) AS t2(c)),
             |l AS (SELECT doc_id,
             |      2*v - lag(v) OVER win - lead(v) OVER win AS lap
             |      FROM g WINDOW win AS (PARTITION BY doc_id, r ORDER BY c)
             |      QUALIFY lap IS NOT NULL),
             |agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_lap, SUM(lap*lap)::BIGINT AS lap_sq_sum
             |        FROM l GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(agg.n_lap, 0) AS n_lap,
             |COALESCE(agg.lap_sq_sum, 0) AS lap_sq_sum
             |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
             |ORDER BY d.doc_id""".stripMargin)
    ),
    Q(
      "mm_tile_means",
      // ViT-style patch prep: per-quadrant pixel statistics off the real
      // BMP decoder — vision models consume images as patch grids, and
      // per-patch brightness is both the cheapest patch feature and the
      // first broken-crop/black-border screen a multimodal pipeline
      // applies. The 2D arithmetic is the test: BMP rows are stored
      // BOTTOM-UP, so vertical tiling must flip storage row r to image
      // row h-1-r — the oracle recomputes the flip + ceil-half tile
      // boundaries straight from the text bytes, so a flip or rounding
      // slip on either side is a hash mismatch. mean_milli is an exact
      // integer division both engines share.
      //
      // Scale posture: identical to the other decoder-seam ops —
      // narrow build+parse in one mapPartitions (≤4 rows per asset),
      // Fan.out first, presentation sort as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.bmpBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeTiles(blobs).toDF()
          .withColumn("mean_milli", expr("sum_px * 1000 div n_px"))
          .orderBy("doc_id", "ty", "tx")
      },
      Some("""WITH px AS (SELECT doc_id, text,
             |         (doc_id % 16 + 1)::INTEGER AS w, (doc_id % 12 + 1)::INTEGER AS h
             |       FROM documents),
             |b AS (SELECT doc_id,
             |        ((p % (w*3)) // 3 < (w+1)//2)::INTEGER AS lx,
             |        ((h - 1 - (p // (w*3))) < (h+1)//2)::INTEGER AS ty0,
             |        unicode(substr(text, (p % length(text) + 1)::INTEGER, 1)) AS v
             |      FROM px, UNNEST(range(0, w*3*h)) AS t(p)),
             |g AS (SELECT doc_id, 1 - lx AS tx, 1 - ty0 AS ty,
             |             COUNT(*)::BIGINT AS n_px, SUM(v)::BIGINT AS sum_px
             |      FROM b GROUP BY 1, 2, 3)
             |SELECT doc_id, tx, ty, n_px, sum_px, (sum_px * 1000) // n_px AS mean_milli
             |FROM g ORDER BY doc_id, ty, tx""".stripMargin)
    ),
    Q(
      "mm_silence_trim",
      // Silence trim (VAD primitive) on REAL WAVs: every speech
      // pipeline trims leading/trailing digital silence before the
      // model sees the clip. The fixture pads each document's samples
      // with doc_id%5 leading and doc_id%7 trailing silence bytes
      // ('@' = 64, the 8-bit-PCM center), the decoder walks the RIFF
      // chunks and scans for the first/last non-silent sample, and the
      // oracle recomputes every trim index GENERICALLY from the padded
      // string (ltrim/rtrim of '@'), so the seam cannot pass by
      // construction knowledge — if the text itself started or ended
      // silent, both sides would trim into it identically. Interior
      // silence is kept (a trim never cuts mid-clip pauses), which the
      // kept-energy audit column pins.
      //
      // Scale posture: same as every decoder-seam op — narrow build +
      // parse in one mapPartitions, Fan.out first, presentation sort
      // as the only exchange.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) =>
            val padded = "@" * (id % 5).toInt + text + "@" * (id % 7).toInt
            StubDecoder.Blob(id, RealCodecs.wavBytes(id, padded))
          }(org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeTrim(blobs).toDF().orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |         repeat('@', (doc_id % 5)::INTEGER) || text ||
             |         repeat('@', (doc_id % 7)::INTEGER) AS p
             |       FROM documents),
             |t AS (SELECT doc_id, p, ltrim(p, '@') AS lt,
             |             rtrim(ltrim(p, '@'), '@') AS core FROM w)
             |SELECT doc_id, (8000 + (doc_id % 8) * 1000)::INTEGER AS sample_rate,
             |length(p)::BIGINT AS n_samples,
             |(length(p) - length(lt))::BIGINT AS lead_silence,
             |(length(lt) - length(core))::BIGINT AS trail_silence,
             |length(core)::BIGINT AS n_kept,
             |COALESCE(list_sum([(unicode(substr(core, (i + 1)::INTEGER, 1)) - 64)
             |          * (unicode(substr(core, (i + 1)::INTEGER, 1)) - 64)
             |          for i in range(0, length(core))]), 0)::BIGINT AS kept_energy
             |FROM t ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_wav_resample",
      // Sample-rate normalization on REAL WAVs (every audio corpus
      // standardizes rate before batching): decimate-by-2 through the
      // RIFF chunk walk — header-true data offset, stride-2 sample
      // pick, rate halved, count ceil(n/2). The decimated samples
      // travel as an md5 digest plus their exact energy, so a
      // one-sample offset error, a stride bug, or an off-by-one at the
      // odd-length tail breaks the hash. The oracle rebuilds the
      // decimation generically from the text bytes (1-based odd
      // positions = 0-based even samples).
      //
      // Scale posture: same as every decoder-seam op — build + parse
      // narrow in one mapPartitions, Fan.out first, presentation sort
      // the only exchange; a real resampler (polyphase filter) swaps
      // into resampleHalf without touching the plan.
      (s, dir) => {
        val docs = graft.Fan.out(Tables(s, dir).documents.select("doc_id", "text"))
        val blobs = docs
          .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.STRING))
          .map { case (id, text) => StubDecoder.Blob(id, RealCodecs.wavBytes(id, text)) }(
            org.apache.spark.sql.Encoders.product[StubDecoder.Blob])
        RealCodecs.decodeResample(blobs).toDF().orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |         array_to_string([text[i] for i in range(1, length(text)+1, 2)], '') AS half
             |       FROM documents)
             |SELECT doc_id, (8000 + (doc_id % 8) * 1000)::INTEGER AS sr_in,
             |((8000 + (doc_id % 8) * 1000) // 2)::INTEGER AS sr_out,
             |length(text)::BIGINT AS n_in, length(half)::BIGINT AS n_out,
             |md5(half) AS out_digest,
             |COALESCE(list_sum([(unicode(half[i]) - 64) * (unicode(half[i]) - 64)
             |          for i in range(1, length(half)+1)]), 0)::BIGINT AS out_energy
             |FROM d ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "mm_embed_retrieval",
      // The multimodal RETRIEVAL pipeline end-to-end: binary payload ->
      // encoder -> embedding -> top-k nearest neighbors. The encoder is
      // the deterministic stub seam (8 int dims carved from the
      // payload's md5 — a real deployment swaps in a CLIP-style model
      // via mapInPandas, same schema: binary -> array<bigint>); the
      // retrieval side is entirely real — integer-exact dot products
      // (DotQ codegen), broadcast queries x streaming corpus, bounded
      // -heap top-k — identical machinery to ann_bruteforce, proving
      // the mm seam plugs into the production ANN path unchanged.
      //
      // Scale posture: encode is narrow per-row; retrieval is the
      // broadcast-queries / streaming-corpus decomposition; at 100 TB
      // the corpus side would carry an LSH/IVF index exactly as the
      // ann_* family does.
      (s, dir) => {
        val embed = expr(
          """transform(sequence(0, 7),
            |  j -> cast(conv(substring(md5(cast(text as binary)), j*4+1, 4), 16, 10) as bigint)
            |       % 2001 - 1000)""".stripMargin)
        val c = graft.Fan
          .out(Tables(s, dir).documents.select("doc_id", "text"))
          .withColumn("qv", embed)
          .withColumn("nsq", graft.functions.VectorFunctions.normSqQ(col("qv")))
          .select("doc_id", "qv", "nsq")
        val q = c
          .filter(col("doc_id") < 5)
          .select(col("doc_id").as("q_id"), col("qv").as("qe"), col("nsq").as("qn"))
        val scored = c
          .join(broadcast(q), col("doc_id") =!= col("q_id"))
          .withColumn(
            "cosine",
            graft.functions.VectorFunctions
              .cosineFrom(
                graft.functions.VectorFunctions.dotQ(col("qe"), col("qv")),
                col("qn"),
                col("nsq")))
          .select(col("q_id"), col("doc_id"), col("cosine"))
        val top = graft.plans.GraftOps
          .topKPerGroup(scored, Seq(col("q_id")), 3, col("cosine").desc, col("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id")
          .orderBy(col("cosine").desc, col("doc_id"))
        top
          .withColumn("rank", row_number().over(w))
          .select("q_id", "rank", "doc_id", "cosine")
          .orderBy("q_id", "rank")
      },
      Some("""WITH n AS (SELECT doc_id,
             |      [('0x'||substr(md5(text), j*4+1, 4))::BIGINT % 2001 - 1000 for j in range(0, 8)] AS qv
             |      FROM documents),
             |m AS (SELECT doc_id, qv,
             |      (SELECT SUM(qv[i]*qv[i]) FROM UNNEST(range(1, len(qv)+1)) AS t(i)) AS nsq FROM n),
             |q AS (SELECT doc_id AS q_id, qv AS qe, nsq AS qn FROM m WHERE doc_id < 5),
             |scored AS (SELECT q.q_id, m.doc_id,
             |  CAST((SELECT SUM(q.qe[i]*m.qv[i]) FROM UNNEST(range(1, len(q.qe)+1)) AS t(i)) AS DOUBLE)
             |    / (sqrt(CAST(q.qn AS DOUBLE))*sqrt(CAST(m.nsq AS DOUBLE))) AS cosine
             |  FROM m CROSS JOIN q WHERE m.doc_id <> q.q_id),
             |ranked AS (SELECT q_id, doc_id, cosine,
             |  row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, doc_id) AS rank FROM scored)
             |SELECT q_id, rank, doc_id, cosine FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)
    ),
    Q(
      "mm_vad_segments",
      // Voice-activity SEGMENTATION — the step after mm_silence_trim in
      // an audio curation pipeline: instead of trimming edges, find the
      // interior speech runs (consecutive above-average-energy frames)
      // so each clip can be cut into per-utterance training segments.
      // Frames come from the same native FrameEnergy kernel as
      // mm_audio_energy at 16 windows; a frame is "speech" when its
      // energy reaches the clip mean (energy·n_frames ≥ total — an
      // exact integer compare against the PER-DOC frame count, since a
      // clip shorter than 16 samples yields fewer than 16 frames), and
      // runs become segments via the gaps-islands trick
      // (frame_idx − row_number per doc).
      //
      // Scale posture: the kernel pass is narrow; the per-doc window
      // orders ≤16 frame rows per key (bounded by the frame count, not
      // the data); the rollup is segment-keyed and map-side-combined.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = graft.Fan.out(Tables(s, dir).documents)
        val f = d.select(
            col("doc_id"),
            posexplode(org.apache.spark.sql.graftbridge.Bridge.column(
              graft.expressions.FrameEnergy(
                org.apache.spark.sql.graftbridge.Bridge.expression(col("text")),
                frames = 16,
                center = 64))))
          .select(col("doc_id"), col("pos").cast("long").as("frame_idx"), col("col").as("energy"))
        val tot = f.groupBy("doc_id").agg(sum("energy").as("tot"), count(lit(1)).as("nf"))
        val sp = f
          .join(tot, "doc_id")
          .filter(col("energy") * col("nf") >= col("tot"))
        val w = Window.partitionBy("doc_id").orderBy("frame_idx")
        sp.withColumn("grp", col("frame_idx") - row_number().over(w))
          .groupBy("doc_id", "grp")
          .agg(
            min("frame_idx").as("start_frame"),
            max("frame_idx").as("end_frame"),
            count(lit(1)).as("n_frames"),
            sum("energy").as("seg_energy"))
          .withColumn(
            "seg_idx",
            row_number()
              .over(Window.partitionBy("doc_id").orderBy("start_frame"))
              .cast("long"))
          .select("doc_id", "seg_idx", "start_frame", "end_frame", "n_frames", "seg_energy")
          .orderBy("doc_id", "seg_idx")
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n,
             |            greatest(length(text)//16, 1)::BIGINT AS stride FROM documents),
             |f AS (SELECT doc_id, k AS frame_idx,
             |  list_sum([(unicode(substr(text, (k*stride + i + 1)::INTEGER, 1)) - 64)
             |            * (unicode(substr(text, (k*stride + i + 1)::INTEGER, 1)) - 64)
             |            for i in range(0, stride)])::BIGINT AS energy
             |      FROM d, UNNEST(range(16)) AS t(k) WHERE k*stride < n),
             |tt AS (SELECT doc_id, SUM(energy)::BIGINT AS tot, COUNT(*)::BIGINT AS nf FROM f GROUP BY 1),
             |sp AS (SELECT f.doc_id, f.frame_idx, f.energy,
             |       f.frame_idx - row_number() OVER (PARTITION BY f.doc_id ORDER BY f.frame_idx) AS grp
             |       FROM f JOIN tt USING (doc_id) WHERE f.energy * tt.nf >= tt.tot),
             |seg AS (SELECT doc_id, grp, MIN(frame_idx)::BIGINT AS start_frame,
             |        MAX(frame_idx)::BIGINT AS end_frame, COUNT(*)::BIGINT AS n_frames,
             |        SUM(energy)::BIGINT AS seg_energy FROM sp GROUP BY 1, 2)
             |SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)::BIGINT AS seg_idx,
             |start_frame, end_frame, n_frames, seg_energy
             |FROM seg ORDER BY doc_id, seg_idx""".stripMargin)
    ),
    Q(
      "mm_embed_arrow",
      // The ARROW-BATCHED INFERENCE SEAM, end to end (the production
      // shape mm_embed_retrieval's in-JVM md5-stub encoder stands in
      // for): each partition's rows serialize into REAL Arrow IPC
      // record batches (ArrowConverters — the exact writer Spark's
      // Python/R workers receive), the "model" (ArrowScorer — a
      // deterministic integer scorer; CLIP/quality-classifier weights
      // are the only fake part) consumes and produces batch BYTES like
      // any sidecar model server would, and the output batches
      // deserialize back into a DataFrame. Batch size rides the seam
      // (128 rows here; pinned structurally in ArrowSeamSpec along
      // with scorer-vs-SQL identity and empty-partition behavior).
      // Scale posture: the seam is per-partition and columnar — a
      // 1000-executor scoring pass streams batches with zero per-row
      // JVM<->model chatter and zero driver involvement; the integer
      // score (SUM floor(v*1e6) * ((i%13)-6)) is order-independent
      // exact arithmetic, so the oracle reproduces it bit-for-bit.
      (s, dir) => {
        val in = Tables(s, dir).embeddings.select("vec_id", "embedding")
        org.apache.spark.sql.graftbridge.Bridge
          .mapArrowBatches(in, ArrowScorer.outSchema, 128L)(ArrowScorer.score)
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id,
             |  CAST(list_sum([CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
             |                 * (((i - 1) % 13) - 6)
             |                 for i in range(1, len(embedding) + 1)]) AS BIGINT) AS score
             |FROM embeddings ORDER BY vec_id""".stripMargin)
    )
  )
}
