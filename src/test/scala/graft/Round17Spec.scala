package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LocalSnapshotIO, SnapshotTable}

/** Round-17 wave: the streaming staging LIFECYCLE (the one round-12
  * `weak` item — `_cdc_staging` grew one directory per micro-batch for
  * a stream's whole lifetime) plus the round-12 ADVICE fixes: the
  * rate-source record-law overflow (pinned in Round16Spec), dropBranch
  * leaking branch-local segment files, vacuum on a branch path, and
  * jpegDecode accepting a DQT-less stream as a uniform gray image.
  */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap17").toString + "/t"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_meta17").toString

  private def keys(df: DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  private def ordersNarrow = Tables(spark, sf).orders
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def stagingRanges(table: String): Seq[String] =
    LocalSnapshotIO.list(s"$table/_cdc_staging").sorted

  // ---- purgeStaging: the reclamation primitive ----------------------

  test("purgeStaging reclaims ranges at/below upTo, leaves live ranges and foreign names") {
    val root = tmpDir() + "/_cdc_staging"
    for (r <- Seq("0_1", "1_2", "2_3"); f <- Seq("part-0.parquet", "_SUCCESS"))
      LocalSnapshotIO.writeString(s"$root/$r/$f", "x")
    LocalSnapshotIO.writeString(s"$root/not_a_range_dir/f", "x")
    assert(SnapshotTable.purgeStaging(root, upTo = 2L) === 2)
    assert(LocalSnapshotIO.list(root).sorted === Seq("2_3", "not_a_range_dir"),
      "ranges above upTo (in-flight/replayable) and non-range names must survive")
    // idempotent: nothing left at/below 2
    assert(SnapshotTable.purgeStaging(root, upTo = 2L) === 0)
    assert(SnapshotTable.purgeStaging(root, upTo = 3L) === 1)
    assert(LocalSnapshotIO.list(root) === Seq("not_a_range_dir"))
  }

  // ---- CDC source: post-commit purge, source-level contract ---------

  test("cdc source: commit(offset) reclaims drained staging, keeps ranges above it") {
    val table = tmpTable()
    val o = ordersNarrow.filter(col("o_orderkey") % 7 === 0)
    for (m <- 0 to 2)
      SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === m.toLong), table,
        append = m > 0, statsColumns = Seq("o_orderkey"))
    def stream() = SnapshotStreams.of(new graft.sources.SnapshotCdcSourceProvider(),
      Map("path" -> table, "key" -> "o_orderkey", "maxVersionsPerTrigger" -> "1"))
    val src = stream()
    def off(v: Long) = src.deserializeOffset(v.toString)
    // initial load (no start) serves off manifests — no staging
    src.planInputPartitions(off(0L), off(1L))
    assert(stagingRanges(table).isEmpty, "initial load must not materialize staging")
    // two steady-state slices materialize their range dirs
    for (v <- 1L to 2L) src.planInputPartitions(off(v), off(v + 1))
    assert(stagingRanges(table) === Seq("1_2", "2_3"))
    // Spark durably committed through 2: (1,2] is dead weight, (2,3]
    // is still in flight and must survive
    src.commit(off(2L))
    assert(stagingRanges(table) === Seq("2_3"),
      "post-commit purge must reclaim exactly the drained ranges")
    // a restart replays the uncommitted (2,3]: planning re-materializes
    // it from the immutable manifests before reading
    val replay = stream()
    assert(replay.planInputPartitions(off(2L), off(3L)).nonEmpty)
    assert(stagingRanges(table) === Seq("2_3"), "replay re-materialized its slice")
    replay.commit(off(3L))
    assert(!LocalSnapshotIO.exists(s"$table/_cdc_staging"),
      "a fully drained stream leaves zero staging behind")
  }

  test("cdc source: a REAL multi-batch drain leaves at most the final in-flight range") {
    val table = tmpTable()
    val out = tmpDir() + "/out"
    val ckpt = tmpDir()
    val o = ordersNarrow.filter(col("o_orderkey") % 5 === 0)
    for (m <- 0 to 2)
      SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === m.toLong), table,
        append = m > 0, statsColumns = Seq("o_orderkey"))
    val q = spark.readStream
      .format(graft.sources.SnapshotCdcSourceProvider.format)
      .option("path", table)
      .option("key", "o_orderkey")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => batch.count(); () }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the engine commits each batch as it completes; whether the FINAL
    // batch's source-commit fires before stop is an engine detail —
    // the lifetime-leak contract is that the backlog's history does
    // NOT accumulate (3 version slices => at most 1 surviving range)
    assert(stagingRanges(table).size <= 1,
      s"staging accumulated a stream's history: ${stagingRanges(table)}")
  }

  // ---- vacuum: offline staging sweep below the retention floor ------

  test("vacuum sweeps cdc staging below retention, keeps ranges at head") {
    val table = tmpTable()
    val o = ordersNarrow
    for (m <- 0 to 2)
      SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === m.toLong), table, append = m > 0)
    for (r <- Seq("0_1", "1_2", "2_3"))
      LocalSnapshotIO.writeString(s"$table/_cdc_staging/$r/part-0.parquet", "x")
    SnapshotTable.vacuum(table, retainLast = 1) // keep = {3}; staging upTo = 2
    assert(stagingRanges(table) === Seq("2_3"),
      "vacuum must sweep exactly the ranges below the retention floor")
  }

  // ---- dropBranch: branch-local segment files reclaimed -------------

  test("dropBranch reclaims an audit-failed branch's segment files; published segments survive") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)

    // audit-FAILED branch: its commits' segments must be reclaimed
    SnapshotTable.createBranch(table, "bad")
    val bp = SnapshotTable.branchPath(table, "bad")
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), bp, append = true)
    val badSegDir = s"$bp/manifests/segments"
    assert(LocalSnapshotIO.list(badSegDir).nonEmpty, "fixture: branch wrote segments")
    SnapshotTable.dropBranch(table, "bad")
    assert(LocalSnapshotIO.list(badSegDir).isEmpty,
      "dropBranch leaked the audit-failed branch's segment files")

    // PUBLISHED branch: main's fast-forward manifest references the
    // branch's segments in place — dropBranch must leave them
    SnapshotTable.createBranch(table, "good")
    val gp = SnapshotTable.branchPath(table, "good")
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), gp, append = true)
    SnapshotTable.publishBranch(table, "good")
    val headKeys = keys(SnapshotTable.read(spark, table))
    SnapshotTable.dropBranch(table, "good")
    assert(keys(SnapshotTable.read(spark, table)) === headKeys,
      "dropBranch reclaimed segments main's published manifest still references")
  }

  // ---- vacuum: refused on a branch path ------------------------------

  test("vacuum refuses a */branches/* path (branch-local vacuum cannot see main's refs)") {
    val table = tmpTable()
    SnapshotTable.commit(ordersNarrow.limit(10), table, append = false)
    SnapshotTable.createBranch(table, "audit")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.vacuum(SnapshotTable.branchPath(table, "audit"), retainLast = 1)
    }
    assert(e.getMessage.contains("branch"))
  }

  // ---- rewriteSegments: metadata-only manifest compaction ------------

  test("rewriteSegments: zero-data-copy consolidation, DV carried, travel intact, vacuum reclaims") {
    val table = tmpTable()
    val o = ordersNarrow
    for (m <- 0 to 3)
      SnapshotTable.commit(o.filter(col("o_orderkey") % 4 === m.toLong), table,
        append = m > 0, statsColumns = Seq("o_orderkey"))
    // outstanding deletion vector must ride the rewrite verbatim
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 10 === 1).select("o_orderkey"), table, "o_orderkey")
    val headKeys = keys(SnapshotTable.read(spark, table))
    val dataFiles = SnapshotTable.manifest(table, 5L).files.map(_.path).toSet
    val (b, a, v) = SnapshotTable.rewriteSegments(table)
    assert(b === 4 && a === 1 && v === 6L, s"got ($b, $a, $v)")
    assert(SnapshotTable.manifest(table, 6L).files.map(_.path).toSet === dataFiles,
      "rewrite must carry the identical file set — zero data copied")
    assert(keys(SnapshotTable.read(spark, table)) === headKeys,
      "rewrite resurrected DV-deleted rows or changed content")
    // time travel below the rewrite still reads its own state
    assert(keys(SnapshotTable.read(spark, table, Some(2L)))
      === keys(o.filter(col("o_orderkey") % 4 <= 1)))
    // idempotent: a single consolidated segment is already optimal
    assert(SnapshotTable.rewriteSegments(table) === ((1, 1, 6L)))
    // vacuum reclaims the aged-out small segment files once no retained
    // manifest references them — and the head still reads
    val segDir = s"$table/manifests/segments"
    val before = LocalSnapshotIO.list(segDir).size
    SnapshotTable.vacuum(table, retainLast = 1)
    val after = LocalSnapshotIO.list(segDir).size
    assert(after < before && after >= 1, s"segment files $before -> $after")
    assert(keys(SnapshotTable.read(spark, table)) === headKeys)
  }

  test("incremental readers scan ACROSS a segment rewrite instead of refusing") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    val (_, _, v) = SnapshotTable.rewriteSegments(table) // v3, mode=rewrite
    assert(v === 3L)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    // (1, 4] crosses the rewrite: the delta is exactly the appends' rows
    assert(keys(SnapshotTable.readIncremental(spark, table, 1L, 4L))
      === keys(o.filter(col("o_orderkey") % 3 =!= 0)))
    // a rewrite adds no rows: (2, 3] is empty
    assert(SnapshotTable.incrementalFiles(table, 2L, 3L).isEmpty)
    // while overwrite still refuses as before
    SnapshotTable.commit(o.limit(5), table, append = false)
    intercept[IllegalArgumentException] {
      SnapshotTable.incrementalFiles(table, 1L, 5L)
    }
  }

  // ---- NDV manifest stats + the manifest-sized join -------------------

  test("ndv stats: recorded per file, summed per segment, consumed manifest-only") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(
      o.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"))
    val m = SnapshotTable.manifest(table, 1L)
    assert(m.files.forall(_.dstats.contains("o_orderkey")), "every file carries the NDV estimate")
    assert(m.segments.map(_.dstats("o_orderkey")).sum
      === m.files.map(_.dstats("o_orderkey")).sum,
      "segment refs must carry the SUM of their files' estimates")
    val exactRows = o.count()
    val exactNdv = o.select("o_orderkey").distinct().count()
    assert(SnapshotTable.rowCountOf(table) === Some(exactRows),
      "manifest row count must be exact (nstats are counted, not estimated)")
    val ndv = SnapshotTable.ndvOf(table, "o_orderkey").get
    // key-clustered commit: files are key-disjoint, so the summed upper
    // bound tracks the true NDV within HLL++ error
    assert(math.abs(ndv - exactNdv).toDouble / exactNdv < 0.10,
      s"ndv bound $ndv vs exact $exactNdv")
    // a stats-less commit proves nothing — the consumers say so
    val bare = tmpTable()
    SnapshotTable.commit(o, bare, append = false)
    assert(SnapshotTable.rowCountOf(bare) === None)
    assert(SnapshotTable.ndvOf(bare, "o_orderkey") === None)
  }

  test("sizedJoin: decision flips with each threshold; physical plan matches the decision") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val factT = tmpTable()
    val dimT = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      factT, append = false)
    SnapshotTable.commit(
      Tables(spark, sf).customer.select("c_custkey", "c_mktsegment"),
      dimT, append = false, statsColumns = Seq("c_custkey"))
    val factDf = SnapshotTable.read(spark, factT)
    val nDim = Tables(spark, sf).customer.count()
    val (bcJoin, bc) = SnapshotTable.sizedJoin(
      factDf, "o_custkey", dimT, "c_custkey", nDim * 2, nDim * 2)
    assert(bc, "a manifest proving a small build side must broadcast")
    bcJoin.count()
    assert(PlanCheck.countNodes[BroadcastHashJoinExec](bcJoin) === 1,
      "broadcast decision must reach the physical plan")
    // starved KEY budget refuses; starved ROW budget refuses — each
    // threshold flips the decision independently
    val (shJoin, sh) = SnapshotTable.sizedJoin(
      factDf, "o_custkey", dimT, "c_custkey", nDim * 2, 10L)
    assert(!sh)
    shJoin.count()
    assert(PlanCheck.countNodes[ShuffledHashJoinExec](shJoin) === 1,
      "the refused broadcast must fall to the shuffled-hash join")
    assert(!SnapshotTable.sizedJoin(
      factDf, "o_custkey", dimT, "c_custkey", 10L, nDim * 2)._2)
  }

  // ---- FLAC: layout golden bytes, round trip, refusals ----------------

  /** Independent MSB-first packer (string-of-bits — deliberately a
    * different mechanism from RealCodecs' BitWriter) so the golden
    * comparison double-enters the RFC 9639 layout. */
  private def pack(fields: (Long, Int)*): Array[Byte] = {
    val bits = fields.map { case (v, n) =>
      (n - 1 to 0 by -1).map(i => (('0' + ((v >> i) & 1L).toInt)).toChar).mkString
    }.mkString
    assert(bits.length % 8 == 0, s"unaligned golden fixture: ${bits.length} bits")
    bits.grouped(8).map(s => Integer.parseInt(s, 2).toByte).toArray
  }

  test("flac golden bytes: encoder output matches an independently packed RFC 9639 stream") {
    import graft.multimodal.RealCodecs
    // doc 0, text "AA": rate 16000, samples {257, 257} -> one frame,
    // all-equal -> CONSTANT subframe
    val streaminfo = pack(
      (64L, 16), (64L, 16),       // min/max block size
      (0L, 24), (0L, 24),         // min/max frame size: unknown
      (16000L, 20), (0L, 3), (15L, 5), (2L, 36)) ++ new Array[Byte](16)
    val header = pack(
      (0x3ffeL, 14), (0L, 1), (0L, 1), // sync, reserved, fixed blocksize
      (6L, 4), (0L, 4), (0L, 4),       // bs code 0110, rate from SI, mono
      (4L, 3), (0L, 1),                // 16-bit, reserved
      (0L, 8),                         // coded frame number 0
      (1L, 8))                         // blocksize - 1
    val body = header ++
      pack((RealCodecs.flacCrc8(header, 0, header.length).toLong, 8)) ++
      pack((0L, 1), (0L, 6), (0L, 1), (257L, 16)) // pad, constant, no waste, sample
    val golden =
      "fLaC".getBytes("US-ASCII") ++
        pack((1L, 1), (0L, 7), (34L, 24)) ++ streaminfo ++
        body ++ pack((RealCodecs.flacCrc16(body, 0, body.length).toLong, 16))
    assert(RealCodecs.flacBytes(0L, "AA").toSeq === golden.toSeq,
      "encoder bytes diverge from the independently packed layout")
    val st = RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, golden))
    assert(st === RealCodecs.FlacStat(0L, 16000, 2L, 1, 514L, 2L * 257 * 257, 257))
  }

  test("flac round trip: multi-frame, verbatim + fixed + LPC + rice, exact sample law") {
    import graft.multimodal.RealCodecs
    // 3 frames exercise the encoder's full subframe rotation: frame 0
    // VERBATIM, frame 1 FIXED, frame 2 LPC — lossless, so the decoded
    // sample law is identical no matter the family; a decoder faking
    // any of the three breaks these exact sums
    val text = (0 until 150).map(i => ('0' + (i * 7) % 64).toChar).mkString
    val st = RealCodecs.flacStats(
      graft.multimodal.StubDecoder.Blob(5L, RealCodecs.flacBytes(5L, text)))
    val ss = text.map(c => (c - 64) * 257)
    assert(st.sample_rate === 16000 + (5 % 4) * 8000)
    assert(st.n_samples === 150L && st.n_frames === 3) // 64 + 64 + 22
    assert(st.sum_s === ss.map(_.toLong).sum)
    assert(st.energy === ss.map(s => s.toLong * s).sum)
    assert(st.peak === ss.map(math.abs).max)
  }

  test("flac LPC golden bytes: an independently packed explicit-predictor stream decodes") {
    import graft.multimodal.RealCodecs
    // one frame, blocksize 3, LPC order 1 (type 100000), precision 5,
    // shift 2, coefficient [4] ⇒ ŝ = (4·prev) >> 2 = prev; samples
    // {257, 514, 257} ⇒ residuals {257, -257}, packed via the raw-bits
    // escape (k=1111, 10-bit two's complement)
    val streaminfo = pack(
      (64L, 16), (64L, 16), (0L, 24), (0L, 24),
      (16000L, 20), (0L, 3), (15L, 5), (3L, 36)) ++ new Array[Byte](16)
    val header = pack(
      (0x3ffeL, 14), (0L, 1), (0L, 1),
      (6L, 4), (0L, 4), (0L, 4), (4L, 3), (0L, 1),
      (0L, 8), (2L, 8)) // frame 0, blocksize-1 = 2
    val body = header ++
      pack((RealCodecs.flacCrc8(header, 0, header.length).toLong, 8)) ++
      pack(
        (0L, 1), (32L, 6), (0L, 1), // pad, LPC order 1, no wasted bits
        (257L, 16),                 // warmup sample
        (4L, 4),                    // precision-1 = 4 -> 5-bit coefficients
        (2L, 5),                    // shift 2
        (4L, 5),                    // coefficient +4
        (0L, 2), (0L, 4),           // residual method 00, partition order 0
        (15L, 4), (10L, 5),         // escape, 10 raw bits
        (257L, 10),                 // e1 = +257
        ((-257L) & 0x3ffL, 10),     // e2 = -257
        (0L, 7))                    // zero padding to the byte
    val stream =
      "fLaC".getBytes("US-ASCII") ++
        pack((1L, 1), (0L, 7), (34L, 24)) ++ streaminfo ++
        body ++ pack((RealCodecs.flacCrc16(body, 0, body.length).toLong, 16))
    val st = RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, stream))
    // decoded samples: 257, 257+257=514, 514-257=257
    assert(st === RealCodecs.FlacStat(
      0L, 16000, 3L, 1, 257L + 514 + 257,
      257L * 257 + 514L * 514 + 257L * 257, 514))
  }

  test("flac refusals: reserved subframe type, corrupted CRC-8 and CRC-16, stereo") {
    import graft.multimodal.RealCodecs
    val good = RealCodecs.flacBytes(0L, "AA")
    def mutate(off: Int, v: Int): Array[Byte] = {
      val a = good.clone(); a(off) = v.toByte; a
    }
    // layout: 4 magic + 4 meta header + 34 streaminfo = 42; frame
    // header bytes 42..47, crc8 at 48, subframe header byte at 49
    val reserved = intercept[IllegalArgumentException] {
      RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, mutate(49, 0x04)))
    }
    assert(reserved.getMessage.contains("reserved subframe type"))
    val h = intercept[IllegalArgumentException] {
      RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, mutate(47, 0x02)))
    }
    assert(h.getMessage.contains("CRC-8"))
    val f = intercept[IllegalArgumentException] {
      RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, mutate(51, 0x55)))
    }
    assert(f.getMessage.contains("CRC-16"))
    // stereo STREAMINFO (channels-1 = 1 flips one bit at byte 42+12=54? —
    // rebuild instead: byte 20 of STREAMINFO carries rate[3:0]|ch|bps-hi)
    val stereo = good.clone()
    stereo(8 + 12) = (stereo(8 + 12) | 0x02).toByte // channels-1: 000 -> 001
    val s = intercept[IllegalArgumentException] {
      RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, stereo))
    }
    assert(s.getMessage.contains("mono"))
  }

  test("flac wasted bits: an independently packed stream with 1 wasted bit reconstructs") {
    import graft.multimodal.RealCodecs
    // one frame, blocksize 1, CONSTANT 514 stored as 15-bit 257 with
    // wasted=1 (the spec's shift-back path) — packed by hand
    val streaminfo = pack(
      (64L, 16), (64L, 16), (0L, 24), (0L, 24),
      (16000L, 20), (0L, 3), (15L, 5), (1L, 36)) ++ new Array[Byte](16)
    val header = pack(
      (0x3ffeL, 14), (0L, 1), (0L, 1),
      (6L, 4), (0L, 4), (0L, 4), (4L, 3), (0L, 1),
      (0L, 8), (0L, 8)) // frame 0, blocksize-1 = 0
    val body = header ++
      pack((RealCodecs.flacCrc8(header, 0, header.length).toLong, 8)) ++
      pack(
        (0L, 1), (0L, 6), (1L, 1), // constant, wasted flag set
        (1L, 1),                   // unary (wasted-1)=0 -> terminator alone
        (257L, 15))                // 15-bit sample (24 bits total: aligned)
    val stream =
      "fLaC".getBytes("US-ASCII") ++
        pack((1L, 1), (0L, 7), (34L, 24)) ++ streaminfo ++
        body ++ pack((RealCodecs.flacCrc16(body, 0, body.length).toLong, 16))
    val st = RealCodecs.flacStats(graft.multimodal.StubDecoder.Blob(0L, stream))
    assert(st === RealCodecs.FlacStat(0L, 16000, 1L, 1, 514L, 514L * 514, 514))
  }

  // ---- jpeg: a DQT-less stream must refuse, not decode gray ----------

  test("jpegDecode refuses a stream whose DQT segment is missing") {
    import graft.multimodal.RealCodecs
    val good = RealCodecs.jpegBytes(7L, "The quick brown fox jumps over the lazy dog")
    // splice the DQT (FFDB) segment out of the marker stream
    def stripDqt(a: Array[Byte]): Array[Byte] = {
      var pos = 2
      while (pos + 4 <= a.length) {
        val m = a(pos + 1) & 0xff
        val len = ((a(pos + 2) & 0xff) << 8) | (a(pos + 3) & 0xff)
        if (m == 0xdb) return a.take(pos) ++ a.drop(pos + 2 + len)
        if (m == 0xda) fail("fixture reached SOS without finding DQT")
        pos += 2 + len
      }
      fail("fixture: no DQT segment found")
    }
    val e = intercept[IllegalArgumentException] {
      RealCodecs.jpegStats(graft.multimodal.StubDecoder.Blob(7L, stripDqt(good)))
    }
    assert(e.getMessage.contains("DQT"),
      s"expected the missing-DQT refusal, got: ${e.getMessage}")
    // and the untouched stream still decodes
    assert(RealCodecs.jpegStats(graft.multimodal.StubDecoder.Blob(7L, good)).n_px > 0)
  }
}
