package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HadoopSnapshotIO, LocalSnapshotIO, SnapshotTable}

/** Round-16 wave: pins for the round-11 snapshot/streaming fixes that
  * shipped without spec arms, plus the HighWaterMark defects they
  * exposed — empty metadataPath must never touch the filesystem (the
  * write path would be "/graft-highwater", the FS root), the persisted
  * mark must be crash-atomic, and restart recovery must never report
  * an offset below the committed position.
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap16").toString + "/t"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_meta16").toString

  private def keys(df: DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  private def ordersNarrow = Tables(spark, sf).orders
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def hconf = spark.sessionState.newHadoopConf()

  // ---- restart recovery: offsets never regress ---------------------

  test("restart recovery: a second capped drain on one checkpoint redelivers no slice") {
    import org.apache.spark.sql.streaming.Trigger
    val table = tmpTable()
    val ckpt = tmpDir()
    val o = ordersNarrow
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def drain(): Unit = {
      val q = spark.readStream
        .format(graft.sources.SnapshotSourceProvider.format)
        .option("path", table)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) => seen.synchronized { seen += id -> keys(b) }; () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def slice(m: Int) = keys(o.filter(col("o_orderkey") % 3 === m))
    for (m <- 0 to 1)
      SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === m), table, append = m > 0)
    drain() // one version per batch: v1, then v2
    assert(seen.toSeq === Seq(0L -> slice(0), 1L -> slice(1)))
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    // RESTART on the same checkpoint: the engine resumes from the
    // committed offset, so only the new version's slice arrives, under
    // the next batch id — a regressed offset would redeliver v1/v2
    drain()
    assert(seen.toSeq === Seq(0L -> slice(0), 1L -> slice(1), 2L -> slice(2)),
      "a restarted capped drain redelivered an already-processed slice")
  }

  // ---- HighWaterMark: the rate source's persisted admission cursor --

  test("hwm: empty metadataPath never touches the filesystem (no /graft-highwater at the root)") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // direct construction with the empty default — the embedding/test
    // shape; before the fix the first getBatch wrote the literal path
    // "/graft-highwater"
    val src = new graft.sources.GraftRateSourceProvider().createSource(
      spark.sqlContext, "", None, "",
      Map("totalRows" -> "10", "rowsPerTrigger" -> "4"))
    assert(src.getOffset === Some(LongOffset(4L)))
    src.getBatch(None, LongOffset(4L))
    assert(src.getOffset === Some(LongOffset(8L)),
      "in-memory admission cursor must still advance without persistence")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("/graft-highwater")),
      "empty metadataPath wrote the high-water mark at the filesystem root")
  }

  test("hwm: unparseable mark degrades to 0 instead of wedging the source; write is atomic") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val meta = tmpDir()
    // a truncated/empty mark is what a crash mid-write under a
    // non-atomic layout leaves behind — construction must not throw
    // NumberFormatException (under-reporting only re-plans a batch)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$meta/graft-highwater"), "".getBytes)
    val src = new graft.sources.GraftRateSourceProvider().createSource(
      spark.sqlContext, meta, None, "",
      Map("totalRows" -> "5", "rowsPerTrigger" -> "2"))
    assert(src.getOffset === Some(LongOffset(2L)))
    src.getBatch(None, LongOffset(2L)) // rewrites the mark, atomically
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$meta/graft-highwater"))).trim === "2")
    // the atomic write leaves no temp debris beside the mark
    assert(!new java.io.File(meta).list().exists(_.endsWith(".tmp")),
      "writeStringAtomic left its temp file behind")
  }

  test("writeStringAtomic: both IO arms replace content in place, no temp residue") {
    val dir = tmpDir()
    for ((io, tag) <- Seq((LocalSnapshotIO, "local"), (new HadoopSnapshotIO(hconf), "hadoop"))) {
      val p = s"$dir/$tag/mark"
      io.writeStringAtomic(p, "7")
      assert(io.readString(p) === "7", tag)
      io.writeStringAtomic(p, "11") // overwrite path — publishExclusive can't do this
      assert(io.readString(p) === "11", tag)
      assert(!io.list(s"$dir/$tag").exists(_.endsWith(".tmp")), s"$tag left temp debris")
    }
  }

  // ---- DV-applied initial stream load ------------------------------

  test("streaming initial load applies outstanding deletion vectors end-to-end") {
    val table = tmpTable()
    val ckpt = tmpDir()
    val o = ordersNarrow
    SnapshotTable.commit(o, table, append = false)
    val dead = o.filter(col("o_orderkey") % 10 === 7).select("o_orderkey")
    val deadKeys = dead.collect().map(_.getLong(0)).toSet
    assert(deadKeys.nonEmpty, "fixture broken: no keys to delete")
    SnapshotTable.deleteKeys(dead, table, "o_orderkey")
    // a FRESH stream attaches to the table with DVs outstanding: its
    // initial batch is the head state and must not emit deleted rows
    val q = spark.readStream
      .format(graft.sources.SnapshotSourceProvider.format)
      .option("path", table)
      .load()
      .writeStream
      .format("memory")
      .queryName("r16_dv_initial")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = keys(spark.table("r16_dv_initial"))
    assert((got intersect deadKeys).isEmpty,
      "initial streaming load resurrected deletion-vector-deleted rows")
    assert(got === (keys(o) diff deadKeys), "initial load lost live rows")
  }

  // ---- vacuum pins branch-referenced files --------------------------

  test("vacuum(main) preserves files referenced only by a live branch") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.createBranch(table, "audit")
    val bp = SnapshotTable.branchPath(table, "audit")
    val branchKeys = keys(SnapshotTable.read(spark, bp))
    // OVERWRITE main: v1's data files are now referenced by NOTHING on
    // main's retained chain — only the branch still points at them
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = false)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = false)
    SnapshotTable.vacuum(table, retainLast = 1)
    assert(keys(SnapshotTable.read(spark, bp)) === branchKeys,
      "vacuum(main) reclaimed data files a live branch still references")
  }

  // ---- publishExclusive: race vs genuine fault ----------------------

  test("publishExclusive surfaces a non-race IOException instead of eating it") {
    val io = new HadoopSnapshotIO(hconf)
    val dir = tmpDir()
    // tmp does not exist and the target is absent: the rename fails for
    // a reason that is NOT a lost race — classifying it as one would
    // send commitRetry into futile retries masking the real fault
    intercept[java.io.IOException] {
      io.publishExclusive(s"$dir/definitely-missing.tmp", s"$dir/target")
    }
    assert(!io.exists(s"$dir/target"))
    // while a genuine lost race (target already present) stays `false`
    io.writeString(s"$dir/t2.tmp", "x")
    io.writeString(s"$dir/t2", "winner")
    assert(!io.publishExclusive(s"$dir/t2.tmp", s"$dir/t2"))
    assert(io.readString(s"$dir/t2") === "winner")
  }

  // ---- rate source: admission + restart contract --------------------

  test("rate source: capped admission, deterministic slices, restart never regresses") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val meta = tmpDir()
    val provider = new graft.sources.GraftRateSourceProvider()
    def mk() = provider.createSource(
      spark.sqlContext, meta, None, "",
      Map("totalRows" -> "10", "rowsPerTrigger" -> "4", "partitions" -> "3"))
      .asInstanceOf[graft.sources.GraftRateSource]
    val a = mk()
    // a slice is pure arithmetic — collected through the batch twin of
    // getBatch's frame (the streaming-flagged wrapper refuses batch
    // execution by design); ZERO staging is written anywhere
    def sliceRows(src: graft.sources.GraftRateSource, from: Long, to: Long) =
      src.slice(from, to)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // backlog admitted in capped slices: 4, 8, 10
    assert(a.getOffset === Some(LongOffset(4L)))
    // the micro-batch frame carries streaming leaves (MicroBatchExecution
    // asserts this) with the declared schema
    val batch = a.getBatch(None, LongOffset(4L))
    assert(batch.isStreaming, "getBatch must hand back a streaming-flagged frame")
    assert(batch.schema === graft.sources.GraftRateSourceProvider.schema)
    // slice (0,4]: g=0..3 -> part g%3, seq g/3, value law
    val rows = sliceRows(a, 0L, 4L)
    assert(rows === (0L until 4L).map(g =>
      (g % 3, g / 3, (g * 2654435761L) % 1000000007L)).sorted.toArray)
    // ... and the modular law agrees with the naive product everywhere,
    // INCLUDING past the Long-overflow threshold g ~ 3.47e9 where the
    // naive product would go negative (the record-law overflow defect)
    for (g <- Seq(0L, 1L, 3470000000L, Long.MaxValue / 3, Long.MaxValue)) {
      val law = graft.sources.GraftRateSourceProvider.valueOf(g)
      assert(law >= 0 && law < 1000000007L, s"law out of field at g=$g: $law")
      assert(law === java.math.BigInteger.valueOf(g)
        .multiply(java.math.BigInteger.valueOf(2654435761L))
        .mod(java.math.BigInteger.valueOf(1000000007L)).longValueExact(),
        s"modular law disagrees with exact arithmetic at g=$g")
    }
    // zero staging on disk: nothing under the metadata path but the
    // high-water mark, nothing under java.io.tmpdir for this source
    assert(!new java.io.File(s"$meta/_rate_staging").exists(),
      "zero-staging rate source must not materialize slices")
    assert(a.getOffset === Some(LongOffset(8L)))
    a.getBatch(Some(LongOffset(4L)), LongOffset(8L))
    // RESTART on the same metadataPath: planned=8 recovered, so the
    // fresh source reports 10 (not 4, which would redeliver)
    val b = mk()
    assert(b.getOffset === Some(LongOffset(10L)),
      "restarted rate source re-seeded its admission cursor")
    // replayed range resolves to identical content (offset-addressed
    // determinism — the replayability contract): re-plan (0,4] on a
    // fresh source and compare
    assert(sliceRows(mk(), 0L, 4L) === rows)
  }

  // ---- null-count manifest stats ------------------------------------

  test("null stats: IS [NOT] NULL prunes strict file subsets, result-equal; pushdown arm") {
    import org.apache.spark.sql.sources.{IsNotNull, IsNull}
    val table = tmpTable()
    val o = ordersNarrow
      .withColumn("o_disc", when(col("o_orderkey") % 5 === 0, col("o_totalprice")))
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_disc").isNull, col("o_orderkey"))
        .sortWithinPartitions(col("o_disc").isNull, col("o_orderkey")),
      table, append = false, statsColumns = Seq("o_orderkey", "o_disc"))
    val m = SnapshotTable.manifest(table, 1L)
    assert(m.files.forall(_.nstats.contains("o_disc")), "every file must carry null stats")
    val nn = m.filesForNotNull("o_disc")
    val nu = m.filesForNull("o_disc")
    assert(nn.nonEmpty && nn.size < m.files.size, s"NOT NULL inert: ${nn.size}/${m.files.size}")
    assert(nu.nonEmpty && nu.size < m.files.size, s"NULL inert: ${nu.size}/${m.files.size}")
    // the filtered reads plan exactly the hit files, result-equal to
    // the source filters
    for ((pred, hit) <- Seq((col("o_disc").isNotNull, nn), (col("o_disc").isNull, nu))) {
      val df = SnapshotTable.read(spark, table).filter(pred)
      assert(graft.Stage.plannedFiles(df.queryExecution.sparkPlan) === hit.size, s"$pred")
      assert(keys(df) === keys(o.filter(pred)), s"$pred")
    }
    // the pushed-filter predicate prunes the same way
    def pruned(f: org.apache.spark.sql.sources.Filter) =
      graft.sources.ManifestPruning.prunedEntries(m, m.schema, Array(f))
    assert(pruned(IsNotNull("o_disc")).map(_.path).toSet === nn.map(_.path).toSet)
    assert(pruned(IsNull("o_disc")).map(_.path).toSet === nu.map(_.path).toSet)
    // soundness: a column with no null stats never prunes
    assert(pruned(IsNotNull("o_orderpriority")).size === m.files.size)
  }

  // ---- wedge cap: planted hub stays out of the join -----------------

  test("wedge cap: a planted 2000-degree hub is excluded, admitted mass stays flat") {
    import graft.tools.GraphStress
    import graft.wikidata.WikidataCatalog
    val (sym0, _) = GraphStress.baseSymmetric(spark, sf)
    val (admBase, cappedBase, enumBase) = WikidataCatalog.wedgeCapCensus(sym0)
    assert(cappedBase === 0L, "test graph should have no capped centers at base")
    assert(enumBase === admBase, "enumerated wedge rows must equal admitted mass")
    // plant a hub 2x over the cap: its d(d-1)/2 mass lands in the
    // capped bucket and the ADMITTED mass (what the link-prediction
    // joins actually enumerate) does not grow at all
    val hub = 2000
    val (adm, capped, enumd) = WikidataCatalog.wedgeCapCensus(
      GraphStress.plantHub(sym0, hub))
    assert(adm === admBase, "planted hub leaked into the admitted wedge mass")
    assert(capped === hub.toLong * (hub - 1) / 2, "hub mass missing from the capped bucket")
    assert(enumd === adm)
    // the report surfaces the trade as data: capped bucket non-empty
    val report = SparkEntry.queries("wd_wedge_cap_report")(spark, sf).collect()
    assert(report.nonEmpty && report.forall(_.getLong(3) >= 0))
  }

  // ---- clustering coefficient: reoriented plan, same census ---------

  test("clustering coeff handshake: Σ t(v) = 3 · n_triangles across the two queries") {
    // rel_clustering_coeff now enumerates through the degree-ordered
    // (Chiba–Nishizeki) orientation like rel_triangle_count; the
    // triangle SET is orientation-invariant, so the brute-force vertex
    // incidence sum must be exactly three times the global census
    val nTri = SparkEntry.queries("rel_triangle_count")(spark, sf)
      .collect()(0).getLong(0)
    val li = Tables(spark, sf).lineitem
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).sorted
      for { i <- ps.indices; j <- i + 1 until ps.length; if ps(i) < ps(j) }
        yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sumT = adj.keys.toSeq.map { v =>
      adj(v).toSeq.combinations(2).count {
        case Seq(a, b) => adj(a).contains(b)
        case _         => false
      }.toLong
    }.sum
    assert(sumT === 3L * nTri,
      s"handshake broken: Σ t(v) = $sumT, 3·n_triangles = ${3L * nTri}")
  }

  // ---- mergeBatch: keys frame released on the retry/throw path ------

  test("merge releases its cached keys frame even when publish throws") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(
      o.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"))
    val bump = o.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    // track the ID SET, not the global count: earlier suites' persisted
    // frames unpersist ASYNCHRONOUSLY, and one draining between this
    // snapshot and the final poll made the count assert flake (r13:
    // "2 did not equal 3" in full-suite runs only, never in isolation).
    // The contract under test is "merge leaves no NEW persistent RDD" —
    // unrelated disappearances are irrelevant.
    val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
    // an IO whose publish ALWAYS loses the race: merge must surface the
    // ConcurrentModificationException and still release its keys frame
    val losingIo = new graft.sources.SnapshotIO {
      def exists(p: String) = LocalSnapshotIO.exists(p)
      def isDir(p: String) = LocalSnapshotIO.isDir(p)
      def list(d: String) = LocalSnapshotIO.list(d)
      def readString(p: String) = LocalSnapshotIO.readString(p)
      def writeString(p: String, s: String) = LocalSnapshotIO.writeString(p, s)
      def writeStringAtomic(p: String, s: String) = LocalSnapshotIO.writeStringAtomic(p, s)
      def publishExclusive(tmp: String, target: String) = false
      def delete(p: String) = LocalSnapshotIO.delete(p)
      def size(p: String) = LocalSnapshotIO.size(p)
    }
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.merge(bump, table, "o_orderkey", io = losingIo)
    }
    // Spark unpersists asynchronously with blocking=false; poll briefly
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet -- idsBefore
    val deadline = System.nanoTime() + 10_000_000_000L
    while (leaked().nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked().isEmpty,
      "merge leaked its persisted keys frame on the throw path")
  }
}
