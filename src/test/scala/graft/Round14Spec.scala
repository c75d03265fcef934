package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HadoopSnapshotIO, LocalSnapshotIO, SnapshotIO, SnapshotTable}

/** Round-14 wave: copy-on-write MERGE, schema evolution, string-typed
  * manifest stats, and the Hadoop-FileSystem commit arm of the
  * snapshot table format.
  */
class Round14Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap14").toString + "/t"

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  private def ordersNarrow = Tables(spark, sf).orders
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  test("clustered compaction restores pruning power; commitRetry survives a racing writer") {
    val table = tmpTable()
    val o = ordersNarrow
    // three fragmented UNCLUSTERED appends: stats overlap, pruning inert
    for (m <- 0 to 2)
      SnapshotTable.commit(
        o.filter(col("o_orderkey") % 3 === m).repartition(4),
        table, append = m > 0, statsColumns = Seq("o_orderkey"))
    val frag = SnapshotTable.manifest(table, 3L)
    val lo = 0L; val hi = 100L
    assert(frag.filesFor("o_orderkey", lo, hi).size === frag.files.size,
      "fixture broken: fragmented stats should overlap everywhere")
    // one transactional clustered rewrite restores disjoint ranges
    val (before, v) = SnapshotTable.compactSnapshot(
      spark, table, targetBytes = 4L << 10, clusterBy = Seq("o_orderkey"))
    assert(before === 12)
    val m = SnapshotTable.manifest(table, v)
    assert(m.files.size > 1, "need >1 file for the pruning claim")
    val hit = m.filesFor("o_orderkey", lo, hi)
    assert(hit.size < m.files.size, s"clustered compaction did not restore pruning")
    assert(keys(SnapshotTable.read(spark, table)) === keys(o), "compaction changed rows")
    // commitRetry: expectedCurrent resolved per attempt, so a commit
    // landed by another writer between attempts does not wedge it
    val vr = SnapshotTable.commitRetry(o.limit(5), table, append = true)
    assert(vr === v + 1)
  }

  // ---- copy-on-write MERGE ----------------------------------------

  test("merge: rewrites only touched files; survivors carried verbatim; state exact") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"))
    val before = SnapshotTable.manifest(table, 1L)
    val maxKey = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val lim = maxKey / 4
    val upd = o.filter(col("o_orderkey") < lim && col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("_del", lit(false))
    val del = o.filter(col("o_orderkey") < lim && col("o_orderkey") % 10 === 7)
      .withColumn("_del", lit(true))
    val ins = o.filter(col("o_orderkey") < lim && col("o_orderkey") % 10 === 5)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("_del", lit(false))
    val (rewritten, total, v) = SnapshotTable.merge(
      upd.unionByName(del).unionByName(ins), table, "o_orderkey",
      deleteCol = Some("_del"))
    GraftCache.clear()
    assert(v === 2L)
    assert(total === before.files.size)
    assert(rewritten > 0 && rewritten < total,
      s"merge rewrote $rewritten of $total files — expected a strict selective subset")
    // survivor files are carried into the new manifest VERBATIM
    val after = SnapshotTable.manifest(table, 2L)
    val survivorPaths = before.files.map(_.path).toSet intersect after.files.map(_.path).toSet
    assert(survivorPaths.size === total - rewritten)
    assert(after.extra("mode") === "merge")
    // row-level semantics: deletes gone, updates replaced, inserts in,
    // survivors untouched
    val allKeys = keys(o)
    val expected = allKeys.filter(k => !(k < lim && (k % 10 == 3 || k % 10 == 7))) ++
      allKeys.filter(k => k < lim && k % 10 == 3) ++
      allKeys.filter(k => k < lim && k % 10 == 5).map(_ + 1000000L)
    assert(keys(SnapshotTable.read(spark, table)) === expected)
    val updated = SnapshotTable.read(spark, table)
      .filter(col("o_orderkey") < lim && col("o_orderkey") % 10 === 3)
    val origSum = o.filter(col("o_orderkey") < lim && col("o_orderkey") % 10 === 3)
      .agg(sum(col("o_totalprice").cast("decimal(38,4)"))).collect()(0).getDecimal(0)
    val newSum = updated.agg(sum(col("o_totalprice").cast("decimal(38,4)")))
      .collect()(0).getDecimal(0)
    val nUpd = updated.count()
    assert(newSum.subtract(origSum).doubleValue() === nUpd.toDouble)
    // time travel still shows the pre-merge state
    assert(keys(SnapshotTable.read(spark, table, Some(1L))) === allKeys)
    // incremental reads refuse to cross a merge — new-files != new-rows
    SnapshotTable.commit(o.limit(3), table, append = true)
    intercept[IllegalArgumentException] {
      SnapshotTable.readIncremental(spark, table, 1L, 3L)
    }
    // ...but a post-merge append-only range still scans fine
    assert(SnapshotTable.readIncremental(spark, table, 2L, 3L).count() === 3L)
  }

  test("merge: files without key stats can never be proven untouched") {
    val table = tmpTable()
    val o = ordersNarrow
    // commit WITHOUT stats: every file must be treated as touched
    SnapshotTable.commit(o.repartition(4), table, append = false)
    val batch = o.limit(1).withColumn("o_totalprice", lit(0.0)).withColumn("_del", lit(false))
    val (rewritten, total, _) = SnapshotTable.merge(
      batch, table, "o_orderkey", deleteCol = Some("_del"))
    GraftCache.clear()
    assert(rewritten === total, "stat-less files skipped by merge — unsound")
  }

  test("merge: string-typed keys route through sstats ranges") {
    val table = tmpTable()
    val o = Tables(spark, sf).orders
      .withColumn("o_day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .select("o_day", "o_orderkey", "o_totalprice")
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_day")).sortWithinPartitions("o_day"),
      table, append = false, statsColumns = Seq("o_day"))
    // rewrite every 1995 day: the batch's keys land in ~1/8 of the files
    val batch = o.filter(col("o_day").between("1995-01-01", "1995-12-31"))
      .groupBy("o_day").agg(min("o_orderkey").as("o_orderkey"),
        sum(col("o_totalprice")).as("o_totalprice"))
      .select("o_day", "o_orderkey", "o_totalprice")
      .withColumn("_del", lit(false))
    val (rewritten, total, v) = SnapshotTable.merge(
      batch, table, "o_day", deleteCol = Some("_del"))
    GraftCache.clear()
    assert(v === 2L)
    assert(rewritten > 0 && rewritten < total,
      s"string-key merge rewrote $rewritten of $total — routing inert")
    val res = SnapshotTable.read(spark, table)
    // each 1995 day collapsed to its one merged row; other days intact
    val n95 = res.filter(col("o_day").between("1995-01-01", "1995-12-31")).count()
    val d95 = o.filter(col("o_day").between("1995-01-01", "1995-12-31"))
      .select("o_day").distinct().count()
    assert(n95 === d95)
    val nOther = res.filter(!col("o_day").between("1995-01-01", "1995-12-31")).count()
    val oOther = o.filter(!col("o_day").between("1995-01-01", "1995-12-31")).count()
    assert(nOther === oOther, "non-1995 survivor rows changed under a 1995-keyed merge")
  }

  test("mergeBatch: the batch-id guard makes non-idempotent merges exactly-once") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(
      o.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"))
    // an INCREMENT-style update: re-applying it would double the delta
    val bump = o.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("_del", lit(false))
    assert(SnapshotTable.mergeBatch(bump, table, "o_orderkey", 0L,
      deleteCol = Some("_del")).isDefined)
    GraftCache.clear()
    val after = SnapshotTable.read(spark, table)
      .agg(sum(col("o_totalprice").cast("decimal(38,4)"))).collect()(0).getDecimal(0)
    // redelivery of batch 0 must no-op — version AND state unchanged
    assert(SnapshotTable.mergeBatch(bump, table, "o_orderkey", 0L,
      deleteCol = Some("_del")).isEmpty)
    GraftCache.clear()
    assert(SnapshotTable.currentVersion(table) === 2L)
    val replayed = SnapshotTable.read(spark, table)
      .agg(sum(col("o_totalprice").cast("decimal(38,4)"))).collect()(0).getDecimal(0)
    assert(replayed === after, "replayed merge batch re-applied the delta")
    // the next genuine batch still lands
    assert(SnapshotTable.mergeBatch(bump, table, "o_orderkey", 1L,
      deleteCol = Some("_del")).isDefined)
    GraftCache.clear()
    assert(SnapshotTable.currentVersion(table) === 3L)
  }

  test("streaming source: maxVersionsPerTrigger drains a backlog as bounded batches") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val table = tmpTable()
    val o = ordersNarrow
    for (m <- 0 to 2)
      SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === m), table, append = m > 0)
    val s = SnapshotStreams.of(new graft.sources.SnapshotSourceProvider(),
      Map("path" -> table, "maxVersionsPerTrigger" -> "1"))
    def off(v: Long) = s.deserializeOffset(v.toString)
    def latest(from: Long) = s.latestOffset(off(from), ReadLimit.allAvailable()).json
    // the 3-version backlog is admitted one version per trigger
    assert(latest(0L) === "1")
    assert(SnapshotStreams.files(s.planInputPartitions(off(0L), off(1L)))
      === SnapshotTable.manifest(table, 1L).files.map(_.path).toSet)
    assert(latest(1L) === "2")
    assert(SnapshotStreams.files(s.planInputPartitions(off(1L), off(2L)))
      === SnapshotTable.incrementalFiles(table, 1L, 2L).toSet)
    assert(latest(2L) === "3")
    // caught up: the offset stops at the head, no phantom versions
    assert(latest(3L) === "3")
  }

  // ---- schema evolution -------------------------------------------

  test("schema evolution: add-column append widens; old snapshots keep their schema") {
    val table = tmpTable()
    val o = Tables(spark, sf).orders
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_orderpriority"),
      table, append = false)
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("o_year")),
      table, append = true)
    val cur = SnapshotTable.read(spark, table)
    assert(cur.schema.fieldNames.toSeq === Seq("o_orderkey", "o_orderpriority", "o_year"))
    // old files read under the widened schema with NULL in the added col
    val nulls = cur.filter(col("o_year").isNull)
    assert(keys(nulls) === keys(o).filter(_ % 2 == 0))
    // the old snapshot still reads under its OWN narrower schema
    val v1 = SnapshotTable.read(spark, table, Some(1L))
    assert(v1.schema.fieldNames.toSeq === Seq("o_orderkey", "o_orderpriority"))
    // rename / retype / reorder / drop all refuse loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        o.select(col("o_orderkey").as("renamed"), col("o_orderpriority"), lit(1L).as("o_year")),
        table, append = true)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        o.select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_orderpriority"), lit(1L).as("o_year")),
        table, append = true)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        o.select(col("o_orderpriority"), col("o_orderkey"), lit(1L).as("o_year")),
        table, append = true)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(o.select("o_orderkey"), table, append = true)
    }
  }

  // ---- string-typed manifest stats --------------------------------

  test("string stats: pruned read is a strict file subset, result-equal to full scan") {
    val table = tmpTable()
    val o = Tables(spark, sf).orders
      .withColumn("o_day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_day")).sortWithinPartitions("o_day"),
      table, append = false, statsColumns = Seq("o_day"))
    val m = SnapshotTable.manifest(table, 1L)
    assert(m.files.forall(_.sstats.contains("o_day")), "every file must carry o_day stats")
    val hit = m.filesForString("o_day", "1995-01-01", "1995-12-31")
    assert(hit.nonEmpty && hit.size < m.files.size,
      s"string pruning inert: ${hit.size} of ${m.files.size} files")
    // the pushed string range plans exactly the manifest's hit files
    val pruned = SnapshotTable.read(spark, table)
      .filter(col("o_day").between("1995-01-01", "1995-12-31"))
    assert(graft.Stage.plannedFiles(pruned.queryExecution.sparkPlan) === hit.size)
    val want = o.filter(col("o_day").between("1995-01-01", "1995-12-31"))
    assert(pruned.count() === want.count() && keys(pruned) === keys(want) && keys(want).nonEmpty)
    // a range before every recorded day prunes to zero files
    assert(m.filesForString("o_day", "1800-01-01", "1800-12-31").isEmpty)
  }

  test("string stats: bounds survive delimiter characters via hex encoding") {
    import SnapshotTable.FileEntry
    val f = FileEntry("/x/p.parquet", Map("k" -> (1L, 2L)),
      Map("s" -> ("a|b:c\nd", "z|z:z")))
    // a fresh in-memory entry (seq = -1, pre-publish) parses back as a
    // LEGACY entry (seq = 0 — before every stamped DV); stamped entries
    // roundtrip their commit sequence exactly
    val rt = FileEntry.parse(f.line)
    assert(rt === f.copy(seq = 0L))
    val stamped = f.copy(seq = 7L)
    assert(FileEntry.parse(stamped.line) === stamped)
    // byte-wise comparator agrees with unsigned UTF-8 ordering past ASCII
    assert(FileEntry.bytesLe("abc", "abd"))
    assert(FileEntry.bytesLe("abc", "abc"))
    assert(!FileEntry.bytesLe("é", "z")) // 0xC3 > 0x7A byte-wise, as UTF8String orders it
  }

  test("z-order clustering: BOTH single-column reads prune strict file subsets") {
    // the fixture src_snapshot_zorder builds, pinned structurally: on
    // a morton-clustered commit each dimension alone must prune
    val rows = SparkEntry.queries("src_snapshot_zorder")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 2)
    val table = graft.Stage.dir("graft_snapzorder_", "/root/testdata/sf0.001").getPath
    val m = SnapshotTable.manifest(table, 1L)
    val custHit = m.filesFor("o_custkey", 100L, 299L)
    val yearHit = m.filesFor("o_year", 1995L, 1995L)
    assert(custHit.nonEmpty && custHit.size < m.files.size,
      s"cust arm pruning inert: ${custHit.size}/${m.files.size}")
    assert(yearHit.nonEmpty && yearHit.size < m.files.size,
      s"year arm pruning inert: ${yearHit.size}/${m.files.size}")
  }

  test("changeFeed: classifies every row; sound across the merge; " +
      "serves an add-at-end drift positionally") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o, table, append = false)
    // v2: overwrite with a hand-made delta — 1 delete, 1 update, 1 insert
    val v2 = o.filter(col("o_orderkey") =!= 0L) // delete key 0
      .withColumn("o_totalprice",
        when(col("o_orderkey") === 1L, col("o_totalprice") + 5.0)
          .otherwise(col("o_totalprice"))) // update key 1
      .unionByName(o.limit(1).select(
        lit(999999L).as("o_orderkey"), lit("X").as("o_orderpriority"),
        lit(1.0).as("o_totalprice"))) // insert
    SnapshotTable.commit(v2, table, append = false)
    val feed = SnapshotTable.changeFeed(spark, table, 1L, 2L, "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed === Set(
      ("delete", 0L), ("update_preimage", 1L), ("update_postimage", 1L),
      ("insert", 999999L)), s"feed misclassified: $feed")
    // an ADD-AT-END drift now serves positionally (Round49Spec owns
    // the mapping; only non-positional boundaries refuse, and those
    // can never commit): the widening overwrite restores key 0 and
    // drops the synthetic insert
    SnapshotTable.commit(o.withColumn("extra", lit(1L)), table, append = false)
    val feed2 = SnapshotTable.changeFeed(spark, table, 2L, 3L, "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed2.contains(("insert", 0L)) && feed2.contains(("delete", 999999L)),
      s"the add-at-end crossing must serve: $feed2")
  }

  // ---- Hadoop-FileSystem commit arm -------------------------------

  private def hadoopIO: SnapshotIO =
    new HadoopSnapshotIO(new org.apache.hadoop.conf.Configuration())

  test("hadoop IO: commits, time travel, pruning and vacuum run the same protocol") {
    val table = tmpTable()
    val io = hadoopIO
    val o = ordersNarrow
    val all = keys(o)
    val v1 = SnapshotTable.commit(
      o.filter(col("o_orderkey") % 3 === 0)
        .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"), io = io)
    val v2 = SnapshotTable.commit(
      o.filter(col("o_orderkey") % 3 === 1), table, append = true, io = io)
    assert((v1, v2) === ((1L, 2L)))
    assert(keys(SnapshotTable.read(spark, table, Some(1L), io = io)) === all.filter(_ % 3 == 0))
    assert(keys(SnapshotTable.read(spark, table, io = io))
      === all.filter(k => k % 3 == 0 || k % 3 == 1))
    // manifest stats recorded and pruning live through the hadoop arm
    val m = SnapshotTable.manifest(table, 1L, io)
    assert(m.files.forall(_.stats.contains("o_orderkey")))
    // incremental read across the hadoop-committed chain
    assert(keys(SnapshotTable.readIncremental(spark, table, 1L, 2L, io = io))
      === all.filter(_ % 3 == 1))
    // vacuum through the hadoop primitives
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = false, io = io)
    val (mDel, fDel) = SnapshotTable.vacuum(table, retainLast = 1, io = io)
    assert(mDel === 2 && fDel > 0)
    assert(keys(SnapshotTable.read(spark, table, io = io)) === all.filter(_ % 3 == 2))
  }

  test("hadoop IO: the losing concurrent writer throws through rename-no-overwrite") {
    val table = tmpTable()
    val io = hadoopIO
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false, io = io)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true, io = io)
    val before = keys(SnapshotTable.read(spark, table, io = io))
    // a writer that read version 1 races the already-published v2: the
    // FileContext.rename(NONE) publication must LOSE loudly
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commit(
        o.filter(col("o_orderkey") % 3 === 2), table, append = false,
        expectedCurrent = Some(1L), io = io)
    }
    assert(SnapshotTable.currentVersion(table, io) === 2L)
    assert(keys(SnapshotTable.read(spark, table, io = io)) === before)
  }

  test("hadoop IO: a crashed attempt (data written, manifest unpublished) is invisible") {
    val table = tmpTable()
    val io = hadoopIO
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false, io = io)
    val before = keys(SnapshotTable.read(spark, table, io = io))
    o.filter(col("o_orderkey") % 3 === 1).write.parquet(s"$table/data/v2_deadcrash")
    io.writeString(s"$table/manifests/.tmp_v2_deadcrash", "version=2\ngarbage")
    assert(SnapshotTable.currentVersion(table, io) === 1L)
    assert(keys(SnapshotTable.read(spark, table, io = io)) === before)
    val v2 = SnapshotTable.commit(
      o.filter(col("o_orderkey") % 3 === 2), table, append = true, io = io)
    assert(v2 === 2L)
    val m = SnapshotTable.manifest(table, 2L, io)
    assert(m.files.nonEmpty && !m.files.exists(_.path.contains("deadcrash")))
  }

  // ---- snapshot table as a streaming source -----------------------

  test("snapshot streaming source: offsets are versions, batches are exact manifest slices") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    val provider = new graft.sources.SnapshotSourceProvider()
    assert(provider.inferSchema(new CaseInsensitiveStringMap(
      java.util.Map.of("path", table))).fieldNames.toSeq ===
      Seq("o_orderkey", "o_orderpriority", "o_totalprice"))
    val s = SnapshotStreams.of(provider, Map("path" -> table))
    def off(v: Long) = s.deserializeOffset(v.toString)
    // the offset IS the snapshot version
    assert(s.latestOffset(s.initialOffset(), ReadLimit.allAvailable()).json === "2")
    // initial load: the full snapshot at the end offset
    assert(SnapshotStreams.files(s.planInputPartitions(off(0L), off(2L)))
      === SnapshotTable.manifest(table, 2L).files.map(_.path).toSet)
    // steady state: exactly the files the new version added
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    assert(s.latestOffset(off(2L), ReadLimit.allAvailable()).json === "3")
    val inc = SnapshotStreams.files(s.planInputPartitions(off(2L), off(3L)))
    assert(inc === SnapshotTable.incrementalFiles(table, 2L, 3L).toSet)
    // a restart hands offsets back as their checkpointed json — same slice
    assert(SnapshotStreams.files(s.planInputPartitions(
      s.deserializeOffset(off(2L).json), s.deserializeOffset(" 3\n"))) === inc)
    // nothing new: an empty batch
    assert(s.planInputPartitions(off(3L), off(3L)).isEmpty)
  }

  test("hadoop IO: merge runs end to end through the hadoop primitives") {
    val table = tmpTable()
    val io = hadoopIO
    val o = ordersNarrow
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"), io = io)
    val maxKey = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val del = o.filter(col("o_orderkey") < maxKey / 4 && col("o_orderkey") % 10 === 7)
      .withColumn("_del", lit(true))
    val (rewritten, total, v) = SnapshotTable.merge(
      del, table, "o_orderkey", deleteCol = Some("_del"), io = io)
    GraftCache.clear()
    assert(v === 2L && rewritten < total)
    val expected = keys(o).filterNot(k => k < maxKey / 4 && k % 10 == 7)
    assert(keys(SnapshotTable.read(spark, table, io = io)) === expected)
  }
}
