package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-design patterns from SURVEY §5, asserted on real plans:
  * bucketed writes co-locate joins (no shuffle), and two-phase salted
  * aggregation equals the direct aggregation it de-skews.
  */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed tables join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val t = Tables(spark, sf)
      // the in-memory catalog forgets tables between JVMs but leaves the
      // warehouse dirs behind — clear both before recreating
      Seq("g_orders_b", "g_lineitem_b").foreach { tbl =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        val dir = new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/$tbl")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
      t.orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("g_orders_b")
      t.lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("g_lineitem_b")
      val joined = spark
        .table("g_orders_b")
        .join(spark.table("g_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      // co-located: the bucket layout replaces both hash exchanges
      assert(PlanCheck.hashExchanges(joined).isEmpty, PlanCheck.render(joined))
      assert(joined.count() === t.lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH bucket cap bounds a degenerate boilerplate bucket") {
    import spark.implicits._
    // 300 identical boilerplate docs — one degenerate bucket per band,
    // width 300 >> cap: without the cap the band self-join alone is
    // ~16*300²/2 = 720k candidate rows. Plus one genuine near-dup pair
    // of distinct long docs (bucket width 2, survives the cap).
    val boiler = (0 until 300).map(i =>
      (10000L + i, "en", "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"))
    val words = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = Seq((1L, "en", words), (2L, "en", words + " extra"))
    val docs = (boiler ++ nearDup).toDF("doc_id", "lang", "text")
    // capture the graft_lsh_cap observed metric the cap emits — the
    // recall trade must be visible, not silent
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        // suites share the session: only claim the metric row with real
        // drops (this test is the only source of a non-empty cap drop)
        qe.observedMetrics.get("graft_lsh_cap")
          .filter(_.getAs[Long]("dropped_hot_buckets") > 0)
          .foreach(r => observed = Some(r))
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val pairs =
      try graft.dedup.DedupCatalog
        .minhashPairsFrom(docs.select($"doc_id", $"lang", graft.functions.TextFunctions.shingleSet($"text").as("sh")))
        .collect()
      finally GraftCache.clear()
    // the degenerate clique is dropped (its 300² pairs never material-
    // ize); the genuine near-dup pair is still found via its own bucket
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    // listener delivery is async — poll briefly
    val deadline = System.nanoTime() + 10_000_000_000L
    while (observed.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    try spark.listenerManager.unregister(listener)
    catch { case _: IllegalArgumentException => }
    val m = observed.getOrElse(fail("graft_lsh_cap metric never observed"))
    // all 16 bands of the 300-doc clique collide -> 16 dropped buckets,
    // 300 member rows each
    assert(m.getAs[Long]("dropped_hot_buckets") === 16L)
    assert(m.getAs[Long]("dropped_bucket_rows") === 4800L)
  }

  test("GraftCache.clear unpersists every graft-owned cached plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", (0 until 40).map(i => s"w$i").mkString(" ")),
      (2L, "en", (0 until 40).map(i => s"w$i").mkString(" ") + " extra"))
      .toDF("doc_id", "lang", "text")
    val pairs = graft.dedup.DedupCatalog.minhashPairsFrom(
      docs.select($"doc_id", $"lang", graft.functions.TextFunctions.shingleSet($"text").as("sh")))
    pairs.count()
    // the pair stage is lineage-TRUNCATED (GraftCache.truncate): its
    // blocks live on the checkpoint RDD, outside the CacheManager
    val rdds = org.apache.spark.sql.graftbridge.Bridge.checkpointRdds(pairs)
    assert(rdds.nonEmpty, "expected a localCheckpoint leaf under the pair stage")
    assert(rdds.forall(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE))
    GraftCache.clear()
    assert(rdds.forall(_.getStorageLevel === org.apache.spark.storage.StorageLevel.NONE),
      "clear() must free truncated-stage blocks too")
  }

  test("parquet scan pushes filters and prunes columns") {
    val q = Tables(spark, sf).lineitem
      .filter(col("l_orderkey") > 1000L)
      .select("l_orderkey", "l_quantity")
    val scans = PlanCheck.fileScans(q)
    assert(scans.nonEmpty, PlanCheck.render(q))
    // the predicate must reach the scan: dataFilters is the set of
    // catalyst predicates the scan node evaluates at the source (the
    // field the "PushedFilters:" metadata is derived from)
    val pushed = scans.flatMap(_.dataFilters)
    assert(
      pushed.exists(_.collectFirst {
        case org.apache.spark.sql.catalyst.expressions.GreaterThan(
              a: org.apache.spark.sql.catalyst.expressions.Attribute,
              org.apache.spark.sql.catalyst.expressions.Literal(v, _))
            if a.name == "l_orderkey" && v == 1000L =>
          ()
      }.nonEmpty),
      s"filter not pushed, got $pushed:\n${PlanCheck.render(q)}")
    // ...and the scan must read ONLY the projected columns
    val readCols = scans.map(_.requiredSchema.fieldNames.toSet)
    assert(
      readCols.exists(_ == Set("l_orderkey", "l_quantity")),
      s"column pruning lost, read $readCols:\n${PlanCheck.render(q)}")
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one pathological key carrying ~97% of the left side
      val left = spark.range(300000).select(
        when(col("id") % 100 < 97, 0L).otherwise(col("id") % 100).as("k"),
        col("id").as("payload"))
      val right = spark.range(100).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // collect() executes THIS dataframe's AQE plan (count() would plan
      // a separate aggregate query and leave this one un-finalized)
      assert(joined.collect().length === 300000)
      // AQE's FINAL plan (post-execution) must have split the hot partition
      val root = PlanCheck.adaptiveRoot(joined)
      assert(root.exists(_.isFinalPlan), PlanCheck.render(joined))
      val skewed = PlanCheck
        .collectNodes[org.apache.spark.sql.execution.joins.SortMergeJoinExec](joined)
        .exists(_.isSkewJoin) ||
        PlanCheck
          .collectNodes[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec](joined)
          .exists(_.isSkewJoin)
      assert(skewed, s"no skew-split join in final plan:\n${PlanCheck.render(joined)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("two-phase salted aggregation equals direct aggregation") {
    val e = Tables(spark, sf).events
    // skewed key -> salt to 8 subkeys, partial-agg, then final agg
    val salted = e
      .withColumn("salt", pmod(hash(col("event_id")), lit(8)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("value").cast("decimal(38,4)")).as("ps"))
      .groupBy("event_type")
      .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("total"))
    val direct = e
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(38,4)")).cast("double").as("total"))
    assert(
      salted.orderBy("event_type").collect().toSeq ===
        direct.orderBy("event_type").collect().toSeq)
  }

  test("temporal-layout lifecycle holds at volume: 200k rows / 50 days, " +
      "4 fragmenting appends, compact to one file per day, 1-file day reads") {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    val wh = Files.createTempDirectory("graft_scale_temporal").toString
    val cat = "gsc" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    // 200k rows uniformly over 50 days (one row every 21.6 s)
    spark.range(200000)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 21600000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("gsc_src")
    for (r <- 0 to 3)
      spark.sql(s"INSERT INTO $cat.e SELECT * FROM gsc_src WHERE v % 4 = $r")
    val table = s"$wh/e"
    val frag = SnapshotTable.manifest(table, 5L)
    assert(frag.files.size === 200, "4 appends x 50 days")
    val (before, ver) = SnapshotTable.compactSnapshot(spark, table)
    assert(before === 200)
    val m = SnapshotTable.manifest(table, ver)
    assert(m.files.size === 50, "one file per day at 200k rows")
    assert(m.files.forall(
      _.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi }))
    assert(spark.table(s"$cat.e").count() === 200000)
    val day17 = spark.table(s"$cat.e")
      .filter(col("ts") >= expr("timestamp'2024-01-18 00:00:00'") &&
        col("ts") < expr("timestamp'2024-01-19 00:00:00'"))
    assert(day17.count() === 4000)
    val planned = graft.Stage.plannedFiles(day17.queryExecution.sparkPlan)
    assert(planned === 1, s"a one-day read plans ONE file at volume, got $planned")
  }

  test("merge cost is O(touched files), FLAT in table size: the same CDC " +
      "batch rewrites the same file count against a 10x bigger table") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_scale_merge").toString
    // key-disjoint layouts: 20 files at 20k rows, 200 files at 200k rows
    def build(table: String, rows: Long, files: Int): Unit =
      SnapshotTable.commit(
        spark.range(rows).select(col("id").as("k"), (col("id") * 3).as("v"))
          .repartitionByRange(files, col("k")).sortWithinPartitions("k"),
        table, append = false, statsColumns = Seq("k"))
    build(s"$wh/small", 20000L, 20)
    build(s"$wh/big", 200000L, 200)
    // one CDC batch touching keys inside a single file's range of EACH
    val batch = Seq((100L, 999L), (101L, 998L)).toDF("k", "v")
    val (touchedSmall, beforeSmall, _) = SnapshotTable.merge(batch, s"$wh/small", "k")
    val (touchedBig, beforeBig, _) = SnapshotTable.merge(batch, s"$wh/big", "k")
    assert(beforeSmall === 20 && beforeBig === 200, "the 10x size is real")
    assert(touchedSmall === 1 && touchedBig === 1,
      s"the SAME batch must rewrite the SAME file count at 10x the table " +
        s"($touchedSmall vs $touchedBig) — merge cost is O(touched), not O(table)")
    assert(SnapshotTable.read(spark, s"$wh/big").where(col("k") === 100L)
      .collect()(0).getLong(1) === 999L)
  }

  test("join sizing reads manifest LINES alone: the broadcast decision " +
      "on a pure-segment manifest loads ZERO segment files (counted " +
      "loads, not wall-clock)") {
    import graft.sources.SnapshotTable
    val wh = Files.createTempDirectory("graft_scale_seg").toString
    val table = s"$wh/dim"
    // two commits -> a pure-segment manifest (inline only exists for
    // legacy flat manifests); statsColumns record rowCount + NDV per
    // part, aggregated into the segment REFERENCES at write time
    SnapshotTable.commit(
      spark.range(5000).select(col("id").as("k"), (col("id") * 7).as("w"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      table, append = false, statsColumns = Seq("k"))
    SnapshotTable.commit(
      spark.range(5000, 8000).select(col("id").as("k"), (col("id") * 7).as("w"))
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      table, append = true, statsColumns = Seq("k"))
    val m = SnapshotTable.manifest(table, 2L)
    assert(m.segments.nonEmpty && m.inline.isEmpty, "pure-segment manifest")
    val c0 = SnapshotTable.segmentLoads.get()
    // the sizing PROOFS — row count and key-NDV upper bound — answer
    // from the segment references in the head manifest's lines
    assert(SnapshotTable.rowCountOf(table).contains(8000L))
    assert(SnapshotTable.ndvOf(table, "k").exists(n => n >= 8000L && n <= 9000L))
    assert(SnapshotTable.segmentLoads.get() === c0,
      "the broadcast decision must load ZERO segment files")
    // the decision drives a real broadcast — and an unprovable bound
    // falls to shuffle, never a blind broadcast
    val left = spark.range(100000).select(col("id").as("lk"))
    val (joined, bc) = SnapshotTable.sizedJoin(left, "lk", table, "k",
      maxBuildRows = 10000L, maxBuildKeys = 10000L)
    assert(bc, "8000 provable rows under a 10000 cap must broadcast")
    assert(joined.count() === 8000L)
    assert(graft.Stage.executedNodes(joined).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]))
    val (j2, bc2) = SnapshotTable.sizedJoin(left, "lk", table, "k",
      maxBuildRows = 100L, maxBuildKeys = 10000L)
    assert(!bc2 && j2.count() === 8000L, "over the cap falls to shuffle")
  }

  test("post-evolution pruned reads plan O(touched files) on a 10x " +
      "table with MIXED generations: counted files, not wall-clock") {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    def build(days: Int): (String, String) = {
      val wh = Files.createTempDirectory(s"graft_scale_evo$days").toString
      val cat = "gse" + days + wh.takeRight(6).replaceAll("[^0-9a-zA-Z]", "")
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, v BIGINT) " +
        "PARTITIONED BY (days(ts))")
      // gen 0: `days` day files; gen 1: 4 days cut hourly (96 files)
      spark.range(days.toLong * 40)
        .select(expr(s"timestamp_micros(CAST(1704067200000000 + " +
          s"(id % $days) * 86400000000 + id * 7 AS BIGINT))").as("ts"),
          col("id").as("v"))
        .createOrReplaceTempView(s"gse_src_$days")
      spark.sql(s"INSERT INTO $cat.e SELECT * FROM gse_src_$days")
      spark.sql(s"ALTER TABLE $cat.e SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
      spark.range(96)
        .select(expr(s"timestamp_micros(CAST(1704067200000000 + " +
          s"${days}L * 86400000000 + id * 3600000000 AS BIGINT))").as("ts"),
          (col("id") + 1000000).as("v"))
        .createOrReplaceTempView(s"gse_new_$days")
      spark.sql(s"INSERT INTO $cat.e SELECT * FROM gse_new_$days")
      (cat, s"$wh/e")
    }
    val (catS, tabS) = build(10)
    val (catB, tabB) = build(100)
    val mS = SnapshotTable.manifest(tabS, 4L)
    val mB = SnapshotTable.manifest(tabB, 4L)
    assert(mS.files.size === 10 + 96 && mB.files.size === 100 + 96,
      "the 10x old generation is real, both tables mixed")
    assert(mS.files.exists(_.seq < SnapshotTable.layoutSinceOf(mS)) &&
      mB.files.exists(_.seq < SnapshotTable.layoutSinceOf(mB)))
    // a 3-hour window in the NEW generation prunes to the SAME 3 hour
    // files on both tables — the old generation's size never enters
    def planned(cat: String, days: Int): Int = {
      val lo = s"timestamp_micros(CAST(1704067200000000 + ${days}L * 86400000000 " +
        "+ 5 * 3600000000 AS BIGINT))"
      val hi = s"timestamp_micros(CAST(1704067200000000 + ${days}L * 86400000000 " +
        "+ 8 * 3600000000 AS BIGINT))"
      val q = spark.table(s"$cat.e")
        .where(col("ts") >= expr(lo) && col("ts") < expr(hi))
      assert(q.count() === 3)
      graft.Stage.plannedFiles(q.queryExecution.executedPlan)
    }
    assert(planned(catS, 10) === 3 && planned(catB, 100) === 3,
      "a pruned post-evolution read plans O(touched files) at 10x")
    // and a 1-day window in the OLD generation plans exactly 1 file on
    // both — per-generation pruning is size-independent too
    def plannedOld(cat: String): Int = {
      val q = spark.table(s"$cat.e")
        .where(col("ts") >= expr("timestamp'2024-01-03 00:00:00'") &&
          col("ts") < expr("timestamp'2024-01-04 00:00:00'"))
      q.collect()
      graft.Stage.plannedFiles(q.queryExecution.executedPlan)
    }
    assert(plannedOld(catS) === 1 && plannedOld(catB) === 1,
      "old-generation day reads stay 1-file at 10x")
  }

  test("scoped-DV read cost is proportional to the sidecars OVERLAPPING " +
      "each file, not files x chain: counted attachments, not wall-clock") {
    import graft.sources.{SnapshotCatalog, SnapshotTable}
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_scale_dv").toString
    val cat = "gsd" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val table = s"$wh/t"
    // 20 key-disjoint files (k range 1000 each)
    SnapshotTable.commit(
      spark.range(20000).select(col("id").as("k"), (col("id") * 3).as("v"))
        .repartitionByRange(20, col("k")).sortWithinPartitions("k"),
      table, append = false, statsColumns = Seq("k"))
    // 5 single-key delete batches — each key lives in exactly ONE file,
    // so each sidecar's recorded range intersects exactly one file
    (0 until 5).foreach { i =>
      SnapshotTable.deleteKeys(Seq(i * 4000L + 10L).toDF("k"), table, "k")
    }
    val df = spark.table(s"$cat.t")
    assert(df.count() === 20000L - 5L)
    // 5 single-file-ranged sidecars over 20 files: 5 attachments, not
    // 100 — the manifest range prune is what makes a 10x-more-files
    // table pay the SAME per-file sidecar cost
    val attached = graft.Stage.deleteAttachments(df)
    assert(attached === 5L, s"attachments must equal OVERLAPS (5), got $attached")
  }
}
