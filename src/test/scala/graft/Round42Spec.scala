package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-42 wave: PARTITION-SPEC EVOLUTION (Iceberg-v2 new-spec-for-
  * new-files — `ALTER TABLE ... SET TBLPROPERTIES('evolveLayout'=...)`,
  * one metadata commit; a file's commit seq names its generation),
  * the time × truncate compound, per-period z-order maintenance, and
  * SQL DELETE routed through position sidecars
  * (TBLPROPERTIES('deleteMode'='positions')).
  */
class Round42Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap42").toString
    val cat = "g42" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private val T0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val H = 3600000000L

  test("evolveLayout days->hours: one metadata commit, both generations " +
      "prune under their own transforms, reads exact, time travel intact") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val table = s"$wh/t"
    // generation 0: 3 days x 24 hourly rows -> 3 day files
    spark.range(72)
      .select(expr(s"timestamp_micros(CAST($T0 + id * $H AS BIGINT))").as("ts"),
        col("id").as("v"))
      .createOrReplaceTempView("g42_src_a")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_src_a")
    assert(SnapshotTable.manifest(table, 2L).files.size === 3)
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
    val mA = SnapshotTable.manifest(table, 3L)
    assert(mA.extra.get("mode").contains("props"), "evolution is metadata-only")
    assert(mA.files.size === 3, "zero files touched")
    assert(SnapshotTable.temporalSpecOf(mA) === Some(("ts", "hours")))
    assert(SnapshotTable.layoutSinceOf(mA) === 3L)
    assert(SnapshotTable.layoutHistOf(mA) ===
      Seq((0L, Map("temporal" -> "ts:days"))))
    // generation 1: day 4, 6 hourly rows -> 6 HOUR files
    spark.range(6)
      .select(expr(s"timestamp_micros(CAST($T0 + (72 + id) * $H AS BIGINT))").as("ts"),
        col("id").as("v"))
      .createOrReplaceTempView("g42_src_b")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_src_b")
    val m = SnapshotTable.manifest(table, 4L)
    assert(m.files.size === 9, "3 day files + 6 hour files")
    // generation resolution rides the seq the manifest already carries
    assert(SnapshotTable.layoutForSeq(m, 2L) === Map("temporal" -> "ts:days"))
    assert(SnapshotTable.layoutForSeq(m, 4L) === Map("temporal" -> "ts:hours"))
    // BOTH generations prune by the raw micros stats (transform-free):
    // a 2h window in day 1 opens exactly 1 gen-0 file; a 2h window in
    // day 4 opens exactly 2 gen-1 hour files — strict subsets each
    assert(m.filesFor("ts", T0 + 5 * H, T0 + 6 * H).size === 1)
    assert(m.filesFor("ts", T0 + 73 * H, T0 + 74 * H).size === 2)
    // reads exact across the mix
    assert(spark.table(s"$cat.t").count() === 78)
    assert(spark.table(s"$cat.t")
      .where(col("ts") >= expr(s"timestamp_micros(${T0 + 72 * H})"))
      .agg(sum("v")).collect()(0).getLong(0) === 15L)
    // time travel to the pre-evolution snapshot serves the DAYS spec
    val mOld = SnapshotTable.manifest(table, 2L)
    assert(SnapshotTable.temporalSpecOf(mOld) === Some(("ts", "days")))
    assert(SnapshotTable.layoutSinceOf(mOld) === 0L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 2")
      .collect()(0).getLong(0) === 72L)
    // incremental readers scan ACROSS the props commit
    assert(SnapshotTable.readIncremental(spark, table, 2L, 4L).count() === 6)
  }

  test("evolveLayout bucket(8)->bucket(32): per-generation bucket pruning, " +
      "SPJ degrades loudly on the mix, full compaction re-unifies it") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES('statsColumns'='k')")
    val table = s"$wh/t"
    spark.range(200).select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g42_bk_a")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_bk_a")
    assert(SnapshotTable.manifest(table, 2L).files.size === 8)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    // pure generation: bucketed self-join runs with ZERO shuffle (SPJ)
    val j0 = spark.table(s"$cat.t").as("a")
      .join(spark.table(s"$cat.t").as("b"), "k").select("k")
    assert(j0.collect().length === 200)
    assert(graft.Stage.shuffleCount(j0) === 0, "co-bucketed SPJ, pure generation")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='bucket(32, k)')")
    spark.range(200, 400).select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g42_bk_b")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_bk_b")
    val m = SnapshotTable.manifest(table, 4L)
    assert(m.files.size === 8 + 32)
    // point lookups prune EACH generation under ITS OWN n (raw k stats
    // already isolate the generation; the bucket stamp then picks the
    // one file out of that generation's 8 or 32)
    def plannedFor(k: Long): Int = {
      val q = spark.table(s"$cat.t").where(col("k") === k)
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(k))
      graft.Stage.plannedFiles(q.queryExecution.executedPlan)
    }
    assert(plannedFor(5L) === 1,
      "a gen-0 lookup must prune to ONE file under the OLD bucket(8) spec")
    assert(plannedFor(205L) === 1,
      "a gen-1 lookup must prune to ONE file under the NEW bucket(32) spec")
    // mixed generations: the SAME join now shuffles (stamps from two id
    // spaces may not key-group) and the plan SAYS why
    val j1 = spark.table(s"$cat.t").as("a")
      .join(spark.table(s"$cat.t").as("b"), "k").select("k")
    assert(j1.collect().length === 400)
    assert(graft.Stage.shuffleCount(j1) > 0, "mixed generations must not SPJ")
    assert(graft.Stage.executedNodes(j1).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.exists(_.description().contains("mixed layout generations")),
      "the degradation must be loud in the plan")
    // full compaction re-routes every row under bucket(32): SPJ returns
    SnapshotTable.compactSnapshot(spark, table)
    val j2 = spark.table(s"$cat.t").as("a")
      .join(spark.table(s"$cat.t").as("b"), "k").select("k")
    assert(j2.collect().length === 400)
    assert(graft.Stage.shuffleCount(j2) === 0, "compaction re-unifies the layout")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("evolveLayout guardrails: same layout refuses, bad columns refuse, " +
      "direct layout property sets still refuse, 'none' drops the layout") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='bucket(8, k)')")
    }
    assert(e1.getMessage.contains("already has exactly that layout"))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='bucket(8, nope)')")
    }
    assert(e2.getMessage.contains("unknown column"))
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('bucket'='k:32')")
    }
    assert(e3.getMessage.contains("not evolvable"))
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='none')")
    val m = SnapshotTable.manifest(s"$wh/t", SnapshotTable.currentVersion(s"$wh/t"))
    assert(SnapshotTable.bucketSpecOf(m).isEmpty)
    assert(SnapshotTable.layoutHistOf(m).size === 1)
  }

  test("time x truncate compound: both stamps recorded, both dimensions " +
      "prune, layout-preserving compaction keeps them") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, k BIGINT NOT NULL, " +
      s"v BIGINT) PARTITIONED BY (months(ts), truncate(100, k)) " +
      "TBLPROPERTIES('statsColumns'='k')")
    val table = s"$wh/t"
    // 2 months x k in [0, 400) -> 2 x 4 (month, group) files
    spark.range(400).select(
        expr(s"timestamp_micros(CAST($T0 + (id % 2) * ${31L * 24} * $H AS BIGINT))")
          .as("ts"),
        col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("g42_tt_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_tt_src")
    val m = SnapshotTable.manifest(table, 2L)
    assert(m.files.size === 8, s"2 months x 4 width groups, got ${m.files.size}")
    assert(m.files.forall(f =>
      f.stats.get("__tpart").exists(s => s._1 == s._2) &&
        f.stats.get("__trunc").exists(s => s._1 == s._2)),
      "every file carries BOTH min==max stamps")
    // month dimension prunes via raw ts micros stats
    assert(m.filesFor("ts", T0, T0 + H).size === 4)
    // width dimension prunes via raw k stats: group [100,200) exists in
    // BOTH months -> exactly 2 of the 8 files
    assert(m.filesFor("k", 150L, 160L).size === 2)
    val total = spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0)
    assert(total === 3L * 399 * 400 / 2)
    // compaction preserves both stamps (the layout-preserving rewrite)
    SnapshotTable.compactSnapshot(spark, table)
    val mc = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(mc.files.forall(f =>
      f.stats.get("__tpart").exists(s => s._1 == s._2) &&
        f.stats.get("__trunc").exists(s => s._1 == s._2)),
      "compaction must keep both stamps")
    assert(spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0) === total)
  }

  test("per-period z-order: stamps preserved, hot periods split at z " +
      "boundaries, intra-period reads prune to a strict file subset") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, x BIGINT, y BIGINT) " +
      "PARTITIONED BY (days(ts)) TBLPROPERTIES('statsColumns'='x,y')")
    val table = s"$wh/t"
    // 2 days x a 32x32 (x, y) grid
    spark.range(2048).select(
        expr(s"timestamp_micros(CAST($T0 + (id % 2) * 24 * $H AS BIGINT))").as("ts"),
        (col("id") / 2 % 32).cast("long").as("x"),
        (col("id") / 64).cast("long").as("y"))
      .createOrReplaceTempView("g42_z_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_z_src")
    val before = spark.table(s"$cat.t").orderBy("ts", "x", "y").collect()
    val (nBefore, v) = SnapshotTable.compactZOrder(spark, table,
      zorderBy = Seq("x", "y"), targetBytes = 1L << 10)
    assert(nBefore === 2)
    val m = SnapshotTable.manifest(table, v)
    assert(m.files.forall(_.stats.get("__tpart").exists(s => s._1 == s._2)),
      "every rewritten file keeps its period stamp")
    val day0 = m.files.filter(_.stats("__tpart")._1 == m.files.map(_.stats("__tpart")._1).min)
    assert(day0.size > 1, "a hot period must split into several z files")
    // intra-period pruning: a small (x, y) box hits a strict subset of
    // the day's files through the recorded per-file bounds
    val hit = day0.filter(f => f.stats.get("x").forall { case (lo, hi) =>
      hi >= 3 && lo <= 4 } && f.stats.get("y").forall { case (lo, hi) =>
      hi >= 3 && lo <= 4 })
    assert(hit.size < day0.size,
      s"z-order must make the (x,y) box prune: ${hit.size}/${day0.size}")
    // rows identical post-rewrite
    assert(spark.table(s"$cat.t").orderBy("ts", "x", "y").collect() === before)
  }

  test("SQL DELETE under deleteMode=positions: provable files drop whole, " +
      "the fuzzy remainder lands as ONE position sidecar, zero rewrites") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k', 'deleteMode'='positions')")
    val table = s"$wh/t"
    // 3 deterministic files: [0,20), [20,40), [40,60)
    (0 until 3).foreach { i =>
      spark.range(20L * i, 20L * (i + 1)).coalesce(1)
        .select(col("id").as("k"), (col("id") * 7).as("v"))
        .createOrReplaceTempView(s"g42_pd_$i")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_pd_$i")
    }
    val m0 = SnapshotTable.manifest(table, 4L)
    assert(m0.files.size === 3)
    val dataPaths = m0.files.map(_.path).toSet
    // k in [20, 45): file 1 provably all-match (drops whole), file 2
    // fuzzy (positions), file 0 provably none-match (untouched)
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 20 AND k < 45")
    val m = SnapshotTable.manifest(table, 5L)
    assert(m.extra.get("mode").contains("delete"))
    assert(m.files.size === 2, "the all-match file drops whole")
    assert(m.files.map(_.path).toSet.subsetOf(dataPaths),
      "ZERO data files rewritten — the kept set is a strict subset")
    val refs = SnapshotTable.posDvRefs(m)
    assert(refs.size === 1 && refs.head.count === 5L,
      s"one sidecar naming k=40..44, got $refs")
    assert(refs.head.range.exists(r => r._1 == r._2),
      "the sidecar's file range is tight (one fuzzy file)")
    assert(spark.table(s"$cat.t").orderBy("k").collect().map(_.getLong(0)).toSeq
      === ((0L until 20L) ++ (45L until 60L)))
    // time travel to the pre-delete snapshot is intact
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t VERSION AS OF 4")
      .collect()(0).getLong(0) === 60L)
    // a fully-provable DELETE still takes the pure metadata route (the
    // pos-bearing file is NOT provable whole — target the clean one)
    spark.sql(s"DELETE FROM $cat.t WHERE k < 20")
    val m2 = SnapshotTable.manifest(table, 6L)
    assert(m2.files.size === 1 && SnapshotTable.posDvRefs(m2).size === 1,
      "whole-file drop adds NO new sidecar")
    assert(spark.table(s"$cat.t").count() === 15L)
    // without the declaration the same mid-file DELETE takes the CoW
    // rewrite (files change) — the opt-in is what buys O(batch)
    spark.sql(s"CREATE TABLE $cat.u (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k')")
    spark.range(20).select(col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("g42_pd_u")
    spark.sql(s"INSERT INTO $cat.u SELECT * FROM g42_pd_u")
    spark.sql(s"DELETE FROM $cat.u WHERE k >= 5 AND k < 7")
    assert(spark.table(s"$cat.u").count() === 18L)
    assert(SnapshotTable.posDvRefs(SnapshotTable.manifest(s"$wh/u",
      SnapshotTable.currentVersion(s"$wh/u"))).isEmpty,
      "no declaration -> no position sidecars (CoW path)")
  }

  test("a writer that routed under a STALE layout refuses at commit — the " +
      "mid-write evolution race cannot mis-stamp the new generation") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val table = s"$wh/t"
    spark.range(4).coalesce(1)
      .select(expr(s"timestamp_micros(CAST($T0 + id * $H AS BIGINT))").as("ts"),
        col("id").as("v"))
      .createOrReplaceTempView("g42_race")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g42_race")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
    // a write built pre-evolution was planned on the v2 manifest it
    // STAMPED under — the commit tail compares its layout to the head's
    val stale = SnapshotTable.manifest(table, 2L)
    val e = intercept[Exception] {
      SnapshotTable.commitOn(table, SnapshotTable.headOf(table),
        SnapshotTable.Change("append", schema = Some(stale.schema), plannedOn = Some(stale)))
    }
    assert(e.getMessage.contains("evolved mid-write"))
  }

  test("the temporal stats channel feeds JOIN SIZING (NDV/rowCount on a " +
      "TIMESTAMP key) and NULL-membership pruning — the r15 unpinned arms") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/d"
    import spark.implicits._
    // dim keyed on a TIMESTAMP, ts stats-tracked: the d:/n: channels
    // must serve the manifest-only sizing decision
    SnapshotTable.commit(
      spark.range(100).coalesce(1)
        .select(expr(s"timestamp_micros(CAST($T0 + id * $H AS BIGINT))").as("ts"),
          (col("id") * 2).as("tag")),
      table, append = false, statsColumns = Seq("ts"))
    assert(SnapshotTable.rowCountOf(table) === Some(100L))
    val ndv = SnapshotTable.ndvOf(table, "ts")
    assert(ndv.exists(n => n >= 95 && n <= 110),
      s"timestamp NDV must serve from the manifest (HLL-grade), got $ndv")
    val fact = spark.range(1000)
      .select(expr(s"timestamp_micros(CAST($T0 + (id % 100) * $H AS BIGINT))").as("fts"),
        col("id").as("v"))
    val (joined, bc) = SnapshotTable.sizedJoin(fact, "fts", table, "ts",
      maxBuildRows = 1000L, maxBuildKeys = 1000L)
    assert(bc, "a manifest-provably-small temporal dim must broadcast")
    assert(joined.count() === 1000L)
    val (_, bc2) = SnapshotTable.sizedJoin(fact, "fts", table, "ts",
      maxBuildRows = 10L, maxBuildKeys = 1000L)
    assert(!bc2, "over the row budget the join must NOT broadcast")
    // NULL-membership pruning on a nullable TIMESTAMP column: the
    // all-NULL file is skipped without opening
    val t2 = s"$wh/n"
    SnapshotTable.commit(
      spark.range(10).coalesce(1)
        .select(expr("CAST(NULL AS TIMESTAMP)").as("ts2"), col("id").as("v")),
      t2, append = false, statsColumns = Seq("ts2"))
    SnapshotTable.commit(
      spark.range(10).coalesce(1)
        .select(expr(s"timestamp_micros(CAST($T0 + id * $H AS BIGINT))").as("ts2"),
          col("id").as("v")),
      t2, append = true, statsColumns = Seq("ts2"))
    val q = spark.table(s"$cat.n").where(col("ts2").isNotNull)
    assert(q.count() === 10L)
    val planned = graft.Stage.plannedFiles(q.queryExecution.executedPlan)
    assert(planned === 1,
      s"IS NOT NULL must skip the all-NULL timestamp file, planned $planned")
    val qn = spark.table(s"$cat.n").where(col("ts2").isNull)
    assert(qn.count() === 10L)
    val plannedN = graft.Stage.plannedFiles(qn.queryExecution.executedPlan)
    assert(plannedN === 1,
      s"IS NULL must skip the no-NULL timestamp file, planned $plannedN")
  }
}
