package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-32 wave: LAYOUT-PRESERVING COMPACTION for transform-laid-out
  * tables (src_snapshot_bucket_compact carries the oracled bucket flow
  * incl. vacuum reclaim + post-compact SPJ; this spec pins the
  * temporal and truncate arms, the calendar agreement between the
  * rewrite's Catalyst group expressions and the writer's
  * GraftTemporal/GraftTruncate derivations — months across a year
  * boundary, pre-1970 floors — and DV materialization through the
  * per-group rewrite).
  */
class Round32Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap32").toString
    val cat = "g32" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def stamps(table: String, stat: String): Seq[Long] = {
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    m.files.map { f =>
      val (lo, hi) = f.stats(stat)
      assert(lo === hi, s"every compacted file must hold one group ($stat)")
      lo
    }
  }

  test("days compaction: fragmented periods consolidate to one stamped file " +
      "each; range pruning and row content survive") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    // 4 days x 24 hourly rows, appended in 3 fragments
    spark.range(96)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g32_days_src")
    for (r <- 0 to 2)
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM g32_days_src WHERE v % 3 = $r")
    val table = s"$wh/t"
    val frag = SnapshotTable.manifest(table, 4L)
    assert(frag.files.size === 12, "3 appends x 4 days fragment to 12 files")
    val (before, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(before === 12)
    val m = SnapshotTable.manifest(table, v)
    assert(m.files.size === 4, "one file per day after the per-group rewrite")
    assert(stamps(table, SnapshotTable.TemporalStat).sorted ===
      Seq(19723L, 19724L, 19725L, 19726L)) // 2024-01-01.. epoch days
    val rq = spark.table(s"$cat.t")
      .filter(col("ts") < expr("timestamp'2024-01-02 00:00:00'"))
    assert(rq.count() === 24)
    val planned = graft.Stage.plannedFiles(rq.queryExecution.sparkPlan)
    assert(planned === 1, s"a one-day read plans one file, got $planned")
    assert(spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0) ===
      (0L until 96L).sum)
  }

  test("months compaction across a year boundary: the SQL calendar group " +
      "expression agrees with the writer's LocalDate derivation") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    // 2023-11-01 .. 2024-02-28, daily rows, two fragmenting appends
    spark.range(120)
      .select(expr("timestamp_micros(CAST(1698796800000000 + id * 86400000000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g32_months_src")
    for (r <- 0 to 1)
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM g32_months_src WHERE v % 2 = $r")
    val table = s"$wh/t"
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(SnapshotTable.manifest(table, v).files.size === 4)
    assert(stamps(table, SnapshotTable.TemporalStat).sorted ===
      Seq(646L, 647L, 648L, 649L),
      "Nov/Dec 2023 + Jan/Feb 2024 as epoch-month ordinals")
    assert(spark.table(s"$cat.t").count() === 120)
  }

  test("pre-1970 days compact under floored grouping (DIV-truncation would " +
      "merge day -1 into day 0)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(timestamp'1969-12-31 22:00:00', 1), (timestamp'1970-01-01 02:00:00', 2)")
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(timestamp'1969-12-31 23:00:00', 3), (timestamp'1970-01-01 03:00:00', 4)")
    val table = s"$wh/t"
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(SnapshotTable.manifest(table, v).files.size === 2)
    assert(stamps(table, SnapshotTable.TemporalStat).sorted === Seq(-1L, 0L))
    assert(spark.table(s"$cat.t").count() === 4)
  }

  test("truncate compaction: width groups consolidate, stamps and range " +
      "pruning survive, negatives floor") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (truncate(100, k))")
    for (r <- 0 to 2)
      spark.sql(s"INSERT INTO $cat.t SELECT id * 7 - 300, id FROM range(100) " +
        s"WHERE id % 3 = $r")
    val table = s"$wh/t"
    val frag = SnapshotTable.manifest(table, 4L).files.size
    val (before, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(before === frag)
    val m = SnapshotTable.manifest(table, v)
    val groups = stamps(table, SnapshotTable.TruncStat)
    assert(groups.distinct.size === groups.size, "one file per width group")
    assert(m.files.size < frag)
    assert(groups.min === -300L, "floored: -300..-201 groups at -300")
    assert(spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0) ===
      (0L until 100L).sum)
  }

  test("outstanding deletion vectors materialize through the per-group " +
      "rewrite: rows gone, DV state dropped, stamps intact") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.range(48)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g32_dv_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g32_dv_src")
    val table = s"$wh/t"
    SnapshotTable.deleteKeys(
      spark.range(10).select(col("id").as("v")), table, "v")
    assert(spark.table(s"$cat.t").count() === 38, "DV applies before the compact")
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    val m = SnapshotTable.manifest(table, v)
    assert(m.extra.get("dvfiles").forall(_.isEmpty),
      "the overwrite commit must drop the materialized DV state")
    assert(m.files.size === 2, "one file per surviving day")
    assert(m.files.forall(
      _.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi }))
    assert(spark.table(s"$cat.t").count() === 38)
    assert(spark.table(s"$cat.t").agg(min("v")).collect()(0).getLong(0) === 10L)
  }

  test("maxRowsPerFile still splits hot groups under the compact rewrite; " +
      "multi-file groups keep min==max stamps") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES('maxRowsPerFile'='20')")
    for (r <- 0 to 1)
      spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(100) WHERE id % 2 = $r")
    val table = s"$wh/t"
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    val m = SnapshotTable.manifest(table, v)
    assert(m.files.size >= 5, "100 rows / cap 20 keeps at least 5 files")
    assert(m.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
      "split files still hold exactly one bucket each")
    assert(spark.table(s"$cat.t").count() === 100)
  }
}
