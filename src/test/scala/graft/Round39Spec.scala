package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MetadataRowPartition, SnapshotCatalog, SnapshotTable}

/** Round-39 wave: TIMESTAMP/DATE manifest service
  * (src_snapshot_ts_agg_push carries the oracled flow) — the temporal
  * stats channel (exact epoch micros/days) now serves MIN/MAX
  * aggregates from manifest lines and bounds ORDER BY ts LIMIT n file
  * subsets. This spec pins value identity with a real scan, the DESC
  * direction, the decline on unproven files, and the DATE channel.
  */
class Round39Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap39").toString
    val cat = "g39" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def metadataServed(df: DataFrame): Boolean = {
    val parts = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.inputPartitions
    }.flatten
    parts.nonEmpty && parts.forall(_.isInstanceOf[MetadataRowPartition])
  }

  test("min/max over timestamps serve from the manifest and equal the scan") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (hours(ts))")
    spark.range(50)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 1800000000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g39_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g39_src")
    val agg = spark.table(s"$cat.t").agg(min("ts"), max("ts"), count(lit(1)))
    assert(metadataServed(agg), "timestamp extrema must be manifest-served")
    val Array(mn, mx, n) = agg.collect()(0).toSeq.toArray
    // ground truth from a forced full scan (a filter declines the push)
    val truth = spark.table(s"$cat.t").filter(col("v") >= 0)
      .agg(min("ts"), max("ts"), count(lit(1))).collect()(0)
    assert(mn === truth.get(0) && mx === truth.get(1) && n === truth.get(2))
    // DESC TopN prunes too (the newest-n probe)
    val newest = spark.table(s"$cat.t").orderBy(col("ts").desc).limit(3)
    assert(newest.count() === 3)
    val planned = graft.Stage.plannedFiles(newest.queryExecution.sparkPlan)
    val total = SnapshotTable.manifest(s"$wh/t", 2L).fileCount
    assert(planned < total, s"DESC TopN must plan a strict subset ($planned/$total)")
  }

  test("an unproven file declines the push — never a wrong metadata answer") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    // no statsColumns, no layout: ts has NO recorded range anywhere
    SnapshotTable.commit(
      spark.sql("SELECT timestamp'2024-06-01 12:00:00' AS ts, 1L AS v"),
      table, append = false)
    val agg = spark.table(s"$cat.t").agg(min("ts"))
    assert(!metadataServed(agg), "rangeless files must decline the push")
    assert(agg.collect()(0).getTimestamp(0).toInstant.toString
      .startsWith("2024-06-01T12:00:00"))
  }

  test("DATE-keyed temporal transforms: months(d) stamps one calendar month " +
      "per file, SPJ joins on the raw date, compaction preserves the layout") {
    val (cat, wh) = freshCatalog()
    for (t <- Seq("a", "b"))
      spark.sql(s"CREATE TABLE $cat.$t (d DATE NOT NULL, v BIGINT) " +
        "PARTITIONED BY (months(d))")
    // 2023-11-01 .. 2024-02-28 daily (crossing the year), two fragments
    spark.range(120)
      .select(expr("date_from_unix_date(CAST(19662 + id AS INT))").as("d"),
        col("id").as("v"))
      .createOrReplaceTempView("g39_date_src")
    for (r <- 0 to 1)
      spark.sql(s"INSERT INTO $cat.a SELECT * FROM g39_date_src WHERE v % 2 = $r")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM g39_date_src")
    val table = s"$wh/a"
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(s"$cat.a").join(spark.table(s"$cat.b"), Seq("d"))
      assert(j.count() === 120)
      assert(Stage.shuffleCount(j) === 0,
        "co-month-partitioned DATE tables must SPJ with zero exchanges")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    val m = SnapshotTable.manifest(table, v)
    val months = m.files.map(_.stats(SnapshotTable.TemporalStat)).map { case (lo, hi) =>
      assert(lo === hi); lo
    }.sorted
    // epoch day 19662 = 2023-11-01; 120 days = Nov+Dec+Jan+Feb exactly
    assert(months === Seq(646L, 647L, 648L, 649L),
      "date calendar groups must agree between the SQL rewrite and the writer")
    assert(spark.table(s"$cat.a").agg(sum("v")).collect()(0).getLong(0) ===
      (0L until 120L).sum)
    // hours on a DATE key refuses
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.h (d DATE) PARTITIONED BY (hours(d))")
    }
    assert(e.getMessage.contains("is not a timestamp"))
  }

  test("DATE columns ride the epoch-days channel: stats recorded, extrema " +
      "served, range pruning proves absence") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    SnapshotTable.commit(
      spark.range(60)
        .select(expr("date_from_unix_date(CAST(19723 + id AS INT))").as("d"),
          col("id").as("v"))
        .repartitionByRange(4, col("d")).sortWithinPartitions("d"),
      table, append = false, statsColumns = Seq("d"))
    val m = SnapshotTable.manifest(table, 1L)
    assert(m.files.forall(_.stats.get("d").exists { case (lo, hi) => lo <= hi }),
      "date stats must land on the long channel (epoch days)")
    assert(m.files.flatMap(_.stats.get("d")).map(_._1).min === 19723L)
    val agg = spark.table(s"$cat.t").agg(min("d"), max("d"))
    assert(metadataServed(agg), "date extrema must be manifest-served")
    val r = agg.collect()(0)
    assert(r.getDate(0).toLocalDate.toEpochDay === 19723L)
    assert(r.getDate(1).toLocalDate.toEpochDay === 19782L)
    // pruning converts the pushed java.sql.Date/LocalDate literal
    val rq = spark.table(s"$cat.t").filter(col("d") < lit("2024-01-05").cast("date"))
    assert(rq.count() === 4)
    val planned = graft.Stage.plannedFiles(rq.queryExecution.sparkPlan)
    assert(planned < m.files.size,
      s"date-range pruning must plan a strict subset ($planned/${m.files.size})")
  }
}
