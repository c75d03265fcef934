package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftTemporal, GraftTemporalUnbound, SnapshotCatalog, SnapshotTable}

/** Round-31 wave: TEMPORAL partition transforms — `PARTITIONED BY
  * (days(ts))` / months / hours / years at CREATE TABLE
  * (src_snapshot_days_spj carries the oracled flow: stamps, SPJ
  * zero-exchange on the raw timestamp, date-range manifest pruning;
  * this spec pins the unit algebra, refusals, calendar grouping, and
  * the sound degrade when a file misses its period stamp).
  */
class Round31Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap31").toString
    val cat = "g31" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private val DayMicros = 86400L * 1000000L

  test("temporal unit algebra: floored division, UTC calendar, pre-1970 stamps") {
    // 2024-01-15T12:00Z
    val micros = java.time.Instant.parse("2024-01-15T12:00:00Z").toEpochMilli * 1000L
    assert(GraftTemporal.of(micros, "days") ===
      java.time.LocalDate.parse("2024-01-15").toEpochDay)
    assert(GraftTemporal.of(micros, "hours") === micros / (3600L * 1000000L))
    assert(GraftTemporal.of(micros, "months") === (2024 - 1970) * 12L + 0L)
    assert(GraftTemporal.of(micros, "years") === 54L)
    // pre-1970 floors DOWN (a 1969-12-31 row lands in day -1, month -1)
    val pre = java.time.Instant.parse("1969-12-31T23:00:00Z").toEpochMilli * 1000L
    assert(GraftTemporal.of(pre, "days") === -1L)
    assert(GraftTemporal.of(pre, "months") === -1L)
    assert(GraftTemporal.of(pre, "years") === -1L)
    // midnight boundary is exact: 00:00 belongs to the NEW day
    val midnight = java.time.LocalDate.parse("2024-02-01").toEpochDay * DayMicros
    assert(GraftTemporal.of(midnight, "days") === GraftTemporal.of(midnight + 1, "days"))
    assert(GraftTemporal.of(midnight - 1, "days") === GraftTemporal.of(midnight, "days") - 1)
    assert(GraftTemporal.of(midnight - 1, "months") ===
      GraftTemporal.of(midnight, "months") - 1)
  }

  test("bound function: produceResult == of, canonical names distinct per unit, " +
      "non-timestamp binds refuse") {
    for (u <- GraftTemporal.Units) {
      val bound = GraftTemporalUnbound(u).bind(
        StructType(Seq(StructField("_0", TimestampType))))
      val micros = 1705312800000000L // 2024-01-15T10:00Z
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](micros))
      assert(bound.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long]]
        .produceResult(row) === GraftTemporal.of(micros, u))
    }
    val names = GraftTemporal.Units.map(u => GraftTemporalUnbound(u)
      .bind(StructType(Seq(StructField("_0", TimestampType)))).canonicalName())
    assert(names.distinct.size === names.size,
      "SPJ must never equate different temporal units")
    for (dt <- Seq(LongType, StringType, TimestampNTZType)) {
      intercept[Exception] {
        GraftTemporalUnbound("days").bind(StructType(Seq(StructField("_0", dt))))
      }
    }
    // DATE keys bind for days/months/years (distinct canonical name —
    // SPJ must never equate date- and timestamp-derived periods), and
    // refuse hours (no sub-day resolution)
    val dateBound = GraftTemporalUnbound("days")
      .bind(StructType(Seq(StructField("_0", DateType))))
    assert(dateBound.canonicalName() !== GraftTemporalUnbound("days")
      .bind(StructType(Seq(StructField("_0", TimestampType)))).canonicalName())
    intercept[Exception] {
      GraftTemporalUnbound("hours").bind(StructType(Seq(StructField("_0", DateType))))
    }
  }

  test("CREATE TABLE refusals: non-timestamp key, reserved stamp name") {
    val (cat, _) = freshCatalog()
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.a (k BIGINT) PARTITIONED BY (days(k))")
    }
    assert(e1.getMessage.contains("is not a timestamp"))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.b (ts TIMESTAMP, __tpart BIGINT) " +
        "PARTITIONED BY (months(ts))")
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("NULL temporal keys refuse at write; the failed INSERT publishes nothing") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts))")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VALUES " +
        "(timestamp'2024-01-01 10:00:00', 1), (CAST(NULL AS TIMESTAMP), 2)")
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("NULL temporal partition key refused"))
    assert(SnapshotTable.currentVersion(s"$wh/t") === 1L)
  }

  test("months grouping: one calendar month per file across a year boundary") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    // 120 rows spread over 2023-11 .. 2024-02 (4 months, crossing the year)
    spark.range(120)
      .select(expr("timestamp_micros(CAST(1698796800000000 + id * 86400000000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g31_months_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g31_months_src")
    val m = SnapshotTable.manifest(s"$wh/t", 2L)
    val stamps = m.files.flatMap(_.stats.get(SnapshotTable.TemporalStat))
    assert(stamps.nonEmpty && stamps.forall { case (lo, hi) => lo == hi })
    val months = stamps.map(_._1).distinct.sorted
    assert(months.size === stamps.size, "one file per month at this volume")
    // 2023-11-01 epoch-months = (2023-1970)*12 + 10 = 646
    assert(months === Seq(646L, 647L, 648L, 649L))
    assert(spark.table(s"$cat.t").count() === 120)
  }

  test("an unstamped file degrades SPJ soundly; range pruning still serves " +
      "from the raw timestamp stats") {
    val (cat, wh) = freshCatalog()
    for (t <- Seq("a", "b"))
      spark.sql(s"CREATE TABLE $cat.$t (ts TIMESTAMP NOT NULL, v BIGINT) " +
        "PARTITIONED BY (days(ts))")
    spark.range(96)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
        .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g31_spj_src")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM g31_spj_src")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM g31_spj_src")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j0 = spark.table(s"$cat.a").join(spark.table(s"$cat.b"), Seq("ts"))
      assert(j0.count() === 96)
      assert(Stage.shuffleCount(j0) === 0, "co-partitioned join starts exchange-free")
      // API append writes files with NO period stamp — grouping must
      // degrade (exchanges return), rows must never fall out
      SnapshotTable.commit(
        spark.sql("SELECT timestamp'2030-01-01 00:00:00' AS ts, CAST(-1 AS BIGINT) AS v"),
        s"$wh/a", append = true)
      val j1 = spark.table(s"$cat.a").join(spark.table(s"$cat.b"), Seq("ts"))
      assert(j1.count() === 96, "the appended row has no b-side match")
      assert(Stage.shuffleCount(j1) > 0,
        "one unstamped file must demote the reported partitioning")
      // the stamped files still prune a date-range read via raw ts stats
      val rq = spark.table(s"$cat.a")
        .filter(col("ts") < expr("timestamp'2024-01-02 00:00:00'"))
      assert(rq.count() === 24)
      val planned = graft.Stage.plannedFiles(rq.queryExecution.sparkPlan)
      val total = SnapshotTable.manifest(s"$wh/a",
        SnapshotTable.currentVersion(s"$wh/a")).fileCount
      assert(planned < total,
        s"date-range pruning must plan a strict subset ($planned/$total)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("the temporal declaration is table-level: API appends carry it, " +
      "INSERT OVERWRITE re-partitions under it") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (hours(ts))")
    spark.sql(s"INSERT INTO $cat.t VALUES (timestamp'2024-01-01 05:30:00', 1)")
    SnapshotTable.commit(
      spark.sql("SELECT timestamp'2024-01-01 07:30:00' AS ts, CAST(2 AS BIGINT) AS v"),
      s"$wh/t", append = true)
    assert(SnapshotTable.temporalSpecOf(
      SnapshotTable.manifest(s"$wh/t", 3L)) === Some(("ts", "hours")),
      "API appends must not strip the temporal declaration")
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES " +
      "(timestamp'2024-01-01 05:30:00', 1), (timestamp'2024-01-01 07:30:00', 2)")
    val m = SnapshotTable.manifest(s"$wh/t", 4L)
    assert(SnapshotTable.temporalSpecOf(m) === Some(("ts", "hours")))
    assert(m.files.nonEmpty && m.files.forall(
      _.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi }),
      "the overwrite must re-stamp every file")
    assert(m.files.flatMap(_.stats.get(SnapshotTable.TemporalStat)).map(_._1)
      .distinct.size === 2, "two hours, two files")
  }
}
