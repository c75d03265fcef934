package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-35 wave: COMPOUND time x hash partition specs —
  * `PARTITIONED BY (days(ts), bucket(n, k))`
  * (src_snapshot_compound_spec carries the oracled flow: both stamps,
  * both pruning dimensions, SPJ on the bucket dimension). This spec
  * pins the combination refusals, layout-preserving compaction over
  * both dimensions, the unstamped degrade, and the DPP
  * filter-attribute fix the compound join surfaced (a stats-tracked
  * column pruned out of the projection must not be advertised to the
  * runtime-filter resolver).
  */
class Round35Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap35").toString
    val cat = "g35" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def bothStamped(table: String): Unit = {
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(m.files.nonEmpty && m.files.forall(f =>
      f.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi } &&
      f.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
      "every file of a compound table carries BOTH one-group stamps")
  }

  test("combination refusals: only time x hash composes") {
    val (cat, _) = freshCatalog()
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k), truncate(10, v))")
    }
    assert(e1.getMessage.contains("unsupported transform combination"))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.b (ts TIMESTAMP, ts2 TIMESTAMP) " +
        "PARTITIONED BY (days(ts), months(ts2))")
    }
    assert(e2.getMessage.contains("unsupported transform combination"))
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.c (ts TIMESTAMP, k BIGINT, v BIGINT) " +
        "PARTITIONED BY (days(ts), bucket(4, k), v)")
    }
    assert(e3.getMessage.contains("unsupported transform combination"))
    // either order accepted, normalized to the same declarations
    spark.sql(s"CREATE TABLE $cat.d (ts TIMESTAMP NOT NULL, k BIGINT NOT NULL) " +
      "PARTITIONED BY (bucket(4, k), hours(ts))")
    val (_, wh) = (cat, spark.conf.get(s"spark.sql.catalog.$cat.warehouse"))
    val m = SnapshotTable.manifest(s"$wh/d", 1L)
    assert(SnapshotTable.bucketSpecOf(m) === Some(("k", 4)))
    assert(SnapshotTable.temporalSpecOf(m) === Some(("ts", "hours")))
  }

  test("compound compaction: fragmented (period, bucket) groups consolidate, " +
      "both stamps survive, SPJ survives") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, k BIGINT NOT NULL, " +
      "v BIGINT) PARTITIONED BY (days(ts), bucket(2, k))")
    spark.sql(s"CREATE TABLE $cat.u (k BIGINT NOT NULL, w BIGINT) " +
      "PARTITIONED BY (bucket(2, k))")
    // 3 days x 2 buckets, two fragmenting appends
    spark.range(72)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
        .as("ts"), col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("g35_src")
    for (r <- 0 to 1)
      spark.sql(s"INSERT INTO $cat.e SELECT * FROM g35_src WHERE v % 2 = $r")
    spark.sql(s"INSERT INTO $cat.u SELECT id, -id FROM range(72)")
    val table = s"$wh/e"
    val frag = SnapshotTable.manifest(table, 3L).files.size
    assert(frag === 12, "2 appends x 3 days x 2 buckets")
    val (before, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(before === 12)
    assert(SnapshotTable.manifest(table, v).files.size === 6,
      "one file per (day, bucket) group")
    bothStamped(table)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(s"$cat.e").select("k", "v")
        .join(spark.table(s"$cat.u"), Seq("k"))
      assert(j.count() === 72)
      assert(Stage.shuffleCount(j) === 0,
        "the compacted compound table must still SPJ on the bucket dimension")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert(spark.table(s"$cat.e").agg(sum("v")).collect()(0).getLong(0) ===
      (0L until 72L).sum)
  }

  test("a stats-tracked column pruned OUT of the projection never reaches " +
      "the runtime-filter resolver (the compound-join DPP crash)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, k BIGINT NOT NULL, " +
      "v BIGINT) PARTITIONED BY (days(ts), bucket(2, k))")
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT NOT NULL, grp BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k')")
    spark.range(48)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
        .as("ts"), col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("g35_dpp_src")
    spark.sql(s"INSERT INTO $cat.e SELECT * FROM g35_dpp_src")
    spark.sql(s"INSERT INTO $cat.dim SELECT id, id % 5 FROM range(48)")
    // ts is auto-tracked but NOT projected: pre-fix this crashed DPP's
    // getFilterableTableScan with 'Unable to resolve ts given [k, v]'
    val j = spark.sql(
      s"SELECT e.v FROM $cat.e e JOIN $cat.dim d ON e.k = d.k WHERE d.grp = 3")
    assert(j.count() === 9)
  }

  test("an unstamped append degrades the compound grouping soundly; both " +
      "pruning dimensions keep serving on stamped files") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, k BIGINT NOT NULL, " +
      "v BIGINT) PARTITIONED BY (days(ts), bucket(2, k))")
    spark.range(48)
      .select(expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
        .as("ts"), col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("g35_deg_src")
    spark.sql(s"INSERT INTO $cat.e SELECT * FROM g35_deg_src")
    SnapshotTable.commit(
      spark.sql("SELECT timestamp'2030-01-01 00:00:00' AS ts, " +
        "CAST(999 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS v"),
      s"$wh/e", append = true)
    // equality read keeps the unstamped file (absence unprovable)
    assert(spark.table(s"$cat.e").filter(col("k") === 999).count() === 1)
    // date-range pruning still strict-subsets via raw ts stats
    val rq = spark.table(s"$cat.e")
      .filter(col("ts") < expr("timestamp'2024-01-02 00:00:00'"))
    assert(rq.count() === 24)
    val planned = graft.Stage.plannedFiles(rq.queryExecution.sparkPlan)
    val total = SnapshotTable.manifest(s"$wh/e",
      SnapshotTable.currentVersion(s"$wh/e")).fileCount
    assert(planned < total)
  }
}
