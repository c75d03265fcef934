package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-37 wave: the STREAMING-INGEST → LAYOUT lifecycle end to end —
  * a micro-batch stream appends into a temporally-partitioned table
  * (every epoch's files carry valid one-period stamps whatever order
  * the rows arrive in: the rolling writer rolls on period change, so
  * unsorted streaming input fragments but never mis-stamps), the
  * fragmented table still prunes and serves exactly, and ONE
  * layout-preserving compaction restores one-file-per-period — the
  * operational story src_snapshot_bucket_compact oracles, driven here
  * from a real stream.
  */
class Round37Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap37").toString
    val cat = "g37" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("streaming appends into a days-partitioned table: valid stamps per " +
      "epoch, exact reads while fragmented, compaction consolidates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val table = s"$wh/t"
    val day0 = 1704067200000000L // 2024-01-01T00:00Z micros
    val in = MemoryStream[Long]
    def drain(): Unit =
      in.toDS().toDF("v")
        .select(expr(s"timestamp_micros(CAST(${day0}L + v * 3600000000 AS BIGINT))")
          .as("ts"), col("v"))
        .writeStream
        .option("checkpointLocation", s"$wh/_ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.t").awaitTermination()
    // epoch 0: hours 0..47 interleaved across 2 days (unsorted arrival)
    in.addData(0L until 48L: _*)
    drain()
    // epoch 1: hours 48..95 (2 more days) + stragglers into day 0
    in.addData((48L until 96L) ++ Seq(1L, 2L): _*)
    drain()
    val frag = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(frag.files.nonEmpty && frag.files.forall(
      _.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi }),
      "every streamed file must hold exactly one period whatever the arrival order")
    val periods = frag.files.flatMap(_.stats.get(SnapshotTable.TemporalStat))
      .map(_._1).distinct.sorted
    assert(periods === Seq(19723L, 19724L, 19725L, 19726L))
    assert(frag.files.size > 4, s"streaming arrival fragments (${frag.files.size} files)")
    // exact while fragmented: 98 rows (96 + 2 stragglers), pruned day read
    assert(spark.table(s"$cat.t").count() === 98)
    val rq = spark.table(s"$cat.t")
      .filter(col("ts") < expr("timestamp'2024-01-02 00:00:00'"))
    assert(rq.count() === 26) // hours 0..23 + stragglers 1, 2
    // ONE maintenance call restores one file per period, stamps intact
    val (before, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(before === frag.files.size)
    val m = SnapshotTable.manifest(table, v)
    assert(m.files.size === 4, "one file per day after the per-group rewrite")
    assert(m.files.forall(
      _.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi }))
    assert(spark.table(s"$cat.t").count() === 98)
    val planned = {
      val q = spark.table(s"$cat.t")
        .filter(col("ts") < expr("timestamp'2024-01-02 00:00:00'"))
      assert(q.count() === 26)
      graft.Stage.plannedFiles(q.queryExecution.sparkPlan)
    }
    assert(planned === 1, s"a one-day read plans one file post-compact, got $planned")
  }
}
