package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-34 wave: POSITION DELETES (Iceberg v2's second delete format;
  * src_snapshot_pos_delete carries the oracled lifecycle — provenance
  * scan → sidecar → head/time-travel/compaction arms). This spec pins
  * ordinal-exact application, composition with equality DVs, the
  * stale-position refusal, subset readers applying positions, vacuum
  * keeping live sidecars, and the budget guard.
  */
class Round34Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap34").toString
    val cat = "g34" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("ordinal-exact application: positions name RAW row ordinals, filters " +
      "still answer correctly (residual pass, no parquet skipping)") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    // ONE deterministic file: ordinal i holds k = i
    SnapshotTable.commit(
      spark.range(20).orderBy("id").coalesce(1).select(col("id").as("k")),
      table, append = false, statsColumns = Seq("k"))
    val file = SnapshotTable.manifest(table, 1L).files.head.path
    import spark.implicits._
    SnapshotTable.deletePositions(
      Seq(0L, 1L, 2L, 7L).toDF("_pos").withColumn("_file", lit(file)),
      table)
    val got = spark.table(s"$cat.t").orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got === (0L until 20L).filterNot(Seq(0L, 1L, 2L, 7L).contains))
    // a pushed-looking filter must not shift ordinals (pushdown disabled)
    assert(spark.table(s"$cat.t").filter(col("k") < 5).collect()
      .map(_.getLong(0)).toSeq.sorted === Seq(3L, 4L))
  }

  test("equality DVs and position deletes compose on one chain") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    SnapshotTable.commit(
      spark.range(20).orderBy("id").coalesce(1).select(col("id").as("k")),
      table, append = false, statsColumns = Seq("k"))
    val file = SnapshotTable.manifest(table, 1L).files.head.path
    import spark.implicits._
    SnapshotTable.deletePositions(
      Seq(0L, 1L).toDF("_pos").withColumn("_file", lit(file)), table)
    SnapshotTable.deleteKeys(Seq(18L, 19L).toDF("k"), table, "k")
    val got = spark.table(s"$cat.t").orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got === (2L to 17L))
    // the API full read routes through the position-aware path too
    assert(SnapshotTable.read(spark, table).count() === 16)
    // compaction materializes BOTH formats
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    val m = SnapshotTable.manifest(table, v)
    assert(SnapshotTable.posDvRefs(m).isEmpty && m.extra.get("dvfiles").forall(_.isEmpty))
    assert(spark.table(s"$cat.t").count() === 16)
  }

  test("refusals: stale positions and non-provenance shapes; subset " +
      "readers answer under position deletes; over-budget loads fall back scoped") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    SnapshotTable.commit(
      spark.range(50).select(col("id").as("k")), table, append = false,
      statsColumns = Seq("k"))
    import spark.implicits._
    val stale = intercept[Exception] {
      SnapshotTable.deletePositions(
        Seq(0L).toDF("_pos").withColumn("_file", lit("/nowhere/p.parquet")), table)
    }
    assert(stale.getMessage.contains("not live"))
    val shape = intercept[Exception] {
      SnapshotTable.deletePositions(Seq(0L).toDF("pos"), table)
    }
    assert(shape.getMessage.contains("_file"))
    val file = SnapshotTable.manifest(table, 1L).files.head.path
    SnapshotTable.deletePositions(
      Seq(3L, 4L, 5L).toDF("_pos").withColumn("_file", lit(file)), table)
    // a pruned read applies the positions: its answer is the source
    // range minus the file's rows at positions 3-5
    val deleted = spark.read.parquet(file).collect().map(_.getLong(0)).slice(3, 6).toSet
    val pruned = SnapshotTable.read(spark, table).where(col("k").between(0L, 10L))
    assert(graft.Stage.plannedFiles(pruned.queryExecution.sparkPlan) ===
      SnapshotTable.manifest(table, 2L).filesFor("k", 0L, 10L).size)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L to 10L).filterNot(deleted))
    assert(SnapshotTable.read(spark, table).count() === 47L)
    // the catalog read applies the sidecar per file too: it attaches to
    // the one file it names — Round41Spec pins the full path algebra
    val df = spark.table(s"$cat.t")
    assert(df.count() === 47L)
    assert(graft.Stage.deleteAttachments(df) === 1L)
  }

  test("position deletes STACK: provenance reads under outstanding pos " +
      "deletes serve raw ordinals, so a second batch deletes correctly") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    // one deterministic file: raw ordinal i holds k = i (0..19)
    SnapshotTable.commit(
      spark.range(20).orderBy("id").coalesce(1).select(col("id").as("k")),
      table, append = false, statsColumns = Seq("k"))
    // batch 1 via a provenance scan
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").filter(col("k") < 3).select("_file", "_pos"), table)
    assert(spark.table(s"$cat.t").count() === 17)
    // the provenance scan under the outstanding state serves RAW
    // ordinals for the SURVIVING rows (k = i at raw ordinal i)
    val prov = spark.table(s"$cat.t").select("k", "_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(prov.keySet === (3L until 20L).toSet)
    assert(prov.forall { case (k, pos) => k == pos },
      "surviving rows must report their raw ordinals, not survivor ranks")
    // batch 2 STACKS on the same chain — no compaction in between
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").filter(col("k") % 2 === 0).select("_file", "_pos"),
      table)
    assert(spark.table(s"$cat.t").orderBy("k").collect().map(_.getLong(0)).toSeq ===
      (3L until 20L).filter(_ % 2 == 1))
    // compaction materializes both batches at once
    val (_, v) = SnapshotTable.compactSnapshot(spark, table)
    assert(SnapshotTable.posDvRefs(SnapshotTable.manifest(table, v)).isEmpty)
    assert(spark.table(s"$cat.t").count() === 9)
  }

  test("appends carry the position state; vacuum keeps live sidecars") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    SnapshotTable.commit(
      spark.range(10).orderBy("id").coalesce(1).select(col("id").as("k")),
      table, append = false, statsColumns = Seq("k"))
    val file = SnapshotTable.manifest(table, 1L).files.head.path
    import spark.implicits._
    SnapshotTable.deletePositions(
      Seq(0L, 9L).toDF("_pos").withColumn("_file", lit(file)), table)
    SnapshotTable.commit(
      spark.range(100, 105).select(col("id").as("k")), table, append = true)
    val m = SnapshotTable.manifest(table, 3L)
    assert(SnapshotTable.posDvRefs(m).nonEmpty,
      "appends must carry the position-delete state")
    // positions apply only to the file they name; appended rows intact
    assert(spark.table(s"$cat.t").count() === 13)
    val (_, deleted) = SnapshotTable.vacuum(table, retainLast = 1)
    assert(spark.table(s"$cat.t").count() === 13,
      s"vacuum (reclaimed $deleted) must never touch a referenced sidecar")
  }
}
