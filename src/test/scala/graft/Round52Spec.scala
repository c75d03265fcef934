package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotCdcSourceProvider, SnapshotSourceProvider, SnapshotTable}

/** Round-52 wave: one streaming source per snapshot feed. The plain
  * stream plans each slice as a V2 scan of the end version limited to
  * the slice's files, so it reads through the batch readers: rename
  * epochs, equality deletion vectors and position deletes all apply per
  * file, with the file's commit seq riding the partition.
  */
class Round52Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap52").toString
    val cat = "g52" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def kv(r: Row): (Long, Option[Long]) =
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))

  test("readStream.table across a metadata-only rename reads pre-rename " +
      "files under their epoch's names") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, w BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)")
    SnapshotTable.renameColumn(s"$wh/t", "w", "v") // files keep the old name
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 30)")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val q = spark.readStream.table(s"$cat.t").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.select("k", "v").collect().map(kv) }
        ()
      }
      .option("checkpointLocation", s"$wh/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(buf.synchronized(buf.toSeq).sorted ===
      Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L))),
      "pre-rename files must serve the renamed column, not NULL")
  }

  test("a rename committed while a stream runs: later slices still serve " +
      "the column the query resolved") {
    val root = java.nio.file.Files.createTempDirectory("graft52_c").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1),
      table, append = false)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val q = spark.readStream.format(SnapshotSourceProvider.format)
      .option("path", table).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.select("k", "v").collect().map(kv) }
        ()
      }
      .option("checkpointLocation", s"$root/ck")
      .start()
    try {
      q.processAllAvailable()
      SnapshotTable.renameColumn(table, "v", "w")
      SnapshotTable.commit(Seq((3L, 30L)).toDF("k", "w").coalesce(1), table, append = true)
      q.processAllAvailable()
    } finally q.stop()
    assert(buf.synchronized(buf.toSeq).sorted ===
      Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L))),
      "a file written after the rename must not serve the column as NULL")
  }

  test("a filtered stream across a mid-stream rename: the filter stays " +
      "on the query's column") {
    val root = java.nio.file.Files.createTempDirectory("graft52_e").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(Seq((1L, 5L, 100L), (2L, 6L, 5L)).toDF("k", "a", "c").coalesce(1),
      table, append = false, statsColumns = Seq("a", "c"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format(SnapshotSourceProvider.format)
      .option("path", table).load()
      .where(col("a") === 5L)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.select("k").collect().map(_.getLong(0)) }
        ()
      }
      .option("checkpointLocation", s"$root/ck")
      .start()
    try {
      q.processAllAvailable()
      SnapshotTable.renameColumn(table, "a", "b")
      // a freed name is never taken again, so a filter resolved at query
      // start never prunes by another column's stats under its name
      assert(intercept[IllegalArgumentException](
        SnapshotTable.renameColumn(table, "c", "a")).getMessage.contains("previous name"))
      SnapshotTable.commit(Seq((3L, 5L, 6L), (4L, 6L, 5L)).toDF("k", "b", "c").coalesce(1),
        table, append = true, statsColumns = Seq("b", "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(buf.synchronized(buf.toSeq).sorted === Seq(1L, 3L),
      "the filter must select by the renamed column in every slice")
  }

  test("a stream given .schema(...) attaches before the table's first commit") {
    val root = java.nio.file.Files.createTempDirectory("graft52_f").toString
    val table = s"$root/t"
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      spark.readStream.format(SnapshotSourceProvider.format).option("path", table).load())
    assert(e.getMessage.contains("pass an explicit schema"))
    val q = spark.readStream.format(SnapshotSourceProvider.format)
      .schema("k BIGINT, v BIGINT").option("path", table).load()
      .writeStream.format("memory").queryName("r52_early")
      .option("checkpointLocation", s"$root/ck")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("r52_early").count() === 0L)
      SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v").coalesce(1), table, append = false)
      SnapshotTable.commit(Seq((2L, 20L)).toDF("k", "v").coalesce(1), table, append = true)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("r52_early").collect().map(kv).sorted.toSeq ===
      Seq((1L, Some(10L)), (2L, Some(20L))))
    spark.catalog.dropTempView("r52_early")
    // on a published table a given schema must be the table's
    val bad = intercept[IllegalArgumentException](
      spark.readStream.format(SnapshotSourceProvider.format)
        .schema("v BIGINT").option("path", table).load())
    assert(bad.getMessage.contains("differs from table"))
  }

  test("the CDC format serves the changes view's schema: each row carries " +
      "its _commit_version") {
    val root = java.nio.file.Files.createTempDirectory("graft52_d").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1),
      table, append = false)
    SnapshotTable.commit(Seq((3L, 30L)).toDF("k", "v").coalesce(1), table, append = true)
    val q = spark.readStream.format(SnapshotCdcSourceProvider.format)
      .option("path", table).option("key", "k").load()
      .writeStream.format("memory").queryName("r52_cdc")
      .option("checkpointLocation", s"$root/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(!graft.sources.LocalSnapshotIO.exists(s"$table/_cdc_staging"),
      "the initial batch reads the table's files, staging nothing")
    val out = spark.table("r52_cdc")
    assert(out.schema.fieldNames.toSeq === Seq("_change_type", "k", "v", "_commit_version"))
    // the initial batch is the head state as inserts, stamped with the head version
    assert(out.select("_change_type", "k", "_commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
      Seq(("insert", 1L, 2L), ("insert", 2L, 2L), ("insert", 3L, 2L)))
    spark.catalog.dropTempView("r52_cdc")
  }

  test("stream drain over several commit seqs, an equality DV and a " +
      "position sidecar: the rows of SnapshotTable.read, one data scan") {
    val root = java.nio.file.Files.createTempDirectory("graft52_b").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(
      spark.range(8).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    SnapshotTable.commit(
      Seq((100L, 1000L), (101L, 1010L)).toDF("k", "v").coalesce(1), table, append = true)
    SnapshotTable.mergeMoR(Seq((3L, 999L), (100L, 888L)).toDF("k", "v"), table, "k")
    SnapshotTable.deletePositions(
      spark.read.format(graft.sources.SnapshotV2Provider.format)
        .option("path", table).load()
        .where(col("k") === 5).select("_file", "_pos"), table)
    SnapshotTable.commit(
      Seq((3L, 777L)).toDF("k", "v").coalesce(1), table, append = true)
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(m.files.map(f => math.max(f.seq, 0L)).distinct.size >= 3 &&
      SnapshotTable.dvRefs(m).nonEmpty && SnapshotTable.posDvRefs(m).nonEmpty,
      "fixture must span several seqs and carry both delete formats")

    val q = spark.readStream.format(SnapshotSourceProvider.format)
      .option("path", table).load()
      .writeStream.format("memory").queryName("r52_drain")
      .option("checkpointLocation", s"$root/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("r52_drain").select("k", "v").collect().map(kv).sorted.toSeq
    spark.catalog.dropTempView("r52_drain")
    val want = SnapshotTable.read(spark, table).select("k", "v").collect().map(kv).sorted.toSeq
    assert(got === want)
    val live: Seq[(Long, Option[Long])] =
      (0L until 8L).filterNot(Set(3L, 5L)).map(k => (k, Some(k * 10))) ++
        Seq((3L, Some(999L)), (3L, Some(777L)), (100L, Some(888L)), (101L, Some(1010L)))
    assert(want === live.sorted)
    // the slice is ONE V2 scan: deletes apply inside its readers, with
    // no anti-join side scans or per-seq unions around it
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
      .StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    val scans = plan.collect { case s: org.apache.spark.sql.execution.LeafExecNode => s }
    assert(scans.size === 1 && scans.head.isInstanceOf[MicroBatchScanExec],
      s"want exactly one data scan:\n$plan")
  }

  test("a clean append slice of a table with outstanding deletes plans " +
      "as a plain scan: no sidecar that cannot hit its files loads") {
    val root = java.nio.file.Files.createTempDirectory("graft52_g").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(
      spark.range(8).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    SnapshotTable.deleteKeys(Seq(2L).toDF("k"), table, "k")
    SnapshotTable.deletePositions(
      spark.read.format(graft.sources.SnapshotV2Provider.format)
        .option("path", table).load()
        .where(col("k") === 5).select("_file", "_pos"), table)
    SnapshotTable.commit(Seq((2L, 222L)).toDF("k", "v").coalesce(1), table, append = true)
    val head = SnapshotTable.currentVersion(table)
    val stream = SnapshotStreams.of(new SnapshotSourceProvider(), Map("path" -> table))
      .asInstanceOf[graft.sources.SnapshotMicroBatchStream]
    def off(v: Long) = stream.deserializeOffset(v.toString)
    def attachments(from: Long): Long = {
      stream.planInputPartitions(off(from), off(head))
      stream.createReaderFactory()
      stream.slice.get.lastAttachments
    }
    assert(attachments(head - 1) === -1L,
      "the appended file's slice must read as a plain scan, no delete reader built")
    assert(attachments(0L) > 0L, "the full snapshot still applies both delete formats")
  }
}
