package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-41 wave A: position deletes apply per file — each data file
  * attaches the sidecars whose recorded path range covers it (mirroring
  * Round33Spec's equality DVs) — plus the round's safety fixes:
  * the temporal stats-unit marker (unmarked manifests' timestamp/date
  * stats are served absent, never reinterpreted), the empty
  * position-delete batch no-op, null-key DV consolidation, and
  * position-delete reads through a non-local SnapshotIO.
  */
class Round41Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap41").toString
    val cat = "g41" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** Runs `df` and returns its scan's delete attachments. */
  private def attached(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    graft.Stage.deleteAttachments(df)
  }

  /** 3 deterministic single-task files: file i holds k = 20*i ..< 20*(i+1). */
  private def fill3(table: String): Seq[String] = {
    (0 until 3).foreach { i =>
      SnapshotTable.commit(
        spark.range(20L * i, 20L * (i + 1)).orderBy("id").coalesce(1)
          .select(col("id").as("k")),
        table, append = i > 0, statsColumns = Seq("k"))
    }
    SnapshotTable.manifest(table, 3L).files.map(_.path)
  }

  test("position deletes attach per file by the sidecar's path range and " +
      "answer the source minus the listed ordinals") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    val files = fill3(table)
    import spark.implicits._
    // one batch naming positions in files 0 and 2 (6 positions total)
    SnapshotTable.deletePositions(
      (Seq(0L, 3L, 19L).map((files(0), _)) ++ Seq(5L, 6L, 7L).map((files(2), _)))
        .toDF("_file", "_pos"),
      table)
    val expect = (0L until 60L)
      .filterNot(Seq(0L, 3L, 19L, 45L, 46L, 47L).contains)
    val df = spark.table(s"$cat.t")
    // the one sidecar's range spans files 0..2: each attaches it once
    assert(attached(df) === 3L)
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq === expect)
    // residual filters still answer exactly (pushdown disabled, so
    // ordinals never shift)
    assert(spark.table(s"$cat.t").filter(col("k") < 5).count() === 3)
  }

  test("pos refs record the named-file path range; scoped stacking and " +
      "eq-DV composition stay exact past the budget") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    val files = fill3(table)
    import spark.implicits._
    // two single-file batches -> two refs with TIGHT (lo == hi) ranges
    SnapshotTable.deletePositions(
      Seq(0L, 1L).toDF("_pos").withColumn("_file", lit(files(0))), table)
    SnapshotTable.deletePositions(
      Seq(2L, 3L).toDF("_pos").withColumn("_file", lit(files(1))), table)
    val refs = SnapshotTable.posDvRefs(
      SnapshotTable.manifest(table, SnapshotTable.currentVersion(table)))
    assert(refs.size === 2)
    assert(refs.map(_.range) ===
      Seq(Some((files(0), files(0))), Some((files(1), files(1)))),
      "each ref must carry the byte-range of exactly the files it names")
    // an equality DV on top: eq chain under budget, pos chain over —
    // both formats apply on one scoped-pos read
    SnapshotTable.deleteKeys(Seq(50L, 51L).toDF("k"), table, "k")
    val expect = (0L until 60L).filterNot(Seq(0L, 1L, 22L, 23L, 50L, 51L).contains)
    // both formats apply on one read: file 0 and file 1 attach their
    // tight-range position sidecar, file 2 the DV's (keys 50, 51)
    val df = spark.table(s"$cat.t")
    assert(attached(df) === 3L)
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq === expect,
      "position deletes must compose with equality DVs")
  }

  test("a legacy 2-token pos ref (no range) still parses and applies — " +
      "attached to every file under the scoped path") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    val files = fill3(table)
    import spark.implicits._
    SnapshotTable.deletePositions(
      Seq(0L, 1L).toDF("_pos").withColumn("_file", lit(files(1))), table)
    // doctor the manifest: strip the range tokens -> the pre-range format
    val mp = s"$table/manifests/v4.manifest"
    val doctored = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(mp)), "UTF-8")
      .linesIterator.map { l =>
        if (l.startsWith("posdvfiles="))
          l.split(":").take(2).mkString(":") // hex(path):count
        else l
      }.mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(mp), doctored.getBytes("UTF-8"))
    val refs = SnapshotTable.posDvRefs(SnapshotTable.manifest(table, 4L))
    assert(refs.size === 1 && refs.head.range.isEmpty)
    val expect = (0L until 60L).filterNot(Seq(20L, 21L).contains)
    val df = spark.table(s"$cat.t")
    assert(attached(df) === 3L, "a rangeless ref must attach to every file")
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq === expect,
      "a rangeless ref must still apply exactly")
  }

  test("a position-delete batch that matched nothing is a NO-OP — no " +
      "commit, no sidecar, subset readers stay open") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    fill3(table)
    val v = SnapshotTable.deletePositions(
      spark.table(s"$cat.t").filter(col("k") < 0).select("_file", "_pos"),
      table)
    assert(v === 3L, "an empty batch must return the CURRENT version")
    assert(SnapshotTable.currentVersion(table) === 3L)
    assert(SnapshotTable.posDvRefs(SnapshotTable.manifest(table, 3L)).isEmpty)
    // incremental readers still work across the (non-)delete
    assert(SnapshotTable.readIncremental(spark, table, 2L, 3L).count() === 20)
  }

  test("manifests stamp the temporal stats unit; an UNMARKED manifest's " +
      "timestamp stats are served absent — never reinterpreted") {
    val (_, wh) = freshCatalog()
    val table = s"$wh/t"
    // 2 files, disjoint day ranges, ts stats recorded (micros channel)
    (0 until 2).foreach { i =>
      SnapshotTable.commit(
        spark.range(10).coalesce(1)
          .select(expr(s"timestamp_micros(CAST(1704067200000000 + ($i * 10 + id) " +
            "* 3600000000 AS BIGINT))").as("ts"), col("id").as("v")),
        table, append = i > 0, statsColumns = Seq("ts"))
    }
    val marked = SnapshotTable.manifest(table, 2L)
    assert(marked.extra.get("statsunits").contains("micros"))
    assert(marked.files.forall(_.stats.contains("ts")),
      "marked manifests serve the micros-channel ts stats")
    val hit = marked.filesFor("ts", 1704067200000000L, 1704067200000000L + 5L * 3600000000L)
    assert(hit.size === 1, "sanity: the micros stats prune to one file")
    // doctor v2 into a LEGACY manifest: drop the manifest marker and the
    // per-segment unit tokens (what a pre-marker binary would have written
    // — its long stats could be in ANY unit, e.g. epoch seconds)
    val mp = s"$table/manifests/v2.manifest"
    val doctored = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(mp)), "UTF-8")
      .linesIterator
      .filterNot(_.startsWith("statsunits="))
      .map(_.replace("|u:micros", ""))
      .mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(mp), doctored.getBytes("UTF-8"))
    val legacy = SnapshotTable.manifest(table, 2L)
    assert(legacy.files.forall(!_.stats.contains("ts")),
      "unmarked temporal stats must be scrubbed (unit-ambiguous)")
    assert(legacy.filesFor("ts", 0L, 1L).size === 2,
      "absent stats mean MUST READ — a narrow range keeps every file")
    // re-publication cannot launder the ambiguity into a marked manifest:
    // an append carries the legacy segment ref verbatim (still unmarked)
    // while the new file gets fresh, trusted micros stats
    SnapshotTable.commit(
      spark.range(5).coalesce(1)
        .select(expr("timestamp_micros(CAST(1704067200000000 + (100 + id) " +
          "* 3600000000 AS BIGINT))").as("ts"), col("id").as("v")),
      table, append = true, statsColumns = Seq("ts"))
    val mixed = SnapshotTable.manifest(table, 3L)
    val (fresh, old) = mixed.files.partition(_.seq == 3L)
    assert(old.forall(!_.stats.contains("ts")) && fresh.forall(_.stats.contains("ts")),
      "mixed generations: legacy entries stay scrubbed, new entries trusted")
    assert(mixed.filesFor("ts", 1704067200000000L + 100L * 3600000000L, Long.MaxValue)
      .size === 3, "legacy files must survive every prune (2 statless + 1 hit)")
  }

  test("consolidateDeleteVectors tolerates NULL delete keys: nulls drop " +
      "losslessly, an all-NULL chain clears outright") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    SnapshotTable.commit(
      spark.range(10).select(col("id").cast("int").as("k"), col("id").as("v")),
      table, append = false, statsColumns = Seq("k"))
    import spark.implicits._
    SnapshotTable.deleteKeys(Seq[Option[Int]](Some(3), None).toDF("k"), table, "k")
    SnapshotTable.deleteKeys(Seq[Option[Int]](None).toDF("k"), table, "k")
    val (_, after, keys) = SnapshotTable.consolidateDeleteVectors(spark, table)
    assert(after === 1 && keys === 1L, "only the non-null key survives")
    assert(spark.table(s"$cat.t").count() === 9)
    // all-NULL remainder: a second consolidation round on a chain whose
    // only keys are null clears the DV state entirely
    val t2 = s"$wh/t2"
    SnapshotTable.commit(
      spark.range(10).select(col("id").cast("int").as("k"), col("id").as("v")),
      t2, append = false, statsColumns = Seq("k"))
    SnapshotTable.deleteKeys(Seq[Option[Int]](None).toDF("k"), t2, "k")
    SnapshotTable.deleteKeys(Seq[Option[Int]](None).toDF("k"), t2, "k")
    val (_, after2, keys2) = SnapshotTable.consolidateDeleteVectors(spark, t2)
    assert(after2 === 0 && keys2 === 0L)
    val m2 = SnapshotTable.manifest(t2, SnapshotTable.currentVersion(t2))
    assert(!m2.extra.get("dvfiles").exists(_.nonEmpty), "an all-NULL chain clears")
    assert(spark.table(s"$cat.t2").count() === 10)
  }

  test("read() honours a non-local SnapshotIO while position sidecars are " +
      "outstanding (the V2 scan reads through the manifest's io)") {
    val (_, wh) = freshCatalog()
    val table = s"$wh/t"
    val files = fill3(table)
    import spark.implicits._
    SnapshotTable.deletePositions(
      Seq(0L).toDF("_pos").withColumn("_file", lit(files(0))), table)
    val hio = new graft.sources.HadoopSnapshotIO(
      spark.sparkContext.hadoopConfiguration)
    assert(SnapshotTable.read(spark, table, io = hio).count() === 59)
    assert(SnapshotTable.read(spark, table).count() === 59)
  }
}
