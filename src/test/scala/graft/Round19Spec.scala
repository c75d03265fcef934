package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LocalSnapshotIO, SnapshotCatalog, SnapshotTable}

/** Round-19 wave: the snapshot format's SQL surface — a TableCatalog
  * plugin (CREATE / INSERT INTO / INSERT OVERWRITE / VERSION AS OF /
  * DROP) over the DSv2 BatchWrite protocol (task-side parquet writers
  * folding pruning stats over the write pass, one atomic manifest
  * publication, abort = this attempt's files only).
  */
class Round19Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat19").toString
    val cat = "g" + wh.replaceAll(".*cat19", "").replaceAll("[^0-9a-zA-Z]", "").take(12)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("SQL lifecycle: CREATE + INSERT INTO + INSERT OVERWRITE + VERSION AS OF + DROP") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) TBLPROPERTIES('statsColumns'='k')")
    assert(spark.table(s"$cat.t").count() === 0, "freshly created table is empty at v1")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"INSERT INTO $cat.t VALUES (4, 'd')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) === 4)
    // time travel in SQL: v2 was the first insert
    assert(spark.sql(s"SELECT k FROM $cat.t VERSION AS OF 2 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (9, 'z')")
    assert(spark.sql(s"SELECT k, v FROM $cat.t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((9L, "z")))
    // history intact across the overwrite
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 3").collect()(0).getLong(0) === 4)
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).contains("t"))
    spark.sql(s"DROP TABLE $cat.t")
    assert(!spark.catalog.tableExists(s"$cat.t"))
    assert(LocalSnapshotIO.list(s"$wh").isEmpty || !LocalSnapshotIO.exists(s"$wh/t"))
  }

  test("INSERT records the declared statsColumns: pruning + CBO stats on a SQL-written table") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.o (k BIGINT, p STRING) TBLPROPERTIES('statsColumns'='k,p')")
    Tables(spark, sf).orders
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("graft19_src")
    spark.sql(s"INSERT INTO $cat.o SELECT * FROM graft19_src")
    val m = SnapshotTable.manifest(s"$wh/o", 2L)
    val files = m.files
    assert(files.size === 4)
    assert(files.forall(f => f.stats.contains("k") && f.sstats.contains("p")),
      "task-side writers must fold min/max stats over the write pass")
    assert(files.forall(_.nstats("k")._2 > 0))
    assert(files.forall(_.size > 0), "file sizes recorded for the CBO")
    // the stats are CORRECT: ranges disjoint after range-clustering, and
    // a pruned read equals the filtered read
    val sorted = files.map(_.stats("k")).sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _                     => true
    }, "range-clustered inserts must record disjoint ranges")
    val lo = sorted.head._2 // prune to the first file only
    val pruned = SnapshotTable.read(spark, s"$wh/o").filter(col("k") <= lo)
    assert(graft.Stage.plannedFiles(pruned.queryExecution.sparkPlan) ===
      m.filesFor("k", 0L, lo).size)
    assert(pruned.count()
      === Tables(spark, sf).orders.filter(col("o_orderkey") <= lo).count())
  }

  test("aborted INSERT leaves the table at its prior version, no manifest published") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")
    val failing = spark.range(0, 100, 1, 4).select(
      when(col("id") === 57L, expr("raise_error('boom')").cast("long"))
        .otherwise(col("id")).as("k"))
    intercept[Exception] { failing.writeTo(s"$cat.t").append() }
    assert(SnapshotTable.currentVersion(s"$wh/t") === 2L,
      "failed insert must not publish a manifest")
    assert(spark.table(s"$cat.t").count() === 2)
    // a later insert still works and sees a clean table
    spark.sql(s"INSERT INTO $cat.t VALUES (3)")
    assert(spark.table(s"$cat.t").count() === 3)
  }

  test("catalog refusals: unsupported transforms, ALTER, RENAME") {
    val (cat, wh) = freshCatalog()
    // identity, bucket(n, k), truncate(w, k) and the temporal family
    // are LAYOUTS now (Round25/30/31Spec); a temporal transform over a
    // NON-timestamp key still refuses loudly
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.p (k BIGINT, ts TIMESTAMP) PARTITIONED BY (years(k))")
    }
    assert(e1.getMessage.contains("is not a timestamp"))
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN v")
    }
    assert(e2.getMessage.contains("extend-only"))
  }

  test("SQL INSERT into a clustered table keeps one key value per file (SPJ intact)") {
    val (cat, wh) = freshCatalog()
    val ct = s"$wh/clustered"
    SnapshotTable.commit(
      Tables(spark, sf).customer
        .select("c_custkey", "c_nationkey").filter(col("c_custkey") % 2 === 0),
      ct, append = false, clusterBy = Some("c_nationkey"))
    Tables(spark, sf).customer
      .select("c_custkey", "c_nationkey").filter(col("c_custkey") % 2 === 1)
      .createOrReplaceTempView("graft19_cust_odd")
    // the write declares RequiresDistributionAndOrdering: Spark routes
    // by key + sorts, the rolling writer cuts per key — no library call
    spark.sql(s"INSERT INTO $cat.clustered SELECT * FROM graft19_cust_odd")
    val m = SnapshotTable.manifest(ct, 2L)
    assert(SnapshotTable.clusterKeyOf(m) === Some("c_nationkey"))
    assert(m.files.forall(f => f.stats.get("c_nationkey").exists { case (mn, mx) => mn == mx }),
      "every file (both commits) must hold exactly one cluster key value")
    assert(spark.table(s"$cat.clustered").count() === Tables(spark, sf).customer.count())
    // a NULL cluster key refuses at the writer
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.clustered VALUES (0, NULL)")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("NULL cluster key"))))
    assert(SnapshotTable.currentVersion(ct) === 2L, "failed insert published nothing")
  }

  test("metadata-only DELETE drops provably-matching files whole; unprovable rewrites") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT, v STRING) TBLPROPERTIES('statsColumns'='k')")
    Tables(spark, sf).orders
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("graft19_del_src")
    spark.sql(s"INSERT INTO $cat.d SELECT * FROM graft19_del_src")
    val m = SnapshotTable.manifest(s"$wh/d", 2L)
    val bounds = m.files.map(_.stats("k")).sortBy(_._1)
    val cut = bounds.head._2 // first file's max: k <= cut is file-whole
    val before = spark.table(s"$cat.d").count()
    val dropped = spark.table(s"$cat.d").filter(col("k") <= cut).count()
    spark.sql(s"DELETE FROM $cat.d WHERE k <= $cut")
    assert(spark.table(s"$cat.d").count() === before - dropped)
    val m3 = SnapshotTable.manifest(s"$wh/d", 3L)
    assert(m3.fileCount === m.fileCount - 1, "exactly the proven file dropped")
    assert(m3.extra("mode") === "delete")
    // prior version still time-travels
    assert(spark.sql(s"SELECT count(*) FROM $cat.d VERSION AS OF 2")
      .collect()(0).getLong(0) === before)
    // a mid-file predicate is NOT provable file-whole — it falls back
    // to the group-based copy-on-write rewrite (Round20Spec pins the
    // rewrite semantics; here: correct rows + mode=merge, not refusal)
    val before4 = spark.table(s"$cat.d").count()
    val victims4 = spark.table(s"$cat.d").filter(col("k") <= cut + 1).count()
    spark.sql(s"DELETE FROM $cat.d WHERE k <= ${cut + 1}")
    assert(spark.table(s"$cat.d").count() === before4 - victims4)
    assert(SnapshotTable.manifest(s"$wh/d", SnapshotTable.currentVersion(s"$wh/d"))
      .extra("mode") === "merge", "unprovable DELETE must route to the group rewrite")
    // TRUNCATE = delete-all, metadata-only, history intact
    spark.sql(s"TRUNCATE TABLE $cat.d")
    assert(spark.table(s"$cat.d").count() === 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.d VERSION AS OF 3")
      .collect()(0).getLong(0) === before - dropped)
  }

  test("ALTER TABLE ADD COLUMN: extend-only evolution in SQL, zero data I/O") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")
    val filesBefore = SnapshotTable.manifest(s"$wh/t", 2L).files.map(_.path).toSet
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN v STRING")
    val m3 = SnapshotTable.manifest(s"$wh/t", 3L)
    assert(m3.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(m3.files.map(_.path).toSet === filesBefore, "evolution must move zero data")
    // old rows read NULL in the added column; new inserts fill it
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 'c')")
    val rows = spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(rows === Seq((1L, None), (2L, None), (3L, Some("c"))))
    // incremental readers scan ACROSS the evolution (zero-file append)
    assert(SnapshotTable.readIncremental(spark, s"$wh/t", 2L, 4L).count() === 1)
    // refusals: positioned add, NOT NULL add, drop
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.t ADD COLUMN w STRING FIRST") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.t DROP COLUMN v") }
  }

  test("streaming toTable: per-epoch appends, exactly-once across a fresh-checkpoint replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.s (v BIGINT) TBLPROPERTIES('statsColumns'='v')")
    val in = MemoryStream[Long]
    val q = in.toDS().toDF("v").writeStream
      .option("checkpointLocation", s"$wh/_ckpt1")
      .trigger(Trigger.AvailableNow())
    in.addData(1L, 2L, 3L)
    q.toTable(s"$cat.s").awaitTermination()
    val in2 = MemoryStream[Long]
    in2.addData(4L, 5L)
    in2.toDS().toDF("v").writeStream
      .option("checkpointLocation", s"$wh/_ckpt1_b")
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.s").awaitTermination()
    // two epochs landed (one per query run, fresh checkpoints => both epoch 0...
    // the SECOND query's epoch 0 must be DEDUPED by the batchid rule)
    val head = SnapshotTable.manifest(s"$wh/s", SnapshotTable.currentVersion(s"$wh/s"))
    assert(head.extra.get("batchid").contains("0"))
    assert(spark.table(s"$cat.s").count() === 3,
      "a fresh-checkpoint epoch 0 after a committed epoch 0 must no-op (appendBatch rule)")
    // a CONTINUING checkpoint delivers epoch 1 and appends
    val in3 = MemoryStream[Long]
    in3.addData(6L, 7L)
    // reuse checkpoint 1's offsets is not possible with a new MemoryStream;
    // drive the second epoch through the SAME source instead
    in.addData(8L, 9L)
    in.toDS().toDF("v").writeStream
      .option("checkpointLocation", s"$wh/_ckpt1")
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.s").awaitTermination()
    assert(spark.table(s"$cat.s").orderBy("v").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 8L, 9L))
    val m = SnapshotTable.manifest(s"$wh/s", SnapshotTable.currentVersion(s"$wh/s"))
    assert(m.extra.get("batchid").contains("1"))
    assert(m.files.forall(f => f.nstats.contains("v") && f.size > 0),
      "streaming writers fold the declared stats like batch writers")
  }

  test("readStream.table: initial snapshot then version-diff deltas, real AvailableNow") {
    import org.apache.spark.sql.streaming.Trigger
    val (cat, wh) = freshCatalog()
    val out = s"$wh/_out"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")
    spark.sql(s"INSERT INTO $cat.t VALUES (3)")
    def drain(): Unit = {
      val q = spark.readStream.table(s"$cat.t").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          SnapshotTable.appendBatch(b, out, id); ()
        }
        .option("checkpointLocation", s"$wh/_ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // initial batch: the FULL snapshot (both inserts)
    assert(SnapshotTable.read(spark, out).orderBy("k").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    spark.sql(s"INSERT INTO $cat.t VALUES (4), (5)")
    drain() // same checkpoint: exactly the version delta
    assert(SnapshotTable.read(spark, out).orderBy("k").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 4L, 5L))
    // the second drain appended ONE batch holding ONLY the delta
    val outHead = SnapshotTable.manifest(out, SnapshotTable.currentVersion(out))
    assert(outHead.extra.get("batchid").contains("1"))
    assert(SnapshotTable.readIncremental(spark, out, 1L, 2L).count() === 2)
    // a DELETE boundary refuses the incremental scan (raw-file stream)
    spark.sql(s"DELETE FROM $cat.t WHERE k <= 3")
    spark.sql(s"INSERT INTO $cat.t VALUES (6)")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(m =>
        m.contains("not a pure append") || m.contains("delete"))),
      s"a mode=delete boundary must refuse the version-diff stream: ${e.getMessage}")
  }

  test("v2 stream admission: maxVersionsPerTrigger drains the backlog in bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    val (cat, wh) = freshCatalog()
    val out = s"$wh/_out2"
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT)")
    for (i <- 1 to 3) spark.sql(s"INSERT INTO $cat.b VALUES ($i)")
    val q = spark.readStream.option("maxVersionsPerTrigger", "1").table(s"$cat.b")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotTable.appendBatch(b, out, id); ()
      }
      .option("checkpointLocation", s"$wh/_ckpt2")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(SnapshotTable.read(spark, out).orderBy("k").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    // the 4-version backlog (create + 3 inserts) drained as 4 capped
    // micro-batches, not one giant initial load
    assert(SnapshotTable.currentVersion(out) === 4L,
      s"want 4 bounded batches, sink saw ${SnapshotTable.currentVersion(out)}")
  }

  test("metadata tables: g.t.history / g.t.files / g.t.segments in plain SQL") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1), (2)")
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (3)")
    val hist = spark.sql(s"SELECT version, mode, n_files FROM $cat.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(hist.map(_._2) === Seq("create", "append", "overwrite"))
    assert(hist.map(_._1) === Seq(1L, 2L, 3L))
    assert(hist.last._3 >= 1L)
    val files = spark.sql(s"SELECT path, size, n_rows FROM $cat.t.files").collect()
    assert(files.length === hist.last._3)
    assert(files.forall(r => r.getLong(1) > 0 && r.getLong(2) >= 0),
      "files view must carry manifest sizes and row counts")
    assert(files.map(_.getLong(2)).sum === 1L)
    val segs = spark.sql(s"SELECT n_files, size FROM $cat.t.segments").collect()
    assert(segs.map(_.getLong(0)).sum === hist.last._3)
    // a real table named like a metadata view always wins the name
    spark.sql(s"CREATE TABLE $cat.history (x BIGINT)")
    spark.sql(s"INSERT INTO $cat.history VALUES (42)")
    assert(spark.sql(s"SELECT x FROM $cat.history").collect()(0).getLong(0) === 42L)
    // metadata views of a missing table refuse
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.nosuch.history").collect() }
  }

  test("CTAS and empty-insert edge: CREATE TABLE AS SELECT; zero-row insert bumps version only") {
    val (cat, wh) = freshCatalog()
    Tables(spark, sf).nation.select("n_nationkey", "n_name")
      .createOrReplaceTempView("graft19_nation")
    spark.sql(s"CREATE TABLE $cat.n AS SELECT * FROM graft19_nation")
    assert(spark.table(s"$cat.n").count() === Tables(spark, sf).nation.count())
    val vBefore = SnapshotTable.currentVersion(s"$wh/n")
    spark.sql(s"INSERT INTO $cat.n SELECT * FROM graft19_nation WHERE n_nationkey < 0")
    assert(SnapshotTable.currentVersion(s"$wh/n") === vBefore + 1)
    assert(spark.table(s"$cat.n").count() === Tables(spark, sf).nation.count())
    val m = SnapshotTable.manifest(s"$wh/n", vBefore + 1)
    assert(m.fileCount === SnapshotTable.manifest(s"$wh/n", vBefore).fileCount,
      "zero-row insert adds no files")
  }
}
