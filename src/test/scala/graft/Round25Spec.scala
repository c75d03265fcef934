package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GraftBucket, GraftBucketUnbound, SnapshotCatalog, SnapshotTable}

/** Round-25 wave: the partition-transform surface — `PARTITIONED BY
  * (bucket(n, k))` hash buckets and `PARTITIONED BY (k)` identity
  * clustering at CREATE TABLE, served through the catalog's V2
  * FunctionCatalog arm (src_snapshot_bucket_spj /
  * src_snapshot_sql_clustered carry the oracled flows; this spec pins
  * the function algebra, the refusals, layout survival under DML, and
  * the sound degradation when a file misses its bucket stamp).
  */
class Round25Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap25").toString
    val cat = "g25" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def stamps(table: String): Seq[(Long, Long)] = {
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    m.files.flatMap(_.stats.get(SnapshotTable.BucketStat))
  }

  test("bucket function: one hash across produceResult, invoke, and the writer's helper") {
    val boundL = GraftBucketUnbound.bind(StructType(Seq(
      StructField("_0", IntegerType, nullable = false),
      StructField("_1", LongType))))
    val boundS = GraftBucketUnbound.bind(StructType(Seq(
      StructField("_0", IntegerType, nullable = false),
      StructField("_1", StringType))))
    assert(boundL.canonicalName() !== boundS.canonicalName(),
      "SPJ must never equate a long-hash bucket with a string-hash one")
    for (v <- Seq(0L, 1L, -1L, 371L, Long.MaxValue, Long.MinValue); n <- Seq(1, 8, 16)) {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, v))
      val viaProduce = boundL.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
        .produceResult(row)
      assert(viaProduce === GraftBucket.of(v, n))
      assert(viaProduce >= 0 && viaProduce < n)
    }
    for (s <- Seq("", "a", "Äpfel", "key-371"); n <- Seq(1, 4)) {
      val u = UTF8String.fromString(s)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, u))
      val viaProduce = boundS.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
        .produceResult(row)
      assert(viaProduce === GraftBucket.of(u, n))
      assert(GraftBucket.ofAny(s, n) === Some(viaProduce),
        "prune-time String hashing must agree with write-time UTF8String hashing")
    }
    // widened integrals hash as their long value
    assert(GraftBucket.ofAny(7: Byte, 8) === GraftBucket.ofAny(7L, 8))
    assert(GraftBucket.ofAny(7, 8) === GraftBucket.ofAny(7L, 8))
    // unbindable shapes refuse
    intercept[Exception] {
      GraftBucketUnbound.bind(StructType(Seq(
        StructField("_0", IntegerType), StructField("_1", DoubleType))))
    }
    intercept[Exception] {
      GraftBucketUnbound.bind(StructType(Seq(StructField("_0", IntegerType))))
    }
  }

  test("CREATE TABLE refusals: bad bucket shapes, reserved name, multi-transform") {
    val (cat, _) = freshCatalog()
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.a (k DOUBLE) PARTITIONED BY (bucket(8, k))")
    }
    assert(e1.getMessage.contains("not an integral or string key"))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.b (k BIGINT, __bucket BIGINT) " +
        "PARTITIONED BY (bucket(8, k))")
    }
    assert(e2.getMessage.contains("reserved"))
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.c (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k), v)")
    }
    assert(e3.getMessage.contains("unsupported transform combination"))
    // an unknown bucket column is caught by Spark's own transform
    // resolution before createTable even runs
    val e4 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.d (k BIGINT) PARTITIONED BY (bucket(8, missing))")
    }
    assert(e4.getMessage.contains("missing"))
  }

  test("NULL bucket keys refuse at write; the failed INSERT publishes nothing") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (CAST(NULL AS BIGINT), 20)")
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("NULL bucket key refused"))
    assert(SnapshotTable.currentVersion(s"$wh/t") === 1L,
      "failed insert must not publish a manifest")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)")
    assert(spark.table(s"$cat.t").count() === 2)
  }

  test("stamp-blind maintenance refuses on bucketed layouts (merge, " +
      "mergeMoR); zorder and compaction route to the layout-preserving " +
      "per-group rewrite") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(100)")
    val table = s"$wh/t"
    val batch = spark.range(3).select(col("id").as("k"), lit(0L).as("v"))
    for (op <- Seq(
      () => SnapshotTable.merge(batch, table, "k"),
      () => SnapshotTable.mergeMoR(batch, table, "k"))) {
      val e = intercept[Exception] { op() }
      assert(e.getMessage.contains("refused on hash-bucketed"),
        s"got: ${e.getMessage}")
    }
    // compactZOrder is no longer stamp-blind: it routes through the
    // per-group stamping rewrite — every bucket stamp survives and the
    // curve clusters WITHIN each bucket (Round47Spec owns compounds)
    val (_, zv) = SnapshotTable.compactZOrder(spark, table, Seq("k", "v"))
    val zm = SnapshotTable.manifest(table, zv)
    assert(zm.files.nonEmpty && zm.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists(s => s._1 == s._2)),
      "per-group z-order must keep every bucket stamp")
    assert(spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0) ===
      (0L until 100L).map(_ * 10).sum)
    // layout overrides still refuse — the table's own layout rules
    val e = intercept[Exception] {
      SnapshotTable.compactSnapshot(spark, table, clusterBy = Seq("v"))
    }
    assert(e.getMessage.contains("OWN declared layout"))
    // plain compaction (API and CALL) now rewrites per group, stamps kept
    // (the full fragmentation→compact→SPJ flow is oracled in
    // src_snapshot_bucket_compact; this pins the CALL arm)
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(100, 140)")
    val before = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    spark.sql(s"CALL $cat.system.compact('t', ${128L << 20})")
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(m.files.size < before.files.size, "fragmented buckets must consolidate")
    assert(m.files.nonEmpty && m.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
      "every compacted file must keep its one-bucket stamp")
    assert(spark.table(s"$cat.t").count() === 140)
  }

  test("SQL UPDATE on a bucketed table rewrites through the bucketed path " +
      "(stamps survive, morKey present still plans copy-on-write)") {
    val (cat, wh) = freshCatalog()
    // morKey declared: the delta op would append unstamped post-images,
    // so bucketed tables must keep planning CoW — whose group rewrite
    // re-routes through the bucketed writer
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('morKey'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(100)")
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k % 10 = 3")
    val m = SnapshotTable.manifest(s"$wh/t", SnapshotTable.currentVersion(s"$wh/t"))
    assert(m.extra.get("dvfiles").forall(_.isEmpty),
      "bucketed DML must be copy-on-write — no deletion vectors")
    assert(m.files.nonEmpty && m.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
      "every post-UPDATE file must carry its one-bucket stamp")
    val got = spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0)
    val want = spark.range(100)
      .select(when(col("id") % 10 === 3, col("id") * 10 + 1)
        .otherwise(col("id") * 10).as("v"))
      .agg(sum("v")).collect()(0).getLong(0)
    assert(got === want)
  }

  test("an unstamped file degrades SPJ soundly and never falls out of equality reads") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.a SELECT id, id FROM range(64)")
    spark.sql(s"INSERT INTO $cat.b SELECT id, -id FROM range(64)")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j0 = spark.table(s"$cat.a").join(spark.table(s"$cat.b"), Seq("k"))
      assert(j0.count() === 64)
      assert(Stage.shuffleCount(j0) === 0, "co-bucketed join starts exchange-free")
      // API append writes files with NO bucket stamp: key 1000 in bucket
      // terms is unproven, so grouping must degrade (exchanges return)
      // and equality pruning must KEEP the unstamped file
      SnapshotTable.commit(
        spark.range(1000, 1001).select(col("id").as("k"), col("id").as("v")),
        s"$wh/a", append = true)
      val j1 = spark.table(s"$cat.a").join(spark.table(s"$cat.b"), Seq("k"))
      assert(j1.count() === 64, "the appended key has no b-side match")
      assert(Stage.shuffleCount(j1) > 0,
        "one unstamped file must demote the scan's reported partitioning — " +
          "lying to SPJ would drop rows")
      val eq = spark.table(s"$cat.a").filter(col("k") === 1000L)
      assert(eq.count() === 1,
        "bucket pruning must keep files whose bucket is unprovable")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("string bucket keys: stamped layout, point-read pruning, exact results") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (name STRING NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(4, name))")
    spark.sql(s"INSERT INTO $cat.t SELECT concat('key-', id), id FROM range(200)")
    val m = SnapshotTable.manifest(s"$wh/t", 2L)
    assert(m.files.nonEmpty && m.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }))
    val q = spark.table(s"$cat.t").filter(col("name") === "key-137")
    val planned = graft.Stage.plannedFiles(q.queryExecution.sparkPlan)
    assert(planned < m.files.size,
      s"string equality must prune to one bucket ($planned/${m.files.size})")
    assert(q.select("v").collect().map(_.getLong(0)).toSeq === Seq(137L))
    // IN-list pruning: buckets of the listed values only
    val in = spark.table(s"$cat.t").filter(col("name").isin("key-1", "key-2"))
    assert(in.count() === 2)
  }

  test("identity PARTITIONED BY records the cluster spec the API commit owns") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) PARTITIONED BY (k)")
    val m1 = SnapshotTable.manifest(s"$wh/t", 1L)
    assert(SnapshotTable.clusterKeyOf(m1) === Some("k"))
    assert(SnapshotTable.bucketSpecOf(m1).isEmpty)
    spark.sql(s"INSERT INTO $cat.t SELECT id % 7, id FROM range(100)")
    val m2 = SnapshotTable.manifest(s"$wh/t", 2L)
    assert(m2.files.nonEmpty && m2.files.forall(
      _.stats.get("k").exists { case (lo, hi) => lo == hi }),
      "identity clustering: one key value per data file")
  }

  test("INSERT OVERWRITE re-buckets: the layout declaration survives the rewrite") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(50)")
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT id, id * 2 FROM range(80)")
    val m = SnapshotTable.manifest(s"$wh/t", 3L)
    assert(SnapshotTable.bucketSpecOf(m) === Some(("k", 4)))
    assert(m.files.nonEmpty && m.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }))
    assert(spark.table(s"$cat.t").count() === 80)
  }
}
