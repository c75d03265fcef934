package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-47 wave: GENERATION-TARGETED compaction (`compactEvolved`) —
  * partition-spec evolution's day-2 pass. Pins the O(old generation)
  * contract (only pre-`layoutsince` files rewrite, the new generation
  * rides byte-identical), SPJ restoration on the executed plan, the
  * equality-DV interplay, idempotence, and the guardrails.
  */
class Round47Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap47").toString
    val cat = "g47" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private val T0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val H = 3600000000L

  test("compactEvolved after bucket(8)->bucket(32): only the old " +
      "generation rewrites, the new generation rides byte-identical, " +
      "SPJ returns on the executed plan") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES('statsColumns'='k')")
    val table = s"$wh/t"
    spark.range(200).select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g47_bk_a")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g47_bk_a")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='bucket(32, k)')")
    spark.range(200, 400).select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g47_bk_b")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g47_bk_b")
    val m0 = SnapshotTable.manifest(table, 4L)
    val oldGen = m0.files.filter(_.seq < SnapshotTable.layoutSinceOf(m0))
    val newGen = m0.files.filterNot(f => oldGen.exists(_.path == f.path))
    assert(oldGen.size === 8 && newGen.size === 32)
    // compactFragmented's mixed-generation refusal names the cure
    val e = intercept[Exception] { SnapshotTable.compactFragmented(spark, table) }
    assert(e.getMessage.contains("compactEvolved"))
    val (rewritten, v) = SnapshotTable.compactEvolved(spark, table)
    assert(rewritten === 8, "exactly the old-generation file count rewrites")
    val m = SnapshotTable.manifest(table, v)
    // new-generation files ride VERBATIM: same path, same size, same seq
    newGen.foreach { f =>
      val carried = m.files.find(_.path == f.path)
      assert(carried.exists(c => c.size == f.size && c.seq == f.seq),
        s"new-generation file ${f.path} must carry byte-identical")
    }
    // old-generation paths are gone; every replacement file is stamped
    // under the CURRENT spec at the compaction's own sequence
    assert(oldGen.forall(f => !m.files.exists(_.path == f.path)))
    val fresh = m.files.filterNot(f => newGen.exists(_.path == f.path))
    assert(fresh.nonEmpty && fresh.forall(f => f.seq == v &&
      f.stats.get(SnapshotTable.BucketStat).exists(s => s._1 == s._2)))
    assert(m.files.forall(_.seq >= SnapshotTable.layoutSinceOf(m)),
      "no live file predates the generation boundary any more")
    // SPJ: the co-bucketed self-join runs with ZERO shuffle again
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(s"$cat.t").as("a")
        .join(spark.table(s"$cat.t").as("b"), "k").select("k")
      assert(j.collect().length === 400)
      assert(graft.Stage.shuffleCount(j) === 0,
        "generation-targeted compaction must restore SPJ")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    // point lookups prune to ONE file under the (now uniform) new spec
    def plannedFor(k: Long): Int = {
      val q = spark.table(s"$cat.t").where(col("k") === k)
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(k))
      graft.Stage.plannedFiles(q.queryExecution.executedPlan)
    }
    assert(plannedFor(5L) === 1 && plannedFor(205L) === 1)
    // reads exact, and the pass is idempotent
    assert(spark.table(s"$cat.t").agg(sum("v")).collect()(0).getLong(0) ===
      (0L until 400L).map(_ * 10).sum)
    assert(SnapshotTable.compactEvolved(spark, table) === ((0, v)))
  }

  test("compactEvolved days->hours under an outstanding equality-DV " +
      "chain: rewritten files materialize their deletes, untouched hour " +
      "files keep theirs reader-side, nothing double-applies") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, k BIGINT NOT NULL) " +
      "PARTITIONED BY (days(ts)) TBLPROPERTIES('statsColumns'='k')")
    val table = s"$wh/t"
    // generation 0: 2 days x 24 hourly rows -> 2 day files (k = 0..47)
    spark.range(48)
      .select(expr(s"timestamp_micros(CAST($T0 + id * $H AS BIGINT))").as("ts"),
        col("id").as("k"))
      .createOrReplaceTempView("g47_t_a")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g47_t_a")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
    // generation 1: 4 hour files on day 3 (k = 72..75)
    spark.range(4)
      .select(expr(s"timestamp_micros(CAST($T0 + (72 + id) * $H AS BIGINT))").as("ts"),
        (col("id") + 72L).as("k"))
      .createOrReplaceTempView("g47_t_b")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g47_t_b")
    // the DV predates the rewrite and kills one key in EACH generation
    import spark.implicits._
    SnapshotTable.deleteKeys(Seq(5L, 73L).toDF("k"), table, "k")
    val m0 = SnapshotTable.manifest(table, 5L)
    val hourPaths = m0.files.filter(_.seq >= 4L).map(_.path).toSet
    assert(m0.files.size === 6 && hourPaths.size === 4)
    val (rewritten, v) = SnapshotTable.compactEvolved(spark, table)
    assert(rewritten === 2, "only the two day files rewrite")
    val m = SnapshotTable.manifest(table, v)
    assert(hourPaths.subsetOf(m.files.map(_.path).toSet),
      "hour files ride verbatim")
    assert(m.extra.get("dvfiles").exists(_.nonEmpty),
      "the DV chain must ride for the untouched hour files")
    // the old generation is now hour-grained: a 3h window opens 3 files
    // (hour 5's only row was deleted and materialized — no file there)
    assert(m.filesFor("ts", T0 + 6 * H, T0 + 9 * H - 1).size === 3)
    assert(m.files.forall(f =>
      f.stats.get(SnapshotTable.TemporalStat).exists(s => s._1 == s._2)))
    // k=5 materialized in the rewrite, k=73 still dropped reader-side
    val got = spark.table(s"$cat.t").select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === ((0L until 48L) ++ (72L until 76L))
      .filterNot(k => k == 5L || k == 73L))
  }

  test("per-period z-order inside a compound (months x bucket) layout: " +
      "both stamps survive the rewrite, z bounds narrow within each " +
      "(month, bucket) group, rows identical") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, ck BIGINT NOT NULL, " +
      "x BIGINT, y BIGINT) PARTITIONED BY (months(ts), bucket(2, ck)) " +
      "TBLPROPERTIES('statsColumns'='x,y')")
    val table = s"$wh/t"
    val D = 86400000000L
    spark.range(2048).select(
        expr(s"timestamp_micros(CAST($T0 + (id % 2) * 31 * $D AS BIGINT))").as("ts"),
        col("id").as("ck"),
        (col("id") / 2 % 32).cast("long").as("x"),
        (col("id") / 64).cast("long").as("y"))
      .createOrReplaceTempView("g47_zc")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g47_zc")
    val before = spark.table(s"$cat.t").orderBy("ck").collect()
    val (_, v) = SnapshotTable.compactZOrder(spark, table,
      zorderBy = Seq("x", "y"), targetBytes = 1L << 10)
    val m = SnapshotTable.manifest(table, v)
    assert(m.files.forall(f =>
      f.stats.get(SnapshotTable.TemporalStat).exists(s => s._1 == s._2) &&
        f.stats.get(SnapshotTable.BucketStat).exists(s => s._1 == s._2)),
      "BOTH stamps on every file after the compound z-order")
    // pick one (month, bucket) group: it split at z boundaries and a
    // small (x, y) box prunes to a strict subset of ITS files
    val month0 = m.files.map(_.stats(SnapshotTable.TemporalStat)._1).min
    val grp = m.files.filter(f =>
      f.stats(SnapshotTable.TemporalStat)._1 == month0 &&
        f.stats(SnapshotTable.BucketStat)._1 == 0L)
    assert(grp.size > 1, s"a hot (month, bucket) group must split, got ${grp.size}")
    val hit = grp.filter(f =>
      f.stats.get("x").forall { case (lo, hi) => hi >= 3 && lo <= 4 } &&
        f.stats.get("y").forall { case (lo, hi) => hi >= 3 && lo <= 4 })
    assert(hit.size < grp.size,
      s"the (x,y) box must prune within the group (${hit.size}/${grp.size})")
    assert(spark.table(s"$cat.t").orderBy("ck").collect() === before)
    // guardrails still hold on compounds: a TIMESTAMP column refuses
    // as non-integral before the temporal-key no-op check even applies
    val e = intercept[Exception] {
      SnapshotTable.compactZOrder(spark, table, Seq("ts"))
    }
    assert(e.getMessage.contains("not integral"))
  }

  test("guardrails: no evolution recorded and layout evolved to 'none' " +
      "refuse; outstanding position deletes split around the rewrite") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, k BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val table = s"$wh/t"
    spark.range(4).select(
        expr(s"timestamp_micros(CAST($T0 + (id % 2) * 24 * $H AS BIGINT))").as("ts"),
        col("id").as("k"))
      .createOrReplaceTempView("g47_g")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g47_g")
    val e1 = intercept[Exception] { SnapshotTable.compactEvolved(spark, table) }
    assert(e1.getMessage.contains("no partition-spec evolution"))
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='none')")
    val e2 = intercept[Exception] { SnapshotTable.compactEvolved(spark, table) }
    assert(e2.getMessage.contains("compactSnapshot"))
    // a real evolution + a position sidecar naming only OLD-generation
    // files: the rewrite materializes it and the sidecar set empties
    val (cat2, wh2) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat2.t (ts TIMESTAMP NOT NULL, k BIGINT) " +
      "PARTITIONED BY (days(ts))")
    val table2 = s"$wh2/t"
    spark.sql(s"INSERT INTO $cat2.t SELECT * FROM g47_g")
    spark.sql(s"ALTER TABLE $cat2.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
    spark.sql(s"INSERT INTO $cat2.t SELECT * FROM g47_g")
    val gen0Paths = SnapshotTable.manifest(table2, 2L).files.map(_.path)
    val dead = spark.table(s"$cat2.t")
      .where(col("k") === 0 && col("_file").isin(gen0Paths: _*))
      .select("_file", "_pos")
    SnapshotTable.deletePositions(dead, table2)
    assert(spark.table(s"$cat2.t").count() === 7)
    val (rw, v2) = SnapshotTable.compactEvolved(spark, table2)
    assert(rw === 2, "both old-generation day files rewrite")
    val m2 = SnapshotTable.manifest(table2, v2)
    assert(SnapshotTable.posDvRefs(m2).isEmpty,
      "a sidecar naming only rewritten files is fully consumed")
    assert(spark.table(s"$cat2.t").count() === 7, "the delete stays applied")
  }
}
