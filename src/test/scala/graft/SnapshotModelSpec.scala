package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotSourceProvider, SnapshotTable, SnapshotV2Provider}

/** Generated operation sequences against the snapshot table format,
  * checked against an in-memory model: one row multiset per version.
  * Each sequence starts from one base commit of (k, v) rows that
  * declares `statscols=k` and a small `maxrowsperfile`, and applies up
  * to five operations drawn from append, merge-on-read upsert,
  * copy-on-write merge, key delete, position deletes of one or two
  * keys (one batch each), metadata-only value-column rename,
  * compaction, two-column Z-order compaction on
  * (k, current value column), rollback to an earlier version (modelled
  * as that version's rows) and deletion-vector consolidation. After
  * every operation the head declares exactly the base's declarations
  * (the rename log aside) and every live file carries `k` stats and a
  * row count within the cap. The properties: `read` at every version
  * holds exactly the model's rows (as a multiset), `readIncremental`
  * over every append-only range holds exactly the rows appended in it,
  * and a fresh-checkpoint AvailableNow drain holds the head's rows. A
  * copy-on-write merge while deletes are outstanding must refuse, and
  * so must a consolidation with none. Fixed seed, bounded sizes; a
  * failing sequence shrinks to a shorter one, printed in the failure.
  */
class SnapshotModelSpec extends AnyFunSuite {
  import TestSpark._

  type Rows = Seq[(Long, Option[Long])]

  sealed trait Op
  case class Append(rows: List[(Long, Long)]) extends Op
  case class MergeMoR(rows: List[(Long, Long)]) extends Op
  case class MergeCoW(rows: List[(Long, Long)]) extends Op
  case class DeleteKeys(keys: List[Long]) extends Op
  case class DeletePositions(keys: List[Long]) extends Op
  case object RenameValue extends Op
  case object Compact extends Op
  case object ZOrder extends Op
  case class Rollback(toVersion: Long) extends Op
  case object ConsolidateDVs extends Op

  private val key = Gen.choose(0L, 11L)
  private val rows: Gen[List[(Long, Long)]] = for {
    n  <- Gen.choose(1, 3)
    rs <- Gen.listOfN(n, Gen.zip(key, Gen.choose(0L, 999L)))
  } yield rs.distinctBy(_._1)
  private val op: Gen[Op] = Gen.frequency(
    2 -> rows.map(Append(_)),
    2 -> rows.map(MergeMoR(_)),
    4 -> rows.map(MergeCoW(_)),
    1 -> Gen.nonEmptyListOf(key).map(ks => DeleteKeys(ks.distinct.take(3))),
    1 -> Gen.choose(1, 2).flatMap(Gen.listOfN(_, key)).map(ks => DeletePositions(ks.distinct)),
    3 -> Gen.const(RenameValue),
    2 -> Gen.const(Compact),
    2 -> Gen.const(ZOrder),
    2 -> Gen.choose(1L, 5L).map(Rollback(_)),
    3 -> Gen.const(ConsolidateDVs))
  private val ops: Gen[List[Op]] = Gen.choose(1, 5).flatMap(Gen.listOfN(_, op))

  private def kv(r: Row): (Long, Option[Long]) =
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))

  /** The model after each published version: its rows, the rows the
    * version appended when it only appended (Some(Nil) for a rename,
    * which changes no rows; None for every other commit), the value
    * column's name and whether deletes are outstanding. */
  private case class Version(
      rows: Rows, appended: Option[Rows], value: String, deletes: Boolean)

  /** The base commit's declarations: every later head must carry them. */
  private val MaxRows = 3L
  private val declared = Map("statscols" -> "k", "maxrowsperfile" -> MaxRows.toString)

  /** Apply `ops` to a fresh table and to the model, version by version.
    * Returns the table path, the value column's current name and the
    * model per version (index 0 is version 1), or a mismatch between
    * what the format did and what the model expects (a version that was
    * not published, a refusal that did not come). */
  private def build(root: String, ops: List[Op])
      : Either[String, (String, String, Vector[Version])] = {
    import spark.implicits._
    val table = s"$root/t"
    SnapshotTable.commit(
      spark.range(8).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"), extra = declared)
    var renames = 0
    var model = Vector(Version((0L until 8L).map(k => (k, Some(k * 10))), None, "v", false))
    def value: String = model.last.value
    def deletesOutstanding: Boolean = model.last.deletes
    def frame(rs: List[(Long, Long)]): DataFrame = rs.toDF("k", value).coalesce(1)
    def head: Rows = model.last.rows
    def without(ks: Set[Long]): Rows = head.filterNot(r => ks(r._1))
    def some(rs: List[(Long, Long)]): Rows = rs.map { case (k, v) => (k, Some(v)) }
    // a commit that leaves the head's value name and delete state as is
    def same(rows: Rows, appended: Option[Rows] = None): Option[Version] =
      Some(Version(rows, appended, value, deletesOutstanding))
    def deleting(rows: Rows): Option[Version] = Some(Version(rows, None, value, true))
    ops.foreach { o =>
      val next: IterableOnce[Version] = o match {
        case Append(rs) =>
          SnapshotTable.commit(frame(rs), table, append = true)
          same(head ++ some(rs), Some(some(rs)))
        case MergeMoR(rs) =>
          SnapshotTable.mergeMoR(frame(rs), table, "k")
          deleting(without(rs.map(_._1).toSet) ++ some(rs))
        case MergeCoW(rs) =>
          val refused =
            try { SnapshotTable.merge(frame(rs), table, "k"); false }
            catch { case _: IllegalArgumentException => true }
          if (refused != deletesOutstanding)
            return Left(s"$o: refused=$refused with deletes outstanding=$deletesOutstanding")
          if (refused) None else same(without(rs.map(_._1).toSet) ++ some(rs))
        case DeleteKeys(ks) =>
          SnapshotTable.deleteKeys(ks.toDF("k"), table, "k")
          deleting(without(ks.toSet))
        case DeletePositions(ks) =>
          // one batch per key, so two keys leave two position sidecars;
          // a batch that matches no row publishes nothing
          ks.foldLeft(Vector.empty[Version]) { (vs, k) =>
            val rows = vs.lastOption.fold(head)(_.rows)
            SnapshotTable.deletePositions(
              spark.read.format(SnapshotV2Provider.format).option("path", table).load()
                .where(col("k") === k).select("_file", "_pos"), table)
            if (!rows.exists(_._1 == k)) vs
            else vs :+ Version(rows.filterNot(_._1 == k), None, value, true)
          }
        case RenameValue =>
          renames += 1
          SnapshotTable.renameColumn(table, value, s"v$renames")
          Some(Version(head, Some(Nil), s"v$renames", deletesOutstanding))
        case Compact | ZOrder =>
          // an empty table has nothing to compact: not generated into
          if (head.isEmpty) None
          else {
            if (o == Compact) SnapshotTable.compactSnapshot(spark, table)
            else SnapshotTable.compactZOrder(spark, table, Seq("k", value))
            Some(Version(head, None, value, false))
          }
        case Rollback(to) =>
          // the head becomes the target's state: its rows, names and deletes
          val target = math.min(to, model.size.toLong)
          SnapshotTable.rollback(table, target)
          Some(model((target - 1).toInt).copy(appended = None))
        case ConsolidateDVs =>
          val refused =
            try { SnapshotTable.consolidateDeleteVectors(spark, table); false }
            catch { case _: IllegalArgumentException => true }
          if (refused == deletesOutstanding)
            return Left(s"$o: refused=$refused with deletes outstanding=$deletesOutstanding")
          if (refused) None else same(head)
      }
      model = model ++ next
      val published = SnapshotTable.currentVersion(table)
      if (published != model.size)
        return Left(s"after $o: version $published, the model expects ${model.size}")
      val m = SnapshotTable.manifest(table, published)
      val decls = m.extra.view.filterKeys(k =>
        SnapshotTable.DeclKeys(k) && k != "renames").toMap
      if (decls != declared)
        return Left(s"after $o: the head declares $decls, the base $declared")
      val uncapped = m.files.filterNot(f =>
        f.stats.contains("k") && f.nstats.get("k").exists(_._2 <= MaxRows))
      if (uncapped.nonEmpty)
        return Left(s"after $o: ${uncapped.size} live file(s) without k stats or " +
          s"over $MaxRows rows: ${uncapped.map(_.line).mkString("; ")}")
    }
    Right((table, value, model))
  }

  /** The (key, value) rows of a read, by position: the value column's
    * name depends on the version read. */
  private def rowsOf(df: DataFrame): Rows =
    df.select(df.columns.take(2).map(col).toSeq: _*).collect().map(kv).toSeq.sorted

  private def drain(table: String, value: String, ckpt: String): Rows = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val q = spark.readStream.format(SnapshotSourceProvider.format)
      .option("path", table).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.select("k", value).collect().map(kv) }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    buf.synchronized(buf.toSeq)
  }

  // the drain and every version's read, incremental reads included,
  // are each checked against the model, not against one another
  test("property: a fresh AvailableNow drain equals SnapshotTable.read at head") {
    val prop = Prop.forAll(ops) { seq =>
      val root = java.nio.file.Files.createTempDirectory("graft_model").toString
      build(root, seq) match {
        case Left(why) => Prop.falsified :| s"ops=$seq\n$why"
        case Right((table, value, model)) =>
          def mismatch(what: String, got: Rows, want: Rows): Option[String] =
            if (got == want.sorted) None else Some(s"$what=$got model=${want.sorted}")
          val reads = model.indices.flatMap { i =>
            mismatch(s"read v${i + 1}",
              rowsOf(SnapshotTable.read(spark, table, Some(i + 1L))), model(i).rows)
          }
          // (from, to] where every version after `from` only appended
          def appended(v: Long): Option[Rows] = model((v - 1).toInt).appended
          val incs = for {
            to <- 2L to model.size
            from <- (to - 1) to 1L by -1
            if ((from + 1) to to).forall(appended(_).isDefined)
            bad <- mismatch(s"readIncremental ($from, $to]",
              rowsOf(SnapshotTable.readIncremental(spark, table, from, to)),
              ((from + 1) to to).flatMap(appended(_).get))
          } yield bad
          val bad = reads ++ incs ++
            mismatch("drain", drain(table, value, s"$root/ck").sorted, model.last.rows)
          Prop(bad.isEmpty) :| s"ops=$seq\n${bad.mkString("\n")}"
      }
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(15)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
