package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotSourceProvider, SnapshotTable, SnapshotV2Provider}

/** Generated operation sequences against the snapshot table format.
  * Each sequence starts from one base commit of (k, v) rows and applies
  * up to five operations drawn from append, merge-on-read upsert, key
  * delete, position delete, metadata-only value-column rename and
  * compaction. The property: a fresh-checkpoint AvailableNow drain
  * through the stream format holds exactly the rows (as a multiset) a
  * batch read of the head holds. Fixed seed, bounded sizes; a failing
  * sequence shrinks to a shorter one, printed in the failure.
  */
class SnapshotModelSpec extends AnyFunSuite {
  import TestSpark._

  sealed trait Op
  case class Append(rows: List[(Long, Long)]) extends Op
  case class MergeMoR(rows: List[(Long, Long)]) extends Op
  case class DeleteKeys(keys: List[Long]) extends Op
  case class DeletePositions(key: Long) extends Op
  case object RenameValue extends Op
  case object Compact extends Op

  private val key = Gen.choose(0L, 11L)
  private val rows: Gen[List[(Long, Long)]] = for {
    n  <- Gen.choose(1, 3)
    rs <- Gen.listOfN(n, Gen.zip(key, Gen.choose(0L, 999L)))
  } yield rs.distinctBy(_._1)
  private val op: Gen[Op] = Gen.frequency(
    3 -> rows.map(Append(_)),
    3 -> rows.map(MergeMoR(_)),
    2 -> Gen.nonEmptyListOf(key).map(ks => DeleteKeys(ks.distinct.take(3))),
    2 -> key.map(DeletePositions(_)),
    1 -> Gen.const(RenameValue),
    1 -> Gen.const(Compact))
  private val ops: Gen[List[Op]] = Gen.choose(1, 5).flatMap(Gen.listOfN(_, op))

  private def kv(r: Row): (Long, Option[Long]) =
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))

  /** Apply `ops` to a fresh table; returns its path and the value
    * column's current name. */
  private def build(root: String, ops: List[Op]): (String, String) = {
    import spark.implicits._
    val table = s"$root/t"
    SnapshotTable.commit(
      spark.range(8).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    var value = "v"
    var renames = 0
    def frame(rs: List[(Long, Long)]): DataFrame = rs.toDF("k", value).coalesce(1)
    ops.foreach {
      case Append(rs)   => SnapshotTable.commit(frame(rs), table, append = true)
      case MergeMoR(rs) => SnapshotTable.mergeMoR(frame(rs), table, "k")
      case DeleteKeys(ks) => SnapshotTable.deleteKeys(ks.toDF("k"), table, "k")
      case DeletePositions(k) =>
        SnapshotTable.deletePositions(
          spark.read.format(SnapshotV2Provider.format).option("path", table).load()
            .where(col("k") === k).select("_file", "_pos"), table)
      case RenameValue =>
        renames += 1
        SnapshotTable.renameColumn(table, value, s"v$renames")
        value = s"v$renames"
      case Compact => SnapshotTable.compactSnapshot(spark, table)
    }
    (table, value)
  }

  private def drain(table: String, value: String, ckpt: String): Seq[(Long, Option[Long])] = {
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

  test("property: a fresh AvailableNow drain equals SnapshotTable.read at head") {
    val prop = Prop.forAll(ops) { seq =>
      val root = java.nio.file.Files.createTempDirectory("graft_model").toString
      val (table, value) = build(root, seq)
      val got = drain(table, value, s"$root/ck").sorted
      val want = SnapshotTable.read(spark, table).select("k", value)
        .collect().map(kv).toSeq.sorted
      Prop(got == want) :| s"ops=$seq\nstream=$got\nread=$want"
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(10)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
