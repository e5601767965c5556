package graft.ice

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[IceTable.planMerges]], the one greedy candidate planner behind
  * merge / mergeAll / optimize, pinned on hand-built snapshots (no Spark
  * job): every quirk of the reference's policy (icedb/icedb.py:234-261). */
class MergePlannerSpec extends SparkSpec {

  private def m(partition: String, name: String, bytes: Long,
      tombstoned: Boolean = false): FileMarker =
    FileMarker(s"_data/$partition/$name.parquet", 0L, bytes,
      tombstone = if (tombstoned) Some(1L) else None)

  private def snap(files: FileMarker*): IceSnapshot =
    IceSnapshot(new Schema, files, Nil, Nil, 0L)

  /** partition -> file names, in plan order */
  private def plan(s: IceSnapshot, maxFileSize: Long = Long.MaxValue,
      maxFileCount: Int = 100, asc: Boolean = false): Seq[(String, Seq[String])] =
    IceTable.planMerges(s, maxFileSize, maxFileCount, asc).map { case (p, ms) =>
      p -> ms.map(_.path.split("/").last.stripSuffix(".parquet"))
    }

  test("the byte threshold is >= and counts the file that crosses it") {
    val s = snap(m("a", "f40", 40), m("a", "f10", 10), m("a", "f30", 30),
      m("a", "f20", 20))
    // 10 + 20 reaches 30 exactly: stop, the 20 included
    assert(plan(s, maxFileSize = 30) == Seq("a" -> Seq("f10", "f20")))
    assert(plan(s, maxFileSize = 25) == Seq("a" -> Seq("f10", "f20")))
    assert(plan(s, maxFileSize = 31) == Seq("a" -> Seq("f10", "f20", "f30")))
    // the smallest file alone reaching the threshold leaves a set of one
    assert(plan(s, maxFileSize = 10).isEmpty)
  }

  test("the count cap applies only once there is more than one file") {
    val s = snap(m("a", "f1", 1), m("a", "f2", 2), m("a", "f3", 3), m("a", "f4", 4))
    assert(plan(s, maxFileCount = 1) == Seq("a" -> Seq("f1", "f2")))
    assert(plan(s, maxFileCount = 2) == Seq("a" -> Seq("f1", "f2")))
    assert(plan(s, maxFileCount = 3) == Seq("a" -> Seq("f1", "f2", "f3")))
  }

  test("tombstoned markers count toward order and gate but never join a set") {
    val s = snap(
      // x: 4 markers (2 tombstoned, the smallest ones), 2 alive
      m("x", "t1", 1, tombstoned = true), m("x", "t2", 2, tombstoned = true),
      m("x", "a5", 5), m("x", "a6", 6),
      // y: 3 alive markers
      m("y", "b1", 1), m("y", "b2", 2), m("y", "b3", 3),
      // z: 1 alive + 2 tombstoned passes the grouped-count gate, still none
      m("z", "t3", 3, tombstoned = true), m("z", "t4", 4, tombstoned = true),
      m("z", "c1", 1))
    assert(plan(s) == Seq("x" -> Seq("a5", "a6"), "y" -> Seq("b1", "b2", "b3")))
    assert(plan(s, asc = true) ==
      Seq("y" -> Seq("b1", "b2", "b3"), "x" -> Seq("a5", "a6")))
    // tombstoned bytes never count toward the threshold either (1 + 2 + 5
    // would reach 8 at a5 and leave x a set of one)
    assert(plan(s, maxFileSize = 8) ==
      Seq("x" -> Seq("a5", "a6"), "y" -> Seq("b1", "b2", "b3")))
  }

  test("hot-first and cold-first order by file count, name as tiebreak") {
    val s = snap(
      m("c", "c1", 1), m("c", "c2", 2),
      m("b", "b1", 1), m("b", "b2", 2), m("b", "b3", 3),
      m("a", "a1", 1), m("a", "a2", 2), m("a", "a3", 3))
    assert(plan(s).map(_._1) == Seq("a", "b", "c"))
    assert(plan(s, asc = true).map(_._1) == Seq("c", "a", "b"))
  }

  test("a partition with exactly one alive file yields no candidate") {
    assert(plan(snap(m("a", "only", 5))).isEmpty)
    assert(plan(snap(m("a", "only", 5), m("a", "gone", 1, tombstoned = true),
      m("b", "b1", 1), m("b", "b2", 2))) == Seq("b" -> Seq("b1", "b2")))
  }

  test("merge() merges exactly the planner's first group") {
    import spark.implicits._
    val table = new IceTable(spark, tmpDir("planner_merge"), IceTableConfig(
      partitionExpr = concat(lit("u="), pmod($"user_id", lit(3))),
      sortOrder = Seq("event_id")))
    // partition u=0 gets an extra commit: the hottest, merged first
    (0 until 3).foreach(i => table.insert(
      (0 until 30).map(j => (i * 100L + j, j.toLong)).toDF("event_id", "user_id")))
    table.insert(Seq((999L, 0L)).toDF("event_id", "user_id"))
    val planned = IceTable.planMerges(table.snapshot(), 10_000_000L, 10, asc = false)
    assert(planned.head._1 == "u=0" && planned.length == 3)
    val r = table.merge().get
    assert(r.partition == planned.head._1)
    assert(r.mergedFileMarkers.map(_.path) == planned.head._2.map(_.path))
    assert(table.snapshot().aliveFiles.count(f => table.partitionOf(f.path) == "u=0") == 1)
  }
}
