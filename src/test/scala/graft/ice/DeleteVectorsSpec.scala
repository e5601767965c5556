package graft.ice

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read position deletes ([[DeleteVectors]]): delete rows with
  * one dv-table commit and no data rewrite, read them gone, time-travel
  * to before the delete, materialize only the affected files, vacuum the
  * stale positions. */
class DeleteVectorsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(name: String): IceTable =
    new IceTable(spark, tmpDir(name), IceTableConfig(
      partitionExpr = concat(lit("p="), (col("id") % 4).cast("string")),
      sortOrder = Seq("id")))

  private def batch(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("deleteWhere removes rows at read time without touching data files") {
    val t = mkTable("dv_basic")
    t.insert(batch(0, 400)); t.insert(batch(400, 800))
    val filesBefore = t.snapshot().aliveFiles.map(m => m.path -> m.fileBytes).toMap
    Thread.sleep(2)
    val preDeleteTs = System.currentTimeMillis()
    Thread.sleep(2)

    val marked = DeleteVectors.deleteWhere(t, col("id") % 10 === 3)
    assert(marked == 80, s"marked $marked")
    // main table untouched: same files, same bytes — but EVERY read
    // surface applies the marks (round 8: read()/SQL/DeleteVectors.read
    // agree with no materialize)
    assert(t.snapshot().aliveFiles.map(m => m.path -> m.fileBytes).toMap == filesBefore)
    assert(t.read().count() == 720)
    assert(t.readFiles(t.snapshot(), t.snapshot().aliveFiles).count() == 800,
      "raw marker-subset read stays dv-blind by contract")
    // merge-on-read excludes exactly the marked rows
    val r = DeleteVectors.read(t)
    assert(r.count() == 720)
    assert(r.where(col("id") % 10 === 3).count() == 0)
    assert(r.agg(sum("id")).head.getLong(0) ==
      (0L until 800L).filterNot(_ % 10 == 3).sum)
    // time travel to before the delete still sees everything
    assert(DeleteVectors.read(t, preDeleteTs).count() == 800)
    assert(t.read(preDeleteTs).count() == 800)
    // re-deleting is idempotent at read time
    DeleteVectors.deleteWhere(t, col("id") % 10 === 3)
    assert(DeleteVectors.read(t).count() == 720)
  }

  test("materialize rewrites only affected files; vacuum reclaims dv rows") {
    val t = mkTable("dv_mat")
    t.insert(batch(0, 400))   // 4 files (p=0..3)
    t.insert(batch(400, 800)) // 4 more
    // delete ids 0..39 → only rows in the FIRST insert's files
    assert(DeleteVectors.deleteWhere(t, col("id") < 40) == 40)
    val before = t.snapshot().aliveFiles.map(_.path).toSet
    val rewritten = DeleteVectors.materialize(t)
    assert(rewritten == 4, s"rewrote $rewritten") // first-insert files only
    val after = t.snapshot().aliveFiles.map(_.path).toSet
    assert((before intersect after).size == 4, "second insert's files must survive")
    // data now physically excludes the deleted rows; dv rows are stale
    assert(t.read().count() == 760)
    assert(DeleteVectors.read(t).count() == 760)
    val dropped = DeleteVectors.vacuum(t)
    assert(dropped == 40, s"vacuumed $dropped")
    assert(DeleteVectors.read(t).count() == 760)
    // a fresh delete still works end-to-end after materialize+vacuum
    assert(DeleteVectors.deleteWhere(t, col("id") === 100L) == 1)
    assert(DeleteVectors.read(t).count() == 759)
  }

  test("deletes survive compaction: merged output physically excludes them") {
    val t = mkTable("dv_merge")
    t.insert(batch(0, 200)); t.insert(batch(200, 400))
    assert(DeleteVectors.deleteWhere(t, col("id") % 10 === 7) == 40)
    // optimize rewrites every partition — the dv-aware merge read must
    // drop the marked rows, not resurrect them into the merged files
    t.optimize(maxFileSize = 1_000_000_000L, maxFileCount = 100)
    assert(t.read().count() == 360, "raw read after compaction")
    assert(DeleteVectors.read(t).count() == 360)
    assert(t.read().where(col("id") % 10 === 7).count() == 0)
    // stale marks reclaim; further deletes still work
    DeleteVectors.vacuum(t)
    assert(DeleteVectors.deleteWhere(t, col("id") === 7L) == 0) // already gone
    assert(DeleteVectors.deleteWhere(t, col("id") === 1L) == 1)
    assert(DeleteVectors.read(t).count() == 359)
  }

  test("deletes survive CoW update/upsert of marked files") {
    val t = mkTable("dv_dml")
    t.insert(batch(0, 100))
    assert(DeleteVectors.deleteWhere(t, col("id") < 8) == 8)
    // update touches the same files; the rewrite must apply the marks
    val updated = t.updateWhere(col("id").between(8, 11), Seq("v" -> lit("u")))
    assert(updated == 4)
    assert(t.read().count() == 92, "update rewrite must apply deletes")
    assert(t.read().where(col("id") < 8).count() == 0)
    // upsert of keys in the same files keeps the deletes applied too
    val (replaced, inserted) = t.upsert(
      (12 until 14).map(i => (i.toLong, "up")).toDF("id", "v"), Seq("id"))
    assert(replaced == 2 && inserted == 2)
    assert(t.read().count() == 92)
    assert(t.read().where(col("id") < 8).count() == 0)
  }

  test("dv table compaction dedups positions and answers stay stable") {
    val t = mkTable("dv_compact")
    t.insert(batch(0, 200))
    DeleteVectors.deleteWhere(t, col("id") < 10)
    DeleteVectors.deleteWhere(t, col("id") < 20) // overlap re-marks 0..9
    val dv = DeleteVectors.dvTable(t)
    assert(dv.read().count() == 30) // 10 duplicate positions pre-compaction
    dv.optimize(maxFileSize = 1_000_000_000L, maxFileCount = 100)
    assert(dv.read().count() == 20) // dedup merge SQL collapsed them
    assert(DeleteVectors.read(t).count() == 180)
  }

  private def twoPartTable(name: String): IceTable =
    new IceTable(spark, tmpDir(name), IceTableConfig(
      partitionExpr = concat(lit("p="), (col("id") % 2).cast("string")),
      sortOrder = Seq("id")))

  test("materialize replaces a file whose every row is deleted with nothing") {
    val t = twoPartTable("dv_mat_all")
    t.insert(batch(0, 100)); t.insert(batch(100, 200)) // 2 files per insert
    assert(DeleteVectors.deleteWhere(t, col("id") < 100) == 100)
    assert(DeleteVectors.materialize(t) == 2)
    val alive = t.snapshot().aliveFiles
    assert(alive.length == 2, s"alive: ${alive.map(_.path)}")
    assert(!alive.exists(_.rowCount.contains(0L)), "a zero-row file stayed alive")
    assert(t.read().count() == 100)
  }

  test("optimize replaces a partition whose every row is deleted with nothing") {
    val t = twoPartTable("dv_opt_all")
    t.insert(batch(0, 100)); t.insert(batch(100, 200))
    assert(DeleteVectors.deleteWhere(t, col("id") % 2 === 0) == 100) // all of p=0
    assert(t.optimize(maxFileSize = 1_000_000_000L, maxFileCount = 100) == 2)
    val alive = t.snapshot().aliveFiles
    assert(alive.map(m => t.partitionOf(m.path)) == Seq("p=1"),
      s"alive: ${alive.map(m => m.path -> m.rowCount)}")
    assert(t.read().count() == 100)
  }

  test("a failing dv probe propagates instead of resurrecting deleted rows") {
    spark.sparkContext.hadoopConfiguration.set("fs.flakydv.impl",
      classOf[FlakyDvFileSystem].getName)
    val t = new IceTable(spark, s"flakydv:${tmpDir("dv_flaky_probe")}",
      IceTableConfig(partitionExpr = lit("all"), sortOrder = Seq("id")))
    t.insert(batch(0, 100))
    assert(DeleteVectors.deleteWhere(t, col("id") < 10) == 10)
    FlakyDvFileSystem.armStatusFailure()
    try {
      val e = intercept[Exception](t.read().collect())
      assert(e.isInstanceOf[java.io.IOException], s"unexpected: $e")
    } finally FlakyDvFileSystem.disarm()
    assert(t.read().count() == 90) // the blip gone, the marks apply again
  }
}
