package graft.ice

import graft.SparkSpec
import graft.plans.PlanScans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one scan path: every marker scan plans through `IceFileIndex`, so
  * `read().where(...)` skips files by log-side stats like the catalog
  * relation; explicit marker lists stay deletion-vector-blind in a session
  * with the `IceDvOverlay` rule; and the key-set rewrite applies
  * deletion vectors exactly once. */
class ScanPathSpec extends SparkSpec {
  import spark.implicits._

  /** Files the scans of `t` itself read (not its `_dv` side table's). */
  private def filesRead(t: IceTable, df: DataFrame): Long =
    PlanScans.fileScans(df)
      .filter(_.relation.location.rootPaths.map(_.toUri.getPath) == Seq(t.root))
      .map(_.metrics("numFiles").value).sum

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def mkTable(name: String): IceTable =
    new IceTable(spark, tmpDir(name), IceTableConfig(
      partitionExpr = concat(lit("p="), (col("id") % 4).cast("string")),
      sortOrder = Seq("id")))

  test("read().where on the stats column scans exactly filesInStatsRange's files") {
    val t = new IceTable(spark, tmpDir("scan_stats"), IceTableConfig(
      // v-range quartiles: disjoint [min, max] per file
      partitionExpr = concat(lit("q="), floor(col("v") / 25)),
      sortOrder = Seq("v"), statsColumn = Some("v")))
    t.insert((0 until 100).map(i => (i.toLong, s"n$i")).toDF("v", "name"))
    val snap = t.snapshot()
    val want = t.filesInStatsRange(snap, "30", "60")
    assert(want.length == 2 && snap.aliveFiles.length == 4)
    def check(expected: Set[Long]): Unit = {
      val df = t.read().where(col("v").between(30L, 60L))
      val got = df.collect().map(_.getLong(0)).toSet
      assert(filesRead(t, df) == want.length)
      assert(got == expected)
    }
    // rows equal to the unpruned filter
    check(t.read().collect().map(_.getLong(0)).filter(v => v >= 30 && v <= 60).toSet)
    // the pushed filter reaches the scan through the deletion-vector
    // anti-join too
    DeleteVectors.deleteWhere(t, col("v") === 31L)
    check((30L to 60L).toSet - 31L)
  }

  test("stats columns whose footer stats are not the filter's values never prune") {
    // ten ids per file. A DECIMAL's footer stats are its unscaled integer
    // (1.00 records "100"), a DATE's its day number (file 1 spans days
    // 9995..10004, which compare wrongly as strings), and CAST(w AS INT)
    // truncates (10.5 passes `<= 10` though the stats minimum does not)
    val t = new IceTable(spark, tmpDir("scan_stats_types"), IceTableConfig(
      partitionExpr = concat(lit("q="), floor(col("id") / 10)),
      sortOrder = Seq("id"), statsColumns = Seq("price", "d", "w")))
    t.insert((0 until 40).map(i => (i.toLong, i / 10.0, 9985L + i, i + 0.5))
      .toDF("id", "p", "day", "w")
      .select(col("id"), col("p").cast("decimal(10,2)").as("price"),
        date_from_unix_date(col("day").cast("int")).as("d"), col("w")))
    assert(t.snapshot().aliveFiles.length == 4)
    def check(filter: org.apache.spark.sql.Column, expected: Set[Long]): Unit = {
      val df = t.read().where(filter)
      assert(df.collect().map(_.getAs[Long]("id")).toSet == expected, filter.toString)
      assert(filesRead(t, df) == 4, filter.toString)
    }
    check(col("price") < 1.5, (0L to 14L).toSet)
    check(col("d") === lit(java.time.LocalDate.ofEpochDay(10000)), Set(15L))
    check(col("w").cast("int") <= 10, (0L to 10L).toSet)
  }

  test("explicit marker scans stay dv-blind in the extension session") {
    val t = mkTable("scan_blind")
    t.insert((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeleteVectors.deleteWhere(t, col("id") < 10L)
    assert(t.read().count() == 90)
    val snap = t.snapshot()
    val raw = t.readFiles(snap, snap.aliveFiles)
    assert(raw.count() == 100, "deleted rows are still in the raw scan")
    val pos = raw.select(col("id"), col("_metadata.row_index").as("r"))
    assert(pos.where(col("id") < 10L).count() == 10)
    // a self-join deduplicates the relation (a plan copy) and must analyze
    // and stay blind
    val self = raw.as("a").join(raw.as("b"), col("a.id") === col("b.id"))
    assert(self.count() == 100)
    // while format("ice") still applies the marks on both sides of its
    // own self-join
    val f = spark.read.format("ice").option("path", t.root).load()
    assert(f.as("a").join(f.as("b"), col("a.id") === col("b.id")).count() == 90)
  }

  test("deleteKeys on a table with deletion vectors") {
    val t = mkTable("scan_delkeys")
    t.insert((0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    DeleteVectors.deleteWhere(t, col("id") < 8L)
    // p=1 holds 1, 5, 9, ..., 37: 1 and 5 are marked, the rest are keyed,
    // so that file empties; 12 comes out of p=0; 0, 1, 2 are already gone
    val keys = Seq(0L, 1L, 2L, 12L) ++ (9L to 37L by 4L)
    assert(t.deleteKeys(keys.toDF("id"), Seq("id")) == 9L,
      "already-deleted rows are not counted")
    val expected = (8L until 40L).filterNot(i => i % 4 == 1 || i == 12).toSet
    assert(ids(t.read()) == expected, "deleted rows stay deleted")
    val alive = t.snapshot().aliveFiles
    assert(!alive.exists(m => t.partitionOf(m.path) == "p=1"),
      "a fully emptied file is tombstoned, not kept alive")
    assert(alive.forall(_.rowCount.forall(_ > 0)))
  }

  test("upsert into a table whose every file was deleted appends") {
    val t = mkTable("scan_upsert_empty")
    t.insert((0 until 8).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assert(t.deleteWhere(lit(true)) == 8L)
    assert(t.snapshot().aliveFiles.isEmpty)
    val src = (4 until 12).map(i => (i.toLong, s"u$i")).toDF("id", "v")
    assert(t.upsert(src, Seq("id")) == ((0L, 8L)))
    assert(ids(t.read()) == (4L until 12L).toSet)
  }
}
