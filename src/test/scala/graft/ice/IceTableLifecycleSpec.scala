package graft.ice

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Port of integration_test.py (insert ×3 → merge → clean → scale loop →
  * merges → clean → remove → rewrite) with the reference's count/log/file
  * invariants, parameterized to n=20 extra inserts instead of 100 to keep
  * job count sane (invariant formulas below follow
  * integration_test.py:119-521 exactly).
  */
class IceTableLifecycleSpec extends SparkSpec {
  import spark.implicits._

  // integration_test.py:40-110 fixture (cust=test/d={date} partition,
  // sort [event, ts])
  private def exampleEvents: DataFrame = Seq(
    (1686176939445L, "page_load", "a", """{"hey": "ho", "numtime": 1}"""),
    (1676126229999L, "page_load", "b", """{"hey": "hoerger", "numtime": 1}"""),
    (1686176939666L, "something_else", "a", """{"hey": "ho", "numtime": 1}""")
  ).toDF("ts", "event", "user_id", "properties")

  private def newTable(): IceTable = {
    val cfg = IceTableConfig(
      partitionExpr = concat(lit("cust=test/d="),
        date_format(timestamp_millis(col("ts")), "yyyy-MM-dd")),
      sortOrder = Seq("event", "ts"))
    new IceTable(spark, tmpDir("icetable"), cfg)
  }

  private def countsByUser(df: DataFrame): Map[String, Long] =
    df.groupBy("user_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("schema introspection matches the reference's exact JSON") {
    // integration_test.py:113-117
    val s = Schema.fromStructType(exampleEvents.schema)
    assert(s.toJson ==
      """{"ts": "BIGINT", "event": "VARCHAR", "user_id": "VARCHAR", "properties": "VARCHAR"}""")
  }

  test("quickstart: insert → snapshot → group-by (README.md:183-190)") {
    val table = newTable()
    table.insert(exampleEvents)
    val snap = table.snapshot()
    assert(snap.aliveFiles.length == 2) // one file per touched partition
    assert(snap.logFiles.length == 1)
    // files land under _data/{partition}/{uuid}.parquet
    assert(snap.aliveFiles.forall(f => f.path.startsWith("_data/cust=test/d=")))
    assert(table.partitionOf(snap.aliveFiles.head.path).startsWith("cust=test/d="))

    val res = table.read()
      .groupBy($"user_id", get_json_object($"properties", "$.hey").as("hey"))
      .count().orderBy($"count".desc, $"user_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(res.toSeq == Seq(("a", "ho", 2L), ("b", "hoerger", 1L)))
  }

  test("A2 parity: Row => String partition closure routes like the Column form") {
    // reference part_func is an arbitrary per-row callable (icedb.py:22);
    // the closure form must land rows in the identical partitions the
    // declarative Column expression does
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    val cfg = IceTableConfig(
      partitionExpr = lit("unused-when-partitionFunc-set"),
      sortOrder = Seq("event", "ts"),
      partitionFunc = Some(r => "cust=test/d=" +
        fmt.format(java.time.Instant.ofEpochMilli(r.getAs[Long]("ts")))))
    val table = new IceTable(spark, tmpDir("partfunc"), cfg)
    table.insert(exampleEvents)
    val snap = table.snapshot()
    assert(snap.aliveFiles.length == 2)
    val parts = snap.aliveFiles.map(f => table.partitionOf(f.path)).toSet
    assert(parts == Set("cust=test/d=2023-06-07", "cust=test/d=2023-02-11"))
    assert(table.read().count() == 3L)
    assert(countsByUser(table.read()) == Map("a" -> 2L, "b" -> 1L))
  }

  test("full lifecycle: inserts, merge, cleanup, scale loop, remove, rewrite") {
    val table = newTable()

    // ---- 3 inserts (integration_test.py:119-202)
    table.insert(exampleEvents)
    val firstLogs = table.snapshot().logFiles
    assert(countsByUser(table.read()) == Map("a" -> 2L, "b" -> 1L))
    table.insert(exampleEvents)
    assert(countsByUser(table.read()) == Map("a" -> 4L, "b" -> 2L))
    table.insert(exampleEvents)
    var snap = table.snapshot()
    assert(snap.logFiles.length == 3)
    assert(snap.files.length == 6)
    assert(countsByUser(table.read()) == Map("a" -> 6L, "b" -> 3L))

    // ---- merge with max_file_count=2 (integration_test.py:204-257)
    val mr = table.merge(maxFileCount = 2)
    assert(mr.isDefined)
    assert(mr.get.mergedFileMarkers.length == 2)
    snap = table.snapshot()
    assert(snap.logFiles.length == 4)
    assert(snap.files.length == 7) // 6 + 1 merged
    assert(snap.aliveFiles.length == 5)
    assert(snap.files.count(_.tombstone.isDefined) == 2)
    assert(snap.tombstones.nonEmpty)
    assert(snap.tombstones.forall(t => firstLogs.contains(t.path) ||
      snap.logFiles.contains(t.path) || t.path.startsWith("_log/")))
    assert(countsByUser(table.read()) == Map("a" -> 6L, "b" -> 3L))

    // ---- tombstone cleanup (integration_test.py:259-309)
    val cr = table.tombstoneCleanup(0)
    assert(cr.cleanedLogFiles.nonEmpty)
    snap = table.snapshot()
    assert(snap.logFiles.length == 2)
    assert(snap.aliveFiles.length == 5)
    assert(snap.files.count(_.tombstone.isDefined) == 0)
    assert(countsByUser(table.read()) == Map("a" -> 6L, "b" -> 3L))

    // ---- scale loop, n=20 (integration_test.py:311-343 with n=100)
    val n = 20
    (1 to n).foreach(_ => table.insert(exampleEvents))
    snap = table.snapshot()
    assert(snap.logFiles.length == 2 + n)
    assert(snap.files.length == 5 + 2 * n)
    val aAll = 6L + 2 * n; val bAll = 3L + n
    assert(countsByUser(table.read()) == Map("a" -> aAll, "b" -> bAll))

    // ---- single big merge (integration_test.py:345-370)
    assert(table.merge(maxFileSize = 1_000_000_000L, maxFileCount = 2000).isDefined)
    snap = table.snapshot()
    assert(snap.logFiles.length == 3 + n)
    assert(snap.files.length == 6 + 2 * n)
    assert(countsByUser(table.read()) == Map("a" -> aAll, "b" -> bAll))

    // ---- 4 more merges; exactly one should do work (py:373-399)
    val did = (1 to 4).map(_ =>
      table.merge(maxFileSize = 1_000_000_000L, maxFileCount = 200).isDefined)
    assert(did.count(identity) == 1)
    snap = table.snapshot()
    assert(snap.logFiles.length == 4 + n)
    assert(snap.files.length == 7 + 2 * n)
    assert(countsByUser(table.read()) == Map("a" -> aAll, "b" -> bAll))

    // ---- cleanup collapses to 1 log / 2 files (py:401-426)
    table.tombstoneCleanup(0)
    snap = table.snapshot()
    assert(snap.logFiles.length == 1)
    assert(snap.files.length == 2)
    assert(snap.aliveFiles.length == 2)
    assert(countsByUser(table.read()) == Map("a" -> aAll, "b" -> bAll))

    // ---- partition removal (py:459-489)
    val (newLog, _, deleted) = table.removePartitions(
      parts => parts.filter(_ == "cust=test/d=2023-02-11"))
    assert(newLog.isDefined && deleted == 1)
    snap = table.snapshot()
    assert(snap.logFiles.length == 2)
    assert(snap.aliveFiles.length == 1)
    assert(snap.files.length == 2)
    assert(countsByUser(table.read()) == Map("a" -> aAll))

    // ---- partition rewrite (py:491-521)
    val (rwLog, _, rewritten) = table.rewritePartition(
      "cust=test/d=2023-06-07", "select * from _rows where event != 'page_load'")
    assert(rwLog.isDefined && rewritten.length == 1)
    snap = table.snapshot()
    assert(snap.logFiles.length == 3)
    assert(snap.aliveFiles.length == 1)
    assert(snap.files.length == 3)
    assert(countsByUser(table.read()) == Map("a" -> (aAll / 2)))
  }

  test("rewritePartition replaces a file its filter empties with nothing") {
    val t = new IceTable(spark, tmpDir("rewrite_empty"), IceTableConfig(
      partitionExpr = lit("p=0"), sortOrder = Seq("id")))
    t.insert(Seq((1L, "keep"), (2L, "keep")).toDF("id", "v"))
    t.insert(Seq((3L, "drop")).toDF("id", "v"))
    val (_, _, rewritten) = t.rewritePartition("p=0", "select * from _rows where v = 'keep'")
    assert(rewritten.length == 2)
    val alive = t.snapshot().aliveFiles
    assert(!alive.exists(_.rowCount.contains(0L)),
      s"a zero-row file stayed alive: ${alive.map(m => m.path -> m.rowCount)}")
    assert(alive.length == 1)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "keep"), (2L, "keep")))
  }

  test("time travel reads the state strictly before a timestamp") {
    val table = newTable()
    table.insert(exampleEvents)
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    table.insert(exampleEvents)
    assert(table.read(between).count() == 3)
    assert(table.read().count() == 6)
  }

  test("schema evolution: union schema, absent columns read as null") {
    val table = newTable()
    table.insert(exampleEvents.drop("properties"))
    table.insert(exampleEvents.withColumn("extra", lit(42L)))
    val snap = table.snapshot()
    assert(snap.schema.columns == Seq("ts", "event", "user_id", "properties", "extra"))
    val df = table.read()
    assert(df.where($"properties".isNull).count() == 3)
    assert(df.where($"extra".isNull).count() == 3)
    assert(df.count() == 6)
  }

  test("schema conflict on insert fails loudly") {
    val table = newTable()
    table.insert(exampleEvents)
    intercept[SchemaConflictException] {
      table.insert(exampleEvents.withColumn("user_id", lit(111L)))
      table.snapshot() // conflict surfaces at log-fold time
    }
  }

  test("partition-range pruning (A18, get_files semantics)") {
    val table = newTable()
    table.insert(exampleEvents)
    val snap = table.snapshot()
    val lo = "cust=test/d=2023-06-01"; val hi = "cust=test/d=2023-06-30"
    val pruned = table.filesInPartitionRange(snap, lo, hi)
    assert(pruned.length == 1)
    assert(table.readPartitionRange(lo, hi).count() == 2) // only user a's day
  }

  test("preserved _partition fast path routes without the partition function") {
    val cfg = IceTableConfig(
      partitionExpr = lit("unused"), sortOrder = Seq("ts"))
    val table = new IceTable(spark, tmpDir("icetable"), cfg)
    table.insert(exampleEvents.withColumn("_partition", concat(lit("u="), $"user_id")))
    val snap = table.snapshot()
    // _partition dropped from data by default (icedb.py:191-196)
    assert(snap.schema.columns == Seq("ts", "event", "user_id", "properties"))
    assert(snap.aliveFiles.map(f => table.partitionOf(f.path)).sorted ==
      Seq("u=a", "u=b"))
  }

  test("intra-part sort order is applied (A3)") {
    val table = newTable()
    table.insert(exampleEvents)
    // within each file rows are sorted by (event, ts)
    val snap = table.snapshot()
    snap.aliveFiles.foreach { m =>
      val rows = spark.read.parquet(s"${table.root}/${m.path}")
        .select("event", "ts").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)))
    }
  }
}
