package graft.ice

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A12-A14: merge-time aggregation semantics (AggregatingMergeTree /
  * ReplacingMergeTree / dedup-by-_row_id), ported from
  * examples/custom-merge-aggregation.py, custom-merge-replacing.py and
  * README.md:736-794. The invariant in every case: the query answer is
  * identical before compaction, mid-compaction, and after full compaction.
  */
class CustomMergeSpec extends SparkSpec {
  import spark.implicits._

  private def eventsV1: DataFrame = Seq(
    (1000L, "login", "u1"), (1000L, "login", "u2"), (1000L, "login", "u3"),
    (1500L, "browse", "u1")
  ).toDF("ts", "event", "user_id")

  private def eventsV2: DataFrame = Seq(
    (2000L, "purchase", "u1"), (2500L, "logout", "u2")
  ).toDF("ts", "event", "user_id")

  test("A13 ReplacingMergeTree: keep latest row per key across merges") {
    val cfg = IceTableConfig(
      partitionExpr = concat(lit("u="), col("user_id")),
      sortOrder = Seq("ts"),
      customMergeSql = Some(
        """select user_id, max_by(event, ts) as event, max(ts) as ts
          |from source_files group by user_id""".stripMargin))
    val table = new IceTable(spark, tmpDir("replacing"), cfg)
    table.insert(eventsV1)
    table.insert(eventsV2)

    // query-time must re-apply the same aggregation (README.md:755-769)
    def latest(): Map[String, (String, Long)] =
      table.read().groupBy($"user_id")
        .agg(max_by($"event", $"ts").as("event"), max($"ts").as("ts"))
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap

    val expected = Map(
      "u1" -> ("purchase", 2000L), "u2" -> ("logout", 2500L),
      "u3" -> ("login", 1000L))
    assert(latest() == expected)
    assert(table.mergeAll() > 0)
    assert(latest() == expected)
    // fully merged: physically one row per user
    assert(table.read().count() == 3)
  }

  test("A12 AggregatingMergeTree with A4 custom insert: sum(cnt) == count(*)") {
    val cfg = IceTableConfig(
      partitionExpr = concat(lit("u="), col("user_id")),
      sortOrder = Seq("ts"),
      customInsertSql = Some(
        "select ts, event, user_id, cast(1 as bigint) as cnt from _rows"),
      customMergeSql = Some(
        """select user_id, event, max(ts) as ts,
          |cast(sum(cnt) as bigint) as cnt
          |from source_files group by user_id, event""".stripMargin))
    val table = new IceTable(spark, tmpDir("aggregating"), cfg)
    table.insert(eventsV1)
    table.insert(eventsV1)
    table.insert(eventsV2)

    // seeded state: query-time re-aggregation (README.md:655-687)
    def counts(): Map[String, Long] =
      table.read().groupBy($"event").agg(sum($"cnt").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val expected = Map(
      "login" -> 6L, "browse" -> 2L, "purchase" -> 1L, "logout" -> 1L)
    assert(counts() == expected)
    assert(table.mergeAll() > 0)
    assert(counts() == expected)
    // u1's partition collapsed to one row per (user, event)
    val u1 = table.read().where($"user_id" === "u1")
    assert(u1.count() == 3)
    assert(u1.where($"event" === "login").select("cnt").as[Long].head() == 2L)
  }

  test("A23 formatRow pre-insert hook and A5 getSchema introspection") {
    val cfg = IceTableConfig(
      partitionExpr = lit("d=all"),
      sortOrder = Seq("ts"),
      formatRow = Some(df => df.withColumn("event", upper($"event"))))
    val table = new IceTable(spark, tmpDir("fmt"), cfg)
    // A5: introspect before inserting (reference get_schema)
    assert(table.getSchema(eventsV1).toJson ==
      """{"ts": "BIGINT", "event": "VARCHAR", "user_id": "VARCHAR"}""")
    table.insert(eventsV1)
    assert(table.read().where($"event" === "LOGIN").count() == 3)
  }

  test("A14 dedup merge: any_value grouped by deterministic _row_id") {
    val cfg = IceTableConfig(
      partitionExpr = lit("d=all"),
      sortOrder = Seq("_row_id"),
      customMergeSql = Some(
        """select any_value(ts) as ts, any_value(event) as event,
          |any_value(user_id) as user_id, _row_id
          |from source_files group by _row_id""".stripMargin))
    val table = new IceTable(spark, tmpDir("dedup"), cfg)
    val withId = eventsV1.withColumn("_row_id",
      md5(concat_ws("|", $"ts", $"event", $"user_id")))
    table.insert(withId)
    table.insert(withId) // exact duplicate batch

    // query-time dedup (README.md:743-751)
    def dedupCount(): Long =
      table.read().groupBy($"_row_id")
        .agg(first($"user_id").as("user_id")).count()

    assert(table.read().count() == 8)
    assert(dedupCount() == 4)
    assert(table.mergeAll() > 0)
    assert(table.read().count() == 4) // physically deduped
    assert(dedupCount() == 4)
  }

  test("merge() with custom merge SQL leaves no source_files view behind") {
    // streaming sinks and the HTTP API call merge() on every micro-batch /
    // timer tick: one leaked temp view per call grows the session catalog
    // without bound
    val cfg = IceTableConfig(
      partitionExpr = concat(lit("u="), col("user_id")),
      sortOrder = Seq("ts"),
      customMergeSql = Some(
        """select user_id, max_by(event, ts) as event, max(ts) as ts
          |from source_files group by user_id""".stripMargin))
    val table = new IceTable(spark, tmpDir("merge_views"), cfg)
    (0 until 3).foreach { _ => table.insert(eventsV1); table.insert(eventsV2) }
    val merged = Iterator.continually(table.merge()).takeWhile(_.isDefined).length
    assert(merged >= 3)
    val leaked = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("source_files_"))
    assert(leaked.isEmpty, s"leaked temp views: ${leaked.mkString(", ")}")
  }
}
