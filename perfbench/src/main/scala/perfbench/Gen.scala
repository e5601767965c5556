package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a row multiset: the engine must hand back
  * exactly the rows the generator made, in any order and file layout. */
final case class Checksum(rows: Long, sumTs: Long, sumCnt: Long, sumCrc: Long, sumFlt100: Long) {
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, sumTs + o.sumTs,
    sumCnt + o.sumCnt, sumCrc + o.sumCrc, sumFlt100 + o.sumFlt100)
}

object Checksum {
  val zero: Checksum = Checksum(0, 0, 0, 0, 0)

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  def ofRow(ts: Long, event: String, user: String, props: String, flt100: Long, cnt: Long): Checksum =
    Checksum(1, ts, cnt, crc(s"$user|$event|$props"), flt100)

  /** The same digest computed by Spark over a table read. */
  def of(df: DataFrame): Checksum = {
    val r = df.agg(count(lit(1)), sum(col("ts")), sum(col("cnt")),
      sum(crc32(concat_ws("|", col("user_id"), col("event"), col("properties")).cast("binary"))),
      sum(round(col("flt") * 100).cast("long"))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Checksum(l(0), l(1), l(2), l(3), l(4))
  }
}

/** One generated commit: rows plus everything a check needs to know. */
final case class EventBatch(index: Int, rows: IndexedSeq[Row], tsLo: Long, tsHi: Long,
    checksum: Checksum, perUser: Map[String, (Long, Long)]) {
  def size: Int = rows.length
  def toDF(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), EventGen.schema)
}

/** Seeded `example_events`-shaped batches. Batch `i` depends only on
  * (seed, i), so any batch can be regenerated without the ones before it. */
final class EventGen(seed: Long, bigEvery: Int = 16) {
  import EventGen._

  private def rng(i: Int, salt: Int) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt)

  /** Rows in batch `i`: small, except every `bigEvery`-th from batch
    * `bigEvery / 2` on. */
  def size(i: Int): Int = {
    val r = rng(i, 0)
    val (lo, hi) =
      if (bigEvery > 0 && i % bigEvery == bigEvery / 2) BigRows else SmallRows
    lo + r.nextInt(hi - lo + 1)
  }

  def batch(i: Int): EventBatch = {
    val r = rng(i, 1)
    val n = size(i)
    // each batch owns its own 10-second slice of one day, so a filter on
    // ts finds exactly this batch's rows
    val tsLo = BaseTs + i.toLong * 10000L
    val rows = new Array[Row](n)
    var ck = Checksum.zero
    val perUser = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var j = 0
    while (j < n) {
      val ts = tsLo + r.nextInt(10000)
      val event = Events(r.nextInt(Events.length))
      val user = Users(r.nextInt(Users.length))
      val props = s"""{"page":"/p/${r.nextInt(50)}","n":${r.nextInt(1000)}}"""
      val flt100 = r.nextInt(100000).toLong
      val cnt = 1L + r.nextInt(10)
      rows(j) = Row(ts, event, user, props, flt100 / 100.0, cnt)
      ck = ck + Checksum.ofRow(ts, event, user, props, flt100, cnt)
      val (c, s) = perUser.getOrElse(user, (0L, 0L))
      perUser(user) = (c + 1, s + cnt)
      j += 1
    }
    EventBatch(i, rows.toIndexedSeq, tsLo, tsLo + 10000L, ck, perUser.toMap)
  }
}

object EventGen {
  val BaseTs = 1704067200000L // 2024-01-01T00:00:00Z
  val SmallRows: (Int, Int) = (1000, 2000)
  val BigRows: (Int, Int) = (90000, 110000)
  val Events: Array[String] = Array("page_view", "click", "signup", "purchase",
    "search", "logout", "error", "share")
  val Users: Array[String] = Array.tabulate(16)(i => f"user_$i%02d")
  val schema: StructType = StructType(Seq(
    StructField("ts", LongType), StructField("event", StringType),
    StructField("user_id", StringType), StructField("properties", StringType),
    StructField("flt", DoubleType), StructField("cnt", LongType)))

  /** icedb's `u={user_id}/d={date}` spec: 16 partitions for one day. */
  val partitionExpr: Column = concat(lit("u="), col("user_id"), lit("/d="),
    date_format(timestamp_millis(col("ts")), "yyyy-MM-dd"))
}

/** Seeded (key, value) batches for the aggregating-merge table; the
  * expected per-key sums accumulate as batches are drawn. */
final class KeyGen(seed: Long) {
  val schema: StructType = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  def batch(i: Int, rows: Int): (IndexedSeq[Row], Map[String, Long]) = {
    val r = new SplittableRandom(seed * 31 + i * 0x632BE59BD9B4E019L + 7)
    val sums = scala.collection.mutable.Map.empty[String, Long]
    val out = (0 until rows).map { _ =>
      val key = KeyGen.key(r.nextInt(KeyGen.Keys))
      val v = 1L + r.nextInt(100)
      sums(key) = sums.getOrElse(key, 0L) + v
      Row(key, v)
    }
    (out, sums.toMap)
  }
}

object KeyGen {
  val Keys = 512
  def key(i: Int): String = f"g${i % 4}-$i%04d"
  val partitionExpr: Column = concat(lit("g="), substring(col("k"), 2, 1))
  val mergeSql: String =
    "select k, cast(sum(v) as bigint) as v from source_files group by k"
}
