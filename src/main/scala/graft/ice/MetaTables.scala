package graft.ice

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Iceberg-style METADATA TABLES over the transaction log — the state a
  * 100 TB operator actually interrogates before touching data:
  *
  *   SELECT * FROM table_files('t')       -- one row per alive data file
  *   SELECT * FROM table_partitions('t')  -- per-partition file/row/byte totals
  *   SELECT * FROM table_history('t')     -- one row per commit (DESCRIBE HISTORY)
  *
  * all of them time-travelable (optional second `asOf` argument,
  * inclusive ms like `TIMESTAMP AS OF`) because they are pure functions
  * of the same snapshot fold every read uses. TVFs rather than 3-part
  * `graft.t.files` names because the session catalog rejects multi-part
  * namespaces before extension resolution rules run — the table_changes
  * precedent.
  *
  * Counts are PHYSICAL parquet rows (Iceberg's `record_count` semantics):
  * file/partition row counts come from DISTRIBUTED parquet footer reads —
  * metadata IO only, never data pages — so `files` over a million-file
  * table is one map stage over paths, not a table scan. Tables carrying
  * merge-on-read delete vectors report pre-delete counts here, exactly
  * like Iceberg's files table does; the dv-adjusted logical count is a
  * `count(*)` query away.
  *
  * Reference analog: none — the reference exposes log state only through
  * its Python API (`icedb/icedb.py` log fold); this is that state as a
  * first-class SQL relation. */
object MetaTables {

  /** The suffixes `graft.<t>.<suffix>` resolves as metadata relations. */
  val Names: Set[String] = Set("files", "partitions", "history")

  def relation(t: IceTable, meta: String, maxTs: Long): DataFrame =
    meta match {
      case "files" => files(t, maxTs)
      case "partitions" => partitions(t, maxTs)
      case "history" => t.history(maxTs)
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' (expected ${Names.mkString("/")})")
    }

  private val filesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("partition", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("created_ms", LongType, nullable = false)))

  /** One row per ALIVE file of the snapshot: root-relative path,
    * partition, marker bytes/created-ms from the log, physical row count
    * from the file's own footer (read where the file lives, in parallel —
    * the markers are driver-side file-count-scale metadata, as
    * everywhere in the engine, but the counts never funnel through the
    * driver). */
  def files(t: IceTable, maxTs: Long = Long.MaxValue): DataFrame = {
    val spark = t.spark
    val markers = t.trySnapshot(maxTs).map(_.aliveFiles).getOrElse(Seq.empty)
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(
        markers.map(m => Row(m.path, t.partitionOf(m.path),
          m.fileBytes, m.createdMs)),
        math.max(1, math.min(markers.size,
          spark.sparkContext.defaultParallelism))),
      filesSchema)
    base.join(footerRowCounts(spark, t.root, markers.map(_.path)), Seq("file"))
      .select(col("file"), col("partition"), col("row_count"),
        col("bytes"), col("created_ms"))
  }

  /** Per-partition rollup of [[files]] — what a maintenance planner reads
    * to pick compaction/skew targets without listing anything. */
  def partitions(t: IceTable, maxTs: Long = Long.MaxValue): DataFrame =
    files(t, maxTs).groupBy("partition")
      .agg(count(lit(1)).as("file_count"),
        sum("row_count").as("row_count"),
        sum("bytes").as("bytes"))

  /** (file → footer record count) as a DataFrame: one footer read per
    * file, distributed over the cluster. Footer IO is O(KB) per file
    * regardless of file size. */
  private def footerRowCounts(
      spark: SparkSession, root: String, paths: Seq[String]): DataFrame = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val hconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val counts = spark.sparkContext
      .parallelize(paths, math.max(1,
        math.min(paths.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions { ps =>
        // explicit read options: the one-argument open builds a fresh
        // Hadoop Configuration per file
        val opts = HadoopReadOptions.builder(hconf.value).build()
        ps.map { p =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(s"$root/$p"), hconf.value), opts)
          try Row(p, reader.getRecordCount)
          finally reader.close()
        }
      }
    spark.createDataFrame(counts, StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false))))
  }
}
