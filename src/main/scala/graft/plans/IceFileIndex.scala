package graft.plans

import graft.ice.{FileMarker, IceSnapshot, IceTable}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one Catalyst [[FileIndex]] behind every scan of an ice table: a
  * given marker list, planned straight from the log. Paths and exact sizes
  * come from the markers (recorded from `getFileStatus` at commit), so
  * planning lists nothing — no LIST/HEAD round-trip, and no
  * DataFrameReader listing job (past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`, default 32
  * paths, that job runs one task per path, each re-deserializing the full
  * Hadoop conf: measured 15-20 ms CPU per file, an 83-task job ahead of
  * every query on the 83-partition lineitem fixture).
  *
  * Two constructions:
  *  - a CATALOG scan ([[IceFileIndex.relation]], [[IceFileIndex.dataFrame]])
  *    over a `pinned` snapshot's alive files. Hive-style partition keys
  *    parsed from `_data/{k=v/...}/uuid.parquet` paths are real queryable
  *    string columns, and `WHERE` clauses on them prune in the optimizer
  *    (`PartitionFilters` in the plan). The pinned snapshot also answers
  *    metadata-only aggregates ([[metadataRowCount]], [[metadataMinMax]]).
  *    This subsumes the reference's `get_files` UDF / parameterized-view
  *    integrations (ch/user_scripts/main.go:44-73,
  *    examples/segment-webhook-sink.py:84-90 — B21/B22): instead of
  *    splicing file lists into SQL text, the resolver IS the table.
  *  - an EXPLICIT list ([[graft.ice.IceTable.scanMarkers]]): any markers
  *    under a given data schema, no partition columns, no snapshot — the
  *    `spark.read.schema(s).parquet(paths: _*)` contract minus the
  *    listing. It is deletion-vector-blind: `IceTable.read` and the
  *    rewrites apply the marks themselves (`IceTable.dropDeleted`), while
  *    the `_dv` side table, the change feed and the copy-on-write probes
  *    need the raw rows and their `_metadata` positions.
  *
  * Both prune the same way: partition filters, then per-file stats
  * windows from the pushed data filters. `dvPending` marks a relation
  * whose deletion vectors the [[IceDvOverlay]] rule still has to apply
  * (only `format("ice")`'s); it lives on the index, not on a plan-node
  * tag, so it survives every plan copy. */
final class IceFileIndex(
    val table: IceTable,
    val markers: Seq[FileMarker],
    val dataSchema: StructType,
    override val partitionSchema: StructType,
    val pinned: Option[IceSnapshot] = None,
    val dvPending: Boolean = false) extends FileIndex {

  /** Partition directories with their markers, index-aligned with the
    * directory's files; built once driver-side from the markers. Without
    * partition columns the whole list is ONE directory, never regrouped. */
  private lazy val partitions: Seq[(PartitionDirectory, Seq[FileMarker])] = {
    // Paths are FS-QUALIFIED (scheme + authority) so `_metadata.file_path`
    // carries the prefix `IceTable.relPathCol` strips off
    def dir(row: InternalRow, ms: Seq[FileMarker]) = PartitionDirectory(row,
      ms.map(m => FileStatusWithMetadata(new FileStatus(
        m.fileBytes, false, 1, IceTable.BlockBytes, m.createdMs,
        new Path(table.qualifiedRoot + "/" + m.path))))) -> ms
    if (partitionSchema.isEmpty) Seq(dir(InternalRow.empty, markers))
    else markers
      .groupBy(m => table.partitionOf(m.path))
      .toSeq.sortBy(_._1)
      .map { case (part, ms) =>
        val kv = IceTable.partitionKvOf(part) // THE shared k=v semantics
        dir(InternalRow.fromSeq(partitionSchema.map(f =>
          UTF8String.fromString(kv.getOrElse(f.name, "")))), ms)
      }
  }

  /** This relation with its deletion vectors applied: the same files,
    * no longer `dvPending`. */
  private[plans] def dvApplied: IceFileIndex =
    new IceFileIndex(table, markers, dataSchema, partitionSchema, pinned)

  // ------------------------------------------------- stats-based skipping
  //
  // The optimizer hands listFiles the non-partition conjuncts as
  // dataFilters; when the table records log-side [min, max] stats for a
  // column, simple comparisons against it turn into a conservative
  // [lo, hi] window and files whose stats interval cannot intersect it are
  // never listed — `t.read().where(...)` and the SQL catalog alike, with
  // the same per-file test as IceTable.filesMatchingStats and zero
  // plan-time object-store reads.

  private val statsCols: Seq[String] =
    (table.cfg.statsColumn.toSeq ++ table.cfg.statsColumns).distinct
  /** The stats columns scans prune on, and whether each compares
    * numerically. Only integral, floating and string columns qualify: their
    * footer stats are the values a filter literal holds. A DECIMAL's stats
    * are its unscaled integer (1.00 records "100") and a DATE's its day
    * number, so comparing either against a literal would skip files that
    * hold matching rows; such columns never prune. */
  private val statsNumeric: Map[String, Boolean] =
    statsCols.flatMap(c => dataSchema.find(_.name == c).map(_.dataType).collect {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
        c -> true
      case StringType => c -> false
    }).toMap

  /** Conservative per-column [lo, hi] windows for every stats column, from
    * conjunctive comparison filters; anything unrecognized just widens.
    *
    * A comparison only qualifies when it is against the bare attribute, or
    * against an EXACT numeric cast of it (the widening casts Spark inserts
    * for type coercion, e.g. INT to DECIMAL(11,1) for `k < 1.5`): every
    * value keeps its order and magnitude, so the cast literal compares
    * correctly as BigDecimal against the raw stats. Casts that round,
    * truncate or wrap (BIGINT to DOUBLE past 2^53, DOUBLE to INT, BIGINT
    * to INT) and casts out of a string column move the literal into a
    * different domain than the recorded stats — those filters are
    * ignored. */
  private def statsWindows(
      dataFilters: Seq[Expression]): Map[String, (Option[String], Option[String])] = {
    if (statsNumeric.isEmpty) return Map.empty
    def colOf(e: Expression): Option[String] = e match {
      case a: Attribute if statsNumeric.contains(a.name) => Some(a.name)
      case Cast(child, dt, _, _) if IceFileIndex.exactCast(child.dataType, dt) =>
        colOf(child)
      case _ => None
    }
    def litStr(l: Literal): Option[String] =
      Option(l.value).map(_.toString)
    val lo = scala.collection.mutable.Map.empty[String, String]
    val hi = scala.collection.mutable.Map.empty[String, String]
    // an unparseable comparison keeps the current bound (wider window = safe)
    def tightenLo(c: String, v: String): Unit =
      lo(c) = lo.get(c).fold(v)(cur =>
        if (IceTable.statsTryCmp(statsNumeric(c), v, cur).exists(_ > 0)) v else cur)
    def tightenHi(c: String, v: String): Unit =
      hi(c) = hi.get(c).fold(v)(cur =>
        if (IceTable.statsTryCmp(statsNumeric(c), v, cur).exists(_ < 0)) v else cur)
    // [min, max] cover of a value set. EVERY value must parse under the
    // column's comparator (an unparseable element would make the reduce
    // pick an arbitrary endpoint and tighten WRONGLY — a false skip);
    // string columns always compare, numeric columns via BigDecimal.
    // Empty or partly-unparseable sets tighten nothing (safe).
    def tightenToCover(c: String, vals: Seq[String]): Unit = {
      val isNum = statsNumeric(c)
      if (vals.nonEmpty &&
          vals.forall(v => IceTable.statsTryCmp(isNum, v, v).isDefined)) {
        val mn = vals.reduce((x, y) =>
          if (IceTable.statsTryCmp(isNum, y, x).exists(_ < 0)) y else x)
        val mx = vals.reduce((x, y) =>
          if (IceTable.statsTryCmp(isNum, y, x).exists(_ > 0)) y else x)
        tightenLo(c, mn); tightenHi(c, mx)
      }
    }
    dataFilters.foreach {
      case GreaterThanOrEqual(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case GreaterThan(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case LessThanOrEqual(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case LessThan(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case EqualTo(a, l: Literal) if colOf(a).isDefined =>
        colOf(a).foreach(c =>
          litStr(l).foreach { v => tightenLo(c, v); tightenHi(c, v) })
      case GreaterThanOrEqual(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case GreaterThan(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case LessThanOrEqual(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case LessThan(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case EqualTo(l: Literal, a) if colOf(a).isDefined =>
        colOf(a).foreach(c =>
          litStr(l).foreach { v => tightenLo(c, v); tightenHi(c, v) })
      // IN-lists (the dim-change probes, any isin pushdown): a SOUND
      // interval cover — [min, max] of the list's non-null values. A
      // matching row must equal one of those values, so it lies inside
      // the cover; null list entries match nothing and drop out. On a
      // key-clustered layout a small IN prunes to the few files whose
      // stats window intersects the list's span
      case org.apache.spark.sql.catalyst.expressions.In(a, list)
          if colOf(a).isDefined && list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) =>
        val c = colOf(a).get
        tightenToCover(c,
          list.collect { case l: Literal => litStr(l) }.flatten)
      case s: org.apache.spark.sql.catalyst.expressions.InSet
          if colOf(s.child).isDefined =>
        val c = colOf(s.child).get
        tightenToCover(c, s.hset.toSeq.collect {
          case v if v != null => v.toString })
      case _ => ()
    }
    (lo.keySet ++ hi.keySet).map(c => c -> (lo.get(c), hi.get(c))).toMap
  }

  override def rootPaths: Seq[Path] =
    Seq(new Path(if (pinned.isDefined) table.root else table.qualifiedRoot))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned = if (partitionFilters.isEmpty) partitions else {
      val attrs = partitionSchema.zipWithIndex.map { case (f, i) =>
        f.name -> BoundReference(i, f.dataType, nullable = true)
      }.toMap
      val bound = partitionFilters.map(_.transform {
        case a: Attribute => attrs(a.name)
      })
      val predicate = Predicate.create(bound.reduce(
        org.apache.spark.sql.catalyst.expressions.And))
      partitions.filter { case (dir, _) => predicate.eval(dir.values) }
    }
    val windows = statsWindows(dataFilters)
    if (windows.isEmpty) pruned.map(_._1)
    else pruned.map { case (dir, ms) =>
      dir.copy(files = dir.files.zip(ms).collect {
        case (f, m) if table.statsMatch(m, windows, statsNumeric) => f
      })
    }
  }

  override def inputFiles: Array[String] =
    markers.map(m => s"${table.qualifiedRoot}/${m.path}").toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = markers.map(_.fileBytes).sum

  /** Sum of the alive files' recorded physical row counts, defined only
    * for a pinned snapshot scan whose EVERY alive marker carries one — the
    * metadata-only `count(*)` input
    * ([[org.apache.spark.sql.graft.MetadataOnlyCount]]). A single rc-less
    * file (reference-written log, pre-field history) disables the fast
    * path rather than corrupting it; an empty snapshot is a legitimate
    * zero. An explicit list always scans. */
  def metadataRowCount: Option[Long] =
    if (pinned.isEmpty || !markers.forall(_.rowCount.isDefined)) None
    else Some(markers.iterator.flatMap(_.rowCount).sum)

  /** Numeric-compared (min, max) of `colName` across a pinned snapshot's
    * alive files' footer stats markers, defined iff EVERY alive file
    * records stats for that column (a file whose rows are all-null there
    * records none — blocking is the conservative, correct answer; footer
    * min/max skip nulls exactly like SQL `min`/`max`). Values returned as
    * the stored strings; the caller owns typed reconstruction. Empty
    * snapshot or explicit list → None (let the scan say so). */
  def metadataMinMax(colName: String): Option[(String, String)] = {
    if (pinned.isEmpty || markers.isEmpty) return None
    val all = markers.map(table.markerStats(_, colName))
    if (all.exists(_.isEmpty)) return None
    try {
      val parsed = all.flatten.map { case (mn, mx) =>
        (BigDecimal(mn) -> mn, BigDecimal(mx) -> mx)
      }
      Some((parsed.minBy(_._1._1)._1._2, parsed.maxBy(_._2._1)._2._2))
    } catch { case _: NumberFormatException => None }
  }
}

object IceFileIndex {

  /** Whether CAST(`from` AS `to`) maps every value of `from` to the same
    * number: integral widening, integral to a DECIMAL with room for all
    * its digits, and the exact floating widenings. */
  private[plans] def exactCast(from: DataType, to: DataType): Boolean = {
    def digits(t: DataType): Option[Int] = t match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    (from, to) match {
      case (_, d: DecimalType) => digits(from).exists(_ <= d.precision - d.scale)
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType, FloatType) => true
      case (FloatType, DoubleType) => true
      case _ => digits(from).exists(f => digits(to).exists(f <= _))
    }
  }

  /** Partition keys present in a snapshot's marker paths, in first-seen
    * order (all typed string — the partition path is a string codec). */
  def partitionKeys(table: IceTable, snap: IceSnapshot): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    snap.aliveFiles.foreach { m =>
      table.partitionOf(m.path).split("/").foreach { seg =>
        val i = seg.indexOf('=')
        if (i > 0) seen += seg.substring(0, i)
      }
    }
    // the bucket directory level of a bucketed table is routing detail
    // (surfaced through the relation's BucketSpec), not a queryable
    // partition column — exposing it would also collide across joined
    // bucketed tables
    if (table.cfg.bucketBy.isDefined) (seen - "bkt").toSeq else seen.toSeq
  }

  /** Snapshot → the catalog-grade [[HadoopFsRelation]] (partition columns
    * queryable, optimizer-side file pruning, zero plan-time object-store
    * reads): the batch half of the `format("ice")` reader
    * ([[graft.streaming.IceStreamProvider]] returns it from
    * `createRelation`). A `BaseRelation` cannot carry a join, so its
    * deletion vectors are left to the [[IceDvOverlay]] rule. */
  def relation(spark: SparkSession, table: IceTable,
      maxTs: Long = Long.MaxValue): HadoopFsRelation =
    relationFor(spark, table, table.snapshot(maxTs), dvPending = true)

  private def relationFor(spark: SparkSession, table: IceTable,
      snap: IceSnapshot, dvPending: Boolean): HadoopFsRelation = {
    val pSchema = StructType(partitionKeys(table, snap)
      .map(StructField(_, StringType, nullable = true)))
    // co-located joins/aggs on the bucket columns plan WITHOUT an
    // exchange when the table is bucketed (see IceTableConfig.bucketBy)
    hadoopRelation(spark, new IceFileIndex(table, snap.aliveFiles,
      snap.schema.toStructType, pSchema, Some(snap), dvPending),
      table.bucketSpecFor(snap))
  }

  /** The parquet [[HadoopFsRelation]] serving `index`. */
  private[graft] def hadoopRelation(spark: SparkSession, index: IceFileIndex,
      bucketSpec: Option[BucketSpec] = None): HadoopFsRelation =
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = index.dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)

  /** Snapshot → catalog-grade DataFrame with queryable partition columns
    * and optimizer-side file pruning. Deletion vectors are APPLIED (same
    * contract as [[graft.ice.IceTable.read]]): the SQL catalog, temp
    * views, and the DataFrame API always agree after a
    * [[graft.ice.DeleteVectors.deleteWhere]]. No-dv tables pay one
    * existence probe and keep the bare relation plan. */
  def dataFrame(spark: SparkSession, table: IceTable,
      maxTs: Long = Long.MaxValue,
      preSnap: Option[graft.ice.IceSnapshot] = None): DataFrame = {
    // preSnap: a caller that just folded the log (IceTable.openWithSnapshot
    // in the SQL resolver) passes its snapshot so resolution costs ONE
    // fold, not two — only valid for the same maxTs it was folded at
    val snap = preSnap.getOrElse(table.snapshot(maxTs))
    val rel = relationFor(spark, table, snap, dvPending = false)
    // persisted ANALYZE statistics ride the relation as catalog plan
    // stats so CBO join reordering / broadcast decisions use analyzed
    // rowCount + ndv/min/max/nullCount (inert while cbo.enabled=false:
    // the attached sizeInBytes IS the bare relation's file-bytes sum).
    // The standard ANALYZE staleness contract applies — estimates from
    // the last analysis, exact only until the table moves. Time-traveled
    // reads get NO stats: pairing the current analysis's rowCount with an
    // as-of file set is not staleness but a cross-version contradiction
    // (a grown table would refuse to broadcast its tiny historical self).
    val df = (if (maxTs == Long.MaxValue) table.cachedStats else None) match {
      case Some(st) =>
        val types = snap.schema.toStructType.fields
          .map(f => f.name -> f.dataType).toMap
        val colStats = st.columns.flatMap { cs =>
          types.get(cs.column).map { dt =>
            // equi-height histogram (if analyzed): bin height is exactly
            // non-null rows / bins by construction, so it is recomputed
            // here rather than persisted
            val hist = cs.bins.filter(_.nonEmpty).map { bs =>
              org.apache.spark.sql.graft.StatsBridge.histogram(
                math.max(0L, st.rowCount - cs.nullCount).toDouble / bs.size,
                bs.map(b => (b.lo, b.hi, b.ndv)))
            }
            cs.column -> org.apache.spark.sql.graft.StatsBridge.columnStat(
              cs.column, dt, cs.ndv, cs.nullCount, cs.min, cs.max,
              cs.avgLen, cs.maxLen, hist)
          }
        }.toMap
        org.apache.spark.sql.graft.StatsBridge.planWithStats(
          spark, rel, new Path(table.root).getName,
          sizeInBytes = BigInt(snap.aliveFiles.map(_.fileBytes).sum),
          rowCount = Some(BigInt(st.rowCount)), colStats)
      case None => spark.baseRelationToDataFrame(rel)
    }
    // deletion vectors pinned at the snapshot's own time; the relation is
    // not dvPending, so the IceDvOverlay rule leaves it alone
    table.dropDeleted(df, table.relPathCol,
      table.dvPositions(snap.aliveFiles.map(_.path), snap.timestamp))
  }

  /** Register the snapshot as a temp view: `spark.sql("... FROM name WHERE
    * d = '2024-01-01'")` prunes partitions in the optimizer (B21: the
    * parameterized-view shape without SQL splicing). */
  def registerView(spark: SparkSession, table: IceTable, name: String,
      maxTs: Long = Long.MaxValue): DataFrame = {
    val df = dataFrame(spark, table, maxTs)
    df.createOrReplaceTempView(name)
    df
  }
}
