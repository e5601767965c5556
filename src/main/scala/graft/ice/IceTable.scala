package graft.ice

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.util.UUID
import scala.collection.mutable

/** What a merge did (reference: icedb/icedb.py:223-325 return tuple).
  * `newFileMarker` is None when every merged row was deleted: the sources
  * are then replaced by nothing. */
final case class MergeResult(
    newLog: String,
    newFileMarker: Option[FileMarker],
    partition: String,
    mergedFileMarkers: Seq[FileMarker],
    meta: LogMetadata)

/** What a tombstone cleanup did (reference: icedb/icedb.py:327-433). */
final case class CleanupResult(
    cleanedLogFiles: Seq[String],
    deletedLogFiles: Seq[String],
    deletedDataFiles: Seq[String])

/** Table configuration — the constructor knobs of the reference's `IceDBv3`
  * (icedb/icedb.py:39-83) re-expressed Spark-first.
  *
  * @param partitionExpr string-typed Column computing the partition path
  *   segment per row (reference `part_func`, icedb/icedb.py:22; conventionally
  *   Hive-style `k=v/k2=v2`). Declarative so Catalyst evaluates it inside the
  *   ingest job — no per-row driver callback at 100 TB.
  * @param sortOrder columns each data part is clustered by at write
  *   (row-group pruning; icedb/icedb.py:27,154-155).
  * @param customInsertSql Spark SQL over a `_rows` view replacing the default
  *   `select * from _rows order by sortOrder` (icedb/icedb.py:118-119,151-160).
  * @param customMergeSql Spark SQL over a `source_files` view replacing the
  *   default `select * from source_files` at compaction
  *   (icedb/icedb.py:271-276; AggregatingMergeTree / ReplacingMergeTree /
  *   dedup semantics per README.md:625-794).
  * @param preservePartition keep a pre-computed `_partition` column in the
  *   data (icedb/icedb.py:191-196, README.md:514-519).
  * @param shuffleOnInsert when true (default), hash-repartition on the
  *   partition string so each insert writes exactly one file per touched
  *   partition (the reference's shape). When false, skip the global
  *   shuffle: each upstream task writes its own file per partition it
  *   holds — more small files (compaction's job anyway), ZERO shuffle.
  *   The right setting for already-clustered input (streaming
  *   micro-batches, pre-bucketed upstreams) at large scale.
  * @param formatRow A23 pre-insert hook (reference `format_row`,
  *   examples/api-flask.py:156-162): a whole-DataFrame transform applied
  *   before partition routing (a per-row driver callback would not scale;
  *   the DataFrame form composes with Catalyst).
  * @param rowGroupRows cap each parquet row group at this many ROWS
  *   (reference `row_group_size`, icedb/icedb.py:53 default 122,880; the
  *   8192-row tuning was the reference's single best pruning knob,
  *   perf_tests/chicago_taxis/README.md:529-565). Maps to parquet-mr's
  *   `parquet.block.row.count.limit`; the byte cap stays in force too.
  * @param partitionFunc exact parity with the reference's arbitrary
  *   per-row `part_func` (icedb/icedb.py:22): a Scala `Row => String`
  *   closure, wrapped in a UDF when present. The black-box closure blocks
  *   Catalyst (no pushdown through it, no codegen inside it) — use
  *   `partitionExpr` for anything expressible as a Column; this hook is
  *   for porting non-SQL partition logic verbatim.
  * @param statsColumn beyond-reference data skipping: record each written
  *   file's [min, max] of this column (typically the leading sort key) in
  *   its log marker, read once from the parquet footer at write time.
  *   `read().where(...)` on it (and [[IceTable.filesInStatsRange]]) then
  *   prune files from the log alone — at 100 TB a range query on the
  *   cluster key plans with ZERO object-store reads instead of listing
  *   and footer-probing 10⁵ files. Stats-less markers (older writers)
  *   are conservatively kept. Scans prune on integral, floating and
  *   string columns only: a DECIMAL's footer stats are its unscaled
  *   integer and a DATE's its day number, so those record but never
  *   prune a scan.
  * @param statsColumns ADDITIONAL stats columns beyond `statsColumn` (all
  *   read from the same one footer pass at write time; recorded in the
  *   marker's `stm` field). With Z-order clustering
  *   ([[IceTable.insertClustered]] + `graft.functions.ZOrder`) every
  *   clustered dimension gets a bounded per-file range, so
  *   [[IceTable.filesMatchingStats]] and the SQL path (`IceFileIndex`)
  *   prune on predicates over ANY of them — not just the leading sort key.
  * @param bloomFilterColumns write parquet split-block bloom filters for
  *   these columns. Complements min/max stats where ranges don't help:
  *   point lookups on HIGH-CARDINALITY keys (ids, hashes) whose values
  *   scatter across the whole range of every file. The parquet reader's
  *   row-group filter consults the bloom on pushed equality predicates,
  *   so non-matching row groups are skipped without decoding — at 100 TB
  *   a needle query reads footers + a few KB of bloom bits per file
  *   instead of the column data. False positives only cost a wasted
  *   row-group read; never correctness.
  * @param bloomFilterNdv expected distinct values per file for sizing the
  *   bloom bits (parquet sizes for ~1% fpp); unset uses parquet-mr's
  *   default cap.
  * @param checkpointEveryCommits write a snapshot checkpoint
  *   ([[IceTable.writeCheckpoint]]) whenever the log tail since the last
  *   one reaches this many commits — bounds every reader's fold to
  *   O(knob) log GETs under continuous ingest. None (default) = manual
  *   checkpointing only.
  * @param bucketBy `(numBuckets, columns)`: HASH-BUCKET the table on these
  *   columns, Spark-bucketing-compatible — rows route to
  *   `<partition>/bkt=<pmod(hash(cols), n)>` (the exact
  *   `HashPartitioning.partitionIdExpression` placement) and data files
  *   carry Spark's `_%05d` bucket tag, so the read relation exposes a
  *   `BucketSpec` and joins/aggregations between tables bucketed the same
  *   way on the bucket columns run WITHOUT A SHUFFLE — the co-located
  *   join, the single biggest exchange eliminated at 100 TB (two 50 TB
  *   fact tables join with zero data movement; only bucket-aligned local
  *   sorts remain). Compaction preserves the invariant for free: merges
  *   group by partition directory, and the bucket is a directory level.
  *   Bucketing is fixed at table creation (like Spark/Hive bucketed
  *   tables): changing `n` or the columns over existing data would break
  *   placement. Correctness NEVER depends on the spec — a snapshot
  *   containing any untagged file (e.g. written by a pre-bucketing
  *   handle) degrades to an ordinary shuffling scan, loudly via
  *   `explain`, not wrongly.
  * @param sortOnMerge re-sort DEFAULT-merge output by `sortOrder` before
  *   writing. The reference's merge concatenates its sorted inputs
  *   (`select * from source_files`, icedb.py:271-276), so after a few
  *   compaction generations a file holds interleaved sorted runs and
  *   row-group min/max windows widen toward the file's full range —
  *   intra-file pruning decays as the table ages. This knob keeps merged
  *   files globally sorted (one extra in-memory sort of the merge batch,
  *   which is bounded by maxFileSize). Off by default for byte-level
  *   reference parity; ignored for custom merge SQL (the SQL owns its
  *   output shape, and aggregating merges have nothing to re-sort).
  */
final case class IceTableConfig(
    partitionExpr: Column,
    sortOrder: Seq[String],
    customInsertSql: Option[String] = None,
    customMergeSql: Option[String] = None,
    compressionCodec: String = "snappy",
    parquetBlockBytes: Long = IceTable.BlockBytes,
    preservePartition: Boolean = false,
    shuffleOnInsert: Boolean = true,
    formatRow: Option[DataFrame => DataFrame] = None,
    rowGroupRows: Option[Int] = None,
    partitionFunc: Option[Row => String] = None,
    statsColumn: Option[String] = None,
    statsColumns: Seq[String] = Seq.empty,
    bloomFilterColumns: Seq[String] = Seq.empty,
    bloomFilterNdv: Option[Long] = None,
    sortOnMerge: Boolean = false,
    checkpointEveryCommits: Option[Int] = None,
    bucketBy: Option[(Int, Seq[String])] = None,
    checkConstraints: Seq[(String, String)] = Nil,
    mvDef: Option[String] = None)

/** The Parquet merge-engine table: MVCC JSONL log + immutable Parquet data
  * parts under one root URI (local fs or s3a — anything Hadoop FileSystem
  * speaks). Layout (reference README.md:13-14, ARCHITECTURE.md:19-100):
  *
  * {{{
  *   {root}/_log/{unix_ms}[_m]_{host}.jsonl
  *   {root}/_data/{partition}/{uuid}.parquet
  * }}}
  *
  * Design split (SURVEY.md §7): driver-side Scala owns all metadata logic
  * (log fold, merge policy, tombstones — KB-scale even at 100 TB of data);
  * Spark jobs own all data movement. Queries are plain DataFrames over the
  * snapshot's alive files, so the whole Catalyst/Tungsten stack (pushdown,
  * pruning, codegen, AQE) applies unmodified.
  */
final class IceTable(
    val spark: SparkSession,
    val root: String,
    val cfg: IceTableConfig,
    clock: () => Long = () => System.currentTimeMillis(),
    private[ice] val logRel: String = "_log") {
  // `logRel`: which log directory under `root` this handle folds and
  // commits to — "_log" for the table itself, `_branch/<name>/_log` for
  // a branch handle ([[Branch]]); data files are shared either way.

  // URI-safe root contract: `_metadata.file_path` is URL-ENCODED while
  // Hadoop's qualified path string is raw, so a root (or partition value)
  // containing a character the encoding changes — space, '%', '#', '?',
  // non-ASCII — would silently desynchronize every (path, row) deletion
  // mark, marker-path comparison, and manifest filename match. Reject
  // loudly at the boundary instead; partition VALUES are checked at
  // marker creation (they come from data).
  require(IceTable.pathSafe(root),
    s"table root contains characters whose URI encoding differs from the " +
      s"raw path (space/%/#/?/non-ASCII): $root")

  cfg.bucketBy.foreach { case (n, cols) =>
    // 0 buckets routes every row to pmod(hash, 0) = null — reject at the
    // handle, before a single misplaced file can persist the broken spec
    require(n >= 1 && cols.nonEmpty,
      s"bucketBy requires a positive bucket count and at least one " +
        s"column, got ($n, $cols)")
  }

  private[ice] val hadoopConf = spark.sparkContext.hadoopConfiguration
  val logio = new IceLogIO(IceTable.pathSafeHostname, hadoopConf, logRel)
  private def fs = logio.fs(root)
  private def now(): Long = clock()

  /** The JSON-able projection of this handle's config, persisted in every
    * log commit's metadata line (None for a fully-default handle) so
    * [[IceTable.open]] and the SQL catalog can reconstruct a functional
    * handle — SQL-path DML then writes sorted, stats-bearing files instead
    * of silently degrading pruning on the files it touches. */
  private[graft] lazy val persistedCfg: Option[Map[String, Any]] =
    IceTable.persistableCfg(cfg)

  // ---------------------------------------------------------------- snapshot

  /** MVCC snapshot at `maxTs` (strict `<` on log filename timestamps —
    * icedb/log.py:311-328). */
  def snapshot(maxTs: Long = Long.MaxValue): IceSnapshot =
    logio.readAtMaxTime(root, maxTs)

  /** Strict-`<` fold bound covering every commit this JVM has observed
    * for this table, plus anything stamped up to the current
    * millisecond. The wall clock alone UNDER-covers: commit timestamps
    * are floor-bumped strictly above every observed log (IceLogIO
    * append), so a fast same-millisecond commit streak stamps logs
    * "in the future" — a maintenance fold at bare now() would silently
    * miss them (optimize planning against a snapshot that hides the
    * rows it was called to compact). Explicit time-travel bounds are
    * unaffected. */
  private def coveringTs(): Long =
    math.max(now(), IceLogIO.observedFloor(root, logRel)) + 1L

  def trySnapshot(maxTs: Long = Long.MaxValue): Option[IceSnapshot] =
    try Some(snapshot(maxTs)) catch { case _: NoLogFilesException => None }

  /** Persist the current fold as a snapshot checkpoint (see
    * [[IceLogIO.writeCheckpoint]]): subsequent [[snapshot]] calls fetch
    * only logs committed after it instead of the whole history. Call it
    * on whatever cadence bounds your tail (the reference's snapshot cost
    * grew linearly with lifetime commits — perf-test-1.md:57-66; with a
    * checkpoint per K commits, cold reads are O(K)). Keeps the newest
    * `keep` checkpoints, prunes the rest. Returns the new checkpoint's
    * root-relative path (None if one already covers this exact state).
    *
    * The fold here is RAW (checkpoint-blind): a checkpoint seeded from an
    * older checkpoint would carry markers of data files that tombstone
    * cleanup has since deleted — harmless for reads (they stay
    * tombstoned) but a leak that would compound across generations. The
    * canonical re-fold keeps each checkpoint exactly the live log state. */
  def writeCheckpoint(keep: Int = 3): Option[String] = {
    // coveringTs: the snapshot filter is strict `<`, and a commit made
    // in THIS millisecond (e.g. cleanup's consolidated log, which calls
    // this right after appending) — or floor-bumped past it — must be
    // coverable
    val rel = logio.writeCheckpoint(
      root, logio.readAtMaxTime(root, coveringTs(), useCheckpoints = false))
    logio.pruneCheckpoints(root, keep)
    rel
  }

  /** Commit history as a DataFrame (the DESCRIBE HISTORY observability
    * surface): one row per RETAINED log file, in commit order, with the
    * delta each commit introduced against the fold of everything before
    * it — files added (first appearance, alive), bytes added, files
    * newly tombstoned, and log tombstones written. `merged` distinguishes
    * compaction/maintenance commits (`_m` logs) from plain inserts; the
    * format records no finer operation type (byte-compat with the
    * reference). Tombstone cleanup DELETES old logs, so like any
    * log-structured table the history window is what retention kept.
    * Driver-side fold over the same KB-scale log the snapshot reads —
    * no Spark job, no data-file I/O. */
  def history(maxTs: Long = Long.MaxValue): DataFrame = {
    import scala.jdk.CollectionConverters._
    val logs = logio.currentLogFiles(root)
      .filter(p => IceLogIO.logFileInfo(p)._1 < maxTs).sorted
    val fetched = logio.fetchLogLines(root, logs)
    var prior = Map.empty[String, FileMarker]
    val rows = logs.map { lf =>
      val (_, markers, tmbs) = logio.parseLog(lf, fetched(lf))
      val (ts, merged) = IceLogIO.logFileInfo(lf)
      var added = 0; var addedBytes = 0L; var tombstoned = 0
      markers.foreach { m =>
        val prev = prior.get(m.path)
        if (prev.isEmpty && m.tombstone.isEmpty) { added += 1; addedBytes += m.fileBytes }
        if (m.tombstone.nonEmpty && prev.exists(_.tombstone.isEmpty)) tombstoned += 1
        prior = prior.updated(m.path, m)
      }
      org.apache.spark.sql.Row(
        ts, lf, merged, added, addedBytes, tombstoned, tmbs.size)
    }
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("commit_ts", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("log_file", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("merged", org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("files_added", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("bytes_added", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("files_tombstoned", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("log_tombstones", org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** Persist THIS handle's configuration as the log's latest word
    * WITHOUT writing any data: one empty commit carrying only the
    * metadata line (markers and tombstones untouched — the fold's
    * last-writer-wins `cfg` does the rest). The SQL `ALTER TABLE ...
    * SORTED BY` building block. No-op caveat: a fully-default config
    * persists no `cfg` field, so "alter back to all defaults" cannot be
    * expressed this way — it would leave the previous word standing. */
  def persistConfig(): Unit = IceTable.withTableLock(root, hadoopConf) {
    val snap = snapshot()
    logio.append(root, 1, snap.schema, Seq.empty,
      timestamp = Some(now()), tableCfg = persistedCfg)
    ()
  }

  /** ALTER-style CHECK addition: validate every EXISTING row satisfies
    * the predicate (one full scan — the Delta `ADD CONSTRAINT` contract:
    * a constraint is a guarantee over the whole table, not just future
    * writes), then persist it as a config-only commit. Returns the
    * constraint-bearing handle; writes through the OLD handle do not
    * enforce the new constraint, but any handle reopened from the log
    * does. */
  def addCheckConstraint(name: String, sql: String): IceTable = {
    require(!cfg.checkConstraints.exists(_._1.equalsIgnoreCase(name)),
      s"constraint `$name` already exists")
    val t2 = new IceTable(spark, root,
      cfg.copy(checkConstraints = cfg.checkConstraints :+ (name -> sql)),
      clock, logRel)
    if (trySnapshot(Long.MaxValue).isDefined)
      t2.enforceConstraints(read(), "ADD CONSTRAINT")
    t2.persistConfig()
    t2
  }

  /** Drop a CHECK constraint by name: one config-only commit. */
  def dropCheckConstraint(name: String): IceTable = {
    require(cfg.checkConstraints.exists(_._1.equalsIgnoreCase(name)),
      s"constraint `$name` does not exist")
    val t2 = new IceTable(spark, root,
      cfg.copy(checkConstraints =
        cfg.checkConstraints.filterNot(_._1.equalsIgnoreCase(name))),
      clock, logRel)
    // persistConfig's no-op caveat: an all-defaults config persists no
    // cfg word, leaving the PREVIOUS (constraint-bearing) word standing
    require(IceTable.persistableCfg(t2.cfg).isDefined,
      "dropping the last constraint of an otherwise-default-config table " +
        "cannot be persisted (the log keeps last-writer-wins config words); " +
        "set any non-default config field first")
    t2.persistConfig()
    t2
  }

  /** Partition string of a data path: the segment between `_data/` and the
    * file name (reference: icedb/icedb.py:103-108). */
  def partitionOf(path: String): String = IceTable.partitionOfPath(path)


  // -------------------------------------------------------------- read (B1+)

  /** Snapshot → DataFrame: the whole delegated query surface (SURVEY §2.B)
    * hangs off this. Explicit alive-file list (snapshot isolation — never
    * glob `_data/`) + explicit union schema (absent columns read as null,
    * matching the add-only union-schema contract, README.md:156-177,461-464).
    *
    * Deletion vectors are APPLIED: a row marked deleted by
    * [[DeleteVectors.deleteWhere]] is invisible here, through the SQL
    * catalog, and through [[DeleteVectors.read]] alike — the three read
    * surfaces always agree, with or without a [[DeleteVectors.materialize]]
    * in between. Tables with no dv side table pay one `_dv/_log` existence
    * probe and keep their exact previous plan. The dv snapshot is pinned at
    * the same `maxTs`, so time travel to before a delete still sees the
    * rows. */
  def read(maxTs: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(maxTs)
    readFilesApplyingDeletes(snap, snap.aliveFiles, maxTs)
  }

  /** [[read]] over an ALREADY-FOLDED snapshot — callers needing both the
    * snapshot metadata and the rows (the MV read's flat-state proof)
    * fold the log once instead of twice. */
  private[graft] def read(snap: IceSnapshot, maxTs: Long): DataFrame =
    readFilesApplyingDeletes(snap, snap.aliveFiles, maxTs)

  /** Merge-on-read (the ClickHouse `FINAL` shape): [[read]] with the
    * table's custom merge SQL re-applied at query time, so not-yet-
    * compacted aggregate/replacing/dedup state collapses to its final
    * answer NOW instead of after the next merge. The reference documents
    * the manual form of this — "you must re-apply the aggregation in the
    * query" (README.md:655-687) — this automates it from the same
    * `customMergeSql` string compaction uses, which is exactly the
    * re-applicability (associativity) those merge shapes guarantee.
    * Tables without custom merge SQL read as-is (concatenation IS final).
    *
    * Plan shape: one extra groupBy over the snapshot read — the same
    * aggregation Catalyst would run for the manual query; partial
    * aggregation still happens map-side, so the shuffle carries one row
    * per (group, input partition), not raw data.
    */
  def readFinal(maxTs: Long = Long.MaxValue): DataFrame =
    cfg.customMergeSql match {
      case None => read(maxTs)
      case Some(q) =>
        // per-CALL unique view name, dropped as soon as spark.sql has
        // analyzed (eagerly) against it: concurrent readFinal calls on the
        // same table with different maxTs must never cross views (a stable
        // per-table name + createOrReplaceTempView is not atomic with the
        // sql() that reads it), and a read-path API must not leak catalog
        // entries
        val view = s"source_files_final_${UUID.randomUUID().toString.replace("-", "")}"
        read(maxTs).createOrReplaceTempView(view)
        try spark.sql(q.replaceAll("\\bsource_files\\b", view))
        finally spark.catalog.dropTempView(view)
    }

  /** Read a specific marker subset under a snapshot's union schema. */
  def readFiles(snap: IceSnapshot, markers: Seq[FileMarker]): DataFrame =
    scanMarkers(snap.schema.toStructType, markers)

  /** Plan a parquet scan over an EXPLICIT marker list with ZERO file
    * listing, through the same [[graft.plans.IceFileIndex]] as the
    * catalog relation (see there for what the listing would cost).
    * Semantics match `spark.read.schema(schema).parquet(paths: _*)`: same
    * data schema (no partition columns appended), same pushdown, same
    * `_metadata` columns — plus the index's stats-window file skipping.
    * Deletion-vector-blind; see [[dropDeleted]]. */
  private[graft] def scanMarkers(
      schema: StructType, markers: Seq[FileMarker]): DataFrame =
    if (markers.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.baseRelationToDataFrame(graft.plans.IceFileIndex.hadoopRelation(
      spark, new graft.plans.IceFileIndex(this, markers, schema, StructType(Nil))))

  /** This table's root as the filesystem qualifies it — the exact prefix
    * `_metadata.file_path` carries for every file under the root. */
  private[graft] lazy val qualifiedRoot: String =
    fs.makeQualified(new Path(root)).toString

  /** Root-relative path of the file a row came from (`_data/...`),
    * recovered by stripping the qualified root prefix off
    * `_metadata.file_path` — a length-based substring, NOT a pattern
    * match, so a root that itself contains `_data/` as a path component
    * cannot desynchronize these paths from the log's marker paths (every
    * dv mark, marker equality check, and anti-join keys on this). */
  private[graft] def relPathCol: Column = {
    val prefixLen = qualifiedRoot.length + 1 // "+ 1" skips the joining '/'
    col("_metadata.file_path")
      .substr(lit(prefixLen + 1), length(col("_metadata.file_path")))
  }

  /** Deleted (path, row_index) pairs for this table's deletion-vector
    * side table at `maxTs`, restricted to `paths` — None when no dv table
    * exists or it is empty. One cheap `_dv/_log` existence probe; see
    * [[DeleteVectors]]. */
  private[graft] def dvPositions(
      paths: Seq[String], maxTs: Long): Option[DataFrame] = {
    if (!hasDvTable) return None
    val dv = new IceTable(spark, s"$root/_dv", DeleteVectors.dvConfig, clock)
    dv.trySnapshot(maxTs)
      .filter(_.aliveFiles.nonEmpty)
      .map { s =>
        val all = dv.readFiles(s, s.aliveFiles)
        // the path restriction is an optimization for small target lists
        // (merge candidates); a 10⁵-entry isin would bloat the plan, and
        // unrestricted rows simply never match the anti-join
        val restricted =
          if (paths.length <= 128) all.where(col("path").isin(paths: _*)) else all
        restricted.select(col("path").as("_dv_path"), col("row_index").as("_dv_row"))
      }
  }

  /** The one `_dv/_log` existence probe: whether this table has a
    * deletion-vector side table. Only a NOT-FOUND reads as "no"; any
    * other IO failure propagates — read as "no", it would make [[read]]
    * and every rewrite silently bring the deleted rows back. Spelled as
    * `getFileStatus`, the call `FileSystem.exists` makes by default:
    * `RawLocalFileSystem` overrides `exists` with a check that cannot
    * fail. */
  private def hasDvTable: Boolean = {
    val probe = new Path(s"$root/_dv", "_log")
    try { probe.getFileSystem(hadoopConf).getFileStatus(probe); true }
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** LEFT ANTI-join `df`, a scan of this table's files, against deleted
    * positions `del` (from [[dvPositions]]; `df` unchanged when None).
    * `path` is each row's root-relative file path: [[relPathCol]], or a
    * literal for a single-file scan; the row position is
    * `_metadata.row_index`, so `df` must still expose the scan's metadata
    * columns. The dv side is position-pair sized, so AQE broadcasts it on
    * its own — and a pathological dv may still sort-merge instead of
    * OOMing. */
  private[graft] def dropDeleted(
      df: DataFrame, path: Column, del: Option[DataFrame]): DataFrame =
    del.fold(df)(d => df
      .withColumn("_dv_path", path)
      .withColumn("_dv_row", col("_metadata.row_index"))
      .join(d, Seq("_dv_path", "_dv_row"), "left_anti")
      .drop("_dv_path", "_dv_row"))

  /** Monotone version of this table's FULL commit state: the max
    * filename ts across the main log AND the deletion-vector side log.
    * A merge-on-read delete commits only to `_dv`, so a main-log-only
    * version would miss it — join-view maintenance (MvSync) uses this
    * as the dimension version so dim-side MoR deletes are detected and
    * maintained like any other dim mutation. */
  private[graft] def commitVersion(): Long =
    commitTimestamps().maxOption.getOrElse(0L)

  /** Filename timestamps of EVERY current log file (main + `_dv`) —
    * [[commitVersion]] is their max; their COUNT lets join-view
    * maintenance prove "no commit landed at-or-below the recorded
    * version since the last pin" (`prevCount + commitsInWindow ==
    * count`), which is what makes the pure signed/exact dim window
    * safe without the boundary re-capture. */
  private[graft] def commitTimestamps(): Seq[Long] = {
    val main = logio.currentLogFiles(root)
      .map(p => IceLogIO.logFileInfo(p)._1)
    // only NOT-FOUND reads as "no dv commits" (the normal no-dv-table
    // case — currentLogFiles already returns empty for a missing dir).
    // A transient IO failure must PROPAGATE: swallowed, it would pin a
    // stale (lower) dim version and a dim-side MoR delete committed in
    // the same interval would slip through join-view maintenance
    // undetected — the caller (MvSync) retries instead.
    val dvl =
      try logio.currentLogFiles(s"$root/_dv")
        .map(p => IceLogIO.logFileInfo(p)._1)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    main ++ dvl
  }

  /** Fingerprint of the dv side table's commit state (None = no dv table).
    * A rewrite captures this BEFORE reading any data; [[validatedRewriteCommit]]
    * re-computes it under the commit lock and aborts on mismatch — so a
    * [[DeleteVectors.deleteWhere]] that commits between a rewrite's data
    * job and its commit can never be silently dropped (the rewrite's
    * output was computed against the older dv state, and its tombstones
    * would strand the fresh marks on dead paths). Driver-side metadata
    * work only: one existence probe + one log listing. */
  private[ice] def dvStamp(): Option[String] =
    if (!hasDvTable) None
    else {
      val logs = logio.currentLogFiles(s"$root/_dv")
      Some(s"${logs.length}:${scala.util.hashing.MurmurHash3.orderedHash(logs)}")
    }

  /** [[readFiles]] with this table's deletion vectors APPLIED — the read
    * every file-REWRITING operation must use: a rewrite gives surviving
    * rows new (path, position) identities, so any dv mark not applied at
    * rewrite time would go stale and its deleted rows would resurrect.
    * Merge/optimize/recluster/repartition/rewrite all read through this,
    * which is what makes deletion vectors SURVIVE compaction (the merged
    * output physically excludes deleted rows; the stale marks are
    * vacuum's to reclaim). */
  private[ice] def readFilesApplyingDeletes(
      snap: IceSnapshot, markers: Seq[FileMarker],
      maxTs: Long = Long.MaxValue): DataFrame =
    if (markers.isEmpty) readFiles(snap, markers)
    else dropDeleted(readFiles(snap, markers), relPathCol,
      dvPositions(markers.map(_.path), maxTs))

  /** A18 `get_files`: alive markers whose partition string is within the
    * lexicographic [lo, hi] range (reference: ch/user_scripts/main.go:44-73).
    * Pruning happens *before* Spark ever lists a file — at 100 TB this is
    * the difference between touching 12 partitions and 10⁵ files.
    */
  def filesInPartitionRange(snap: IceSnapshot, lo: String, hi: String): Seq[FileMarker] =
    snap.aliveFiles.filter { m =>
      val p = partitionOf(m.path)
      p >= lo && p <= hi
    }

  def readPartitionRange(lo: String, hi: String, maxTs: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(maxTs)
    readFilesApplyingDeletes(snap, filesInPartitionRange(snap, lo, hi), maxTs)
  }

  /** Exact partition-SET read: the point-lookup analog of
    * [[readPartitionRange]], for partition schemes keyed by hash bucket
    * (e.g. [[graft.operators.TextIndex]], where a query's terms map to a
    * handful of arbitrary buckets, not a contiguous range). Pure log-side
    * pruning: only member partitions' files are ever listed. */
  def readPartitions(parts: Set[String], maxTs: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(maxTs)
    readFilesApplyingDeletes(snap,
      snap.aliveFiles.filter(m => parts.contains(partitionOf(m.path))), maxTs)
  }

  /** Data skipping on the stats column (see `IceTableConfig.statsColumn`):
    * alive markers whose recorded [min, max] interval can intersect
    * [lo, hi]. Values compare per the log schema's type for the column —
    * numerically for numeric types, lexicographically otherwise. Markers
    * without stats are conservatively kept (no false negatives); without a
    * configured stats column this is the full alive list. Pure log-side
    * metadata work: no file is listed or opened.
    */
  def filesInStatsRange(snap: IceSnapshot, lo: String, hi: String): Seq[FileMarker] =
    filesMatchingStats(snap, cfg.statsColumn.map(_ -> (Some(lo), Some(hi))).toMap)

  /** A marker's recorded [min, max] for any stats column (primary or
    * additional), or None (un-prunable on that column). */
  def markerStats(m: FileMarker, column: String): Option[(String, String)] =
    if (cfg.statsColumn.contains(column)) m.stats
    else m.multiStats.get(column)

  /** Multi-column data skipping: alive markers whose recorded per-column
    * [min, max] can intersect EVERY requested window (conjunctive
    * semantics, like a `WHERE a BETWEEN .. AND b BETWEEN ..`). Columns a
    * marker has no stats for are conservatively kept. Pure log-side
    * metadata work — with Z-order clustering this prunes on any clustered
    * dimension, not just the leading sort key. `read().where(...)` on
    * the same windows scans exactly these files. */
  def filesMatchingStats(
      snap: IceSnapshot,
      windows: Map[String, (Option[String], Option[String])]): Seq[FileMarker] = {
    if (windows.isEmpty) return snap.aliveFiles
    val schema = snap.schema.toStructType
    snap.aliveFiles.filter(statsMatch(_, windows, IceTable.statsNumeric(schema, _)))
  }

  /** The one per-file stats test, shared by [[filesMatchingStats]] and
    * `IceFileIndex`'s scan-time skipping: `m`'s recorded [min, max] can
    * intersect every window; `numeric` says how a column compares. */
  private[graft] def statsMatch(m: FileMarker,
      windows: Map[String, (Option[String], Option[String])],
      numeric: String => Boolean): Boolean =
    windows.forall { case (c, (lo, hi)) =>
      markerStats(m, c).forall { case (mn, mx) =>
        IceTable.statsIntersects(numeric(c), mn, mx, lo, hi)
      }
    }

  /** Incremental (CDC-style) file listing: markers committed by *insert*
    * logs whose commit timestamp is in `(sinceTs, untilTs]` — the
    * append-only changelog a downstream incremental pipeline tails
    * ("give me everything ingested since my last run"). Merged (`_m`)
    * logs are excluded by construction: a compaction rewrites existing
    * rows into new files, which is not new data — a consumer reading
    * merge outputs would double-count every compacted row.
    *
    * Metadata-only (one LIST + the window's log GETs; no data I/O), and
    * exact for any window inside the log retention horizon: an insert log
    * is immutable until `tombstoneCleanup(minAgeMs)` deletes it (after
    * it was merged away AND aged out), so size retention to cover the
    * longest consumer lag. Note partition *rewrites* (GDPR) change
    * existing rows without producing CDC events — by design, matching
    * append-only changelog semantics.
    */
  def addedFiles(sinceTs: Long, untilTs: Long = Long.MaxValue): Seq[FileMarker] = {
    val logs = logio.currentLogFiles(root).filter { f =>
      val (ts, merged) = IceLogIO.logFileInfo(f)
      !merged && ts > sinceTs && ts <= untilTs
    }
    if (logs.isEmpty) Seq.empty
    else {
      val fetched = logio.fetchLogLines(root, logs)
      logs.sorted.flatMap(f => logio.parseLog(f, fetched(f))._2)
    }
  }

  /** Rows ingested in `(sinceTs, untilTs]` as a DataFrame (see
    * [[addedFiles]]) under the current union schema — late-added columns
    * read as null, so a consumer that restarts across a schema evolution
    * sees one consistent shape.
    *
    * Deliberately deletion-vector-BLIND: this is the append-only
    * changelog, and a row deleted AFTER it was ingested was still a real
    * event in its window — retroactively filtering history would make a
    * replayed window disagree with what the original consumer saw. */
  def readAdded(sinceTs: Long, untilTs: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot()
    readFiles(snap, addedFiles(sinceTs, untilTs))
  }

  /** B2/B3 hive-partition + filename virtual columns, recovered from the file
    * path (reference README.md:489-492: `extract(_path, 'u=([^\s/]+)')`). */
  def withPartitionColumn(df: DataFrame, key: String): DataFrame =
    df.withColumn(key,
      regexp_extract(input_file_name(), "/" + key + "=([^/]+)/", 1))

  def withFileName(df: DataFrame): DataFrame =
    df.withColumn("_file", input_file_name())

  /** A5 batch schema introspection: the log type-strings an insert of this
    * batch would record, honoring `customInsertSql` (reference `get_schema`,
    * icedb/icedb.py:110-123). */
  def getSchema(df: DataFrame): Schema = cfg.customInsertSql match {
    case None => Schema.fromStructType(df.schema)
    case Some(sql) =>
      val view = s"_rows_${UUID.randomUUID().toString.replace("-", "")}"
      val ss = df.sparkSession // see insertCustom: honor foreachBatch sessions
      df.createOrReplaceTempView(view)
      try Schema.fromStructType(
        ss.sql(sql.replaceAll("\\b_rows\\b", view)).schema)
      finally ss.catalog.dropTempView(view)
  }

  // ------------------------------------------------------------ insert (A1+)

  /** A1-A4: partition-routed, sorted, single-file-per-partition Parquet
    * ingest + one atomic log append (reference: icedb/icedb.py:125-221).
    *
    * Default path is ONE Spark job: hash-repartition on the partition string
    * (each partition value lands in exactly one task → exactly one file per
    * partition dir, like the reference's one-file-per-part contract), sort
    * within tasks by (partition, sortOrder) for row-group pruning, and write
    * with `partitionBy`. The shuffle is the unavoidable one (co-locating each
    * partition's rows); there is no driver-side row handling at any scale.
    */
  def insert(df0: DataFrame): Seq[FileMarker] = insert(df0, Map.empty)

  /** Accumulated schema as of this handle's last successful pre-flight —
    * avoids re-folding the log on EVERY insert (a hot ingest loop would
    * otherwise pay O(commits) log GETs per commit). Seeded from one
    * snapshot fold on first use; conflicts from OTHER writers still
    * surface at their own pre-flight or at read, as in the reference's
    * per-process model. */
  @volatile private var preflightSchema: Option[Schema] = None

  /** Seed the pre-flight cache from a fold the caller already paid for
    * ([[IceTable.openWithSnapshot]]) — the first insert through an
    * opened handle then costs zero extra log reads. */
  private[graft] def seedPreflight(s: Schema): Unit =
    preflightSchema = Some(s.copy())

  /** A20 pre-flight: validate the batch's log schema against the table's
    * accumulated schema BEFORE any file is written (reference
    * `SchemaConflictException` at insert, icedb/log.py:68-78). Without
    * this a conflicting commit would land in the log and poison every
    * subsequent snapshot fold — fail fast instead, leaving the table
    * untouched. Returns the accumulated schema including this batch. */
  private def preflight(df0: DataFrame): Schema = {
    val base = preflightSchema.orElse(trySnapshot(Long.MaxValue).map(_.schema))
    val probe = new Schema
    base.foreach(s => probe.accumulate(s.columns, s.types))
    val b = getSchema(df0)
    probe.accumulate(b.columns, b.types) // throws SchemaConflictException
    probe
  }

  /** CHECK-constraint pre-flight: count violating rows per constraint in
    * ONE aggregation pass over the batch and reject it — BEFORE any file
    * is written — if any constraint has one. SQL CHECK semantics: a NULL
    * predicate passes. Columns a constraint references that are absent
    * from this batch evaluate as null (they read back as null under the
    * union-schema contract, so that is the truth being checked). Free
    * when the table has no constraints. */
  private def enforceConstraints(df: DataFrame, op: String): Unit =
    if (cfg.checkConstraints.nonEmpty) {
      val present = df.columns.map(_.toLowerCase).toSet
      val parsed = cfg.checkConstraints.map { case (n, s) => (n, s, expr(s)) }
      val missing = parsed.flatMap(p =>
        org.apache.spark.sql.graft.PlanBridge.eagerExpression(p._3).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if !present.contains(a.name.toLowerCase) => a.name
        }).distinct
      val probe = missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null)))
      val counts = parsed.map { case (n, _, e) =>
        sum(when(coalesce(e, lit(true)) === false, 1L).otherwise(0L)).as(n)
      }
      val row = probe.agg(counts.head, counts.tail: _*).head
      parsed.zipWithIndex.foreach { case ((name, sql, _), i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (bad > 0L) throw new IllegalArgumentException(
          s"CHECK constraint `$name` ($sql) violated by $bad row(s); " +
            s"$op rejected, table unchanged")
      }
    }

  /** [[insert]] whose log commit also records stream-commit bookkeeping —
    * the data files and the per-query batch id land in ONE atomic log PUT
    * (the exactly-once sink building block; use [[insertBatch]]). */
  def insert(df0: DataFrame, streamCommits: Map[String, Long]): Seq[FileMarker] =
    insertFloored(df0, streamCommits, Long.MinValue)

  /** [[insert]] with a commit-timestamp FLOOR: the commit lands at
    * `max(now, minTs)`. Used by the dv appender to order a delete-mark
    * commit STRICTLY after every main commit whose rows it covers, so
    * key-level change-feed consumers (CdcApply's collapse, the index
    * syncs' gen kill) resolve a same-millisecond insert-then-MoR-delete
    * as delete-wins instead of resurrecting the row. */
  private[graft] def insertFloored(
      df0: DataFrame, streamCommits: Map[String, Long],
      minTs: Long): Seq[FileMarker] = {
    // validate the POST-formatRow shape: the hook may legitimately change
    // column types (that is what lands in the files and the log), and
    // pre-hook validation would reject batches the hook converts
    val shaped = cfg.formatRow.fold(df0)(f => f(df0))
    val probed = preflight(shaped)
    enforceConstraints(shaped, "INSERT")
    val (markers, schema) = writeRouted(routeRows(df0))
    // One PUT = the transaction (icedb/icedb.py:217-219). The markers'
    // createdMs is stamped INSIDE append from the final commit ts
    // (observed-floor + collision bumps included), so marker time equals
    // commit time and inherits the fold's causal monotonicity — derived-
    // state proofs (MvSync flat mark) stay sound under cross-host clock
    // skew without inserts paying any extra log read.
    val (_, meta) = logio.append(root, 1, schema, markers,
      timestamp = Some(math.max(now(), minTs)),
      streamCommits = streamCommits, tableCfg = persistedCfg,
      stampCreatedTs = true)
    preflightSchema = Some(probed)
    maybeCheckpoint()
    markers.map(_.copy(createdMs = meta.timestamp))
  }

  /** Stage one insert for a multi-table transaction
    * ([[IceTransaction]]): data files and a `_x<txnId>`-tagged log file
    * land now, but NO reader sees them until the transaction's single
    * commit marker lands. Pre-flight (schema + CHECK constraints) runs
    * exactly like [[insert]]; the preflight CACHE is deliberately not
    * updated (an aborted transaction must not leave phantom columns that
    * change later batches' validation). Returns (markers, staged ts,
    * root-relative staged log path — commit() re-verifies it still
    * exists after the marker PUT). */
  private[ice] def stageTxnInsert(
      df0: DataFrame, txnId: String): (Seq[FileMarker], Long, String) = {
    val shaped = cfg.formatRow.fold(df0)(f => f(df0))
    preflight(shaped)
    enforceConstraints(shaped, "INSERT")
    val (markers, schema) = writeRouted(routeRows(df0))
    val (rel, meta) = logio.append(root, 1, schema, markers,
      tableCfg = persistedCfg, txnTag = Some(txnId), stampCreatedTs = true)
    (markers.map(_.copy(createdMs = meta.timestamp)), meta.timestamp, rel)
  }

  /** The shared pre-insert pipeline — formatRow hook (A23), `_partition`
    * fast path (icedb/icedb.py:191-196), `Row => String` partitionFunc
    * (A2) or the declarative partitionExpr — so EVERY row-adding path
    * ([[insert]], [[upsert]]'s appended rows) routes identically. */
  private def routeRows(df0: DataFrame): DataFrame = {
    val df = cfg.formatRow.fold(df0)(f => f(df0)) // A23 pre-insert hook
    val hasPre = df.columns.contains("_partition")
    val routed0 =
      if (hasPre) df.withColumn(IceTable.RouteCol, col("_partition"))
      else cfg.partitionFunc match {
        case Some(f) =>
          // A2 `Row => String` parity path: the closure sees the whole row
          // as a struct (the Java UDF1 form — the untyped Scala Row UDF is
          // legacy-gated in Spark 4)
          val u = udf(new org.apache.spark.sql.api.java.UDF1[Row, String] {
            override def call(r: Row): String = f(r)
          }, org.apache.spark.sql.types.StringType)
          df.withColumn(IceTable.RouteCol, u(struct(df.columns.map(col): _*)))
        case None => df.withColumn(IceTable.RouteCol, cfg.partitionExpr)
      }
    val routed1 =
      if (hasPre && !cfg.preservePartition) routed0.drop("_partition")
      else routed0
    appendBucketRoute(routed1)
  }

  /** Append the bucket path segment to an already-computed route column —
    * shared by [[routeRows]] and partition evolution
    * ([[repartitionTable]]), so a bucketed table can never silently lose
    * its layout on a reroute. The bucket is one more partition-path
    * level: every downstream mechanism (one file per route, per-directory
    * merge/rewrite, pruning) keeps the invariant without knowing about
    * it. Placement MUST equal HashPartitioning's partitionIdExpression —
    * pmod(murmur3(cols, seed 42), n), which is exactly functions.hash —
    * or the scan-side BucketSpec would lie. */
  private def appendBucketRoute(routed: DataFrame): DataFrame =
    cfg.bucketBy match {
      case None => routed
      case Some((n, cols)) =>
        val bkt = concat(lit("bkt="),
          pmod(hash(cols.map(col): _*), lit(n)).cast("string"))
        routed.withColumn(IceTable.RouteCol,
          when(col(IceTable.RouteCol) === "", bkt)
            .otherwise(concat(col(IceTable.RouteCol), lit("/"), bkt)))
    }

  /** The read-side [[org.apache.spark.sql.catalyst.catalog.BucketSpec]]
    * for this snapshot: present only when the table is configured
    * bucketed AND every alive file carries a parseable in-range bucket
    * tag. Correctness never depends on it — the spec only lets the
    * planner elide exchanges; an untagged file (pre-bucketing writer, or
    * a foreign file) degrades the snapshot to an ordinary shuffling scan
    * instead of a wrong bucketed one. File names are already driver-side
    * metadata, so the check costs no IO. */
  private[graft] def bucketSpecFor(
      snap: IceSnapshot): Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    cfg.bucketBy.flatMap { case (n, cols) =>
      val allTagged = snap.aliveFiles.forall { m =>
        val name = m.path.substring(m.path.lastIndexOf('/') + 1)
        IceTable.bucketIdOfFile(name).exists(id => id >= 0 && id < n)
      }
      if (allTagged)
        Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, Nil))
      else None
    }

  /** Relative data-file path for a new file in `partition`: bucketed
    * tables tag the name with Spark's `_%05d` bucket suffix (what
    * `FileSourceScanExec` parses back via `.*_(\d+)(?:\..*)?$`) so the
    * relation's `BucketSpec` can map each file to its bucket. */
  private[ice] def dataFileRel(partition: String): String = {
    val base = UUID.randomUUID().toString
    val tagged =
      if (cfg.bucketBy.isEmpty) base
      else IceTable.BucketSeg.findFirstMatchIn(partition)
        .map(mm => f"${base}_${mm.group(1).toInt}%05d").getOrElse(base)
    s"_data/$partition/$tagged.parquet"
  }

  /** Write a routed batch (default or custom-insert-SQL shaped). */
  private def writeRouted(routed: DataFrame): (Seq[FileMarker], Schema) =
    cfg.customInsertSql match {
      case None      => insertDefault(routed)
      case Some(sql) => insertCustom(routed, sql)
    }

  /** Checkpoint-cadence hook (`cfg.checkpointEveryCommits`): after a
    * commit, refresh the snapshot checkpoint once the uncovered tail has
    * grown past the knob — the steady-ingest shape (HTTP batcher flushing
    * every 3 s, streaming sink) that would otherwise re-fold an unbounded
    * history on every snapshot. Cost when enabled: one `_log/_chk` LIST +
    * one `_log` LIST per commit (filename arithmetic only); the fold runs
    * only on the every-Nth commit that actually checkpoints. */
  private def maybeCheckpoint(): Unit = cfg.checkpointEveryCommits.foreach { n =>
    // best-effort cache maintenance AFTER a durable commit: a failure here
    // (concurrent checkpoint racing the rename on a store where rename-to-
    // existing throws, transient fold error) must never surface as an
    // insert failure — the caller would retry an insert that SUCCEEDED
    // and duplicate rows
    try {
      val latestCkptTs = logio.listCheckpoints(root).lastOption
        .map(p => IceLogIO.logFileInfo(p.stripSuffix(".ckpt.jsonl"))._1)
        .getOrElse(Long.MinValue)
      val tail = logio.currentLogFiles(root)
        .count(p => IceLogIO.logFileInfo(p)._1 > latestCkptTs)
      if (tail >= n) writeCheckpoint()
    } catch { case _: Exception => () }
  }

  /** Exactly-once micro-batch insert for Structured Streaming sinks
    * (`foreachBatch` re-delivers the last batch after a crash/restart —
    * at-least-once by itself). The batch's data files and its
    * `(queryName, batchId)` record commit in ONE atomic log PUT; a replay
    * of an already-committed batch id is detected from the log fold and
    * skipped, making the sink transactional end-to-end. Returns whether
    * the batch was inserted (false = duplicate replay, skipped).
    *
    * Scope: batch ids are tracked per `queryName` (one writer per query,
    * Structured Streaming's own contract); the record survives merge/
    * optimize/cleanup log rewrites (per-query max carried forward), so
    * the guarantee outlives compaction — not just the retention window
    * of the original insert log.
    */
  def insertBatch(df: DataFrame, queryName: String, batchId: Long): Boolean = {
    val committed = trySnapshot()
      .flatMap(_.streamCommits.get(queryName))
      .getOrElse(Long.MinValue)
    if (batchId <= committed) false
    else {
      insert(df, Map(queryName -> batchId))
      true
    }
  }

  /** Cluster-aware ingest: range-partition the batch on `clusterExpr`
    * (typically a Z-value — `graft.functions.ZOrder.zvalue`) into
    * `numFiles` contiguous cluster ranges, then insert WITHOUT the
    * partition shuffle, so each range lands in its own file and every
    * file covers a bounded slice of the clustering space. Combined with
    * `statsColumns`, this is OPTIMIZE-ZORDER-shaped ingest: range queries
    * on ANY clustered dimension prune files from the log alone.
    *
    * Cost shape: the range partitioner samples the cluster key (one extra
    * scan of the batch) and the write shuffles once on the range id —
    * same shuffle count as the default insert path.
    */
  def insertClustered(
      df: DataFrame, clusterExpr: Column, numFiles: Int): Seq[FileMarker] = {
    val noShuffle =
      if (!cfg.shuffleOnInsert) this
      else new IceTable(spark, root, cfg.copy(shuffleOnInsert = false), clock, logRel)
    noShuffle.insert(df.repartitionByRange(numFiles, clusterExpr))
  }

  private def insertDefault(routed: DataFrame,
      shuffle: Boolean = cfg.shuffleOnInsert): (Seq[FileMarker], Schema) = {
    val schema = Schema.fromStructType(routed.drop(IceTable.RouteCol).schema)
    val sortCols = col(IceTable.RouteCol) +: cfg.sortOrder.map(col)
    val arranged =
      if (shuffle) routed.repartition(col(IceTable.RouteCol))
      else routed
    (writeDataFiles(arranged.sortWithinPartitions(sortCols: _*), None), schema)
  }

  /** Latest persisted ANALYZE stats through the PROCESS-WIDE cache
    * ([[IceTable.statsCacheFor]]) — the bloom auto-sizing input and the
    * CBO input of catalog relations ([[graft.plans.IceFileIndex
    * .dataFrame]] attaches rowCount/ndv/min/max so join reordering and
    * broadcast decisions plan from analyzed numbers). Process-wide
    * because the SQL resolver constructs a FRESH handle per table
    * reference — a per-handle cache would re-pay the object-store LIST
    * on every query of a never-analyzed table. [[TableStats]]
    * invalidates on write; a first ANALYZE by ANOTHER process surfaces
    * within the one-minute absence re-probe window. */
  private[ice] def invalidateStatsCache(): Unit =
    IceTable.invalidateStatsCacheFor(root, logRel)
  private[graft] def cachedStats: Option[TableStats.Stats] =
    IceTable.statsCacheFor(this)
  private def statsNdv(c: String): Option[Long] =
    cachedStats.flatMap(
      _.columns.find(_.column.equalsIgnoreCase(c)).map(_.ndv))

  /** Apply the bloom-filter writer options (see
    * `IceTableConfig.bloomFilterColumns`). An explicit `bloomFilterNdv`
    * wins; otherwise the latest [[TableStats.analyze]] ndv of each
    * column sizes its filter (a table-level ndv is an upper bound per
    * file — oversized blooms cost bits, never false negatives). */
  private def withBloomOptions(
      w: org.apache.spark.sql.DataFrameWriter[Row]): org.apache.spark.sql.DataFrameWriter[Row] = {
    def ndvFor(c: String): Option[Long] =
      cfg.bloomFilterNdv.orElse(statsNdv(c))
    val perCol = cfg.bloomFilterColumns.foldLeft(w) { (acc, c) =>
      val on = acc.option(s"parquet.bloom.filter.enabled#$c", "true")
      ndvFor(c).fold(on)(n =>
        on.option(s"parquet.bloom.filter.expected.ndv#$c", n))
    }
    // parquet-mr silently TRUNCATES each bloom to
    // `parquet.bloom.filter.max.bytes` (default 1 MB ≈ 8.4M bits). At the
    // ndv the knob exists for (millions of keys per row group) a truncated
    // filter's fpp collapses to tens of percent and row groups stop being
    // skipped — measured: needle scans were no better than bloom-less
    // files until the cap was raised. Size the cap to the optimal bit
    // count for the declared ndv at 1% fpp (next power of two, parquet's
    // internal granularity) so the declared sizing is actually honored.
    val maxNdv = cfg.bloomFilterColumns.flatMap(ndvFor).maxOption
    maxNdv.fold(perCol) { n =>
      val optimalBits = org.apache.parquet.column.values.bloomfilter
        .BlockSplitBloomFilter.optimalNumOfBits(n, 0.01)
      var bytes = 1L << 20
      while (bytes * 8 < optimalBits) bytes <<= 1
      perCol.option("parquet.bloom.filter.max.bytes", bytes)
    }
  }

  /** Custom insert SQL runs per partition over a `_rows` view, exactly like
    * the reference applies it to each partition's row batch
    * (icedb/icedb.py:151-160). Deviation from the reference (which logs the
    * *raw* batch schema even when the SQL reshapes it — icedb.py:139-143):
    * we log the SQL's *output* schema, because our reads are schema-driven
    * rather than footer-union-driven.
    */
  private def insertCustom(routed: DataFrame, sql: String): (Seq[FileMarker], Schema) = {
    // metadata-scale collect: distinct partition values only, never row data
    val parts = routed.select(IceTable.RouteCol).distinct()
      .collect().map(_.getString(0)).sorted
    // Partitions write concurrently, mirroring the reference's per-partition
    // thread pool (icedb.py:205-215) — at 10³-10⁴ partitions a serial
    // driver loop of Spark jobs is the bottleneck. Leaf-only futures: each
    // submits one Spark job + a rename, and never blocks on this pool.
    val results: Seq[(Schema, Seq[FileMarker])] = IceTable.onInsertPool(parts.toSeq) { p =>
      val view = s"_rows_${UUID.randomUUID().toString.replace("-", "")}"
      // resolve the view through the DataFrame's OWN session: inside
      // foreachBatch the batch belongs to a per-micro-batch session
      // whose temp catalog the table's outer session cannot see
      val ss = routed.sparkSession
      routed.filter(col(IceTable.RouteCol) === p).drop(IceTable.RouteCol)
        .createOrReplaceTempView(view)
      try {
        val result = ss.sql(sql.replaceAll("\\b_rows\\b", view))
        val s = Schema.fromStructType(result.schema)
        (s, writeDataFiles(oneFile(result, Nil), Some(p)))
      } finally ss.catalog.dropTempView(view)
    }
    // fold on the caller thread in sorted partition order, so a schema
    // conflict raises at the same partition the serial loop would have
    val schema = new Schema
    results.foreach { case (s, _) => schema.accumulate(s.columns, s.types) }
    (results.flatMap(_._2), schema)
  }

  /** The one data-file writer every engine write ends in: insert,
    * custom-insert SQL, merge/optimize, recluster, repartition and CoW
    * rewrites. Writes `arranged` as-is into a fresh `_tmp/{uuid}` staging
    * dir — `partition = None` splits it by the route column
    * (`partitionBy`), `Some(p)` puts every output file in `p` — then
    * renames each file to `_data/{partition}/{uuid}.parquet` (invisible
    * until the caller's log append: the reference's PUT-then-log crash
    * semantics, ARCHITECTURE.md:180-186) and reads its footer once for the
    * marker. The staging dir is deleted whether the write succeeds or
    * throws. */
  private def writeDataFiles(
      arranged: DataFrame, partition: Option[String]): Seq[FileMarker] = {
    partition.foreach(IceTable.requirePartitionSafe)
    val tmp = new Path(s"$root/_tmp/${UUID.randomUUID()}")
    val local = localWriteFs(arranged.sparkSession)
    val f = local.getOrElse(fs)
    try {
      val w0 = arranged.write
        .option("compression", cfg.compressionCodec)
        .option("parquet.block.size", cfg.parquetBlockBytes)
      val w1 = if (partition.isEmpty) w0.partitionBy(IceTable.RouteCol) else w0
      val w2 = cfg.rowGroupRows
        .fold(w1)(n => w1.option("parquet.block.row.count.limit", n))
      // per-write options reach only this job's Hadoop conf; the uncached
      // instance keeps the process-wide `file:` FileSystem untouched
      val w3 = if (local.isEmpty) w2 else w2
        .option("fs.file.impl", classOf[LocalWriteFileSystem].getName)
        .option("fs.file.impl.disable.cache", "true")
      withBloomOptions(w3).parquet(tmp.toString)
      def parquetIn(dir: Path): Seq[Path] = f.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).sortBy(_.getName)
      val staged: Seq[(String, Path)] = partition match {
        case Some(p) => parquetIn(tmp).map(p -> _)
        case None =>
          f.listStatus(tmp).toSeq.filter(_.isDirectory).flatMap { d =>
            val part = IceTable.unescapePathName(
              d.getPath.getName.stripPrefix(s"${IceTable.RouteCol}="))
            IceTable.requirePartitionSafe(part)
            parquetIn(d.getPath).map(part -> _)
          }
      }
      val renamed = staged.map { case (part, src) =>
        val rel = dataFileRel(part)
        val dest = new Path(root, rel)
        f.mkdirs(dest.getParent)
        if (!f.rename(src, dest))
          throw new java.io.IOException(s"failed to finalize $dest")
        (rel, dest, f.getFileStatus(dest).getLen)
      }
      // a routed insert fans its footer reads out on the bounded pool (a
      // 10³-partition insert against an object store would otherwise pay
      // 10³ sequential footer GETs on the driver); single-partition writes
      // already run inside pool futures, so they stay serial (leaf-only)
      val infos =
        if (partition.isDefined || renamed.size < 2)
          renamed.map(r => footerInfo(r._2))
        else IceTable.onInsertPool(renamed)(r => footerInfo(r._2))
      renamed.zip(infos).map { case ((rel, _, len), (rc, statsAll)) =>
        val (primary, extra) = splitStats(statsAll)
        FileMarker(rel, now(), len, stats = primary, multiStats = extra,
          rowCount = rc)
      }
    } finally {
      // best-effort: a leftover staging dir is swept by vacuumOrphans
      try f.delete(tmp, true) catch { case _: java.io.IOException => () }
    }
  }

  /** [[LocalWriteFileSystem]] (no forked chmod per file or directory)
    * when the root is `file:` and the session leaves `fs.file.impl` at
    * Hadoop's default; None = write through the session's own file system
    * (object stores, custom schemes, a session-chosen local impl). */
  private def localWriteFs(session: SparkSession)
      : Option[org.apache.hadoop.fs.FileSystem] = {
    val impl = Option(hadoopConf.get("fs.file.impl"))
      .orElse(session.conf.getOption("fs.file.impl"))
    if (fs.getUri.getScheme == "file" && impl.forall(_.isEmpty)) Some(localFs)
    else None
  }
  private lazy val localFs: org.apache.hadoop.fs.FileSystem = {
    val l = new LocalWriteFileSystem
    l.initialize(fs.getUri, hadoopConf)
    l
  }

  /** All configured stats columns (primary first). */
  private def statsCols: Seq[String] =
    (cfg.statsColumn.toSeq ++ cfg.statsColumns).distinct

  /** ONE footer open per written file: physical row count (for the `rc`
    * marker field — metadata-only `count(*)` at read time) plus the
    * configured columns' `[min, max]`. The row count comes from the same
    * footer the stats do, so tables with stats configured pay nothing
    * extra; stats-less tables pay one footer read per NEW file at write
    * time — the file was just written, its footer is hot. */
  private def footerInfo(dest: Path)
      : (Option[Long], Map[String, (String, String)]) = {
    try {
      // explicit read options: the one-argument open builds a fresh Hadoop
      // Configuration (a core-default.xml parse, ~10 ms) per file
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(dest, hadoopConf),
        org.apache.parquet.HadoopReadOptions.builder(hadoopConf).build())
      try (Some(reader.getRecordCount), footerStatsAll(reader))
      finally reader.close()
    } catch { case _: Exception => (None, Map.empty) }
  }

  /** Footer stats of a written file: [min, max] of every configured stats
    * column across the file's row groups, as canonical strings. A column
    * is omitted when absent/non-primitive or any row group lacks stats for
    * it — the marker then stays conservatively un-prunable on that column
    * (other columns still record). */
  private def footerStatsAll(
      reader: org.apache.parquet.hadoop.ParquetFileReader)
      : Map[String, (String, String)] = {
    val cols = statsCols
    if (cols.isEmpty) return Map.empty
    try {
      val wanted = cols.toSet
      val min = mutable.Map.empty[String, Comparable[Any]]
      val max = mutable.Map.empty[String, Comparable[Any]]
      val bad = mutable.Set.empty[String]
      val nonEmpty = !reader.getFooter.getBlocks.isEmpty
      reader.getFooter.getBlocks.forEach { b =>
        val found = mutable.Set.empty[String]
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (wanted(name)) {
            found += name
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) bad += name
            else {
              val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
              val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
              if (!min.contains(name) || mn.compareTo(min(name).asInstanceOf[Any]) < 0)
                min(name) = mn
              if (!max.contains(name) || mx.compareTo(max(name).asInstanceOf[Any]) > 0)
                max(name) = mx
            }
          }
        }
        wanted.diff(found).foreach(bad += _)
      }
      if (!nonEmpty) Map.empty
      else cols.filter(c => !bad(c) && min.contains(c))
        .map(c => c -> (statString(min(c)), statString(max(c)))).toMap
    } catch { case _: Exception => Map.empty }
  }

  /** Split a footer-stats map into the marker's (primary `st`, additional
    * `stm`) fields. */
  private def splitStats(
      all: Map[String, (String, String)]): (Option[(String, String)], Map[String, (String, String)]) = {
    val primary = cfg.statsColumn.flatMap(all.get)
    val extra = all -- cfg.statsColumn
    (primary, extra)
  }

  private def statString(v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  /** Merge/optimize output: one file, re-sorted for a default merge under
    * `IceTableConfig.sortOnMerge`. */
  private def mergeArrange(partition: String, df: DataFrame): DataFrame = oneFile(df,
    if (cfg.sortOnMerge && cfg.customMergeSql.isEmpty) cfg.sortOrder.map(col)
    else Nil)

  /** Row-level UPDATE (copy-on-write, atomic): rewrite ONLY the files
    * containing rows that match `cond`, with `assignments` applied to the
    * matching rows (non-matching rows in the same file are carried
    * verbatim), committed in one validated merged-log append. Untouched
    * files are never read past the match probe, so cost scales with the
    * AFFECTED files — vs the reference, whose only row mutation is a
    * whole-partition `rewrite_partition` (icedb.py:503-589). Returns the
    * number of rows updated. For delete-heavy workloads prefer
    * [[DeleteVectors.deleteWhere]] (merge-on-read, no rewrite at all);
    * this is the atomic in-place form.
    *
    * CONTRACT: do not assign to columns the partition function derives
    * from. The rewrite keeps each file in its partition directory
    * (partition strings are physical layout), so such an update would
    * leave path-derived values — and every partition-pruning helper that
    * assumes the derivation — stale. The SQL surface rejects assignments
    * to literal partition-key names; a DERIVED column (e.g. `user_id`
    * feeding `u=user_id%16`) cannot be detected from the table handle and
    * stays the caller's responsibility, exactly like the reference's
    * caller-owned `part_func`. Re-route with [[repartitionTable]] when a
    * partition-deriving column must change.
    */
  def updateWhere(cond: Column, assignments: Seq[(String, Column)]): Long = {
    // bucket columns are placement: a CoW rewrite keeps rows in their
    // file (= their bkt= directory), so assigning one would strand rows
    // in the wrong bucket and silently corrupt co-located joins
    cfg.bucketBy.foreach { case (_, bCols) =>
      val touched = assignments.map(_._1)
        .filter(a => bCols.exists(_.equalsIgnoreCase(a)))
      require(touched.isEmpty,
        s"updateWhere cannot assign bucket column(s) ${touched.mkString(", ")}" +
          " of a bucketed table; delete + re-insert the rows instead")
    }
    // virtual (path-derived, non-data) partition columns are readable in
    // the predicate but not assignable: the value IS the directory —
    // assigning it would be silently dropped at write
    trySnapshot(Long.MaxValue).foreach { s =>
      val dataLc = s.schema.pairs.iterator.map(_._1.toLowerCase).toSet
      val virt = partitionKeyNames(s).filterNot(k => dataLc(k.toLowerCase))
      val touched = assignments.map(_._1)
        .filter(a => virt.exists(_.equalsIgnoreCase(a)))
      require(touched.isEmpty,
        s"updateWhere cannot assign path-derived partition column(s) " +
          s"${touched.mkString(", ")}; re-route rows with repartitionTable " +
          "or delete + re-insert")
    }
    // one SELECT, all expressions against the ORIGINAL columns — SQL
    // UPDATE semantics. A withColumn chain would re-evaluate the
    // condition (and later values) against already-updated columns:
    // SET a = b, b = a must swap, and a predicate on an updated column
    // must keep matching the pre-update value.
    def project(df: DataFrame): DataFrame = {
      val assignMap = assignments.toMap
      val unknown = assignMap.keySet -- df.columns
      require(unknown.isEmpty,
        s"updateWhere assignments reference unknown columns: ${unknown.mkString(", ")}")
      val m = coalesce(cond, lit(false))
      df.select(df.columns.map { c =>
        assignMap.get(c) match {
          case Some(v) => when(m, v).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
    }
    // CHECK pre-flight on the post-update image of the MATCHED rows only
    // (carried rows were validated when they landed). Runs ONCE over the
    // affected-file scan, before ANY per-file rewrite writes — not inside
    // the per-file transform, where it would cost one eager job per file
    // and could fail after other files' (uncommitted) rewrites landed.
    mutateAffected(cond,
      precheck =
        if (cfg.checkConstraints.isEmpty) None
        else Some(df => enforceConstraints(
          project(df.where(coalesce(cond, lit(false)))), "UPDATE")))(project)
  }

  /** Row-level DELETE (copy-on-write, atomic): the [[updateWhere]] shape
    * with matching rows dropped instead of rewritten. Merge-on-read
    * alternative: [[DeleteVectors.deleteWhere]]. Returns rows deleted. */
  def deleteWhere(cond: Column): Long =
    mutateAffected(cond, dropsMatched = true)(
      df => df.where(!coalesce(cond, lit(false))))

  /** MERGE INTO / upsert (replacing semantics, atomic): after the call
    * the table holds `(rows whose key ∉ source) ∪ source` — matched keys
    * are replaced by the source's rows, unmatched source rows append.
    * Only files that actually contain matched keys rewrite (anti-join
    * against the source's key set); the new source rows route through the
    * normal partitioned insert write; replacements, additions, and
    * tombstones land in ONE validated merged-log commit, so readers see
    * the upsert atomically. This is the engine-native form of the
    * reference's ReplacingMergeTree recipe (README.md:755-769), which
    * only converges at some future compaction — here the table is
    * immediately exact. Returns (rows replaced, rows inserted).
    */
  def upsert(source: DataFrame, keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    // a matched row is REPLACED in its file (= its bkt= directory): the
    // replacement must provably share its bucket, i.e. every bucket
    // column must be part of the match key
    cfg.bucketBy.foreach { case (_, bCols) =>
      val missing = bCols.filterNot(b => keyCols.exists(_.equalsIgnoreCase(b)))
      require(missing.isEmpty,
        "upsert on a bucketed table requires every bucket column in the " +
          s"key (missing: ${missing.mkString(", ")}); otherwise a matched " +
          "row's replacement could land stranded in the wrong bucket")
    }
    val dvStampAtRead = dvStamp() // BEFORE any read — see validatedRewriteCommit
    val srcStaged = source.localCheckpoint() // probe + write from one compute
    // every source row lands (replacement or append): CHECK it up front,
    // before any rewrite or insert commits
    enforceConstraints(srcStaged, "MERGE")
    val srcCount = srcStaged.count()
    // the key set is consumed once per affected file (anti-join) plus the
    // probe — materialize its distinct ONCE, not once per consumer
    val srcKeys = srcStaged.select(keyCols.map(col): _*).distinct().localCheckpoint()
    val snapOpt = trySnapshot(Long.MaxValue)
    val (targets, rewritten, replaced) = snapOpt
      .fold((Seq.empty[FileMarker], Seq.empty[FileMarker], 0L))(
        rewriteWithoutKeys(_, srcKeys, keyCols))
    // new rows go through the SAME routing pipeline as insert (formatRow,
    // `_partition` fast path, partitionFunc, custom insert SQL) — a bare
    // partitionExpr would misplace rows on tables configured with any of
    // those hooks
    val (added, addedSchema) = writeRouted(routeRows(srcStaged))
    if (targets.isEmpty && added.isEmpty) return (0L, srcCount) // no-op: no empty commits
    if (targets.isEmpty) {
      // nothing replaced → a pure addition: plain insert-shaped commit
      // (no tombstones, so the validated-rewrite ordering machinery —
      // which folds the source logs of its targets — has nothing to do)
      val sch = new Schema
      snapOpt.foreach(s => sch.accumulate(s.schema.columns, s.schema.types))
      sch.accumulate(addedSchema.columns, addedSchema.types)
      logio.append(root, 1, sch, added, timestamp = Some(now()),
        tableCfg = persistedCfg, stampCreatedTs = true)
    } else {
      // the source may carry evolved columns; accumulate add-only
      validatedRewriteCommit(targets, rewritten ++ added, Seq(addedSchema),
        dvStampAtRead)
    }
    maybeCheckpoint()
    (replaced, srcCount)
  }

  /** `MERGE INTO ... WHEN MATCHED THEN DELETE`: atomically drop every row
    * whose key appears in `source` (the key-set dual of [[deleteWhere]],
    * whose predicate cannot reference another DataFrame). Only files that
    * contain matches rewrite — per-file anti-join against the broadcastable
    * distinct key set — and tombstones + replacements land in one
    * validated merged-log commit. Returns rows deleted. */
  def deleteKeys(source: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteKeys requires at least one key column")
    val dvStampAtRead = dvStamp() // BEFORE any read — see validatedRewriteCommit
    val srcKeys = source.select(keyCols.map(col): _*).distinct().localCheckpoint()
    val snap = trySnapshot(Long.MaxValue).getOrElse(return 0L)
    val (targets, rewritten, deleted) = rewriteWithoutKeys(snap, srcKeys, keyCols)
    if (targets.isEmpty) return 0L
    validatedRewriteCommit(targets, rewritten, Seq.empty, dvStampAtRead)
    maybeCheckpoint()
    deleted
  }

  /** The key-set rewrite behind [[upsert]] and [[deleteKeys]]: probe which
    * alive files of `snap` hold rows whose `keyCols` appear in `srcKeys`,
    * then rewrite exactly those files without such rows through
    * [[rewriteGroups]], one file per group. Deletion vectors apply to
    * both: an already-deleted row is no match, and a rewrite re-positions
    * survivors, so unapplied marks would resurrect their rows. Returns
    * (targets, their rewrites, matched rows); the caller commits. */
  private def rewriteWithoutKeys(snap: IceSnapshot, srcKeys: DataFrame,
      keyCols: Seq[String]): (Seq[FileMarker], Seq[FileMarker], Long) = {
    if (snap.aliveFiles.isEmpty) return (Nil, Nil, 0L)
    val schema = snap.schema.toStructType
    val del = dvPositions(snap.aliveFiles.map(_.path), Long.MaxValue)
    // the metadata columns must project off the SCAN, before any join
    // hides them
    val hits = dropDeleted(scanMarkers(schema, snap.aliveFiles)
        .withColumn("_p", relPathCol), col("_p"), del)
      .join(srcKeys, keyCols, "left_semi")
      .groupBy(col("_p")).agg(count(lit(1)).as("_n"))
      .collect() // file-count scale: one row per AFFECTED file
    val affected = hits.map(_.getString(0)).toSet
    val targets = snap.aliveFiles.filter(m => affected(m.path))
    val (rewritten, _) = rewriteGroups(snap, targets.map(m => partitionOf(m.path) -> Seq(m))) {
      (_, src) => resortedFile(src.join(srcKeys, keyCols, "left_anti"))
    }
    (targets, rewritten, hits.map(_.getLong(1)).sum)
  }

  /** Shared CoW row-mutation core: probe which alive files hold matching
    * rows (one pushed-filter scan reading only `_metadata` + the columns
    * `cond` needs), rewrite exactly those files through `transform`, and
    * commit tombstones + replacements in one validated append.
    *
    * The predicate may reference the path-derived PARTITION columns
    * (catalog-scan parity: `DELETE … WHERE d = '…' AND id < n` must work
    * at row level too). Non-shadowed partition keys ride the scan as
    * VIRTUAL string columns — parsed from the file path in the probe,
    * bound as literals in each per-file rewrite — and are dropped before
    * anything is written or accumulated into the schema. Keys shadowed
    * by a data column keep the file's values, as this scan always did. */
  private def mutateAffected(cond: Column,
      precheck: Option[DataFrame => Unit] = None,
      dropsMatched: Boolean = false)(
      transform: DataFrame => DataFrame): Long = {
    val dvStampAtRead = dvStamp() // BEFORE any read — see validatedRewriteCommit
    val snap = trySnapshot(Long.MaxValue).getOrElse(return 0L)
    if (snap.aliveFiles.isEmpty) return 0L
    val schema = snap.schema.toStructType
    val virtKeys = partitionKeyNames(snap)
      .filterNot(k => schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    // per-row parse from the relative path `_p` — same value semantics as
    // the catalog scan (raw segment after '=', missing key = "")
    def withVirtFromPath(df: DataFrame): DataFrame =
      virtKeys.foldLeft(df)((d, k) => d.withColumn(k, regexp_extract(
        col("_p"), "(?:^|/)" + java.util.regex.Pattern.quote(k) + "=([^/]*)", 1)))
    // exact per-file bind (the file's whole directory is one partition)
    def withVirtFor(df: DataFrame, partition: String): DataFrame = {
      val kv = IceTable.partitionKvOf(partition)
      virtKeys.foldLeft(df)((d, k) => d.withColumn(k, lit(kv.getOrElse(k, ""))))
    }
    val scan = scanMarkers(schema, snap.aliveFiles)
    // FAIL FAST on a type-changing mutation, before any file is written:
    // the log schema drives every read, so a rewritten file whose column
    // type diverged (e.g. SET bigint_col = 'text') would poison the table
    val outSchema = Schema.fromStructType(
      transform(withVirtFromPath(scan.limit(0).withColumn("_p", lit(""))))
        .drop("_metadata").drop("_p").drop(virtKeys: _*).schema)
    val probe = new Schema
    probe.accumulate(
      Schema.fromStructType(schema).columns, Schema.fromStructType(schema).types)
    probe.accumulate(outSchema.columns, outSchema.types) // throws on conflict
    // deletion vectors apply to BOTH the probe (don't count already-
    // deleted rows as matches) and each per-file rewrite (a rewrite gives
    // surviving rows new positions, so unapplied marks would go stale and
    // resurrect their rows)
    val del = dvPositions(snap.aliveFiles.map(_.path), Long.MaxValue)
    val probed = withVirtFromPath(
      dropDeleted(scan.withColumn("_p", relPathCol), col("_p"), del))
    // one probe pass computes BOTH the per-file match count and the
    // per-file alive total: when the mutation DROPS matched rows
    // (delete), a file whose every alive row matches needs no rewrite at
    // all — tombstone-only, zero read/write. A rebase reclaim (gen <
    // until) empties every superseded generation's files, so this turns
    // its CoW from file-count rewrite jobs into one probe + one commit.
    val hits = probed
      .groupBy(col("_p")).agg(count(when(cond, 1)).as("_n"),
        count(lit(1)).as("_t"))
      .where(col("_n") > 0)
      .collect() // file-count scale: one row per AFFECTED file
    if (hits.isEmpty) return 0L
    val matched = hits.map(_.getLong(1)).sum
    val affected = hits.map(_.getString(0)).toSet
    val emptied: Set[String] =
      if (dropsMatched)
        hits.filter(r => r.getLong(1) == r.getLong(2))
          .map(_.getString(0)).toSet
      else Set.empty
    val targets = snap.aliveFiles.filter(m => affected(m.path))
    val rewriteTargets = targets.filterNot(m => emptied(m.path))
    // caller's one-shot validation pass (e.g. updateWhere's CHECK
    // pre-flight) over the AFFECTED files only, before any rewrite
    // writes a byte
    precheck.foreach(check => check(withVirtFromPath(dropDeleted(
      scanMarkers(schema, targets).withColumn("_p", relPathCol), col("_p"), del))
      .drop("_p")))
    // one-file groups through the rewrite writer, which drops an emptied
    // output (on MV tables an empty file would also carry the
    // pre-narrowing union schema past a rebase)
    val (newFiles, _) = rewriteGroups(snap,
        rewriteTargets.map(m => partitionOf(m.path) -> Seq(m))) { (part, src) =>
      resortedFile(transform(withVirtFor(src, part)).drop(virtKeys: _*))
    }
    validatedRewriteCommit(targets, newFiles, Seq(outSchema), dvStampAtRead)
    matched
  }

  /** The arrange step of a copy-on-write file rewrite (DML,
    * [[DeleteVectors.materialize]]): all of `df` in one file, re-sorted by
    * the table's sortOrder. The source file was clustered, and a
    * mutation's join/filter may not preserve that — losing it would
    * silently widen row-group stats on exactly the rewritten files. */
  private[ice] def resortedFile(df: DataFrame): DataFrame =
    oneFile(df, cfg.sortOrder.filter(df.columns.contains).map(col))

  /** Atomic full-content REPLACEMENT of the table with `newContent`,
    * routed, shuffled on the route and sorted by this table's own config
    * — behind [[repartitionTable]] (a handle with the new scheme) and
    * deletion-vector vacuum (the dv table). One write job + one validated
    * merged-log commit. Returns files written.
    *
    * @param sources the EXACT alive-marker set `newContent` was computed
    *   from; only these are tombstoned. A file committed concurrently
    *   (between the caller's read and this commit) stays alive alongside
    *   the rewrite instead of being silently dropped — the dv-vacuum race
    *   shape. None = tombstone the freshest snapshot's alive set (callers
    *   whose `newContent` derives from state they re-read here).
    * @param dvStampAtRead the caller's [[dvStamp]] from before it read
    *   `newContent` (default: captured at the call). */
  private[ice] def rewriteTable(
      newContent: DataFrame,
      sources: Option[Seq[FileMarker]] = None,
      tsFloor: Long = 0L,
      dvStampAtRead: Option[String] = dvStamp()): Int = {
    val acc = sources.orElse(trySnapshot(Long.MaxValue).map(_.aliveFiles))
      .getOrElse(return 0)
    val routed = appendBucketRoute(
      newContent.withColumn(IceTable.RouteCol, cfg.partitionExpr))
    val (written, _) = insertDefault(routed, shuffle = true)
    val (_, _, stamped) = validatedRewriteCommit(acc, written,
      dvStampAtRead = dvStampAtRead, tsFloor = tsFloor)
    stamped.length
  }

  /** All of `df` in one output file, sorted AFTER the coalesce: sorting
    * the inputs per-partition and then coalescing would concatenate sorted
    * runs, not produce a sorted file. */
  private def oneFile(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    if (sortCols.isEmpty) df.coalesce(1)
    else df.coalesce(1).sortWithinPartitions(sortCols: _*)

  // ------------------------------------------------------------- merge (A10)

  /** A10-A14 compaction, one partition per call like the reference
    * (icedb/icedb.py:223-325): the first group of [[IceTable.planMerges]]
    * (hot-first when `asc = false`) runs through [[rewriteGroups]] —
    * explicit file list → optional custom merge SQL over a `source_files`
    * view → one output file → one validated merged-log append.
    *
    * Deviation (documented): the reference reads candidates with DuckDB
    * `hive_partitioning=1`, which bakes partition-dir keys into the merged
    * file as real columns; we read with the log's union schema instead, so
    * merged files keep exactly the log schema (our reads are schema-driven;
    * partition keys stay derivable from the path via
    * [[withPartitionColumn]]).
    */
  def merge(
      maxFileSize: Long = 10_000_000L,
      maxFileCount: Int = 10,
      asc: Boolean = false,
      snapshotTs: Option[Long] = None): Option[MergeResult] = {
    // Optimistic concurrency (beyond the reference's "bring your own
    // exclusive lock", ARCHITECTURE.md:158-165): a commit-time conflict
    // means another commit tombstoned our candidates first; retry from a
    // FRESH snapshot (retrying an explicit stale snapshotTs would only
    // re-conflict — the world it saw is gone).
    var ts = snapshotTs
    var attempts = 0
    while (attempts < 5) {
      try {
        val snap = trySnapshot(ts.getOrElse(coveringTs())).getOrElse(return None)
        return IceTable.planMerges(snap, maxFileSize, maxFileCount, asc)
          .headOption.map { case group @ (partition, sources) =>
            val dvStampAtRead = dvStamp()
            val (written, schemas) =
              rewriteGroups(snap, Seq(group), cfg.customMergeSql)(mergeArrange)
            val (newLog, meta, stamped) =
              validatedRewriteCommit(sources, written, schemas, dvStampAtRead)
            MergeResult(newLog, stamped.headOption, partition, sources, meta)
          }
      } catch {
        case _: CommitConflictException =>
          attempts += 1
          ts = None
      }
    }
    throw new CommitConflictException(
      s"merge lost $attempts consecutive commit races; giving up")
  }

  /** The one commit of every file-replacing operation — merge / optimize
    * / recluster, the CoW DML rewrites, partition rewrite, dv materialize
    * and [[rewriteTable]]. Under the table's JVM-wide commit lock: every
    * `sources` path must still be ALIVE in a fresh fold (a concurrent
    * merge/rewrite/removal that tombstoned one means our output would
    * resurrect or duplicate its rows); the CURRENT source logs of the
    * revalidated sources are folded (a concurrent cleanup may have
    * consolidated the original ones away), carried markers are overlaid
    * with the latest state, the source paths are tombstoned, and ONE
    * merged log holding carried + new markers is appended. Same-JVM
    * commits are linearizable; cross-process writers keep the reference's
    * external-lock contract, narrowed to the validate→append window. On
    * conflict the freshly written `newFiles` are deleted before
    * rethrowing. Returns (new log path, metadata, commit-stamped new
    * markers).
    *
    * Carried markers MUST be overlaid with their current copy: the
    * source-log copy can predate a concurrent commit's tombstone on a
    * DIFFERENT path in the same log, and re-listing the stale copy in a
    * newer log would resurrect that file. The append is stamped
    * `max(now, max folded log ts + 1, tsFloor)`: the fold is ordered by
    * filename timestamp, and same-millisecond commits get filename-bumped
    * PAST the wall clock (IceLogIO.append) — a commit stamped at bare
    * now() could sort BEFORE a bump-chained log it just overlaid, whose
    * re-listed alive copies would then win last-writer-wins over the
    * commit's tombstones.
    *
    * @param dvStampAtRead the [[dvStamp]] the caller captured BEFORE
    *   reading any data. Re-computed here under the commit lock (the same
    *   lock every [[DeleteVectors.deleteWhere]] commit takes); a mismatch
    *   means rows were marked deleted after this rewrite read its inputs —
    *   committing would tombstone the paths those fresh marks point at and
    *   silently resurrect the deleted rows in the rewritten files. Abort
    *   with [[CommitConflictException]] so the caller retries from a fresh
    *   snapshot. Tables with no dv side table compare None == None (one
    *   existence probe). */
  private[ice] def validatedRewriteCommit(
      sources: Seq[FileMarker],
      newFiles: Seq[FileMarker],
      accumulateSchemas: Seq[Schema] = Seq.empty,
      dvStampAtRead: Option[String] = None,
      tsFloor: Long = 0L)
      : (String, LogMetadata, Seq[FileMarker]) =
    try IceTable.withTableLock(root, hadoopConf) {
      // Long.MaxValue, not now(): validation wants the absolute latest
      // state. Same-millisecond commits get filename-bumped PAST the
      // current clock reading (IceLogIO.append), and a time-filtered fold
      // would miss exactly the commit we must not conflict with.
      val cur = logio.readAtMaxTime(root, Long.MaxValue)
      val curByPath = cur.files.iterator.map(f => f.path -> f).toMap
      val fresh = sources.map { m =>
        curByPath.get(m.path).filter(_.alive).getOrElse(
          throw new CommitConflictException(
            s"source file ${m.path} was tombstoned or removed by a concurrent commit"))
      }
      if (dvStamp() != dvStampAtRead)
        throw new CommitConflictException(
          "deletion-vector state changed between this rewrite's data read " +
            "and its commit; retry from a fresh snapshot")
      val maxLogTs = cur.logFiles.iterator
        .map(p => IceLogIO.logFileInfo(p)._1).maxOption.getOrElse(0L)
      // the source logs fold BETWEEN fixing commitTs and appending —
      // register the ts as in flight for that whole window so a concurrent
      // settled-bound consumer cannot serve a window past it and lose the
      // rewrite's change events (IceLogIO registry)
      val commitTs = IceLogIO.registerCommitFloor(
        root, math.max(math.max(now(), maxLogTs + 1), tsFloor), logRel)
      try {
        val mergedLogFiles = fresh.flatMap(_.virSourceLogFile).distinct.sorted
        val ((mSchema, mMarkers0, mTombstones), mCommits) =
          logio.readLogForwardWithCommits(root, mergedLogFiles)
        val mMarkers = mMarkers0.map(m => curByPath.getOrElse(m.path, m))
        // a custom merge SQL may reshape columns (seed an aggregate state);
        // reads are schema-driven, so the output schema accumulates add-only
        accumulateSchemas.foreach(s => mSchema.accumulate(s.columns, s.types))
        val accPaths = sources.map(_.path).toSet
        val updated = mMarkers.map { m =>
          // copy, not reconstruct: carried-forward markers keep their stats
          m.copy(
            tombstone = if (accPaths(m.path)) Some(commitTs) else m.tombstone,
            virSourceLogFile = None)
        }
        val stamped = newFiles.map(_.copy(createdMs = commitTs))
        val newTombstones = mergedLogFiles.map(LogTombstone(_, commitTs))
        val (newLog, meta) = logio.append(
          root, 1, mSchema,
          updated ++ stamped,
          mTombstones ++ newTombstones,
          merged = true,
          timestamp = Some(commitTs),
          streamCommits = mCommits, // exactly-once records outlive the rewrite
          // orElse: a rewrite's log may outlive (and its cleanup delete) the
          // log that carried the config — a bare handle must not drop it
          tableCfg = persistedCfg.orElse(cur.tableConfig))
        (newLog, meta, stamped)
      } finally IceLogIO.endCommit(root, commitTs, logRel)
    } catch {
      case e: CommitConflictException =>
        newFiles.foreach(m => logio.delete(root, m.path))
        throw e
    }

  /** The one writer of replacement files, behind every operation that
    * replaces alive files: merge / optimize / recluster, the CoW DML
    * rewrites, [[rewritePartitionWith]] and [[DeleteVectors.materialize]].
    * Every (partition, sources) group reads its sources under `snap` with
    * deletes applied (ONE [[dvPositions]] for the whole call), runs
    * `mergeSql` (if any) over them as the `source_files` view, and writes
    * `arrange(partition, result)` into its partition; the groups run
    * concurrently on the insert pool (disjoint groups touch disjoint
    * files). An output holding zero rows is deleted at once: a group whose
    * every row is gone is replaced by nothing, never by an empty file
    * that would stay alive padding every later scan. Returns the written
    * markers and each group's `mergeSql` output schema; the caller
    * commits them in ONE [[validatedRewriteCommit]] (the log rewrite of
    * icedb/icedb.py:290-322), which deletes them on conflict.
    *
    * The view name is made unique so concurrent merges of different
    * tables in one session never race, and it is dropped once the write
    * has executed the plan. Deviation from the reference (which carries
    * the source-log schema verbatim, icedb.py:291-293): a custom merge SQL
    * may *reshape* columns; its output schema accumulates add-only (type
    * conflicts still throw). */
  private[ice] def rewriteGroups(
      snap: IceSnapshot,
      groups: Seq[(String, Seq[FileMarker])],
      mergeSql: Option[String] = None)(
      arrange: (String, DataFrame) => DataFrame): (Seq[FileMarker], Seq[Schema]) = {
    if (groups.isEmpty) return (Nil, Nil)
    val schema = snap.schema.toStructType
    val del = dvPositions(groups.flatMap(_._2.map(_.path)), Long.MaxValue)
    val written = IceTable.onInsertPool(groups) { case (partition, sources) =>
      val src = dropDeleted(scanMarkers(schema, sources), relPathCol, del)
      val view = s"source_files_${UUID.randomUUID().toString.replace("-", "")}"
      try {
        val out = mergeSql.fold(src) { q =>
          src.createOrReplaceTempView(view)
          spark.sql(q.replaceAll("\\bsource_files\\b", view))
        }
        (writeDataFiles(arrange(partition, out), Some(partition)),
          mergeSql.map(_ => Schema.fromStructType(out.schema)))
      } finally if (mergeSql.isDefined) spark.catalog.dropTempView(view)
    }
    val (empty, kept) = written.flatMap(_._1).partition(_.rowCount.contains(0L))
    empty.foreach(m => logio.delete(root, m.path))
    (kept, written.flatMap(_._2))
  }

  /** Run [[merge]] until no partition has anything left to merge (the
    * reference's caller loop, examples/api-flask.py:92-101). Returns the
    * number of merges performed. */
  def mergeAll(
      maxFileSize: Long = 10_000_000L,
      maxFileCount: Int = 10,
      asc: Boolean = true): Int =
    Iterator.continually(merge(maxFileSize, maxFileCount, asc)).takeWhile(_.isDefined).length

  /** Full-table compaction, Spark-shaped: where the reference's contract is
    * one-partition-per-call (so a caller loop issues N snapshots, N jobs
    * and N log appends — fine for a cron merging the hottest partition,
    * quadratic pain for "optimize the table"), each round executes EVERY
    * group [[IceTable.planMerges]] finds under one snapshot through
    * [[rewriteGroups]]: concurrent merge jobs, ONE merged-log append — a
    * single atomic PUT, so a crash mid-optimize publishes nothing. Repeats
    * in rounds until no partition is mergeable. Returns merges performed.
    *
    * Same per-partition policy as [[merge]]; requires the same external
    * exclusive lock as any merge (ARCHITECTURE.md:158-165).
    */
  def optimize(
      maxFileSize: Long = 10_000_000L,
      maxFileCount: Int = 10): Int = {
    var total = 0
    var conflicts = 0
    var more = true
    while (more) {
      val snap = trySnapshot(coveringTs())
      // partition-name order: the order the round's outputs are logged in
      val groups = snap.toSeq.flatMap(
        IceTable.planMerges(_, maxFileSize, maxFileCount, asc = true)).sortBy(_._1)
      more = groups.nonEmpty
      // a lost commit race just re-plans the round from a fresh snapshot
      // (bounded: each loss burns one of `conflicts`)
      if (more) try {
        val dvStampAtRead = dvStamp()
        val (written, schemas) =
          rewriteGroups(snap.get, groups, cfg.customMergeSql)(mergeArrange)
        validatedRewriteCommit(groups.flatMap(_._2), written, schemas, dvStampAtRead)
        total += groups.length
      } catch {
        case e: CommitConflictException =>
          conflicts += 1
          if (conflicts >= 5) throw e
      }
    }
    total
  }

  /** OPTIMIZE ZORDER (recluster): rewrite every partition's alive files
    * re-sorted by `clusterExpr` (typically `graft.functions.ZOrder.zvalue`
    * over the query dimensions) into `filesPer` range-partitioned output
    * files per partition — so multi-column stats skipping starts working
    * on data that was ingested BEFORE clustering was configured, the
    * after-the-fact counterpart of [[insertClustered]].
    *
    * Each output file covers a contiguous slice of the clustering space
    * (range partitioning on the cluster key + an intra-file sort), and its
    * footer min/max for every configured stats column lands in the log, so
    * box queries on ANY clustered dimension prune files without I/O.
    *
    * Execution shape: one Spark job per partition on the bounded pool
    * (disjoint partitions touch disjoint files), ONE atomic merged-log
    * append for the whole pass — a crash mid-recluster publishes nothing,
    * and time travel to any pre-recluster timestamp still sees the old
    * layout. Requires the same external exclusive lock as any merge.
    *
    * @param partitions restrict to these partition strings (None = all)
    * @return number of partitions rewritten
    */
  def recluster(
      clusterExpr: Column,
      filesPer: Int = 1,
      partitions: Option[Set[String]] = None): Int = {
    require(filesPer >= 1, "filesPer must be >= 1")
    val dvStampAtRead = dvStamp() // BEFORE the dv-applying reads
    val snap = trySnapshot(coveringTs()).getOrElse(return 0)
    val byPart = snap.aliveFiles.groupBy(f => partitionOf(f.path)).toSeq
      .filter { case (p, _) => partitions.forall(_.contains(p)) }
      .sortBy(_._1)
    // every alive file of a partition is one group: the optimize executor
    // with a clustering arrange step instead of the merge one
    val (written, _) = rewriteGroups(snap, byPart) { (_, src) =>
      if (filesPer == 1) oneFile(src, Seq(clusterExpr))
      else src.repartitionByRange(filesPer, clusterExpr).sortWithinPartitions(clusterExpr)
    }
    if (byPart.nonEmpty)
      validatedRewriteCommit(byPart.flatMap(_._2), written, Seq.empty, dvStampAtRead)
    byPart.length
  }

  /** Partition evolution: rewrite the WHOLE table under a new partition
    * function, atomically. The reference has no answer to "I partitioned
    * by day but my queries filter by user" short of a manual re-ingest
    * (the partition scheme is frozen at `part_func` — icedb/icedb.py:22);
    * this is the lakehouse-native operation for it.
    *
    * Shape: one snapshot → [[rewriteTable]] on a handle carrying the new
    * scheme: one Spark job (the same shuffle-on-partition +
    * sortWithinPartitions + partitionBy write as [[insert]]'s default
    * path, under `newPartitionExpr`/`newSortOrder`) → ONE merged-log
    * append that tombstones every pre-existing alive file, carries
    * forward unexpired tombstones, and log-tombstones the source logs.
    * A crash before the append publishes nothing (orphaned `_tmp` files
    * only); time travel to any pre-rewrite timestamp still resolves the
    * old layout — MVCC holds across the partition-scheme change.
    *
    * At scale this is the one unavoidable full shuffle (every row moves
    * partitions by definition); there is no driver-side row handling and
    * file markers/stats flow from the executors' footers as in insert.
    *
    * The handle's own `cfg.partitionExpr` still routes future inserts:
    * after a repartition, construct the go-forward handle with the new
    * config (the partition function is caller state here exactly as
    * `part_func` is in the reference).
    *
    * @return number of data files written under the new scheme
    */
  def repartitionTable(
      newPartitionExpr: Column,
      newSortOrder: Seq[String] = cfg.sortOrder): Int = {
    val dvStampAtRead = dvStamp() // BEFORE the dv-applying read
    val snap = trySnapshot(coveringTs()).getOrElse(return 0)
    if (snap.aliveFiles.isEmpty) return 0
    // write and commit through a handle carrying the NEW partition/sort
    // config (all other knobs kept): the rewrite's log metadata is
    // last-writer-wins, so committing through `this` would re-stamp the
    // OLD partition expression as authoritative — a later IceTable.open /
    // SQL INSERT would route new rows under the pre-repartition scheme
    // while the data sits under the new one. customInsertSql/formatRow
    // stay recorded for future inserts; the rewrite's write never runs
    // them. partitionFunc cleared: the new DECLARATIVE expression
    // supersedes any closure (or unpersistable-expr poison) — leaving the
    // flag standing would poison every reopened handle's inserts even
    // though the table now has a perfectly persistable scheme
    new IceTable(spark, root,
      cfg.copy(partitionExpr = newPartitionExpr, sortOrder = newSortOrder,
        partitionFunc = None), clock, logRel)
      .rewriteTable(readFilesApplyingDeletes(snap, snap.aliveFiles),
        Some(snap.aliveFiles), dvStampAtRead = dvStampAtRead)
  }

  // ----------------------------------------------------- maintenance (A15-17)

  /** A15 vacuum + log truncation: exact port of icedb/icedb.py:327-433 —
    * processes only merged (`_m`) logs, deletes expired log-tombstone targets
    * and expired tombstoned data files, writes one consolidated merged log
    * with the kept markers/tombstones, then deletes the cleaned source logs.
    * Deletes are optimistic (a crash may orphan data files, icedb.py:331).
    */
  def tombstoneCleanup(minAgeMs: Long): CleanupResult =
    IceTable.withTableLock(root, hadoopConf) {
    // the whole delete→append→delete sequence holds the commit lock: a
    // merge validating its sources must never interleave with cleanup
    // deleting the logs those sources came from
    val nowMs = coveringTs()
    val snap = snapshot(nowMs)
    val mergeLogFiles = snap.logFiles.filter(p => IceLogIO.logFileInfo(p)._2)

    // files OTHER live log heads still reference must survive
    // reclamation even past min_age: branches share the `_data/` pool
    // (Branch), so a long-lived branch + aggressive retention would
    // otherwise silently break the branch — a live branch is a retention
    // PIN, exactly as in vacuumOrphans, and dropping it releases the
    // files to the NEXT cleanup (their tombstoned markers are kept
    // below, so nothing is lost). Symmetrically, cleanup on a BRANCH
    // handle pins main's files. One log fold per live branch —
    // maintenance-priced metadata I/O.
    val branchPinned: Set[String] = {
      val mainH = if (logRel == "_log") this
        else new IceTable(spark, root, cfg)
      val others = (if (logRel == "_log") Seq.empty[IceTable] else Seq(mainH)) ++
        Branch.list(mainH).map(Branch.open(mainH, _))
          .filterNot(_.logRel == logRel)
      others.flatMap(_.trySnapshot(Long.MaxValue)
        .map(_.files.map(_.path)).getOrElse(Seq.empty)).toSet
    }

    val logFilesToDelete = mutable.LinkedHashSet.empty[String]
    val logFilesToKeep = mutable.LinkedHashMap.empty[String, LogTombstone]
    val dataFilesToDelete = mutable.LinkedHashSet.empty[String]
    val dataFilesToKeep = mutable.LinkedHashMap.empty[String, FileMarker]
    val schema = new Schema
    val cleaned = mutable.ArrayBuffer.empty[String]
    val expired = nowMs - minAgeMs

    // fetch all merged logs concurrently (the reference's cleanup is
    // sequential-GET-bound at scale): fetchLogLines is leaf-only I/O on the
    // shared pool — never nest readLogForward (which Awaits on that same
    // pool) inside pool futures, that starves and deadlocks at >16 logs.
    // The per-log parse + fold below stays sequential in sorted order.
    val fetched = logio.fetchLogLines(root, mergeLogFiles)
    // one pass to index the fold's current tombstones by path: the
    // per-marker fallback below would otherwise linear-scan the whole
    // snapshot per marker — O(files²) driver CPU, minutes at the
    // reference's own 10⁵-10⁶ file counts (SURVEY §7 risk register)
    val currentTombstones: Map[String, Long] =
      snap.files.iterator
        .flatMap(f => f.tombstone.map(f.path -> _)).toMap
    var cleanCommits = Map.empty[String, Long]
    mergeLogFiles.foreach { logFile =>
      val (s, markers, tombstones) = logio.parseLog(logFile, fetched(logFile))
      // exactly-once stream-commit records must outlive the consolidation
      cleanCommits = LogMetadata.mergeCommits(cleanCommits,
        LogMetadata.fromJson(fetched(logFile)(0)).streamCommits)
      tombstones.foreach { tmb =>
        if (tmb.createdMs <= expired) logFilesToDelete += tmb.path
        else logFilesToKeep(tmb.path) = tmb
      }
      markers.foreach { fm =>
        // fall back to the *current* fold's tombstone for this path
        // (icedb.py:375-381)
        val tombstone = fm.tombstone.orElse(currentTombstones.get(fm.path))
        if (tombstone.exists(_ <= expired) && !branchPinned(fm.path)) {
          dataFilesToDelete += fm.path
          dataFilesToKeep.remove(fm.path)
        } else {
          // branch-pinned expired files keep their tombstoned marker, so
          // the cleanup after the branch drops reclaims them normally
          dataFilesToKeep(fm.path) = fm.copy(virSourceLogFile = None)
        }
      }
      schema.accumulate(s.columns, s.types)
      cleaned += logFile
    }

    // fence BEFORE the destructive phase, not just at the append: if the
    // lease was TTL-stolen during the (possibly long) fold above, the new
    // holder may already be validating against these very files — the
    // ownership re-check aborts the deletes instead of racing the thief
    // (and renews the lease mtime for the batch that follows)
    TableLock.checkAndFence(root)
    logFilesToDelete.foreach(p => logio.delete(root, p))
    dataFilesToDelete.foreach(p => logio.delete(root, p))

    // the consolidation horizon: max filename ts of every log this
    // cleanup DELETES (consolidated merged logs + expired tombstoned
    // logs). ChangeFeed consumers caught up past it are unaffected;
    // windows reaching at-or-below it are rejected (see LogMetadata.cln)
    val horizon = (cleaned.toSeq ++ logFilesToDelete.toSeq)
      .map(p => IceLogIO.logFileInfo(p)._1).maxOption

    logio.append(
      root, 1, schema,
      dataFilesToKeep.values.toSeq,
      logFilesToKeep.values.toSeq, // kept to preserve tombstones for min_age
      merged = true,
      timestamp = Some(now()),
      streamCommits = cleanCommits,
      // orElse: cleanup DELETES the source logs — the consolidated log must
      // carry the persisted config forward even from a bare handle
      tableCfg = persistedCfg.orElse(snap.tableConfig),
      cleanedHorizon = horizon)

    // same guard for the source-log deletes (the consolidation append just
    // fenced, but fencing is cheap and this batch is what loses data)
    TableLock.checkAndFence(root)
    cleaned.foreach(p => logio.delete(root, p))

    // checkpointed tables self-heal here: cleanup is the one op that makes
    // an old checkpoint's marker set a (harmless but growing) superset of
    // the live state, so refresh it while the fold is hot. Best-effort —
    // the cleanup itself already committed durably (see maybeCheckpoint)
    try if (logio.listCheckpoints(root).nonEmpty) writeCheckpoint()
    catch { case _: Exception => () }

    CleanupResult(cleaned.toSeq, logFilesToDelete.toSeq, dataFilesToDelete.toSeq)
    }

  /** A16 log-only partition drop (TTL / data deletion): the removal callback
    * picks from the unique alive-partition list; their markers get tombstones
    * in one merged log append — no data I/O (icedb/icedb.py:435-501).
    *
    * Deviation (safety, invariant-identical): the reference carries forward
    * only the *tombstoned* markers while log-tombstoning the whole source
    * log, which can drop sibling markers once cleanup deletes that log; we
    * carry forward all markers of each affected source log (what merge itself
    * does, icedb.py:290-322). The fold is last-writer-wins by path, so alive/
    * file-count invariants are unchanged.
    */
  /** Delete crash orphans: data files on disk that NO log marker (alive
    * or tombstoned) references. The reference's commit protocol shares
    * this failure mode — "a failure here may orphan files in S3"
    * (icedb/icedb.py:331): insert/merge write+rename files FIRST, then
    * commit the log, so a crash in between leaves invisible-but-billed
    * objects forever. This is the offline reclaim pass.
    *
    * Safety: inserts are NOT serialized by the commit lock, so a file
    * renamed into `_data/` but not yet logged looks orphaned for the
    * length of one commit — `minAgeMs` (file mtime grace, default 1 h)
    * must exceed any insert's write→commit window. Lock-held fold +
    * full-state `files` check means nothing referenced is ever touched;
    * stale `_tmp/` staging dirs are swept by the same grace rule.
    *
    * Cost: one recursive LIST of `_data/` — offline-maintenance priced,
    * same as any object-store GC; never on a query path. */
  def vacuumOrphans(minAgeMs: Long = 3_600_000L): Seq[String] =
    vacuumOrphansImpl(minAgeMs, () => ())

  /** Test seam: `afterSnapshot` runs between the snapshot read that
    * builds `known` and the staged-transaction handshake — the window in
    * which a late-landing commit marker can make an expired stage's
    * files COMMITTED while `known` still misses them. */
  private[ice] def vacuumOrphansImpl(
      minAgeMs: Long, afterSnapshot: () => Unit): Seq[String] =
    IceTable.withTableLock(root, hadoopConf) {
    // a branch handle folds only ITS log — sweeping from one would treat
    // every main-only file as an orphan
    require(logRel == "_log",
      "vacuumOrphans must run on the main table handle, not a branch")
    // Listed BEFORE the snapshot fold: any log in this set is definitely
    // part of the fold below, so its markers are in `known` and the
    // protection-set pass can skip fetching/parsing it. A tagged log
    // confirming between this list and the fold is simply not in the set
    // — it gets parsed, the safe direction. This keeps the sweep's parse
    // cost bounded by UNCONFIRMED + just-confirmed stages instead of
    // growing with total transaction history, and keeps one corrupt
    // historical confirmed log (whose files `known` already protects)
    // from aborting every future vacuum.
    val confirmedAtSnapshot: Set[String] = logio.currentLogFiles(root).toSet
    val known: Set[String] =
      trySnapshot(Long.MaxValue).map(_.files.map(_.path).toSet).getOrElse(Set.empty) ++
        // branch logs reference shared `_data/` files main's log knows
        // nothing about (Branch): their data must survive the orphan sweep
        // for as long as the branch exists — dropping the branch is what
        // releases them
        Branch.list(this).flatMap { b =>
          Branch.open(this, b).trySnapshot(Long.MaxValue)
            .map(_.files.map(_.path)).getOrElse(Seq.empty)
        }
    afterSnapshot()
    val fsys = fs
    val cutoff = now() - minAgeMs
    val rootStr = fsys.makeQualified(new Path(root)).toString.stripSuffix("/")
    val deleted = Seq.newBuilder[String]
    // destructive deletes run fenced: re-verify lease ownership before the
    // sweep and every batch of deletes — a TTL steal mid-walk (the
    // recursive list can stall >TTL on big stores) must abort the sweep,
    // not race the new holder's commits. The check also renews the lease.
    var sinceFence = 0
    def fencedDelete(p: Path, recursive: Boolean): Unit = {
      if (sinceFence == 0) TableLock.checkAndFence(root)
      sinceFence = (sinceFence + 1) % 256
      fsys.delete(p, recursive)
      ()
    }
    // multi-table transactions (IceTransaction): a PENDING stage's data
    // files are invisible to the snapshot (`known` misses them) but must
    // survive the sweep while the transaction is young; an expired
    // unconfirmed stage — aborted or crashed — is reclaimed wholesale,
    // tagged log plus its referenced data. The cut uses the TXN TTL (at
    // least), matching commit()'s own refusal past it; the abort-intent
    // handshake below makes the reclaim-vs-commit decision race-free
    // even under cross-process clock skew (skew can kill a transaction,
    // never partially commit one).
    val stagedCut = now() - math.max(minAgeMs, IceTransaction.TtlMs)
    val expiredStages = logio.stagedLogFiles(root)
      .filter { case (rel, _) => IceLogIO.logFileInfo(rel)._1 <= stagedCut }
    // a read/parse failure on a staged log PROPAGATES and aborts the
    // sweep: returning "no markers" here would silently drop a live
    // stage's data files from the protection set and reclaim them
    def stagedMarkers(rel: String): Seq[FileMarker] =
      logio.parseLog(rel, logio.fetchLogLines(root, Seq(rel))(rel))._2
    // abort-intent handshake (see IceLogIO.txnAbortPath + IceTransaction
    // .commit): per expired txn, PUT the reclaim intent FIRST, then
    // re-probe the commit marker — a marker that landed since the staged
    // listing means the transaction confirmed late (our clock, not
    // theirs, called it expired): skip the reclaim and withdraw the
    // intent. A commit PUT any later than our probe is guaranteed to see
    // the intent and self-abort, so past this gate the stage is
    // permanently dead and reclaim cannot race a commit.
    val reclaimable = expiredStages.groupBy(_._2).filter { case (txnId, _) =>
      val intent = IceLogIO.txnAbortPath(root, txnId)
      val marker = IceLogIO.txnMarkerPath(root, txnId)
      val mfs = intent.getFileSystem(hadoopConf)
      // the intent must be DURABLY present before any reclaim: a failed
      // PUT that is not "already exists" voids the handshake (a racing
      // commit would probe an absent intent and confirm while we
      // reclaim) — skip this transaction for this sweep instead
      val intentPlaced =
        try { val o = mfs.create(intent, false); o.close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
          case _: java.io.IOException =>
            try mfs.exists(intent) catch { case _: Exception => false }
        }
      if (!intentPlaced) false
      else if (mfs.exists(marker)) { // confirmed late: withdraw, don't reclaim
        try mfs.delete(intent, false) catch { case _: Exception => () }
        false
      } else true
    }
    // protection set for the generic `_data` sweep: markers of every
    // txn-tagged log NOT being reclaimed this sweep AND not already
    // covered by the snapshot fold. That covers live stages,
    // expired-but-honored stages (late-confirmed, or the intent PUT
    // failed and the transaction could still confirm), and CONFIRMED
    // transactions whose marker landed between the snapshot read above
    // and the staged listing — in every one of those states the files
    // are in neither `known` nor any narrower staged set yet must
    // survive: they are committed (or still commit-able) data. Tagged
    // logs in `confirmedAtSnapshot` are skipped — the fold already put
    // their markers in `known`, so parsing them again would only add
    // linear-in-history cost and a corrupt-old-log failure mode. A
    // genuinely dead stage is reclaimed by a sweep whose handshake wins.
    val reclaimedTxns = reclaimable.keySet
    val protectedStaged: Set[String] = logio.taggedLogFiles(root)
      .filterNot { case (rel, txnId) =>
        reclaimedTxns(txnId) || confirmedAtSnapshot(rel) }
      .flatMap { case (rel, _) => stagedMarkers(rel).map(_.path) }.toSet
    reclaimable.values.flatten.foreach { case (rel, _) =>
      // read the marker list, then delete the staged LOG first — it is
      // the visibility anchor, so the data-file deletes below only ever
      // touch never-visible files
      val ms = stagedMarkers(rel)
      fencedDelete(new Path(root, rel), recursive = false)
      deleted += rel
      ms.foreach { m =>
        fencedDelete(new Path(root, m.path), recursive = false)
        deleted += m.path
      }
    }
    val dataDir = new Path(root, "_data")
    if (fsys.exists(dataDir)) {
      val it = fsys.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
        if (st.isFile && !known(rel) && !protectedStaged(rel) &&
            st.getModificationTime <= cutoff) {
          fencedDelete(st.getPath, recursive = false)
          deleted += rel
        }
      }
    }
    val tmpDir = new Path(root, "_tmp")
    if (fsys.exists(tmpDir)) {
      fsys.listStatus(tmpDir).foreach { st =>
        if (st.getModificationTime <= cutoff) {
          fencedDelete(st.getPath, recursive = true)
          deleted += st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
        }
      }
    }
    // lock-machinery debris: steal/release graveyards and failed fence
    // temps ([[TableLock]]) are root-level one-off files that would
    // otherwise accumulate forever; they are dead the moment they exist,
    // so age them out with the same cutoff. Guarded like the other
    // sweeps: with the lock disabled nothing ever created the root dir
    val rootPath = new Path(root)
    val rootListing =
      if (fsys.exists(rootPath)) fsys.listStatus(rootPath)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    rootListing.foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith(".graft.lock.stale.") ||
            n.startsWith(".graft.fence.tmp.")) &&
          st.getModificationTime <= cutoff) {
        fencedDelete(st.getPath, recursive = false)
        deleted += n
      }
    }
    // reclaim-intent debris: `.abort` markers in the shared `_txn/`
    // directory are dead the moment their transaction's TTL has long
    // passed (commit marker present → the withdraw crashed; absent → the
    // txn is dead). Aging one out is safe even against a zombie commit:
    // its staged-log re-verification still detects the reclaimed stage.
    // `.commit` markers are NEVER swept — staged logs stay tagged for
    // life, so their marker is load-bearing until tombstone cleanup
    // removes the logs themselves.
    // NEVER this sweep's own intents: with a skewed clock they would be
    // younger than any cutoff computed from it, and collecting one
    // before the racing commit probes it would reopen the handshake
    val ownIntents = reclaimable.keySet.map(id => s"$id.abort")
    val txnDir = IceLogIO.txnAbortPath(root, "gc").getParent
    if (fsys.exists(txnDir)) {
      fsys.listStatus(txnDir).foreach { st =>
        if (st.getPath.getName.endsWith(".abort") &&
            !ownIntents(st.getPath.getName) &&
            st.getModificationTime <= math.min(cutoff, stagedCut)) {
          fencedDelete(st.getPath, recursive = false)
          deleted += st.getPath.getName
        }
      }
    }
    deleted.result()
    }

  /** Create an EMPTY table with a DECLARED schema: one schema-only log
    * commit (zero file markers) that also persists this handle's
    * partition/sort config — the SQL `CREATE TABLE graft.t (cols…)`
    * building block. The add-only union contract is unchanged: later
    * inserts may ADD columns but never retype a declared one (the same
    * [[SchemaConflictException]] as everywhere else). The reference
    * seeds schema only on first insert; a declared empty table is what
    * lets SQL gateways `CREATE` + grant before any data lands. */
  def createEmpty(schema: Schema): Unit = IceTable.withTableLock(root, hadoopConf) {
    require(trySnapshot().isEmpty, s"ice table at $root already has commits")
    logio.append(root, 1, schema, Seq.empty,
      timestamp = Some(now()), tableCfg = persistedCfg)
    ()
  }

  /** `ALTER TABLE … ADD COLUMN(s)`: one schema-only commit accumulating
    * the new `(name, SQL type string)` columns into the union schema.
    * Declaring before data arrives pins the TYPE up front (a later insert
    * with a different type fails pre-flight instead of forking the
    * schema); existing files simply read the new columns as null, exactly
    * like insert-driven evolution (A6). Re-adding an existing column is
    * an error either way — matching types would be a silent no-op the
    * caller probably didn't mean, conflicting ones are rejected by the
    * union contract. Returns the new union schema. */
  def addColumns(cols: Seq[(String, String)]): Schema =
    IceTable.withTableLock(root, hadoopConf) {
    val snap = snapshot()
    val s = snap.schema.copy()
    cols.foreach { case (c, t) =>
      if (s.contains(c)) throw new IllegalArgumentException(
        s"ADD COLUMN '$c': column already exists with type ${s(c)}")
      s.accumulate(Seq(c), Seq(t))
    }
    logio.append(root, 1, s, Seq.empty, timestamp = Some(now()),
      tableCfg = persistedCfg.orElse(snap.tableConfig))
    s
  }

  /** RESTORE: one LOG-ONLY merged commit returning the table's visible
    * state to what [[read]] saw at `maxTs` (the same strict-`<` bound as
    * time travel) — the rollback counterpart of reading old snapshots,
    * which the reference gets for free by querying at an old max time
    * (icedb/log.py:311-328) but has no way to make the CURRENT state.
    * Mechanics: files alive now but not as-of get tombstones; files
    * tombstoned now but alive as-of are re-listed alive (their bytes are
    * immutable and still on disk until a cleanup's retention reclaims
    * them — a reclaimed restore target fails loudly below, never
    * silently partially restores). The restore is itself a commit: time
    * travel BEFORE it still sees the pre-restore layout, and the change
    * feed reports the diff like any rewrite. Schema stays the current
    * union (add-only — revived files read later columns as null).
    * Returns (files revived, files tombstoned). */
  def restoreTo(maxTs: Long): (Int, Int) = IceTable.withTableLock(root, hadoopConf) {
    val snap = snapshot(Long.MaxValue)
    // registered in flight for the whole marker-diff window: a restore
    // EMITS change events (resurrect inserts) replicas must not lose
    val restoreTime = IceLogIO.registerCommitFloor(root,
      math.max(now(), snap.logFiles.iterator
        .map(p => IceLogIO.logFileInfo(p)._1).maxOption.getOrElse(0L) + 1),
      logRel)
    try {
    val asOf = trySnapshot(maxTs).getOrElse(throw new IllegalArgumentException(
      s"restoreTo($root): no commits at or before ts=${maxTs - 1} to restore to"))
    val curByPath = snap.files.iterator.map(m => m.path -> m).toMap
    val curAlive = snap.aliveFiles.map(_.path).toSet
    val asOfAlive = asOf.aliveFiles
    val asOfSet = asOfAlive.map(_.path).toSet
    asOfAlive.filterNot(m => curByPath.contains(m.path)).foreach { m =>
      throw new IllegalStateException(
        s"restoreTo($root): file ${m.path} from the target snapshot was " +
          "reclaimed by tombstone cleanup; that history is gone " +
          "(retention must outlive intended restore windows)")
    }
    val toTombstone = snap.aliveFiles.filterNot(m => asOfSet(m.path))
      .map(_.copy(tombstone = Some(restoreTime), virSourceLogFile = None))
    val toRevive = asOfAlive.filterNot(m => curAlive(m.path))
      .map(m => curByPath(m.path).copy(tombstone = None, virSourceLogFile = None))
    if (toTombstone.isEmpty && toRevive.isEmpty) return (0, 0)
    logio.append(root, 1, snap.schema, toRevive ++ toTombstone,
      merged = true, timestamp = Some(restoreTime),
      tableCfg = persistedCfg.orElse(snap.tableConfig))
    (toRevive.length, toTombstone.length)
    } finally IceLogIO.endCommit(root, restoreTime, logRel)
  }

  def removePartitions(
      removalFunc: Seq[String] => Seq[String],
      maxFiles: Int = 1000): (Option[String], Option[LogMetadata], Int) =
    IceTable.withTableLock(root, hadoopConf) {
    // log-only op: the FULL current fold INSIDE the lock (no stale-source
    // window, and filename-bumped same-ms commits stay visible), so it
    // serializes cleanly against merge/rewrite commits. The commit stamp
    // is forced PAST every folded log for the same reason as
    // validatedRewriteCommit: a bump-chained insert log outsorting this
    // append would resurrect the removed partition.
    val snap = snapshot(Long.MaxValue)
    val removeTime = math.max(now(), snap.logFiles.iterator
      .map(p => IceLogIO.logFileInfo(p)._1).maxOption.getOrElse(0L) + 1)
    val curByPath = snap.files.iterator.map(f => f.path -> f).toMap

    val alive = snap.aliveFiles
    val partitions = alive.groupBy(f => partitionOf(f.path))
    val toRemove = removalFunc(partitions.keys.toSeq.sorted)
    if (toRemove.isEmpty) return (None, None, 0)

    val modifiedLogs = mutable.LinkedHashSet.empty[String]
    val tombstoned = mutable.LinkedHashMap.empty[String, FileMarker]
    var deleted = 0
    val it = toRemove.iterator
    while (it.hasNext && deleted < maxFiles) {
      val partition = it.next()
      partitions.get(partition).foreach { ms =>
        ms.foreach { m =>
          deleted += 1
          tombstoned(m.path) = m.copy(tombstone = Some(removeTime))
          m.virSourceLogFile.foreach(modifiedLogs += _)
        }
      }
    }

    // carry forward every marker of the affected logs (tombstoned ones win;
    // non-tombstoned carries overlay to their CURRENT fold copy so a stale
    // source-log copy can never resurrect a concurrently-tombstoned file)
    val ((_, carried, carriedTmb), rCommits) =
      logio.readLogForwardWithCommits(root, modifiedLogs.toSeq.sorted)
    val updated = carried.map(m =>
      tombstoned.getOrElse(m.path, curByPath.getOrElse(m.path, m))
        .copy(virSourceLogFile = None))

    val logTombstones = modifiedLogs.toSeq.map(LogTombstone(_, removeTime))
    val (newLog, meta) = logio.append(
      root, 1, snap.schema, updated,
      carriedTmb ++ logTombstones,
      merged = true,
      timestamp = Some(removeTime),
      streamCommits = rCommits,
      tableCfg = persistedCfg.orElse(snap.tableConfig))
    (Some(newLog), Some(meta), deleted)
    }

  /** Log-only retention drop by PREDICATE — the SQL-facing face of
    * [[removePartitions]] (`ALTER TABLE … DROP PARTITIONS WHERE pred`).
    * `cond` is evaluated over the snapshot's DISTINCT partition
    * directories against the same path-derived STRING partition columns
    * the catalog scan serves (IceFileIndex: raw segment after `=`,
    * missing key = ""), and every file of every matching directory is
    * tombstoned in merged-log commits — ZERO data files read or
    * written. This is the reference's retention operation
    * (icedb/icedb.py:435-501, README.md:536-551): dropping a month from
    * a 100 TB table is a handful of log PUTs, never a rewrite of the
    * month. `cond` referencing anything but partition keys throws (use
    * DELETE for row predicates — DROP PARTITIONS must be incapable of
    * silently becoming a rewrite). Returns (partitions dropped, files
    * tombstoned). */
  def dropPartitionsWhere(cond: Column): (Int, Int) = {
    val snap = trySnapshot(Long.MaxValue).getOrElse(return (0, 0))
    val matched = partitionsMatching(snap, cond).getOrElse(
      throw new IllegalArgumentException(
        s"DROP PARTITIONS predicate may reference only this table's " +
          s"path-derived partition columns " +
          s"(${partitionKeyNames(snap).mkString(", ")}); for row-level " +
          "predicates use DELETE"))
    if (matched.isEmpty) return (0, 0)
    val matchSet = matched.toSet
    // each removePartitions call is one merged-log commit capped at
    // maxFiles tombstones; loop until the matched dirs are fully drained
    // (a month at 100 TB can exceed one commit's cap — still pure log
    // PUTs, each atomic)
    var files = 0
    var n = -1
    while (n != 0) {
      val (_, _, d) = removePartitions(parts => parts.filter(matchSet))
      files += d
      n = d
    }
    (matched.size, files)
  }

  /** DELETE fast path: Some(exact rows deleted) when `cond` provably
    * covers WHOLE partitions and the drop can be LOG-ONLY —
    *  - it references only path-derived partition keys,
    *  - none of those keys shadows a DATA column (for a shadowed name
    *    the scan serves the file's values, so row-level and
    *    partition-level semantics could disagree),
    *  - no deletion-vector side table exists (dv-masked rows would
    *    inflate the reported count),
    *  - every affected file carries a log row count (the `rc` marker
    *    field — rows_deleted stays exact).
    * None = not provable; the caller falls back to the CoW rewrite,
    * which is always correct. The row count is summed from the probe
    * snapshot's markers; a writer racing the drop is the same
    * lock-free-vs-locked window every mutation documents. */
  private[graft] def tryLogOnlyDelete(cond: Column): Option[Long] = {
    val snap = trySnapshot(Long.MaxValue).getOrElse(return Some(0L))
    val refs = org.apache.spark.sql.graft.PlanBridge.eagerExpression(cond)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name.toLowerCase
      }.toSet
    // an unconditional DELETE (no column refs) stays on the CoW path:
    // it reports exact row counts without marker preconditions
    if (refs.isEmpty) return None
    val dataCols = snap.schema.pairs.iterator.map(_._1.toLowerCase).toSet
    if (refs.exists(dataCols)) return None
    if (dvStamp().isDefined) return None
    val matched = partitionsMatching(snap, cond).getOrElse(return None)
    if (matched.isEmpty) return Some(0L)
    val matchSet = matched.toSet
    val affected = snap.aliveFiles.filter(m => matchSet(partitionOf(m.path)))
    if (affected.exists(_.rowCount.isEmpty)) return None
    var n = -1
    while (n != 0) n = removePartitions(parts => parts.filter(matchSet))._3
    Some(affected.iterator.flatMap(_.rowCount).sum)
  }

  /** Partition key names of a snapshot's marker paths, first-seen order,
    * bucket routing level excluded (same contract as the catalog scan's
    * partitionKeys). */
  private def partitionKeyNames(snap: IceSnapshot): Seq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    snap.aliveFiles.foreach(m => partitionOf(m.path).split("/").foreach { seg =>
      val i = seg.indexOf('=')
      if (i > 0) seen += seg.substring(0, i)
    })
    if (cfg.bucketBy.isDefined) (seen - "bkt").toSeq else seen.toSeq
  }

  /** Evaluate `cond` against the snapshot's distinct partition dirs:
    * Some(matching dirs) iff it resolves using ONLY the path-derived
    * partition keys; None otherwise. Value semantics are EXACTLY the
    * catalog scan's (IceFileIndex): all-string columns, raw path
    * segment after `=`, missing key = "" — so `WHERE d <= '2024-01-07'`
    * matches the same rows here and in a scan-side filter. The
    * evaluation runs on a LocalRelation the optimizer folds driver-side
    * (ConvertToLocalRelation): no Spark job, no data file touched;
    * partition-count scale, the same driver-side contract as
    * [[removePartitions]] itself. */
  private[graft] def partitionsMatching(
      snap: IceSnapshot, cond: Column): Option[Seq[String]] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dirs = snap.aliveFiles.iterator.map(m => partitionOf(m.path))
      .toSeq.distinct.sorted
    if (dirs.isEmpty) return Some(Seq.empty)
    val keys = partitionKeyNames(snap)
    if (keys.isEmpty) return None
    val refs = org.apache.spark.sql.graft.PlanBridge.eagerExpression(cond)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name.toLowerCase
      }.toSet
    if (!refs.subsetOf(keys.map(_.toLowerCase).toSet)) return None
    val dirCol = "__graft_partition_dir"
    val schema = StructType(
      StructField(dirCol, StringType, nullable = false) +:
        keys.map(StructField(_, StringType, nullable = false)))
    val rows: java.util.List[Row] = {
      val out = new java.util.ArrayList[Row](dirs.length)
      dirs.foreach { d =>
        val kv = IceTable.partitionKvOf(d)
        out.add(Row.fromSeq(d +: keys.map(k => kv.getOrElse(k, ""))))
      }
      out
    }
    val local = spark.createDataFrame(rows, schema)
    try Some(local.where(cond).select(dirCol).collect()
      .map(_.getString(0)).toSeq)
    catch {
      // unresolvable / ill-typed against the partition-only schema
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** A17 filtered partition rewrite (GDPR purge, retro-dedup): every alive
    * part in the target partition is piped through `filterSql` (source view
    * `_rows`) into a new file; old parts get tombstones
    * (icedb/icedb.py:503-589), in the same validated merged-log commit as
    * a merge, and a part the filter empties is replaced by nothing. The
    * filter must not create new columns — the parts' logged schema is
    * carried to the new log (icedb.py:507-509).
    */
  def rewritePartition(
      targetPartition: String,
      filterSql: String): (Option[String], Option[LogMetadata], Seq[String]) =
    rewritePartitionWith(targetPartition) { df =>
      val view = s"_rows_${UUID.randomUUID().toString.replace("-", "")}"
      df.createOrReplaceTempView(view)
      try spark.sql(filterSql.replaceAll("\\b_rows\\b", view))
      finally spark.catalog.dropTempView(view)
    }

  /** [[rewritePartition]] with a DataFrame transform instead of a filter
    * SQL string — for purges that need a JOIN (a user-id delete list, an
    * index GC against its marker table), which no self-contained filter
    * expression can say. Same contract: the transform must not create
    * new columns (the current schema is carried to the new log), and
    * each alive part pipes through it into one new file. */
  def rewritePartitionWith(targetPartition: String)(
      transform: DataFrame => DataFrame)
      : (Option[String], Option[LogMetadata], Seq[String]) = {
    val dvStampAtRead = dvStamp() // BEFORE the dv-applying reads
    val snap = snapshot(coveringTs())
    val targets = snap.aliveFiles.filter(f => partitionOf(f.path) == targetPartition)
    if (targets.isEmpty) return (None, None, Seq.empty)
    // one-file groups, rewritten concurrently — the reference's serial
    // per-file copy (icedb.py:540-567) is a driver bottleneck at high
    // file counts
    val (newFiles, _) = rewriteGroups(snap, targets.map(m => targetPartition -> Seq(m))) {
      (_, df) => oneFile(transform(df), Nil)
    }
    val (newLog, meta, _) =
      validatedRewriteCommit(targets, newFiles, Seq.empty, dvStampAtRead)
    (Some(newLog), Some(meta), targets.map(_.path))
  }
}

object IceTable {

  /** 128 MB: the default parquet row-group byte cap, and the block size
    * every FileStatus the engine synthesizes reports. */
  private[graft] val BlockBytes: Long = 128L * 1024 * 1024

  /** Parse a partition directory string into its `k=v` map — THE value
    * semantics every surface must share (the catalog scan's partition
    * columns, predicate-based drops, the CoW mutation core's virtual
    * columns): raw segment text after the first `=`, a segment without
    * one maps to value "". One definition, so the DELETE fast path's
    * partition-level == row-level equivalence can never silently
    * desynchronize between copies. */
  def partitionKvOf(dir: String): Map[String, String] =
    dir.split("/").iterator.map { seg =>
      val i = seg.indexOf('=')
      if (i < 0) (seg, "") else (seg.substring(0, i), seg.substring(i + 1))
    }.toMap
  /** Internal routing column name; never written to data files. */
  private[ice] val RouteCol = "_ice_part"

  /** Characters whose URI encoding is the identity (see the root-safety
    * contract in the class): printable ASCII minus the URI-special
    * space/%/#/? — everything `_metadata.file_path` renders verbatim. */
  private[ice] def pathSafe(s: String): Boolean =
    s.forall(c => c > ' ' && c <= '~' && c != '%' && c != '#' && c != '?')

  private[ice] def requirePartitionSafe(partition: String): Unit =
    require(pathSafe(partition),
      s"partition path segment contains characters whose URI encoding " +
        s"differs from the raw path (space/%/#/?/non-ASCII): '$partition' — " +
        "sanitize the partition expression (e.g. regexp_replace) before writing")

  /** Open the table at `root` reconstructing its persisted configuration
    * from the log (see [[IceTableConfig]] → `persistedCfg`): sort order,
    * partition expression, stats/bloom columns, merge SQL, codec — so a
    * reader or DML caller that holds only the root gets the same write
    * shape (sorted, stats-bearing files; pruning-enabled reads) as the
    * handle that created the table. Closure hooks (`partitionFunc`,
    * `formatRow`) cannot be persisted: when the log records one, the
    * reconstructed handle poisons the corresponding path with a clear
    * error instead of silently mis-routing rows. Empty/absent log →
    * bare default config. */
  def open(spark: SparkSession, root: String): IceTable =
    openWithSnapshot(spark, root)._1

  /** [[open]] that also returns the fold it already paid for (None when
    * the table has no log yet) — callers that immediately need a
    * current-time snapshot (the SQL catalog resolver) must not fold the
    * log a second time. */
  def openWithSnapshot(
      spark: SparkSession, root: String): (IceTable, Option[IceSnapshot]) = {
    val io = new IceLogIO(pathSafeHostname, spark.sparkContext.hadoopConfiguration)
    val snap =
      try Some(io.readAtMaxTime(root, Long.MaxValue))
      catch { case _: NoLogFilesException => None }
    val cfg = snap.flatMap(_.tableConfig).map(configFromPersisted)
      .getOrElse(IceTableConfig(lit(""), Seq.empty))
    val t = new IceTable(spark, root, cfg)
    snap.foreach(s => t.seedPreflight(s.schema)) // the fold already paid for
    (t, snap)
  }

  /** [[IceTableConfig]] → the compact JSON map persisted in log metadata
    * (only non-default fields; None when everything is default, so
    * default-config tables keep reference-identical log bytes). */
  private[graft] def persistableCfg(cfg: IceTableConfig): Option[Map[String, Any]] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    // None = conversion failed (NOT "default"): an expression with no SQL
    // rendering must persist a loud poison flag, never silently vanish —
    // an absent 'prt' reconstructs as lit("") and would re-route every
    // SQL/reopened-handle insert into the single empty partition
    val prtSql =
      try Some(org.apache.spark.sql.graft.PlanBridge.eagerExpression(cfg.partitionExpr).sql)
      catch { case _: Exception => None }
    prtSql match {
      case Some(s) if s.nonEmpty && s != "''" => m("prt") = s
      case Some(_) => // genuinely-default lit(""): nothing to persist
      case None => m("prtx") = true // poison: see configFromPersisted
    }
    if (cfg.sortOrder.nonEmpty) m("srt") = cfg.sortOrder
    cfg.customInsertSql.foreach(v => m("ins") = v)
    cfg.customMergeSql.foreach(v => m("mrg") = v)
    cfg.statsColumn.foreach(v => m("stc") = v)
    if (cfg.statsColumns.nonEmpty) m("sta") = cfg.statsColumns
    if (cfg.bloomFilterColumns.nonEmpty) m("blc") = cfg.bloomFilterColumns
    cfg.bloomFilterNdv.foreach(v => m("bln") = v)
    if (cfg.compressionCodec != "snappy") m("cdc") = cfg.compressionCodec
    if (cfg.parquetBlockBytes != BlockBytes) m("pbb") = cfg.parquetBlockBytes
    if (cfg.preservePartition) m("pp") = true
    if (!cfg.shuffleOnInsert) m("shf") = false
    if (cfg.sortOnMerge) m("som") = true
    cfg.rowGroupRows.foreach(v => m("rgr") = v)
    cfg.checkpointEveryCommits.foreach(v => m("cpc") = v)
    cfg.bucketBy.foreach { case (n, cols) => m("bkn") = n; m("bkc") = cols }
    if (cfg.checkConstraints.nonEmpty) {
      m("chn") = cfg.checkConstraints.map(_._1)
      m("chx") = cfg.checkConstraints.map(_._2)
    }
    cfg.mvDef.foreach(v => m("mvd") = v)
    if (cfg.partitionFunc.nonEmpty) m("pf") = true
    if (cfg.formatRow.nonEmpty) m("fr") = true
    if (m.isEmpty) None else Some(m.toMap)
  }

  /** Inverse of [[persistableCfg]] (parsed-JSON typed values: Long for
    * ints, Boolean, Vector for arrays). */
  private[graft] def configFromPersisted(m: Map[String, Any]): IceTableConfig = {
    def strs(k: String): Seq[String] = m.get(k).collect {
      case s: scala.collection.Seq[_] => s.map(_.toString).toSeq
    }.getOrElse(Seq.empty)
    IceTableConfig(
      partitionExpr = m.get("prt").map(s => expr(s.toString)).getOrElse(lit("")),
      sortOrder = strs("srt"),
      customInsertSql = m.get("ins").map(_.toString),
      customMergeSql = m.get("mrg").map(_.toString),
      compressionCodec = m.get("cdc").map(_.toString).getOrElse("snappy"),
      parquetBlockBytes = m.get("pbb").map(_.asInstanceOf[Long])
        .getOrElse(BlockBytes),
      preservePartition = m.get("pp").contains(true),
      shuffleOnInsert = !m.get("shf").contains(false),
      formatRow =
        if (m.get("fr").contains(true)) Some((_: DataFrame) =>
          throw new UnsupportedOperationException(
            "this table records a formatRow hook, which cannot be persisted " +
              "in the log; insert through the original configured handle"))
        else None,
      rowGroupRows = m.get("rgr").map(_.asInstanceOf[Long].toInt),
      partitionFunc =
        if (m.get("pf").contains(true)) Some((_: Row) =>
          throw new UnsupportedOperationException(
            "this table records a partitionFunc closure, which cannot be " +
              "persisted in the log; insert through the original configured handle"))
        else if (m.get("prtx").contains(true)) Some((_: Row) =>
          throw new UnsupportedOperationException(
            "this table's partition expression has no SQL rendering and " +
              "cannot be persisted in the log; insert through the original " +
              "configured handle"))
        else None,
      statsColumn = m.get("stc").map(_.toString),
      statsColumns = strs("sta"),
      bloomFilterColumns = strs("blc"),
      bloomFilterNdv = m.get("bln").map(_.asInstanceOf[Long]),
      sortOnMerge = m.get("som").contains(true),
      checkpointEveryCommits = m.get("cpc").map(_.asInstanceOf[Long].toInt),
      bucketBy = m.get("bkn").map(n =>
        (n.asInstanceOf[Long].toInt, strs("bkc"))),
      checkConstraints = strs("chn").zip(strs("chx")),
      mvDef = m.get("mvd").map(_.toString))
  }

  /** The `bkt=<id>` LAST path segment a bucketed table's router appends. */
  private[ice] val BucketSeg = """(?:^|/)bkt=(\d+)$""".r

  /** Spark's bucketed-file-name parse (`BucketingUtils`' regex,
    * re-stated here because that object is `private[sql]`): the `_%05d`
    * tag [[IceTable.dataFileRel]] writes must round-trip through the
    * scan's own parser. */
  private val BucketFileName = """.*_(\d+)(?:\..*)?$""".r
  private[graft] def bucketIdOfFile(fileName: String): Option[Int] =
    fileName match {
      case BucketFileName(id) => Some(id.toInt)
      case _ => None
    }

  /** Per-table-root commit lock (JVM-wide, like the log appender's
    * reservation set): serializes the validate→append window of every
    * mutating commit from THIS process, making same-JVM maintenance
    * commits linearizable without the reference's table-wide external
    * lock. Cross-process writers still need that external lock, but the
    * race window shrinks from the whole operation to commit validation. */
  /** The table's commit critical section: the JVM-wide monitor (same-JVM
    * linearization, reentrant) plus — on the OUTERMOST entry only — the
    * cross-process lease ([[TableLock]]): create-if-absent lock file, TTL
    * steal, fencing token stamped into every append made while held.
    * Reentrancy is tracked per root with a depth counter; only one thread
    * can be inside per root (the monitor guarantees it), so the counter
    * needs no further synchronization. */
  private val lockDepths = new java.util.concurrent.ConcurrentHashMap[String, Integer]
  private[ice] def withTableLock[T](root: String,
      conf: org.apache.hadoop.conf.Configuration)(body: => T): T =
    commitLock(root).synchronized {
      val d: Int = Option(lockDepths.get(root)).fold(0)(_.intValue)
      if (d == 0 && TableLock.enabled)
        // the TABLE'S Hadoop configuration: lock/fence I/O must resolve
        // the same (possibly credentialed) FileSystem the commits use
        TableLock.acquire(root, conf = conf)
      lockDepths.put(root, d + 1)
      try body
      finally {
        val nd = lockDepths.get(root) - 1
        if (nd == 0) {
          lockDepths.remove(root)
          if (TableLock.enabled) TableLock.release(root)
        } else lockDepths.put(root, nd)
      }
    }

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ice] def commitLock(root: String): Object =
    commitLocks.computeIfAbsent(root, _ => new Object)

  /** Process-wide ANALYZE-stats cache, keyed `(root, logRel)`: present
    * results cached until invalidated, ABSENCE cached for one minute
    * (timestamp 0, not MinValue — `now - MinValue` overflows and the
    * probe never fires). A generation counter closes the
    * probe-vs-invalidate race: a probe that started before an ANALYZE's
    * invalidation must not cache its stale None over it. */
  private final case class StatsEntry(
      stats: Option[TableStats.Stats], probedAtMs: Long)
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, StatsEntry]()
  private val statsCacheGen = new java.util.concurrent.atomic.AtomicLong()
  private def statsKey(root: String, logRel: String) = s"$root#$logRel"
  private[ice] def invalidateStatsCacheFor(root: String, logRel: String): Unit = {
    statsCacheGen.incrementAndGet()
    statsCache.remove(statsKey(root, logRel))
    ()
  }
  private[ice] def statsCacheFor(t: IceTable): Option[TableStats.Stats] = {
    val key = statsKey(t.root, t.logRel)
    val nowMs = System.currentTimeMillis()
    val cur = statsCache.get(key)
    if (cur != null && (cur.stats.isDefined || nowMs - cur.probedAtMs <= 60_000L))
      return cur.stats
    val gen = statsCacheGen.get()
    val read = TableStats.read(t)
    if (statsCacheGen.get() == gen)
      statsCache.put(key, StatsEntry(read, nowMs))
    read
  }

  /** Stats on `column` compare numerically iff `schema` types it numeric. */
  private[graft] def statsNumeric(schema: StructType, column: String): Boolean =
    schema.fields.exists(f =>
      f.name == column && f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])

  /** The one stats comparator. Numeric values compare as BigDecimal;
    * strings compare as UNSIGNED UTF-8 BYTES — the order parquet's binary
    * statistics are computed in (Java String.compareTo is UTF-16 code-unit
    * order, which disagrees beyond the BMP and would prune wrongly).
    * `None` on anything unparseable (e.g. Infinity/NaN stringified from a
    * double column) — callers must treat that as "unknown" and never
    * prune on it. */
  private[graft] def statsTryCmp(
      numeric: Boolean, a: String, b: String): Option[Int] =
    try Some(
      if (numeric) BigDecimal(a).compare(BigDecimal(b))
      else java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    catch { case _: NumberFormatException => None }

  /** Stats-interval test behind [[IceTable.statsMatch]]. An unparseable
    * value keeps the file — skipping must never produce a false negative. */
  private[graft] def statsIntersects(
      numeric: Boolean,
      min: String, max: String,
      lo: Option[String], hi: Option[String]): Boolean =
    lo.forall(l => statsTryCmp(numeric, max, l).forall(_ >= 0)) &&
      hi.forall(h => statsTryCmp(numeric, min, h).forall(_ <= 0))

  /** Bounded pool for concurrent per-partition custom-insert jobs (distinct
    * from IceLogIO.ioPool — keeps Spark-job-submitting work off the log-GET
    * pool so neither can starve the other). */
  private[ice] lazy val insertPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, Runtime.getRuntime.availableProcessors()),
        (r: Runnable) => {
          val t = new Thread(r, "ice-insert"); t.setDaemon(true); t
        }))

  /** `f` over every item concurrently on [[insertPool]]; returns the
    * results in item order once all are done (the first failure is
    * rethrown). Leaf-only: a task may submit Spark jobs and do I/O but
    * must never block on this pool itself — no nested `onInsertPool` —
    * or a fixed pool whose threads all wait on queued tasks deadlocks. */
  private[ice] def onInsertPool[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: scala.concurrent.ExecutionContext = insertPool
    scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(items)(a => scala.concurrent.Future(f(a))),
      scala.concurrent.duration.Duration.Inf)
  }

  /** Partition string of a data path: the segment between `_data/` and the
    * file name (reference: icedb/icedb.py:103-108). */
  private[ice] def partitionOfPath(path: String): String =
    path.split("_data/", 2)(1).split("/").dropRight(1).mkString("/")

  /** The one compaction planner: the reference's greedy candidate policy
    * (icedb/icedb.py:234-261), pure over `snap`. Partitions are grouped
    * over ALL markers, tombstoned included, and visited by that count —
    * descending (hot-first) or, with `asc`, ascending — name as tiebreak.
    * Each accumulates its ALIVE files smallest first and stops at the
    * file whose bytes reach `maxFileSize` (`>=`, the crossing file
    * counted) or once `len > 1 && len >= maxFileCount`; a set of more
    * than one file is a group. (The reference's `> 1` gate on the grouped
    * count is implied: a set never outgrows its partition.) */
  private[ice] def planMerges(snap: IceSnapshot, maxFileSize: Long,
      maxFileCount: Int, asc: Boolean): Seq[(String, Seq[FileMarker])] =
    snap.files.groupBy(f => partitionOfPath(f.path)).toSeq
      .sortBy { case (p, ms) => (if (asc) ms.length else -ms.length, p) }
      .flatMap { case (partition, ms) =>
        val alive = ms.filter(_.tombstone.isEmpty).sortBy(_.fileBytes).toVector
        val last = alive.scanLeft(0L)(_ + _.fileBytes).tail.zipWithIndex.indexWhere {
          case (bytes, i) => bytes >= maxFileSize || (i >= 1 && i + 1 >= maxFileCount)
        }
        val acc = if (last < 0) alive else alive.take(last + 1)
        Option.when(acc.length > 1)(partition -> acc)
      }

  val pathSafeHostname: String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }
    host.replaceAll("[^A-Za-z0-9.-]", "-")
  }

  /** Inverse of Spark's partition-path escaping (`/`→`%2F`, `=`→`%3D`, ...)
    * so Hive-style multi-segment partition strings round-trip through
    * `partitionBy`. */
  def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try {
          sb.append(Integer.parseInt(hex, 16).toChar)
          i += 3
        } catch {
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
