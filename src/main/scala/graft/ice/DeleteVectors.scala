package graft.ice

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level deletes without rewriting data: MERGE-ON-READ position
  * deletes (the Delta deletion-vector / Iceberg v2 position-delete shape),
  * a capability the reference simply lacks — its only row-removal tool is
  * `rewrite_partition`, a copy-on-write of every file in the partition
  * (icedb/icedb.py:503-589).
  *
  * Design: deleted positions live in a SECOND ice table under
  * `{root}/_dv` with rows `(path, row_index)` — `path` root-relative,
  * `row_index` the row's position within its immutable parquet file
  * (Spark's `_metadata.row_index`). Both tables get the full MVCC
  * treatment for free: a delete is one atomic dv-table commit, time
  * travel works by pinning both snapshots, and dv compaction is ordinary
  * merge with a dedup merge SQL.
  *
  * Read path: the main scan gains `_metadata` (file path + row index) and
  * LEFT ANTI-joins the dv snapshot — dv rows are (path, long), orders of
  * magnitude smaller than data, so the join broadcasts. Positions are
  * stable because data files are immutable; a file rewritten by
  * merge/recluster gets a NEW uuid path, so its dv rows simply stop
  * matching (deleting them is [[vacuum]]'s job, not a correctness need).
  *
  * Cost shape at 100 TB: `deleteWhere` = one filtered scan emitting
  * (path, row_index) pairs — bytes proportional to MATCHED rows, not
  * table size, and no data file is touched. [[materialize]] is the
  * copy-on-write escape hatch: it rewrites ONLY files that actually carry
  * deletes (vs the reference's whole-partition rewrite), in one atomic
  * validated commit.
  */
object DeleteVectors {

  /** The dv side table's config (shared with [[IceTable.dvPositions]]). */
  private[ice] val dvConfig: IceTableConfig = IceTableConfig(
    partitionExpr = concat(lit("h="), pmod(xxhash64(col("path")), lit(16))),
    sortOrder = Seq("path", "row_index"),
    customMergeSql = Some(
      "select path, row_index from source_files group by path, row_index"))

  /** Open (or lay out) the deletion-vector side table for `main`. */
  def dvTable(main: IceTable): IceTable =
    new IceTable(main.spark, s"${main.root}/_dv", dvConfig)

  /** The main table's rows with root-relative `_dv_path` / `_dv_row`
    * position columns attached, over a PINNED snapshot. */
  private def withPositions(main: IceTable, snap: IceSnapshot): DataFrame = {
    val files = snap.aliveFiles
    if (files.isEmpty) return main.readFiles(snap, files)
      .withColumn("_dv_path", lit(null).cast("string"))
      .withColumn("_dv_row", lit(null).cast("bigint"))
    main.scanMarkers(snap.schema.toStructType, files)
      .withColumn("_dv_path", main.relPathCol)
      .withColumn("_dv_row", col("_metadata.row_index"))
  }

  /** Mark every row matching `cond` as deleted: one filtered scan of the
    * main table, one atomic dv commit. Returns rows marked (0 commits
    * nothing). Re-deleting already-marked rows is harmless (the read path
    * is an anti-join; the dv merge SQL dedups at compaction).
    *
    * The commit VALIDATES, under the main root's commit lock, that every
    * file the computed marks reference is still alive: a compaction
    * committing between our scan and our commit re-homes the matched rows
    * into new files, and marks pointing at the tombstoned paths would
    * never match again — the rows would silently resurrect (found by the
    * racing deleteWhere-vs-optimize spec). On staleness the whole pass
    * retries from a fresh snapshot; the rewrite side holds the mirrored
    * guarantee via the dv stamp in validatedRewriteCommit. */
  def deleteWhere(main: IceTable, cond: Column): Long = {
    // the `_dv` side table is keyed by the SHARED root, so a dv delete
    // through a branch handle would leak into main reads immediately —
    // branches use the CoW IceTable.deleteWhere, isolated by construction
    require(main.logRel == "_log",
      "merge-on-read deletes are not branch-isolated; use the branch " +
        "handle's copy-on-write deleteWhere instead")
    val dv = dvTable(main)
    var attempts = 0
    while (attempts < 5) {
      val snap = main.snapshot()
      val hits = withPositions(main, snap).where(cond)
        .select(col("_dv_path").as("path"), col("_dv_row").as("row_index"))
      val staged = hits.localCheckpoint() // count + insert from one scan
      val n = staged.count()
      if (n == 0) return 0
      val referenced = staged.select("path").distinct()
        .collect().map(_.getString(0)) // file-count scale, not rows
      val committed = IceTable.withTableLock(main.root, main.hadoopConf) {
        val alive = main.snapshot().aliveFiles.map(_.path).toSet
        if (referenced.forall(alive)) {
          // the mark covers rows of main commits up to NOW — commit the
          // dv log STRICTLY after the newest main commit, so a same-
          // millisecond insert-then-delete collapses to delete at the
          // key level (the main and _dv logs are separate directories;
          // the appender's same-ms bump cannot serialize across them).
          // An insert that lands AFTER this fold is not covered by the
          // mark, and keeps a later-or-equal ts — insert-wins ties then
          // resolve it alive, also correct.
          val mainMax = main.logio.currentLogFiles(main.root)
            .map(f => IceLogIO.logFileInfo(f)._1).maxOption
            .getOrElse(Long.MinValue)
          dv.insertFloored(staged, Map.empty, mainMax + 1)
          true
        } else false
      }
      if (committed) return n
      attempts += 1
    }
    throw new CommitConflictException(
      "deleteWhere lost 5 consecutive races against concurrent rewrites")
  }

  /** Merge-on-read: the main table minus its deleted positions. Since
    * round 8 [[IceTable.read]] applies deletion vectors itself (every read
    * surface agrees), so this is a plain alias kept for API continuity. */
  def read(main: IceTable, maxTs: Long = Long.MaxValue): DataFrame =
    main.read(maxTs)

  /** Copy-on-write materialization: rewrite ONLY the files that carry
    * deletes, dropping their deleted rows ([[IceTable.rewriteGroups]],
    * one file per group — a file whose every row is deleted is replaced
    * by nothing), in one atomic validated commit (conflicts with
    * concurrent merges are detected and retried by the caller like any
    * maintenance op). Stale dv rows for the replaced paths stop matching
    * immediately; [[vacuum]] reclaims them. Returns the number of files
    * rewritten. */
  def materialize(main: IceTable): Int = {
    var attempts = 0
    while (attempts < 5) {
      // the stamp is captured BEFORE the dv snapshot is read; the commit
      // below re-checks it under the main commit lock (the one every
      // deleteWhere commit also takes), so marks landing after our read
      // abort this pass instead of being stranded on tombstoned paths
      val dvStampAtRead = main.dvStamp()
      val dv = dvTable(main)
      val dvSnap = dv.trySnapshot().getOrElse(return 0)
      if (dvSnap.aliveFiles.isEmpty) return 0
      val affectedPaths = dv.readFiles(dvSnap, dvSnap.aliveFiles)
        .select("path").distinct()
        .collect().map(_.getString(0)).toSet // file-count scale, not rows
      val snap = main.snapshot()
      val targets = snap.aliveFiles.filter(m => affectedPaths(m.path))
      if (targets.isEmpty) return 0
      val (newFiles, _) = main.rewriteGroups(snap,
        targets.map(m => main.partitionOf(m.path) -> Seq(m))) {
        (_, kept) => main.resortedFile(kept)
      }
      try {
        // validatedRewriteCommit re-checks the dv stamp AND the sources
        // under the lock, and deletes newFiles itself on conflict
        main.validatedRewriteCommit(targets, newFiles,
          dvStampAtRead = dvStampAtRead)
        return targets.length
      } catch {
        case _: CommitConflictException => attempts += 1
      }
    }
    throw new CommitConflictException(
      "materialize lost 5 consecutive races against concurrent commits")
  }

  /** Drop dv rows whose file is no longer alive in the main table (after
    * [[materialize]] or ordinary compaction): an atomic rewrite of the dv
    * table — which is position-pair sized, never data sized.
    *
    * Only the EXACT dv files the kept set was computed from are
    * tombstoned (`rewriteTable(sources = dvSnap.aliveFiles)`): a dv file
    * committed by a concurrent [[deleteWhere]] between our snapshot and
    * the rewrite commit stays alive alongside the rewrite, so committed
    * delete marks are never dropped. The whole read+commit additionally
    * runs under the MAIN root's commit lock — the lock deleteWhere's dv
    * commit and materialize's gate use — so the snapshot cannot go stale
    * while we fold it (rewriteTable itself locks only the dv root, which
    * deleteWhere never takes). */
  def vacuum(main: IceTable): Long =
    IceTable.withTableLock(main.root, main.hadoopConf) {
      val dv = dvTable(main)
      val dvSnap = dv.trySnapshot().getOrElse(return 0L)
      if (dvSnap.aliveFiles.isEmpty) return 0L
      val alive = main.trySnapshot().map(_.aliveFiles.map(_.path)).getOrElse(Seq.empty)
      import dv.spark.implicits._
      val aliveDf = alive.toDF("path")
      // one dv scan: the kept set materializes once and serves the counts
      // AND the rewrite (and a concurrent dv commit can no longer make the
      // returned figure disagree with what was rewritten)
      val before = dv.readFiles(dvSnap, dvSnap.aliveFiles).localCheckpoint()
      val kept = before.join(broadcast(aliveDf), Seq("path"), "left_semi")
        .localCheckpoint()
      val dropped = before.count() - kept.count()
      // RETIREMENT ts floors strictly past every main commit, mirroring
      // deleteWhere's insertFloored: a retirement sharing the millisecond
      // of the main rewrite that tombstoned its target (materialize then
      // vacuum inside one ms) would otherwise be visible to the change
      // feed's removed-side dv bound (inclusive ts+1) while the added
      // side excludes it — the feed would emit a duplicate delete for
      // rows that were already dead. Floored, the retirement sorts
      // strictly after the rewrite on the feed's time axis and routes
      // through the resurrect/transition machinery exactly once.
      val mainMax = main.logio.currentLogFiles(main.root)
        .map(f => IceLogIO.logFileInfo(f)._1).maxOption.getOrElse(0L)
      if (dropped > 0) dv.rewriteTable(kept, sources = Some(dvSnap.aliveFiles),
        tsFloor = mainMax + 1)
      dropped
    }
}
