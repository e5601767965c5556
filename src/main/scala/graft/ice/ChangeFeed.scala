package graft.ice

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level change-data feed over a window of commits — the Delta
  * "change data feed" shape, derived entirely from the MVCC log + the
  * immutable data files, with NO extra files written at commit time:
  *
  *  - an INSERT commit's rows appear as `_change_type = 'insert'`;
  *  - a COPY-ON-WRITE rewrite (updateWhere / deleteWhere / upsert /
  *    deleteKeys / SQL DML) appears as the exact multiset difference
  *    between the rows it tombstoned and the rows it wrote — an UPDATE
  *    is a ('delete', 'insert') pair at the same `_commit_ts`, and a
  *    content-preserving rewrite (compaction, recluster, repartition,
  *    dv materialize) contributes NOTHING;
  *  - a MERGE-ON-READ delete ([[DeleteVectors.deleteWhere]]) appears as
  *    `'delete'` rows at the dv commit's timestamp, with the deleted
  *    row content recovered from the (immutable, still-present) marked
  *    files. A later `materialize` does not re-report them: the rewrite
  *    diff reads its tombstoned side with the dv state PINNED at the
  *    rewrite's own commit time, so rows already reported dead cancel.
  *
  * Windows are `(sinceTs, untilTs]` on log-filename timestamps, matching
  * [[IceTable.readAdded]]. Re-marking an already-deleted row never
  * re-reports it (marks present at the window start, or emitted earlier
  * in the window, are excluded) — UNLESS the row became visible again in
  * between (a mark retirement or a revive re-emitted it), in which case
  * every visible→dead transition reports: the feed is the exact event
  * log of row visibility.
  *
  * Scale shape: the driver folds ONLY metadata (one pass over the log,
  * like [[IceTable.history]]); each commit in the window contributes one
  * bounded Spark job over exactly the files that commit touched, and the
  * rewrite diff is one `exceptAll` shuffle bounded by the rewritten
  * volume — never a full-table scan. Meant to be consumed incrementally
  * (CDC cadence: short windows, few commits each).
  *
  * Limits, stated loudly:
  *  - per-commit attribution needs the window's source logs: a tombstone
  *    cleanup CONSOLIDATES history (it is the one commit kind that
  *    deletes log files, flagged `cln` in its metadata line), so windows
  *    starting before the latest cleanup are rejected;
  *  - deleted-row CONTENT needs the tombstoned files still on disk —
  *    true until a cleanup's retention reclaims them (same contract as
  *    Delta CDF after VACUUM); a reclaimed window fails on read, it
  *    never silently under-reports.
  */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val CommitTsCol = "_commit_ts"

  /** The change rows for `(sinceTs, untilTs]`. Output = the table's union
    * schema at `untilTs` plus (`_change_type` string, `_commit_ts` long).
    *
    * ANCHOR DISCIPLINE for incremental (chained-window) consumption:
    * `sinceTs` must be a SETTLED bound — one the producer can no longer
    * commit at or before. The streaming source guarantees this via its
    * now-1 offset cap; batch callers must chain windows through
    * [[betweenSettled]] (or [[IceChangeFeedSource.headTs]]-derived
    * offsets), NOT through `max(log ts)`: a dv delete committing in the
    * same millisecond as a max-log-ts anchor lands at `ts == sinceTs`,
    * folds into the window-start baseline, and is never emitted by any
    * window. A one-shot full read (`sinceTs = 0`, `untilTs` defaulted)
    * has no next window and needs no settling. */
  def between(
      table: IceTable, sinceTs: Long, untilTs: Long = Long.MaxValue): DataFrame = {
    val spark = table.spark
    val logs = table.logio.currentLogFiles(table.root).sorted
    // the window is INCLUSIVE of untilTs but the snapshot fold is
    // strict-<: fold at untilTs + 1 so a window ending exactly on the
    // last commit still sees it (the streaming source's every batch)
    val snapBound = if (untilTs == Long.MaxValue) untilTs else untilTs + 1
    val snapOpt = table.trySnapshot(snapBound)
    val snap = snapOpt.getOrElse(
      return emptyFeed(table))
    def shaped(df: DataFrame, tpe: String, ts: Long): DataFrame =
      df.withColumn(ChangeTypeCol, lit(tpe)).withColumn(CommitTsCol, lit(ts))

    val fetched = table.logio.fetchLogLines(table.root, logs)
    requireAttributable(
      logs.map(f => LogMetadata.fromJson(fetched(f)(0))), sinceTs, table.root)

    val parts = scala.collection.mutable.Buffer.empty[DataFrame]
    // ALL insert commits in the window collapse into ONE scan (+ one
    // broadcast (path → commit_ts) join) — a wide window over thousands
    // of appends must not build a thousand-part union plan
    val insertMarkers = scala.collection.mutable.Buffer.empty[(FileMarker, Long)]
    // merged-commit REVIVES (prior tombstoned → alive, i.e. RESTORE),
    // with their commit ts: rows they make visible again are emitted by
    // the rewrite diff below (dv-applied — see there), and dvMarkParts
    // needs the (path, ts) list so a RE-MARK of a revived row later in
    // the same window still reports its delete (visibility transitions)
    val reviveAt = scala.collection.mutable.Buffer.empty[(String, Long)]
    var prior = Map.empty[String, FileMarker]
    logs.foreach { lf =>
      val (ts, merged) = IceLogIO.logFileInfo(lf)
      val meta = LogMetadata.fromJson(fetched(lf)(0))
      val markers = table.logio.parseLog(lf, fetched(lf))._2
      if (ts <= sinceTs || ts > untilTs || meta.cleanedHorizon.nonEmpty) {
        // a cleanup CONSOLIDATION re-lists markers whose source logs it
        // deleted — logically pre-horizon state, content-preserving by
        // construction — so it only updates the prior map, never diffs
        // (the floor check above guarantees sinceTs covers its horizon)
        if (ts <= sinceTs || meta.cleanedHorizon.nonEmpty)
          markers.foreach(m => prior = prior.updated(m.path, m))
      } else {
        // newly-alive = alive now AND (absent or tombstoned) before: the
        // second disjunct is RESTORE reviving a tombstoned file — its rows
        // re-enter the visible state and must diff as inserts (carried
        // re-lists of still-alive markers stay excluded either way)
        val newAlive = markers.filter(m =>
          m.tombstone.isEmpty && prior.get(m.path).forall(_.tombstone.nonEmpty))
        val newDead = markers.filter(m =>
          m.tombstone.nonEmpty && prior.get(m.path).exists(_.tombstone.isEmpty))
        val revived = if (merged) newAlive.filter(m =>
          prior.get(m.path).exists(_.tombstone.nonEmpty)) else Seq.empty
        markers.foreach(m => prior = prior.updated(m.path, m))
        if (!merged) {
          newAlive.foreach(m => insertMarkers += ((m, ts)))
        } else if (newAlive.nonEmpty || newDead.nonEmpty) {
          revived.foreach(m => reviveAt += ((m.path, ts)))
          // rewrite diff. BOTH sides apply dv state — every emission
          // respects row visibility at its own commit:
          //  - tombstoned side, INCLUSIVE bound (ts + 1 against the
          //    strict-< fold): the rewrite's dv-stamp gate means every
          //    mark on the tombstoned paths was applied by it, including
          //    one sharing its commit millisecond (dv NEW marks floor
          //    strictly past covered main commits) — excluding that mark
          //    would fake a delete. This keeps pure compactions and dv
          //    materializations at zero contribution;
          //  - added side, STRICT bound (ts): a RESTORE-revived file may
          //    still sit under ALIVE marks (restore of only the main
          //    log, or the dv-side restore committing later) — those
          //    rows are NOT visible and emitting them raw would
          //    resurrect them on every replica; and the bound must be
          //    strict because the dv-side RETIREMENT is not floored
          //    against main commits, so it CAN share the revive's
          //    millisecond — an inclusive bound would see the mark
          //    already retired, emit the row here, and dvResurrectParts
          //    would emit it again at the retirement (double insert).
          //    Strict ts routes a same-ms retirement through the
          //    resurrect side exactly once. New files carry no marks, so
          //    either bound is a no-op for them.
          val removed = table.readFilesApplyingDeletes(snap, newDead, ts + 1)
          val added = table.readFilesApplyingDeletes(snap, newAlive, ts)
          parts += shaped(removed.exceptAll(added), "delete", ts)
          parts += shaped(added.exceptAll(removed), "insert", ts)
        }
      }
    }

    if (insertMarkers.nonEmpty) {
      import spark.implicits._
      val pathTs = insertMarkers.toSeq
        .map { case (m, ts) => (m.path, ts) }.toDF("_cf_path", CommitTsCol)
      parts += table.scanMarkers(snap.schema.toStructType,
          insertMarkers.map(_._1).toSeq)
        .withColumn("_cf_path", table.relPathCol)
        .join(broadcast(pathTs), Seq("_cf_path"))
        .drop("_cf_path")
        .withColumn(ChangeTypeCol, lit("insert"))
    }

    parts ++= dvDeleteParts(table, snap, sinceTs, untilTs, reviveAt.toSeq)

    if (parts.isEmpty) {
      shaped(table.readFiles(snap, Seq.empty), "insert", 0L).limit(0)
    } else parts.reduce(_ unionByName _)
  }

  /** `'delete'` rows from merge-on-read dv commits in the window.
    *
    * ALL window dv commits collapse into a BOUNDED number of jobs — the
    * same discipline as the insert-collapse in [[between]]: one scan over
    * the union of the window's mark files (joined to a broadcast
    * (mark file → commit ts) map), one anti-join against the window-start
    * `seen` baseline with a first-report `min(ts)` per mark, and one scan
    * over the union of affected main files that joins the marks back for
    * the deleted row content. A backfill window over 10³ dv commits used
    * to run 10³ sequential per-commit jobs with a growing `seen` union;
    * now commit count only widens the two scans' file lists. Per-commit
    * aliveness pinning stays exact: it is a DRIVER-side metadata check
    * (one log fold per distinct commit ts), never a Spark job.
    *
    * Rows RE-visible mid-window (a retirement the resurrect side emitted,
    * or a revive's dv-applied re-emit) take an exact per-pair transition
    * fold instead of the first-report collapse — restore-scale data, so
    * the event stream broadcasts — emitting every visible→dead
    * transition: a dead→alive→dead window must net to dead on a replica,
    * and a mark→retire→re-mark one must emit both deletes. */
  private def dvDeleteParts(
      table: IceTable, snap: IceSnapshot, sinceTs: Long,
      untilTs: Long, reviveAt: Seq[(String, Long)]): Seq[DataFrame] = {
    val dv = DeleteVectors.dvTable(table)
    // no-dv-table is the non-throwing empty list; a REAL listing failure
    // must propagate — swallowing it would silently drop the window's
    // delete events while the insert side commits the offset
    val dvLogs = dv.logio.currentLogFiles(dv.root).sorted
    if (dvLogs.isEmpty) return Seq.empty
    val dvFetched = dv.logio.fetchLogLines(dv.root, dvLogs)
    requireAttributable(
      dvLogs.map(f => LogMetadata.fromJson(dvFetched(f)(0))), sinceTs, dv.root)

    // resurrects FIRST: their emitted (pair, ts) sets are the visibility
    // events the mark side needs to report RE-marks of re-visible rows
    val (resurrectParts, resurrectEvents) =
      dvResurrectParts(table, snap, sinceTs, untilTs, dv, dvLogs, dvFetched)
    dvMarkParts(table, snap, sinceTs, untilTs, dv, dvLogs, dvFetched,
      reviveAt, resurrectEvents) ++ resurrectParts
  }

  private def dvMarkParts(
      table: IceTable, snap: IceSnapshot, sinceTs: Long, untilTs: Long,
      dv: IceTable, dvLogs: Seq[String],
      dvFetched: Map[String, Array[String]],
      reviveAt: Seq[(String, Long)],
      resurrectEvents: Option[DataFrame]): Seq[DataFrame] = {
    val spark = table.spark

    // (mark file → commit ts) across ALL window dv commits that KILL
    // visibility: a non-merged log's own new mark files, plus mark
    // REVIVALS — a merged dv commit (dv-side RESTORE) re-listing a
    // previously-retired mark file alive re-kills its pairs and must
    // report exactly like a re-mark (dv compaction's content-preserving
    // re-lists have an alive prior and stay silent). One path can carry
    // several commit ts (created, retired, revived in one window).
    val markFileTs: Seq[(String, Long)] = {
      var prior = Map.empty[String, FileMarker]
      val out = Seq.newBuilder[(String, Long)]
      dvLogs.foreach { lf =>
        val (ts, merged) = IceLogIO.logFileInfo(lf)
        val meta = LogMetadata.fromJson(dvFetched(lf)(0))
        val markers = dv.logio.parseLog(lf, dvFetched(lf))._2
        val inWindow = ts > sinceTs && ts <= untilTs &&
          meta.cleanedHorizon.isEmpty
        if (inWindow) markers.foreach { m =>
          if (m.tombstone.isEmpty &&
              (if (merged) prior.get(m.path).exists(_.tombstone.nonEmpty)
               else prior.get(m.path).forall(_.tombstone.nonEmpty)))
            out += ((m.path, ts))
        }
        if (!inWindow && (ts <= sinceTs || meta.cleanedHorizon.nonEmpty))
          markers.foreach(m => prior = prior.updated(m.path, m))
        else if (inWindow)
          markers.foreach(m => prior = prior.updated(m.path, m))
      }
      out.result()
    }
    if (markFileTs.isEmpty) return Seq.empty
    val maxTs = markFileTs.iterator.map(_._2).max
    val dvSchema = dv.snapshot(maxTs + 1).schema.toStructType

    import spark.implicits._
    val fileTs = markFileTs.toDF("_mf", "_mts")
    // one scan over every window mark file (distinct paths — the ts join
    // fans a revived file out to each of its kill commits): one row per
    // (pair, killing commit)
    val markEvents = spark.read.schema(dvSchema)
      .parquet(markFileTs.map { case (p, _) => s"${dv.root}/$p" }
        .distinct: _*)
      .withColumn("_mf", dv.relPathCol)
      .join(broadcast(fileTs), Seq("_mf"))
      .select(col("path"), col("row_index"), col("_mts"))
    // marks already present at the window start never re-report (dv
    // compaction preserves mark content, so this survives consolidation)
    val seen = dv.trySnapshot(sinceTs + 1)
      .filter(_.aliveFiles.nonEmpty)
      .map(s => dv.readFiles(s, s.aliveFiles).select("path", "row_index").distinct())

    // VISIBILITY EVENTS: rows that became visible again mid-window — a
    // mark retirement the resurrect side emitted, or a RESTORE revive
    // whose diff re-emitted the pair (only pairs NOT dv-dead at the
    // revive — STRICT pin, matching the diff's added side). A later
    // RE-mark of such a pair must report its delete even though the pair
    // was "seen" dead at the window start (or already reported earlier
    // in the window) — without this, a dead→alive→dead window nets to
    // alive on every replica. Restore-scale data: both event sets
    // broadcast. markEvents checkpoints FIRST on this path — it feeds
    // the revive candidates, the plain rule, and the transition fold,
    // and must stay ONE scan over the window's mark files.
    val visActive = reviveAt.nonEmpty || resurrectEvents.nonEmpty
    val me = if (visActive) markEvents.localCheckpoint() else markEvents
    val reviveEvents: Option[DataFrame] = if (reviveAt.isEmpty) None else {
      val revDf = reviveAt.toDF("_rp", "_rts")
      val candidates = me.select(col("path"), col("row_index"))
        .distinct()
        .join(broadcast(revDf), col("path") === col("_rp"))
        .select(col("path"), col("row_index"), col("_rts"))
      // per distinct revive commit: drop pairs still dv-dead at it
      val byTs = reviveAt.map(_._2).distinct.map { rts =>
        val atRevive = candidates.where(col("_rts") === rts)
        dv.trySnapshot(rts)
          .filter(_.aliveFiles.nonEmpty)
          .map(s => atRevive.join(
            dv.readFiles(s, s.aliveFiles).select("path", "row_index").distinct(),
            Seq("path", "row_index"), "left_anti"))
          .getOrElse(atRevive)
      }
      Some(byTs.reduce(_ unionByName _))
    }
    val visibleEvents: Option[DataFrame] = (resurrectEvents, reviveEvents) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }

    val fresh = (visibleEvents match {
      case None =>
        // no mid-window visibility changes: a pair reports ONCE, at its
        // first in-window mark commit (min ts), and window-start marks
        // never re-report — exactly the old per-commit loop's `seen`
        val agg = me.groupBy(col("path"), col("row_index"))
          .agg(min(col("_mts")).as("_mts"))
        seen.fold(agg)(s => agg.join(s, Seq("path", "row_index"), "left_anti"))
      case Some(vis) =>
        val visB = broadcast(vis.select(
          col("path"), col("row_index"), col("_rts")).localCheckpoint())
        // pairs with NO visibility event keep the simple rule
        val plain = me
          .join(visB, Seq("path", "row_index"), "left_anti")
          .groupBy(col("path"), col("row_index"))
          .agg(min(col("_mts")).as("_mts"))
        val plainFresh = seen.fold(plain)(s =>
          plain.join(s, Seq("path", "row_index"), "left_anti"))
        // pairs WITH visibility events: emit each alive→dead transition.
        // Event stream per pair = marks (kind 1) ∪ visibility (kind 0)
        // ordered by ts (visibility first on a tie — dv commit-ts bumping
        // makes ties across commits impossible anyway); a mark emits iff
        // the previous event is a visibility one, or it is the first
        // event and the pair was NOT dead at the window start.
        val touched = me.join(visB, Seq("path", "row_index"), "left_semi")
        val evs = touched.select(col("path"), col("row_index"),
            col("_mts").as("_ts"), lit(1).as("_k"))
          .unionByName(visB.select(col("path"), col("row_index"),
            col("_rts").as("_ts"), lit(0).as("_k")))
        val evs2 = seen.fold(evs.withColumn("_dead0", lit(false)))(s =>
          evs.join(s.withColumn("_dead0", lit(true)),
              Seq("path", "row_index"), "left")
            .withColumn("_dead0", coalesce(col("_dead0"), lit(false))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("path"), col("row_index"))
          .orderBy(col("_ts"), col("_k"))
        val transitions = evs2
          .withColumn("_prev", lag(col("_k"), 1).over(w))
          .where(col("_k") === 1 &&
            ((col("_prev").isNull && !col("_dead0")) || col("_prev") === 0))
          .select(col("path"), col("row_index"), col("_ts").as("_mts"))
        plainFresh.unionByName(transitions)
    }).localCheckpoint() // one bounded job; reused by the collect + the read

    // the marked paths were alive in the main table when their mark
    // committed: pin the main snapshot at each distinct dv commit ts
    // (inclusive — a main insert sharing the mark's millisecond still
    // precedes it). Driver-side metadata folds, file-count scale.
    val pathTs = fresh.select("path", "_mts").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val aliveAt = scala.collection.mutable.Map.empty[Long, Set[String]]
    def alive(ts: Long): Set[String] = aliveAt.getOrElseUpdate(
      ts, table.snapshot(ts + 1).aliveFiles.map(_.path).toSet)
    val readable = pathTs.filter { case (p, ts) => alive(ts)(p) }
      .map(_._1).distinct
    if (readable.isEmpty) return Seq.empty // all re-marks

    val dataCols = snap.schema.toStructType.fieldNames.toSeq
    val rows = spark.read.schema(snap.schema.toStructType)
      .parquet(readable.map(p => s"${table.root}/$p").toIndexedSeq: _*)
      .withColumn("_dv_path", table.relPathCol)
      .withColumn("_dv_row", col("_metadata.row_index"))
      .join(fresh.select(col("path").as("_dv_path"),
        col("row_index").as("_dv_row"), col("_mts")), Seq("_dv_path", "_dv_row"))
      .select(dataCols.map(c => col(s"`$c`")) :+ col("_mts"): _*)
      .withColumn(ChangeTypeCol, lit("delete"))
      .withColumnRenamed("_mts", CommitTsCol)
    Seq(rows)
  }

  /** `'insert'` rows for UN-deletes: mark files RETIRED in the window
    * (RESTORE's dv rollback is the producer that matters) resurrect the
    * rows they covered. A retired pair emits only if, at the retirement
    * commit: (a) no OTHER alive mark still covers it — which silences dv
    * COMPACTION, whose merged re-list keeps an alive copy of every pair
    * it retires; and (b) its main file is alive — which silences [[
    * DeleteVectors.vacuum]], whose retired marks point at dead files.
    * No revive special-casing is needed: the main-side rewrite diff
    * applies dv state as of ITS commit, so a revive never re-emits rows
    * still dead under marks — every dead row re-enters the feed exactly
    * once, at the commit that retires its mark. One bounded job per
    * distinct retirement commit ts (restores are rare, maintenance-grade
    * events; a window holds at most a few).
    *
    * Also returns the emitted (path, row_index, ts) event set — the
    * mark side's visibility input for re-mark transition reporting. */
  private def dvResurrectParts(
      table: IceTable, snap: IceSnapshot, sinceTs: Long, untilTs: Long,
      dv: IceTable, dvLogs: Seq[String],
      dvFetched: Map[String, Array[String]])
      : (Seq[DataFrame], Option[DataFrame]) = {
    var prior = Map.empty[String, FileMarker]
    val dead = scala.collection.mutable.Buffer.empty[(FileMarker, Long)]
    dvLogs.foreach { lf =>
      val ts = IceLogIO.logFileInfo(lf)._1
      val meta = LogMetadata.fromJson(dvFetched(lf)(0))
      val markers = dv.logio.parseLog(lf, dvFetched(lf))._2
      if (ts <= sinceTs || ts > untilTs || meta.cleanedHorizon.nonEmpty) {
        if (ts <= sinceTs || meta.cleanedHorizon.nonEmpty)
          markers.foreach(m => prior = prior.updated(m.path, m))
      } else {
        markers.filter(m => m.tombstone.nonEmpty &&
            prior.get(m.path).exists(_.tombstone.isEmpty))
          .foreach(m => dead += ((m, ts)))
        markers.foreach(m => prior = prior.updated(m.path, m))
      }
    }
    if (dead.isEmpty) return (Seq.empty, None)
    val spark = table.spark
    val dvSchema = dv.snapshot(Long.MaxValue).schema.toStructType
    import spark.implicits._
    val events = scala.collection.mutable.Buffer.empty[DataFrame]
    val parts = dead.groupBy(_._2).toSeq.sortBy(_._1).map { case (ts, files) =>
      val retired = spark.read.schema(dvSchema)
        .parquet(files.toSeq.map { case (m, _) => s"${dv.root}/${m.path}" }: _*)
        .select("path", "row_index").distinct()
      // (a) pairs still covered by an alive mark at ts stay dead
      val uncovered = dv.trySnapshot(ts + 1)
        .filter(_.aliveFiles.nonEmpty)
        .map(s => dv.readFiles(s, s.aliveFiles)
          .select("path", "row_index").distinct())
        .fold(retired)(alive => retired.join(alive,
          Seq("path", "row_index"), "left_anti"))
      // (b) only rows of files alive in main at ts. Driver-side metadata
      // fold; the allowed-path set joins as a broadcast frame (file-
      // count scale — an isin literal list would not survive 10^5 files)
      val aliveMain = table.snapshot(ts + 1).aliveFiles.map(_.path).toSet
      val allowed = aliveMain.toSeq.toDF("path")
      val wanted = uncovered.join(broadcast(allowed), Seq("path"))
        .localCheckpoint()
      events += wanted.select(col("path"), col("row_index"),
        lit(ts).as("_rts"))
      val paths = wanted.select("path").distinct()
        .collect().map(_.getString(0)) // file-count scale
      val dataCols = snap.schema.toStructType.fieldNames.toSeq
      if (paths.isEmpty)
        table.readFiles(snap, Seq.empty)
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitTsCol, lit(ts)).limit(0)
      else spark.read.schema(snap.schema.toStructType)
        .parquet(paths.map(p => s"${table.root}/$p").toIndexedSeq: _*)
        .withColumn("_dv_path", table.relPathCol)
        .withColumn("_dv_row", col("_metadata.row_index"))
        .join(wanted.select(col("path").as("_dv_path"),
          col("row_index").as("_dv_row")), Seq("_dv_path", "_dv_row"))
        .select(dataCols.map(c => col(s"`$c`")): _*)
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitTsCol, lit(ts))
    }
    (parts, events.reduceOption(_ unionByName _))
  }

  /** The consolidation floor across the main AND `_dv` logs: the newest
    * log timestamp any tombstone cleanup consolidated away. Windows must
    * start at or after it ([[between]] rejects earlier ones loudly);
    * recovery paths ([[graft.streaming.IceChangeFeedSource]]'s
    * `allowHorizonSkip`, or a manual restart) resume from here.
    * `Long.MinValue` when no cleanup ever ran. */
  def consolidationFloor(table: IceTable): Long = {
    def floorOf(t: IceTable): Long = {
      val logs = t.logio.currentLogFiles(t.root)
      if (logs.isEmpty) Long.MinValue
      else {
        val fetched = t.logio.fetchLogLines(t.root, logs)
        logs.flatMap(f => LogMetadata.fromJson(fetched(f)(0)).cleanedHorizon)
          .maxOption.getOrElse(Long.MinValue)
      }
    }
    math.max(floorOf(table), floorOf(DeleteVectors.dvTable(table)))
  }

  /** Reject windows whose per-commit history was consolidated away by a
    * tombstone cleanup. The floor is the max CONSOLIDATION HORIZON (the
    * newest log a cleanup deleted), NOT the cleanup commit's own
    * timestamp — a consumer caught up past the horizon keeps working
    * even though the cleanup commit is newer than its offset. */
  private def requireAttributable(
      metas: Seq[LogMetadata], sinceTs: Long, root: String): Unit = {
    val floor = metas.flatMap(_.cleanedHorizon).maxOption.getOrElse(Long.MinValue)
    require(sinceTs >= floor,
      s"changeFeed($root): history at or before ts=$floor was consolidated " +
        s"by tombstone cleanup; per-commit changes are reconstructible only " +
        s"for windows starting at or after it (requested sinceTs=$sinceTs)")
  }

  /** Changes since `sinceTs` up to a SETTLED `now − 1` bound, returned
    * alongside that bound — the batch twin of the streaming source's
    * offset discipline ([[graft.streaming.IceStreamSource.settledOffset]]).
    * Chain incremental consumption through the returned bound
    * (`next sinceTs = this untilTs`): commits landing in the still-open
    * millisecond fall past the bound and surface in the NEXT window,
    * where a raw `max(log ts)` anchor would fold a same-millisecond dv
    * delete into the baseline and lose it forever. */
  def betweenSettled(table: IceTable, sinceTs: Long): (DataFrame, Long) = {
    val until = settledNow(table)
    (between(table, sinceTs, until), until)
  }

  /** The settled inclusive bound for `table`'s feed right now: wall now-1
    * capped below every in-flight same-process commit of the main or
    * `_dv` log ([[IceLogIO.settledTs]]) — a commit fixes its ts before
    * its file is visible, and a bound inside that gap would silently
    * lose the commit from every window. Also the safe INITIAL pin for a
    * consumer's baseline. */
  def settledNow(table: IceTable): Long =
    IceLogIO.settledTs(Seq(table.root, s"${table.root}/_dv"))

  /** Empty feed with the right shape: the table's accumulated union
    * schema plus the two meta columns whenever the table has ANY log
    * (so consumers that union consecutive windows or bind the schema
    * once survive an empty window at the bound), meta-only when the
    * table has no log at all. */
  private def emptyFeed(table: IceTable): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = table.spark
    val meta = Seq(
      StructField(ChangeTypeCol, StringType),
      StructField(CommitTsCol, LongType))
    val fields = table.trySnapshot(Long.MaxValue)
      .map(_.schema.toStructType.fields.toSeq ++ meta).getOrElse(meta)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields))
  }
}
