package perfbench

import java.io.File
import java.security.MessageDigest
import scala.collection.mutable

import graft.{Fixtures, SparkEntry}
import graft.ice.{FileMarker, IceTable, IceTableConfig}
import graft.plans.{IceFileIndex, PlanScans}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload may touch: the session, its seed, the generated
  * parquet inputs, a scratch directory, and where checked answers go. */
final case class Ctx(spark: SparkSession, seed: Long, dataDir: String,
    workDir: String, resultsDir: String)

/** A closed-loop, single-client workload. `setup` builds shared fixtures
  * once per process; each `phase` starts from fresh table state, so an
  * untraced and a traced phase in one process do the same work. */
trait Workload {
  def name: String
  /** Timed segments one phase runs; each gets an equal share of the time. */
  def parts: Int = 1
  def setup(ctx: Ctx): Unit = ()
  def phase(ctx: Ctx, p: Phase, tag: String): Unit

  /** Run `rounds` rounds of the workload's loop on throwaway tables, so JIT
    * compilation and lazy initialisation are done before the clock starts.
    * A fixed amount of work: a faster engine warms up faster. */
  protected def warmUp(ctx: Ctx, rounds: Int): Unit =
    phase(ctx, new Phase(new Tracer(false), 0.0, warmUpRounds = rounds), "warmup")
}

object Workload {
  val all: Seq[Workload] = Seq(WriteMix, QueryMix)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Order-independent SHA-256 over collected rows. */
  def hashRows(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Files read by the parquet scans of an executed query. */
  def filesRead(df: DataFrame): Long =
    PlanScans.fileScans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum

  /** Files the parquet scans of an executed query could have read: the
    * alive files of the ice table a scan reads (`alive`, by table root),
    * or, for a scan of plain parquet, the files it listed. */
  def filesTotal(df: DataFrame, alive: Map[String, Int]): Long =
    PlanScans.fileScans(df.queryExecution.executedPlan).map { s =>
      val loc = s.relation.location
      loc.rootPaths.headOption.flatMap(r => alive.get(r.toUri.getPath))
        .getOrElse(loc.inputFiles.length).toLong
    }.sum

  def dataBytes(root: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new File(root, "_data"))
  }

  def tableFile(t: IceTable, m: FileMarker): File = new File(t.root, m.path)

  /** Run independent set-up steps side by side; Spark interleaves their
    * jobs on the shared executor threads. */
  def inParallel[T](steps: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    try steps.map(f => pool.submit(() => f())).map(_.get())
    finally pool.shutdown()
  }

  /** One reference run per registered query, made (concurrently) in the
    * first phase of a process, the set-up's warm-up: each answer is written
    * for the DuckDB oracle, and its hash is what every timed run must
    * repeat. Queries whose reference run failed are left out, and each
    * failure is counted in the first measured phase. */
  final class References(queries: Seq[String]) {
    private var hashes: Option[Map[String, String]] = None
    private var failures = Seq.empty[(String, String)] // not yet counted
    def apply(ctx: Ctx, p: Phase): Map[String, String] = {
      val h = hashes.getOrElse(compute(ctx))
      // a warm-up phase's counts are discarded: count in the first measured one
      if (!p.warmUp) {
        failures.foreach { case (q, err) => p.check(s"$q reference run", ok = false, err) }
        failures = Nil
      }
      h
    }
    private def compute(ctx: Ctx): Map[String, String] = {
      val runs = inParallel(queries.map(q => () => q -> {
        try {
          val df = SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
          val rows = df.collect()
          ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"${ctx.resultsDir}/$q")
          Right(hashRows(rows))
        } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
      }))
      failures = runs.collect { case (q, Left(err)) => q -> err }
      val h = runs.collect { case (q, Right(hash)) => q -> hash }.toMap
      hashes = Some(h)
      h
    }
  }
}

/** The write path in one process: [[IngestStream]] for half the time, then
  * [[CompactCycle]] on its own tables. One JVM and one set of warm-ups serve
  * both, which leaves a run more of its time for measuring. */
object WriteMix extends Workload {
  val name = "write_mix"
  override val parts = 2
  override def setup(ctx: Ctx): Unit = { IngestStream.setup(ctx); CompactCycle.setup(ctx) }
  def phase(ctx: Ctx, p: Phase, tag: String): Unit = {
    IngestStream.phase(ctx, p, tag)
    CompactCycle.phase(ctx, p, tag)
  }
}

/** Small appends with a fresh read every other commit; never compacts. */
object IngestStream extends Workload {
  val name = "ingest_stream"
  val FreshEvery = 2

  /** Batches the warm-up commits: one big batch and eight fresh reads. The
    * first commits of a process take seconds each (Spark code generation,
    * JIT); fewer left the first timed commits twice as slow as the rest. */
  val WarmUpBatches = 16

  override def setup(ctx: Ctx): Unit = warmUp(ctx, WarmUpBatches)

  def config: IceTableConfig = IceTableConfig(
    partitionExpr = EventGen.partitionExpr, sortOrder = Seq("event", "ts"),
    statsColumn = Some("ts"))

  def phase(ctx: Ctx, p: Phase, tag: String): Unit = {
    val spark = ctx.spark
    val tr = p.tracer
    val t = new IceTable(spark, s"${ctx.workDir}/ingest_$tag", config)
    val gen = new EventGen(ctx.seed)
    var expected = Checksum.zero
    var i = 0
    p.start()
    while (p.another()) {
      val b = p.outside(gen.batch(i))
      val df = p.outside(b.toDF(spark))
      tr.op("op.insert") {
        p.run("insert_ms")(tr.span("IceTable.insert")(t.insert(df)))
      }.foreach { markers =>
        expected = expected + b.checksum
        p.add("ingest.rows", b.size)
        p.add("insert.commits", 1)
        p.add("insert.rows", b.size)
        p.add("insert.files", markers.size)
        p.add("insert.bytes", markers.map(_.fileBytes).sum.toDouble)
      }
      if ((i + 1) % FreshEvery == 0) freshRead(ctx, p, t, b)
      i += 1
    }
    p.finish()
    if (!p.warmUp) p.outside {
      val got = Checksum.of(t.read())
      p.check("ingest final count and checksum", got == expected, s"table $got, generator $expected")
    }
  }

  /** Snapshot, then a pruned aggregate that must see the commit just made. */
  private def freshRead(ctx: Ctx, p: Phase, t: IceTable, b: EventBatch): Unit = {
    val tr = p.tracer
    val users = b.perUser.keys.toSeq.sorted
    val user = users((ctx.seed + b.index).toInt.abs % users.size)
    val want = b.perUser(user)
    // the listing `snapshot()` makes, timed alone and off the clock
    if (tr.enabled) p.outside(tr.span("IceLogIO.list")(t.logio.currentLogFiles(t.root)))
    tr.op("op.fresh_read") {
      p.timed[(Long, Long)]("fresh_read_ms",
        got => if (got == want) None else Some(s"batch ${b.index} $user: got $got, want $want")) {
        val snap = tr.span("IceLogIO.fold")(t.snapshot())
        val df = tr.span("IceFileIndex.plan") {
          val d = IceFileIndex.dataFrame(ctx.spark, t, preSnap = Some(snap))
            .where(col("u") === user && col("ts") >= b.tsLo && col("ts") < b.tsHi)
            .agg(count(lit(1)), coalesce(sum(col("cnt")), lit(0L)))
          d.queryExecution.executedPlan
          d
        }
        val row = tr.span("spark.execute")(df.collect().head)
        p.outside {
          p.sample("fold.logs", snap.logFiles.size)
          p.sample("fold.markers", snap.files.size + snap.tombstones.size)
          p.add("scan.files_total", snap.aliveFiles.size)
          p.add("scan.files_read", Workload.filesRead(df).toDouble)
          p.add("scan.rows_out", 1)
        }
        (row.getLong(0), row.getLong(1))
      }
    }
  }
}

/** Bursts of small commits, then optimize and cleanup, on a concatenating
  * table and an aggregating one. */
object CompactCycle extends Workload {
  val name = "compact_cycle"
  // Commits to each table per cycle. Two, not three, leaves four or more
  // cycles in a run for `compact_s`; with three its median rested on three.
  val Burst = 2

  override def setup(ctx: Ctx): Unit = warmUp(ctx, 3) // cycles

  def phase(ctx: Ctx, p: Phase, tag: String): Unit = {
    val spark = ctx.spark
    val tr = p.tracer
    val plain = new IceTable(spark, s"${ctx.workDir}/plain_$tag", IceTableConfig(
      partitionExpr = concat(lit("e="), col("event")), sortOrder = Seq("ts")))
    val agg = new IceTable(spark, s"${ctx.workDir}/agg_$tag", IceTableConfig(
      partitionExpr = KeyGen.partitionExpr, sortOrder = Seq("k"),
      customMergeSql = Some(KeyGen.mergeSql)))
    val gen = new EventGen(ctx.seed + 1, bigEvery = 0)
    val keys = new KeyGen(ctx.seed)
    var expected = Checksum.zero
    val sums = mutable.Map.empty[String, Long]
    var i = 0

    def insert(t: IceTable, kind: String, df: DataFrame, rows: Int): Boolean =
      tr.op("op.insert")(p.run(s"insert_${kind}_ms")(tr.span("IceTable.insert")(t.insert(df))))
        .map { ms =>
          p.add("insert.commits", 1)
          p.add("insert.rows", rows)
          p.add("insert.files", ms.size)
          p.add("insert.bytes", ms.map(_.fileBytes).sum.toDouble)
          p.add("compact.insert_bytes", ms.map(_.fileBytes).sum.toDouble)
        }.isDefined

    def alive(t: IceTable): Map[String, Long] =
      t.snapshot().aliveFiles.map(m => m.path -> m.fileBytes).toMap

    def optimize(t: IceTable, kind: String): Double = {
      val before = p.outside(alive(t))
      val s = System.nanoTime()
      tr.op("op.optimize")(p.run(s"optimize_${kind}_ms")(tr.span("IceTable.optimize")(t.optimize())))
        .foreach(n => p.add("optimize.merges", n))
      val ms = (System.nanoTime() - s) / 1e6
      p.outside {
        val after = alive(t)
        val in = before.keySet -- after.keySet
        val out = after.keySet -- before.keySet
        p.add("optimize.files_in", in.size)
        p.add("optimize.files_out", out.size)
        p.add("optimize.bytes_in", in.toSeq.map(before).sum.toDouble)
        p.add("optimize.bytes_out", out.toSeq.map(after).sum.toDouble)
      }
      ms
    }

    def cleanup(t: IceTable): Double = {
      val gone = p.outside(t.snapshot().files.filterNot(_.alive).map(Workload.tableFile(t, _)))
      val s = System.nanoTime()
      tr.op("op.cleanup")(p.run("cleanup_ms")(tr.span("IceTable.tombstoneCleanup")(t.tombstoneCleanup(0L))))
        .foreach { r =>
          p.add("cleanup.logs_deleted", r.deletedLogFiles.size)
          p.add("cleanup.data_files_deleted", r.deletedDataFiles.size)
        }
      val ms = (System.nanoTime() - s) / 1e6
      p.outside {
        val left = gone.filter(_.exists)
        p.check("tombstoned files removed from disk", left.isEmpty,
          s"${left.size} of ${gone.size} still present, e.g. ${left.headOption.getOrElse("")}")
      }
      ms
    }

    def checkContents(stage: String): Unit = if (!p.warmUp) p.outside {
      val got = Checksum.of(plain.read())
      p.check(s"plain rows unchanged after $stage", got == expected, s"table $got, generator $expected")
      val table = agg.read().groupBy("k").agg(sum("v").cast("long")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      p.check(s"agg per-key sums after $stage", table == sums.toMap,
        s"${(table.keySet ++ sums.keySet).count(k => table.get(k) != sums.get(k))} keys differ")
    }

    p.start()
    while (p.another()) {
      val cycleStart = p.segmentNs // the phase clock: checks excluded
      for (_ <- 0 until Burst) {
        val b = p.outside(gen.batch(i))
        if (insert(plain, "plain", p.outside(b.toDF(spark)), b.size)) expected = expected + b.checksum
        val (rows, add) = p.outside(keys.batch(i, 1000 + i % 1000))
        val kdf = p.outside(spark.createDataFrame(java.util.Arrays.asList(rows: _*), keys.schema))
        if (insert(agg, "agg", kdf, rows.size)) add.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0L) + v }
        i += 1
      }
      val compact = optimize(plain, "plain") + optimize(agg, "agg")
      p.sample("compact_ms", compact)
      checkContents("optimize")
      p.sample("cleanup_cycle_ms", cleanup(plain) + cleanup(agg))
      p.sample("cycle_ms", (p.segmentNs - cycleStart) / 1e6)
      checkContents("cleanup")
      p.add("cycles", 1)
    }
    p.finish()
    p.outside {
      val onDisk = Workload.dataBytes(plain.root) + Workload.dataBytes(agg.root)
      val aliveBytes = (alive(plain).values ++ alive(agg).values).sum
      p.add("space.data_bytes", onDisk.toDouble)
      p.add("space.alive_bytes", aliveBytes.toDouble)
    }
  }
}

/** Analyst query shapes over settled, compacted, checkpointed tables,
  * interleaved with the four LLM dedup operators over the document,
  * embedding and image corpora. */
object QueryMix extends Workload {
  val name = "query_mix"
  val Shapes: Seq[String] = Seq("a18_partition_prune", "b2_partition_columns",
    "b5_filter", "b6_group_agg", "b7_count_distinct", "b10_quantiles", "b11_topk",
    "b12_json_extract", "b15_datetime", "join_star_schema", "b44_bucket_join")
  val Dedup: Seq[(String, String)] = Seq("llm_exact_dedup" -> "exact",
    "llm_minhash_dedup" -> "minhash", "llm_semantic_dedup" -> "semantic",
    "llm_image_dedup" -> "image")
  val All: Seq[String] = Shapes ++ Dedup.map(_._1)

  override def setup(ctx: Ctx): Unit = {
    val (s, d) = (ctx.spark, ctx.dataDir)
    // independent tables: build them side by side, as Fixtures.prewarm does
    val tables = Workload.inParallel(Seq(
      () => { val (o, l) = Fixtures.bucketedPair(s, d); Seq(o, l) },
      () => Seq(Fixtures.lineitemIce(s, d)),
      () => Seq(Fixtures.eventsIce(s, d).table),
      () => { Fixtures.mediaPng(s, d); Nil })) // image packing is fixture work
    tables.flatten.foreach(_.writeCheckpoint())
    aliveByRoot = tables.flatten.map(t =>
      new org.apache.hadoop.fs.Path(t.root).toUri.getPath -> t.snapshot().aliveFiles.size).toMap
    // The reference runs (concurrent) leave the JIT cold for one client: the
    // first round after them ran 35-45 % slower than the second, and its
    // single samples spread by 0.3-0.45 across seeds.
    warmUp(ctx, 1)
  }

  /** Alive files of each fixture table, by root path. */
  private var aliveByRoot = Map.empty[String, Int]

  private val references = new Workload.References(All)

  /** A query shape, split into planning and execution. */
  private def query(ctx: Ctx, p: Phase, q: String): Array[Row] = {
    val tr = p.tracer
    tr.span(s"SparkEntry.$q") {
      val df = tr.span("IceFileIndex.plan") {
        val d = SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
        d.queryExecution.executedPlan
        d
      }
      val rows = tr.span("spark.execute")(df.collect())
      if (tr.enabled) p.outside {
        p.add("scan.files_total", Workload.filesTotal(df, aliveByRoot).toDouble)
        p.add("scan.files_read", Workload.filesRead(df).toDouble)
        p.add("scan.rows_out", rows.length)
      }
      rows
    }
  }

  /** A dedup operator: the pipeline builds and runs its own plans. */
  private def operator(ctx: Ctx, p: Phase, q: String, kind: String): Array[Row] =
    p.tracer.span(s"operators.$kind")(SparkEntry.queries(q)(ctx.spark, ctx.dataDir).collect())

  def phase(ctx: Ctx, p: Phase, tag: String): Unit = {
    val expect = references(ctx, p)
    val kinds = Dedup.toMap
    var round = 0
    var lastRoundNs = 0L
    p.start()
    // whole rounds only, and only one expected to end within the time
    def another = if (p.warmUp) p.another()
      else round == 0 || p.segmentNs + lastRoundNs <= (p.seconds * 1e9).toLong
    while (another) {
      val roundStart = p.segmentNs
      for (q <- new scala.util.Random(ctx.seed * 1000 + round).shuffle(All) if expect.contains(q)) {
        p.tracer.op("op.query") {
          p.timed[String](kinds.get(q).fold(s"query.$q")(k => s"operators.${k}_ms"),
            h => if (h == expect(q)) None else Some(s"$q answer changed between runs")) {
            Workload.hashRows(kinds.get(q).fold(query(ctx, p, q))(operator(ctx, p, q, _)))
          }
        }
      }
      lastRoundNs = p.segmentNs - roundStart
      round += 1
    }
    p.finish()
  }
}
