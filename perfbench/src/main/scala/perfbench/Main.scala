package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes everything it measured as raw JSON; the
  * Python front end (`perfbench/run.py`) turns that into metrics.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *      --data DIR --work DIR --out FILE
  * }}}
  *
  * Untraced: one timed phase of S seconds. Traced: four phases of S/4
  * seconds on fresh state (untraced, traced, traced, untraced); the two
  * kinds give the per-layer figures and the tracing overhead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.byName(args("workload"))
      .getOrElse(sys.error(s"unknown workload ${args("workload")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val results = s"$work/results"
    val ctx = Ctx(spark, seed, args("data"), s"$work/tables", results)
    Files.createDirectories(Paths.get(ctx.workDir))
    Files.createDirectories(Paths.get(results))
    writeOracleSql(results, oracleQueries(workload))

    workload.setup(ctx)
    (1 to 50).foreach(_ => HostProbe.ms()) // compiled before it is timed
    val setupMs = System.currentTimeMillis()

    // Untraced: one phase. Traced: untraced, traced, traced, untraced, a
    // quarter each, so a drift in speed over the run (JIT, page cache)
    // cancels out of the traced/untraced comparison.
    val share = seconds / workload.parts / (if (traced) 4 else 1)
    val untraced = new Phase(new Tracer(false), share)
    val tracedPhase = new Phase(new Tracer(true), share)
    val (jvmU, jvmT) = (new JvmMonitor, new JvmMonitor)
    def segment(p: Phase, jvm: JvmMonitor, tag: String): Unit = {
      jvm.start()
      try workload.phase(ctx, p, tag) finally jvm.stop()
    }
    segment(untraced, jvmU, "u1")
    val cap = if (!traced) None else Some(StageCapture.around(spark.sparkContext) {
      segment(tracedPhase, jvmT, "t1")
      segment(tracedPhase, jvmT, "t2")
    })
    if (traced) segment(untraced, jvmU, "u2")
    val phases = phaseJson(untraced, jvmU.report, None) +:
      (if (traced) Seq(phaseJson(tracedPhase, jvmT.report, cap)) else Nil)
    Seq(jvmU, jvmT).foreach(_.close())
    val firstStartMs = untraced.startedEpochMs

    val record = Map(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "master" -> s"local[$cores]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_memory_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "jvm_start_epoch_ms" -> jvmStartMs,
      "session_ready_s" -> (sessionMs - jvmStartMs) / 1e3,
      "fixtures_s" -> (setupMs - sessionMs) / 1e3,
      "timed_start_s" -> (firstStartMs - jvmStartMs) / 1e3)
    val out = Json.write(Map("record" -> record, "phases" -> phases))
    Files.writeString(Paths.get(args("out")), out)
    spark.stop()
  }

  private def oracleQueries(w: Workload): Seq[String] = w match {
    case QueryMix => QueryMix.All
    case _ => Nil
  }

  /** The repository's DuckDB oracle SQL for these queries, in the layout
    * `tools/check_correctness.py` reads. */
  private def writeOracleSql(dir: String, queries: Seq[String]): Unit =
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }))

  private def phaseJson(p: Phase, process: Map[String, Double],
      cap: Option[StageCapture]): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map(
      "traced" -> p.tracer.enabled,
      "timed_s" -> p.elapsedNs / 1e9,
      "attempted" -> p.attempted, "failed" -> p.failed,
      "samples" -> p.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "counters" -> p.counters.toMap,
      "checks" -> p.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "process" -> process,
      "epoch_offset_ns" -> p.tracer.epochOffsetNs,
      "spans" -> p.tracer.spans.map(s => Seq(s.id, s.parent, s.name, s.op, s.startNs, s.endNs)),
      "jobs" -> cap.toSeq.flatMap(_.jobs.asScala.map { case (id, t0, t1, st) => Seq(id, t0, t1, st) }),
      "tasks" -> cap.toSeq.flatMap(_.tasks.asScala.map(_.toSeq)))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
