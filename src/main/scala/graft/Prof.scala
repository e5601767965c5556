package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round profiling harness (round 16): isolates one bench
  * section at a time with internal phase timers. Not part of the library
  * surface. Usage: runMain graft.Prof <section> */
object Prof {
  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  def timeIt[A](label: String)(body: => A): A = {
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val r = body
    val w = (System.nanoTime() - t0) / 1e9
    val c = (cpuNs() - c0) / 1e9
    println(f"[prof] $label%-40s wall=$w%8.3f cpu=$c%8.2f")
    r
  }

  def main(args: Array[String]): Unit = {
    val section = args.headOption.getOrElse("logfold")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    section match {
      case "logfold" => logfold(spark)
      case "mv" => mv(spark)
      case "b11" => b11(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case "b11sf1" =>
        val dest = synthSf1(spark, "/root/testdata/sf0.1")
        b11(spark, dest)
        rm(new java.io.File(dest))
      case "tok" => tokAb(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      case "insert" => insertProf(spark)
      case "opt2000" => opt2000Prof(spark)
      case "scanraw" => scanRawProf(spark)
      case "scanstack" => scanStackProf(spark)
      case "q" =>
        // time named registered queries with the bench's methodology
        // (count(), untimed warmup first): runMain graft.Prof q q1,q2 [sfDir]
        val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq.empty)
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
        val qs = SparkEntry.queries
        names.foreach { n => try qs(n)(spark, sfDir).count()
          catch { case e: Throwable => println(s"[prof] $n warm FAILED: $e") } }
        (1 to 3).foreach { i => names.foreach { n =>
          timeIt(s"$n rep$i") { qs(n)(spark, sfDir).count() } } }
      case other => System.err.println(s"unknown section: $other")
    }
    spark.stop()
  }

  /** In-process A/B of the minhash tok-build variants: legacy
    * posexplode+window pipeline vs native ShingleHash, single-split vs
    * spread. Each builds + counts the (id, hash) table 3×. */
  private def tokAb(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val k = 3
    val docs = Fixtures.raw(spark, sfDir, "documents")
      .select(col("doc_id").as("_id"), col("text"))
    def legacy = {
      val w = Window.partitionBy("_id").orderBy("_p")
      val leads = (1 until k).map(j =>
        coalesce(lead(col("_t"), j).over(w), lit("")).as(s"_t$j"))
      val lastLead = lead(col("_t"), k - 1).over(w)
      docs.select(col("_id"),
          posexplode(graft.functions.TextFunctions.tokens(col("text"))).as(Seq("_p", "_t")))
        .select(Seq(col("_id"), col("_p"), col("_t"),
          lastLead.isNotNull.as("_full")) ++ leads: _*)
        .where(col("_full") || col("_p") === 0)
        .select(col("_id"),
          xxhash64(col("_t") +: (1 until k).map(j => col(s"_t$j")): _*).as("_h"))
        .distinct()
    }
    def nativeFlat = docs.select(col("_id"),
      explode(graft.functions.TextFunctions.shingleHashes(col("text"), k)).as("_h"))
    def nativeSpread = docs.repartition(spark.sparkContext.defaultParallelism)
      .select(col("_id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"), k)).as("_h"))
    def nativeById = docs.repartition(
        spark.sparkContext.defaultParallelism, col("_id"))
      .select(col("_id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"), k)).as("_h"))
    // warm
    legacy.count(); nativeFlat.count(); nativeSpread.count()
    (1 to 3).foreach { i =>
      timeIt(s"legacy window tok rep$i") { legacy.count() }
      timeIt(s"native 1-split tok rep$i") { nativeFlat.count() }
      timeIt(s"native spread tok rep$i") { nativeSpread.count() }
      // downstream shape: the banding groupBys fed by each variant
      timeIt(s"legacy + banding rep$i") {
        legacy.withColumn("_b", pmod(col("_h"), lit(128)).cast("int"))
          .groupBy("_id", "_b").agg(min(col("_h"))).count() }
      timeIt(s"spread + banding rep$i") {
        nativeSpread.withColumn("_b", pmod(col("_h"), lit(128)).cast("int"))
          .groupBy("_id", "_b").agg(min(col("_h"))).count() }
      timeIt(s"1split + banding rep$i") {
        nativeFlat.withColumn("_b", pmod(col("_h"), lit(128)).cast("int"))
          .groupBy("_id", "_b").agg(min(col("_h"))).count() }
      timeIt(s"byid + banding rep$i") {
        nativeById.withColumn("_b", pmod(col("_h"), lit(128)).cast("int"))
          .groupBy("_id", "_b").agg(min(col("_h"))).count() }
      // the full band-key second aggregate, both shapes
      def minned = nativeFlat
        .withColumn("_b", pmod(col("_h"), lit(128)).cast("int"))
        .groupBy("_id", "_b").agg(min(col("_h")).as("_m"))
        .withColumn("_band", (col("_b") / 8).cast("int"))
      timeIt(s"bandkey collect_list rep$i") {
        minned.groupBy("_id", "_band")
          .agg(sort_array(collect_list(struct(col("_b"), col("_m")))).as("_bm"))
          .select(xxhash64(col("_band"), col("_bm")).as("_bucket"))
          .count() }
      timeIt(s"bandkey commutative rep$i") {
        val bh = xxhash64(col("_b"), col("_m"))
        minned.groupBy("_id", "_band")
          .agg(expr("bit_xor(xxhash64(_b, _m))").as("_x"),
            sum(pmod(bh, lit(1000000007L))).as("_s"),
            count(lit(1)).as("_c"))
          .select(xxhash64(col("_band"), col("_x"), col("_s"), col("_c"))
            .as("_bucket"))
          .count() }
    }
  }

  /** Decomposition of the bench's synthetic_insert section (6M rows into
    * 16 partitions): isolates generation, routing, shuffle, sort, parquet
    * encode (several codecs), and the full IceTable.insert — so the CPU
    * can be attributed before any change. All noop-sink per guide §1.4. */
  private def insertProf(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val n = 6_000_000L
    def synthDf = spark.range(n).select(
      col("id").as("ts"),
      concat(lit("user_"), pmod(col("id"), lit(16))).as("user_id"),
      lit("page_load").as("event"),
      to_json(struct(col("id").as("n"))).as("properties"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def routed = synthDf.withColumn("_route",
      concat(lit("u="), pmod(col("ts"), lit(16))))
    def arranged = routed.repartition(col("_route"))
      .sortWithinPartitions(col("_route"), col("event"), col("ts"))
    // warm all plan shapes once
    noop(synthDf); noop(arranged)
    (1 to 3).foreach { i =>
      timeIt(s"gen only rep$i") { noop(synthDf) }
      timeIt(s"gen+route rep$i") { noop(routed) }
      timeIt(s"+shuffle rep$i") { noop(routed.repartition(col("_route"))) }
      timeIt(s"+sort rep$i") { noop(arranged) }
      Seq("snappy", "zstd", "lz4_raw", "uncompressed").foreach { codec =>
        timeIt(s"write $codec partBy rep$i") {
          val tmp = Fixtures.scratchDir("prof_ins")
          arranged.write.mode("overwrite").partitionBy("_route")
            .option("compression", codec).parquet(tmp)
          rm(new java.io.File(tmp))
        }
      }
      timeIt(s"write snappy nodict rep$i") {
        val tmp = Fixtures.scratchDir("prof_ins")
        arranged.write.mode("overwrite").partitionBy("_route")
          .option("compression", "snappy")
          .option("parquet.enable.dictionary", "false").parquet(tmp)
        rm(new java.io.File(tmp))
      }
      timeIt(s"write snappy nocrc rep$i") {
        val tmp = Fixtures.scratchDir("prof_ins")
        arranged.write.mode("overwrite").partitionBy("_route")
          .option("compression", "snappy")
          .option("parquet.page.write-checksum.enabled", "false").parquet(tmp)
        rm(new java.io.File(tmp))
      }
      timeIt(s"full IceTable.insert rep$i") {
        import graft.ice.{IceTable, IceTableConfig}
        val root = Fixtures.scratchDir("prof_ins_t")
        val t = new IceTable(spark, root, IceTableConfig(
          partitionExpr = concat(lit("u="), pmod(col("ts"), lit(16))),
          sortOrder = Seq("event", "ts")))
        t.insert(synthDf)
        rm(new java.io.File(root))
      }
    }
  }

  /** Decomposition of optimize_2000: build the 2000-file table once, then
    * split the merge cost into scan / scan+sort / scan+sort+write phases
    * (per partition, like optimize's rewrite executor does) before timing
    * the real optimize() on a fresh build. */
  private def opt2000Prof(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ice.{IceTable, IceTableConfig}
    val n = 6_000_000L
    def synthDf = spark.range(n).select(
      col("id").as("ts"),
      concat(lit("user_"), pmod(col("id"), lit(16))).as("user_id"),
      lit("page_load").as("event"),
      to_json(struct(col("id").as("n"))).as("properties"))
    def build(): (IceTable, String) = {
      val root = Fixtures.scratchDir("prof_opt")
      val t = new IceTable(spark, root, IceTableConfig(
        partitionExpr = concat(lit("u="), pmod(col("ts"), lit(16))),
        sortOrder = Seq("event", "ts"), shuffleOnInsert = false))
      t.insert(synthDf.repartition(125))
      require(t.snapshot().aliveFiles.length == 2000)
      (t, root)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val (t0, root0) = timeIt("build 2000-file table") { build() }
    val snap = t0.snapshot()
    // read-only phases over ALL 2000 files
    noop(t0.readFiles(snap, snap.aliveFiles)) // warm
    (1 to 2).foreach { i =>
      timeIt(s"scan 2000 files noop rep$i") {
        noop(t0.readFiles(snap, snap.aliveFiles))
      }
      timeIt(s"scan+persort(16x coalesced) rep$i") {
        val byPart = snap.aliveFiles.groupBy(m =>
          t0.partitionOf(m.path)).toSeq.sortBy(_._1)
        byPart.foreach { case (_, ms) =>
          noop(t0.readFiles(snap, ms).coalesce(1)
            .sortWithinPartitions(col("event"), col("ts")))
        }
      }
    }
    rm(new java.io.File(root0))
    (1 to 2).foreach { i =>
      val (t, root) = build()
      timeIt(s"optimize rep$i") {
        t.optimize(maxFileSize = 10_000_000_000L, maxFileCount = 1000)
        require(t.snapshot().aliveFiles.length == 16)
      }
      rm(new java.io.File(root))
    }
  }

  /** A/B of Hadoop LocalFileSystem (checksummed: .crc sidecar probe +
    * verify on every open) vs RawLocalFileSystem on the 2000-tiny-file
    * scan AND a 16-big-file scan of the same 6M rows — isolates per-file
    * open overhead from per-byte checksum cost. */
  private def scanRawProf(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ice.{IceTable, IceTableConfig}
    val n = 6_000_000L
    def synthDf = spark.range(n).select(
      col("id").as("ts"),
      concat(lit("user_"), pmod(col("id"), lit(16))).as("user_id"),
      lit("page_load").as("event"),
      to_json(struct(col("id").as("n"))).as("properties"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val root = Fixtures.scratchDir("prof_scanraw")
    val t = new IceTable(spark, root, IceTableConfig(
      partitionExpr = concat(lit("u="), pmod(col("ts"), lit(16))),
      sortOrder = Seq("event", "ts"), shuffleOnInsert = false))
    t.insert(synthDf.repartition(125))
    val snap2000 = t.snapshot()
    require(snap2000.aliveFiles.length == 2000)
    // compacted twin: same rows, 16 files
    val root16 = Fixtures.scratchDir("prof_scanraw16")
    val t16 = new IceTable(spark, root16, IceTableConfig(
      partitionExpr = concat(lit("u="), pmod(col("ts"), lit(16))),
      sortOrder = Seq("event", "ts")))
    t16.insert(synthDf)
    val snap16 = t16.snapshot()
    noop(t.readFiles(snap2000, snap2000.aliveFiles)) // warm plans
    noop(t16.readFiles(snap16, snap16.aliveFiles))
    def passes(tag: String): Unit = (1 to 2).foreach { i =>
      timeIt(s"$tag scan 2000 files rep$i") {
        noop(t.readFiles(snap2000, snap2000.aliveFiles)) }
      timeIt(s"$tag scan 16 files rep$i") {
        noop(t16.readFiles(snap16, snap16.aliveFiles)) }
    }
    passes("checksumFS")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    org.apache.hadoop.fs.FileSystem.closeAll()
    passes("rawFS     ")
    hc.unset("fs.file.impl")
    org.apache.hadoop.fs.FileSystem.closeAll()
    rm(new java.io.File(root)); rm(new java.io.File(root16))
  }

  /** Poor-man's sampling profiler over the 2000-tiny-file scan: dump
    * executor task thread stacks every ~50ms while the scan runs, count
    * top in-scan frames. */
  private def scanStackProf(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.ice.{IceTable, IceTableConfig}
    val n = 6_000_000L
    def synthDf = spark.range(n).select(
      col("id").as("ts"),
      concat(lit("user_"), pmod(col("id"), lit(16))).as("user_id"),
      lit("page_load").as("event"),
      to_json(struct(col("id").as("n"))).as("properties"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val root = Fixtures.scratchDir("prof_scanstk")
    val t = new IceTable(spark, root, IceTableConfig(
      partitionExpr = concat(lit("u="), pmod(col("ts"), lit(16))),
      sortOrder = Seq("event", "ts"), shuffleOnInsert = false))
    t.insert(synthDf.repartition(125))
    val snap = t.snapshot()
    noop(t.readFiles(snap, snap.aliveFiles)) // warm
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          println(s"[stage] id=${sc.stageInfo.stageId} tasks=${sc.stageInfo.numTasks} name=${sc.stageInfo.name.take(60)}")
      })
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var printedFull = false
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        Thread.getAllStackTraces.forEach { (th, st) =>
          if (th.getName.startsWith("Executor task launch") &&
              th.getState == Thread.State.RUNNABLE && st.nonEmpty) {
            // record the deepest "interesting" frame classes
            val sig = st.drop(6).take(40).map(f =>
              s"${f.getClassName.split("\\.").last}.${f.getMethodName}")
              .mkString("<")
            counts.merge(sig.take(1200), 1, (a, b) => a + b)
            if (!printedFull &&
                sig.contains("SerializableConfiguration.readObject")) {
              printedFull = true
              println("[fullstack] " + st.map(f =>
                s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
                .mkString("\n[fullstack] "))
            }
          }
        }
        Thread.sleep(23)
      }
    })
    sampler.setDaemon(true); sampler.start()
    (1 to 4).foreach { i => timeIt(s"sampled scan rep$i") {
      noop(t.readFiles(snap, snap.aliveFiles)) } }
    sampling = false; sampler.join(1000)
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (sig, c) =>
      println(f"[stack] $c%5d  $sig")
    }
    rm(new java.io.File(root))
  }

  /** The bench's sf1 lineitem synthesis (10 key-offset replicas). */
  private def synthSf1(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val dest = Fixtures.scratchDir("prof_sf1")
    val off = 10_000_000L
    val base = Fixtures.raw(spark, sfDir, "lineitem")
    timeIt("synth sf1 lineitem") {
      (0 until 10).map(i =>
        base.withColumn("l_orderkey", col("l_orderkey") + lit(off * i)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dest/lineitem.parquet")
    }
    dest
  }

  /** b11_topk decomposition: scan-only, long-sum, double-sum, decimal-sum
    * (the registered shape), with and without the top-k tail. */
  private def b11(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
    val t = Fixtures.lineitemIce(spark, sfDir)
    def scan = t.read()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def grouped = scan.groupBy(col("l_orderkey"))
    def dec38 = grouped
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
    def int64 = grouped
      .agg((sum((dec(col("l_extendedprice")) * 100).cast("long") *
        (lit(100L) - (dec(col("l_discount")) * 100).cast("long"))) / lit(10000.0))
        .as("revenue"))
    timeIt("warm") { noop(dec38); noop(int64) }
    (1 to 2).foreach { i =>
      timeIt(s"noop scan rep$i") { noop(scan.select("l_orderkey", "l_extendedprice", "l_discount")) }
      timeIt(s"noop group dec38 rep$i") { noop(dec38) }
      timeIt(s"noop group int64 rep$i") { noop(int64) }
      timeIt(s"topk dec38 rep$i") {
        dec38.orderBy(col("revenue").desc, col("l_orderkey")).limit(10).count() }
      timeIt(s"topk int64 rep$i") {
        int64.orderBy(col("revenue").desc, col("l_orderkey")).limit(10).count() }
    }
    // equality probe: the two arithmetics must agree bit-for-bit
    val a = dec38.orderBy(col("revenue").desc, col("l_orderkey")).limit(10).collect()
    val b = int64.orderBy(col("revenue").desc, col("l_orderkey")).limit(10).collect()
    println(s"[prof] equal=${a.sameElements(b)}")
    a.zip(b).foreach { case (x, y) => if (x != y) println(s"[prof] DIFF $x vs $y") }
  }

  /** Replicates Bench's mv_full_reagg / mv_refresh_delta shapes with
    * phase timers around the externally-visible pieces. */
  private def mv(spark: SparkSession): Unit = {
    import graft.ice.{IceTable, IceTableConfig}
    import graft.operators.MvSync
    import org.apache.spark.sql.functions._
    val n = 24_000_000L
    def rows = spark.range(n).select(
      col("id"),
      pmod(col("id"), lit(1000)).cast("string").as("grp"),
      (col("id") % 97).as("v"))
    val baseRoot = Fixtures.newRoot("prof_mvbase")
    val mvRoot = Fixtures.newRoot("prof_mv")
    val base = new IceTable(spark, baseRoot, IceTableConfig(
      partitionExpr = concat(lit("p="), pmod(col("id"), lit(16))),
      sortOrder = Seq("id")))
    timeIt("base insert 24M") { base.insert(rows) }
    val spec = MvSync.MvSpec(Seq("grp"),
      sumCols = Seq("v"), minMaxCols = Seq("id"))
    val mv = MvSync.create(spark, mvRoot, spec)
    Thread.sleep(5)
    timeIt("initial syncFromFeed") { MvSync.syncFromFeed(base, mv, spec) }
    // the pure re-agg a rebase must at least pay
    timeIt("bare reagg count") {
      base.read(Long.MaxValue).groupBy(col("grp"))
        .agg(count(lit(1)), sum(col("v")), min(col("id")), max(col("id")))
        .count()
    }
    (1 to 3).foreach { i =>
      Thread.sleep(2)
      timeIt(s"rebase rep $i") { MvSync.rebase(base, mv, spec) }
    }
    def delta = rows.where(pmod(col("id"), lit(1000)) === 0)
    var rep = 0L
    (1 to 3).foreach { i =>
      rep += 1
      timeIt(s"delta insert rep $i") {
        base.insert(delta.withColumn("id", col("id") + lit(rep * 10L * n)))
      }
      Thread.sleep(5)
      timeIt(s"refresh delta rep $i") { MvSync.syncFromFeed(base, mv, spec) }
    }
    timeIt("mv read") { MvSync.read(mv, spec).collect() }
    rm(new java.io.File(baseRoot)); rm(new java.io.File(mvRoot))
  }

  private def rm(dir: java.io.File): Unit = {
    Option(dir.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
    dir.delete(); ()
  }

  private def logfold(spark: SparkSession): Unit = {
    import graft.ice.{FileMarker, IceTable, IceTableConfig, Schema}
    import org.apache.spark.sql.functions.lit
    val root = Fixtures.scratchDir("prof_logbench20k")
    val t = new IceTable(spark, root, IceTableConfig(lit("p=1"), Seq.empty))
    val sch = Schema("ts" -> "BIGINT")
    val base = 1700000000000L
    timeIt("build 20k logs") {
      (0 until 20000).foreach { i =>
        t.logio.append(root, 1, sch,
          Seq(FileMarker(s"_data/p=1/a$i.parquet", base + i, 100L),
            FileMarker(s"_data/p=1/b$i.parquet", base + i, 100L)),
          timestamp = Some(base + i))
      }
    }
    (1 to 3).foreach { i =>
      timeIt(s"snapshot rep $i") {
        val snap = t.snapshot()
        require(snap.files.length == 40000)
      }
    }
    // phase split: list vs fetch vs fold
    (1 to 2).foreach { i =>
      val logs = timeIt(s"rep$i currentLogFiles") {
        t.logio.currentLogFiles(root) }
      val filtered = timeIt(s"rep$i filter by ts") {
        logs.filter(p => graft.ice.IceLogIO.logFileInfo(p)._1 < Long.MaxValue) }
      val fetched = timeIt(s"rep$i fetchLogLines") {
        t.logio.fetchLogLines(root, filtered.sorted) }
      timeIt(s"rep$i sequential fold") {
        val sorted = filtered.sorted
        sorted.foreach { lf => t.logio.parseLog(lf, fetched(lf)) }
      }
    }
    rm(new java.io.File(root))
  }
}
