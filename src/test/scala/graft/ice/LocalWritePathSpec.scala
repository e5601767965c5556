package graft.ice

import java.nio.file.{Files, Path => NioPath, Paths}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The engine's data-file writer on a local root: it sets permission bits
  * in-process ([[LocalWriteFileSystem]]) instead of forking chmod, and it
  * must leave exactly what stock Hadoop `LocalFileSystem` leaves — the
  * same POSIX bits under the same umask, a `.crc` sidecar per data file,
  * and markers whose row count and stats match the file's footer. A
  * session that picks its own `fs.file.impl` keeps it; a write that throws
  * leaves no staging and no commit. */
class LocalWritePathSpec extends SparkSpec {
  import spark.implicits._

  private def hc = spark.sparkContext.hadoopConfiguration

  private def events(n: Int, from: Int = 0): DataFrame =
    (from until from + n).map(i => (i.toLong, i % 4L, s"type_${i % 3}"))
      .toDF("event_id", "user_id", "event_type")

  private def newTable(root: String): IceTable =
    new IceTable(spark, root, IceTableConfig(
      partitionExpr = concat(lit("u="), $"user_id"),
      sortOrder = Seq("event_id"),
      statsColumn = Some("event_id"),
      statsColumns = Seq("event_type")))

  /** Run `body` with the shared Hadoop conf's `settings` applied, then
    * restore each key's previous value (or unset it). */
  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val before = settings.map { case (k, _) => k -> Option(hc.get(k)) }
    settings.foreach { case (k, v) => hc.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None)    => hc.unset(k)
    }
  }

  private def perms(p: NioPath): Set[PosixFilePermission] =
    Files.getPosixFilePermissions(p).asScala.toSet

  private def walk(root: NioPath): Seq[NioPath] = {
    val s = Files.walk(root)
    try s.iterator.asScala.toList finally s.close()
  }

  private def rawBytesWritten: Long =
    FileSystem.getStatistics("file", classOf[LocalWriteFileSystem.Raw])
      .getBytesWritten

  test("local-root writes match stock LocalFileSystem: bits, .crc, footers") {
    withConf("fs.permissions.umask-mode" -> "027") {
      // what stock Hadoop leaves under the same conf: one file (and its
      // sidecar), one directory
      val probe = new Path(tmpDir("stock-probe"))
      val stock = new LocalFileSystem()
      stock.initialize(java.net.URI.create("file:///"), hc)
      val probeFile = new Path(probe, "f.bin")
      stock.create(probeFile).close()
      stock.mkdirs(new Path(probe, "d/e"))
      val fileBits = perms(Paths.get(probe.toUri.getPath, "f.bin"))
      val dirBits = perms(Paths.get(probe.toUri.getPath, "d", "e"))
      assert(fileBits == LocalWriteFileSystem.posix(Integer.parseInt("640", 8)).asScala)
      assert(dirBits == LocalWriteFileSystem.posix(Integer.parseInt("750", 8)).asScala)

      val root = tmpDir("local-write")
      val t = newTable(root)
      val written0 = rawBytesWritten
      (0 until 3).foreach(i => t.insert(events(200, i * 200)))
      assert(rawBytesWritten > written0,
        "engine writes on a default local root go through LocalWriteFileSystem")
      assert(t.optimize(maxFileSize = 1L << 30, maxFileCount = 100) > 0)
      t.tombstoneCleanup(0)
      t.insert(events(50, 600))

      val data = Paths.get(root, "_data")
      val entries = walk(data)
      val dataFiles = entries.filter(_.getFileName.toString.endsWith(".parquet"))
      assert(dataFiles.size == 8) // 4 merged + 4 from the last insert
      entries.filter(Files.isDirectory(_)).foreach(d =>
        assert(perms(d) == dirBits, s"directory $d"))
      dataFiles.foreach { f =>
        assert(perms(f) == fileBits, s"data file $f")
        val crc = f.resolveSibling(s".${f.getFileName}.crc")
        assert(Files.exists(crc), s"missing checksum sidecar for $f")
        assert(perms(crc) == fileBits, s"sidecar $crc")
      }
      val tmp = Paths.get(root, "_tmp")
      assert(!Files.exists(tmp) || walk(tmp) == Seq(tmp))

      val alive = t.snapshot().aliveFiles
      assert(alive.map(m => Paths.get(root, m.path)).toSet == dataFiles.toSet)
      alive.foreach { m =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(root, m.path), hc))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          def range(c: String): (String, String) = {
            val st = blocks.map(_.getColumns.asScala.find(
              _.getPath.toDotString == c).get.getStatistics)
            def str(v: Any): String = v match {
              case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
              case o => o.toString
            }
            val mins = st.map(_.genericGetMin.asInstanceOf[Comparable[Any]])
            val maxs = st.map(_.genericGetMax.asInstanceOf[Comparable[Any]])
            (str(mins.reduce((a, b) => if (a.compareTo(b) <= 0) a else b)),
              str(maxs.reduce((a, b) => if (a.compareTo(b) >= 0) a else b)))
          }
          assert(m.rowCount.contains(reader.getRecordCount), m.path)
          assert(m.stats.contains(range("event_id")), m.path)
          assert(m.multiStats == Map("event_type" -> range("event_type")), m.path)
        } finally reader.close()
      }
      assert(t.read().count() == 650L)
    }
  }

  test("a session-chosen fs.file.impl keeps serving the engine's writes") {
    // Prof's raw-FS A/B sets exactly this; disable.cache so the cached
    // checksummed instance is not handed back for `file:`
    withConf("fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
        "fs.file.impl.disable.cache" -> "true") {
      val root = tmpDir("session-impl")
      val t = newTable(root)
      val written0 = rawBytesWritten
      (0 until 2).foreach(i => t.insert(events(100, i * 100)))
      t.optimize(maxFileSize = 1L << 30, maxFileCount = 100)
      assert(rawBytesWritten == written0)
      val names = walk(Paths.get(root, "_data")).map(_.getFileName.toString)
      assert(names.count(_.endsWith(".parquet")) == 12) // 8 inserted + 4 merged
      // RawLocalFileSystem writes no checksum sidecars
      assert(!names.exists(_.endsWith(".crc")))
      assert(t.read().count() == 200L)
    }
  }

  test("a write that throws mid-job leaves no _tmp staging and no commit") {
    val root = tmpDir("failed-write")
    val t = new IceTable(spark, root, IceTableConfig(
      partitionExpr = lit("unused"), sortOrder = Nil,
      // no shuffle: the route UDF runs inside the write tasks, after the
      // job has staged its output directory
      shuffleOnInsert = false,
      partitionFunc = Some((r: Row) =>
        if (r.getAs[Long]("event_id") == 7L) throw new IllegalStateException("boom")
        else s"u=${r.getAs[Long]("user_id")}")))
    t.insert(events(5, 100))
    val logsBefore = t.logio.currentLogFiles(root)
    // a Range source, not a local Seq: the optimizer would fold the UDF
    // over local rows before the write job ever ran
    val batch = spark.range(20).select($"id".as("event_id"),
      ($"id" % 4).as("user_id"), lit("type_0").as("event_type"))
    val err = intercept[Exception](t.insert(batch))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("boom"))))
    val tmp = Paths.get(root, "_tmp")
    assert(!Files.exists(tmp) || walk(tmp).forall(_ == tmp),
      s"staging left behind: ${walk(tmp)}")
    assert(t.logio.currentLogFiles(root) == logsBefore)
    assert(t.read().count() == 5L)
  }
}
