package graft.ice

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Optimistic concurrency for maintenance commits: the reference demands a
  * table-wide external exclusive lock for any merge (ARCHITECTURE.md:
  * 158-165); here same-JVM commits validate their sources under a per-root
  * lock and lose cleanly (CommitConflictException + orphan cleanup) instead
  * of duplicating or resurrecting rows.
  */
class ConcurrentCommitSpec extends SparkSpec {
  import spark.implicits._

  private val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "concurrent-commit-spec"); t.setDaemon(true); t
    }))

  private def mkTable(name: String): IceTable =
    new IceTable(spark, tmpDir(name), IceTableConfig(
      partitionExpr = concat(lit("p="), (col("id") % 4).cast("string")),
      sortOrder = Seq("id")))

  private def batch(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("racing mergeAll threads never duplicate or lose rows") {
    val t = mkTable("race_merge")
    (0 until 6).foreach(i => t.insert(batch(i * 100, i * 100 + 100)))
    Thread.sleep(2)
    implicit val ec: ExecutionContext = pool
    val merges = Await.result(
      Future.traverse(1 to 3)(_ => Future {
        t.mergeAll(maxFileSize = 1_000_000_000L, maxFileCount = 100)
      }), Duration.Inf)
    assert(merges.sum > 0)
    assert(t.read().count() == 600)
    assert(t.read().select("id").distinct().count() == 600)
    val snap = t.snapshot()
    assert(snap.aliveFiles.length == 4, // fully compacted: one per partition
      s"expected 4 alive files, got ${snap.aliveFiles.length}")
    // no orphaned data files left outside the log
    val fsys = t.logio.fs(t.root)
    val onDisk = {
      val it = fsys.listFiles(new org.apache.hadoop.fs.Path(t.root, "_data"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.getName
      b.result().toSet
    }
    val logged = snap.files.map(_.path.split("/").last).toSet
    assert(onDisk.subsetOf(logged),
      s"orphaned data files: ${onDisk -- logged}")
  }

  test("merge at a stale snapshot conflicts instead of resurrecting a purge") {
    val t = mkTable("stale_merge")
    // two files in one partition (ids ≡ 0 mod 4), nothing else
    t.insert(batch(0, 4).where($"id" % 4 === 0))
    t.insert(batch(4, 8).where($"id" % 4 === 0))
    Thread.sleep(2)
    val staleTs = System.currentTimeMillis()
    Thread.sleep(2)
    // GDPR purge rewrites the partition: old files tombstoned
    t.rewritePartition("p=0", "select * from _rows where id != 0")
    val before = t.read().orderBy("id").collect().toSeq
    // a merge planned against the pre-purge snapshot must lose the race;
    // the retry (fresh snapshot) sees the single rewritten layout
    val r = t.merge(maxFileSize = 1_000_000_000L, maxFileCount = 100,
      snapshotTs = Some(staleTs))
    // retry path may legitimately merge the rewritten files; content rules:
    assert(t.read().orderBy("id").collect().toSeq == before)
    assert(t.read().where($"id" === 0).count() == 0, "purged row resurrected")
    r.foreach(res => assert(res.mergedFileMarkers.forall(_.alive)))
  }

  test("rewritePartitionWith racing optimize + cleanup re-lists no cleaned file") {
    val t = mkTable("rewrite_vs_cleanup")
    t.insert(batch(0, 40).where($"id" % 4 === 0)) // p=0: one file
    (0 until 3).foreach(i => // p=1: three files, the only mergeable partition
      t.insert(batch(i * 40, i * 40 + 40).where($"id" % 4 === 1)))
    Thread.sleep(2)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    t.rewritePartitionWith("p=0") { df =>
      // between the rewrite's snapshot and its commit: p=1 is merged and
      // its three source files are deleted from disk
      if (first.getAndSet(false)) {
        assert(t.optimize(maxFileSize = 1_000_000_000L, maxFileCount = 100) == 1)
        Thread.sleep(2)
        t.tombstoneCleanup(0L)
      }
      df.where($"id" =!= 0)
    }
    val fsys = t.logio.fs(t.root)
    val missing = t.snapshot().aliveFiles
      .filterNot(m => fsys.exists(new org.apache.hadoop.fs.Path(t.root, m.path)))
    assert(missing.isEmpty, s"alive markers without a file: ${missing.map(_.path)}")
    val expected = (0L until 120L).filter(i => (i % 4 == 0 && i != 0 && i < 40) || i % 4 == 1)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == expected)
  }

  test("removePartitions racing merge never resurrects removed rows") {
    (0 until 3).foreach { trial =>
      val t = mkTable(s"race_remove_$trial")
      (0 until 4).foreach(i => t.insert(batch(i * 100, i * 100 + 100)))
      Thread.sleep(2)
      implicit val ec: ExecutionContext = pool
      val fMerge = Future(t.mergeAll(maxFileSize = 1_000_000_000L, maxFileCount = 100))
      val fRemove = Future(t.removePartitions(parts => parts.filter(_ == "p=0")))
      Await.result(fMerge.zip(fRemove), Duration.Inf)
      // whatever the interleaving, p=0 stays gone and the rest is intact
      assert(t.read().where($"id" % 4 === 0).count() == 0,
        s"trial $trial: removed partition resurrected")
      assert(t.read().count() == 300, s"trial $trial: row loss or duplication")
      assert(t.read().select("id").distinct().count() == 300)
    }
  }

  test("cleanup racing merge keeps answers stable") {
    val t = mkTable("race_cleanup")
    (0 until 4).foreach(i => t.insert(batch(i * 100, i * 100 + 100)))
    t.optimize(maxFileSize = 1_000_000_000L, maxFileCount = 100)
    t.insert(batch(400, 500))
    Thread.sleep(2)
    implicit val ec: ExecutionContext = pool
    val fMerge = Future(t.mergeAll(maxFileSize = 1_000_000_000L, maxFileCount = 100))
    val fClean = Future(t.tombstoneCleanup(0))
    Await.result(fMerge.zip(fClean), Duration.Inf)
    assert(t.read().count() == 500)
    assert(t.read().select("id").distinct().count() == 500)
  }
}
