package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A read-only Hadoop `FileSystem` that speaks ONLY the S3 REST protocol
  * — paged `ListObjectsV2` (with `delimiter`), `HEAD`, and ranged `GET`
  * over plain HTTP — registered under the `s3g://` scheme.
  *
  * This is the proxy's ([[IceS3Proxy]]) proof-of-contract from the OTHER
  * side: with `fs.s3g.impl` set, `spark.read.parquet("s3g://bucket/…")`
  * makes Spark itself the foreign engine — its `InMemoryFileIndex` walks
  * the bucket through delimiter listings, and its parquet reader's
  * footer-first seeks become ranged GETs served live off the endpoint.
  * No mirror, no graft log code on the read path: every byte the query
  * consumes crossed the S3 wire protocol. (The container ships no
  * hadoop-aws, so this stands in for s3a:// exactly where s3a would be
  * pointed at the proxy with an endpoint override.)
  *
  * Config:
  *  - `fs.s3g.endpoint`  (required) — e.g. `http://localhost:8181`
  *  - `fs.s3g.list.max.keys` — LIST page size (default 1000; tests set 2
  *    to force real paging)
  *  - `fs.s3g.snapshot.ts` — optional epoch-ms: every LIST carries
  *    `?ts=`, so the whole read session sees the bucket AS OF that time
  *    (snapshot time travel through a foreign protocol).
  * Set `fs.s3g.impl.disable.cache=true` when endpoints change between
  * sessions (Hadoop caches FileSystem instances per scheme+authority).
  *
  * Write-path methods throw: the proxy is an MVCC read surface; mutation
  * goes through the table API/SQL, never the bucket illusion.
  */
final class GraftS3FileSystem extends FileSystem {

  private var fsUri: URI = _
  private var endpoint: String = _
  private var pageSize: Int = 1000
  private var snapshotTs: Option[Long] = None
  private var workDir: Path = _
  private def http = GraftS3FileSystem.http

  /** Every request this client makes (LIST/HEAD/ranged GET) is idempotent,
    * so connection-level failures retry with short backoff — the same
    * contract every production S3 client ships (reference icedb/s3.py
    * retry config). The concrete failure this absorbs at scale: dozens of
    * task threads keep hundreds of pooled keep-alive sockets open, the
    * server reaps idle ones past its cap, and a client reusing a
    * just-reaped socket sees "EOF reached while reading" — transient by
    * construction, a fresh connection succeeds. */
  private def send[T](req: HttpRequest,
      handler: HttpResponse.BodyHandler[T]): HttpResponse[T] = {
    var attempt = 0
    while (true) {
      try return http.send(req, handler)
      catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 4) throw e
          Thread.sleep(10L * attempt)
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw new java.io.IOException(e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    // per-bucket endpoint override first (two live proxies in one session
    // — e.g. a table endpoint and a chaos-mode endpoint — must not fight
    // over one global key), then the session-wide default
    endpoint = Option(conf.get(s"fs.s3g.endpoint.${name.getAuthority}"))
      .orElse(Option(conf.get("fs.s3g.endpoint"))).getOrElse(
        throw new IllegalArgumentException("fs.s3g.endpoint is required"))
      .stripSuffix("/")
    pageSize = conf.getInt("fs.s3g.list.max.keys", 1000)
    snapshotTs = Option(conf.get("fs.s3g.snapshot.ts")).flatMap(_.toLongOption)
    workDir = new Path(fsUri.toString + "/")
  }

  override def getScheme: String = "s3g"
  override def getUri: URI = fsUri

  private def bucket: String = fsUri.getAuthority

  /** Root-relative object key of `f` (empty for the bucket root). */
  private def keyOf(f: Path): String = {
    val p = f.toUri.getPath
    p.stripPrefix("/")
  }

  private def url(key: String, query: String = ""): URI =
    URI.create(s"$endpoint/$bucket" +
      (if (key.isEmpty) "" else "/" + new URI(null, null, key, null).getRawPath) +
      (if (query.isEmpty) "" else s"?$query"))

  // ----------------------------------------------------------- metadata

  private def headObject(key: String): Option[Long] = {
    val r = send(
      HttpRequest.newBuilder(url(key))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
    if (r.statusCode() == 200) {
      val cl = r.headers().firstValue("Content-Length")
      Some(if (cl.isPresent) cl.get.toLong else 0L)
    } else None
  }

  private def listPage(prefix: String, token: String, delimiter: Option[String])
      : (Seq[(String, Long)], Seq[String], Option[String]) = {
    val q = new StringBuilder(s"list-type=2&max-keys=$pageSize")
    if (prefix.nonEmpty)
      q ++= s"&prefix=${java.net.URLEncoder.encode(prefix, "UTF-8")}"
    if (token.nonEmpty)
      q ++= s"&continuation-token=${java.net.URLEncoder.encode(token, "UTF-8")}"
    delimiter.foreach(d =>
      q ++= s"&delimiter=${java.net.URLEncoder.encode(d, "UTF-8")}")
    snapshotTs.foreach(ts => q ++= s"&ts=$ts")
    val r = send(
      HttpRequest.newBuilder(url("", q.toString)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() != 200)
      throw new java.io.IOException(s"LIST $prefix -> ${r.statusCode()}")
    val xml = r.body()
    val keys = "<Contents><Key>([^<]+)</Key>.*?<Size>(\\d+)</Size>".r
      .findAllMatchIn(xml).map(m => (m.group(1), m.group(2).toLong)).toSeq
    val prefixes = "<CommonPrefixes><Prefix>([^<]+)</Prefix>".r
      .findAllMatchIn(xml).map(_.group(1)).toSeq
    val next = "<NextContinuationToken>([^<]+)</NextContinuationToken>".r
      .findFirstMatchIn(xml).map(_.group(1))
    (keys, prefixes, next)
  }

  private def listAll(prefix: String, delimiter: Option[String])
      : (Seq[(String, Long)], Seq[String]) = {
    var keys = Vector.empty[(String, Long)]
    var prefixes = Vector.empty[String]
    var token = ""
    var done = false
    while (!done) {
      val (k, p, next) = listPage(prefix, token, delimiter)
      keys ++= k; prefixes ++= p
      next match {
        case Some(t) => token = t
        case None => done = true
      }
    }
    (keys, prefixes)
  }

  private def fileStatus(key: String, len: Long): FileStatus =
    new FileStatus(len, false, 1, graft.ice.IceTable.BlockBytes, 0L,
      new Path(s"$fsUri/$key"))

  private def dirStatus(key: String): FileStatus =
    new FileStatus(0, true, 1, 0, 0L,
      new Path(s"$fsUri/${key.stripSuffix("/")}"))

  override def getFileStatus(f: Path): FileStatus = {
    val key = keyOf(f)
    if (key.isEmpty) return dirStatus("")
    headObject(key) match {
      case Some(len) => fileStatus(key, len)
      case None =>
        // not an object: a "directory" exists iff any key lives under it
        val (keys, prefixes) = {
          val (k, p, _) = listPage(s"$key/", "", Some("/"))
          (k, p)
        }
        if (keys.nonEmpty || prefixes.nonEmpty) dirStatus(key)
        else throw new java.io.FileNotFoundException(f.toString)
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val key = keyOf(f)
    if (key.nonEmpty && headObject(key).isDefined)
      return Array(getFileStatus(f))
    val prefix = if (key.isEmpty) "" else s"$key/"
    val (keys, prefixes) = listAll(prefix, Some("/"))
    if (key.nonEmpty && keys.isEmpty && prefixes.isEmpty)
      throw new java.io.FileNotFoundException(f.toString)
    (keys.map { case (k, len) => fileStatus(k, len) } ++
      prefixes.map(dirStatus)).toArray
  }

  // --------------------------------------------------------------- read

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val key = keyOf(f)
    val len = headObject(key).getOrElse(
      throw new java.io.FileNotFoundException(f.toString))
    new FSDataInputStream(new S3gInputStream(key, len))
  }

  /** Seekable/positioned stream over ranged GETs. Each read issues one
    * ranged request for exactly the caller's window — parquet readers
    * ask in footer-sized then column-chunk-sized units, so request count
    * stays proportional to the chunks actually decoded (the same I/O
    * shape s3a produces). A one-slot buffer absorbs the byte-at-a-time
    * calls Hadoop utility paths occasionally make. */
  private final class S3gInputStream(key: String, len: Long)
      extends FSInputStream {
    private var pos = 0L
    private var buf: Array[Byte] = Array.emptyByteArray
    private var bufStart = 0L

    private def fetch(start: Long, n: Long): Array[Byte] = {
      val end = math.min(start + n, len) - 1
      if (end < start) return Array.emptyByteArray
      val r = send(
        HttpRequest.newBuilder(url(key))
          .header("Range", s"bytes=$start-$end").GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if (r.statusCode() != 206 && r.statusCode() != 200)
        throw new java.io.IOException(s"GET $key [$start-$end] -> ${r.statusCode()}")
      r.body()
    }

    override def seek(p: Long): Unit = {
      if (p < 0 || p > len) throw new java.io.EOFException(s"seek($p) len=$len")
      pos = p
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      if (pos >= len) return -1
      if (pos < bufStart || pos >= bufStart + buf.length) {
        bufStart = pos
        buf = fetch(pos, math.min(64L * 1024, len - pos))
      }
      val b = buf((pos - bufStart).toInt) & 0xff
      pos += 1
      b
    }

    override def read(b: Array[Byte], off: Int, length: Int): Int = {
      if (pos >= len) return -1
      val body = fetch(pos, length.toLong)
      System.arraycopy(body, 0, b, off, body.length)
      pos += body.length
      body.length
    }

    override def read(position: Long, b: Array[Byte], off: Int, length: Int): Int = {
      if (position >= len) return -1
      val body = fetch(position, length.toLong)
      System.arraycopy(body, 0, b, off, body.length)
      body.length
    }

    override def close(): Unit = { buf = Array.emptyByteArray }
  }

  // -------------------------------------------------- read-only surface

  private def ro = new UnsupportedOperationException(
    "s3g:// is a read-only MVCC snapshot view; write through the table API/SQL")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = throw ro
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = throw ro
  override def rename(src: Path, dst: Path): Boolean = throw ro
  override def delete(f: Path, recursive: Boolean): Boolean = throw ro
  override def mkdirs(f: Path, permission: FsPermission): Boolean = throw ro
  override def setWorkingDirectory(d: Path): Unit = { workDir = d }
  override def getWorkingDirectory: Path = workDir
}

object GraftS3FileSystem {
  /** One process-wide client: with `fs.s3g.impl.disable.cache=true` every
    * task-side `Path.getFileSystem` builds a fresh FileSystem instance —
    * a per-instance HttpClient would multiply connection pools by task
    * count and flood the endpoint with idle keep-alive sockets. */
  private val http: HttpClient = HttpClient.newHttpClient()
}
