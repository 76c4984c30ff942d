package graft.sinks

import java.io.IOException
import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** An S3-SHAPED object store spoken over real HTTP/TCP, in-process: the
  * hermetic stand-in for the object-store path the sandbox cannot reach
  * (no S3, no hadoop-aws — SURVEY §7.1). The [[Server]] enforces the exact
  * semantics the sinks' OCC protocol negotiates with S3, and the
  * [[Client]] is a [[CommitStore]], so every sink commit can be driven
  * through a genuine network round-trip with genuine server-side race
  * arbitration instead of an in-JVM shortcut:
  *
  *  - conditional create: `PUT` with `If-None-Match: *` → 200 for the one
  *    winner, 412 PreconditionFailed for everyone else (S3's native
  *    conditional put since 2024; the reference's `copy_if_not_exists` /
  *    `write_exclusive` slot — /root/reference/src/delta_destination.rs:377-389,
  *    iceberg_destination.rs:349-367);
  *  - multipart upload with bounded client concurrency and abort-on-error
  *    (`POST ?uploads` → uploadId, `PUT ?uploadId&partNumber` → ETag,
  *    `POST ?uploadId` completes, `DELETE ?uploadId` aborts and reclaims
  *    staged parts — the reference's bounded multipart uploader,
  *    delta_destination.rs:120-229);
  *  - the server's backing store is a local directory, so Spark readers
  *    list and scan committed objects exactly as they would a mounted
  *    bucket — commits travel over TCP, reads stay on the "bucket".
  *
  * Scope: a test/dev harness for protocol behavior (it IS exercised by
  * CommitStoreSpec under real thread races), not a production S3 client —
  * that remains hadoop-s3a + [[CommitStore.s3ConfFromEnv]] on a real
  * cluster.
  */
object HttpObjectStore {

  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  /** One in-process "bucket" rooted at `root`, bound to an ephemeral
    * 127.0.0.1 port. `partFailure(key, partNumber)` → true makes that part
    * upload answer 500 — the injection point for abort-on-error tests.
    */
  final class Server(root: Path,
      partFailure: (String, Int) => Boolean = (_, _) => false) extends AutoCloseable {

    private val uploads = new ConcurrentHashMap[String, String]() // uploadId → key
    private val pool = Executors.newFixedThreadPool(8)

    // Protocol-traffic counters: tests assert a sink's every byte actually
    // travelled the store (N data files → N multipart completions, M log
    // commits → M conditional puts), not a local-FS shortcut.
    val multipartCompletions = new java.util.concurrent.atomic.AtomicInteger(0)
    val conditionalPuts = new java.util.concurrent.atomic.AtomicInteger(0)
    val objectPuts = new java.util.concurrent.atomic.AtomicInteger(0)
    val objectDeletes = new java.util.concurrent.atomic.AtomicInteger(0)
    val objectGets = new java.util.concurrent.atomic.AtomicInteger(0)
    val listings = new java.util.concurrent.atomic.AtomicInteger(0)

    /** When set, list requests answer 500 — the injection point for the
      * "a transient listing error must surface, never read as an empty
      * prefix" client contract.
      */
    @volatile var failListings = false
    private val server = com.sun.net.httpserver.HttpServer
      .create(new InetSocketAddress("127.0.0.1", 0), 0)

    private def keyOf(ex: com.sun.net.httpserver.HttpExchange): String =
      ex.getRequestURI.getPath.stripPrefix("/o/")

    private def query(ex: com.sun.net.httpserver.HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getQuery).toSeq.flatMap(_.split("&").toSeq)
        .map(_.split("=", 2)).map(a => a(0) -> (if (a.length > 1) a(1) else ""))
        .toMap

    private def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: Array[Byte] = Array.emptyByteArray): Unit = {
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }

    private def partDir(uploadId: String): Path =
      root.resolve(".mp-uploads").resolve(uploadId)

    server.createContext("/o/", { ex =>
      try {
        val key = keyOf(ex)
        val q = query(ex)
        val target = root.resolve(key).normalize()
        require(target.startsWith(root), s"key escapes the bucket: $key")
        (ex.getRequestMethod, q.get("uploadId"), q.contains("uploads")) match {

          // initiate multipart → uploadId in the body
          case ("POST", None, true) =>
            val id = java.util.UUID.randomUUID().toString
            uploads.put(id, key)
            Files.createDirectories(partDir(id))
            respond(ex, 200, id.getBytes(StandardCharsets.UTF_8))

          // upload one part → ETag header (md5, like S3)
          case ("PUT", Some(id), _) =>
            val n = q("partNumber").toInt
            val bytes = ex.getRequestBody.readAllBytes()
            if (uploads.get(id) != key) respond(ex, 404)
            else if (partFailure(key, n)) respond(ex, 500)
            else {
              Files.write(partDir(id).resolve(f"part-$n%05d"), bytes)
              ex.getResponseHeaders.set("ETag", md5hex(bytes))
              respond(ex, 200)
            }

          // complete multipart: body = "partNumber etag" lines; parts must
          // all exist with matching ETags, else 400 and nothing commits
          case ("POST", Some(id), _) =>
            if (uploads.get(id) != key) respond(ex, 404)
            else {
              val manifest = new String(ex.getRequestBody.readAllBytes(),
                StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
                .map(_.split(" ", 2)).map(a => a(0).toInt -> a(1)).toSeq
              val ok = manifest.forall { case (n, etag) =>
                val p = partDir(id).resolve(f"part-$n%05d")
                Files.exists(p) && md5hex(Files.readAllBytes(p)) == etag
              }
              if (!ok || manifest.isEmpty) respond(ex, 400)
              else {
                Files.createDirectories(target.getParent)
                val tmp = Files.createTempFile(target.getParent, ".mp-", ".tmp")
                val out = Files.newOutputStream(tmp, StandardOpenOption.WRITE,
                  StandardOpenOption.TRUNCATE_EXISTING)
                try manifest.sortBy(_._1).foreach { case (n, _) =>
                  out.write(Files.readAllBytes(partDir(id).resolve(f"part-$n%05d")))
                } finally out.close()
                Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
                  StandardCopyOption.REPLACE_EXISTING)
                dropUpload(id)
                multipartCompletions.incrementAndGet()
                respond(ex, 200)
              }
            }

          // abort multipart: staged parts reclaimed, key untouched
          case ("DELETE", Some(id), _) =>
            if (uploads.get(id) == key) dropUpload(id)
            respond(ex, 204)

          // plain object delete (idempotent, like S3 DeleteObject)
          case ("DELETE", None, _) =>
            Files.deleteIfExists(target)
            objectDeletes.incrementAndGet()
            respond(ex, 204)

          // conditional / plain put of a whole object
          case ("PUT", None, _) =>
            val bytes = ex.getRequestBody.readAllBytes()
            val conditional = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
              .contains("*")
            Files.createDirectories(target.getParent)
            if (conditional) {
              // Atomic claim AND atomic visibility: stage the bytes fully,
              // then HARD-LINK into place — link(2) both fails if the
              // target exists (the winner-take-all arbiter, → 412) and
              // appears atomically with its complete content, so a
              // concurrent reader can never observe a half-written commit
              // (S3's If-None-Match:* makes the same all-or-nothing
              // promise). Neither CREATE_NEW+write (visible empty file
              // between create and write) nor ATOMIC_MOVE (POSIX rename
              // silently REPLACES an existing target) gives both halves.
              val tmp = Files.createTempFile(target.getParent, ".cput-", ".tmp")
              Files.write(tmp, bytes)
              conditionalPuts.incrementAndGet()
              try { Files.createLink(target, tmp); respond(ex, 200) }
              catch { case _: FileAlreadyExistsException => respond(ex, 412) }
              finally Files.deleteIfExists(tmp)
            } else {
              val tmp = Files.createTempFile(target.getParent, ".put-", ".tmp")
              Files.write(tmp, bytes)
              objectPuts.incrementAndGet()
              Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
              respond(ex, 200)
            }

          // recursive prefix listing (the ListObjectsV2 analogue): one
          // "key size" line per object at or under the key; `?list-meta`
          // leads each line with the mtime ("mtime size key", key LAST so
          // keys containing spaces stay parseable) — LastModified rides
          // every real ListObjectsV2 page, so the sweep verbs get it
          // without per-object HEAD calls
          case ("GET", None, _) if q.contains("list") || q.contains("list-meta") =>
            listings.incrementAndGet()
            if (failListings) respond(ex, 500)
            else {
              def walkKeys(p: Path): Seq[Path] =
                if (Files.isRegularFile(p)) Seq(p)
                else if (Files.isDirectory(p))
                  Files.list(p).iterator().asScala.toSeq
                    .filterNot(_.getFileName.toString == ".mp-uploads")
                    .flatMap(walkKeys)
                else Nil
              val withMeta = q.contains("list-meta")
              val lines = walkKeys(target).map { p =>
                if (withMeta)
                  s"${Files.getLastModifiedTime(p).toMillis} ${Files.size(p)} ${root.relativize(p)}"
                else s"${root.relativize(p)} ${Files.size(p)}"
              }.sorted.mkString("\n")
              respond(ex, 200, lines.getBytes(StandardCharsets.UTF_8))
            }

          case ("GET", None, _) =>
            if (Files.isRegularFile(target)) {
              objectGets.incrementAndGet()
              respond(ex, 200, Files.readAllBytes(target))
            } else respond(ex, 404)

          case _ => respond(ex, 405)
        }
      } catch { case e: Exception =>
        respond(ex, 500, String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8))
      }
    })

    private def dropUpload(id: String): Unit = {
      uploads.remove(id) // new part PUTs for this id now 404
      val d = partDir(id)
      // a part PUT that passed the uploads check before the removal may
      // still be writing — list+delete again until the dir goes away
      var attempts = 0
      while (Files.isDirectory(d) && attempts < 5) {
        attempts += 1
        try {
          Files.list(d).iterator().asScala.foreach(Files.deleteIfExists)
          Files.deleteIfExists(d)
        } catch {
          case _: java.nio.file.DirectoryNotEmptyException => Thread.sleep(10)
        }
      }
    }

    server.setExecutor(pool)
    server.start()

    val endpoint: URI = URI.create(s"http://127.0.0.1:${server.getAddress.getPort}")

    /** uploadIds with staged parts still on disk — empty once every upload
      * completed or aborted (the abort-on-error reclaim assertion).
      */
    def stagedUploads: Set[String] = {
      val d = root.resolve(".mp-uploads")
      if (!Files.isDirectory(d)) Set.empty
      else Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
    }

    override def close(): Unit = { server.stop(0); pool.shutdown() }
  }

  /** Data-file part sizing: S3-realistic (≥5 MiB parts there; 4 MiB here
    * keeps multi-part coverage on test-sized files) with ≤2 parts in
    * flight.
    */
  private val PartSize = 4 * 1024 * 1024
  private val PartsInFlight = 2

  /** The bounded multipart uploader — the reference's data-file upload
    * shape (delta_destination.rs:120-229), written once for the driver's
    * [[Client]] and the tasks' [[HttpTaskIO]]: ≤ `maxConcurrency` part
    * uploads in flight, each part read by `part(offset, length)` only when
    * its upload starts (so at most partSize × maxConcurrency bytes are
    * held); the first failure cancels the rest and ABORTS the upload
    * server-side (staged parts reclaimed, target never appears); success
    * completes atomically.
    */
  private def upload(http: HttpClient, uri: URI, size: Long, partSize: Int,
      maxConcurrency: Int)(part: (Long, Int) => Array[Byte]): Unit = {
    require(partSize > 0 && maxConcurrency > 0)
    val initResp = http.send(
      HttpRequest.newBuilder(URI.create(uri.toString + "?uploads"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    if (initResp.statusCode() != 200)
      throw new IOException(s"multipart initiate failed: HTTP ${initResp.statusCode()}")
    val uploadId = initResp.body()
    val nParts = math.max(1L, (size + partSize - 1) / partSize).toInt
    def put(n: Int): (Int, String) = {
      val off = (n - 1).toLong * partSize
      val b = part(off, math.min(partSize.toLong, size - off).toInt)
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"$uri?uploadId=$uploadId&partNumber=$n"))
          .PUT(HttpRequest.BodyPublishers.ofByteArray(b)).build(),
        HttpResponse.BodyHandlers.discarding())
      if (resp.statusCode() != 200)
        throw new IOException(s"part $n failed: HTTP ${resp.statusCode()}")
      n -> resp.headers().firstValue("ETag").orElseThrow()
    }
    def aborted(e: Throwable) =
      new IOException("multipart part upload failed; upload aborted", e)
    val pool =
      if (nParts == 1) None else Some(Executors.newFixedThreadPool(maxConcurrency))
    try {
      val etags = pool match {
        case None => try Seq(put(1)) catch { case e: Throwable => throw aborted(e) }
        case Some(p) =>
          val futures = (1 to nParts).map(n =>
            p.submit(new java.util.concurrent.Callable[(Int, String)] {
              override def call(): (Int, String) = put(n)
            }))
          try futures.map(_.get())
          catch { case e: Throwable =>
            futures.foreach(_.cancel(true)) // abort-on-error: stop the fleet
            throw aborted(e.getCause match { case null => e; case c => c })
          }
      }
      val manifest = etags.map { case (n, t) => s"$n $t" }.mkString("\n")
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"$uri?uploadId=$uploadId"))
          .POST(HttpRequest.BodyPublishers.ofString(manifest)).build(),
        HttpResponse.BodyHandlers.discarding())
      if (resp.statusCode() != 200)
        throw new IOException(s"multipart complete failed: HTTP ${resp.statusCode()}")
    } catch { case e: Throwable =>
      // reclaim staged parts server-side; the target never materializes
      http.send(
        HttpRequest.newBuilder(URI.create(s"$uri?uploadId=$uploadId"))
          .DELETE().build(), HttpResponse.BodyHandlers.discarding())
      throw e
    } finally pool.foreach { p =>
      p.shutdown()
      p.awaitTermination(30, TimeUnit.SECONDS)
    }
  }

  /** Task-side GET/PUT/publish over the store protocol: endpoint + bucket
    * root travel as plain strings into task closures; the HttpClient
    * rebuilds lazily per task JVM. Shard artifacts and data files carry
    * txn-unique names, so unconditional writes keep task retries
    * idempotent.
    */
  final class HttpTaskIO(endpointStr: String, rootStr: String) extends TaskIO {
    @transient private lazy val http = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    private def keyUri(absPath: String): URI = {
      val root = java.nio.file.Paths.get(rootStr)
      val key = root.relativize(
        java.nio.file.Paths.get(absPath).toAbsolutePath.normalize()).toString
      URI.create(endpointStr).resolve("/o/" + key)
    }
    override def read(absPath: String): Array[Byte] = {
      val resp = http.send(HttpRequest.newBuilder(keyUri(absPath)).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() == 404)
        throw new java.io.FileNotFoundException(absPath)
      if (resp.statusCode() != 200)
        throw new IOException(s"get of $absPath failed: HTTP ${resp.statusCode()}")
      resp.body()
    }
    override def write(absPath: String, bytes: Array[Byte]): Unit = {
      val resp = http.send(HttpRequest.newBuilder(keyUri(absPath))
        .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
        HttpResponse.BodyHandlers.discarding())
      if (resp.statusCode() != 200)
        throw new IOException(s"put of $absPath failed: HTTP ${resp.statusCode()}")
    }

    /** Multipart-uploads the staged file part by part from disk, then
      * deletes it.
      */
    override def publish(staged: String, target: String): Unit = {
      val path = java.nio.file.Paths.get(staged)
      val ch = java.nio.channels.FileChannel.open(path, StandardOpenOption.READ)
      try upload(http, keyUri(target), ch.size(), PartSize, PartsInFlight) { (off, len) =>
        val buf = java.nio.ByteBuffer.allocate(len)
        while (buf.hasRemaining && ch.read(buf, off + buf.position()) >= 0) ()
        buf.array()
      } finally ch.close()
      Files.delete(path)
    }

    /** The driver's bytes take the same uploader. */
    private[HttpObjectStore] def putMultipart(target: String, bytes: Array[Byte],
        partSize: Int, maxConcurrency: Int): Unit =
      upload(http, keyUri(target), bytes.length.toLong, partSize, maxConcurrency)(
        (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len))
  }

  /** HTTP client speaking the [[Server]]'s S3-shaped protocol. An
    * [[ObjectStore]]: `putIfAbsent` is the conditional PUT and the five
    * data-plane methods are the object requests, so every sink verb
    * (`DeltaSink.append(store = …)`, `IcebergSink.write(store = …)`) rides
    * the network path unchanged. `root` mirrors the server's root so
    * absolute target paths translate to bucket keys.
    */
  final class Client(endpoint: URI, root: Path) extends ObjectStore {
    private val http = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()

    private val io = new HttpTaskIO(endpoint.toString, root.toString)

    override def taskIO: Option[TaskIO] = Some(io)

    /** Every object the driver writes rides the same bounded multipart
      * uploader as the tasks' data files ([[HttpTaskIO.publish]]): abort
      * and server-side reclamation on any part failure.
      */
    override def putObject(target: Path, bytes: Array[Byte]): Unit =
      putMultipart(target, bytes, PartSize, PartsInFlight)

    override def deleteObject(target: Path): Unit = {
      val resp = http.send(HttpRequest.newBuilder(keyUri(target)).DELETE().build(),
        HttpResponse.BodyHandlers.discarding())
      if (resp.statusCode() != 204 && resp.statusCode() != 200)
        throw new IOException(s"delete of $target failed: HTTP ${resp.statusCode()}")
    }

    override def listPrefix(prefix: Path): Seq[Path] = {
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(keyUri(prefix).toString + "?list")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      // A missing prefix is HTTP 200 with an empty body, so any non-200 is
      // a REAL error — swallowing it as "empty listing" would silently skip
      // the stale-part reclaim DeltaSink.checkpoint depends on and let
      // orphaned parts shadow-pad the published checkpoint dir.
      if (resp.statusCode() != 200)
        throw new IOException(s"list of $prefix failed: HTTP ${resp.statusCode()}")
      resp.body().linesIterator.filter(l => l.nonEmpty && l.lastIndexOf(' ') > 0)
        .map(l => root.resolve(l.substring(0, l.lastIndexOf(' ')))).toSeq
    }

    override def listPrefixMeta(prefix: Path): Seq[(Path, Long)] = {
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(keyUri(prefix).toString + "?list-meta"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new IOException(s"list of $prefix failed: HTTP ${resp.statusCode()}")
      // "mtime size key" — key LAST, so split on the first two spaces only
      resp.body().linesIterator.filter(_.nonEmpty).map { l =>
        val parts = l.split(" ", 3)
        (root.resolve(parts(2)), parts(0).toLong)
      }.toSeq
    }

    private def keyUri(target: Path): URI = {
      val key = root.relativize(target.toAbsolutePath.normalize()).toString
      endpoint.resolve("/o/" + key)
    }

    override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
      val req = HttpRequest.newBuilder(keyUri(target))
        .header("If-None-Match", "*")
        .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.discarding())
      resp.statusCode() match {
        case 200 => ()
        case 412 => throw new FileAlreadyExistsException(target.toString)
        case c => throw new IOException(s"conditional put of $target failed: HTTP $c")
      }
    }

    def get(target: Path): Option[Array[Byte]] = {
      val resp = http.send(HttpRequest.newBuilder(keyUri(target)).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() == 200) Some(resp.body()) else None
    }

    override def readObject(target: Path): Array[Byte] =
      get(target).getOrElse(
        throw new java.io.FileNotFoundException(s"object not found: $target"))

    /** [[putObject]] with explicit part sizing: ≤ `maxConcurrency` parts
      * of `partSize` bytes in flight, abort-on-error.
      */
    def putMultipart(target: Path, bytes: Array[Byte], partSize: Int,
        maxConcurrency: Int): Unit =
      io.putMultipart(target.toString, bytes, partSize, maxConcurrency)
  }
}
