package graft.sinks

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one storage seam both table sinks drive: every byte a sink
  * writes, reads back or reclaims goes through these members, so a sink
  * verb has one code path whatever the table lives on.
  *
  * The commit primitive is put-if-absent of a fully-formed metadata
  * object at a version-numbered key. Whoever creates the key owns that
  * version; a loser sees [[FileAlreadyExistsException]]. Every sink commit
  * makes this put through [[Txn.claim]], whose transaction decides what
  * follows — re-read and retry at the next version, or fail the verb — and
  * which published artifacts to reclaim. This is the primitive the
  * reference negotiates with its object store: `copy_if_not_exists` /
  * conditional put for the Delta commit (its
  * `src/delta_destination.rs:377-402`) and `write_exclusive` for the
  * Iceberg metadata version (`iceberg_destination.rs:349-367`).
  * Store-specific spellings:
  *
  *  - local/HDFS-like FS: a hard link onto the target ([[CommitStore.Local]]);
  *  - S3: `PutObject` with `If-None-Match: *` ([[HttpObjectStore]] speaks
  *    this over HTTP);
  *  - GCS: upload with `x-goog-if-generation-match: 0`;
  *  - Azure ADLS: create with `If-None-Match: *`.
  *
  * Everything else the sinks write (data files, manifests, checkpoints)
  * carries unique names or replaces atomically, so the data plane
  * ([[putObject]], [[readObject]], [[deleteObject]], [[listPrefix]]) needs
  * no conditional semantics. Its implementations here are the local
  * filesystem's; an [[ObjectStore]] overrides them with the store
  * protocol. The only other difference between the two is the
  * [[stagingFor]]/[[publish]] pair: a local store lets Spark write in
  * place and publishes by rename or not at all.
  */
trait CommitStore {

  /** Atomically creates `target` with `bytes` iff no object exists there.
    *
    * @throws FileAlreadyExistsException if `target` already exists — the
    *         OCC conflict signal [[Txn]] turns into a retry or the verb's
    *         conflict.
    */
  def putIfAbsent(target: Path, bytes: Array[Byte]): Unit

  /** EXECUTOR-shippable byte I/O for this store, when it has one — what a
    * write path needs to keep data bytes out of the driver: [[TaskWrite]]
    * tasks publish the data files they staged apart from the table, and
    * [[DvPlane]] tasks pack and publish deletion-vector shards, each
    * returning only KB-scale descriptors. A store that stages apart must
    * have one. None for driver-local test doubles (in-memory maps, hooked
    * stores), which write data files in place; their deletion vectors fall
    * back to a driver-streamed publish bounded at one shard in memory.
    */
  def taskIO: Option[TaskIO] = None

  /** Writes `bytes` at `target`, replacing any object there atomically:
    * a reader sees the old bytes or the new, never a partial file (a
    * temp sibling, then an atomic rename).
    */
  def putObject(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".graft-put-", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE): Unit
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** The object's bytes; a missing object throws. */
  def readObject(target: Path): Array[Byte] = Files.readAllBytes(target)

  /** Removes the object at `target` — the abort/vacuum reclaim. Absent
    * objects are a no-op (aborts may race their own failed uploads).
    */
  def deleteObject(target: Path): Unit = Files.deleteIfExists(target): Unit

  /** Objects at or under `prefix`, empty when nothing is there — what a
    * replace-in-place needs to find the stale parts at its target.
    */
  def listPrefix(prefix: Path): Seq[Path] = listPrefixMeta(prefix).map(_._1)

  /** [[listPrefix]] with each object's last-modified millis — all an
    * age-gated sweep ([[IcebergSink.removeOrphanFiles]]) needs per object.
    */
  def listPrefixMeta(prefix: Path): Seq[(Path, Long)] =
    if (!Files.exists(prefix)) Nil
    else {
      val s = Files.walk(prefix)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.getLastModifiedTime(p).toMillis).toVector
      finally s.close()
    }

  /** Where a writer puts the file or directory of files bound for
    * `target`. A local store answers `target` itself: Spark writes in
    * place and [[publish]] has nothing to move.
    */
  def stagingFor(target: File): File = target

  /** Makes the staged file `staged` the object `target`: a rename here
    * (none when the file was written in place).
    */
  def publish(staged: Path, target: Path): Unit =
    if (staged != target) {
      Files.createDirectories(target.getParent)
      Files.move(staged, target, StandardCopyOption.REPLACE_EXISTING): Unit
    }
}

/** The narrow read/write surface a TASK needs ([[CommitStore.taskIO]]).
  * Implementations are [[Serializable]] (they travel in task closures) and
  * carry no driver-only state: [[CommitStore.LocalTaskIO]] is the
  * shared-filesystem spelling (every executor of a real cluster mounts the
  * warehouse), [[HttpObjectStore.HttpTaskIO]] re-dials the store endpoint
  * lazily per JVM. Targets are txn-unique names, so plain overwrite
  * semantics make task RETRIES idempotent. The write tasks of
  * [[TaskWrite]] publish every data file through [[publish]], and the
  * deletion-vector tasks of [[DvPlane]] their shards through [[write]]:
  * no data byte crosses the driver.
  */
trait TaskIO extends Serializable {
  def read(absPath: String): Array[Byte]
  def write(absPath: String, bytes: Array[Byte]): Unit

  /** Makes the task-local file `staged` the object `target`, consuming
    * the staged file. A store streams it in bounded parts, never holding
    * the whole file in memory.
    */
  def publish(staged: String, target: String): Unit
}

/** A [[CommitStore]] whose objects live behind a store protocol, not on a
  * local filesystem — the reference's pipeline (its
  * `src/delta_destination.rs:70-477` is one flow: multipart data-file
  * uploads + a conditional-put log commit).
  * Implementations override the five data-plane members
  * ([[putObject]], [[readObject]], [[deleteObject]], [[listPrefix]],
  * [[listPrefixMeta]]); staging is written here once: Spark writes into a
  * private temp dir, each data file is published from its write task
  * through [[taskIO]] and each metadata artifact from the driver with
  * [[putObject]], so every byte of the table — data and log — travels the
  * store protocol.
  */
trait ObjectStore extends CommitStore {

  /** A fresh temp path (not yet created, as Spark's writer wants). */
  override def stagingFor(target: File): File = {
    val d = Files.createTempDirectory("graft-stage-")
    Files.delete(d)
    d.toFile
  }

  /** Uploads the staged bytes from the driver. Only metadata-sized
    * artifacts take this path (manifests, checkpoint parts, the version
    * hint); data files stream from their write tasks through
    * [[TaskIO.publish]].
    */
  override def publish(staged: Path, target: Path): Unit =
    putObject(target, Files.readAllBytes(staged))
}

object CommitStore {

  /** Spark's `part-*.parquet` output under `dir`, partition subdirs
    * included (a `_delta_log` is not descended), in path order.
    */
  private[sinks] def partFiles(dir: File): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory && f.getName != "_delta_log")
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk)
      else if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(dir).sortBy(_.getPath)
  }

  /** Deletes a local file or directory tree, bottom-up. */
  private[sinks] def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Local-filesystem store. The put-if-absent stages the bytes in a temp
    * sibling and hard-links it into place: link(2) fails when the target
    * exists (atomic on local FS and NFSv3+) and the target appears with
    * its whole content. A reader never sees a half-written claim, and a
    * writer that dies mid-put leaves no claim behind. `CREATE_NEW` and a
    * write would give neither: the target is visible, empty, in between.
    */
  object Local extends CommitStore {
    override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
      val tmp = Files.createTempFile(target.getParent, ".graft-claim-", ".tmp")
      try {
        Files.write(tmp, bytes)
        Files.createLink(target, tmp): Unit
      } finally Files.deleteIfExists(tmp): Unit
    }
    override def taskIO: Option[TaskIO] = Some(LocalTaskIO)
  }

  /** Shared-filesystem [[TaskIO]]: plain file reads and parent-creating
    * writes, valid from any executor that mounts the warehouse path (the
    * cluster analogue of [[Local]]). Stateless, so deserializing a copy
    * per task is free.
    */
  object LocalTaskIO extends TaskIO {
    override def read(absPath: String): Array[Byte] =
      Files.readAllBytes(java.nio.file.Paths.get(absPath))
    override def write(absPath: String, bytes: Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(absPath)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, bytes): Unit
    }
    override def publish(staged: String, target: String): Unit =
      Local.publish(java.nio.file.Paths.get(staged), java.nio.file.Paths.get(target))
  }

  /** In-memory store with an optional pre-put hook, for OCC protocol tests:
    * the hook runs before each put attempt and may itself commit (a
    * simulated concurrent writer landing in the validate→commit window) or
    * throw. Keys are the string form of the path.
    */
  final class InMemory(hook: (Path, Int) => Unit = (_, _) => ()) extends CommitStore {
    private val objects = new ConcurrentHashMap[String, Array[Byte]]()
    private val attempts = new java.util.concurrent.atomic.AtomicInteger(0)

    override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
      hook(target, attempts.getAndIncrement())
      if (objects.putIfAbsent(target.toString, bytes) != null)
        throw new FileAlreadyExistsException(target.toString)
    }

    def get(target: Path): Option[Array[Byte]] = Option(objects.get(target.toString))
    def keys: Set[String] = {
      import scala.jdk.CollectionConverters._
      objects.keySet().asScala.toSet
    }
    /** Direct insert bypassing the hook — the "concurrent writer". */
    def forcePut(target: Path, bytes: Array[Byte]): Boolean =
      objects.putIfAbsent(target.toString, bytes) == null
  }

  /** Local-FS store whose pre-put hook lets a test interleave a competing
    * writer between a sink's state validation and its commit attempt — the
    * exact window the OCC loops must re-validate across. `hook(target,
    * attemptIndex)` runs before each delegated put.
    */
  final class HookedLocal(hook: (Path, Int) => Unit) extends CommitStore {
    private val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
      hook(target, attempts.getAndIncrement())
      Local.putIfAbsent(target, bytes)
    }
  }

  /** Eventual-consistency simulator: the conditional put itself stays
    * STRONGLY consistent (two writers at one key — exactly one wins, like
    * S3 `PutObject` + `If-None-Match: *`), but the accepted object only
    * MATERIALIZES at `target` — where readers list and replay — after
    * `visibilityDelayMs`, via write-to-temp + atomic rename on a background
    * thread. This is the store shape that breaks naive OCC loops: a writer
    * whose listing lags the commit frontier re-claims the same version
    * forever unless it treats its own AlreadyExists as proof the version
    * exists (DeltaSink.append's `minNext` floor). A pre-existing object at
    * `target` (e.g. a table created through [[Local]]) conflicts as usual.
    *
    * In-process claims registry = the store's authoritative key space; one
    * instance therefore models one bucket and must be shared by every
    * concurrent writer in the test.
    */
  final class DelayedVisibilityLocal(visibilityDelayMs: Long) extends CommitStore with AutoCloseable {
    private val claims = ConcurrentHashMap.newKeySet[String]()
    private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    // First background materialization failure, rethrown from awaitVisible/
    // close: without this an accepted commit could stay permanently invisible
    // with no signal and replay would silently see a truncated version chain
    // (ADVICE r5).
    private val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    private val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-delayed-visibility"); t.setDaemon(true); t })

    override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit = {
      if (Files.exists(target) || !claims.add(target.toString))
        throw new FileAlreadyExistsException(target.toString)
      inFlight.incrementAndGet()
      exec.schedule(new Runnable {
        override def run(): Unit = {
          try {
            val tmp = Files.createTempFile(target.getParent, ".graft-staged-", ".tmp")
            Files.write(tmp, bytes)
            Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          } catch {
            case t: Throwable => firstFailure.compareAndSet(null, t); throw t
          } finally inFlight.decrementAndGet()
        }
      }, visibilityDelayMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }

    /** Blocks until every accepted commit has materialized — test barrier
      * before reading the table back. Rethrows the first background
      * materialization failure, if any.
      */
    def awaitVisible(timeoutMs: Long = 30000): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (inFlight.get() > 0 && System.nanoTime() < deadline) Thread.sleep(5)
      Option(firstFailure.get()).foreach(t =>
        throw new IllegalStateException("staged commit failed to materialize", t))
      require(inFlight.get() == 0, "staged commits still invisible after timeout")
    }

    override def close(): Unit = { awaitVisible(); exec.shutdown() }
  }

  /** Maps the ambient object-store credential environment to the Hadoop/S3A
    * configuration Spark's S3 committers consume — the documented equivalent
    * of the reference's env pickup (`delta_destination.rs:232-251` reads
    * AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY / AWS_SESSION_TOKEN /
    * AWS_ENDPOINT / AWS_REGION / AWS_ALLOW_HTTP into its object-store
    * client). Pure translation, no IO: callers apply the result with
    * `spark.conf.set` / `--conf spark.hadoop.*`. hadoop-aws is not on this
    * container's classpath, so this mapping is the contract, not a live
    * path — which is also why it stays a plain function.
    */
  def s3ConfFromEnv(env: Map[String, String]): Map[String, String] = {
    // ordering = precedence (later wins in toMap): the specific/override
    // variables (AWS_REGION, AWS_ENDPOINT_URL) beat their ambient
    // fallbacks (AWS_DEFAULT_REGION, AWS_ENDPOINT), matching AWS SDK
    // resolution order
    val direct = Seq(
      "AWS_ACCESS_KEY_ID" -> "fs.s3a.access.key",
      "AWS_SECRET_ACCESS_KEY" -> "fs.s3a.secret.key",
      "AWS_SESSION_TOKEN" -> "fs.s3a.session.token",
      "AWS_DEFAULT_REGION" -> "fs.s3a.endpoint.region",
      "AWS_REGION" -> "fs.s3a.endpoint.region",
      "AWS_ENDPOINT" -> "fs.s3a.endpoint",
      "AWS_ENDPOINT_URL" -> "fs.s3a.endpoint")
    val mapped = direct.flatMap { case (e, k) => env.get(e).map(k -> _) }.toMap
    // AWS_ALLOW_HTTP=true (MinIO-style endpoints) → plain-HTTP connections
    val ssl = env.get("AWS_ALLOW_HTTP").filter(_.equalsIgnoreCase("true"))
      .map(_ => "fs.s3a.connection.ssl.enabled" -> "false")
    // path-style access is what non-AWS endpoints (MinIO) need
    val pathStyle = env.get("AWS_ENDPOINT").orElse(env.get("AWS_ENDPOINT_URL"))
      .map(_ => "fs.s3a.path.style.access" -> "true")
    mapped ++ ssl ++ pathStyle
  }

  /** GOOGLE_* environment → the Hadoop GCS-connector configuration, the
    * `gs://` leg of the reference's per-scheme env pickup
    * (`delta_destination.rs:244-250` forwards every GOOGLE_* var to its
    * GCS client). Credential file pointers (either the gcloud-standard
    * GOOGLE_APPLICATION_CREDENTIALS or the object_store-style
    * GOOGLE_SERVICE_ACCOUNT[_PATH]) select keyfile auth explicitly so the
    * connector does not fall through to metadata-server auth on a VM.
    */
  def gcsConfFromEnv(env: Map[String, String]): Map[String, String] = {
    val keyfile = env.get("GOOGLE_APPLICATION_CREDENTIALS")
      .orElse(env.get("GOOGLE_SERVICE_ACCOUNT"))
      .orElse(env.get("GOOGLE_SERVICE_ACCOUNT_PATH"))
      .map("fs.gs.auth.service.account.json.keyfile" -> _)
    val authType = keyfile.map(_ =>
      "fs.gs.auth.type" -> "SERVICE_ACCOUNT_JSON_KEYFILE")
    val project = env.get("GOOGLE_CLOUD_PROJECT")
      .orElse(env.get("GOOGLE_PROJECT_ID"))
      .map("fs.gs.project.id" -> _)
    (keyfile ++ authType ++ project).toMap
  }

  /** AZURE_* environment → hadoop-azure (ABFS) configuration, the
    * `az`/`abfs(s)` leg of the reference's per-scheme env pickup
    * (`delta_destination.rs:244-250`). Account-scoped keys need the
    * account name to form their suffix, so without
    * AZURE_STORAGE_ACCOUNT_NAME only global settings can map. Precedence
    * mirrors the Azure SDK: an explicit account key beats SAS beats OAuth
    * client credentials.
    */
  def azureConfFromEnv(env: Map[String, String]): Map[String, String] = {
    val account = env.get("AZURE_STORAGE_ACCOUNT_NAME")
    def scoped(k: String) = account.map(a => s"$k.$a.dfs.core.windows.net")
    val key = for {
      conf <- scoped("fs.azure.account.key")
      v <- env.get("AZURE_STORAGE_ACCOUNT_KEY")
    } yield Map(conf -> v,
      scoped("fs.azure.account.auth.type").get -> "SharedKey")
    val sas = for {
      conf <- scoped("fs.azure.sas.fixed.token")
      v <- env.get("AZURE_STORAGE_SAS_TOKEN").orElse(env.get("AZURE_STORAGE_SAS_KEY"))
    } yield Map(conf -> v,
      scoped("fs.azure.account.auth.type").get -> "SAS",
      scoped("fs.azure.sas.token.provider.type").get ->
        "org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider")
    val oauth = for {
      id <- env.get("AZURE_STORAGE_CLIENT_ID")
      secret <- env.get("AZURE_STORAGE_CLIENT_SECRET")
      tenant <- env.get("AZURE_STORAGE_TENANT_ID")
      if account.isDefined
    } yield Map(
      scoped("fs.azure.account.auth.type").get -> "OAuth",
      scoped("fs.azure.account.oauth.provider.type").get ->
        "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider",
      scoped("fs.azure.account.oauth2.client.id").get -> id,
      scoped("fs.azure.account.oauth2.client.secret").get -> secret,
      scoped("fs.azure.account.oauth2.client.endpoint").get ->
        s"https://login.microsoftonline.com/$tenant/oauth2/token")
    key.orElse(sas).orElse(oauth).getOrElse(Map.empty)
  }

  /** Per-scheme dispatch, the shape of the reference's
    * `object_store_keys_from_env(url_scheme)`
    * (`delta_destination.rs:244-250`): s3/s3a → AWS_*, gs → GOOGLE_*,
    * az/adl/azure/abfs/abfss → AZURE_*, anything else (file, hdfs) maps
    * nothing.
    */
  def confFromEnv(urlScheme: String, env: Map[String, String]): Map[String, String] =
    urlScheme match {
      case "s3" | "s3a" => s3ConfFromEnv(env)
      case "gs" => gcsConfFromEnv(env)
      case "az" | "adl" | "azure" | "abfs" | "abfss" => azureConfFromEnv(env)
      case _ => Map.empty
    }
}
