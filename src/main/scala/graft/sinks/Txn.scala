package graft.sinks

import java.nio.file.{FileAlreadyExistsException, Path}

import scala.collection.mutable.ArrayBuffer

/** One commit transaction — the optimistic-concurrency policy of every
  * Delta and Iceberg verb, written once. A verb publishes its artifacts,
  * then claims the next table version with the store's conditional put
  * ([[claim]]); [[record]] registers each object it published (data and
  * change files, deletion-vector shards, Avro manifests and lists, Puffin
  * and statistics files). [[attempt]] runs the verb's re-read, re-validate,
  * build and claim step, again after each lost claim while retries
  * remain; what a step records belongs to that attempt, what the verb
  * records outside any attempt belongs to the transaction.
  *
  * One reclaim rule covers every way a transaction ends:
  *
  *  1. a lost claim ([[FileAlreadyExistsException]] from the claim put)
  *     reclaims the attempt's artifacts and retries while attempts remain;
  *     the last one reclaims everything and throws the verb's conflict;
  *  2. any failure before the claim reclaims everything and rethrows the
  *     failure unchanged;
  *  3. a claim that fails any other way, or a failure after the claim
  *     returned, reclaims nothing: the commit may have landed, or did, and
  *     may reference the artifacts — vacuum and expiry own any orphans;
  *  4. a transaction that ends without claiming (a no-op verb, a batch
  *     already in the table) reclaims everything and returns its value.
  *
  * It is the reference's one commit protocol (`src/lib.rs:168-196`,
  * `iceberg_destination.rs:349-367`): a conditional put of the next
  * version, retried at most [[Txn.Retries]] times on a conflict.
  */
final class Txn private (val store: CommitStore, retries: Int) {
  import Txn._

  private val published = ArrayBuffer[Path]()
  private var state: State = Open

  /** Registers objects this transaction published or is publishing. */
  def record(paths: Path*): Unit = published ++= paths

  /** The transaction's conditional put of its next version. */
  def claim(target: Path, bytes: Array[Byte]): Unit = {
    state = Claiming
    try store.putIfAbsent(target, bytes)
    catch { case e: FileAlreadyExistsException => state = Lost; throw e }
    state = Claimed
  }

  /** Runs `step(n)` for attempt n = 0, 1, …: after a lost claim the
    * attempt's artifacts go and the step runs again, up to `retries` times.
    */
  def attempt[A](step: Int => A): A = {
    val from = published.size
    var n = 0
    while (true) {
      try return step(n)
      catch {
        case _: FileAlreadyExistsException if state == Lost && n < retries =>
          reclaim(published.drop(from).toSeq)
          published.dropRightInPlace(published.size - from)
          state = Open
          n += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def reclaim(paths: Seq[Path]): Unit =
    paths.foreach(p => scala.util.Try(store.deleteObject(p)))
}

object Txn {
  /** Conflicts a retrying verb survives (the reference's
    * OPTIMISTIC_CONCURRENCY_RETRIES, `src/lib.rs:82`).
    */
  val Retries = 3

  private sealed trait State
  private case object Open extends State
  private case object Claiming extends State
  private case object Lost extends State
  private case object Claimed extends State

  /** Runs `body` as one transaction on `store`: a claim lost with no
    * retry left surfaces as `conflict` of the store's exception.
    */
  def apply[A](store: CommitStore, retries: Int = 0,
      conflict: FileAlreadyExistsException => Throwable = e => e)(
      body: Txn => A): A = {
    val t = new Txn(store, retries)
    val value =
      try body(t)
      catch {
        case e: FileAlreadyExistsException if t.state == Lost =>
          t.reclaim(t.published.toSeq)
          throw conflict(e)
        case e: Throwable if t.state == Open =>
          // a non-local return out of `body` lands here too: it ends the
          // transaction without a claim
          t.reclaim(t.published.toSeq)
          throw e
      }
    if (t.state != Claimed) t.reclaim(t.published.toSeq)
    value
  }
}
