package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import scala.annotation.tailrec

/** Computes a value at most once per key for the life of the JVM: the
  * one reuse policy for values that are a pure function of their key.
  * Fixture worlds and simulations, trained models and merge tables, ANN
  * fits (codebooks and centroids are "plan literals forever after": a
  * deployment fits once and stores the matrices, so repeated runs pay
  * the fit once and measure the query path), and the per-dir frames
  * several registry entries share (the reuse a user gets from
  * `history.cache()`).
  *
  * Two entry points:
  *  - `Memo(key)(compute)` for plain data (arrays, Seqs, models,
  *    driver-side simulations). The value is valid under any session,
  *    and under none, so it is never recomputed.
  *  - `Memo(spark, key)(compute)` for values that hold a DataFrame or a
  *    path built by a session. An entry made under another
  *    `SparkSession` object is replaced: a checkpointed or persisted
  *    frame from a STOPPED SparkContext would otherwise be served to a
  *    new session and die with IllegalStateException instead of
  *    recomputing.
  *
  * Keys share one namespace, so each call site keys by a tuple whose
  * head names it, e.g. `("l42.model", dir)`.
  *
  * Each key gets its own lazy holder. A compute runs once even under
  * concurrent callers of its key, callers of other keys never wait for
  * it, and a compute may itself call Memo for another key (p16's
  * archive → history → world). A compute that throws leaves its key
  * empty, and the next call computes again.
  */
object Memo {
  private final class Cell(val owner: SparkSession,
                           private[this] var compute: () => Any) {
    // a lazy val initializes under this cell's own monitor
    lazy val value: Any = {
      val v = compute()
      compute = null // drop the closure's captures once the value exists
      v
    }
  }

  private val cells = new ConcurrentHashMap[Any, Cell]()

  /** The value for `key`, computed on the first call only. */
  def apply[A](key: Any)(compute: => A): A = get(null, key, () => compute)

  /** The value for `key` built under `spark`, computed again when the
    * entry was made under another session.
    */
  def apply[A](spark: SparkSession, key: Any)(compute: => A): A =
    get(spark, key, () => compute)

  private def get[A](owner: SparkSession, key: Any,
                     compute: () => Any): A = {
    val fresh = new Cell(owner, compute)
    @tailrec def install(): Cell = cells.putIfAbsent(key, fresh) match {
      case null                    => fresh
      case old if old.owner eq owner => old
      case old =>
        if (cells.replace(key, old, fresh)) fresh else install()
    }
    install().value.asInstanceOf[A]
  }
}
