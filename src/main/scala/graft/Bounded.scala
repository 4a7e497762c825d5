package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future,
  Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

/** The one place graft starts a thread pool: runs a function over items
  * with at most `max` calls in flight. The workflow runner uses it for a
  * wave of ready steps and a pg step's input loads; the async loader uses
  * it for a partition's in-flight batches.
  */
object Bounded {

  /** Applies `f` to every item, at most `max` at a time, and returns the
    * results in input order.
    *
    *  - Items are pulled only when a slot is free, so at most `max` are
    *    materialised at once however long the iterator.
    *  - After the first failure no further item is submitted.
    *  - Every submitted call has returned before this method returns or
    *    throws, so nothing a call uses (a connection, an output directory)
    *    is still in use when the caller moves on.
    *  - The failure rethrown is the first in input order, unwrapped from
    *    the pool's `ExecutionException`.
    *
    * Threads are started by the calling thread, one per item up to `max`,
    * so they inherit its inheritable thread-locals: the active Spark session
    * and Spark's local properties (job group, description, scheduler pool).
    */
  def map[A, B](items: IterableOnce[A], max: Int)(f: A => B): Seq[B] = {
    require(max >= 1, s"max must be >= 1, got $max")
    val it = items.iterator
    val pool = Executors.newFixedThreadPool(max)
    val slots = new Semaphore(max)
    val failed = new AtomicBoolean(false)
    val futures = ArrayBuffer.empty[Future[B]]
    try {
      while ({ slots.acquire(); !failed.get && it.hasNext }) {
        val item = it.next()
        futures += pool.submit(new Callable[B] {
          override def call(): B =
            try f(item)
            catch { case t: Throwable => failed.set(true); throw t }
            finally slots.release()
        })
      }
    } finally awaitAll(pool)
    // every call has finished, so the first failed get() is the first
    // failure in input order
    futures.toSeq.map { fut =>
      try fut.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** Waits for every submitted task, even through an interrupt, which is
    * restored afterwards.
    */
  private def awaitAll(pool: ExecutorService): Unit = {
    pool.shutdown()
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.MINUTES)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
