package graft.core

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** Bounded fan-out for the independent sinks of one micro-batch — the
  * Spark twin of the reference's side-output sinks, which run as
  * separate operators at the same time (`BaseLogApp.java:182-192`,
  * `DimApp`'s per-table Phoenix sinks). Each item's Spark jobs go to
  * the one shared scheduler, so overlapping them fills cores a single
  * small write leaves idle.
  *
  * Workers are fresh threads started by the CALLING thread, so they
  * inherit its SparkContext local properties (a cloning
  * `InheritableThreadLocal`): a stream's job group, which `q.stop()`
  * cancels, and `sql.streaming.queryId` reach every write. A shared
  * pool would carry whatever properties its threads were born with. */
object Par {

  /** Run `f` on every item on at most `min(width, items.size)` threads
    * and return once all of them have joined. A width of 1 runs inline
    * on the caller, in order. After the first failure no new item
    * starts; the failure is rethrown once every worker has joined, so
    * a caller's `finally` (an `unpersist`) always runs last. An
    * interrupt of the caller (a stopping stream) interrupts the
    * workers, waits for them, and rethrows. */
  def foreach[A](items: Seq[A], width: Int)(f: A => Unit): Unit = {
    val todo = items.toIndexedSeq
    val n = math.min(width, todo.size)
    if (n <= 1) todo.foreach(f)
    else {
      val next = new AtomicInteger(0)
      val failure = new AtomicReference[Throwable](null)
      val workers = Array.tabulate(n)(i => new Thread(() => {
        var k = next.getAndIncrement()
        while (k < todo.size && failure.get == null) {
          try f(todo(k)) catch {
            case e: Throwable => failure.compareAndSet(null, e)
          }
          k = next.getAndIncrement()
        }
      }, s"graft-par-$i"))
      workers.foreach(_.start())
      var interrupted = false
      workers.foreach { w =>
        while (w.isAlive)
          try w.join() catch {
            case e: InterruptedException =>
              interrupted = true
              failure.compareAndSet(null, e)
              workers.foreach(_.interrupt())
          }
      }
      if (interrupted) Thread.currentThread().interrupt()
      Option(failure.get).foreach(e => throw e)
    }
  }
}
