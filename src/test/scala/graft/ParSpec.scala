package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.core.Par

/** The bounded per-batch fan-out: width bound, fail-after-join,
  * property inheritance, inline width 1, no thread outliving a call. */
class ParSpec extends SparkTestBase {

  test("bounded width, first failure rethrown after every worker " +
    "joined, caller's local properties visible in each worker") {
    val sc = spark.sparkContext
    val inFlight, peak, started, finished = new AtomicInteger(0)
    val props = new ConcurrentLinkedQueue[String]()
    val threads = new ConcurrentLinkedQueue[Thread]()
    def work(i: Int): Unit = {
      started.incrementAndGet()
      val now = inFlight.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      threads.add(Thread.currentThread())
      props.add(String.valueOf(sc.getLocalProperty("graft.par.spec")))
      try {
        if (i == 4) throw new IllegalStateException("boom-4")
        Thread.sleep(30)
      } finally { inFlight.decrementAndGet(); finished.incrementAndGet() }
    }
    sc.setLocalProperty("graft.par.spec", "caller")
    try {
      val e = intercept[IllegalStateException](Par.foreach(0 until 24, 3)(work))
      assert(e.getMessage == "boom-4")
      // every worker had joined before the rethrow
      assert(inFlight.get == 0 && finished.get == started.get)
      assert(threads.asScala.forall(!_.isAlive))
      // no new item started once the failure was seen
      assert(started.get < 24, s"started ${started.get}")
      assert(peak.get <= 3 && peak.get > 1, s"peak ${peak.get}")
      assert(threads.asScala.toSet.size <= 3)
      assert(props.asScala.forall(_ == "caller"), props)
    } finally sc.setLocalProperty("graft.par.spec", null)

    // all items run, each once, when nothing fails
    val seen = new ConcurrentLinkedQueue[Int]()
    Par.foreach(0 until 24, 3)(i => { seen.add(i); () })
    assert(seen.asScala.toSeq.sorted == (0 until 24))

    // width 1 runs inline on the caller, in order
    val caller = Thread.currentThread()
    val order = new ConcurrentLinkedQueue[Int]()
    Par.foreach(0 until 5, 1) { i =>
      assert(Thread.currentThread() eq caller); order.add(i); ()
    }
    assert(order.asScala.toSeq == (0 until 5))
  }

  test("an interrupted caller (a stopping stream) interrupts its " +
    "workers, waits for them and rethrows the interrupt") {
    val workers = new ConcurrentLinkedQueue[Thread]()
    @volatile var thrown: Throwable = null
    val caller = new Thread(() => {
      try Par.foreach(0 until 6, 3) { _ =>
        workers.add(Thread.currentThread()); Thread.sleep(60000)
      } catch { case e: Throwable => thrown = e }
    })
    caller.start()
    while (workers.size < 3) Thread.sleep(10)
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    assert(workers.size == 3 && workers.asScala.forall(!_.isAlive))
  }
}
