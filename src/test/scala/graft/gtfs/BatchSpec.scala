package graft.gtfs

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Batch.concurrently`, the fan-out of the batch path's independent
  * table writes: runs items at once, waits for all of them, rethrows a
  * failed item's own exception and leaves no thread behind.
  */
class BatchSpec extends AnyFunSuite {

  private def poolThreads =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-batch-"))

  test("runs the items at once on daemon threads and returns results in item order") {
    val started = new CountDownLatch(3)
    val daemon = new ConcurrentHashMap[Int, Boolean]()
    val out = Batch.concurrently(Seq(1, 2, 3)) { i =>
      daemon.put(i, Thread.currentThread().isDaemon)
      started.countDown()
      // every item waits for the others to start: a serial run would time out here
      assert(started.await(10, TimeUnit.SECONDS), s"item $i ran alone")
      i * 10
    }
    assert(out == Seq(10, 20, 30))
    assert(daemon.asScala.toMap == Map(1 -> true, 2 -> true, 3 -> true))
    assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
    assert(Batch.concurrently(Seq.empty[Int])(identity).isEmpty)
  }

  test("no more than MaxThreads items run at once") {
    val running = new AtomicInteger
    val peak = new AtomicInteger
    Batch.concurrently(1 to 12) { _ =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(20)
      running.decrementAndGet()
    }
    assert(peak.get <= Batch.MaxThreads && peak.get > 1, s"peak ${peak.get}")
  }

  test("a failed item's own exception is rethrown once every other item is done") {
    val done = new AtomicInteger
    val boom = new IllegalStateException("item 2 failed")
    val e = intercept[IllegalStateException](Batch.concurrently(1 to 5) { i =>
      if (i == 2) throw boom
      Thread.sleep(100)
      done.incrementAndGet()
    })
    assert(e eq boom)
    assert(done.get == 4, s"${done.get} of 4 other items finished before the throw")
    assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
  }
}
