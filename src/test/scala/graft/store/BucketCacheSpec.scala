package graft.store

import java.util.concurrent.{Callable, CountDownLatch, ExecutorService,
  Executors, Future, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

/** The bucket cache shared by the serving cache and the three search
  * tiers, driven with gated loaders: load coalescing, hits that never
  * wait on another key's load, the LRU bound, and invalidation.
  */
class BucketCacheSpec extends AnyFunSuite {

  private def withPool[T](n: Int)(body: ExecutorService => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(pool) finally pool.shutdownNow(): Unit
  }

  private def async[T](pool: ExecutorService)(f: => T): Future[T] =
    pool.submit(new Callable[T] { def call(): T = f })

  private def await(latch: CountDownLatch): Boolean =
    latch.await(30, TimeUnit.SECONDS)

  test("concurrent misses on one key load once") {
    val cache = new BucketCache[String](4)
    val loads = new AtomicInteger(0)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def gatedLoad(): String = {
      loads.incrementAndGet()
      started.countDown()
      assert(await(release))
      "v"
    }
    withPool(2) { pool =>
      val first = async(pool)(cache.get(7)(gatedLoad()))
      assert(await(started), "the first load must have started")
      val second = new AtomicReference[Thread]
      val f2 = async(pool) {
        second.set(Thread.currentThread())
        cache.get(7)(gatedLoad())
      }
      // hold the first load until the second miss waits on the key's
      // latch: BLOCKED is a thread waiting to enter a monitor
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while ((second.get == null ||
          second.get.getState != Thread.State.BLOCKED) &&
          System.nanoTime() < deadline) Thread.sleep(5)
      assert(second.get.getState == Thread.State.BLOCKED,
        "the second miss must wait on the key's load latch")
      release.countDown()
      assert(first.get(30, TimeUnit.SECONDS) == "v")
      assert(f2.get(30, TimeUnit.SECONDS) == "v")
    }
    assert(loads.get() == 1, "the second miss must reuse the first's load")
    assert(cache.stats == ((1L, 1L)), "the coalesced miss counts as a hit")
  }

  test("a slow load on one key never blocks a hit on another key") {
    val cache = new BucketCache[String](4)
    assert(cache.get(1)("a") == "a")
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool(3) { pool =>
      val slow = async(pool)(cache.get(2) {
        started.countDown()
        assert(await(release))
        "b"
      })
      try {
        assert(await(started), "the slow load must have started")
        val hit = async(pool)(cache.get(1)(fail("key 1 is resident")))
        assert(hit.get(5, TimeUnit.SECONDS) == "a",
          "a hit must not wait for another key's load")
        val otherMiss = async(pool)(cache.get(3)("c"))
        assert(otherMiss.get(5, TimeUnit.SECONDS) == "c",
          "a miss on a third key must not wait either")
        assert(!slow.isDone, "the gated load must still be in flight")
      } finally release.countDown()
      assert(slow.get(30, TimeUnit.SECONDS) == "b")
    }
  }

  test("the LRU bound holds, evicting in access order") {
    val cache = new BucketCache[Int](2)
    (0 until 5).foreach(k => assert(cache.get(k)(k) == k))
    assert(cache.size == 2)
    assert(cache.get(3)(fail("key 3 is resident")) == 3) // 3 now newest
    assert(cache.get(5)(5) == 5) // evicts 4, the least recently used
    assert(cache.size == 2)
    assert(cache.get(3)(fail("key 3 is resident")) == 3)
    var reloaded = false
    assert(cache.get(4) { reloaded = true; 4 } == 4)
    assert(reloaded, "an evicted key must reload")
    assert(cache.size == 2)
    assert(cache.stats == ((2L, 7L)))
  }

  test("invalidate empties the cache; a value failing `valid` reloads") {
    val cache = new BucketCache[String](4)
    cache.get(1)("a"): Unit
    cache.get(2)("b"): Unit
    cache.invalidate()
    assert(cache.size == 0)
    assert(cache.get(1)("a2") == "a2", "invalidate must force a reload")
    assert(cache.get(1, _ == "a2")(fail("a2 is resident")) == "a2")
    assert(cache.get(1, _ == "a3")("a3") == "a3",
      "a resident value the caller rejects must reload")
    assert(cache.stats == ((1L, 4L)))
  }
}
