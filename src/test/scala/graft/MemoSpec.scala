package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session memo's contract: LRU eviction at [[Memo.Capacity]],
  * other-application eviction, clear, at-most-once builds and
  * unmemoized failures. Keys use made-up application ids, so no Spark
  * session is needed; a later miss of the real application drops them. */
class MemoSpec extends AnyFunSuite with Matchers {

  test("Memo: LRU capacity eviction, other-application eviction, clear") {
    val app = "memo-spec-lru"
    val cap = Memo.Capacity
    var builds = 0
    def get(k: Int): Int = Memo.get(app, "t", Seq(k)) { builds += 1; k * 10 }
    (1 to cap).foreach(k => get(k) shouldBe k * 10)
    builds shouldBe cap
    get(1) shouldBe 10 // hit
    builds shouldBe cap
    get(cap + 1) shouldBe (cap + 1) * 10 // evicts 2 (LRU — 1 was just touched)
    builds shouldBe cap + 1
    get(1) shouldBe 10 // still resident
    builds shouldBe cap + 1
    get(2) shouldBe 20 // was evicted → rebuilds
    builds shouldBe cap + 2
    // a miss of another application drops every entry of this one
    Memo.get("memo-spec-other", "t", Nil)(0)
    get(1)
    builds shouldBe cap + 3
    Memo.clear()
    get(1)
    builds shouldBe cap + 4
  }

  test("Memo: prepared plans have their own LRU and never evict an artifact") {
    val app = "memo-spec-plans"
    var builds = 0
    def artifact(k: Int): Int = Memo.get(app, "t", Seq(k)) { builds += 1; k }
    (1 to Memo.Capacity).foreach(artifact)
    (1 to 2 * Memo.Capacity).foreach(k => Memo.get(app, Memo.Prepared, Seq(k))(k))
    (1 to Memo.Capacity).foreach(artifact)
    builds shouldBe Memo.Capacity
    Memo.snapshot.peakPlans shouldBe Memo.Capacity
  }

  test("Memo: hits, misses, builds and build time are counted per kind") {
    val kind = "memo-spec-counted"
    Memo.snapshot.kinds.get(kind) shouldBe None
    Memo.get("memo-spec-counts", kind, Seq(1)) { Thread.sleep(20); 1 }
    Memo.get("memo-spec-counts", kind, Seq(1))(fail("a hit must not build"))
    Memo.get("memo-spec-counts", kind, Seq(2))(2)
    val c = Memo.snapshot.kinds(kind)
    (c.hits, c.misses, c.builds) shouldBe ((1L, 2L, 2L))
    c.buildMs should be >= 20L
  }

  test("Memo: a build that throws is not memoized; the next caller rebuilds") {
    var builds = 0
    def get(fail: Boolean): Int = Memo.get("memo-spec-throw", "t", Nil) {
      builds += 1
      if (fail) throw new IllegalStateException("build failed")
      7
    }
    an[IllegalStateException] should be thrownBy get(fail = true)
    get(fail = false) shouldBe 7
    builds shouldBe 2
    get(fail = true) shouldBe 7 // memoized now: the build does not run
    builds shouldBe 2
  }

  test("Memo: callers racing on one key run a slow build once") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = (1 to 4).map(_ => Future {
        start.await()
        Memo.get("memo-spec-race", "slow", Nil) {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      })
      start.countDown()
      val got = calls.map(Await.result(_, 30.seconds))
      builds.get shouldBe 1
      got.distinct should have size 1
    } finally pool.shutdown()
  }
}
