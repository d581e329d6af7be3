package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The driver-side memo behind the marker and mask-slice caches: hits skip
  * the load, and eviction runs from the least-recently-used end until both
  * the entry cap and the weight budget hold, always keeping the new entry.
  */
class SoftLruSpec extends AnyFunSuite with Matchers {

  private class Counted(lru: SoftLru[Int, Array[Int]]) {
    var loads = 0
    def get(k: Int, size: Int): Array[Int] = lru.get(k, () => { loads += 1; new Array[Int](size) })
  }

  test("a hit is served without a load; the entry cap evicts the least recently used") {
    val c = new Counted(new SoftLru[Int, Array[Int]](maxEntries = 2))
    c.get(1, 1); c.get(2, 1)
    c.get(1, 1) // hit: 1 is now the most recently used
    c.loads shouldBe 2
    c.get(3, 1) // over the cap: evicts 2, not 1
    c.get(1, 1)
    c.loads shouldBe 3
    c.get(2, 1)
    c.loads shouldBe 4
  }

  test("the weight budget evicts oldest first and keeps a new entry that fills it alone") {
    val c = new Counted(new SoftLru[Int, Array[Int]](maxEntries = 64, budget = 10,
      weight = _.length.toLong))
    c.get(1, 4); c.get(2, 4)
    c.get(3, 4) // 12 > 10: evicts 1
    c.get(2, 4); c.get(3, 4)
    c.loads shouldBe 3
    c.get(4, 10) // fills the budget alone: evicts 2 and 3, keeps 4
    c.get(4, 10)
    c.loads shouldBe 4
    c.get(3, 4)
    c.loads shouldBe 5
  }
}
