package graft.state

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class IndexStateSpec extends AnyFunSuite {

  test("gallop: counts prefix below bound, any offset") {
    val xs = Array(1L, 3L, 3L, 7L, 9L, 20L)
    assert(IndexState.gallop(xs, 0L) == 0)
    assert(IndexState.gallop(xs, 1L) == 0)
    assert(IndexState.gallop(xs, 2L) == 1)
    assert(IndexState.gallop(xs, 3L) == 1)
    assert(IndexState.gallop(xs, 4L) == 3)
    assert(IndexState.gallop(xs, 21L) == 6)
    assert(IndexState.gallop(xs, 9L, from = 3) == 4)
    assert(IndexState.gallop(Array.empty[Long], 5L) == 0)
  }

  test("gallop agrees with linear scan on random arrays") {
    val gen = for {
      xs <- Gen.listOf(Gen.choose(0L, 50L))
      b <- Gen.choose(-1L, 55L)
    } yield (xs.sorted.toArray, b)
    for (i <- 0 until 200) {
      val (xs, b) = gen(Gen.Parameters.default, Seed(7L + i)).get
      assert(IndexState.gallop(xs, b) == xs.count(_ < b), s"case $i")
    }
  }
}
