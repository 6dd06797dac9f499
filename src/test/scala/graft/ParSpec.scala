package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Par

class ParSpec extends AnyFunSuite {

  test("joinAll settles every branch, rethrows the first failure and suppresses the later ones") {
    val settled = new AtomicInteger
    def fail(ms: Long, e: Exception): Int = { Thread.sleep(ms); settled.incrementAndGet(); throw e }
    val e = intercept[IllegalStateException](Par.joinAll[Int](Seq(
      () => fail(200, new IllegalStateException("first")),
      () => { settled.incrementAndGet(); 1 },
      () => fail(0, new IllegalArgumentException("second")),
      () => fail(400, new RuntimeException("third")))))
    assert(settled.get == 4, "joinAll returned before every branch settled")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second", "third"))
    assert(Par.joinAll[Int](Seq(() => 1, () => 2)) == Seq(1, 2))
  }
}
