package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PlanSpec extends AnyFunSuite {
  private val ids = (0L until 1000L).toVector

  test("a seed gives the same day split, probe and query order every time") {
    assert(Plan.daySplit(ids, 7, 8) == Plan.daySplit(ids, 7, 8))
    assert(Plan.probe(ids, 7, 10) == Plan.probe(ids, 7, 10))
    val names = Seq("q_b", "q_a", "q_c", "q_d")
    assert(Plan.queryOrder(names, 7) == Plan.queryOrder(names.reverse, 7))
  }

  test("different seeds give different splits and probes") {
    assert(Plan.daySplit(ids, 1, 8)._1 != Plan.daySplit(ids, 2, 8)._1)
    assert(Plan.probe(ids, 1, 10) != Plan.probe(ids, 2, 10))
  }

  test("the day split ingests every id exactly once: half on day 0, the rest in even days") {
    val (day0, days) = Plan.daySplit(ids, 3, 8)
    assert(day0.size == 500)
    assert(days.size == 8 && days.map(_.size).toSet == Set(62, 63))
    assert((day0 ++ days.flatten).sorted == ids)
  }

  test("the probe batch is a tenth of the ids, without repeats") {
    val p = Plan.probe(ids, 5, 10)
    assert(p.size == 100 && p.distinct == p && p.forall(ids.contains))
  }
}
