package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SamplerSpec extends AnyFunSuite {
  private val fixed = (s: Long) => Sampler.proportional(s, Workload.FixedCostShare)

  test("the same seed gives the same sample") {
    assert(fixed(7) == fixed(7))
    assert(Sampler.runOrder(7, fixed(7)) == Sampler.runOrder(7, fixed(7)))
  }

  test("a different seed gives a different sample") {
    assert(fixed(7).toSet != fixed(8).toSet)
  }

  test("the sample is drawn from all seven registries in proportion") {
    val n = Sampler.registries.map(_._2.size).sum
    assert(n == Sampler.byName.size, "query names are unique across registries")
    val byReg = fixed(3).groupBy(q => Sampler.byName(q).registry)
    assert(byReg.keySet == Sampler.registries.map(_._1).toSet)
    Sampler.registries.foreach { case (r, qs) =>
      assert(byReg(r).size == math.max(1, math.round(qs.size * Workload.FixedCostShare).toInt))
    }
  }

  test("the workloads use the sample of the fixed sample seed; the run seed only orders it") {
    assert(Workload.fixedCost.sample == fixed(Workload.SampleSeed))
    assert(Sampler.runOrder(1, Workload.fixedCost.sample) != Sampler.runOrder(2, Workload.fixedCost.sample))
  }

  test("an unknown query name fails loudly") {
    val e = intercept[IllegalArgumentException](Sampler.resolve(Seq(fixed(1).head, "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }
}
