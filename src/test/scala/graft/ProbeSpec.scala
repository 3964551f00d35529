package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe

/** The `Probe final` census must read a plan that actually ran. */
class ProbeSpec extends AnyFunSuite {

  lazy val g = Graft(TestSpark.session, "/root/testdata/sf0.001")

  test("final: the census reads the executed adaptive plan, with its query stages") {
    val plan = Probe.finalPlan(g.run("q1_agg"))
    val text = plan.toString
    assert(text.contains("isFinalPlan=true"), text)
    assert(text.contains("ShuffleQueryStage"), text)
    val census = Probe.census(plan)
    assert(census.startsWith("final=true "), census)
    assert(!census.contains("shuffleStageRefs=0 "), census)
  }

  test("final: count() then executedPlan would read a plan that never ran") {
    val df = g.run("q1_agg")
    df.count()
    assert(!df.queryExecution.executedPlan.toString.contains("isFinalPlan=true"))
  }
}
