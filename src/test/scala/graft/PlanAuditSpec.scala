package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanAuditSpec extends AnyFunSuite {

  test("canonicalIds renumbers expression and exchange ids by first appearance") {
    val plan =
      """Output [2]: [l_orderkey#412L, sum#90]
        |Arguments: hashpartitioning(l_orderkey#412L, 4), ENSURE_REQUIREMENTS, [plan_id=733]
        |Input [3]: [sum#90, l_orderkey#412L, cnt#7]
        |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]""".stripMargin
    assert(PlanAudit.canonicalIds(plan) ==
      """Output [2]: [l_orderkey#0L, sum#1]
        |Arguments: hashpartitioning(l_orderkey#0L, 4), ENSURE_REQUIREMENTS, [plan_id=0]
        |Input [3]: [sum#1, l_orderkey#0L, cnt#2]
        |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]""".stripMargin)
    // ids from a later point of the session's counters give the same text
    val shifted = """#(\d+)|plan_id=(\d+)""".r.replaceAllIn(plan, m =>
      if (m.group(1) != null) "#" + (m.group(1).toInt + 5000)
      else "plan_id=" + (m.group(2).toInt + 5000))
    assert(PlanAudit.canonicalIds(shifted) == PlanAudit.canonicalIds(plan))
    assert(PlanAudit.canonicalIds("no ids here") == "no ids here")
    assert(PlanAudit.canonicalIds(
      "InMemoryFileIndex [file:/tmp/graft_scratch/local-1792531167082/stream_q136/out]") ==
      "InMemoryFileIndex [file:/tmp/graft_scratch/local-APP/stream_q136/out]")
    assert(PlanAudit.canonicalIds(
      "Arguments: graft.operators.MultimodalPack$$$Lambda$7622/0x00007f1a919363e0@1efc3829, obj#5") ==
      "Arguments: graft.operators.MultimodalPack$$$Lambda, obj#0")
  }
}
