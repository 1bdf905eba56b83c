package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("mask hides the identifiers that change from run to run") {
    val plan =
      """(3) Project [codegen id : 1]
        |Output [2]: [id#12L, n_chars#3072L]
        |Arguments: [id#12L], MapPartitionsRDD[310] at localCheckpoint at BudgetSelect.scala:91, plan_id=45
        |Input [3]: [s#1, cast(5 as double), graft.operators.TopKAggregator@5a4700ba]
        |Literal: [[[D@6fd027a1, [Ljava.lang.String;@1b2c3d
        |Location: InMemoryFileIndex [file:/tmp/graft-ivfpq-del10046708578566609594/codes]""".stripMargin
    assert(PlanDump.mask(plan) ==
      """(3) Project [codegen id : 1]
        |Output [2]: [id#NL, n_chars#NL]
        |Arguments: [id#NL], MapPartitionsRDD[N] at localCheckpoint at BudgetSelect.scala:91, plan_id=N
        |Input [3]: [s#N, cast(5 as double), graft.operators.TopKAggregator@H]
        |Literal: [[[D@H, [Ljava.lang.String;@H
        |Location: InMemoryFileIndex [file:/tmp/graft-ivfpq-delN/codes]""".stripMargin)
  }

  test("mask keeps what is not an identifier") {
    val plan = "Filter (isnotnull(n#3) AND (n#3 > 1234567)), Statistics(sizeInBytes=8.0 B), user@example.com"
    assert(PlanDump.mask(plan) ==
      "Filter (isnotnull(n#N) AND (n#N > 1234567)), Statistics(sizeInBytes=8.0 B), user@example.com")
  }
}
