package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's failure contract: a query that throws is reported and the
  * rest still dump (so one bad query cannot hide the others' results),
  * and the failed names come back so `main` exits non-zero instead of
  * logging the failure and passing.
  */
class VerifySpec extends AnyFunSuite {

  test("a failed query is returned after the remaining queries ran") {
    var ran = Vector.empty[String]
    val failed = Verify.dumpAll(Seq(
      "a" -> (() => ran :+= "a"),
      "b" -> (() => throw new IllegalStateException("forced failure")),
      "c" -> (() => ran :+= "c")))
    assert(failed == Seq("b"))
    assert(ran == Vector("a", "c"))
  }

  test("no failure, nothing returned") {
    assert(Verify.dumpAll(Seq("a" -> (() => ()))).isEmpty)
  }
}
