package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify`'s per-lane loop: a lane that throws is named in the result
  * (the main exits 1 on it) and does not stop the lanes after it. */
class VerifySpec extends AnyFunSuite {

  test("runLanes runs every lane and returns the ones that threw, in order") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def ok(name: String): (String, () => Unit) = name -> (() => ran += name)
    def boom(name: String): (String, () => Unit) =
      name -> (() => { ran += name; throw new IllegalStateException(name) })
    val failed = Verify.runLanes(Seq(ok("a"), boom("b"), ok("c"), boom("d")))
    assert(ran.toSeq === Seq("a", "b", "c", "d"))
    assert(failed === Seq("b", "d"))
  }

  test("runLanes returns no names when every lane succeeds") {
    assert(Verify.runLanes(Seq("a" -> (() => ()), "b" -> (() => ()))).isEmpty)
  }
}
