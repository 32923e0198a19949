package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Fixpoint

/** The shared convergence loop on plain Scala state (no Spark): round
  * counting, the zero-round exit, the loud cap, and the release order
  * every iterative operator relies on to free superseded round state.
  */
class FixpointSpec extends AnyFunSuite {

  test("converges and reports the number of rounds run") {
    // 100 → 50 → 25 → 12 → 6 → 3 → 1: six halvings.
    val (v, rounds) = Fixpoint.run[Int]("halve", 10, "unused")(100)(
      _ == 1)(_ / 2)
    assert(v === 1)
    assert(rounds === 6)
  }

  test("an init that is already done runs zero rounds and never steps") {
    var steps = 0
    val (v, rounds) = Fixpoint.run[Int]("noop", 5, "unused")(7)(
      _ => true, _ => fail("nothing was superseded")) { x =>
      steps += 1; x
    }
    assert((v, rounds, steps) === ((7, 0, 0)))
  }

  test("hitting the cap throws a message naming what and the rounds") {
    var steps = 0
    val e = intercept[IllegalArgumentException] {
      Fixpoint.run[Int]("count-up", 4, "emission would be truncated")(0)(
        _ => false) { x => steps += 1; x + 1 }
    }
    assert(steps === 4)
    assert(e.getMessage.contains("count-up"))
    assert(e.getMessage.contains("4 rounds"))
    assert(e.getMessage.contains("emission would be truncated"))
  }

  test("release: once per superseded state, after its successor, never the result") {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val (v, rounds) = Fixpoint.run[Int]("log", 10, "unused")(0)(
      _ == 3, x => log += s"release $x") { x =>
      log += s"step ${x + 1}"; x + 1
    }
    assert((v, rounds) === ((3, 3)))
    assert(log.toSeq === Seq(
      "step 1", "release 0",
      "step 2", "release 1",
      "step 3", "release 2"))
  }
}
