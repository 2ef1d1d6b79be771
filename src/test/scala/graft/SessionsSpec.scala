package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_CPUS parsing: the one value behind local[N] and the
  * shuffle-partition count. Pure — no session is started. */
class SessionsSpec extends AnyFunSuite {
  test("cpusFrom: unset takes the machine's cores, a positive integer overrides, anything else fails") {
    assert(Sessions.cpusFrom(None) == Runtime.getRuntime.availableProcessors)
    assert(Sessions.cpusFrom(Some("4")) == 4)
    for (bad <- Seq("", "0", "*"))
      intercept[IllegalArgumentException](Sessions.cpusFrom(Some(bad)))
  }
}
