package graft

import org.scalatest.funsuite.AnyFunSuite

/** A child JVM that fails reports why, instead of reading as no output. */
class ChildJvmSpec extends AnyFunSuite {

  test("a child whose main class does not exist reports its non-zero exit") {
    ChildJvm.run("graft.NoSuchMainClass", Nil, Map.empty, timeoutMinutes = 2) match {
      case Left(reason) =>
        assert("exited with code [1-9][0-9]*$".r.findFirstIn(reason).isDefined, reason)
        assert(reason.contains("graft.NoSuchMainClass"), reason)
      case Right(out) => fail(s"expected a failure, got stdout: $out")
    }
  }
}
