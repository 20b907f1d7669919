package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** `scripts/unreached.py` as a test: every `src/main` file and member is
  * reached from the program, or allowlisted there with a reason.
  */
class UnreachedSpec extends AnyFunSuite {
  test("scripts/unreached.py: no program code is reached only by specs") {
    val root = new java.io.File(sys.props("user.dir"))
    val out = new StringBuilder
    val log = (line: String) => { out.append(line).append('\n'); () }
    val exit = Process(Seq("python3", "scripts/unreached.py", root.getPath), root)
      .!(ProcessLogger(log, log))
    assert(exit == 0, s"scripts/unreached.py exited $exit:\n$out")
  }
}
