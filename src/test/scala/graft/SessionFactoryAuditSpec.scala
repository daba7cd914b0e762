package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the one place that decides a session's confs:
  * every main and the test session build through it, so the confs the
  * oracle, the tests and the benchmark run under cannot drift apart. A
  * second builder call site would be a second conf block. */
class SessionFactoryAuditSpec extends AnyFunSuite {
  test("only GraftSession.scala calls SparkSession.builder") {
    val roots = Seq("src/main/scala", "src/test/scala").map(new File(_))
    assert(roots.forall(_.isDirectory), "audit must run from the repo root")
    val factory = new File("src/main/scala/graft/GraftSession.scala")
    assert(factory.isFile, "the session factory moved: update this audit")
    // split so this file does not match itself
    val call = "SparkSession" + ".builder("
    val callers = roots.flatMap(SourceTree.scalaFiles)
      .filter(_.getCanonicalPath != factory.getCanonicalPath)
      .filter(f => SourceTree.readAll(f).contains(call))
      .map(_.getPath).sorted
    assert(callers.isEmpty,
      s"build sessions through GraftSession, not $call in:\n" +
        callers.mkString("\n"))
  }
}
