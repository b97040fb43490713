package graft

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The harness pieces Bench and Verify share: the SPARK_GRAFT_CONF parser
  * and the child-process runner behind the child-JVM retime. */
class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF entries split on ';' and the first '='") {
    assert(SparkEntry.confEntries("a=b;c=d=e") == Seq("a" -> "b", "c" -> "d=e"))
    assert(SparkEntry.confEntries(" a=b ; ;") == Seq("a" -> "b"))
    assert(SparkEntry.confEntries("").isEmpty)
  }

  test("a SPARK_GRAFT_CONF entry without '=' fails and names the entry") {
    val e = intercept[IllegalArgumentException](SparkEntry.confEntries("a=b;oops"))
    assert(e.getMessage.contains("oops"))
    intercept[IllegalArgumentException](SparkEntry.confEntries("=b"))
  }

  test("runChild kills a hung child at the timeout") {
    val t0 = System.nanoTime()
    val got = Bench.runChild(Seq("sleep", "30"), Map.empty, 1.second)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.left.exists(_.startsWith("timed out")), got)
    assert(secs < 10, s"runChild returned after $secs s")
  }

  test("runChild returns the stdout lines of a clean exit, with env added") {
    assert(Bench.runChild(Seq("sh", "-c", "echo one; echo \"$GRAFT_X\""),
      Map("GRAFT_X" -> "two"), 10.seconds) == Right(Seq("one", "two")))
  }

  test("runChild reports a non-zero exit and a failed spawn") {
    assert(Bench.runChild(Seq("sh", "-c", "echo partial; exit 3"), Map.empty,
      10.seconds) == Left("exit code 3"))
    assert(Bench.runChild(Seq("/nonexistent/graft-child"), Map.empty, 10.seconds)
      .left.exists(_.startsWith("spawn failed")))
  }
}
