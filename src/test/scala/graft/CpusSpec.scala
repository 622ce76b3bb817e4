package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Cpus

/** `SPARK_GRAFT_CPUS` parsing: a positive core count or a loud failure,
  * never a string passed through to `local[...]` or the bench JSON. */
class CpusSpec extends AnyFunSuite {
  test("unset falls back to the caller's default; valid values parse") {
    assert(Cpus.parse(None, 4) == 4)
    assert(Cpus.parse(Some("8"), 4) == 8)
    assert(Cpus.parse(Some(" 32 "), 4) == 32)
  }

  test("zero, negative and non-numeric values fail loudly") {
    for (junk <- Seq("0", "-2", "four", "4x", "", "2.5")) {
      val e = intercept[IllegalArgumentException](Cpus.parse(Some(junk), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), junk)
    }
  }
}
