package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OutcomeSpec extends AnyFunSuite {
  private val good = Fingerprint(Seq("a", "b"), 3, BigDecimal(42))

  test("a matching fingerprint is ok") {
    assert(Outcome.check(Some(good))(good) == Outcome.Ok)
  }

  test("a different row count, hash or column set is wrong") {
    for (bad <- Seq(good.copy(rows = 4), good.copy(hash = BigDecimal(43)), good.copy(columns = Seq("a"))))
      assert(Outcome.check(Some(good))(bad) == Outcome.Wrong(bad))
    assert(Outcome.check(None)(good) == Outcome.Wrong(good))
  }

  test("an op that throws is recorded, not propagated") {
    val o = Outcome.check(Some(good))(throw new IllegalStateException("boom"))
    assert(o.isInstanceOf[Outcome.Threw])
  }

  test("error rate counts thrown and wrong ops over ops attempted") {
    val outcomes = Seq(
      Outcome.check(Some(good))(good),
      Outcome.check(Some(good))(throw new RuntimeException("boom")),
      Outcome.check(Some(good))(good.copy(rows = 0)),
      Outcome.check(Some(good))(good))
    assert(Outcome.errorRate(outcomes) == 0.5)
    assert(Outcome.errorRate(Nil) == 0.0)
  }

  test("expected fingerprints round-trip through their file lines") {
    val lines = Seq("# op\tcolumns\trows\thash", Expected.line("q1", good), "")
    assert(Expected.parse(lines) == Map("q1" -> good))
    assertThrows[IllegalArgumentException](Expected.parse(Seq("q1\tonly-two")))
  }
}
