package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  test("every workload op has an expected fingerprint, and nothing else does") {
    val expected = Expected.read(Paths.get("expected.tsv"))
    assert(expected.keySet == Workloads.allOps.toSet)
    assert(Workloads.allOps.forall(graft.SparkEntry.queries.contains))
    assert(Files.isRegularFile(Paths.get("data", "SHA256SUMS")))
  }
}
