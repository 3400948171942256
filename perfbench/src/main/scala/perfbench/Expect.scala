package perfbench

import java.nio.file.{Files, Paths}

/** Writes the expected fingerprints from op outputs that already passed the
  * DuckDB oracle check.
  *
  * usage: perfbench.Expect <verifyOutDir> <expected.tsv> <correctnessJson>
  *
  * `verifyOutDir` holds one parquet directory per op, as `graft.Verify`
  * writes them; `correctnessJson` is a gate record whose `rows` object
  * gives each op's row count, which every fingerprint must match. */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(outDir, expectedPath, correctness) = args
    val spark = Main.session(Files.createTempDirectory("perfbench-expect").toString)
    try {
      val rows = spark.read.option("multiLine", "true").json(correctness).select("rows.*").head()
      val ops = Workloads.allOps
      val lines = ops.map { op =>
        val fp = Fingerprint.of(spark.read.parquet(s"$outDir/$op"))
        val want = rows.getAs[Long](op)
        require(fp.rows == want, s"$op: $outDir holds ${fp.rows} rows, $correctness says $want")
        Expected.line(op, fp)
      }
      Files.write(Paths.get(expectedPath),
        ("# op\tcolumns\trows\thash\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }
}
