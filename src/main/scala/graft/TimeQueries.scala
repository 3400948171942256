package graft

/** Ad-hoc per-query timer (local iteration only; not part of the driver
  * contract): runs each named `SparkEntry.queries` entry `reps` times at
  * the given sf dir in a `core.Session.local()` session (local[cores],
  * cores = SPARK_GRAFT_CPUS or nproc) and prints every reading plus the
  * min — the number BASELINE.md's familiarization sections record for
  * new gate entries.
  * Usage: runMain graft.TimeQueries [sfDir] [query ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "pass at least one query name")
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val reps = sys.env.get("SPARK_GRAFT_TIME_REPS").map(_.toInt).getOrElse(2)
    // one warm action so JIT/codegen/session init doesn't bill query 1
    SparkEntry.queries(names.head)(spark, sfDir).count()
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      val ts = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = q(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        (s, rows)
      }
      val mn = ts.map(_._1).min
      println(f"[time] $n%-28s min $mn%6.2f s  " +
        f"(all ${ts.map(t => f"${t._1}%.2f").mkString("/")}; rows=${ts.head._2})")
    }
    spark.stop()
  }
}
