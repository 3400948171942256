package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.DerivedState

/** Registration closures: each accessor registers only the views its own
  * view reads, and every gate entry builds in a session holding no temp
  * view — so an entry that pairs an accessor with `s.sql`/`s.table` of a
  * view it never registered fails here instead of reading a stale view
  * left behind by another evaluation. */
class DerivedStateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def dropTempViews(): Unit =
    tempViews.foreach(spark.catalog.dropTempView)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("\u0001")).sorted

  private val accessors: Seq[(String, (SparkSession, String) => DataFrame, Set[String])] = Seq(
    ("file", DerivedState.file, Set("nation", "customer", "orders", "file")),
    ("block", DerivedState.block, Set("lineitem", "block")),
    ("datanode", DerivedState.datanode, Set("datanode")),
    ("lease", DerivedState.lease, Set("lease")),
    ("ops", DerivedState.ops, Set("events", "ops")))

  for ((name, accessor, closure) <- accessors)
    test(s"DerivedState.$name registers only its closure and matches the all-views rows") {
      dropTempViews()
      try {
        val got = sortedRows(accessor(spark, sf))
        assert(tempViews == closure)
        DerivedState.register(spark, sf)
        val all = sortedRows(spark.table(name))
        assert(got.nonEmpty)
        assert(got == all)
      } finally DerivedState.register(spark, sf)
    }

  test("every gate entry builds in a session holding no temp view") {
    val t0 = System.nanoTime()
    val failed =
      try SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        dropTempViews()
        try { fn(spark, sf).schema; None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
      } finally DerivedState.register(spark, sf)
    info(f"${SparkEntry.queries.size} entries built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(failed.isEmpty, s"${failed.size} entries failed:\n${failed.mkString("\n")}")
  }
}
