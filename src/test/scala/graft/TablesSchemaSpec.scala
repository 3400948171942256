package graft

import java.nio.file.{Files, Paths}

import graft.core.Tables
import graft.model.DerivedState

/** The declared raw-table schemas against the files. A declared schema
  * NULL-fills a missing column and drops an extra one without any error,
  * so every entry must equal what `spark.read.parquet` infers — field
  * order, types, nullability and array `containsNull` — at every scale. */
class TablesSchemaSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1", "perfbench/data/sf0.1")

  test("Tables.schemas declares exactly the tables of Tables.names") {
    assert(Tables.schemas.keySet == Tables.names.toSet)
    assert(Tables.schemas.size == Tables.names.size)
  }

  for (dir <- dirs) test(s"declared schemas equal the inferred ones at $dir") {
    assert(Files.isDirectory(Paths.get(dir)), s"missing testdata dir $dir")
    val drift = Tables.names.flatMap { t =>
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      val declared = Tables.schemas(t)
      if (declared == inferred) None
      else Some(s"$t:\n  declared ${declared.toDDL}\n  inferred ${inferred.toDDL}" +
        s"\n  declared $declared\n  inferred $inferred")
    }
    if (drift.nonEmpty) fail(s"schema drift at $dir:\n${drift.mkString("\n")}")
  }

  test("all-views registration and the ten raw loads launch no Spark job") {
    val sf = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    val group = "tables-schema-spec-register"
    val marker = "tables-schema-spec-marker"
    try {
      sc.setJobGroup(group, "register + load")
      DerivedState.register(spark, sf)
      Tables.names.foreach(Tables.load(spark, sf, _))
      // the status store is fed by an ordered listener queue: once the
      // marker job is visible, every job submitted before it is too
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "marker job never reached the status tracker")
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty, s"registration launched ${jobs.length} job(s)")
  }
}
