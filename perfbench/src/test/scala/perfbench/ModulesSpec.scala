package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {
  private def site(frames: String*) = frames.mkString("\n")

  test("the innermost graft frame names the module") {
    assert(Modules.of(site(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "graft.state.StateManager$.resolvePaths(StateManager.scala:120)",
      "graft.queries.StateQueries$.$anonfun$queries$3(StateQueries.scala:88)",
      "perfbench.Runner.pass(Main.scala:85)")) == "state")
  }

  test("schema inference under DerivedState.register belongs to model") {
    assert(Modules.of(site(
      "org.apache.spark.sql.DataFrameReader.parquet(DataFrameReader.scala:550)",
      "graft.model.DerivedState$.$anonfun$register$1(DerivedState.scala:207)",
      "scala.collection.immutable.List.foreach(List.scala:334)",
      "graft.model.DerivedState$.register(DerivedState.scala:206)",
      "graft.queries.StateQueries$.$anonfun$queries$1(StateQueries.scala:40)")) == "model")
  }

  test("each measured layer maps to itself") {
    for (m <- Modules.layers)
      assert(Modules.of(s"graft.$m.Some$$.f(Some.scala:1)") == m)
  }

  test("a top-level graft object counts as queries") {
    assert(Modules.of("graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:40)") == "queries")
  }

  test("graft packages outside the measured layers count as other") {
    assert(Modules.of("graft.streaming.Changefeed$.run(Changefeed.scala:10)") == Modules.Other)
  }

  test("a call site with only benchmark frames is the forcing action") {
    assert(Modules.of(site(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
      "perfbench.Fingerprint$.of(Fingerprint.scala:50)",
      "perfbench.Runner.pass(Main.scala:87)")) == Modules.Action)
    assert(Modules.of("") == Modules.Action)
  }

  test("frames printed with a leading 'at' are read the same") {
    assert(Modules.of("\tat graft.analytics.Dataflows$.fsck(Dataflows.scala:5)") == "analytics")
  }
}
