package graft.core

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the TPC-H-ish testdata (see TESTDATA.md). Each table is
  * one parquet file under `sfDir`, read through [[read]] with its
  * declared schema so Catalyst can push filters/projections into the
  * scan — callers must NOT cache here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The declared shape of every raw table, in file column order (so
    * `SELECT *` keeps its columns) and with the types Spark infers from
    * the files: the dates and `events.ts` are written with
    * isAdjustedToUTC=false, hence TIMESTAMP_NTZ. Declaring them spares
    * the one schema-inference job per file a bare `read.parquet` pays.
    * A declared schema NULL-fills a missing column and drops an extra
    * one silently, so `TablesSchemaSpec` compares every entry with the
    * inferred schema at every scale and fails on any drift. */
  val schemas: Map[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** The one reader of the raw testdata: `sfDir/name.parquet` with its
    * declared schema — no inference job. */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  /** The raw tables with a materialized cluster layout
    * ([[Scale.writeRelationalTables]]). ONLY these shadow under
    * `graft.layout=bucketed`: the state/events families read their
    * layouts through the DerivedState views, and the text/vector
    * corpora are banded-join territory with no base bucketing
    * (QUERIES.md "Layout coverage"). */
  private val BucketedRaw = Set("lineitem", "orders")

  /** Conf key recording WHICH sfDir the bucketed shadow tables were
    * written from (set by the gate/bench mains next to
    * `graft.layout=bucketed`). The shadow only engages when it matches
    * the requested dir — a caller loading lineitem/orders from a
    * DIFFERENT directory in the same session must not silently get the
    * other dataset's layout, so a mismatch (or a missing record) under
    * the bucketed layout fails loudly instead. */
  val LayoutDirKey = "graft.layout.sfDir"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (BucketedRaw(name) &&
        spark.conf.getOption("graft.layout").contains("bucketed") &&
        spark.catalog.tableExists(s"graft_state_$name")) {
      val written = spark.conf.getOption(LayoutDirKey)
      require(written.contains(sfDir),
        s"bucketed layout active but graft_state_$name was written from " +
          s"${written.getOrElse("<unrecorded>")}, not the requested $sfDir — " +
          s"set $LayoutDirKey when activating the layout, or load via views")
      spark.table(s"graft_state_$name")
    } else read(spark, sfDir, name)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
