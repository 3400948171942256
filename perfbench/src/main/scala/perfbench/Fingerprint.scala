package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An op's output reduced to (column names, row count, row hash).
  *
  * The hash is the exact sum of one 64-bit hash per row, so it does not
  * depend on row order. Each row hash covers every output column, taken in
  * name order so that column order does not matter either; forcing an op
  * through this aggregate therefore computes every column, which a
  * `count()` would let Catalyst prune. */
final case class Fingerprint(columns: Seq[String], rows: Long, hash: BigDecimal) {
  def render: String = s"${columns.mkString(",")}|$rows|$hash"
}

object Fingerprint {

  /** One column's value in canonical form. NULL is hashed together with an
    * is-null flag, because a hash alone skips NULLs and would then read
    * (1, NULL) equal to (NULL, 1); -0.0 reads as 0.0 and every NaN as the
    * one canonical NaN, as they compare in SQL. */
  private def canonical(c: Column, t: DataType): Seq[Column] = {
    val v = t match {
      case DoubleType | FloatType =>
        when(isnan(c), lit(Double.NaN).cast(t))
          .when(c === lit(0).cast(t), lit(0).cast(t))
          .otherwise(c)
      case _ => c
    }
    Seq(c.isNull, v)
  }

  /** The one-row aggregate that forces `df`: row count and row-hash sum. */
  def aggregate(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.sortBy(_.name).toSeq
    val rowHash = xxhash64(fields.flatMap(f => canonical(df.col(s"`${f.name}`"), f.dataType)): _*)
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))).as("hash"))
  }

  /** Runs the aggregate: the action that forces `df`. */
  def of(df: DataFrame): Fingerprint = {
    val r: Row = aggregate(df).collect().head
    Fingerprint(df.columns.toSeq.sorted, r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
