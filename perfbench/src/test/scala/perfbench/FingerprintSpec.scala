package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("FingerprintSpec")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val ab = StructType(Seq(StructField("a", LongType), StructField("b", DoubleType)))

  test("column order does not matter") {
    val df = frame(ab, Row(1L, 2.0), Row(3L, 4.0))
    assert(Fingerprint.of(df) == Fingerprint.of(df.select("b", "a")))
  }

  test("row order does not matter, but every row and value does") {
    val df = frame(ab, Row(1L, 2.0), Row(3L, 4.0), Row(5L, 6.0))
    val fp = Fingerprint.of(df)
    assert(fp == Fingerprint.of(df.orderBy(df("a").desc)))
    assert(fp.rows == 3)
    assert(fp != Fingerprint.of(frame(ab, Row(1L, 2.0), Row(3L, 4.0))))
    assert(fp != Fingerprint.of(frame(ab, Row(1L, 2.0), Row(3L, 4.5), Row(5L, 6.0))))
  }

  test("duplicate rows are counted, not cancelled") {
    val one = Fingerprint.of(frame(ab, Row(1L, 2.0)))
    val two = Fingerprint.of(frame(ab, Row(1L, 2.0), Row(1L, 2.0)))
    assert(one.hash != two.hash && two.rows == 2)
  }

  test("NULL is told apart from a value and from NULL in another column") {
    val ll = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val swapped = Fingerprint.of(frame(ll, Row(null, 1L)))
    assert(Fingerprint.of(frame(ll, Row(1L, null))) != swapped)
    assert(Fingerprint.of(frame(ll, Row(0L, 1L))) != swapped)
  }

  test("-0.0 reads as 0.0 and every NaN as one NaN") {
    val d = StructType(Seq(StructField("x", DoubleType)))
    assert(Fingerprint.of(frame(d, Row(-0.0))) == Fingerprint.of(frame(d, Row(0.0))))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000abcL)
    assert(Fingerprint.of(frame(d, Row(otherNaN))) == Fingerprint.of(frame(d, Row(Double.NaN))))
    assert(Fingerprint.of(frame(d, Row(Double.NaN))) != Fingerprint.of(frame(d, Row(null))))
    val f = StructType(Seq(StructField("x", FloatType)))
    assert(Fingerprint.of(frame(f, Row(-0.0f))) == Fingerprint.of(frame(f, Row(0.0f))))
  }

  test("an empty output has zero rows and a zero hash") {
    val fp = Fingerprint.of(frame(ab))
    assert(fp.rows == 0 && fp.hash == BigDecimal(0) && fp.columns == Seq("a", "b"))
  }
}
