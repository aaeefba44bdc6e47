package perfbench

import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("b_name", StringType), StructField("a_id", LongType),
    StructField("score", DoubleType), StructField("flag", BooleanType),
    StructField("tags", ArrayType(StringType)), StructField("ts", TimestampType),
    StructField("amount", DecimalType(22, 6))))

  private val rows = Seq(
    Row("x", 1L, 0.5, true, Seq("p", "q"),
      java.sql.Timestamp.from(Instant.parse("2024-01-10T10:00:00.123Z")), new java.math.BigDecimal("12.500000")),
    Row(null, 2L, -0.0, false, Seq(),
      java.sql.Timestamp.from(Instant.EPOCH), new java.math.BigDecimal("0E-6")),
    Row("y", 3L, null, null, null, null, null))

  test("numbers compare by float64 value whatever their type or sign of zero") {
    Seq[Any](1, 1L, 1.0, 1.0f, new java.math.BigDecimal("1.000"))
      .foreach(v => assert(Fingerprint.cell(v) == "3ff0000000000000"))
    assert(Fingerprint.cell(-0.0) == Fingerprint.cell(0))
    assert(Fingerprint.cell(null) == "\\N")
  }

  test("the fingerprint ignores row order and matches the DuckDB-side recorder") {
    // expected values computed by record_oracle.py's fingerprint() on the
    // same rows (Python ints, floats, Decimals, datetimes and lists)
    assert(Fingerprint.of(schema, rows) == "57b7135730ae8f2e")
    assert(Fingerprint.of(schema, rows.reverse) == "57b7135730ae8f2e")
    assert(Fingerprint.of(schema, rows.take(1)) == "a125be93d5f84a39")
  }
}
