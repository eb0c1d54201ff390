package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins [[Rounding.dround]] ≡ [[Rounding.droundDouble]] bit-for-bit and
  * the known divergences from Spark's decimal-string `round` — the
  * DuckDB-validated semantics (see Rounding's object doc; the formula was
  * checked against DuckDB on 200k adversarial values with 0 mismatches).
  */
class RoundingSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(99)
  // half-boundary family at every tested scale: (k+0.5)/10ⁿ and its
  // neighboring doubles — the values where floor(s+0.5) carries across an
  // integer while std::round does not (DuckDB-validated, see Rounding doc)
  private val halfBoundaries: Seq[Double] =
    for {
      n <- Seq(0, 2, 4, 6, 9)
      k <- Seq(0L, 1L, 2L, 7L, 123L, 4503599627370495L)
      h = (k + 0.5) / math.pow(10, n)
      v <- Seq(h, -h, Math.nextAfter(h, Double.NegativeInfinity),
        Math.nextAfter(h, Double.PositiveInfinity),
        -Math.nextAfter(h, Double.NegativeInfinity))
    } yield v
  private val adversarial: Seq[Double] =
    Seq(0.0, -0.0, 1e-300, 5e-7, -5e-7, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.49999999999999994, -0.49999999999999994,
      32.4796875, -32.4796875, 38.37875, 1.0000005, 2.3456785,
      9.007199254740992e15, 1.8e16, -1.8e16, 123456789.1234565,
      Double.PositiveInfinity, Double.NegativeInfinity) ++
    halfBoundaries ++
    // odd integers in [2^52, 2^53): integral doubles where s+0.5
    // ties-to-even rounds UP — the second floor(s+0.5) failure family
    Seq.fill(200)(4503599627370496.0 + (rnd.nextLong().abs % (1L << 51)) * 2 + 1) ++
    Seq.fill(3000)(rnd.nextDouble() * 2e6 - 1e6) ++
    Seq.fill(3000)((rnd.nextInt(20000001) - 10000000) * 2 + 1).map(_ / 2e6) ++
    Seq.fill(2000)(rnd.nextLong() % 1000000000L).map(v => v / math.pow(10, rnd.nextInt(10)))

  test("Column dround and JVM droundDouble are bit-identical at scales 0/2/4/6/9") {
    val df = adversarial.toDF("v")
    for (n <- Seq(0, 2, 4, 6, 9)) {
      // both spellings: the native duck_round expression and the
      // pure-Column one
      val rows = df.select(col("v"), Rounding.dround(col("v"), n).as("r"))
        .collect() ++
        df.select(col("v"), UdfSpellings.droundColumn(col("v"), n).as("r"))
          .collect()
      rows.foreach { r =>
        val v = r.getDouble(0)
        val got = java.lang.Double.doubleToRawLongBits(r.getDouble(1))
        val want = java.lang.Double.doubleToRawLongBits(Rounding.droundDouble(v, n))
        assert(got == want,
          s"dround($v, $n): column=${r.getDouble(1)} jvm=${Rounding.droundDouble(v, n)}")
      }
    }
  }

  test("dround matches the documented DuckDB half-boundary behavior where Spark diverges") {
    // 32.4796875's nearest double is below the exact half: DuckDB rounds
    // DOWN at 6 dp, Spark's shortest-repr string rounds UP — the r4-known
    // q59 cell. dround must take DuckDB's side.
    val r = spark.range(1).select(
      Rounding.dround(lit(32.4796875), 6).as("d"),
      round(lit(32.4796875), 6).as("s")).head()
    r.getDouble(0) shouldBe 32.479687 +- 1e-9
    r.getDouble(1) shouldBe 32.479688 +- 1e-9
    r.getDouble(0) should not be r.getDouble(1)
  }

  test("dround is std::round at the floor(s+0.5) carry boundaries (DuckDB-pinned)") {
    // DuckDB 1.0 computes round(x, n) as std::round(x·10ⁿ)/10ⁿ — verified
    // directly against DuckDB for these exact values (0 mismatches in a
    // 1,002,855-comparison sweep). floor(s+0.5) would give 1.0, 1e-9, and
    // 4503599627370498.0 here.
    val r = spark.range(1).select(
      Rounding.dround(lit(0.49999999999999994), 0).as("a"),
      Rounding.dround(lit(4.999999999999999e-10), 9).as("b"),
      Rounding.dround(lit(4503599627370497.0), 0).as("c"),
      Rounding.dround(lit(-0.49999999999999994), 0).as("d")).head()
    java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
      java.lang.Double.doubleToRawLongBits(0.0)
    java.lang.Double.doubleToRawLongBits(r.getDouble(1)) shouldBe
      java.lang.Double.doubleToRawLongBits(0.0)
    r.getDouble(2) shouldBe 4503599627370497.0
    java.lang.Double.doubleToRawLongBits(r.getDouble(3)) shouldBe
      java.lang.Double.doubleToRawLongBits(-0.0)
  }

  test("dround preserves the sign of zero and propagates null/NaN") {
    val r = spark.range(1).select(
      Rounding.dround(lit(-0.2), 0).as("nz"),
      Rounding.dround(lit(null).cast("double"), 6).as("nl"),
      Rounding.dround(lit(Double.NaN), 6).as("nan")).head()
    java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
      java.lang.Double.doubleToRawLongBits(-0.0)
    r.isNullAt(1) shouldBe true
    r.getDouble(2).isNaN shouldBe true
  }
}
