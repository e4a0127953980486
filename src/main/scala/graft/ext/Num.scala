package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric helpers shared by the extension operators. */
object Num {

  /** Half-away-from-zero rounding computed IN double arithmetic —
    * `floor(x·10^s + 0.5)/10^s` for x ≥ 0 (ceil of the mirrored form
    * below zero). Spark's `round()` rounds the SHORTEST-DECIMAL
    * rendering of the double (`BigDecimal.valueOf`), while DuckDB (and
    * C) round the scaled double product; on the same bit pattern the
    * two disagree exactly at display boundaries (observed: a quality
    * score whose double renders as "0.59625" — Spark shows 0.5963, the
    * scaled product rounds to 0.5962). Anywhere a rounded double is an
    * oracle-pinned output or a RANK KEY, the engine must use the
    * oracle's arithmetic, not the JVM's rendering. */
  def roundLike(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    (when(c >= 0, floor(c * p + lit(0.5)))
      .otherwise(-floor(-c * p + lit(0.5)))) / p
  }

  /** The column form above on one driver-side value, step for step:
    * Spark's `floor` of a double yields a long (a JVM `(long)` cast,
    * so NaN floors to 0), SQL orders NaN above every number (so
    * `NaN >= 0` holds), and the long divides back as a double. Null
    * stays null. */
  def roundLike(x: java.lang.Double, scale: Int): java.lang.Double =
    if (x == null) null
    else {
      val p = math.pow(10, scale)
      val v = x.doubleValue
      val f =
        if (v >= 0 || v.isNaN) math.floor(v * p + 0.5).toLong
        else -math.floor(-v * p + 0.5).toLong
      f / p
    }
}
