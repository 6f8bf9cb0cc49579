package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Output checks. Row outputs compare as multisets (row -> count), never
  * as sets, so a duplicated or missing row always fails. */
object Check {
  def multiset[T](what: String, expected: Seq[T], actual: Seq[T]): Seq[String] = {
    def counts(xs: Seq[T]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val (e, a) = (counts(expected), counts(actual))
    def minus(x: Map[T, Int], y: Map[T, Int]) =
      x.toSeq.flatMap { case (k, n) => Seq.fill(n - y.getOrElse(k, 0))(k) }
    val (missing, extra) = (minus(e, a), minus(a, e))
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"$what: expected ${expected.size} rows, got ${actual.size}: " +
      s"${missing.size} missing (e.g. ${missing.take(3).mkString(", ")}), " +
      s"${extra.size} unexpected (e.g. ${extra.take(3).mkString(", ")})")
  }

  def equal(what: String, expected: Any, actual: Any): Seq[String] =
    if (expected == actual) Nil else Seq(s"$what: expected $expected, got $actual")
}

/** Order-independent multiset fingerprint of a set of rows: row count,
  * XOR and modular sum of each row's Spark `xxhash64`. The engine's rows
  * are hashed by Spark SQL; the oracle's rows by the same hash function on
  * the driver, so equal fingerprints mean equal row multisets (up to a
  * hash collision). */
final case class Fingerprint(rows: Long, xor: Long, sum: Long)

object Fingerprint {
  val Modulus = 1000003L

  /** The fingerprint of `df` over `cols`, computed by one aggregate. */
  def of(df: DataFrame, cols: Column*): Fingerprint = {
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(Modulus))), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The fingerprint columns, for SQL that computes them beside other
    * aggregates: `xor`, `sum` over `xxhash64(<cols>)`. */
  def sql(cols: String): String =
    s"count(1) AS fp_n, coalesce(bit_xor(xxhash64($cols)), 0L) AS fp_x, " +
      s"coalesce(sum(pmod(xxhash64($cols), ${Modulus}L)), 0L) AS fp_s"

  final class Builder {
    private var n = 0L
    private var x = 0L
    private var s = 0L
    /** Adds one row; values are Long, String or Array[Byte] in column order. */
    def add(values: Any*): Unit = {
      var h = 42L
      values.foreach { v =>
        val (value, dt): (Any, DataType) = v match {
          case l: Long => (l, LongType)
          case i: Int => (i.toLong, LongType)
          case str: String => (UTF8String.fromString(str), StringType)
          case b: Array[Byte] => (b, BinaryType)
          case other => throw new IllegalArgumentException(s"unhashable $other")
        }
        h = XxHash64Function.hash(value, dt, h)
      }
      n += 1; x ^= h; s += java.lang.Math.floorMod(h, Modulus)
    }
    def result: Fingerprint = Fingerprint(n, x, s)
  }
}
