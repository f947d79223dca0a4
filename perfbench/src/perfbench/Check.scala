package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import scala.collection.mutable

/** Outcome of comparing committed output with the golden turns. */
final case class CheckResult(expected: Long, missing: Long, duplicated: Long,
    mismatched: Long, unexpected: Long) {
  def errors: Long = missing + duplicated + mismatched + unexpected
  def errorShare: Double = if (expected == 0) 1.0 else errors.toDouble / expected
  override def toString: String =
    s"expected=$expected missing=$missing duplicated=$duplicated mismatched=$mismatched unexpected=$unexpected"
}

/** The correctness gate: every `(conv_id, turn_idx)` of the golden table
  * must appear exactly once in the output with the golden
  * `extracted_text`, `failure` (the planted failure class, or null) and
  * `spans`. Both sides are reduced in Spark to a 64-bit hash of those
  * three fields per key, and the keyed hashes are compared on the driver.
  */
final class Check(spark: SparkSession, goldenDir: String) {
  private def keyed(df: DataFrame, fields: Column*): Array[(String, Int, Long)] = {
    import spark.implicits._
    df.select(col("conv_id"), col("turn_idx"), xxhash64(fields: _*)).as[(String, Int, Long)].collect()
  }

  private val golden: Map[(String, Int), Long] =
    keyed(spark.read.parquet(goldenDir),
      col("expected_text"), col("expected_failure"), col("expected_spans"))
      .map { case (c, t, h) => (c, t) -> h }.toMap

  def apply(output: DataFrame): CheckResult = {
    val seen = mutable.HashMap.empty[(String, Int), Int]
    var mismatched = 0L
    var unexpected = 0L
    keyed(output, col("extracted_text"), col("failure"), col("spans")).foreach { case (c, t, h) =>
      val k = (c, t)
      val n = seen.getOrElse(k, 0)
      seen(k) = n + 1
      if (n == 0) golden.get(k) match {
        case Some(g) => if (g != h) mismatched += 1
        case None    => unexpected += 1
      }
    }
    CheckResult(golden.size.toLong, golden.keysIterator.count(!seen.contains(_)).toLong,
      seen.valuesIterator.map(_ - 1L).sum, mismatched, unexpected)
  }
}
