package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Answer fingerprints. The aggregate consumes every output column, so no
  * column of a measured query can be pruned away the way `count()` prunes
  * it; it is insensitive to row order and sensitive to duplicates. */
object Fingerprint {

  private def hashable(df: DataFrame, f: StructField): Column = f.dataType match {
    case _: MapType => to_json(col(s"`${f.name}`"))
    case _ => col(s"`${f.name}`")
  }

  /** One aggregate of the row count, the XOR and the two 32-bit half sums
    * of a 64-bit hash of every row. Running it materializes the whole
    * query. */
  def frame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(hashable(df, _)): _*)
    df.select(h.as("__h")).agg(
      count(lit(1)).as("n"),
      bit_xor(col("__h")).as("x"),
      sum(col("__h").bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(col("__h"), 32)).as("hi"))
  }

  def ofFrame(df: DataFrame): String = fromAggRow(frame(df).collect().head)

  def fromAggRow(r: Row): String = {
    val n = r.getLong(0)
    if (n == 0) "n0"
    else f"n$n:x${r.getLong(1)}%016x:l${r.getLong(2)}%x:h${r.getLong(3)}%x"
  }
}

/** Golden fingerprints of registry queries (perfbench/golden.json, keyed
  * by data-set name, then query). */
object Golden {
  def load(path: String): Map[String, Map[String, String]] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try Json.read[Map[String, Map[String, String]]](src.mkString) finally src.close()
  }
}
