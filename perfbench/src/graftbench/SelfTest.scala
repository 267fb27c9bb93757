package graftbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Materialization self-test: the plan the benchmark measures for a query
  * (its fingerprint aggregate) must still contain the query's kernel, the
  * expression a bare `count()` prunes away. */
object SelfTest {
  /** Query -> the expression class that implements its kernel. */
  val Kernels: Seq[(String, String)] = Seq(
    "sentiment_score" -> "ArrayTransform",
    "cosine_similarity_native" -> "CosineSimilarity",
    "consumer_enrich_pipeline" -> "ArrayAggregate")

  def run(spark: SparkSession, data: String): (Boolean, Map[String, Any]) = {
    val rows = Kernels.map { case (q, kernel) =>
      val df = SparkEntry.queries(q)(spark, data)
      val measured = Fingerprint.frame(df)
      measured.collect()
      val inMeasured = Op.expressionClasses(measured.queryExecution.executedPlan).contains(kernel)
      val counted = df.groupBy().count()
      counted.collect()
      val inCount = Op.expressionClasses(counted.queryExecution.executedPlan).contains(kernel)
      q -> Map("kernel" -> kernel, "in_measured_plan" -> inMeasured, "in_count_plan" -> inCount)
    }
    (rows.forall(_._2("in_measured_plan") == true), rows.toMap)
  }
}
