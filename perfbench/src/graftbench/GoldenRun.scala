package graftbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Computes the golden fingerprints of every registry query the curate
  * workload checks. */
object GoldenRun {
  def compute(spark: SparkSession, data: String): Map[String, Map[String, String]] =
    Map(new java.io.File(data).getName -> Curate.Queries.sorted.map { q =>
      q -> Fingerprint.ofFrame(SparkEntry.queries(q)(spark, data))
    }.toMap)
}
