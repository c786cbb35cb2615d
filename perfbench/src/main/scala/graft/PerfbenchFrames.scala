package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness mappings the registry's `e2e_*` queries and oracles share
  * (customer → patients, orders → visits, lineitem → measurements), opened
  * to the benchmark so its cohort chain reads the very same frames. */
object PerfbenchFrames {
  def patients(s: SparkSession, d: String): DataFrame = SparkEntry.patientsT(s, d)
  def visits(s: SparkSession, d: String): DataFrame = SparkEntry.visitsT(s, d)
  def measures(s: SparkSession, d: String): DataFrame = SparkEntry.measuresT(s, d)
}
