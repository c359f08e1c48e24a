package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

package object plans {

  /** Adds `strategy` to the session's planner unless it is there already
    * (`spark.experimental.extraStrategies`, the public runtime hook).
    */
  def installStrategy(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.exists(_ eq strategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy
    }
}
