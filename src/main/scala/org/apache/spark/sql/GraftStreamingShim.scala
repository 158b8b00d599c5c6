package org.apache.spark.sql

import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** graft's one use of Spark's `private[sql]` surface. A v1 streaming
  * source must return each micro-batch as a streaming DataFrame (the
  * micro-batch engine asserts `isStreaming`), and the public
  * `baseRelationToDataFrame` only makes batch ones; Spark's own v1 Kafka
  * and file sources mark theirs through the same internal constructors.
  */
object GraftStreamingShim {
  def streamingFrame(spark: SparkSession, relation: BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(relation, isStreaming = true))
}
