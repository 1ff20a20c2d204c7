package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Column ↔ Catalyst Expression bridge for custom expressions.
  *
  * Spark 4 made the classic converters `private[sql]`
  * (`columnNodeSupport.scala` in the spark-sql module), so libraries adding
  * native `Expression`s need a shim compiled inside the `org.apache.spark
  * .sql` package tree — the established extension pattern (same technique
  * used by public Spark connectors for other `private[sql]` surfaces). */
object Bridge {
  def column(e: Expression): Column =
    Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** The number of plans the session's CacheManager holds —
    * observability for cache-ownership contracts (a leaked cache
    * accumulates across calls). `sharedState.cacheManager` is
    * `private[sql]` in Spark 4 — same shim rationale as above. */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Whether `rdd` backs a `Dataset.localCheckpoint` (never a cache
    * entry's buffers). `checkpointData` is `private[spark]`. */
  def isLocalCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.checkpointData.exists(
      _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]])

  /** The bucket count of a catalog table, if it is bucketed — appends
    * into a bucketed store must repeat the EXISTING layout exactly
    * (Spark rejects a mismatched `bucketBy` spec), so writers read it
    * from the catalog instead of trusting a caller-supplied number.
    * `sessionState` is `private[sql]` in Spark 4 — same shim rationale
    * as above. */
  def bucketCount(spark: org.apache.spark.sql.SparkSession,
                  table: String): Option[Int] = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    ss.catalog.getTableMetadata(ss.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
  }

  /** A table property of a catalog table, if present — stores persist
    * their derivation parameters (e.g. the substring store's seedN) so
    * later absorbs/reads can REFUSE a mismatched family instead of
    * silently joining incompatible hashes. Same shim rationale. */
  def tableProperty(spark: org.apache.spark.sql.SparkSession,
                    table: String, key: String): Option[String] = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    ss.catalog.getTableMetadata(ss.sqlParser.parseTableIdentifier(table))
      .properties.get(key)
  }

  /** The storage location of a catalog table, if set — an absorb that
    * rewrites an EXTERNAL store table in place must recreate it at the
    * SAME path (a silently relocated store would orphan the original
    * files and split the state across two directories). Same shim
    * rationale. */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
                    table: String): Option[java.net.URI] = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    Option(ss.catalog
      .getTableMetadata(ss.sqlParser.parseTableIdentifier(table))
      .storage.locationUri).flatten
  }

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]` in Spark 4 — same shim rationale as above; used by
    * the native whole-operator plans in `graft.plans`). */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every event already posted to the listener bus has
    * been delivered, so a listener's counts are complete when read.
    * `listenerBus` is `private[spark]` — same shim rationale. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
