package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge to `private[sql]` Spark internals that custom Catalyst
  * expressions need: the Column<->Expression converters and the input-type
  * specification vocabulary. Lives under `org.apache.spark.sql` purely for
  * access; contains no logic. */
object SparkShim {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def typeCollection(types: AbstractDataType*): AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** External (Row) values of type `dt` to Catalyst's internal form. */
  def toCatalyst(dt: org.apache.spark.sql.types.DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)

  /** The concrete `classic` SparkSession behind the Spark 4.x abstract
    * API type (CacheManager's methods take the classic type). The cast
    * is pinned HERE so a Spark-jar upgrade that moves or renames
    * `org.apache.spark.sql.classic.SparkSession` fails at compile time
    * in one audited place instead of at runtime in callers. Assumes the
    * shipped Spark 4.x jars (/opt/spark/jars); any locally-built session
    * is a classic one. */
  def classicSession(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Release exactly the cached subtrees of `plan`: collect the nodes
    * that actually have a cache entry (sameResult match — the only thing
    * non-cascade `uncacheQuery` would act on anyway), dedup, and uncache
    * just those. Lookups are read-locked and eviction-free, so probing
    * every node no longer generates O(planNodes × cacheEntries) write
    * traffic on CacheManager. */
  def uncachePlanCaches(s: SparkSession, plan: LogicalPlan): Unit = {
    val cs = classicSession(s)
    val cm = cs.sharedState.cacheManager
    val cached = plan.collect {
      case n if cm.lookupCachedData(cs, n).isDefined => n
    }
    val roots = cached.foldLeft(List.empty[LogicalPlan]) { (acc, n) =>
      if (acc.exists(_.sameResult(n))) acc else n :: acc
    }
    roots.foreach(n => cm.uncacheQuery(cs, n, cascade = false))
  }
}
