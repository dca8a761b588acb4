package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** `cloneSession()` is `private[sql]`; this shim exposes it. A clone
  * shares the SparkContext and cached data but owns a copy of the SQL
  * conf, temp views and optimizer extensions, so a query built on it can
  * carry a setting that must still hold when the query executes without
  * changing the caller's session.
  */
object SessionClone {
  def apply(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
