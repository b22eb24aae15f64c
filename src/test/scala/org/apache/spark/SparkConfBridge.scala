package org.apache.spark

/** Access to a running context's own `private[spark]` conf: static
  * settings such as `spark.sql.extensions` are read from it when a new
  * session is built on the context. */
object SparkConfBridge {
  def set(sc: SparkContext, key: String, value: String): Unit = sc.conf.set(key, value)
  def remove(sc: SparkContext, key: String): Unit = sc.conf.remove(key)
}
