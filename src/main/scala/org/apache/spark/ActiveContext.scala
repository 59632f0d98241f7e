package org.apache.spark

/** The running SparkContext, if any, read without creating one
  * (`SparkContext.getActive` is package-private to Spark, hence this
  * package). graft.GraftExtensions uses it to configure the context a
  * session is being built on; applied to a bare extensions object it
  * must not start one. */
object ActiveContext {
  def get: Option[SparkContext] = SparkContext.getActive
}
