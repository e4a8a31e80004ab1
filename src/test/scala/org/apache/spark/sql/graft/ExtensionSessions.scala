package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ClassicConversions

/** Test access to the `spark.sql.extensions` install path without a second
  * SparkContext (the session constructor and the extensions' rule builder
  * are private to Spark).
  */
object ExtensionSessions {

  /** A session over `parent`'s context and shared state whose extensions
    * come from `install` alone — what Spark builds for a session started
    * with `spark.sql.extensions` naming that class.
    */
  def withExtensions(parent: SparkSession,
      install: SparkSessionExtensions => Unit): (SparkSession, SparkSessionExtensions) = {
    val impl = ClassicConversions.castToImpl(parent)
    val ext = new SparkSessionExtensions
    install(ext)
    // the full constructor is private to Spark's classic package
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    val session = ctor.newInstance(impl.sparkContext, Some(impl.sharedState), None, ext,
      Map.empty[String, String], Map.empty[String, String])
    (session.asInstanceOf[SparkSession], ext)
  }

  /** The optimizer rules the extensions inject, in injection order. */
  def injectedOptimizerRules(ext: SparkSessionExtensions,
      session: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(session)
}
