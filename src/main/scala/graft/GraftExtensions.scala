package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.expressions.GraftFunctions

/** SparkSessionExtensions injection point for graft's native expressions —
  * enable with:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`. Injects
  * every function of [[GraftFunctions.all]] — the same table the
  * imperative `GraftFunctions.register(spark)` installs from, so the two
  * paths cannot drift apart (register is then a no-op). This is the
  * deployment-grade path: functions exist in every session derived from
  * the config, including Thrift/Connect servers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator surface: the as-of join (graft.plans.AsOf). Sessions
    // built without extensions get it injected imperatively on first
    // AsOf.join via experimental.extraStrategies.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // layout knowledge: topic = 'x' over a bucketed event log prunes to the
    // topic's hash bucket (imperative twin: TopicBucketPruning.install,
    // called by bucketed EventLog constructors).
    ext.injectOptimizerRule(_ => graft.plans.TopicBucketPruning)
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}
