package org.apache.spark.sql.graftglue

import org.apache.spark.SparkContext

/** Listener-bus drain. `SparkContext.listenerBus` is `private[spark]`,
  * so this glue lives under that namespace (the [[Bridge]] pattern):
  * a harness that counts jobs with a `SparkListener` calls [[drain]]
  * before reading its counters, so every event posted so far has been
  * delivered — no fixed settle sleep, no late event bleeding into the
  * next measurement window.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
