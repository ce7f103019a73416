package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Per-application memo for pinned staging state: `localCheckpoint`
  * frames (or records of them) that several catalog entries read.
  * The first caller per (application, key) builds the value; later
  * callers reuse it; nothing is evicted.
  *
  * Keyed by (applicationId, key): localCheckpoint state lives and dies
  * with the SparkContext, so a fresh application rebuilds. The memo is
  * deliberately unbounded: a suite or harness JVM sees a handful of
  * datasets, and each value is a pinned summary, not a corpus copy. A
  * long-lived multi-dataset service would have to evict per retired
  * dataset. All callers share one map, so `key` must name the artifact
  * as well as its corpus and parameters (e.g. "covariance|<sfDir>").
  */
object Staged {

  private val values = TrieMap[(String, String), Any]()

  def apply[V](spark: SparkSession, key: String)(mk: => V): V =
    values.getOrElseUpdate((spark.sparkContext.applicationId, key), mk)
      .asInstanceOf[V]

  /** Test hook: drop every staged value (e.g. between suites that
    * mutate the underlying fixtures). */
  private[graft] def clear(): Unit = values.clear()
}
