package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}

package object operators {

  /** `df` with `metrics` observed: into `obs` when the caller passes one,
    * else as the named metric `name`, visible to query listeners.
    */
  private[graft] def observed(df: DataFrame, obs: Option[Observation], name: String,
                              metrics: Seq[Column]): DataFrame = obs match {
    case Some(o) => df.observe(o, metrics.head, metrics.tail: _*)
    case None    => df.observe(name, metrics.head, metrics.tail: _*)
  }
}
