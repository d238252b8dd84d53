package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one eager materialization every stage goes through: iteration
  * rounds, frames read by several consumers, results that must outlive
  * the tables they were read from. Use it as `Materialize(df)` or, at
  * the end of a chain, `.transform(Materialize)`.
  *
  * Local vs reliable is chosen here, from session state the deployer
  * already sets: with `sparkContext.setCheckpointDir` on reliable
  * storage every materialization is a reliable `checkpoint`, which a
  * lost executor rereads instead of recomputing, at one file write
  * each; without a checkpoint dir it is a `localCheckpoint`, whose
  * blocks live on the executors that computed them. */
object Materialize extends (DataFrame => DataFrame) {

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Materializes `df` and returns it with the `observe` metrics `aggs`
    * computed by the same job, keyed by their aliases: a scalar that
    * re-enters the plan as a literal costs no second aggregation over
    * the rows just written. An aggregate over an empty frame reads as
    * its SQL value (count 0, sum/max null). The eager action runs here,
    * so the metrics have always been published when they are read. */
  def withMetrics(df: DataFrame)(aggs: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = apply(df.observe(obs, aggs.head, aggs.tail: _*))
    (out, obs.get)
  }
}
