package graft.etl

/** A15 observability: the reference logs START/END + doc counts per
  * collection to a JSON-lines file (reference main.py:49-58, 230-232,
  * 309). Spark-native equivalent: metrics observed on the plan itself
  * while the action runs, so the numbers are exact under retries and
  * partial failures instead of hand-kept counters. */
object Metrics {

  /** Inline pipeline metrics via `Dataset.observe`: the named
    * aggregates are computed DURING the action that consumes the
    * returned frame — no second scan, exactly the A15 "count what you
    * exported" need at 100 TB (a read-back count would double the
    * I/O). Read the values from the returned Observation after the
    * action completes. */
  def observed(
      df: org.apache.spark.sql.DataFrame,
      name: String,
      first: org.apache.spark.sql.Column,
      rest: org.apache.spark.sql.Column*): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs, first, rest: _*), obs)
  }
}
