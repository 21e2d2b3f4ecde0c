package graft

import org.apache.spark.sql.DataFrame

/** Fully materialize a query for timing purposes.
  *
  * `df.count()` is NOT that: Catalyst re-optimizes the count plan, and
  * a cardinality-preserving subtree gets eliminated wholesale — e.g. a
  * left join whose right side is unique on the join key loses the
  * entire right subtree once its columns are pruned, so a benchmark
  * "forcing" x17_contamination with count() times the distinct-doc_id
  * aggregation and never runs the contamination join at all (found by
  * a checksum cross-check: 2.2 s hollow vs 31.5 s real at ×1000).
  *
  * `queryExecution.toRdd.count()` executes the DataFrame's OWN physical
  * plan — every operator, every column — and only counts the resulting
  * InternalRows on the executors (nothing is collected to the driver).
  */
object Force {
  def apply(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
