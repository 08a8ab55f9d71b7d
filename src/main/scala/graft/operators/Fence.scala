package graft.operators

import org.apache.spark.sql.DataFrame

/** The one materialization fence every operator uses: eagerly
  * materializes `df` and returns a frame whose plan is a leaf over the
  * materialized rows, so the lineage above it is truncated.
  *
  * Policy: when the session has a checkpoint dir configured
  * (`spark.sparkContext.setCheckpointDir`), the fence is a RELIABLE
  * checkpoint — executor-local blocks (`localCheckpoint`) are lost on
  * executor death, which on a 1000-executor 100 TB run is an expected
  * event, not an edge case. Without a dir, it falls back to
  * `localCheckpoint` (single-JVM tests, ad-hoc runs). Either way the
  * lineage truncates, which is what keeps iterated plans linear and
  * stops multiply-referenced subtrees from re-planning per branch.
  *
  * Call it as `Fence(df)`, or `.transform(Fence)` at the end of a chain.
  */
object Fence extends (DataFrame => DataFrame) {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
