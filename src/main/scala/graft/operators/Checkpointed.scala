package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** A relation materialized once behind a one-leaf plan. `df` is a
  * `LogicalRDD` over `rdd`, so consumers neither re-run nor re-plan the
  * pipeline that built it. The checkpoint is eager: reliable (files in
  * the dir, surviving executor loss) when the session has
  * `sc.setCheckpointDir`, local (MEMORY_AND_DISK blocks on the
  * executors) otherwise.
  *
  * Release contract: the owner calls [[release]] once nothing will read
  * `df` again. It drops the blocks before returning — no GC, no
  * ContextCleaner — so a later read of a local checkpoint fails.
  * Reliable checkpoint files stay in the checkpoint dir, which its
  * owner cleans. */
final class Checkpointed private (val df: DataFrame,
                                  rdd: RDD[InternalRow]) {
  def release(): Unit = { rdd.unpersist(blocking = true); () }
}

object Checkpointed {
  def apply(df: DataFrame): Checkpointed = {
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    new Checkpointed(cp,
      cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd)
  }
}
