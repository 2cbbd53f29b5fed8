package graft.plans

import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Plans a file scan that reads as one split as one partition, in a
  * session that shuffles to one partition.
  *
  * A file scan reports an unknown partitioning, so EnsureRequirements
  * puts an exchange above it for every aggregate, window, sort and
  * sort-merge join. When the scan reads one split and the shuffle
  * width is 1, that exchange takes one partition to one partition: it
  * moves no data between tasks and only cuts one task into two stages.
  * `CoalesceExec(1, scan)` reports `SinglePartition`, which satisfies
  * those distributions, so no exchange goes in; coalescing a
  * one-partition RDD is a narrow pass-through. Broadcast exchanges stay.
  *
  * Fires only when all of these hold, and otherwise leaves the scan to
  * Spark's `FileSourceStrategy`:
  *  - the planning session's `numShufflePartitions` is 1;
  *  - the relation is a batch, non-bucketed `HadoopFsRelation`;
  *  - it lists one file, no longer than the split size the scan itself
  *    splits by (`FilePartition.maxSplitBytes` over the relation's own
  *    session and listing).
  */
object SingleSplitScan extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (SQLConf.get.numShufflePartitions != 1) Nil
    else plan match {
      case ScanOperation(_, _, _, LogicalRelation(fs: HadoopFsRelation, _, _, false, _))
          if fs.bucketSpec.isEmpty && singleSplit(fs) =>
        FileSourceStrategy(plan).map(CoalesceExec(1, _))
      case _ => Nil
    }

  private def singleSplit(fs: HadoopFsRelation): Boolean = {
    val listing = fs.location.listFiles(Nil, Nil)
    listing.flatMap(_.files) match {
      case Seq(file) => file.getLen <= FilePartition.maxSplitBytes(fs.sparkSession, listing)
      case _ => false
    }
  }
}
