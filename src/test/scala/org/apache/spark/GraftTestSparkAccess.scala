package org.apache.spark

/** Test-only escape hatch: SparkContext has no public way to UNSET a
  * checkpoint dir, but the reliable-checkpoint spec must restore the
  * shared test session to the local-checkpoint default so later suites
  * aren't silently flipped onto the reliable branch. `checkpointDir`
  * is private[spark], hence this file's package.
  */
object GraftTestSparkAccess {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Drain the async listener bus so a test's SparkListener counters
    * are complete before assertion. */
  def waitListenerBus(sc: SparkContext): Unit = GraftListenerBus.drain(sc)

  /** Count of EXPLICITLY persisted RDDs — localCheckpoint marks are
    * excluded (`isLocallyCheckpointed` is private[spark]), so the
    * figure isolates a test's own persist/unpersist discipline from
    * the round-cut frames iterative operators leave to the
    * ContextCleaner. */
  def explicitPersistCount(sc: SparkContext): Int =
    sc.getPersistentRDDs.values
      .count(r => !org.apache.spark.rdd.GraftRddAccess.isLocallyCheckpointed(r))

  /** RDD blocks the block manager still holds for RDDs created after
    * `rddId`: cached partitions and `localCheckpoint` blocks alike. */
  def rddBlocksAfter(sc: SparkContext, rddId: Int): Seq[org.apache.spark.storage.BlockId] =
    sc.env.blockManager.master.getMatchingBlockIds({
      case org.apache.spark.storage.RDDBlockId(id, _) => id > rddId
      case _ => false
    }, askStorageEndpoints = true)
}
