package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** An eagerly local-checkpointed DataFrame plus a handle on the persisted
  * RDD(s) backing it, so iterative operators can RELEASE each superseded
  * round's storage once its successor has materialized.
  *
  * `Dataset.localCheckpoint(true)` alone truncates lineage but pins the
  * blocks for the session's lifetime — nothing ever unpersists them — so a
  * long-lived session accumulates every round of every CC / k-means / BPE
  * call until the storage tier squeezes the working heap (measured up to
  * 34× per-op slowdowns under an 8 GB driver heap before this existed).
  * The fix is the standard iterative-Spark discipline: round k−1's blocks
  * are dropped as soon as round k is materialized, bounding resident
  * storage to O(1) rounds instead of O(rounds).
  *
  * After [[release]] the wrapped DataFrame is UNUSABLE by design: the
  * blocks are gone and the lineage was truncated at checkpoint time, so
  * recomputation is impossible. Only release once every consumer of this
  * round has materialized. The FINAL round of an iterative op stays
  * resident (the caller's result plan reads it lazily); sessions that run
  * many ops should clear leftover persisted RDDs between ops (see
  * [[Ckpt.releaseAll]], used by graft.tools.LlmBench).
  */
private[graft] final class Ckpt(val df: DataFrame, rdds: Seq[RDD[_]]) {
  def release(): Unit = rdds.foreach(_.unpersist(blocking = false))

  /** Whether the backing blocks are still persisted. A memoized Ckpt
    * must be re-validated through this before reuse: localCheckpoint
    * truncated the lineage, so once anything (release(), a
    * between-ops [[Ckpt.releaseAll]]) unpersists the blocks, the
    * DataFrame is unrecoverable and the memo entry must rebuild. */
  def isResident: Boolean =
    rdds.nonEmpty && rdds.forall(
      _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
}

private[graft] object Ckpt {
  /** Materialize `df` as a local checkpoint and capture the backing
    * persisted RDD via the resulting LogicalRDD leaf (the plan a
    * checkpointed Dataset wraps), so it can be unpersisted later.
    *
    * The checkpoint is taken lazily and then materialized by one job
    * over the captured handle. `localCheckpoint` registers the RDD as
    * persistent before any of its blocks exist, so with the eager form
    * a failed materialization left a half-written RDD pinned with no
    * handle to release it; here the failure path unpersists it. The
    * job count is the eager form's: the lazy call still runs the
    * plan's shuffle stages (AQE plans them before handing back the
    * final RDD), and the count is the final stage. Metrics observed on
    * `df` (`Dataset.observe`) are complete in
    * `df.queryExecution.observedMetrics` once this returns. */
  def apply(df: DataFrame): Ckpt = {
    val cp = df.localCheckpoint(false)
    val handles = cp.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }
    try handles.foreach(_.count())
    catch { case t: Throwable => handles.foreach(_.unpersist(blocking = false)); throw t }
    new Ckpt(cp, handles)
  }

  /** Drop every persisted RDD and cached plan in the session — the
    * between-ops cleanup a long-lived harness runs so the leak-by-one
    * final rounds of iterative ops don't accumulate. Blocking, so the
    * memory is actually back before the next op is timed. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
