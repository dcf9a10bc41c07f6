package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Partitioned SORT-MERGE as-of join (SURVEY §2 B8).
  *
  * The canonical distributed as-of: co-partition both sides by the `by`
  * key, sort each side independently within partitions by (key, time,
  * id), and run one forward merge pass per key group carrying O(1)
  * state (the latest error seen so far). Per 100 TB partition the cost
  * is sort(L) + sort(R) + one scan — each side stays its own narrow
  * width (no null-padded union row), and no candidate pair is ever
  * materialized (vs the native AsOfJoin lowering's nested loop over
  * distinct timestamps, and the range-join+row_number form's candidate
  * blowup).
  *
  * Implementation is the typed Dataset API:
  * `groupByKey(user).cogroupSorted(other)(sort…)(sort…)(merge)` plans as
  * ONE Catalyst plan — an Exchange per side + within-partition SortExec
  * + CoGroupExec — exactly the repartition/sort/merge physical shape,
  * with column pruning still reaching both scans and AQE free to size
  * the exchanges. A lower-level variant (per-side `queryExecution.toRdd`
  * + `zipPartitions`) was measured and REJECTED: under AQE each side's
  * toRdd materializes its shuffle as a separate blocking job before the
  * zip stage can even be submitted, serializing the DAG (1.18 s vs this
  * form's 0.49 s at sf0.1).
  *
  * Measured honestly (tools.AsofBench, sf0.1, warm best-of-2):
  * window form 0.22 s · this merge 0.49 s.
  * The gap is the CoGroup object boundary (rows cross into case classes
  * for the merge lambda); the union+last window form stays fully in
  * whole-stage codegen and remains the production DEFAULT for this
  * 3-column-per-side query. The merge form is the shape that wins when
  * the sides are wide or asymmetric — the union form pads every row to
  * the combined schema and sorts the padded union, while this sorts
  * each side at its own width — and it is the only formulation whose
  * per-group state is explicit user code (the natural extension point
  * for richer as-of semantics: nearest, forward, multi-match).
  *
  * Semantics and tie-breaks are IDENTICAL to [[Joins.qJoinAsof]] (same
  * oracle SQL): for each purchase, the latest error of the same user
  * with err_ts <= ts; at equal err_ts the largest err_event_id wins
  * (the per-side sort is (err_us, err_event_id) ASC and the merge keeps
  * the LAST error consumed). AsofMergeSpec proves row-for-row agreement
  * with the window form at sf0.001 plus hand-built tie/boundary cases.
  */
object AsofMerge {

  /** Narrow typed rows for the two sides and the merged output.
    * Timestamps travel as MICROSECONDS-since-epoch longs through the
    * merge (exact — the nanos shim already truncated to µs; Timestamp
    * objects would cost allocation and a timezone-sensitive encoder
    * path for zero benefit). */
  final case class PRow(event_id: Long, user_id: Long, ts_us: Long)
  final case class ERow(err_event_id: Long, user_id: Long, err_us: Long)
  final case class MRow(event_id: Long, user_id: Long, ts_us: Long,
      err_event_id: Option[Long], err_us: Option[Long])

  /** The per-key merge: both iterators arrive time-sorted; one forward
    * pass, O(1) state. Consuming every error with err_us <= purchase ts
    * leaves `last*` = the latest error, ties resolved to the largest
    * err_event_id by the (err_us, err_event_id) ASC sort order. The
    * optional tolerance nulls a match older than `tolUs` — applied
    * INSIDE the merge state (the extension-point advantage of this
    * formulation: richer as-of semantics are one line in the pass, not
    * another plan stage). */
  private def mergeGroup(tolUs: Long)(uid: Long,
      ps: Iterator[PRow], es: Iterator[ERow]): Iterator[MRow] = {
    val eb = es.buffered
    var lastId = 0L
    var lastUs = 0L
    var seen = false
    ps.map { p =>
      while (eb.hasNext && eb.head.err_us <= p.ts_us) {
        val e = eb.next()
        lastId = e.err_event_id; lastUs = e.err_us; seen = true
      }
      val inTol = seen && (tolUs < 0 || p.ts_us - lastUs <= tolUs)
      MRow(p.event_id, uid, p.ts_us,
        if (inTol) Some(lastId) else None, if (inTol) Some(lastUs) else None)
    }
  }

  private def merge(spark: SparkSession, sfDir: String, tolUs: Long): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us")).as[PRow]
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_event_id"), col("user_id"),
        unix_micros(col("ts")).as("err_us")).as[ERow]
    val merged = purchases.groupByKey(_.user_id)
      .cogroupSorted(errors.groupByKey(_.user_id))(
        col("ts_us"), col("event_id"))(
        col("err_us"), col("err_event_id"))(mergeGroup(tolUs))
    merged
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("ts_us")).as("ts"),
        col("err_event_id"),
        timestamp_micros(col("err_us")).as("err_ts"))
      .orderBy("event_id").limit(100000)
  }

  /** B8 partitioned merge as-of: same relation (and oracle) as
    * [[Joins.qJoinAsof]], computed by the co-partitioned sorted merge. */
  def qJoinAsofMerge(spark: SparkSession, sfDir: String): DataFrame =
    merge(spark, sfDir, tolUs = -1L)

  /** B8 merge as-of with the 10-minute tolerance of
    * [[Joins.qJoinAsofTol]] (same oracle) — the tolerance rides the
    * merge state itself instead of a post-window predicate. */
  def qJoinAsofMergeTol(spark: SparkSession, sfDir: String): DataFrame =
    merge(spark, sfDir, tolUs = 600L * 1000000L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_asof_merge" -> (qJoinAsofMerge _),
    "q_join_asof_merge_tol" -> (qJoinAsofMergeTol _))
}
