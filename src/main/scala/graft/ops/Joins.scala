package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Join breadth (SURVEY §2 B5–B8): outer, semi/anti, theta/range, as-of.
  *
  * Scale notes (100 TB design point):
  *  - Outer/semi/anti equi-joins shuffle on their keys; AQE picks
  *    broadcast for the dimension side and shuffled-hash/sort-merge for
  *    fact×fact — the plans below leave that choice to AQE except where a
  *    side is provably small (explicit `broadcast`).
  *  - The range (theta) join broadcasts the small side: a
  *    BroadcastNestedLoopJoin over an N×M band predicate. At 100 TB the
  *    production path is band-bucketing (join on coarse bucket equality
  *    plus residual predicate) — the bucketed variant is what
  *    `qJoinRange` models by keeping the broadcast side a dimension.
  *  - The as-of join is the union+last(ignoreNulls) window formulation:
  *    ONE shuffle on the partition key + a per-key time sort, no
  *    candidate-pair blowup (vs. range-join+row_number which explodes on
  *    keys with many prior matches). Ties are broken explicitly:
  *    at equal ts the source row wins (<= semantics), among equal-ts
  *    sources the largest event_id wins — mirrored exactly in the oracle.
  */
object Joins {

  /** B5 left outer: every customer with their orders; customers without
    * orders surface with NULL order columns. */
  def qJoinLeft(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_last)
      .limit(100000)

  /** B5 right outer: the mirror of qJoinLeft — orders RIGHT JOIN customer
    * keeps every customer; customers without orders surface with NULL
    * order columns. Same shuffle shape as left outer (the planner just
    * swaps build/probe sides). */
  def qJoinRight(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "right")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_last)
      .limit(100000)

  /** B6 left-semi: customers having at least one finished order
    * (EXISTS) — output columns come from the left side only. */
  def qJoinSemi(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** B6 left-anti: customers with no pending ('P') order (NOT EXISTS —
    * filtered right side so the result is non-trivial at every SF). */
  def qJoinAnti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** B7 theta/range join: customers whose account balance falls in a
    * ±100 band around each supplier's — non-equi predicate, small side
    * broadcast (BroadcastNestedLoopJoin). */
  def qJoinRange(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("c_acctbal") >= col("s_acctbal") - 100 &&
          col("c_acctbal") <= col("s_acctbal") + 100)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"))
      .orderBy("s_suppkey")

  /** B7 banded range join — the 100 TB formulation of qJoinRange: map
    * both sides to coarse ±band buckets (floor(acctbal/100); the ±100
    * predicate spans at most adjacent bands, so the small side explodes
    * to 3 band keys), equi-join on the band, and apply the residual
    * range predicate after. Same result as the BroadcastNestedLoopJoin
    * form, but the join is a plain shuffled/broadcast HASH join on the
    * band key — no N×M nested loop at any scale. */
  def qJoinRangeBanded(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_acctbal"), floor(col("c_acctbal") / 100.0).cast("long").as("band"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_acctbal"),
        explode(array(
          floor(col("s_acctbal") / 100.0).cast("long") - 1,
          floor(col("s_acctbal") / 100.0).cast("long"),
          floor(col("s_acctbal") / 100.0).cast("long") + 1)).as("band"))
    cust.join(supp, "band")
      .filter(col("c_acctbal") >= col("s_acctbal") - 100 &&
        col("c_acctbal") <= col("s_acctbal") + 100)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"))
      .orderBy("s_suppkey")
  }

  /** B7 PARTITIONED range join — the same relation as [[qJoinRange]]
    * computed through [[graft.plans.GraftShuffledRangeJoinExec]], the
    * tier for interval sides too big to broadcast (fact×fact at 100 TB):
    * quantile-bucket the points from a sampled boundary estimate,
    * replicate each interval to its overlapped buckets, probe a
    * per-partition sorted-interval index. One shuffle per side, M/B
    * build memory per partition, never an N×M loop. Forced through the
    * explicit [[graft.plans.RangeJoinOp.rangePartitioned]] API here so
    * the partitioned path is oracle-gated at every SF even though
    * supplier would fit a broadcast. */
  def qJoinRangePart(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    graft.plans.RangeJoinOp.rangePartitioned(cust, supp,
        cust("c_acctbal"), supp("s_acctbal") - 100, supp("s_acctbal") + 100)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_near"))
      .orderBy("s_suppkey")
  }

  /** B8 as-of join: attribute each 'purchase' event to the latest
    * 'error' event of the same user at-or-before its timestamp.
    *
    * Implementation: union both streams on the shared (user_id, ts)
    * timeline, sort within user, and carry the last-seen error forward
    * with `last(..., ignoreNulls)` over a running window — the scalable
    * single-shuffle formulation of as-of (SURVEY §2 B8).
    * Tie-breaking (documented + mirrored in the oracle): at equal ts the
    * error sorts before the purchase (so `<=` matches), and among errors
    * with identical ts the largest event_id wins. */
  def qJoinAsof(spark: SparkSession, sfDir: String): DataFrame =
    qJoinAsofRaw(spark, sfDir).orderBy("event_id").limit(100000)

  /** B8 as-of with TOLERANCE — the variant every time-series user needs
    * next: a match older than 10 minutes is dropped (nulled), so a
    * purchase isn't attributed to an ancient error. Same single-shuffle
    * union+last formulation as [[qJoinAsof]]; the tolerance is one
    * post-window predicate, no extra shuffle. */
  def qJoinAsofTol(spark: SparkSession, sfDir: String): DataFrame = {
    val matched = qJoinAsofRaw(spark, sfDir)
    val inTol = col("err_ts").isNotNull &&
      unix_micros(col("ts")) - unix_micros(col("err_ts")) <= 600L * 1000000L
    matched
      .select(col("event_id"), col("user_id"), col("ts"),
        when(inTol, col("err_event_id")).as("err_event_id"),
        when(inTol, col("err_ts")).as("err_ts"))
      .orderBy("event_id").limit(100000)
  }

  /** The as-of match BEFORE the output bound — shared by the plain and
    * tolerance variants. */
  private def qJoinAsofRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("is_target"),
        col("event_id"), lit(null).cast("long").as("src_event_id"),
        lit(null).cast("timestamp").as("src_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(0).as("is_target"),
        lit(null).cast("long").as("event_id"),
        col("event_id").as("src_event_id"), col("ts").as("src_ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_target"), col("src_event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(errors)
      .withColumn("err_event_id", last(col("src_event_id"), ignoreNulls = true).over(w))
      .withColumn("err_ts", last(col("src_ts"), ignoreNulls = true).over(w))
      .filter(col("is_target") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("err_event_id"), col("err_ts"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_left" -> (qJoinLeft _),
    "q_join_right" -> (qJoinRight _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_range" -> (qJoinRange _),
    "q_join_range_banded" -> (qJoinRangeBanded _),
    "q_join_range_part" -> (qJoinRangePart _),
    "q_join_asof" -> (qJoinAsof _),
    "q_join_asof_tol" -> (qJoinAsofTol _),
  )

  val oracle: Map[String, String] = {
    val base = oracleBase
    base ++ Map(
      // the partitioned sort-merge form (ops.AsofMerge) computes the
      // SAME relation — one oracle for all the as-of physical shapes
      "q_join_asof_merge" -> base("q_join_asof"),
      "q_join_asof_merge_tol" -> base("q_join_asof_tol"),
      // the partitioned range join computes the SAME relation as the
      // broadcast/banded forms — one oracle for all three physical shapes
      "q_join_range_part" -> base("q_join_range"))
  }

  private def oracleBase: Map[String, String] = Map(
    "q_join_left" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS LAST LIMIT 100000""".stripMargin,
    "q_join_right" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS LAST LIMIT 100000""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_range" ->
      """SELECT s_suppkey, count(*) AS n_near
        |FROM customer JOIN supplier
        |  ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    // banded variant computes the SAME relation — the oracle is the plain
    // range predicate; the banding is purely a physical-plan strategy
    "q_join_range_banded" ->
      """SELECT s_suppkey, count(*) AS n_near
        |FROM customer JOIN supplier
        |  ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    // ts is TIMESTAMP_NS in DuckDB; CAST to µs-precision TIMESTAMP in both
    // the comparison and the projection to match Spark's nanos→µs shim.
    "q_join_asof" ->
      """SELECT event_id, user_id, ts, err_event_id, err_ts FROM (
        |  SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |         e.event_id AS err_event_id, CAST(e.ts AS TIMESTAMP) AS err_ts,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY CAST(e.ts AS TIMESTAMP) DESC NULLS LAST,
        |                    e.event_id DESC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |    ON p.user_id = e.user_id
        |   AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |) WHERE rn = 1 ORDER BY event_id LIMIT 100000""".stripMargin,
    "q_join_asof_tol" ->
      """SELECT event_id, user_id, ts,
        |  CASE WHEN err_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(err_ts) <= 600000000
        |       THEN err_event_id END AS err_event_id,
        |  CASE WHEN err_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(err_ts) <= 600000000
        |       THEN err_ts END AS err_ts
        |FROM (
        |  SELECT event_id, user_id, ts, err_event_id, err_ts FROM (
        |    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |           e.event_id AS err_event_id, CAST(e.ts AS TIMESTAMP) AS err_ts,
        |           row_number() OVER (PARTITION BY p.event_id
        |             ORDER BY CAST(e.ts AS TIMESTAMP) DESC NULLS LAST,
        |                      e.event_id DESC NULLS LAST) AS rn
        |    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |      ON p.user_id = e.user_id
        |     AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |  ) WHERE rn = 1)
        |ORDER BY event_id LIMIT 100000""".stripMargin,
  )
}
