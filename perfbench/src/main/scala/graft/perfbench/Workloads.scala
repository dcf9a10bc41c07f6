package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.TxTable

/** One operation of a round: `run` returns when its result is fully
  * drained or its commit acknowledged. */
final case class Op(name: String, run: () => Unit)

/** Time sums by layer (e.g. `io.append_s`) and wall-time samples by
  * operation name, gathered over the timed rounds. */
final class Stats {
  val sums = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def timed[A](k: String)(body: => A): A = {
    val t0 = Clock.wallNs
    try body finally add(k, (Clock.wallNs - t0) / 1e9)
  }
}

trait Workload {
  /** Untimed builds that precede the warm round (standing stores). */
  def prepare(): Unit = ()
  /** The operations of round `r`, in the seeded order; round 0 is the
    * untimed warm round. */
  def round(r: Int): Seq[Op]
  /** Runs after every operation, outside its timing. */
  def betweenOps(): Unit = ()
  /** Results that disagree with the workload's own expectations. */
  def mismatches: Seq[String]
  /** Operation names whose results were written for the external oracle. */
  def written: Seq[String] = Seq.empty
  /** Per-layer figures of the workload's own, for the traced run. */
  def figures: Map[String, Double] = Map.empty
}

object Mixes {
  /** Headline entries (DSL capture, aggregation, window, the vec_dot
    * rewrite) and multi-join TPC-H shapes: planning-bound, no Ckpt and
    * no iteration. */
  val relational: Seq[String] = Seq(
    "q_scan_filter", "q_proj_arith", "q_groupby_agg", "q_join_3way",
    "q_window", "q_emb_norm", "q_sql_q3", "q_sql_q5", "q_sql_q21")

  /** Iterative, Ckpt-materializing entries: the banded k-NN graph build
    * and connected-components near-duplicate removal. */
  val llmPipeline: Seq[String] = Seq(
    "q_knn_graph", "q_dedup_keep")
}

/** A mix of registered `SparkEntry.queries` entries. Timed rounds drain
  * each result in full through the `noop` sink; the warm round instead
  * writes each result once as parquet for the DuckDB oracle. */
final class EntryMix(spark: SparkSession, data: String, out: String,
    names: Seq[String], seed: Long, stats: Stats) extends Workload {
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
  private val done = mutable.ArrayBuffer.empty[String]

  def round(r: Int): Seq[Op] =
    new scala.util.Random(seed * 7919 + r).shuffle(names).map { n =>
      Op(n, () => {
        val df = stats.timed("compile.build_s")(fns(n)(spark, data))
        if (r == 0) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$n")
          done += n
        } else df.write.format("noop").mode("overwrite").save()
      })
    }

  override def betweenOps(): Unit = graft.ops.Ckpt.releaseAll(spark)
  def mismatches: Seq[String] = Seq.empty
  override def written: Seq[String] = done.toSeq
}

/** Writes beside reads on a fresh transactional table made from a seeded
  * share of `events`. Each step makes one commit (append, upsert, range
  * delete or compact) and then four reads: the latest snapshot, the same
  * read again, a time-travel read of a seeded older version and the
  * `changes(v-1, v)` feed. The harness keeps its own model of the table
  * (key -> value in cents) from the batches it sent, and every read is
  * checked against it. */
final class TxChurn(spark: SparkSession, data: String, work: String,
    seed: Long, stats: Stats) extends Workload {
  import TxChurn._

  private val root = s"$work/tx_events"
  private val rng = new scala.util.Random(seed)
  private val model = mutable.TreeMap.empty[Long, Row]
  /** (rows, sum of value in cents) at each committed version. */
  private val history = mutable.ArrayBuffer.empty[(Long, Long)]
  private val bad = mutable.ArrayBuffer.empty[String]
  private var nextKey = 1L << 40
  private var batch = 0L

  def mismatches: Seq[String] = bad.toSeq

  private def cents(r: Row): Long = math.round(r.getDouble(3) * 100)
  private def totals: (Long, Long) = (model.size.toLong, model.valuesIterator.map(cents).sum)
  private def check(what: String, got: Any, want: Any): Unit =
    if (got != want) bad += s"$what: got $got, want $want"

  private def freshRow(k: Long): Row =
    Row(k, rng.nextInt(5000).toLong, EventTypes(rng.nextInt(EventTypes.size)),
      (1 + rng.nextInt(50000)) / 100.0)

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema)

  private def fresh(n: Int): Seq[Row] =
    (0 until n).map { _ => nextKey += 1; freshRow(nextKey) }

  override def prepare(): Unit = {
    val share = spark.read.parquet(s"$data/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(pmod(xxhash64(col("event_id"), lit(seed)), lit(10)) < 4)
      .collect()
    share.foreach(r => model(r.getLong(0)) = r)
    TxTable.create(spark, root, frame(share.toSeq), "event_id", nFiles = 4)
    history += totals
    // a history longer than the 64-entry snapshot memo, so old-version
    // reads miss it while latest reads hit. The padding versions are
    // annotation-only commits (no data change), which cost no Spark job.
    (1 to HistoryCommits).foreach { i =>
      check("padding version", TxTable.commit(root, i.toLong, Seq(PadLine)), i.toLong)
      history += totals
    }
  }

  /** One commit of `kind`; returns nothing, records the new totals. */
  private def commit(kind: String): Unit = {
    val v = kind match {
      case "append" =>
        val rows = fresh(AppendRows)
        val v = stats.timed("io.append_s")(TxTable.append(spark, root, frame(rows), nFiles = 1))
        rows.foreach(r => model(r.getLong(0)) = r)
        v
      case "upsert" =>
        val keys = model.keysIterator.toIndexedSeq
        val old = Seq.fill(UpsertRows / 2)(keys(rng.nextInt(keys.size))).distinct.map(freshRow)
        val rows = old ++ fresh(UpsertRows - old.size)
        batch += 1
        val v = stats.timed("io.upsert_s")(
          TxTable.upsertBatch(spark, root, "perfbench", batch, frame(rows), nFiles = 1))
        rows.foreach(r => model(r.getLong(0)) = r)
        v
      case "delete" =>
        val keys = model.keysIterator.toIndexedSeq
        val lo = keys(rng.nextInt(keys.size))
        val hi = lo + DeleteSpan
        val v = stats.timed("io.delete_s")(TxTable.delete(spark, root, lo, hi, nFiles = 1))
        model.range(lo, hi + 1).keys.toSeq.foreach(model.remove)
        v
      case "compact" => stats.timed("io.compact_s")(TxTable.compact(spark, root, nFiles = 4))
    }
    check(s"$kind version", v, history.size.toLong)
    history += totals
  }

  /** Drained aggregate read: (rows, sum of value in cents). */
  private def readTotals(version: Long): (Long, Long) = {
    val r = TxTable.read(spark, root, Some(version))
      .agg(count(lit(1)), coalesce(sum(functions.round(col("value") * 100).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def readLatest(tag: String): Unit = {
    val s = stats.timed("io.snapshot_s")(TxTable.snapshot(root))
    stats.sample("live_files", s.files.size.toDouble)
    val v = history.size - 1L
    check(s"$tag snapshot version", s.version, v)
    val got = readTotals(s.version)
    check(s"$tag v$v totals", got, history(v.toInt))
    check(s"$tag v$v manifest count", TxTable.countRows(root, Some(v)), got._1)
  }

  /** Time travel to a seeded version just past the reach of the
    * 64-entry snapshot memo: it has not been read since at least 64
    * newer versions were, so the read replays the log. */
  private def travel(): Unit = {
    val u = history.size - 1 - MemoReach - rng.nextInt(4)
    check(s"travel v$u totals", readTotals(u.toLong), history(u))
  }

  private def changes(): Unit = {
    val v = history.size - 1L
    val byType = stats.timed("io.changes_s")(
      TxTable.changes(spark, root, v - 1, v).groupBy("change_type").count().collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val net = byType.getOrElse("insert", 0L) - byType.getOrElse("delete", 0L)
    check(s"changes v${v - 1}..v$v net rows", net, history(v.toInt)._1 - history(v.toInt - 1)._1)
  }

  def round(r: Int): Seq[Op] =
    new scala.util.Random(seed * 7919 + r).shuffle(StepKinds).flatMap { kind =>
      Seq(
        Op(kind, () => commit(kind)),
        Op("read", () => readLatest("read")),
        Op("reread", () => readLatest("reread")),
        Op("travel", () => travel()),
        Op("changes", () => changes()))
    }

  override def figures: Map[String, Double] = {
    def p50(names: String*): Double = {
      val xs = names.flatMap(stats.samples.getOrElse(_, Nil)).sorted
      if (xs.isEmpty) 0.0 else (xs((xs.size - 1) / 2) + xs(xs.size / 2)) / 2
    }
    // bytes of the table directory (data plus log) per live row
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    Map(
      "io.live_files" -> p50("live_files"),
      "tx.commit_p50_s" -> p50("append", "upsert", "delete"),
      "tx.read_p50_s" -> p50("read", "reread"),
      "tx.travel_p50_s" -> p50("travel"),
      "tx.changes_p50_s" -> p50("changes"),
      "tx.stored_bytes_per_row" -> bytes.toDouble / math.max(1, model.size))
  }
}

object TxChurn {
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))
  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
  /** One round: one of each data-changing commit and one compaction. */
  val StepKinds: Seq[String] = Seq("append", "upsert", "delete", "compact")
  val HistoryCommits = 72
  /** One more than the snapshot memo's 64 entries. */
  val MemoReach = 65
  val PadLine = """{"t":"info","op":"perfbench-pad"}"""
  val AppendRows = 200
  val UpsertRows = 200
  val DeleteSpan = 40L
}
