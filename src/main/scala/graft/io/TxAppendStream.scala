package graft.io

import org.apache.spark.sql.{DataFrame, GraftStreamingShim, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2,
  ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Streaming TABLE READ over a [[TxTable]] — what
  * `spark.readStream.table("tx.<t>")` resolves to (via the
  * [[graft.plans.TxCatalogReads]] rewrite): an append-only row stream
  * in the TABLE's own schema, the public lakehouse table-streaming
  * recipe (Delta's streaming source over the transaction log).
  *
  *  - The FIRST batch is the full table snapshot as of query start
  *    (merge-on-read, dv-subtracted) — downstream state begins from
  *    current truth; `startingVersion` instead tails from a version
  *    (emitting only post-version appends, no initial snapshot).
  *  - Every later batch is the ADDED FILES of pure-append commits —
  *    O(new data) reads straight from the commit log's manifest
  *    entries, no diffing, no table scan; exactly what makes tailing
  *    viable when the table is 100 TB and a day's commits are a sliver.
  *  - A commit that REMOVED or TOMBSTONED rows (COW delete/update/
  *    merge, MOR dv, overwrite) cannot be represented in an append-only
  *    stream: the query FAILS LOUDLY by default (silently dropping
  *    deletes would feed consumers a table that never shrinks), or
  *    skips the commit wholesale under `skipChangeCommits=true` (the
  *    public option name and semantics). Content-preserving rewrites
  *    (compaction, Z-order) also carry removes and are therefore
  *    skipped/refused — streaming consumers already hold those rows;
  *    re-emitting the rewritten files would duplicate them.
  *  - Meta-only commits (schema evolution) carry no rows and are
  *    skipped; the stream keeps its query-start schema, and files
  *    written under a WIDER schema project down to it (the columns
  *    captured at start always exist — evolution only widens).
  *
  * Exactly-once: offsets are committed versions in the query's
  * checkpoint; the log is immutable history, so any re-read of a range
  * is deterministic. Restart resumes after the last committed version
  * and replays nothing (TxStreamReadSpec pins it). VACUUM interaction:
  * reading below the retention floor fails loudly at the snapshot gate.
  *
  * The CHANGE-aware twin is `format("tx-cdf")` ([[TxCdfSourceProvider]])
  * — full change rows with `change_type`/`commit_v`; this source is the
  * append-only projection a training-ingest pipeline tails.
  */
final class TxAppendSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "tx-append"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]):
      (String, StructType) =
    ("tx-append", TxTable.snapshot(parameters.getOrElse("root",
      throw new IllegalArgumentException("tx-append requires option 'root'")))
      .schema)

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = parameters.getOrElse("root",
      throw new IllegalArgumentException("tx-append requires option 'root'"))
    // ONE snapshot supplies both the captured schema and the initial-
    // batch version — atomically consistent, and one log replay instead
    // of two
    val snap = TxTable.snapshot(root)
    // V1 sources don't persist their schema, so a checkpoint restart
    // after a widening evolution would silently widen the stream
    // mid-query (r11 advice). Persist the captured (logical, phys,
    // version) triple under metadataPath on first start — the
    // FileStreamSource recipe — and reload it on every restart, so the
    // stream's shape is pinned for the checkpoint's lifetime.
    // metadataPath arrives as a URI string (file:/…/checkpoint/sources/0)
    // — resolve the scheme, don't mint a literal "file:" directory
    val metaDir =
      if (metadataPath.contains(":"))
        java.nio.file.Paths.get(new java.net.URI(metadataPath).getPath)
      else java.nio.file.Paths.get(metadataPath)
    val metaFile = metaDir.resolve("graft_tx_append_schema.json")
    if (!java.nio.file.Files.exists(metaFile)) {
      java.nio.file.Files.createDirectories(metaDir)
      val tmp = metaDir.resolve(s"_tmp_${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, java.util.Arrays.asList(
        snap.schema.json, snap.physSchema.json, snap.version.toString))
      try java.nio.file.Files.createLink(metaFile, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally java.nio.file.Files.deleteIfExists(tmp)
    }
    // (re-)read: a racing first-starter's capture wins atomically
    val lines = java.nio.file.Files.readAllLines(metaFile)
    def schemaAt(i: Int) = org.apache.spark.sql.types.DataType
      .fromJson(lines.get(i)).asInstanceOf[StructType]
    val (schCap, physCap, verCap) = (schemaAt(0), schemaAt(1), lines.get(2).toLong)
    new TxAppendSource(ctx, root, schCap, physCap, verCap,
      parameters.get("startingVersion").map(_.toLong),
      parameters.getOrElse("maxVersionsPerBatch", "10").toInt,
      parameters.getOrElse("skipChangeCommits", "false").toBoolean)
  }
}

private[io] final class TxAppendSource(ctx: SQLContext,
    protected val root: String, override val schema: StructType,
    physSchema: StructType, snapAtStart: Long,
    startingVersion: Option[Long],
    maxVersionsPerBatch: Int, skipChangeCommits: Boolean)
    extends VersionOffsetSource {
  require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")

  /** Offset -1 = "nothing consumed, initial snapshot pending". With
    * `startingVersion` the snapshot phase is skipped entirely. */
  private val initV: Long = startingVersion.getOrElse(-1L)

  override def initialOffset(): OffsetV2 = LongOffset(initV)

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val cur = Option(start).map(toV).getOrElse(initV)
    if (cur < 0L)
      // the initial snapshot is one batch ending at the captured version
      LongOffset(snapAtStart)
    else LongOffset(clampTarget(cur, maxVersionsPerBatch))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val s = start.map(toV).getOrElse(initV)
    val e = toV(end)
    val spark = ctx.sparkSession
    val df =
      if (e <= s)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else if (s < 0)
        // initial batch: the full MOR snapshot at the captured version
        TxTable.read(spark, root, Some(e))
      else {
        // the vacuum gate, tail-side: commits at or above the retention
        // floor have every data file guaranteed present; resuming below
        // it must fail with the vacuum as the stated reason, never a
        // raw file-not-found from a reclaimed append
        val floor = TxTable.retentionFloor(root)
        if (s + 1 < floor) throw new IllegalStateException(
          s"stream offset resumes at commit ${s + 1} of tx table $root, " +
            s"below the vacuum retention floor $floor — its files may be " +
            "reclaimed. Restart the query with a fresh checkpoint (and an " +
            s"initial snapshot or startingVersion >= ${floor - 1}).")
        // tail batches: added files of pure-append commits in (s, e]
        val adds = ((s + 1) to e).flatMap { v =>
          val c = TxTable.commitSummary(root, v)
          if (c.isAppendOnly) c.addedData
          else if (skipChangeCommits) Seq.empty
          else throw new IllegalStateException(
            s"commit $v of tx table $root removed or tombstoned rows " +
              "(delete/update/merge/overwrite/compaction) — an append-only " +
              "stream cannot represent it. Set option " +
              "skipChangeCommits=true to skip such commits, or consume " +
              "the change feed with format(\"tx-cdf\").")
        }
        if (adds.isEmpty)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            schema)
        else {
          // read under the STREAM's captured PHYS schema (what the
          // files store — stable across renames, since phys names are
          // fixed at column birth), projected to the captured logical
          // names; files written after a widening evolution project
          // down to the captured columns
          val snap = TxTable.snapshot(root, Some(e))
          val captured =
            TxTable.Snapshot(e, physSchema, snap.physOf(snap.key), adds)
          TxTable.scanFiles(spark, root, captured, adds)
            .select(schema.fieldNames.zip(physSchema.fieldNames).map {
              case (l, p) => col(p).as(l) }.toSeq: _*)
        }
      }
    val aligned = df.select(schema.fieldNames.map(col).toSeq: _*)
    GraftStreamingShim.streamingDataFrame(
      ctx.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      schema, aligned.queryExecution.toRdd)
  }
}
