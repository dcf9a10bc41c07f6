package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan,
  LessThanOrEqual, Literal, Murmur3Hash, Or, Pmod}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType, TimestampNTZType,
  TimestampType}

/** Catalyst-integrated read path for [[TxTable]]: the table surfaces as
  * a `HadoopFsRelation` whose `FileIndex` is the manifest, so file
  * skipping is driven by the OPTIMIZER's pushed data filters — a user
  * writes `TxRelation.read(...).filter($"k" > 5)` and never names a
  * bound; Catalyst splits the conjuncts, `FileSourceStrategy` hands
  * them to [[TxFileIndex.listFiles]], and files whose per-column
  * [min, max] cannot satisfy the predicate are never opened. This is
  * the public lakehouse integration shape (Delta's `TahoeFileIndex`):
  * the format stays a manifest of plain parquet files, Spark's
  * vectorized parquet reader does the IO (row-group pushdown and
  * column pruning still apply INSIDE each surviving file), and the
  * planner sees real sizes for broadcast decisions. At 100 TB the
  * manifest is the only driver-side state — O(#files), same as any
  * engine's scan planning.
  *
  * Pruning semantics are MAY-CONTAIN: a file survives unless some
  * pushed conjunct is provably false for its whole [min, max] range.
  * Unsupported expression shapes keep the file — never wrong, just
  * unpruned (the same contract parquet row-group stats use).
  */
object TxRelation {

  /** The live snapshot at `version` (default latest) as a DataFrame
    * backed by a stats-pruning [[TxFileIndex]]. Live deletion vectors
    * are subtracted above the relation (broadcast anti-join on the
    * key), so merge-on-read tables read correctly here too — filter
    * pushdown still reaches the scan below the join. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame =
    readPinned(spark, root, TxTable.snapshot(root, version))

  /** Read a PINNED snapshot (no re-resolution of "latest") — the
    * statement-level isolation path used by the SQL catalog
    * ([[TxCatalog]] loads the snapshot once; [[graft.plans.TxCatalogReads]]
    * and the V1 fallback both read exactly that version). */
  def readPinned(spark: SparkSession, root: String,
      snap: TxTable.Snapshot): DataFrame =
    TxTable.subtractDvs(spark, root, readSnapshot(spark, root, snap),
      snap.key, snap.dvs)

  /** (root, Snapshot) → FileIndex memo (r20, the second half of the
    * serve-loop caching item): constructing a [[TxFileIndex]] stats
    * every live file — O(#files) syscalls locally, O(#files) HEAD
    * round-trips on an object store — per READ. Data files are
    * immutable once committed and equal Snapshots list identical
    * files, so the index (sizes included) is reusable; the Snapshot
    * key inherits the snapshot memo's staleness protection (a rebuilt
    * table yields a non-equal Snapshot — fresh UUID paths). Bounded
    * access-order LRU like the snapshot memo. `lastListedFiles` is a
    * spec-only observable read immediately after a sequential scan,
    * unaffected by sharing. */
  private val IdxCacheMax = 64
  private val idxCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, TxTable.Snapshot), TxFileIndex](
        IdxCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, TxTable.Snapshot), TxFileIndex])
          : Boolean = size() > IdxCacheMax
    })

  private[io] def fileIndexFor(root: String,
      snap: TxTable.Snapshot): TxFileIndex = {
    val key = (root, snap)
    val hit = idxCache.get(key)
    if (hit != null) hit
    else {
      val idx = new TxFileIndex(root, snap, snap.files)
      idxCache.put(key, idx)
      idx
    }
  }

  private[io] def readSnapshot(spark: SparkSession, root: String,
      snap: TxTable.Snapshot): DataFrame =
    // a bucketed table surfaces its layout as a real BucketSpec: the
    // scan's output partitioning becomes HashPartitioning(bucketBy, n)
    // (bucket ids parsed from the `_NNNNN` file-name suffix our writer
    // emits), so equi-joins on the bucket columns read the table side
    // WITHOUT an Exchange — the standing-index contract
    scan(spark, snap, fileIndexFor(root, snap),
      if (snap.bucketBy.isEmpty) None
      else Some(BucketSpec(snap.nBuckets, snap.bucketBy.map(snap.physOf), Nil)))

  /** THE scan constructor of the tx tier: a `HadoopFsRelation` over a
    * manifest `index`, read under `snap`'s stored schema. The manifest
    * already names every file and its schema, so nothing is discovered:
    * no path listing, no schema-inference job, no data-source lookup.
    * With an active column mapping the scan runs under the PHYSICAL
    * schema (what the files store) and one projection restores the
    * logical names — filters pushed through the aliases reach the
    * FileIndex as phys attributes, which is what its stats speak. */
  private[io] def scan(spark: SparkSession, snap: TxTable.Snapshot,
      index: TxFileIndex, bucketSpec: Option[BucketSpec] = None): DataFrame = {
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = snap.physSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    val raw = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
    if (!snap.mappingActive) raw
    else raw.select(snap.colMap.map(c =>
      org.apache.spark.sql.functions.col(c.phys).as(c.name)): _*)
  }
}

/** Manifest-backed `FileIndex`: lists `files` (the snapshot's live
  * set, or a subset for change-feed sides and copy-on-write hit sets),
  * pruned by evaluating pushed data filters against per-file
  * column stats (cluster key [minK, maxK] plus the meta-declared stats
  * columns). Driver-side, O(#files); file sizes are stat'ed once at
  * construction so `sizeInBytes` feeds join-strategy costing honestly. */
final class TxFileIndex(root: String, snap: TxTable.Snapshot,
    files: Seq[TxTable.AddFile]) extends FileIndex {

  /** #files returned by the most recent `listFiles` — lets specs pin
    * that Catalyst-pushed filters actually reached the manifest (the
    * scan's own numFiles metric says the same thing, this is just the
    * deterministic handle). */
  @volatile var lastListedFiles: Int = -1

  /** Exact row count of the listed files from the manifest (Σ add.rows)
    * — consumed by the TxMetadataCount optimizer rule for metadata-only
    * count(*). */
  def totalRows: Long = files.map(_.rows).sum

  /** Whether the snapshot carries deletion vectors (then data rows ≠
    * manifest rows until compaction and the count rule must not fire —
    * its read plan carries the anti-join anyway; defense in depth). */
  def hasDvs: Boolean = snap.dvs.nonEmpty

  /** Cluster-key facts for the metadata min/max rewrite: the key's
    * name and declared type, and the global [min, max] over the live
    * files' exact long bounds (None when the table is empty). */
  def keyName: String = snap.key
  def keyType: org.apache.spark.sql.types.DataType =
    snap.schema(snap.key).dataType
  def minKey: Option[Long] =
    if (files.isEmpty) None else Some(files.map(_.minK).min)
  def maxKey: Option[Long] =
    if (files.isEmpty) None else Some(files.map(_.maxK).max)

  private val statuses: Seq[(TxTable.AddFile, FileStatus)] = files.map {
    f =>
      val p = new java.io.File(s"$root/${f.path}")
      f -> new FileStatus(p.length(), false, 1, 128L * 1024 * 1024,
        p.lastModified(), new Path(p.toURI))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val allowed = allowedBuckets(dataFilters)
    val live = statuses.filter { case (f, _) =>
      allowed.forall(bs => fileBucket(f.path).forall(bs.contains)) &&
        dataFilters.forall(mayMatch(f, _))
    }
    lastListedFiles = live.size
    Seq(PartitionDirectory(InternalRow.empty, live.map(_._2).toArray))
  }

  // --- MANIFEST-LEVEL BUCKET PRUNING ----------------------------------
  // A literal probe on a hash-bucketed table can only match files of the
  // buckets its values hash to. Spark's own bucket-set pruning computes
  // the same thing, but only when the scan executes as BUCKETED — and
  // DisableUnnecessaryBucketedScan discards the bucketed scan whenever
  // no operator above requires the hash distribution (a bare
  // `term.isin(...)` serve has none), which silently downgrades the
  // probe to a full-file-listing scan. Pruning here, in the manifest's
  // own listFiles, makes the IO property PLANNER-ROBUST: however the
  // scan executes, files of non-probed buckets are never listed, never
  // footer-opened. At 100 TB (thousands of buckets) this is the
  // difference between opening every postings file per query and
  // opening |probed terms| buckets' worth.

  /** The physical bucket column, when single-column layout pruning
    * applies (the only layout the writer emits). */
  private val bucketCol: Option[String] =
    if (snap.bucketBy.length == 1 && snap.nBuckets > 1)
      Some(snap.physOf(snap.bucketBy.head)) else None

  /** Bucket id encoded in the writer's `part-<uuid>_<NNNNN>.parquet`
    * name; None never prunes (foreign/legacy name — conservative). */
  private val BucketName = "_([0-9]{5})\\.parquet$".r
  private def fileBucket(path: String): Option[Int] =
    BucketName.findFirstMatchIn(path).map(_.group(1).toInt)

  /** pmod(murmur3(v), n) — the writer's own placement function
    * ([[TxTable]] writeBucketedFiles), identical to Spark's
    * HashPartitioning.partitionIdExpression, evaluated on one literal. */
  private def bucketOf(l: Literal): Int =
    Pmod(new Murmur3Hash(Seq(l)), Literal(snap.nBuckets))
      .eval(InternalRow.empty).asInstanceOf[Int]

  /** Intersection of the bucket sets admitted by each pushed conjunct
    * on the bucket column; None = no bucket constraint. Unsupported
    * shapes constrain nothing (the mayMatch contract: never wrong,
    * just unpruned). */
  private def allowedBuckets(dataFilters: Seq[Expression]): Option[Set[Int]] = {
    val sets = dataFilters.flatMap(bucketsOf)
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  private def bucketsOf(e: Expression): Option[Set[Int]] =
    bucketCol.flatMap { bc =>
      e match {
        case EqualTo(a: Attribute, l: Literal)
          if a.name == bc && l.value != null => Some(Set(bucketOf(l)))
        case EqualTo(l: Literal, a: Attribute)
          if a.name == bc && l.value != null => Some(Set(bucketOf(l)))
        case In(a: Attribute, vs)
          if a.name == bc && vs.nonEmpty && vs.forall {
            case l: Literal => l.value != null
            case _ => false
          } =>
          Some(vs.map(v => bucketOf(v.asInstanceOf[Literal])).toSet)
        // InSet carries raw INTERNAL values (UTF8String/Long/...), the
        // same representation Literal's case-class constructor takes
        case InSet(a: Attribute, vs)
          if a.name == bc && !vs.contains(null) =>
          Some(vs.map(v => bucketOf(Literal(v, a.dataType))).toSet)
        case _ => None
      }
    }

  /** [min, max] of `name` in file `f`, if tracked. Pushed attributes
    * arrive under PHYS names (the scan schema), and stats are keyed by
    * phys too — only the key needs its logical→phys translation. */
  private def range(f: TxTable.AddFile, name: String): Option[(Double, Double)] =
    if (name == snap.physOf(snap.key)) Some((f.minK.toDouble, f.maxK.toDouble))
    else f.stats.get(name)

  /** A pushed literal's value in the unit its column's stats are stored
    * in ([[TxTable]] `AddFile`): timestamps in seconds (their internal
    * micros / 1e6, exactly Spark's timestamp-to-double cast, so stats
    * written by that cast in older manifests compare right too), dates
    * in days, numbers as themselves. Anything else has no unit and
    * never prunes. */
  private def num(l: Literal): Option[Double] = num(l.value, l.dataType)

  private def num(v: Any, t: DataType): Option[Double] = (v, t) match {
    case (us: java.lang.Long, TimestampType | TimestampNTZType) =>
      Some(us.doubleValue / 1e6)
    case (n: java.lang.Number, _) => Some(n.doubleValue)
    case (d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
    case _ => None
  }

  /** Conservative tri-state collapse: false ONLY when the conjunct is
    * provably unsatisfiable over the file's whole stats range. */
  private def mayMatch(f: TxTable.AddFile, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
    case Or(l, r) => mayMatch(f, l) || mayMatch(f, r)
    case EqualTo(a: Attribute, l: Literal) => cmp(f, a, l)(
      (mn, mx, v) => v >= mn && v <= mx)
    case EqualTo(l: Literal, a: Attribute) => cmp(f, a, l)(
      (mn, mx, v) => v >= mn && v <= mx)
    case GreaterThan(a: Attribute, l: Literal) => cmp(f, a, l)(
      (_, mx, v) => mx > v)
    case GreaterThan(l: Literal, a: Attribute) => cmp(f, a, l)(
      (mn, _, v) => v > mn)
    case GreaterThanOrEqual(a: Attribute, l: Literal) => cmp(f, a, l)(
      (_, mx, v) => mx >= v)
    case GreaterThanOrEqual(l: Literal, a: Attribute) => cmp(f, a, l)(
      (mn, _, v) => v >= mn)
    case LessThan(a: Attribute, l: Literal) => cmp(f, a, l)(
      (mn, _, v) => mn < v)
    case LessThan(l: Literal, a: Attribute) => cmp(f, a, l)(
      (_, mx, v) => v < mx)
    case LessThanOrEqual(a: Attribute, l: Literal) => cmp(f, a, l)(
      (mn, _, v) => mn <= v)
    case LessThanOrEqual(l: Literal, a: Attribute) => cmp(f, a, l)(
      (_, mx, v) => v <= mx)
    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      anyIn(f, a, vs.map(v => num(v.asInstanceOf[Literal])))
    case InSet(a: Attribute, vs) => anyIn(f, a, vs.toSeq.map(num(_, a.dataType)))
    case _ => true // unsupported shape: never prune on it
  }

  /** Whether some value of a list may lie in `a`'s range (a value with
    * no unit may). */
  private def anyIn(f: TxTable.AddFile, a: Attribute,
      vs: Seq[Option[Double]]): Boolean = range(f, a.name) match {
    case Some((mn, mx)) if !mn.isNaN && !mx.isNaN =>
      vs.exists(_.forall(d => d >= mn && d <= mx))
    case _ => true
  }

  private def cmp(f: TxTable.AddFile, a: Attribute, l: Literal)(
      sat: (Double, Double, Double) => Boolean): Boolean =
    (range(f, a.name), num(l)) match {
      // NaN anywhere makes every comparison false and would wrongly
      // prune; the writer already omits NaN stats (TxTable), this is
      // defense in depth against hand-written manifests
      case (Some((mn, mx)), Some(v))
        if !mn.isNaN && !mx.isNaN && !v.isNaN => sat(mn, mx, v)
      case _ => true
    }
}
