package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.MinhashKernels
import graft.io.{Tables, TxRelation, TxTable}

/** Incremental-ingestion dedup (SURVEY §2 B23, the ingestion tier) —
  * the shape a 100 TB corpus actually runs DAILY: the standing corpus
  * is never re-deduplicated; only the new batch is checked against it.
  * Exact layer: batch text fingerprints anti-matched against the corpus
  * fingerprint index. Near-dup layer: the SAME 16-minhash/4-band
  * signatures as q_minhash_lsh, but candidates are CROSS-GROUP ONLY
  * (corpus band key × batch band key — batch-internal duplicates are
  * deliberately out of scope here; they're q_minhash_lsh's job on the
  * batch itself), verified with exact Jaccard before any batch doc is
  * dropped.
  *
  * Two physical tiers, same output contract:
  *  - [[qIncrDedup]] recomputes the corpus fingerprint + band relations
  *    per run (the from-scratch benchmark shape);
  *  - [[qIncrDedupIdx]] reads them from STANDING BUCKETED TX TABLES
  *    ([[buildIndexes]] — [[graft.io.TxTable.createBucketed]], hash-
  *    bucketed on the join key, built once per session and persisted
  *    by a production pipeline): each increment shuffles ONLY the
  *    batch; corpus-side rows co-locate by bucket and never move
  *    (BucketedIndexSpec pins the corpus side of the band join to
  *    zero Exchange), and — new in r12 — the index tier now has the
  *    SAME ACID story as the corpus: atomic admission commits, time
  *    travel over index history, exactly-once streaming admission via
  *    the (appId, batchId) txn action. This is the 100 TB daily-ingest
  *    plan demonstrated, not just asserted in comments.
  */
object Incremental {

  private val MP = MinhashKernels.MersennePrime // 2^31 - 1

  /** (doc_id, n, shs, sig) for any (doc_id, text) frame. */
  private[graft] def signatures(d: DataFrame): DataFrame =
    LlmOps.docShinglesFrom(d)
      .select(col("doc_id"), col("n"), col("shs"), LlmOps.minhashSig(col("shs")).as("sig"))

  /** [[signatures]] with the exact-layer md5 fingerprint carried in the
    * SAME stateless projection — the streaming core needs both without
    * re-reading (re-joining) the input stream. */
  private def signaturesWithFp(d: DataFrame): DataFrame =
    d.select(col("doc_id"), md5(col("text")).as("fp"),
        MinhashKernels.docShingles(col("text")).as("shs"))
      .select(col("doc_id"), col("fp"), col("shs"),
        size(col("shs")).as("n"), LlmOps.minhashSig(col("shs")).as("sig"))

  /** (doc_id, band, bkey) LSH band rows from a signature frame. `bkey`
    * FOLDS THE BAND ORDINAL INTO THE HASH (prefix of the concat), so it
    * alone is the complete candidate-join key: equal (band, slice) →
    * equal bkey by construction, and a cross-band md5Long collision
    * (~2⁻⁶⁴, the same assumption the exact layer's md5 fingerprint
    * already makes) could only ever ADD a candidate, which the exact-
    * Jaccard verify layer then filters. A single-column key is what
    * lets the standing band index bucket on ONE column — Spark's
    * bucket-set pruning and requireAllClusterKeysForCoPartition both
    * want the full join key set to equal the bucket column set. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        LlmOps.md5Long(concat_ws(",", lit(b),
          element_at(col("sig"), 4 * b + 1), element_at(col("sig"), 4 * b + 2),
          element_at(col("sig"), 4 * b + 3), element_at(col("sig"), 4 * b + 4)))
          .as("bkey"))
    }: _*)
    sig.select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** The corpus split shared by both tiers: standing corpus vs new
    * batch. private[graft]: the standing BM25 index ([[LexIndex]])
    * runs its daily cycle on the SAME split, so the two tiers' oracle
    * predicates derive from one definition. */
  private[graft] def isBatch: Column = col("doc_id") % 10 >= 8

  /** Jaccard-verified near-dup flags for candidate (cd, bd) pairs, given
    * the two shingle-set relations. */
  private def verifyNear(cand: DataFrame, corpusSh: DataFrame,
      batchSh: DataFrame): DataFrame =
    cand
      .join(corpusSh.select(col("doc_id").as("cd"), col("shs").as("shs_c"),
        col("n").as("nc")), "cd")
      .join(batchSh.select(col("doc_id").as("bd"), col("shs").as("shs_b"),
        col("n").as("nb")), "bd")
      .withColumn("inter", size(array_intersect(col("shs_c"), col("shs_b"))))
      .filter(round(col("inter") / (col("nc") + col("nb") - col("inter")), 6)
        >= 0.2)
      .select(col("bd").as("doc_id"))
      .distinct()
      .withColumn("near_dup", lit(1L))

  /** Final per-batch-doc flag assembly shared by both tiers. */
  private def assemble(exactFlag: DataFrame, nearFlag: DataFrame): DataFrame =
    exactFlag.join(nearFlag, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("near_dup"), lit(0L)).as("near_dup"))
      .withColumn("kept",
        when(col("exact_dup") === 0 && col("near_dup") === 0, 1L).otherwise(0L))
      .orderBy("doc_id")

  /** One row per BATCH doc (doc_id % 10 >= 8): exact-dup flag (corpus
    * fingerprint hit), near-dup flag (verified banded match, Jaccard >=
    * 0.2 — q_minhash_lsh's threshold), and the keep decision.
    *
    * SCOPE — both layers are corpus-vs-batch ONLY: two batch docs with
    * identical (or near-identical) text are BOTH kept here, because
    * batch-internal duplicates are q_dedup_exact / q_minhash_lsh's job
    * run on the batch itself before (or after) this check. Do not read
    * kept=1 as "globally unique" — it means "not a duplicate of the
    * standing corpus". */
  def qIncrDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)

    // --- exact layer: md5 text fingerprints
    val corpusFp = docs.filter(!isBatch).select(md5(col("text")).as("cfp")).distinct()
    val batchFp = docs.filter(isBatch)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val exactFlag = batchFp.join(corpusFp, col("fp") === col("cfp"), "left")
      .groupBy("doc_id")
      .agg(max(when(col("cfp").isNotNull, 1L).otherwise(0L)).as("exact_dup"))

    // --- near-dup layer: banded signatures, corpus × batch candidates
    val sig = signatures(docs)
    val bands = bandsOf(sig)
    val cand = bands.filter(!isBatch).as("c")
      .join(bands.filter(isBatch).as("b"),
        col("c.bkey") === col("b.bkey"))
      .select(col("c.doc_id").as("cd"), col("b.doc_id").as("bd"))
      .distinct()
    val ds = sig.select(col("doc_id"), col("shs"), col("n"))
    assemble(exactFlag, verifyNear(cand, ds, ds))
  }

  /** Bucket count for the standing index tables — at 100 TB this is the
    * corpus's fixed layout parameter (thousands); locally 8 suffices to
    * demonstrate the no-corpus-shuffle plan. */
  private val IdxBuckets = 8

  /** Session-scoped build memo: a bench/verify session calls the indexed
    * query repeatedly; the standing tables are built once (in production
    * they persist across runs and this query never builds them at all).
    * The memo key carries a cheap DATA fingerprint (documents.parquet
    * mtime + size) alongside the session and sfDir: if the driver
    * regenerates testdata mid-session, the indexed/streaming tiers
    * rebuild instead of silently serving a stale corpus while
    * [[qIncrDedup]] recomputes fresh. */
  private val builtIdx =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())

  /** Content stamp of the corpus parquet under `sfDir` — the staleness
    * discriminator for [[builtIdx]], on the same recursive
    * child-file-digest discipline as every other standing-store memo
    * ([[Housekeeping.contentStamp]]): a Spark-written parquet DIRECTORY
    * regenerated in place within one mtime tick still changes the
    * stamp. */
  private def corpusStamp(sfDir: String): String =
    Housekeeping.contentStamp(s"$sfDir/documents.parquet")

  /** Standing-index roots carry a PER-PROCESS discriminator (the pid):
    * two JVMs (e.g. Bench and Verify both touching q_incr_dedup_idx)
    * would otherwise clobber each other's tables mid-query on their
    * respective first builds. Production persists these tables and
    * never builds them inside the query; the pid scoping is purely a
    * shared-/tmp hygiene measure. */
  private def idxRoot(kind: String, sfDir: String): String =
    "/tmp/graft_txidx_" + kind + "_" + sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "_p" + ProcessHandle.current.pid

  /** Materialize the three standing corpus-side relations as BUCKETED
    * TX TABLES ([[TxTable.createBucketed]]) — the persisted form of the
    * per-run relations in [[qIncrDedup]], now on the SAME ACID tier as
    * the corpus itself: atomic commits, time travel, exactly-once
    * streaming admission ([[TxTable.appendBatch]]), and a hash-bucketed
    * layout whose BucketSpec the scan reports, so the daily band/fp
    * joins still read the corpus side with ZERO Exchange:
    *  - fingerprint index (ck, cfp), bucketed by `cfp` (exact layer's
    *    join key; ck = md5Long(cfp) is the integral cluster key the
    *    manifest stats ride);
    *  - band index (doc_id, band, bkey), bucketed by `bkey` (the
    *    band-folded candidate-join key — see [[bandsOf]]);
    *  - signature store (doc_id, n, shs), bucketed by `doc_id` (the
    *    verify join's corpus key).
    * Returns the three table roots. Idempotent per (session, sfDir). */
  private[graft] def buildIndexes(spark: SparkSession, sfDir: String)
      : (String, String, String) = {
    val fpT = idxRoot("fp", sfDir)
    val bandT = idxRoot("band", sfDir)
    val sigT = idxRoot("sig", sfDir)
    val key = s"${System.identityHashCode(spark)}:$sfDir:${corpusStamp(sfDir)}"
    if (!builtIdx.contains(key)) builtIdx.synchronized {
      if (!builtIdx.contains(key)) {
        // reap DEAD processes' pid-scoped index roots while here
        Housekeeping.reapDeadPidDirs(new java.io.File("/tmp"), "graft_txidx_")
        Seq(fpT, bandT, sigT).foreach { t =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
        }
        buildIndexTables(spark, Tables.documents(spark, sfDir)
          .filter(!isBatch), fpT, bandT, sigT)
        builtIdx.add(key)
      }
    }
    (fpT, bandT, sigT)
  }

  /** Create the three standing tx index tables at the given roots from
    * a corpus (doc_id, text) frame — shared by [[buildIndexes]] and the
    * daily-loop specs that need spec-owned index instances. */
  private[graft] def buildIndexTables(spark: SparkSession, corpus: DataFrame,
      fpT: String, bandT: String, sigT: String): Unit = {
    val c = corpus.select(col("doc_id"), col("text"))
    TxTable.createBucketed(spark, fpT,
      c.select(md5(col("text")).as("cfp")).distinct()
        .select(LlmOps.md5Long(col("cfp")).as("ck"), col("cfp")),
      "ck", Seq("cfp"), IdxBuckets)
    val sig = signatures(c)
    // bucket by bkey ALONE — it IS the whole candidate-join key (the
    // band ordinal is folded into the hash, see bandsOf), and Spark's
    // bucket-set pruning engages only on single-column bucket specs —
    // so the layout gives BOTH the zero-Exchange corpus join AND file/
    // bucket pruning for selective probes
    TxTable.createBucketed(spark, bandT, bandsOf(sig),
      "bkey", Seq("bkey"), IdxBuckets)
    TxTable.createBucketed(spark, sigT,
      sig.select(col("doc_id"), col("n"), col("shs")),
      "doc_id", Seq("doc_id"), IdxBuckets)
  }

  /** The standing indexes as DataFrames (bucketed tx scans). */
  private[graft] def readIndexes(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (fpT, bandT, sigT) = buildIndexes(spark, sfDir)
    (TxRelation.read(spark, fpT), TxRelation.read(spark, bandT),
      TxRelation.read(spark, sigT))
  }

  /** [[qIncrDedup]] re-expressed against the STANDING bucketed index
    * tables: identical output contract (same oracle), but the only
    * corpus-sized work left per increment is three bucketed scans — the
    * fingerprint, band, and signature relations arrive pre-partitioned
    * on their join keys, so no corpus row ever crosses the wire again
    * (BucketedIndexSpec pins zero Exchange above the band-index scan).
    * Only the batch is fingerprinted, signed, and shuffled. */
  def qIncrDedupIdx(spark: SparkSession, sfDir: String): DataFrame = {
    val (fpIdx, bandIdx, sigIdx) = readIndexes(spark, sfDir)
    idxFlagsFor(Tables.documents(spark, sfDir).filter(isBatch),
      fpIdx, bandIdx, sigIdx)
  }

  /** The indexed tier's flag pipeline over ANY three corpus-side index
    * relations — shared by the standing tier and the retraction tier's
    * tombstone-masked reads (and IncrRetractSpec's rebuild truth). */
  private[graft] def idxFlagsFor(batch: DataFrame, fpIdx: DataFrame,
      bandIdx: DataFrame, sigIdx: DataFrame): DataFrame = {
    val batchFp = batch.select(col("doc_id"), md5(col("text")).as("fp"))
    val exactFlag = batchFp
      .join(fpIdx, col("fp") === col("cfp"), "left")
      .groupBy("doc_id")
      .agg(max(when(col("cfp").isNotNull, 1L).otherwise(0L)).as("exact_dup"))

    val bsig = signatures(batch)
    val cand = bandIdx.as("c")
      .join(bandsOf(bsig).as("b"), col("c.bkey") === col("b.bkey"))
      .select(col("c.doc_id").as("cd"), col("b.doc_id").as("bd"))
      .distinct()
    val batchSh = bsig.select(col("doc_id"), col("shs"), col("n"))
    assemble(exactFlag, verifyNear(cand, sigIdx, batchSh))
  }

  // ---------------------------------------------------------------------
  // Retraction tier (r15 verdict item 3) — deletion in the standing
  // dedup indexes, the Incremental mirror of the graph-ANN tombstone
  // contract. A dropped corpus document must stop generating dedup
  // candidates: its band and signature rows leave candidate generation,
  // and its text fingerprint leaves the exact layer UNLESS another
  // LIVE corpus document shares the text (the distinct-fp index cannot
  // decide that alone, so the tier adds a DOC→FP sidecar relation —
  // the refcount a deletable distinct index needs). Unlike the graph
  // tier there is no re-link: the dedup indexes are complete relations,
  // not top-M cuts, so retraction is ONE tombstone commit (exactly-once
  // under the (appId, batchId) txn watermark) and the serve-time mask:
  //  - band rows:      anti-join tombstones on doc_id;
  //  - signature rows: anti-join tombstones on doc_id;
  //  - fingerprints:   semi-join against the live docfp keys (cfp of
  //    any non-tombstoned holder) — join multiplicity stays 1, the
  //    streaming core's exact-layer invariant.
  // Physical deletion between rebuilds is per-bucket compaction with
  // the same mask (the band table CANNOT use key-granular MOR deletes:
  // its cluster key is the shared bkey, and a key tombstone would kill
  // other docs' rows in the same band bucket — IncrRetractSpec pins
  // compaction read-equivalence instead). Oracle: the incremental-dedup
  // SQL replayed with the corpus restricted to survivors — a fresh
  // index build on the surviving corpus.
  // ---------------------------------------------------------------------

  /** The retraction split: 1-in-10 corpus docs (inside the corpus side,
    * disjoint from the batch) — mirrors the oracle's survivor
    * predicate. private[graft]: [[LexIndex]]'s delete fixture retracts
    * the SAME slice. */
  private[graft] def isDroppedDoc: Column = col("doc_id") % 10 === 7

  /** DOC→FP sidecar (doc_id, cfp), bucketed by cfp so the live-fp
    * semi-join against the fingerprint index co-partitions. */
  private[graft] def buildDocFpTable(spark: SparkSession, corpus: DataFrame,
      docfpT: String): Unit =
    TxTable.createBucketed(spark, docfpT,
      corpus.select(col("doc_id"), md5(col("text")).as("cfp")),
      "doc_id", Seq("cfp"), IdxBuckets)

  /** Empty tombstone table (doc_id, deleted_at_v) — created with the
    * index build so the first delete batch already has a
    * watermark-bearing root ([[TxTable.createTombTable]]). */
  private[graft] def createDocTombTable(tombT: String): Unit =
    TxTable.createTombTable(tombT, "doc_id")

  /** Retract dropped corpus docs from the standing dedup indexes: ONE
    * tombstone commit (already-dead ids are row-level no-ops, so the
    * tombstone table stays unique-keyed); with `txn` a replayed delete
    * batch is absorbed wholesale — the mirror of [[admitBatch]]'s
    * append absorption. */
  private[graft] def retractDocs(spark: SparkSession, dropped: DataFrame,
      tombT: String, deletedAtV: Long = 0L,
      txn: Option[(String, Long)] = None): Unit = {
    txn.foreach { case (app, b) =>
      if (TxTable.snapshot(tombT).txns.get(app).exists(_ >= b)) return
    }
    val prev = TxRelation.read(spark, tombT).select(col("doc_id"))
    val del = dropped.select(col("doc_id")).distinct()
      .join(prev, Seq("doc_id"), "left_anti")
      .withColumn("deleted_at_v", lit(deletedAtV))
    txn match {
      case Some((app, b)) => TxTable.appendBatch(spark, tombT, app, b, del)
      case None => TxTable.append(spark, tombT, del)
    }
  }

  /** The ONE definition of the live-fingerprint rule (cfp of any
    * non-tombstoned holder) — shared by the masked read and physical
    * compaction so the two can never drift (review r16). Returns
    * (tombstoned doc ids, surviving cfp keys). */
  private def liveFpDerivation(spark: SparkSession, docfpT: String,
      tombT: String): (DataFrame, DataFrame) = {
    val tombs = TxRelation.read(spark, tombT).select(col("doc_id"))
    val liveFpKeys = TxRelation.read(spark, docfpT)
      .join(tombs, Seq("doc_id"), "left_anti")
      .select(col("cfp"))
    (tombs, liveFpKeys)
  }

  /** The three corpus-side index relations under the tombstone mask
    * (tier comment above). */
  private[graft] def liveIndexes(spark: SparkSession, fpT: String,
      bandT: String, sigT: String, docfpT: String, tombT: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (tombs, liveFpKeys) = liveFpDerivation(spark, docfpT, tombT)
    val fpLive = TxRelation.read(spark, fpT)
      .join(liveFpKeys, Seq("cfp"), "left_semi")
    val bandLive = TxRelation.read(spark, bandT)
      .join(tombs, Seq("doc_id"), "left_anti")
    val sigLive = TxRelation.read(spark, sigT)
      .join(tombs, Seq("doc_id"), "left_anti")
    (fpLive, bandLive, sigLive)
  }

  /** Physical deletion for the index tables between rebuilds: per-bucket
    * compaction with the tombstone mask (band/sig by doc_id; docfp by
    * doc_id; the fp table by the live-fp semi-join — run it LAST, after
    * docfp is compacted, or compute against the uncompacted docfp as
    * here, both are read-equivalent). Bucket placement and watermarks
    * survive; reads are unchanged. */
  private[graft] def compactIndexes(spark: SparkSession, fpT: String,
      bandT: String, sigT: String, docfpT: String, tombT: String): Unit = {
    val (tombs, liveFpKeys) = liveFpDerivation(spark, docfpT, tombT)
    TxTable.compactBuckets(spark, bandT,
      _.join(tombs, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("band"), col("bkey")))
    TxTable.compactBuckets(spark, sigT,
      _.join(tombs, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n"), col("shs")))
    TxTable.compactBuckets(spark, fpT,
      _.join(liveFpKeys, Seq("cfp"), "left_semi")
        .select(col("ck"), col("cfp")))
    TxTable.compactBuckets(spark, docfpT,
      _.join(tombs, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("cfp")))
  }

  /** Session-idempotent DELETE fixture: the standing indexes plus the
    * docfp sidecar and tombstone table on their own roots, with the
    * [[isDroppedDoc]] slice retracted exactly-once. */
  private[graft] def buildDeleteIndexes(spark: SparkSession, sfDir: String)
      : (String, String, String, String, String) = {
    val fpT = idxRoot("delfp", sfDir)
    val bandT = idxRoot("delband", sfDir)
    val sigT = idxRoot("delsig", sfDir)
    val docfpT = idxRoot("deldfp", sfDir)
    val tombT = idxRoot("deltomb", sfDir)
    val key =
      s"del:${System.identityHashCode(spark)}:$sfDir:${corpusStamp(sfDir)}"
    if (!builtIdx.contains(key)) builtIdx.synchronized {
      if (!builtIdx.contains(key)) {
        Housekeeping.reapDeadPidDirs(new java.io.File("/tmp"), "graft_txidx_")
        Seq(fpT, bandT, sigT, docfpT, tombT).foreach { t =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
        }
        val corpus = Tables.documents(spark, sfDir).filter(!isBatch)
        buildIndexTables(spark, corpus, fpT, bandT, sigT)
        buildDocFpTable(spark, corpus, docfpT)
        createDocTombTable(tombT)
        retractDocs(spark, corpus.filter(isDroppedDoc).select(col("doc_id")),
          tombT, deletedAtV = 1L, txn = Some(("incr_del", 1L)))
        builtIdx.add(key)
      }
    }
    (fpT, bandT, sigT, docfpT, tombT)
  }

  /** B23 incremental dedup AFTER RETRACTION: the indexed tier's flag
    * pipeline over the tombstone-masked standing indexes — a dropped
    * corpus document generates no exact hit (unless a live twin shares
    * its text) and no banded candidate. Oracle: the incremental-dedup
    * SQL with the corpus restricted to the survivors — a fresh index
    * on the surviving corpus, the same rebuild contract the graph
    * tier's retraction carries. */
  def qIncrDedupDel(spark: SparkSession, sfDir: String): DataFrame = {
    val (fpT, bandT, sigT, docfpT, tombT) = buildDeleteIndexes(spark, sfDir)
    val (fpLive, bandLive, sigLive) =
      liveIndexes(spark, fpT, bandT, sigT, docfpT, tombT)
    idxFlagsFor(Tables.documents(spark, sfDir).filter(isBatch),
      fpLive, bandLive, sigLive)
  }

  /** STREAMING-CAPABLE flag core: per-doc dedup decision for any
    * (doc_id, text) frame — batch OR readStream — against the three
    * STATIC standing-index relations. The pipeline is exactly the shape
    * Structured Streaming permits: stateless per-row signature folds,
    * stream-STATIC left joins against the indexes (never stream-stream),
    * and ONE terminal stateful aggregation (`groupBy(doc_id)` of flag
    * maxima — no chained aggregates, no distinct before it; join
    * duplicates are absorbed by `max`). A micro-batch ingest therefore
    * runs THIS code verbatim (StreamingIncrSpec proves stream ≡ batch
    * row-for-row); the corpus side stays a bucketed static table that
    * never re-shuffles. */
  private[graft] def incrDedupFlags(batchDocs: DataFrame, fpIdx: DataFrame,
      bandIdx: DataFrame, sigIdx: DataFrame): DataFrame = {
    val bsig = signaturesWithFp(batchDocs)
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        LlmOps.md5Long(concat_ws(",", lit(b),
          element_at(col("sig"), 4 * b + 1), element_at(col("sig"), 4 * b + 2),
          element_at(col("sig"), 4 * b + 3), element_at(col("sig"), 4 * b + 4)))
          .as("bkey"))
    }: _*)
    val rows = bsig
      // exact layer: fp index is unique-keyed → join multiplicity 1
      .join(fpIdx, col("fp") === col("cfp"), "left")
      .select(col("doc_id"), col("shs").as("shs_b"), col("n").as("nb"),
        when(col("cfp").isNotNull, 1L).otherwise(0L).as("exact_hit"),
        explode(bandStructs).as("bb"))
      // near layer: candidate cds from the static band index...
      .join(bandIdx.select(col("doc_id").as("cd"), col("bkey")),
        col("bb.bkey") === col("bkey"), "left")
      // ...verified against the static signature store
      .join(sigIdx.select(col("doc_id").as("cd"), col("shs").as("shs_c"),
        col("n").as("nc")), Seq("cd"), "left")
      .withColumn("inter", size(array_intersect(col("shs_c"), col("shs_b"))))
      .withColumn("near_hit",
        when(col("cd").isNotNull &&
          round(col("inter") / (col("nc") + col("nb") - col("inter")), 6) >= 0.2,
          1L).otherwise(0L))
    rows.groupBy("doc_id") // the ONE stateful op
      .agg(max(col("exact_hit")).as("exact_dup"),
        max(col("near_hit")).as("near_dup"))
      .withColumn("kept",
        when(col("exact_dup") === 0 && col("near_dup") === 0, 1L).otherwise(0L))
  }

  /** [[qIncrDedupIdx]]'s contract through the STREAMING-CAPABLE core
    * ([[incrDedupFlags]]) run in batch mode — the third physical tier
    * under the one incremental-dedup oracle, and the code path a
    * readStream micro-batch ingest executes unchanged. */
  def qIncrDedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (fpIdx, bandIdx, sigIdx) = readIndexes(spark, sfDir)
    val batch = Tables.documents(spark, sfDir).filter(isBatch)
      .select(col("doc_id"), col("text"))
    incrDedupFlags(batch, fpIdx, bandIdx, sigIdx)
      .orderBy("doc_id")
  }

  /** The index-MAINTENANCE half of the daily loop: admit the kept batch
    * docs into the standing TX index tables — ATOMIC bucket-preserving
    * appends ([[TxTable.append]] routes bucketed tables through the
    * bucketed writer), so corpus rows STILL never re-shuffle (each day
    * adds ≤ nBuckets files), every admission is one commit with time
    * travel back over it, and a streaming ingest gets exactly-once via
    * [[TxTable.appendBatch]]'s (appId, batchId) txn dedup.
    *  - fingerprints: anti-joined against the existing index first —
    *    the fp relation is unique-keyed by construction and the
    *    streaming core's exact layer relies on join multiplicity 1;
    *  - band and signature rows: keyed by doc_id (new docs), appended
    *    as-is.
    * IndexMaintenanceSpec drives the full cycle: flag batch → admit
    * kept docs → re-present the same batch → everything now exact-dups.
    * `txn` (appId, batchId) engages the exactly-once path. */
  private[graft] def admitBatch(spark: SparkSession, batchDocs: DataFrame,
      keptIds: DataFrame, fpT: String, bandT: String, sigT: String,
      txn: Option[(String, Long)] = None): Unit = {
    val kept = batchDocs.join(keptIds.select("doc_id"), "doc_id")
    def put(root: String, df: DataFrame): Unit = txn match {
      case Some((app, b)) => TxTable.appendBatch(spark, root, app, b, df)
      case None => TxTable.append(spark, root, df)
    }
    put(fpT, kept.select(md5(col("text")).as("cfp")).distinct()
      .join(TxRelation.read(spark, fpT), Seq("cfp"), "left_anti")
      .select(LlmOps.md5Long(col("cfp")).as("ck"), col("cfp")))
    val sig = signatures(kept)
    put(bandT, bandsOf(sig))
    put(sigT, sig.select(col("doc_id"), col("n"), col("shs")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_dedup" -> (qIncrDedup _),
    "q_incr_dedup_idx" -> (qIncrDedupIdx _),
    "q_incr_dedup_stream" -> (qIncrDedupStream _),
    "q_incr_dedup_del" -> (qIncrDedupDel _),
  )

  /** Oracle: the q_minhash_lsh CTE chain with the candidate join
    * restricted to corpus×batch, plus the fingerprint layer. Shared by
    * both tiers — the indexed form is a physical re-plan of the same
    * logical contract. */
  private def incrOracle: String = incrOracleWhere("")

  /** The shared per-doc CTE body (tokenize → shingle → minhash → bands
    * → positioned shingles) over ALL documents — every flags chain
    * filters at candidate/fingerprint time, so ONE body serves any
    * corpus/batch split (private[graft]: the ingest capstone composes
    * a TWO-pass chain over it). */
  private[graft] def incrSharedCtes: String = {
    val sigList = LlmOps.minhashAffine.map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % $MP))"
    }.mkString("[\n    ", ",\n    ", "]")
    // bkey folds the band ordinal into the hash input (Scala bandsOf
    // mirror): '<band>,m1,m2,m3,m4' — one key IS the whole band join
    val bandStructs = (0 until 4).map { b =>
      val cat = (s"'$b'" +: (4 * b until 4 * b + 4).map(j => s"m[${j + 1}]::VARCHAR"))
        .mkString(" || ',' || ")
      s"{'band': $b, 'bkey': ${LlmOps.h15(cat)}}"
    }.mkString("[\n    ", ",\n    ", "]")
    s"""t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |ds AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(t) >= 5 THEN
       |      [array_to_string(t[i:i+4],' ') for i in range(1, len(t)-3)]
       |    ELSE [array_to_string(t, ' ')] END) AS shs FROM t),
       |hsed AS (SELECT doc_id, len(shs) AS n, shs,
       |  list_transform(shs, x -> ${LlmOps.h15("x")} & 2147483647) AS hs FROM ds),
       |sig AS (SELECT doc_id, n, shs, $sigList AS m FROM hsed),
       |bands AS (SELECT doc_id, u.band AS band, u.bkey AS bkey
       |  FROM sig, unnest($bandStructs) AS t2(u)),
       |sh AS (SELECT doc_id, n, unnest(shs) AS sh FROM sig)""".stripMargin
  }

  /** One flags chain over the shared body (CTE names prefixed `p` so
    * two chains can coexist): banded corpus×batch candidates, exact-
    * Jaccard verify, fingerprint layer, per-batch-doc flags ending in
    * `${p}flags (doc_id, exact_dup, near_dup)`. `corpusWhere` /
    * `batchWhere` are predicates templated on DOC. */
  private[graft] def incrFlagsCtes(p: String, corpusWhere: String,
      batchWhere: String): String =
    s"""${p}cand AS (
       |  SELECT DISTINCT c.doc_id AS cd, b.doc_id AS bd
       |  FROM bands c JOIN bands b ON c.bkey = b.bkey
       |  WHERE ${corpusWhere.replace("DOC", "c.doc_id")}
       |    AND ${batchWhere.replace("DOC", "b.doc_id")}),
       |${p}near AS (
       |  SELECT DISTINCT bd FROM (
       |    SELECT cd, bd, c.n AS nc, b.n AS nb, count(*) AS inter
       |    FROM ${p}cand
       |    JOIN sh c ON c.doc_id = cd
       |    JOIN sh b ON b.doc_id = bd AND c.sh = b.sh
       |    GROUP BY cd, bd, c.n, b.n)
       |  WHERE round(inter / (nc + nb - inter), 6) >= 0.2),
       |${p}cfp AS (SELECT DISTINCT md5(text) AS cfp FROM documents
       |  WHERE ${corpusWhere.replace("DOC", "doc_id")}),
       |${p}flags AS (
       |  SELECT d.doc_id AS doc_id,
       |    CASE WHEN ${p}cfp.cfp IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
       |    CASE WHEN ${p}near.bd IS NOT NULL THEN 1 ELSE 0 END AS near_dup
       |  FROM documents d
       |  LEFT JOIN ${p}cfp ON md5(d.text) = ${p}cfp.cfp
       |  LEFT JOIN ${p}near ON ${p}near.bd = d.doc_id
       |  WHERE ${batchWhere.replace("DOC", "d.doc_id")})""".stripMargin

  /** The packed-flag projection of a flags CTE (shared final SELECT). */
  private[graft] def incrFlagsSelect(p: String): String =
    s"""SELECT doc_id, CAST(exact_dup AS BIGINT) AS exact_dup,
       |  CAST(near_dup AS BIGINT) AS near_dup,
       |  CAST(CASE WHEN exact_dup = 0 AND near_dup = 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS kept
       |FROM ${p}flags ORDER BY doc_id""".stripMargin

  /** `corpusExtra` further restricts the corpus side (both the band
    * candidates' c-rows and the fingerprint relation) — the retraction
    * oracle passes the survivor predicate, making the SQL a fresh
    * index build on the surviving corpus. private[graft]: the
    * cross-tier retraction capstone (q_retract_e2e) reuses this
    * builder with its own survivor predicate, so both retraction
    * surfaces replay the identical survivor-index rebuild. */
  private[graft] def incrOracleWhere(corpusExtra: String): String = {
    val cw = "DOC % 10 < 8" +
      (if (corpusExtra.isEmpty) "" else " AND " + corpusExtra)
    s"""WITH $incrSharedCtes,
       |${incrFlagsCtes("", cw, "DOC % 10 >= 8")}
       |${incrFlagsSelect("")}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_incr_dedup" -> incrOracle,
    "q_incr_dedup_idx" -> incrOracle,
    "q_incr_dedup_stream" -> incrOracle,
    // fresh index on the surviving corpus — the retraction contract
    "q_incr_dedup_del" -> incrOracleWhere("DOC % 10 <> 7"),
  )
}
