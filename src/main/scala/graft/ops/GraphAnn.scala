package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{Tables, TxRelation, TxTable}

/** B24 graph-based ANN ("HNSW-lite"): beam search over a k-NN neighbor
  * table — the recall-at-fixed-probe structure IVF/PQ cells cannot give
  * (a probe escapes its entry cell by WALKING, so recall is bounded by
  * graph navigability, not by how many cells were scanned). A faithful
  * HNSW (hierarchical layers, insertion-order long links, mutable
  * adjacency) is an imperative pointer structure with no honest
  * DataFrame shape; what survives the translation to declarative Spark
  * is the part that matters at rest:
  *
  *  - the INDEX is a k-NN edge table (src, nbr, cos_sim, rank ≤ M),
  *    built from the SAME banded random-hyperplane candidate machinery
  *    as q_dedup_cosine, with OCCUPANCY-BOUNDED band keys (6 tables,
  *    bits = ⌈log₂(n/32)⌉ from the seeded generated plane pool — see
  *    the band-scheme section) — candidate generation is equi-joins on
  *    band keys whose cardinality grows with the corpus, so the build
  *    scores O(n·occ) pairs, never Θ(n²/2^bits); the independent
  *    tables cut the space different ways, which is what stitches
  *    neighborhoods across cluster boundaries into one navigable graph
  *    (the role insertion-order long links play in HNSW);
  *  - a QUERY is a HIERARCHICAL entry + L unrolled best-first
  *    expansions: score the probe exactly against a deterministic ~√n
  *    coarse layer (vec_id ≡ 0 mod s, s² ≥ n — the HNSW upper-layer
  *    descent, O(√n) per probe), seed a beam of B from its best, then
  *    expand beam → neighbors through the edge table (equi-join on
  *    src), rescore, re-rank, repeat; the answer is the top-k of
  *    EVERYTHING visited (the ef-style result list, so a good node
  *    found early is never lost to beam churn). The coarse entry is
  *    what scales: a fixed entry set's recall collapses as n grows
  *    (measured 0.97 → 0.53 across one SF step); the √n layer keeps
  *    the walk starting inside the right neighborhood at any corpus
  *    size.
  *
  * Everything is deterministic — rounded cosines before every rank,
  * (score desc, vec_id) tie-breaks — so the DuckDB oracle replays the
  * whole construction exactly: build, walk, and result are pinned by
  * exact match, and recall is MEASURED, not asserted (GraphAnnSpec
  * pins recall@5 vs the brute-force truth ≥ the IVF baseline's on the
  * same probe set).
  *
  * 100 TB shape: the edge table is a standing artifact (built once,
  * maintained INCREMENTALLY with the corpus — see the admission-tier
  * section below: append-only candidate store + read-time top-M,
  * provably row-identical to a rebuild, on hash-bucketed tx tables,
  * the same ACID tier as the dedup indexes), so a query's data cost is
  * L bucket-pruned equi-join probes of B rows each plus B·M scoring
  * lookups — independent of corpus size — and a daily batch's
  * admission cost is O(|batch|·tables·occ): each batch vector's band
  * probe meets ~occ standing rows per table because the store's key
  * cardinality was sized to the corpus (occupancy-bounded bits), so
  * admission is corpus-independent per vector. GraphAnnSpec pins the
  * standing-table walk ≡ the in-query walk and the broadcast shape of
  * every per-hop join; GraphBandScaleSpec pins candidate volume ∝ n
  * across SFs. */
object GraphAnn {

  import VectorForms.{dot, sumSq}

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Graph out-degree M: each node keeps its M best banded candidates. */
  private val Degree = 10
  /** Beam width B kept between hops (the ef dial). The r13 shape was
    * B=16 over a FIXED 8-node entry frontier; the hierarchical entry
    * layer below starts the beam inside the right neighborhood, so
    * B=12 now measures HIGHER recall than the old dial at LESS visited
    * volume — the measured sweep (1-in-20 probes, recall@5 / visited):
    *   sf0.01: fixed-8 B16 0.968/6640 → hier B12 0.984/6063
    *   sf0.1:  fixed-8 B16 0.532/35343 → hier B12 0.668/32905
    * (the fixed frontier's recall COLLAPSES as n grows — 8 arbitrary
    * entries cover ever less of the space — which is the scale
    * argument for the hierarchical entry, not just the constant). */
  private val Beam = 12
  /** Unrolled expansion hops L. */
  private val Hops = 3
  /** Final results per query. */
  private val TopK = 5

  /** Coarse-layer stride: the smallest power of two s with s² ≥ n, so
    * the sampled layer (vec_id ≡ 0 mod s) has between √n/2 and √n
    * nodes. Integer arithmetic — the oracle derives the same s from
    * count(*) via an integer shift series, never float log/sqrt. */
  private[graft] def coarseStride(n: Long): Long = {
    var s = 1L
    while (s * s < n) s *= 2
    s
  }

  // --- occupancy-bounded band scheme -----------------------------------
  // The r12 build froze the dial at 6 tables × 2 bits: 24 distinct band
  // keys TOTAL, so the band self-join scored ~6·n²/8 pairs — more
  // arithmetic than one all-pairs pass, merely partitioned, and a daily
  // batch's admission joined each vector against ~n/4 corpus rows per
  // table (O(|batch|·n)). The fix is the one the MinHash band keys use:
  // key cardinality must GROW with the corpus. bits = ⌈log₂(n/occ)⌉
  // pins expected bucket occupancy at `occ`, so the build's candidate
  // volume is O(tables·n·occ) — linear in n — and a batch vector's
  // band probe meets ~tables·occ standing rows, corpus-independent.
  // Planes come from the seeded generated pool (LlmOps.lshPlanesExt)
  // with a fixed per-table stride, so growing bits never re-assigns
  // planes and the oracle can inline the whole stride and mask j<bits
  // dynamically (LlmOps.bandedCandidatePairsDynCtes replays the SAME
  // clamp from count(*)).

  /** Band tables in the graph build's multi-table OR. */
  private val NTables = 6
  /** Target expected rows per band key (the occupancy bound). */
  private val TargetOcc = 32
  /** Clamp floor (tiny corpora degenerate to few buckets anyway). */
  private val MinBits = 2
  /** Pool ceiling: 26 bits covers n up to 32·2²⁶ ≈ 2·10⁹ vectors per
    * band table before occupancy starts creeping; the pool is generated
    * (seeded), so raising this is a constant edit, not a re-hash. */
  private val MaxBits = 26

  /** `min(MaxBits, max(MinBits, ⌈log₂(n/TargetOcc)⌉))`, computed in
    * integer arithmetic (smallest b with 2^b·occ ≥ n) so it cannot
    * disagree with the oracle's `ceil(log2(...))` at power-of-two
    * boundaries where float log is exact and elsewhere is far from an
    * integer. */
  private[graft] def bitsFor(n: Long): Int = {
    var b = MinBits
    while (b < MaxBits && (1L << b) * TargetOcc < n) b += 1
    b
  }

  /** Per-sfDir memo of the fixture corpus's vector count: the parquet
    * fixture dirs are immutable, so the count — and therefore the
    * entry-layer stride ([[coarseStride]]) and the build's band bits
    * ([[bitsFor]]) — is a constant per sfDir; without the memo every
    * walk invocation (qAnnGraph, recall gates, incr reads) and every
    * graph build paid a full embeddings-scan count() (two jobs) just to
    * size itself (r14 advice). ConcurrentHashMap: the count job runs at
    * most once per key per JVM (computeIfAbsent holds only that bin — a
    * duplicate count under contention would be harmless anyway). */
  private val countMemo = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private def memoStride(e: DataFrame, sfDir: String): Long =
    coarseStride(memoCount(e, sfDir))
  private def memoCount(e: DataFrame, sfDir: String): Long = {
    // key carries the shared recursive content stamp (not the dir's own
    // mtime/length, which is not content-derived for a Spark-written
    // parquet directory) so a regenerated fixture at the same path
    // re-counts instead of serving a stale stride against an oracle
    // that recomputes from the new corpus (review r15); stale keys for
    // the same sfDir are evicted so a corpus-cycling JVM doesn't leak
    val key =
      s"$sfDir:${Housekeeping.contentStamp(s"$sfDir/embeddings.parquet")}"
    if (!countMemo.containsKey(key)) // racy pre-clean: duplicates harmless
      countMemo.keySet().removeIf((k: String) => k.startsWith(s"$sfDir:"))
    countMemo.computeIfAbsent(key, _ => e.count())
  }

  private def planePool = LlmOps.lshPlanesExt(NTables * MaxBits)

  /** Band rows of `e` under the occupancy-bounded scheme at `bits`. */
  private def graphBandKeys(e: DataFrame, bits: Int): DataFrame =
    LlmOps.bandedKeysStrided(e, NTables, bits, MaxBits, planePool)

  /** The build's band rows: the fixture corpus banded at bits derived
    * from its (memoized) count. Their self-join
    * ([[LlmOps.bandCollisions]]) has O(tables·n·occ) volume, pinned ∝ n
    * across SFs by GraphBandScaleSpec. */
  private[graft] def graphBandRows(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.FloatVectorDot.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    graphBandKeys(e, bitsFor(memoCount(e, sfDir)))
  }

  private def cosTo(qv: Column, qnrm: Column): Column =
    round(dot(col("embedding"), qv) / (col("nrm") * qnrm), 6)

  /** The k-NN edge table (src, nbr, cos_sim, rank): per-source top-M
    * over the occupancy-bounded banded candidates ([[graphBandRows]])
    * with BOTH orientations competing for each endpoint's M slots and
    * NO similarity floor (a navigable graph needs every node's best
    * links, close or not). The 6-table OR buys per-edge recall back
    * from what each narrow band key alone would give; the bits clamp
    * keeps the candidate volume O(n·occ) regardless of corpus size —
    * recall is never asserted, it is MEASURED against brute force and
    * the IVF baseline in GraphAnnSpec. */
  /** NN-descent iteration count: each round expands every node's 2-hop
    * frontier of the CURRENT graph, so round r reaches up to 2^r-hop
    * paths of the first cut — the convergence ladder of the published
    * algorithm. Fixed small constant; total refine cost is
    * O(rounds·n·M²). */
  private val DescentRounds = 2

  private[graft] def knnEdges(spark: SparkSession, sfDir: String): DataFrame =
    knnEdgesCkpt(spark, sfDir).df

  /** Build the refined edge table as ONE resident [[Ckpt]]: the first
    * cut and every superseded descent round's table are released as
    * soon as their successor materializes (Ckpt's release discipline),
    * so a build leaves exactly one checkpointed table behind — the
    * returned final graph — however many rounds ran. */
  private def knnEdgesCkpt(spark: SparkSession, sfDir: String): Ckpt =
    descendCkpt(spark,
      firstCut(LlmOps.bandCollisions(graphBandRows(spark, sfDir))),
      nodesOf(spark, sfDir))

  /** Per-src top-[[Degree]] rows of an edge table (src, nbr, cos_sim)
    * with their `rank`, ties broken by nbr. */
  private def topM(edges: DataFrame): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("nbr"))
    edges.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Degree)
  }

  /** The first-cut graph (src, nbr, cos_sim, rank) over scored band
    * collisions (va < vb, one row per table the pair collides in): both
    * orientations of every pair compete for each endpoint's M slots.
    * Both orientations are emitted from the one scoring pass, and the
    * dedupe and the top-M run on ONE src partitioning — no separate
    * pair-dedupe shuffle. */
  private def firstCut(collisions: DataFrame): DataFrame = {
    val both = collisions.select(explode(array(
        struct(col("va").as("src"), col("vb").as("nbr"), col("cos_sim")),
        struct(col("vb").as("src"), col("va").as("nbr"), col("cos_sim"))))
      .as("e")).select("e.*")
    topM(both.repartition(LlmOps.shuffleWidth(collisions.sparkSession),
      col("src")).distinct())
  }

  /** From-scratch refined graph over an ARBITRARY vector frame, banded
    * at the frame's own occupancy bits — the retraction spec's
    * survivor-rebuild truth ([[knnEdges]] is this shape over the full
    * fixture table). Leaves one checkpointed table resident, like
    * [[knnEdges]] (the caller's Ckpt.releaseAll reclaims it). */
  private[graft] def knnEdgesFrom(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    graft.expressions.FloatVectorDot.register(spark)
    val collisions =
      LlmOps.bandCollisions(graphBandKeys(corpus, bitsFor(corpus.count())))
    descendCkpt(spark, firstCut(collisions), nodesFrom(corpus)).df
  }

  /** [[DescentRounds]] chained [[refineBody]] passes, each round's
    * input checkpointed and RELEASED once its successor is resident;
    * the final table comes back as the one surviving Ckpt. Every round
    * checkpoints the same (src, nbr, cos_sim, rank) shape — a round
    * reads only (src, nbr) of its input — so the middle and the final
    * round run one plan and share its generated code. */
  private def descendCkpt(spark: SparkSession, edges0: DataFrame,
      nodes: DataFrame): Ckpt = {
    var cur = Ckpt(edges0)
    for (_ <- 1 to DescentRounds) {
      val next =
        try Ckpt(refineBody(cur.df, nodes))
        catch { case t: Throwable => cur.release(); throw t }
      cur.release()
      cur = next
    }
    cur
  }

  /** (vec_id, embedding, nrm) scoring projection of the corpus;
    * `nodePred` restricts it to a metadata-eligible subset — applied
    * BEFORE the projection so it sits under every scoring join built
    * on top (the filtered walk's selectivity-proportional cost). */
  private def nodesOf(spark: SparkSession, sfDir: String,
      nodePred: Column = lit(true)): DataFrame =
    nodesFrom(Tables.embeddings(spark, sfDir).filter(nodePred))

  /** [[nodesOf]] over an arbitrary (vec_id, embedding, …) frame — the
    * retraction tier's survivor projection. */
  private def nodesFrom(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"),
      sqrt(sumSq(col("embedding"))).as("nrm"))

  /** One NN-DESCENT refinement round (Dong et al., WWW'11: a node's
    * true neighbors are overwhelmingly neighbors-of-neighbors): from
    * the banded first-cut graph `edges0`, take the bidirectional
    * adjacency, expand every node's 2-hop candidate set (≤ (2M)² per
    * node — O(n·M²) total, corpus-size-independent per node), score
    * exactly, and re-rank everything seen into the final top-M
    * (src, nbr, cos_sim, rank). This is
    * what lets the occupancy-bounded band keys stay NARROW at scale:
    * banding only has to land each node in the right NEIGHBORHOOD; the
    * descent round recovers the precise edge set from graph structure
    * instead of from candidate volume. All equi-joins; both engines
    * replay it CTE-for-CTE, and GraphAnnSpec measures the recall it
    * buys (≥ IVF-nprobe2 on shared probes). `edges0` must already be
    * MATERIALIZED (both orientations read it) — [[descendCkpt]] owns the
    * checkpoint-and-release lifecycle.
    *
    * Plan shape: the adjacency is deduplicated once (its exchange is
    * reused by both 2-hop join legs); the 2-hop join keeps its
    * planner-chosen exchanges, so AQE can still split a hub's skewed
    * partition at scale. The candidates (2-hop pairs ∪ adjacency) are
    * then deduped, scored and cut to top-M on ONE src partitioning at
    * the session's shuffle width, so the scoring runs on every core.
    * Every candidate is scored from the embeddings, the adjacency's own
    * pairs included. The generated oracle keeps the stored cosine of an
    * adjacency pair and unions the re-scored 2-hop pairs under DISTINCT;
    * the two agree because a pair re-scores to the identical rounded
    * cosine (same expression over the same embeddings; the product
    * commutes). The node projection is broadcast once and read by both
    * endpoint joins (a ReusedExchange). */
  private def refineBody(edges0: DataFrame, nodes: DataFrame): DataFrame = {
    val adj = edges0.select(col("src"), col("nbr"))
      .union(edges0.select(col("nbr").as("src"), col("src").as("nbr")))
      .distinct()
    val hop2 = adj.as("e1").join(adj.as("e2"), col("e1.nbr") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.nbr").as("nbr"))
      .filter(col("src") =!= col("nbr"))
    val cands = hop2.unionByName(adj)
      .repartition(LlmOps.shuffleWidth(edges0.sparkSession), col("src"))
      .distinct()
    val nSrc = nodes.select(col("vec_id").as("src"),
      col("embedding").as("s_emb"), col("nrm").as("s_nrm"))
    val nNbr = nodes.select(col("vec_id").as("nbr"),
      col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    topM(cands.join(nSrc, "src").join(nNbr, "nbr")
      .select(col("src"), col("nbr"),
        round(dot(col("s_emb"), col("n_emb")) /
          (col("s_nrm") * col("n_nrm")), 6).as("cos_sim")))
  }

  /** Shard count for the SHARDED build demonstration — at 100 TB this
    * is the per-executor-group work split (hundreds); 2 locally proves
    * the shard-then-stitch contract. */
  private val Shards = 2

  /** B24 SHARDED graph build (r15 verdict item 6) — the 100 TB
    * construction shape: the corpus is hash-split, each shard builds
    * its OWN graph independently (banded candidates within the shard,
    * cut to top-M — bounded memory, embarrassingly parallel across
    * executor groups), and the shards are STITCHED by scoring only the
    * cross-shard banded candidates on the boundary. Row-identity with
    * the global build is by the admission tier's own argument, run
    * sideways: every shard bands at the CORPUS-GLOBAL bits, so
    * within-shard ∪ cross-shard collisions = ALL collisions, and a
    * global-top-M neighbor inside a shard ranks ≤ M within the shard
    * too (a shard's candidate set per src is a subset of the global
    * one), so the per-shard cut never drops a globally-needed row.
    * Global top-M over the stitched union therefore equals the global
    * first cut exactly, and the same NN-descent yields the identical
    * refined graph — gated by q_knn_graph's own rebuild oracle
    * (GraphShardSpec pins Spark-side row equality, which subsumes the
    * walk-recall floor). Per-shard build cost ∝ shard (the SCALING
    * row); the stitch is the same banded equi-join volume the global
    * build pays, split into shard-pair-local joins. */
  def qKnnGraphSharded(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.FloatVectorDot.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val bits = bitsFor(memoCount(e, sfDir)) // the band scheme is CORPUS-GLOBAL
    val bandC = (0 until Shards).map { s =>
      Ckpt(graphBandKeys(
        e.filter(pmod(col("vec_id"), lit(Shards)) === s), bits))
    }
    val perShard = bandC.map(kc => firstCut(LlmOps.bandCollisions(kc.df))
      .select(col("src"), col("nbr"), col("cos_sim")))
    val cross = for {
      i <- 0 until Shards
      j <- i + 1 until Shards
    } yield {
      val bc = scoredAgainst(bandC(i).df, bandC(j).df)
      bc.unionByName(bc.select(col("nbr").as("src"), col("src").as("nbr"),
        col("cos_sim")))
    }
    val edges0 = topM((perShard ++ cross).reduce(_ unionByName _))
    val fin = descendCkpt(spark, edges0, nodesOf(spark, sfDir))
    bandC.foreach(_.release()) // edges0 is checkpointed inside descend
    fin.df.orderBy("src", "rank")
  }

  /** Session-scoped memo of the CHECKPOINTED in-query edge table,
    * re-validated through [[Ckpt.isResident]]: an index build
    * amortizes over every query that reads it, so q_knn_graph and
    * q_ann_graph in one session share one build. The residency guard
    * keeps the benchmark honest — LlmBench's between-ops
    * Ckpt.releaseAll unpersists the blocks, which flips isResident and
    * forces the next op to pay its own full build (budgets price
    * full cost by design); it also makes a released memo impossible to
    * read (truncated lineage cannot recompute). */
  private val edgeMemo = scala.collection.mutable.Map[String, Ckpt]()

  /** Memo keys lead with a per-session UUID — identityHashCode is not
    * unique across live sessions (a collision would hand one session a
    * DataFrame bound to another's state). The UUID is assigned through
    * a WeakHashMap (identity semantics — SparkSession does not override
    * equals). Honest scope of the cleanup story: the isResident sweep
    * reclaims memo entries once their blocks are UNPERSISTED (a
    * release(), a supersede, or the harness's Ckpt.releaseAll) — a
    * session dropped WITHOUT releasing keeps its entries resident and
    * therefore pinned, which is [[Ckpt]]'s documented session contract
    * (localCheckpoint blocks live until unpersisted), not something a
    * map can undo. */
  // ONE definition of the per-session UUID device now lives in
  // [[Housekeeping.sessionToken]] (r19: the partsupp memo needed it
  // too); this module keeps its name for the memo-key call sites
  private def sessionKey(spark: SparkSession): String =
    Housekeeping.sessionToken(spark)

  /** Per-key build locks: the memo maps' own monitors are held only for
    * map reads/writes (microseconds); the multi-job Spark BUILDS run
    * under a per-key lock instead, so concurrent sessions — or one
    * session's threads working different keys — never serialize behind
    * one global monitor for the seconds a graph build takes (r13 advice).
    * Same-key racers still serialize (by design: the second one must
    * reuse the first's checkpoint, not duplicate the build). */
  private val keyLocks =
    new java.util.LinkedHashMap[String, Object](64, 0.75f, true) {
      // BOUNDED (review r14): the memo maps evict dead entries, but a
      // lock object per (sessionKey, root) key would otherwise be
      // retained forever in a session-churning JVM. Evicting an idle
      // lock is safe because the memo INSERT step below is race-proof:
      // if two threads ever build the same key under different lock
      // objects, the loser releases its own Ckpt and serves the
      // winner's — duplicate work, never a leak or a stale frame.
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Object]): Boolean = size > 512
    }
  private[graft] def withKeyLock[T](key: String)(body: => T): T = {
    val lock = keyLocks.synchronized {
      keyLocks.computeIfAbsent(key, _ => new Object)
    }
    lock.synchronized(body)
  }

  /** NON-EVICTING lock registry for DESTRUCTIVE build bodies (the
    * delete+rebuild store fixtures): [[keyLocks]]'s LRU eviction is
    * safe only for idempotent memo inserts — two holders of different
    * lock objects for the same key there cost duplicate work; for a
    * delete-then-rebuild of a shared /tmp root they'd cost a torn
    * store (review r15). Bounded by the number of distinct store roots
    * a JVM ever builds (a handful of fixtures), so no eviction is
    * needed or wanted. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def withBuildLock[T](key: String)(body: => T): T =
    buildLocks.computeIfAbsent(key, _ => new Object).synchronized(body)

  private def memoEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val key = s"${sessionKey(spark)}:$sfDir"
    def lookup: Option[DataFrame] = edgeMemo.synchronized {
      edgeMemo.filterInPlace((_, c) => c.isResident) // drop dead entries
      edgeMemo.get(key).collect { case c if c.isResident => c.df }
    }
    lookup.getOrElse(withKeyLock(key) {
      lookup.getOrElse {
        // a superseded entry here is already non-resident (that is
        // the only way past the guard), so nothing leaks. Built under
        // the PER-KEY lock only — the map monitor is not held.
        val c = knnEdgesCkpt(spark, sfDir)
        edgeMemo.synchronized {
          edgeMemo.get(key) match {
            case Some(w) if w.isResident => c.release(); w.df // lost race
            case _ => edgeMemo(key) = c; c.df
          }
        }
      }
    })
  }

  /** The edge table as a `SparkEntry.queries` entry (oracled). */
  def qKnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    memoEdges(spark, sfDir).orderBy("src", "rank")

  /** Session-scoped memo of the CHECKPOINTED bidirectional adjacency
    * for an edge frame, keyed by the edge SOURCE (`tag`) with a
    * CALLER-PROVIDED version stamp: the adjacency is referenced by
    * every one of the walk's L hop joins, and Spark does no
    * cross-subtree CSE — un-materialized, the union+distinct over the
    * full edge table would re-evaluate once per hop. The stamp must
    * come from the source's own change tracking (the tx store's
    * version for standing tables; a constant for the immutable
    * in-query build) — a plan-hash stamp was tried and is
    * identity-unstable (a fresh TxRelation.read canonicalizes around a
    * fresh file-index object, so every call would supersede — and
    * RELEASE — an adjacency that earlier returned walks still
    * reference). Supersede semantics mirror [[readGraph]]'s memo: a
    * frame returned by the walk is valid until its source's edges
    * change — the tier's documented contract. */
  private val adjMemo = scala.collection.mutable.Map[String, (String, Ckpt)]()
  private def memoAdjacency(spark: SparkSession, tag: String, stamp: String,
      edges: DataFrame): DataFrame = {
    val key = s"${sessionKey(spark)}:$tag"
    def lookup: Option[DataFrame] = adjMemo.synchronized {
      adjMemo.filterInPlace((_, e) => e._2.isResident) // drop dead entries
      adjMemo.get(key).collect {
        case (st, c) if st == stamp && c.isResident => c.df
      }
    }
    lookup.getOrElse(withKeyLock(s"adj:$key") {
      lookup.getOrElse {
        val c = Ckpt(edges.select(col("src"), col("nbr"))
          .union(edges.select(col("nbr").as("src"), col("src").as("nbr")))
          .distinct()) // built under the per-key lock, map monitor free
        adjMemo.synchronized {
          adjMemo.get(key) match {
            case Some((st, w)) if st == stamp && w.isResident =>
              c.release(); w.df // lost a rare duplicate-build race
            case prev =>
              prev.foreach(_._2.release()) // supersede stale stamp
              adjMemo(key) = (stamp, c); c.df
          }
        }
      }
    })
  }

  /** Beam search over an edge frame. `edges` may be the in-query
    * [[knnEdges]] relation or a standing (tx) table scan — the walk is
    * identical. `tag` names the edge SOURCE and `stamp` its version
    * for the adjacency memo (one resident adjacency per source,
    * superseded when the stamp moves).
    * Returns (qid, vec_id, cos_sim, rn ≤ TopK). */
  private[graft] def beamSearch(spark: SparkSession, sfDir: String,
      edges: DataFrame, tag: String, stamp: String,
      probePred: Column = col("vec_id") < 3,
      nodePred: Column = lit(true),
      corpus: Option[DataFrame] = None): DataFrame = {
    graft.expressions.FloatVectorDot.register(spark)
    // `corpus` swaps the walk's vector base (nodes, probes, entry
    // stride) for a restricted frame — the retraction tier's survivor
    // set. The default (None) is the full fixture table with the
    // memoized stride.
    val e = corpus.getOrElse(Tables.embeddings(spark, sfDir))
    // `nodePred` is the FILTERED-ANN door: restricting the scoring
    // projection restricts entry points, every beam, every expansion
    // rescore, and the result set to eligible nodes — the predicate is
    // INSIDE the walk (cost ∝ selectivity), not a post-filter on a
    // full result. The adjacency stays the full graph's (one standing
    // artifact serves every predicate); ineligible neighbors fall out
    // at the scoring join, so the walk never pays to score them.
    val nodes = nodesFrom(e.filter(nodePred)) // norm hoisted
    val queries = e.filter(probePred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        sqrt(sumSq(col("embedding"))).as("qnrm"))
    // HIERARCHICAL entry frontier (the HNSW upper-layer recipe): score
    // each query EXACTLY against a deterministic ~√n coarse sample
    // (vec_id ≡ 0 mod s, s² ≥ n) — O(√n) per probe, the cost a true
    // HNSW pays descending its log-scale layers — and let the top-Beam
    // of that seed the base-layer walk. Against the former fixed
    // 8-node entry, the beam starts inside the right neighborhood, so
    // one fewer expansion hop reaches the same measured recall. The
    // query NODE ITSELF is a legitimate waypoint when sampled (an
    // in-corpus probe's own adjacency is the best possible frontier);
    // it is excluded from the final RESULT, not from the walk.
    // a restricted corpus derives its own stride (one cheap count on a
    // bounded frame — production reads it from catalog stats); the full
    // fixture table keeps the per-sfDir memo
    val stride = corpus.fold(memoStride(e, sfDir))(c => coarseStride(c.count()))
    // MATERIALIZE the walk's per-hop candidate pools (r20, guide
    // §2.4/§5): the lazy loop re-referenced each hop's candidate tree
    // from BOTH the next beam and the visited union, so the final plan
    // duplicated every prior hop's subtree combinatorially —
    // q_ann_graph's dumped plan carried 82 parquet scans of the same
    // embeddings table (plans/r20/q_ann_graph_before.txt) and the
    // optimizer re-planned that whole tree per run. Per-hop state is
    // tiny (≤ |probes|·Beam beam rows + the hop's candidates), so each
    // hop checkpoints its candidate pool once (in the loop below) and
    // the final plan reads the entry frontier + Hops materialized
    // frames. The ENTRY frontier itself stays lazy ON PURPOSE: its
    // nodePred filter sitting directly over the scan is the filtered
    // walk's selectivity contract, pinned by RetrievalSpec on THIS
    // query's optimized plan — checkpointing it would hide the pin's
    // evidence for a ~2-evaluation saving of a √n-sample projection.
    // Results are row-identical (the first()-per-key folds pick
    // functionally-determined values — comment below); residency
    // follows the knnEdges discipline (caller's Ckpt.releaseAll).
    val scored0 = nodes.filter(col("vec_id") % stride === 0)
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("qv"), col("qnrm"), col("vec_id"),
        cosTo(col("qv"), col("qnrm")).as("cos_sim"))
    val wBeam = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    def topBeam(scored: DataFrame): DataFrame =
      scored.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= Beam).drop("rn")
    var beam = topBeam(scored0)
    var visited = scored0
    // the walk's adjacency is BIDIRECTIONAL (HNSW links are: an insert
    // repairs both endpoints' lists) — a node is reachable through any
    // node it links to, not only nodes linking to it, which doubles
    // per-hop coverage at the same L·B probe count. Production
    // materializes this closure src-bucketed next to the edge table
    // (one column swap), so the probe stays a bucketed equi-join.
    // Checkpointed once ([[memoAdjacency]]): all L hop joins read the
    // same materialized blocks instead of re-running union+distinct.
    val adjacency = memoAdjacency(spark, tag, stamp, edges)
    for (_ <- 1 to Hops) {
      // expand: frontier → neighbors (equi-join on src — the probe a
      // standing bucketed edge table serves with bucket pruning), then
      // rescore against the query; beam members rejoin the candidate
      // set so the walk never regresses
      val expanded = beam.select(col("qid"), col("qv"), col("qnrm"),
          col("vec_id").as("src"))
        .join(adjacency, "src")
        .select(col("qid"), col("qv"), col("qnrm"), col("nbr").as("vec_id"))
        .distinct()
        .join(nodes, "vec_id")
        .select(col("qid"), col("qv"), col("qnrm"), col("vec_id"),
          cosTo(col("qv"), col("qnrm")).as("cos_sim"))
      val cand = Ckpt(beam.unionByName(expanded)
        .groupBy("qid", "vec_id")
        // qv/qnrm/cos_sim are functionally determined by (qid, vec_id);
        // first-by-key is the cheapest dedup that keeps them
        .agg(first(col("qv")).as("qv"), first(col("qnrm")).as("qnrm"),
          first(col("cos_sim")).as("cos_sim"))).df
      beam = topBeam(cand)
      visited = visited.unionByName(cand)
    }
    val wFinal = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    visited.groupBy("qid", "vec_id").agg(first(col("cos_sim")).as("cos_sim"))
      .filter(col("vec_id") =!= col("qid")) // reported set excludes self
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= TopK)
      .select(col("qid"), col("vec_id"), col("cos_sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** B24 graph-ANN query entry: beam search over the in-query edge
    * relation (fully oracled). The edge build localCheckpoints ONCE
    * (the q_cluster_stats discipline) — each of the L hop joins reads
    * the materialized edges instead of replaying the banded candidate
    * scoring per hop — and is session-shared with q_knn_graph through
    * [[memoEdges]]. */
  def qAnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    // constant stamp: the in-query build is immutable per sfDir fixture
    beamSearch(spark, sfDir, memoEdges(spark, sfDir), s"inquery:$sfDir",
      "immutable")

  /** Build-unique identity of a standing tx store: a 64-bit-class hash
    * of the v0 commit file's bytes. The v0 add-file paths embed freshly
    * drawn UUIDs, so an IN-PLACE REBUILD at the same root (delete +
    * buildAnnStores — the flow the re-band policy prescribes) yields a
    * different identity even though version numbering restarts at 0.
    * r13 advice: a bare max-version stamp would serve such a rebuild
    * the stale memoized graph (same root, same version number, new
    * table) — folding creation identity into every stamp closes it. */
  private def storeIdentity(root: String): String = {
    val v0 = java.nio.file.Paths.get(root, "_log", "00000000.json")
    // a pruned/half-built log is the designed rebuild message, not a
    // raw NoSuchFileException (r14 advice — readBandScheme's treatment)
    require(java.nio.file.Files.exists(v0),
      s"standing store at $root has no v0 commit file ($v0) — the log " +
        "was pruned or the build crashed before its first commit; " +
        "rebuild the store instead of reading through this root")
    val md = java.security.MessageDigest.getInstance("MD5")
    java.util.Base64.getEncoder.encodeToString(
      md.digest(java.nio.file.Files.readAllBytes(v0))).take(12)
  }

  /** The memo stamp for a standing store: creation identity + latest
    * version — moves on every commit AND on every in-place rebuild. */
  private[graft] def storeStamp(root: String): String =
    s"${storeIdentity(root)}:v${TxTable.versions(root).max}"

  /** Persist the edge table as a standing HASH-BUCKETED TX TABLE keyed
    * and bucketed by `src` — the ACID tier the dedup indexes live on;
    * a beam hop's equi-join probe on `src` then reads only the touched
    * buckets and never shuffles the graph. Spec-owned roots only (the
    * oracled query builds in-plan; production builds once per corpus
    * version). */
  private[graft] def buildGraphTable(spark: SparkSession, sfDir: String,
      root: String): Unit =
    TxTable.createBucketed(spark, root, knnEdges(spark, sfDir),
      "src", Seq("src"), 8)

  /** Beam search over the standing tx edge table (GraphAnnSpec pins
    * ≡ [[qAnnGraph]]). */
  private[graft] def qAnnGraphIdx(spark: SparkSession, sfDir: String,
      root: String): DataFrame =
    beamSearch(spark, sfDir, TxRelation.read(spark, root), s"idx:$root",
      storeStamp(root)) // re-derive on commit AND on in-place rebuild

  // ---------------------------------------------------------------------
  // Incremental admission tier — the ANN index's DAILY LOOP, mirroring
  // Incremental's dedup-index architecture: the standing corpus is never
  // re-indexed; a new batch of vectors is admitted with work proportional
  // to the BATCH.
  //
  // Two standing hash-bucketed tx tables:
  //  - EDGE STORE (src, nbr, cos_sim), keyed+bucketed by src — an
  //    APPEND-ONLY candidate store; the graph's top-M cut happens at
  //    READ time as a window over each src's rows, which the bucketed
  //    scan serves with ZERO Exchange (HashPartitioning(src) satisfies
  //    the window's required distribution). Append-only matters: the
  //    tx format's deletion vectors are key-granular, so a
  //    delete-then-reappend of a src's refreshed list would tombstone
  //    the new rows too — the read-time cut gets the same result with
  //    no deletes at all, and [[compactEdgeStore]] (bucket-preserving
  //    per-bucket compaction) sheds out-ranked rows between rebuilds.
  //  - BAND STORE (bkey, vec_id, embedding, nrm), keyed+bucketed by
  //    bkey (the injective band-fold key — LlmOps.bandedKeysStrided): a
  //    batch's candidate partners are ONE bucketed equi-join away,
  //    embeddings carried in-row (the same locality trade Incremental's
  //    signature store makes with its shingle arrays).
  //
  // EXACTNESS: admission appends every batch-involved scored candidate
  // pair (both orientations) and the batch's own band rows. For any
  // src, top-M(build-time top-M ∪ batch-involved candidates) =
  // top-M(all candidates) — dropping below-rank-M corpus-only rows at
  // build can never resurface them in the full ranking, because adding
  // candidates only pushes ranks down. So the incrementally-maintained
  // graph is ROW-IDENTICAL to a from-scratch rebuild, and
  // q_knn_graph_incr / q_ann_graph_incr are gated by the SAME DuckDB
  // oracles as the full-rebuild queries. One scheme caveat: identity
  // additionally needs the store's band bits to equal the rebuild's
  // (bitsFor(corpus) == bitsFor(corpus ∪ batch) — true at every test
  // SF; when a growing corpus crosses a bits boundary, production
  // re-bands via rebuild, the LSH index-versioning norm).
  // ---------------------------------------------------------------------

  /** The corpus/batch split (mirrors Incremental's document split). */
  private def isBatchV: Column = col("vec_id") % 10 >= 8

  /** Directional scored candidates src=a-side: a ⋈ b on the band key,
    * exact rounded cosine, deduped (a pair may collide in several
    * tables). Inputs are [[graphBandKeys]] frames under one scheme. */
  private def scoredAgainst(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a").join(b.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("nbr"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos_sim"))
      .distinct()

  /** The band store's scheme (bits) is FIXED at build time — an LSH
    * index versions its hash scheme: every admitted batch must band
    * with the bits the standing rows were banded with, or the keys
    * don't meet. Persisted as a one-line sidecar next to the band
    * store's tx log; production re-bands via full rebuild when the
    * corpus outgrows the occupancy target (bitsFor(n) > stored bits by
    * ≥2 ⇒ occupancy has crept ≥4× past target). */
  private def writeBandScheme(bandRoot: String, bits: Int): Unit = {
    // written BEFORE the band store's v0 commit (r13 advice): a crash
    // between the two leaves a root with a sidecar but no tx log —
    // which the tx layer already refuses loudly — instead of a
    // valid-looking store whose every admitVectors dies on a raw
    // NoSuchFileException
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(bandRoot))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bandRoot, "_band_scheme"),
      s"tables=$NTables bits=$bits stride=$MaxBits".getBytes("UTF-8"))
  }

  private[graft] def readBandScheme(bandRoot: String): Int = {
    val p = java.nio.file.Paths.get(bandRoot, "_band_scheme")
    // a missing/garbled sidecar is the designed rebuild message, not a
    // raw NoSuchFileException/NoSuchElementException (r13 advice)
    require(java.nio.file.Files.exists(p),
      s"band store at $bandRoot has no _band_scheme sidecar — the store " +
        "predates the scheme format or its build crashed; rebuild the " +
        "stores (buildAnnStores) instead of admitting into this root")
    val line = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    def field(n: String): Int =
      s"$n=(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(
          s"band store at $bandRoot has a garbled _band_scheme sidecar " +
            s"('$line' lacks '$n=') — rebuild the stores (buildAnnStores)"))
    // tables/stride are part of the scheme IDENTITY, not decoration: a
    // binary with different constants (e.g. a raised MaxBits, which
    // changes the per-table plane stride) would band a batch with
    // DIFFERENT hyperplanes than the standing rows were banded with —
    // the equi-join would silently find ~no candidates. Refuse loudly;
    // the store must be rebuilt under the new constants.
    require(field("tables") == NTables && field("stride") == MaxBits,
      s"band store at $bandRoot was built under scheme '$line' but this " +
        s"build uses tables=$NTables stride=$MaxBits — plane assignment " +
        "differs; rebuild the store instead of admitting into it")
    field("bits")
  }

  /** Create the two standing stores from a corpus vector frame, at the
    * occupancy-bounded bits for the CORPUS's size. */
  private[graft] def buildAnnStores(spark: SparkSession, corpus: DataFrame,
      edgeRoot: String, bandRoot: String): Unit = {
    graft.expressions.FloatVectorDot.register(spark)
    val bits = bitsFor(corpus.count())
    val kC = Ckpt(graphBandKeys(corpus, bits))
    val k = kC.df
    val w = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("nbr"))
    TxTable.createBucketed(spark, edgeRoot,
      scoredAgainst(k, k).withColumn("rank", row_number().over(w))
        .filter(col("rank") <= Degree).drop("rank"),
      "src", Seq("src"), 8)
    writeBandScheme(bandRoot, bits) // sidecar BEFORE the store commit:
    // no commit order leaves a committed band store without its scheme
    TxTable.createBucketed(spark, bandRoot,
      k.select(col("bkey"), col("vec_id"), col("embedding"), col("nrm")),
      "bkey", Seq("bkey"), 8)
    kC.release() // both consumers wrote their files above — a rebuild
    // loop must not pin one n·tables band frame per build
  }

  /** Band-scheme drift of a standing store: bitsFor(current corpus) −
    * stored bits. 0 = the scheme still matches the corpus size, so the
    * read-time graph is row-identical to a from-scratch rebuild. ±1 =
    * the tolerated growth window between rebuild points — admission
    * still works, but a rebuild NOW would band differently, so
    * identity-with-rebuild holds only after that rebuild runs (r13
    * advice: surface this at READ time, not only at admission). */
  private[graft] def bandSchemeDrift(bandRoot: String): Int =
    bitsFor(TxTable.countRows(bandRoot) / NTables) - readBandScheme(bandRoot)

  /** Log-once-per-stamp drift warning for the standing-store READ path
    * — production readers learn identity-with-rebuild no longer holds
    * before the next rebuild, instead of a CI oracle run being the
    * first detector. */
  private val driftWarned = scala.collection.mutable.Set[String]()
  private[graft] def warnIfBandDrift(bandRoot: String): Unit = {
    val d = bandSchemeDrift(bandRoot)
    if (d != 0) {
      val key = s"$bandRoot:${storeStamp(bandRoot)}"
      val fresh = driftWarned.synchronized {
        if (driftWarned.size > 512) driftWarned.clear() // bounded; a
        // clear only means one extra warning per store, never a leak
        driftWarned.add(key)
      }
      if (fresh) log.warn(
        s"band store at $bandRoot has band-scheme drift of $d bit(s) " +
          s"(corpus wants bits=${readBandScheme(bandRoot) + d}, store " +
          s"holds bits=${readBandScheme(bandRoot)}): reads stay correct " +
          "under the stored scheme, but a from-scratch rebuild would " +
          "band differently — row-identity-with-rebuild resumes after " +
          "the next rebuild (buildAnnStores at the current corpus size)")
    }
  }

  /** Admit a batch of new vectors: candidates vs the standing band
    * store (one bucketed equi-join — only the batch's band rows
    * shuffle, and each batch band row meets ~occ standing rows, so the
    * join is O(|batch|·tables·occ) regardless of corpus size) plus
    * batch-internal candidates; append both orientations to the edge
    * store and the batch's band rows to the band store. The batch
    * bands with the STORE's bits (the scheme sidecar), not its own
    * size's. Each append is one atomic tx commit; a streaming
    * admission loop passes `txn` = (appId, batchId) to ride
    * [[TxTable.appendBatch]]'s txn watermark — each store records the
    * watermark with its own commit, so a foreachBatch replay (crash
    * between store commit and engine-checkpoint advance) is absorbed
    * per table (GraphDailyLoopSpec pins it, mirroring the dedup
    * indexes' daily loop). */
  private[graft] def admitVectors(spark: SparkSession, batch: DataFrame,
      edgeRoot: String, bandRoot: String,
      txn: Option[(String, Long)] = None): Unit = {
    graft.expressions.FloatVectorDot.register(spark)
    // a replayed admission (foreachBatch restart) whose batch BOTH
    // stores already recorded is a no-op — detect it from the txn
    // watermarks (driver-side log metadata) BEFORE paying the banding
    // jobs below, so replay costs nothing, not a full Spark pass.
    // A partial replay (one store committed, the other not) falls
    // through: appendBatch skips the committed store per-table.
    txn.foreach { case (app, b) =>
      if (Seq(edgeRoot, bandRoot).forall(r =>
          TxTable.snapshot(r).txns.get(app).exists(_ >= b))) return
    }
    val bits = readBandScheme(bandRoot)
    // ENFORCE the documented re-band policy, don't just document it:
    // the store's bits were sized to the corpus at build; once the
    // grown corpus wants bits ≥ stored+2, per-key occupancy has crept
    // ≥4× past target and admission cost is drifting back toward the
    // quadratic this scheme exists to prevent — rebuild (re-band) the
    // stores. Corpus size comes from the band store's own manifest
    // (rows = n·tables, no data scan). One-bit drift is tolerated: it
    // is the normal growth between rebuild points, and identity with
    // the rebuild oracle is re-established by the rebuild itself.
    val corpusN = TxTable.countRows(bandRoot) / NTables
    require(bitsFor(corpusN) < bits + 2,
      s"band store at $bandRoot holds ~$corpusN vectors, wanting " +
        s"bits=${bitsFor(corpusN)} vs the stored scheme's $bits — " +
        "occupancy has crept ≥4× past target; rebuild the stores at " +
        "the current corpus size instead of admitting further")
    val bkC = Ckpt(graphBandKeys(batch, bits))
    val bk = bkC.df
    val corpusK = TxRelation.read(spark, bandRoot)
    val bc = scoredAgainst(bk, corpusK) // batch → corpus
    val cb = bc.select(col("nbr").as("src"), col("src").as("nbr"),
      col("cos_sim")) // corpus → batch (same scores, flipped)
    val bb = scoredAgainst(bk, bk) // batch internal (both orientations)
    def put(root: String, df: DataFrame): Unit = txn match {
      case Some((app, b)) => TxTable.appendBatch(spark, root, app, b, df)
      case None => TxTable.append(spark, root, df)
    }
    put(edgeRoot, bc.unionByName(cb).unionByName(bb))
    put(bandRoot,
      bk.select(col("bkey"), col("vec_id"), col("embedding"), col("nrm")))
    bkC.release() // both appends materialized; a daily loop must not
    // accumulate one resident band frame per admitted batch
  }

  /** Shed out-ranked candidate rows from the standing edge store
    * WITHOUT a rebuild: per-bucket compaction keeping only each src's
    * top-M — read-equivalence is the tier's own exactness argument
    * (adding candidates only pushes ranks DOWN, so a row below rank M
    * can never enter any future top-M; dropping it changes no
    * [[readGraph]] result, now or after any sequence of admissions).
    * Bucket placement survives (value-hashed), txn watermarks survive,
    * and the read-time window scans one file per bucket again instead
    * of every admission batch's appends since the last rebuild. */
  private[graft] def compactEdgeStore(spark: SparkSession,
      edgeRoot: String): Long =
    TxTable.compactBuckets(spark, edgeRoot, { df =>
      val w = Window.partitionBy("src")
        .orderBy(col("cos_sim").desc, col("nbr"))
      df.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= Degree).drop("__rk")
    })

  // ---------------------------------------------------------------------
  // Retraction tier (r15 verdict item 2) — deletion in the standing ANN
  // serving stores. Real corpora SHRINK (takedowns, PII purges, dedup-
  // drop propagation); the admission-only stores would keep serving a
  // deleted document's vectors forever. Three pieces:
  //
  //  - a TOMBSTONE TABLE (vec_id, deleted_at_v) at its own tx root next
  //    to the edge/band stores — ACID commits, (appId, batchId) txn
  //    watermarks, so delete admission is exactly-once like appends;
  //  - RE-LINKING at retraction time: deleting node d leaves every
  //    survivor s whose stored list held (s, d) with a hole its
  //    build-time cut already threw away the filler for (the store
  //    keeps top-M, not all candidates). [[retractVectors]] recomputes
  //    the AFFECTED survivors' full live candidate lists from the band
  //    store (one bucketed equi-join, work ∝ affected·tables·occ —
  //    batch-proportional, each deleted node appears in ~Degree lists)
  //    and appends them; with that, live-stored rows ⊇ every affected
  //    src's survivor top-M again, which restores the tier's exactness
  //    invariant: top-M(live stored) = top-M(survivor candidates) for
  //    EVERY src — unaffected srcs' full-corpus top-M contains no dead
  //    nbr by definition of "affected", so it IS their survivor top-M.
  //  - the TOMBSTONE MASK at serve time: [[readGraphLive]] drops stored
  //    rows touching a dead src/nbr (bucketed anti-joins against the
  //    broadcast-size tombstone scan) and dedups — re-link appends may
  //    duplicate stored rows — before the same top-M cut + descent the
  //    admission tier reads through; the walk runs over SURVIVOR nodes
  //    only (entries, beams, rescoring, results — beamSearch's `corpus`
  //    door), so a deleted vector can neither be served nor waypointed.
  //
  // The contract is the admission tier's, mirrored: the masked,
  // re-linked graph is ROW-IDENTICAL to a from-scratch rebuild over the
  // corpus MINUS the deleted set, and q_ann_graph_deleted is gated by
  // that rebuild's own DuckDB replay (scheme caveat as for adds:
  // bitsFor(survivors) must equal the stored bits — enforced loudly).
  // [[compactEdgeStoreLive]]/[[compactBandStore]] make deletion
  // physical between rebuilds: dead rows leave the files, bucket
  // placement and watermarks survive, and read results are unchanged
  // (GraphRetractSpec pins all of it).
  // ---------------------------------------------------------------------

  /** Create the (empty) tombstone table — call once when the stores are
    * built; retraction then has a watermark-bearing root from batch 1.
    * Schema/creation is the tx layer's shared tombstone contract
    * ([[TxTable.createTombTable]]). */
  private[graft] def createTombTable(tombRoot: String): Unit =
    TxTable.createTombTable(tombRoot, "vec_id")

  /** Retract a batch of vectors from the standing stores: tombstone the
    * ids and RE-LINK the affected survivors (tier comment above). Both
    * writes are atomic tx commits; with `txn` = (appId, batchId) a
    * replayed retraction (foreachBatch restart) is absorbed per table
    * exactly like [[admitVectors]]. The re-link rows are genuine banded
    * candidate pairs with exact scores, so a crash BETWEEN the two
    * commits leaves the store serving the pre-delete graph unchanged
    * (the invariant tolerates extra true candidates), and the replay
    * completes the tombstone side. `deletedAtV` stamps the tombstone
    * rows (the corpus table's commit version in the CDF flow). */
  private[graft] def retractVectors(spark: SparkSession, deleted: DataFrame,
      edgeRoot: String, bandRoot: String, tombRoot: String,
      deletedAtV: Long = 0L,
      txn: Option[(String, Long)] = None): Unit = {
    graft.expressions.FloatVectorDot.register(spark)
    txn.foreach { case (app, b) =>
      if (Seq(edgeRoot, tombRoot).forall(r =>
          TxTable.snapshot(r).txns.get(app).exists(_ >= b))) return
    }
    val tombsPrev = TxRelation.read(spark, tombRoot).select(col("vec_id"))
    // already-dead ids are no-ops: keeps tombstone rows unique, so the
    // manifest row count stays an exact dead-vector count
    val delC = Ckpt(deleted.select(col("vec_id")).distinct()
      .join(tombsPrev, Seq("vec_id"), "left_anti"))
    val del = delC.df
    // affected survivors: any stored row pointing AT a newly-dead nbr
    // (a superset of "dead nbr in the current top-M" — cheap and safe);
    // dead srcs need no re-link, their rows are masked wholesale
    val edges = TxRelation.read(spark, edgeRoot)
    val affected = edges
      .join(del.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("src")).distinct()
      .join(del.select(col("vec_id").as("src")), Seq("src"), "left_anti")
    val allDead = tombsPrev.unionByName(del)
    val liveBand = TxRelation.read(spark, bandRoot)
      .join(allDead, Seq("vec_id"), "left_anti")
    val affBand = liveBand.join(affected.select(col("src").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val relink = scoredAgainst(affBand, liveBand)
    def put(root: String, df: DataFrame): Unit = txn match {
      case Some((app, b)) => TxTable.appendBatch(spark, root, app, b, df)
      case None => TxTable.append(spark, root, df)
    }
    // edge side FIRST: its rows are harmless without the tombstones
    // (true candidates), the reverse order would serve a masked graph
    // with un-filled holes until the replay lands the re-link
    put(edgeRoot, relink)
    put(tombRoot, del.withColumn("deleted_at_v", lit(deletedAtV)))
    delC.release()
  }

  /** The live graph: [[readGraph]]'s read with the tombstone mask and
    * the re-link dedup in front — dead src/nbr rows drop (anti-joins
    * against the tombstone scan), duplicates collapse (the aggregate
    * runs on the src-bucketed scan without an Exchange), then the same
    * top-M cut + descent, over SURVIVOR nodes. Memoized per
    * (edge stamp, tombstone stamp): any retraction or compaction moves
    * a stamp and supersedes the resident graph. */
  private[graft] def readGraphLive(spark: SparkSession, edgeRoot: String,
      tombRoot: String, sfDir: String): DataFrame = {
    val base = s"${sessionKey(spark)}:live:$edgeRoot:$tombRoot:$sfDir"
    val stamp = s"${storeStamp(edgeRoot)}+${storeStamp(tombRoot)}"
    def lookup: Option[DataFrame] = graphMemo.synchronized {
      graphMemo.filterInPlace((_, e) => e._2.isResident)
      graphMemo.get(base).collect {
        case (st, c) if st == stamp && c.isResident => c.df
      }
    }
    lookup.getOrElse(withKeyLock(s"graph:$base") {
      lookup.getOrElse {
        val c = readGraphLiveCkpt(spark, edgeRoot, tombRoot, sfDir)
        graphMemo.synchronized {
          graphMemo.get(base) match {
            case Some((st, w)) if st == stamp && w.isResident =>
              c.release(); w.df
            case prev =>
              prev.foreach(_._2.release())
              graphMemo(base) = (stamp, c); c.df
          }
        }
      }
    })
  }

  private def readGraphLiveCkpt(spark: SparkSession, edgeRoot: String,
      tombRoot: String, sfDir: String): Ckpt = {
    val tombs = TxRelation.read(spark, tombRoot).select(col("vec_id"))
    val live = TxRelation.read(spark, edgeRoot)
      .join(tombs.select(col("vec_id").as("src")), Seq("src"), "left_anti")
      .join(tombs.select(col("vec_id").as("nbr")), Seq("nbr"), "left_anti")
      .select(col("src"), col("nbr"), col("cos_sim")).distinct()
    val w = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("nbr"))
    val edges0 = live.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Degree).drop("rank")
    descendCkpt(spark, edges0, nodesFrom(survivorsOf(spark, sfDir, tombRoot)))
  }

  /** The fixture corpus minus the tombstoned ids (broadcast anti-join —
    * the tombstone table is delete-batch-scale, never corpus-scale). */
  private[graft] def survivorsOf(spark: SparkSession, sfDir: String,
      tombRoot: String): DataFrame =
    Tables.embeddings(spark, sfDir).join(
      TxRelation.read(spark, tombRoot).select(col("vec_id")),
      Seq("vec_id"), "left_anti")

  /** [[compactEdgeStore]] with the tombstone mask: dead src/nbr rows
    * leave the files physically, duplicates collapse, survivors keep
    * their live top-M — read results are unchanged by the tier's
    * exactness argument (a dropped row is dead or out-ranked; neither
    * can enter any future live top-M, because deletions only REMOVE
    * candidates and re-links re-supply from the band store). */
  private[graft] def compactEdgeStoreLive(spark: SparkSession,
      edgeRoot: String, tombRoot: String): Long = {
    val tombs = TxRelation.read(spark, tombRoot).select(col("vec_id"))
    TxTable.compactBuckets(spark, edgeRoot, { df =>
      val w = Window.partitionBy("src")
        .orderBy(col("cos_sim").desc, col("nbr"))
      df.join(tombs.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .join(tombs.select(col("vec_id").as("nbr")), Seq("nbr"), "left_anti")
        .select(col("src"), col("nbr"), col("cos_sim")) // joins reorder
        .distinct()
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= Degree).drop("__rk")
    })
  }

  /** Physical deletion for the band store: drop dead vectors' band
    * rows per bucket (bucket placement is value-hashed on bkey, so a
    * row filter preserves it). After this, future admissions stop
    * generating dead-pair candidates at the source instead of relying
    * on the read mask. */
  private[graft] def compactBandStore(spark: SparkSession,
      bandRoot: String, tombRoot: String): Long = {
    val tombs = TxRelation.read(spark, tombRoot).select(col("vec_id"))
    TxTable.compactBuckets(spark, bandRoot,
      _.join(tombs, Seq("vec_id"), "left_anti")
        .select(col("bkey"), col("vec_id"), col("embedding"), col("nrm")))
  }

  /** The graph as read from the standing edge store: top-M per src at
    * READ time (a window the src-bucketed scan serves without an
    * Exchange) reconstructs the rebuild's first-cut `edges0` exactly —
    * the tier comment's exactness argument — then the SAME
    * [[refineEdges]] descent round runs on it, so the result is
    * row-identical to [[knnEdges]] over the same total vector set.
    * Production materializes the refined graph per corpus version
    * (it is [[buildGraphTable]]'s standing table); the in-query
    * refinement here is what the oracle gates. */
  private[graft] def readGraph(spark: SparkSession, edgeRoot: String,
      sfDir: String): DataFrame = {
    // the memo entry carries the STORE STAMP (creation identity +
    // version): any admission or compaction commits a new version, an
    // in-place rebuild changes the identity, and reading the store then
    // RELEASES the superseded entry's blocks before building the
    // fresh one — resident state stays one graph per store, not one
    // per admission day. A frame returned here is therefore valid
    // until the store's next stamp is read; Ckpt.isResident guards
    // against externally released blocks (same honesty contract as
    // memoEdges). The multi-job descent build runs under a per-key
    // lock, never the map monitor.
    val base = s"${sessionKey(spark)}:$edgeRoot:$sfDir"
    val stamp = storeStamp(edgeRoot)
    def lookup: Option[DataFrame] = graphMemo.synchronized {
      graphMemo.filterInPlace((_, e) => e._2.isResident) // drop dead entries
      graphMemo.get(base).collect {
        case (st, c) if st == stamp && c.isResident => c.df
      }
    }
    lookup.getOrElse(withKeyLock(s"graph:$base") {
      lookup.getOrElse {
        val c = readGraphCkpt(spark, edgeRoot, sfDir)
        graphMemo.synchronized {
          graphMemo.get(base) match {
            case Some((st, w)) if st == stamp && w.isResident =>
              c.release(); w.df // lost a rare duplicate-build race
            case prev =>
              prev.foreach(_._2.release()) // supersede stale
              graphMemo(base) = (stamp, c); c.df
          }
        }
      }
    })
  }

  private val graphMemo =
    scala.collection.mutable.Map[String, (String, Ckpt)]()

  private def readGraphCkpt(spark: SparkSession, edgeRoot: String,
      sfDir: String): Ckpt = {
    val w = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("nbr"))
    val edges0 = TxRelation.read(spark, edgeRoot)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Degree).drop("rank")
    descendCkpt(spark, edges0, nodesOf(spark, sfDir))
  }

  /** Session-idempotent build+admit of the standing stores for the
    * sfDir's corpus/batch split (Incremental.buildIndexes's pid-scoped
    * /tmp hygiene: production persists these once per corpus version
    * and never builds them inside a query). */
  private val builtStores = scala.collection.mutable.Set[String]()
  private[graft] def ensureStores(spark: SparkSession,
      sfDir: String): (String, String) = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "_p" + ProcessHandle.current.pid
    val eroot = s"/tmp/graft_anngraph_e_$tag"
    val broot = s"/tmp/graft_anngraph_b_$tag"
    // membership and the build lock are keyed by the ROOT, not the
    // session: the /tmp stores are per-(sfDir, pid) and SHARED by every
    // session in the JVM — a session-scoped key would let two sessions
    // run delete+rebuild concurrently on the same root (review r15),
    // and would pointlessly rebuild under a session that could be
    // reading. Fast-path reads under the set's monitor (mutable.Set
    // gives no guarantee for a read racing a resize — review r14); the
    // multi-job BUILD runs under the non-evicting per-root build lock
    // so unrelated roots never serialize behind one global monitor.
    val key = eroot
    if (!builtStores.synchronized(builtStores.contains(key)))
      withBuildLock(s"stores:$key") {
      if (!builtStores.synchronized(builtStores.contains(key))) {
        Housekeeping.reapDeadPidDirs(new java.io.File("/tmp"), "graft_anngraph_")
        Seq(eroot, broot).foreach { r =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
        }
        val e = Tables.embeddings(spark, sfDir)
        val corpus = e.filter(!isBatchV)
        // the oracle replays banding over the FULL table at bits derived
        // from its count — identity needs the corpus split to band the
        // same way; fail loudly at fixture build, not as an opaque hash
        // mismatch, if a new SF crosses a bitsFor boundary (r14 advice)
        require(bitsFor(corpus.count()) == bitsFor(e.count()),
          s"fixture split crosses a bitsFor boundary at $sfDir — " +
            "corpus-split bits != full-corpus bits; the incr entries' " +
            "full-rebuild oracles no longer apply at this SF")
        buildAnnStores(spark, corpus, eroot, broot)
        admitVectors(spark, e.filter(isBatchV), eroot, broot)
        builtStores.synchronized(builtStores.add(key))
      }
    }
    (eroot, broot)
  }

  /** Session-idempotent STREAMING-REFRESH fixture (r13 verdict item 6
    * — the GraphDailyLoop contract promoted to an oracled entry):
    * vectors land in a standing corpus TX TABLE over two "days" of
    * append commits; each commit's inserts are consumed INCREMENTALLY
    * off the change feed (TxTable.changes over (v−1, v] — the same
    * per-commit decomposition the tx-cdf streaming source emits; the
    * real StreamingQuery twin is GraphDailyLoopSpec) and admitted into
    * the standing edge/band stores under (appId, version) txn
    * watermarks. Day 1's admission is then REPLAYED — the
    * foreachBatch-restart shape — and must be absorbed wholesale. The
    * end state is gated by the full-rebuild oracle, the tier's whole
    * contract. */
  private def ensureRefreshStores(spark: SparkSession,
      sfDir: String): (String, String) = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "_p" + ProcessHandle.current.pid
    val vroot = s"/tmp/graft_anngraph_rs_v_$tag"
    val eroot = s"/tmp/graft_anngraph_rs_e_$tag"
    val broot = s"/tmp/graft_anngraph_rs_b_$tag"
    // root-keyed membership + non-evicting build lock, as ensureStores
    // (review r15: the roots are shared JVM-wide, not per-session)
    val key = vroot
    if (!builtStores.synchronized(builtStores.contains(key)))
      withBuildLock(s"stores:$key") {
      if (!builtStores.synchronized(builtStores.contains(key))) {
        Housekeeping.reapDeadPidDirs(new java.io.File("/tmp"),
          "graft_anngraph_")
        Seq(vroot, eroot, broot).foreach { r =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
        }
        val e = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        // day 0: standing corpus table + standing stores (scheme fixed
        // at the corpus's occupancy bits — bitsFor(80%·n) == bitsFor(n)
        // is the identity-with-rebuild precondition; ENFORCED below,
        // not just stated, so a new SF that crosses a bitsFor boundary
        // fails loudly at fixture build, not as an opaque oracle
        // mismatch (r14 advice))
        val corpus = e.filter(col("vec_id") % 10 < 8)
        require(bitsFor(corpus.count()) == bitsFor(e.count()),
          s"refresh fixture split crosses a bitsFor boundary at $sfDir " +
            "— day-0 corpus bits != full-corpus bits; the full-rebuild " +
            "oracle no longer applies at this SF")
        TxTable.create(spark, vroot, corpus, "vec_id", nFiles = 4)
        buildAnnStores(spark, corpus, eroot, broot)
        // days 1–2: two more append commits to the corpus table
        TxTable.append(spark, vroot, e.filter(col("vec_id") % 10 === 8),
          nFiles = 2)
        TxTable.append(spark, vroot, e.filter(col("vec_id") % 10 === 9),
          nFiles = 2)
        // the refresh loop: one admission per corpus-table commit,
        // reading EXACTLY that commit's inserts off the change feed —
        // work ∝ the day's batch, the corpus is never re-banded
        val vMax = TxTable.versions(vroot).max
        for (v <- 1L to vMax) {
          val inserts = TxTable.changes(spark, vroot, v - 1, v)
            .filter(col("change_type") === "insert")
            .select(col("vec_id"), col("embedding"))
          admitVectors(spark, inserts, eroot, broot,
            txn = Some(("ann_refresh", v)))
        }
        // replayed day-1 admission (crash between store commit and
        // engine-checkpoint advance): absorbed by the txn watermark
        val ve = TxTable.versions(eroot).max
        val vb = TxTable.versions(broot).max
        admitVectors(spark,
          TxTable.changes(spark, vroot, 0L, 1L)
            .filter(col("change_type") === "insert")
            .select(col("vec_id"), col("embedding")),
          eroot, broot, txn = Some(("ann_refresh", 1L)))
        require(TxTable.versions(eroot).max == ve &&
            TxTable.versions(broot).max == vb,
          "replayed refresh admission was not absorbed")
        builtStores.synchronized(builtStores.add(key))
      }
    }
    (eroot, broot)
  }

  /** The streaming-refresh daily loop's end state as an oracled entry:
    * corpus tx table → per-commit change feed → admission → standing
    * graph, row-identical to a from-scratch rebuild (same oracle as
    * q_knn_graph). */
  def qAnnRefreshStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (eroot, broot) = ensureRefreshStores(spark, sfDir)
    warnIfBandDrift(broot) // reader-side drift surfacing (r14 advice)
    readGraph(spark, eroot, sfDir).orderBy("src", "rank")
  }

  /** [[qKnnGraph]]'s contract through the INCREMENTAL tier: standing
    * stores built on the corpus split, the batch split admitted, the
    * graph read back — gated by the SAME full-rebuild oracle. */
  def qKnnGraphIncr(spark: SparkSession, sfDir: String): DataFrame = {
    val (eroot, broot) = ensureStores(spark, sfDir)
    warnIfBandDrift(broot) // reader-side drift surfacing
    readGraph(spark, eroot, sfDir).orderBy("src", "rank")
  }

  /** [[qAnnGraph]]'s contract over the incrementally-maintained
    * standing graph — same beam walk, same oracle. */
  def qAnnGraphIncr(spark: SparkSession, sfDir: String): DataFrame = {
    val (eroot, broot) = ensureStores(spark, sfDir)
    warnIfBandDrift(broot) // reader-side drift surfacing
    beamSearch(spark, sfDir, readGraph(spark, eroot, sfDir), s"incr:$eroot",
      storeStamp(eroot)) // moves with the store, and with a rebuild
  }

  /** The retraction split: [[isBatchV]]'s corpus side loses 1-in-10
    * vectors — inside the corpus split, disjoint from the admitted
    * batch and from the walk probes (vec_id < 3), sized so
    * bitsFor(survivors) == bitsFor(full) at every shipped SF (enforced
    * loudly at fixture build). Mirrors the SQL oracle's survivor
    * predicate NOT (vec_id % 10 = 7). */
  private def isDeletedV: Column = col("vec_id") % 10 === 7

  /** Session-idempotent DELETE fixture: stores built on the corpus
    * split, batch admitted (the full set is standing, as ensureStores),
    * then the [[isDeletedV]] slice retracted — tombstones + re-link in
    * one exactly-once admission. Own roots: retraction and its memo
    * stamps must not thrash the admission entries' stores. */
  private[graft] def ensureDeleteStores(spark: SparkSession,
      sfDir: String): (String, String, String) = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "_p" + ProcessHandle.current.pid
    val eroot = s"/tmp/graft_anngraph_de_$tag"
    val broot = s"/tmp/graft_anngraph_db_$tag"
    val troot = s"/tmp/graft_anngraph_dt_$tag"
    val key = eroot
    if (!builtStores.synchronized(builtStores.contains(key)))
      withBuildLock(s"stores:$key") {
      if (!builtStores.synchronized(builtStores.contains(key))) {
        Housekeeping.reapDeadPidDirs(new java.io.File("/tmp"),
          "graft_anngraph_")
        Seq(eroot, broot, troot).foreach { r =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
        }
        val e = Tables.embeddings(spark, sfDir)
        val corpus = e.filter(!isBatchV)
        val n = e.count()
        require(bitsFor(corpus.count()) == bitsFor(n),
          s"fixture split crosses a bitsFor boundary at $sfDir — the " +
            "incr entries' full-rebuild oracles no longer apply")
        // the survivor rebuild must band at the STORE's bits, exactly
        // the adds-side scheme caveat — loud at fixture build
        val survivors = n - e.filter(isDeletedV).count()
        require(bitsFor(survivors) == bitsFor(n),
          s"delete fixture crosses a bitsFor boundary at $sfDir — " +
            s"bitsFor($survivors) != bitsFor($n); the survivor-rebuild " +
            "oracle no longer applies at this SF (production re-bands " +
            "via rebuild when a shrinking corpus crosses the boundary)")
        buildAnnStores(spark, corpus, eroot, broot)
        createTombTable(troot)
        admitVectors(spark, e.filter(isBatchV), eroot, broot)
        retractVectors(spark, e.filter(isDeletedV).select(col("vec_id")),
          eroot, broot, troot, deletedAtV = 1L)
        builtStores.synchronized(builtStores.add(key))
      }
    }
    (eroot, broot, troot)
  }

  /** B24 RETRACTION tier (r15 verdict item 2): the beam walk over the
    * standing stores AFTER a delete batch — tombstoned vectors leave
    * the graph (masked + re-linked, [[readGraphLive]]) and the walk
    * (entries, beams, rescoring, results all run over the survivor
    * corpus). Oracle: the full graph build + walk REPLAYED OVER THE
    * SURVIVOR SET — a from-scratch rebuild on the corpus minus the
    * deleted slice, the exact contract the admission tier's oracles
    * pin for adds. */
  def qAnnGraphDeleted(spark: SparkSession, sfDir: String): DataFrame = {
    val (eroot, broot, troot) = ensureDeleteStores(spark, sfDir)
    warnIfBandDrift(broot)
    beamSearch(spark, sfDir, readGraphLive(spark, eroot, troot, sfDir),
      s"live:$eroot", s"${storeStamp(eroot)}+${storeStamp(troot)}",
      corpus = Some(survivorsOf(spark, sfDir, troot)))
  }

  /** B24 FILTERED ANN on the graph tier (r13 verdict item 7 —
    * q_ann_filtered runs over the banded tier only): the SAME beam
    * walk with [[Retrieval.annFilter]]'s metadata predicate pushed
    * INTO the expansion — entry points, beams, rescoring, and results
    * are all eligible-only, so probe cost is proportional to the
    * predicate's selectivity instead of post-filtering a full walk.
    * The adjacency stays the full graph's (one standing artifact
    * serves every predicate; an ineligible neighbor costs an id in a
    * join, never a scoring row). Same contract as q_ann_filtered:
    * probes = vec_id < 3, top-5 among eligible nodes, exact rounded
    * cosines — and the same fidelity caveat, measured in
    * RetrievalSpec: filtering breaks graph navigability roughly in
    * proportion to (1 − selectivity), so heavy filters belong on the
    * banded tier. Fully oracled (the walk CTEs with the predicate
    * folded into the node projection). */
  def qAnnGraphFiltered(spark: SparkSession, sfDir: String): DataFrame =
    beamSearch(spark, sfDir, memoEdges(spark, sfDir), s"inquery:$sfDir",
      "immutable", col("vec_id") < 3, Retrieval.annFilter)

  /** STREAMING-CAPABLE ANN serving core (the retrieval half of the
    * daily loop — [[qAnnRefreshStream]]/admitVectors maintain the
    * store, this serves probes from it): band the probe micro-batch
    * under the STORE's scheme bits, stream-static equi-join against
    * the standing band store (only the probe side is unbounded; the
    * store side is the static index, never re-shuffled), exact rounded
    * cosine, then ONE stateful aggregate — each probe's candidate set
    * folds into its sorted top-[[TopK]] via collect_set + array_sort
    * (no window functions, so the plan is streaming-legal; per-key
    * state is bounded by the scheme's occupancy: ~tables·occ candidate
    * triples per probe). The sort key is an INTEGER micro-unit
    * negation of the rounded cosine — long arithmetic has no −0.0, so
    * cross-engine ordering is exact where a double negation could
    * disagree on exactly-zero cosines. StreamingAnnSpec runs this very
    * plan as a MemoryStream query (complete mode, two deliveries) and
    * pins convergence to the batch entry below. */
  private[graft] def annServeCore(probes: DataFrame, bandStore: DataFrame,
      bits: Int): DataFrame = {
    val pk = graphBandKeys(probes, bits)
    val cand = pk.as("q").join(bandStore.as("c"),
        col("q.bkey") === col("c.bkey") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("vec_id"),
        round(dot(col("q.embedding"), col("c.embedding")) /
          (col("q.nrm") * col("c.nrm")), 6).as("cos_sim"))
    cand
      .groupBy("qid") // the ONE stateful op
      .agg(slice(array_sort(collect_set(struct(
          round(-col("cos_sim") * 1e6, 0).cast("long").as("neg_units"),
          col("vec_id").as("vec_id"),
          col("cos_sim").as("cos_sim")))), 1, TopK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.vec_id").as("vec_id"),
        col("col.cos_sim").as("cos_sim"), (col("pos") + 1).as("rn"))
  }

  /** The serving core as an oracled entry: probes vec_id < 3 against
    * the incrementally-maintained standing band store (the
    * [[ensureStores]] fixture — full vector set admitted, so the
    * oracle replays the banding over the whole embeddings table at the
    * dynamically derived bits). */
  def qStreamAnn(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.FloatVectorDot.register(spark)
    val (_, broot) = ensureStores(spark, sfDir)
    warnIfBandDrift(broot) // reader-side drift surfacing (r14 advice):
    // a drifted scheme de-aligns the oracle's full-corpus-count bits
    // AND grows annServeCore's per-probe state past the occupancy bound
    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    annServeCore(probes, TxRelation.read(spark, broot),
      readBandScheme(broot)).orderBy("qid", "rn")
  }

  /** The recall metric's probe sample (1-in-20, the q_ann_recall
    * device): production dials the rate; truth cost is bounded by the
    * sample (probes × corpus), never corpus². */
  private def recallProbePred: Column = LlmOps.recallProbePred
  private def RecallProbeWhere: String = LlmOps.RecallProbeWhere

  /** B24 QUALITY GATE for the PRODUCTION ANN tiers (r13 verdict item 1
    * — q_ann_recall gates only the known-bad single-table LSH path):
    * recall@`TopK` of the graph beam walk AND of IVF-nprobe2, both
    * measured against probe-sampled brute-force truth, with the SAME
    * search code the serving queries run ([[beamSearch]] /
    * [[LlmOps.annIvfResults]] — only the probe set is a parameter).
    * recall@k here = fraction of the truth top-k pairs present in the
    * tier's own top-k, per probe, folded over the sample. The entire
    * metric — graph build, walk, IVF assignment/probe/search, truth,
    * and the hit fold — is replayed CTE-for-CTE by the DuckDB oracle,
    * so the recall NUMBERS are hash-gated, not just the indexes they
    * measure; GraphAnnSpec restates its recall floors against these
    * oracled values. */
  def qAnnRecallTiers(spark: SparkSession, sfDir: String): DataFrame = {
    graft.expressions.FloatVectorDot.register(spark)
    val nodes = nodesOf(spark, sfDir)
    val probes = nodes.filter(recallProbePred)
      .select(col("vec_id").as("pid"), col("embedding").as("pv"),
        col("nrm").as("pn"))
    val wP = Window.partitionBy("pid")
      .orderBy(col("cos_sim").desc, col("nbr"))
    val truth = nodes.join(broadcast(probes), col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id").as("nbr"),
        round(dot(col("embedding"), col("pv")) /
          (col("nrm") * col("pn")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(wP)).filter(col("rn") <= TopK)
      .select(col("pid"), col("nbr").as("true_nbr"))
    // both tiers searched by their PRODUCTION code paths, probe set
    // swapped in; the graph walk shares the session's one edge build
    val graph = beamSearch(spark, sfDir, memoEdges(spark, sfDir),
        s"inquery:$sfDir", "immutable", recallProbePred)
      .select(col("qid").as("gpid"), col("vec_id").as("gnbr"))
    val ivf = LlmOps.annIvfResults(spark, sfDir, recallProbePred)
      .select(col("qid").as("ipid"), col("vec_id").as("inbr"))
    truth
      .join(graph, col("pid") === col("gpid") &&
        col("true_nbr") === col("gnbr"), "left")
      .join(ivf, col("pid") === col("ipid") &&
        col("true_nbr") === col("inbr"), "left")
      .agg(count(lit(1)).as("truth_pairs"),
        sum(when(col("gnbr").isNotNull, 1L).otherwise(0L))
          .as("graph_hits"),
        sum(when(col("inbr").isNotNull, 1L).otherwise(0L))
          .as("ivf_hits"))
      .select(col("truth_pairs"), col("graph_hits"),
        round(col("graph_hits").cast("double") / col("truth_pairs"), 6)
          .as("graph_recall"),
        col("ivf_hits"),
        round(col("ivf_hits").cast("double") / col("truth_pairs"), 6)
          .as("ivf_recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_graph" -> (qKnnGraph _),
    "q_knn_graph_sharded" -> (qKnnGraphSharded _),
    "q_ann_graph" -> (qAnnGraph _),
    "q_knn_graph_incr" -> (qKnnGraphIncr _),
    "q_ann_graph_incr" -> (qAnnGraphIncr _),
    "q_ann_recall_tiers" -> (qAnnRecallTiers _),
    "q_ann_graph_filtered" -> (qAnnGraphFiltered _),
    "q_ann_refresh_stream" -> (qAnnRefreshStream _),
    "q_ann_graph_deleted" -> (qAnnGraphDeleted _),
    "q_stream_ann" -> (qStreamAnn _))

  /** Shared oracle CTE block: the occupancy-bounded banded candidate
    * pairs — the SQL derives `bits` from `count(*)` with the same
    * clamp as [[bitsFor]] ([[LlmOps.bandedCandidatePairsDynCtes]]) —
    * the first-cut top-M `edges0`, the NN-descent refinement round
    * ([[refineEdges]] CTE-for-CTE: bidirectional adjacency → 2-hop
    * candidates → exact rescoring → final top-M), and the node scoring
    * projection the walk CTEs share. */
  private def graphCtes: String =
    s"""${LlmOps.bandedCandidatePairsDynCtes(NTables, MaxBits, MinBits, TargetOcc)},
       |nodes AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |bidir AS (
       |  SELECT va AS src, vb AS nbr, cos_sim FROM pairs
       |  UNION ALL SELECT vb, va, cos_sim FROM pairs),
       |e0 AS (
       |  SELECT src, nbr, cos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY cos_sim DESC, nbr) AS rank FROM bidir)
       |  WHERE rank <= $Degree),
       |${(1 to DescentRounds)
          .map(i => refineCtes(i, s"e${i - 1}", last = i == DescentRounds))
          .mkString(",\n")},
       |edges AS (
       |  SELECT src, nbr, cos_sim, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY cos_sim DESC, nbr) AS rank FROM ac$DescentRounds)
       |  WHERE rank <= $Degree)""".stripMargin

  /** One [[refineBody]] round as CTEs: `$in` (src, nbr, cos_sim) →
    * `e$i`, via bidirectional adjacency `bd$i`, 2-hop candidates
    * `nc$i`, exact rescoring `ns$i`, and the merged pool `ac$i`. The
    * LAST round stops at `ac$i` — the rank-carrying `edges` cut reads
    * it directly, so no dead `e$i` gets emitted (and, with the blanket
    * MATERIALIZED rewrite, pointlessly evaluated). */
  private def refineCtes(i: Int, in: String, last: Boolean): String = {
    val head =
      s"""bd$i AS (
         |  SELECT DISTINCT src, nbr, cos_sim FROM (
         |    SELECT src, nbr, cos_sim FROM $in
         |    UNION ALL SELECT nbr, src, cos_sim FROM $in)),
         |nc$i AS (
         |  SELECT DISTINCT e1.src AS src, e2.nbr AS nbr
         |  FROM bd$i e1 JOIN bd$i e2 ON e1.nbr = e2.src
         |  WHERE e1.src <> e2.nbr),
         |ns$i AS (
         |  SELECT c.src, c.nbr,
         |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |      / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM nc$i c
         |  JOIN nodes a ON a.vec_id = c.src
         |  JOIN nodes b ON b.vec_id = c.nbr),
         |ac$i AS (
         |  SELECT DISTINCT src, nbr, cos_sim FROM (
         |    SELECT src, nbr, cos_sim FROM bd$i
         |    UNION ALL SELECT src, nbr, cos_sim FROM ns$i))""".stripMargin
    if (last) head
    else head + s""",
       |e$i AS (
       |  SELECT src, nbr, cos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY cos_sim DESC, nbr) AS rank FROM ac$i)
       |  WHERE rank <= $Degree)""".stripMargin
  }

  /** One hop's candidate/beam CTE pair: expand `prevB` through the
    * bidirectional adjacency, rescore against `nodesCte`, dedup by
    * (qid, vec_id), cut back to the beam. `p` prefixes the emitted CTE
    * names so a filtered walk can coexist with the shared builders. */
  private def hopCtes(i: Int, prevB: String, nodesCte: String = "nodes",
      p: String = ""): String =
    s"""${p}c$i AS (
       |  SELECT qid, vec_id, cos_sim FROM $prevB
       |  UNION
       |  SELECT DISTINCT b.qid, n.vec_id,
       |    round(list_sum(list_transform(list_zip(n.embedding, q.qv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (n.nrm * q.qnrm), 6) AS cos_sim
       |  FROM $prevB b
       |  JOIN adjacency g ON g.src = b.vec_id
       |  JOIN $nodesCte n ON n.vec_id = g.nbr
       |  JOIN ${p}qs q ON q.qid = b.qid),
       |${p}b$i AS (
       |  SELECT qid, vec_id, cos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, vec_id) AS rn FROM ${p}c$i)
       |  WHERE rn <= $Beam)""".stripMargin

  /** DuckDB 1.0 inlines CTEs per REFERENCE: through the hop chain
    * (each hop → adjacency → edges → descent rounds → banded pairs)
    * the plane-signature scan would re-evaluate dozens of times —
    * minutes instead of seconds. Every CTE here is straight-line and
    * multi-referenced downstream, so force single evaluation. (`AS (`
    * only ever opens a CTE body in these generated strings — column
    * aliases never parenthesize.) */
  private def materialized(sql: String): String =
    sql.replace(" AS (", " AS MATERIALIZED (")

  private lazy val knnGraphSql: String = materialized(
    s"""WITH $graphCtes
       |SELECT src, nbr, cos_sim, CAST(rank AS INTEGER) AS rank
       |FROM edges ORDER BY src, rank""".stripMargin)

  // the INCR twins are gated by the SAME full-rebuild SQL — the
  // admission tier's whole contract is row-identity with the rebuild
  val oracle: Map[String, String] = Map(
    "q_knn_graph" -> knnGraphSql,
    "q_knn_graph_incr" -> knnGraphSql,
    // shard-then-stitch is row-identical to the global build — the
    // sharded entry carries the SAME rebuild oracle
    "q_knn_graph_sharded" -> knnGraphSql,
    "q_ann_refresh_stream" -> knnGraphSql,
    "q_ann_graph" -> annGraphSql,
    "q_ann_graph_incr" -> annGraphSql,
    "q_ann_graph_deleted" -> annGraphDeletedSql,
    "q_ann_recall_tiers" -> annRecallTiersSql,
    "q_ann_graph_filtered" -> annGraphFilteredSql,
    "q_stream_ann" -> streamAnnSql)

  /** q_stream_ann oracle: the probe-vs-corpus banded candidate join at
    * the dynamically derived bits (the store's scheme — identical by
    * the tier's bits precondition) + per-probe top-K. row_number (cos
    * desc, vec_id) is exactly the Spark side's integer-negated
    * array_sort fold. */
  private lazy val streamAnnSql: String = materialized(
    s"""WITH ${LlmOps.bandedFlatDynCtes(NTables, MaxBits, MinBits, TargetOcc)},
       |scand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id,
       |    round(list_sum(list_transform(list_zip(q.embedding, c.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (q.nrm * c.nrm), 6) AS cos_sim
       |  FROM flat q JOIN flat c
       |    ON q.band = c.band AND q.key = c.key AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 3)
       |SELECT qid, vec_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos_sim DESC, vec_id) AS rn FROM scand)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin)

  /** The beam walk as CTEs over `edges`, probe set parameterized
    * (adjacency → qs → s0 → b0 → hop chain → visited → `walked`, the
    * final per-qid top-[[TopK]]) — shared by the q_ann_graph oracle
    * (probes = vec_id < 3) and the recall metric's oracle (the 1-in-20
    * sample), so the two surfaces replay the SAME walk. */
  private def walkCtes(probeWhere: String, nodesCte: String = "nodes",
      p: String = ""): String =
    s"""adjacency AS (
       |  SELECT DISTINCT src, nbr FROM (
       |    SELECT src, nbr FROM edges
       |    UNION ALL SELECT nbr, src FROM edges)),
       |stride AS (
       |  SELECT min(s) AS s FROM (
       |    SELECT (1::BIGINT << i) AS s
       |    FROM generate_series(0, 31) t(i)) ss
       |  WHERE s * s >= (SELECT count(*) FROM embeddings)),
       |${p}qs AS (
       |  SELECT vec_id AS qid, embedding AS qv,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qnrm
       |  FROM embeddings WHERE $probeWhere),
       |${p}s0 AS (
       |  SELECT q.qid, n.vec_id,
       |    round(list_sum(list_transform(list_zip(n.embedding, q.qv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (n.nrm * q.qnrm), 6) AS cos_sim
       |  FROM $nodesCte n, ${p}qs q
       |  WHERE n.vec_id % (SELECT s FROM stride) = 0),
       |${p}b0 AS (
       |  SELECT qid, vec_id, cos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, vec_id) AS rn FROM ${p}s0)
       |  WHERE rn <= $Beam),
       |${(1 to Hops).map(i => hopCtes(i, s"${p}b${i - 1}", nodesCte, p))
          .mkString(",\n")},
       |${p}visited AS (
       |  SELECT qid, vec_id, cos_sim FROM ${p}s0
       |  ${(1 to Hops)
          .map(i => s"UNION SELECT qid, vec_id, cos_sim FROM ${p}c$i")
          .mkString("\n  ")}),
       |${p}walked AS (
       |  SELECT qid, vec_id, cos_sim, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, vec_id) AS rn
       |    FROM ${p}visited WHERE vec_id <> qid)
       |  WHERE rn <= $TopK)""".stripMargin

  private lazy val annGraphSql: String = materialized(
    s"""WITH $graphCtes,
       |${walkCtes("vec_id < 3")}
       |SELECT qid, vec_id, cos_sim, rn FROM walked ORDER BY qid, rn""".stripMargin)

  /** The Spark-side [[isDeletedV]] slice as SQL — the survivor set's
    * complement, shared by the deleted-walk oracle. (A `def`: the
    * `oracle` map val initializes before later-declared vals and
    * forces this lazily-built SQL during object init.) */
  private def DeletedWhere = "vec_id % 10 = 7"

  /** q_ann_graph_deleted oracle: the IDENTICAL build+walk replay with
    * every `embeddings` read swapped for the survivor CTE (`semb`) —
    * a from-scratch rebuild over the corpus minus the deleted set:
    * bits, nodes, entry stride, and probes all derive from survivors,
    * exactly what the masked/re-linked store + survivor walk serve.
    * The swap is a mechanical FROM-substitution over the shared CTE
    * builders, so the two walks can never drift apart. */
  private lazy val annGraphDeletedSql: String =
    annGraphDeletedSqlWhere(DeletedWhere)

  /** The survivor-rebuild walk SQL for ANY deleted-slice predicate —
    * shared by the q_ann_graph_deleted oracle and the cross-tier
    * retraction capstone (q_retract_e2e), so the two retraction
    * surfaces replay the identical rebuild. */
  private[graft] def annGraphDeletedSqlWhere(deletedWhere: String): String =
    materialized(
      s"""WITH semb AS (SELECT * FROM embeddings WHERE NOT ($deletedWhere)),
         |${s"$graphCtes,\n${walkCtes("vec_id < 3")}"
            .replace("FROM embeddings", "FROM semb")}
         |SELECT qid, vec_id, cos_sim, rn FROM walked ORDER BY qid, rn""".stripMargin)

  /** q_ann_graph_filtered oracle: the same walk with the node
    * projection restricted to the predicate-eligible subset — entry
    * points, every hop's rescoring, and the result cut all read
    * `fnodes`, exactly like the Spark walk's filtered scoring
    * projection. */
  private lazy val annGraphFilteredSql: String = materialized(
    s"""WITH $graphCtes,
       |fnodes AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings WHERE label % 2 = 0),
       |${walkCtes("vec_id < 3", "fnodes", "f")}
       |SELECT qid, vec_id, cos_sim, rn FROM fwalked ORDER BY qid, rn""".stripMargin)

  /** q_ann_recall_tiers oracle: the full graph build + beam walk over
    * the probe sample (shared [[walkCtes]]), the IVF nprobe=2 search
    * over the same sample (CTE-for-CTE the q_ann_ivf oracle with the
    * probe predicate swapped), the brute-force truth, and the hit
    * fold. A truth pair absent from a tier's top-k left-joins to NULL
    * and counts as that tier's miss — exactly like the Spark side. */
  private lazy val annRecallTiersSql: String = materialized(
    s"""WITH $graphCtes,
       |${walkCtes(RecallProbeWhere)},
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |  WHERE vec_id < 8),
       |cdist AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    round(
       |      list_sum(list_transform(e.embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |      - 2 * list_sum(list_transform(list_zip(e.embedding, c.cv),
       |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      + list_sum(list_transform(c.cv,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS d2
       |  FROM embeddings e, cent c),
       |cranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2, cid) AS rn FROM cdist),
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM cranked WHERE rn = 1),
       |iprobes AS (
       |  SELECT vec_id AS qid, embedding AS qv, cid
       |  FROM cranked WHERE $RecallProbeWhere AND rn <= ${LlmOps.IvfNprobe}),
       |iscored AS (
       |  SELECT p.qid, a.vec_id,
       |    round(
       |      list_sum(list_transform(list_zip(a.embedding, p.qv),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(a.embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |        * sqrt(list_sum(list_transform(p.qv,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
       |  FROM assigned a JOIN iprobes p USING (cid)
       |  WHERE a.vec_id <> p.qid),
       |ires AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, vec_id) AS rn FROM iscored)
       |  WHERE rn <= $TopK),
       |tprobes AS (
       |  SELECT vec_id AS pid, embedding AS pv, nrm AS pn FROM nodes
       |  WHERE $RecallProbeWhere),
       |tscored AS (
       |  SELECT p.pid, n.vec_id AS nbr,
       |    round(list_sum(list_transform(list_zip(n.embedding, p.pv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (n.nrm * p.pn), 6) AS cos_sim
       |  FROM nodes n JOIN tprobes p ON n.vec_id <> p.pid),
       |truth AS (
       |  SELECT pid, nbr AS true_nbr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY pid
       |      ORDER BY cos_sim DESC, nbr) AS rn FROM tscored)
       |  WHERE rn <= $TopK)
       |SELECT CAST(count(*) AS BIGINT) AS truth_pairs,
       |  CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS graph_hits,
       |  round(CAST(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS graph_recall,
       |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS ivf_hits,
       |  round(CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS ivf_recall
       |FROM truth t
       |LEFT JOIN walked g ON g.qid = t.pid AND g.vec_id = t.true_nbr
       |LEFT JOIN ires i ON i.qid = t.pid AND i.vec_id = t.true_nbr""".stripMargin)
}
