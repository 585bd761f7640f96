package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ckpt.SnapshotStore
import graft.fetch.{FetchSim, MediaFetchSim}
import graft.functions.{Banding, Canon}
import graft.model.FetchTask
import graft.operators.{Bloom, Extract, Multimodal, NearDup, Sched, Seen}

/** Epoch-loop crawl engine (SURVEY.md §3.1 Spark trace; north rule).
  *
  * One epoch = one batch job (the reference runs one job at a time behind
  * its `is_crawling_running` flag, src/main.py:56-62 — T1): rank the pending
  * frontier per host under the virtual-time politeness budget, fetch the
  * batch through the partition-local simulator, extract + canonicalize
  * outbound URLs, drop seen ones (Bloom prefilter + exact anti-join), and
  * commit frontier/seen/lineage/metrics as one atomic snapshot. Every epoch
  * is resumable: state lives only in the snapshot store.
  *
  * Per-epoch I/O is O(batch), never O(crawl): the seen set appends one
  * epoch partition + Bloom segment per epoch (log-compacted by
  * compactSeen), the frontier appends state-transition deltas resolved
  * merge-on-read ([[FrontierLog]]) — nothing rewrites a crawl-sized table
  * inside an epoch — and between folds the scheduler READS a materialized
  * per-host top-K head instead of the pending frontier (batch-exact; see
  * the head invariant at headBudget), so a normal epoch neither writes nor
  * scans the full frontier. Fold epochs are bounded too: terminal
  * (fetched/failed) rows are absorbing, so each fold renames them out of
  * the staged base into the append-only frontier_archive — the fold
  * resolves O(pending wavefront + delta window) rows, independent of how
  * long the crawl has run, instead of re-writing the ever-growing terminal
  * history every R epochs. The epoch's fetch output is written ONCE (the
  * fetch_result table, durable before any consumer runs) and re-read
  * column-pruned by each consumer instead of pinning a cached copy of the
  * span corpus in executor memory — at a 100x batch the corpus doesn't fit
  * memory, and parquet column pruning means the counters/transitions reads
  * never touch the span bytes at all.
  */
final class EpochDriver(
    spark: SparkSession,
    store: SnapshotStore,
    seed: Long,
    nHosts: Int,
    epochBudgetMs: Long = 10000L,
    saltBuckets: Int = 64,
    maxRetries: Int = 3,
    bloomSegments: Int = 8,
    bloomBitsPerSegment: Int = 1 << 16,
    useBloom: Boolean = true,
    // route the Bloom probe by segment (filterUnseenRouted) instead of
    // broadcasting the merged filter — the ≥10^10.5-URL geometry where no
    // merged array fits anywhere (BASELINE.md). Pure execution strategy:
    // results are identical (EngineSpec), so not resume-guarded
    bloomRouted: Boolean = false,
    // fold seen epoch partitions every N epochs (0 = off); purely a
    // file-count/scan-cost optimization — set semantics are unchanged, so
    // it is NOT part of the resume-guarded config
    compactSeenEvery: Int = 0,
    // fold frontier_base + frontier_delta into a fresh base every N epochs
    // (0 = off): bounds the delta log the merge-on-read view scans, exactly
    // as compactSeen bounds the seen partitions. View-identical, so also
    // not resume-guarded
    compactFrontierEvery: Int = 0,
    // MINOR fold cadence (0 = off): every N epochs, resolve the delta LOG
    // into one compact run (latest row per key — view-identical) and
    // refresh the scheduler head from head ∪ delta (consumed rows swept,
    // fresh rows absorbed, truncated to the remaining validity budget).
    // Touches O(delta window) bytes — never the base — so the MAJOR
    // (base-rewriting, O(pending)) fold cadence can stretch 10-100× while
    // per-epoch scheduler reads stay O(hosts·K + deltas-since-minor): the
    // head refresh re-dates the head, and the head path prunes delta files
    // to seq > head_epoch (parquet min/max skips the folded run entirely).
    // Pure execution strategy (batches, counters, views byte-identical —
    // EngineSpec/FrontierLogSpec), so not resume-guarded
    compactDeltaEvery: Int = 0,
    // cap on APPEND-table parquet roots (frontier_archive, and with the
    // stages on: corpus_sim / neardup_pairs / media_features): each append
    // commits one root, and an unbounded list grows the read plan and
    // every manifest linearly with crawl AGE — corpus_sim is read ON THE
    // EPOCH PATH (the banded probe), so its listing cost recurs every
    // epoch. When a table's root count passes the cap, the newer roots'
    // files are MERGE-MOVED (file renames, zero rewrite — these tables
    // are immutable appends, nothing ever needs resolution) into the
    // PERMANENT oldest root and a second manifest swap retires them — see
    // consolidateAppendRoots for why the target must be the oldest. Pure
    // layout knob (view-identical, FrontierLogSpec/EngineSpec), so not
    // resume-guarded
    archiveMaxRoots: Int = 8,
    // near-dup each epoch's fetched documents against the persisted corpus
    // signature table and append the batch's signatures — the steady-state
    // training-data-pipeline shape NearDup.pairsIncremental models (q49):
    // per-epoch candidate work is O(batch × bucket occupancy), independent
    // of corpus pair density, and the corpus_sim store grows by one
    // (doc_id, simhash) row per fetched doc. RESUME-GUARDED (cfg_neardup):
    // resuming a near-dup store with the flag off would stop accumulating
    // signatures, silently under-reporting every later increment's pairs
    nearDupDocs: Boolean = false,
    // extract REAL media features from each epoch's fetched documents: the
    // corpus is INTERLEAVED text + media spans (BASELINE.json input_hint),
    // and this is the media half of the ingest the near-dup stage performs
    // for the text half — every ok doc's media spans resolve their
    // media_ref through the simulated media fetch (MediaFetchSim; a real
    // deployment GETs the ref) and decode through the production JDK
    // pixel path (Multimodal.decodeImage) into the append-only
    // `media_features` table: one (doc_id, media_ref, offset, dims,
    // embedding) row per media span, the corpus the ANN/near-dup queries
    // consume. RESUME-GUARDED (cfg_media): resuming a media store with
    // the flag off would silently stop accumulating features mid-corpus
    mediaDocs: Boolean = false,
    // schedule from the materialized frontier HEAD (top-K rows per host,
    // committed at each fold) instead of scanning the full pending
    // frontier every epoch. Batch-EXACT, never heuristic — see the head
    // invariant at headBudget — and pure execution strategy
    // (batches, counters and views are byte-identical either way, pinned
    // by FrontierLogSpec), so not resume-guarded. Requires folds to
    // refresh the head; with compactFrontierEvery=0 it never activates
    scheduleFromHead: Boolean = true,
    // K1/K2 external sink (file-backed stand-in for the reference's Kafka
    // REST bridge): per-epoch fresh records batch-emitted from the
    // executors, plus one job-control completion message per epoch.
    // Side-effecting and at-least-once across crash/retry (batch files are
    // idempotent per partition) — the exact-once state stays in the
    // snapshot store, exactly like the reference's DB-vs-Kafka split
    sinkDir: Option[String] = None,
    // Kafka REST bridge base URL (e.g. "http://host:8080"): when set, every
    // emitted batch body is ALSO POSTed to <url>/topics/<topic> with the
    // bridge content type — the reference's actual transport
    // (kafka_producer.py:30-41), at-least-once via task retry. Requires
    // sinkDir (the POST rides the sink's flush path)
    sinkBridge: Option[String] = None) {

  import spark.implicits._
  import EpochDriver.{AppendRootTables, Commit, HeadKeys}

  // the bridge POST rides the sink's flush path: a bridge URL without a
  // sink dir would silently emit NOTHING over the wire — fail loudly at
  // construction instead of leaving the dependency as a comment
  require(sinkBridge.isEmpty || sinkDir.isDefined,
    "sinkBridge requires sinkDir: bridge POSTs ride the sink flush path")

  private val defaultDelayMs = 2500L
  // the INIT robots resolution (a real deployment fetches robots.txt for
  // the seed hosts here): init commits these rows as the versioned `robots`
  // store table, and every later epoch re-resolves robots FROM THE STORE —
  // a mid-crawl update (stageRobotsUpdate) or a resume in a fresh JVM both
  // see the table, never this generator
  private val robotsRows =
    Sched.robotsFor((0 until nHosts).map(graft.gen.SimWeb.hostName), seed)
  private val robots = Sched.robotsDf(spark, robotsRows)

  /** Exact floor of every delay the scheduler can see under `rows`: known
    * hosts carry their robots delay, unknown hosts coalesce to
    * `defaultDelayMs`. The per-host window pre-cut in rankAndBudget is
    * exact only for a true floor, so it is DERIVED from the actual delay
    * rows rather than trusting the Sched.MinCrawlDelayMs generator
    * constant — retuning either delay source can never silently starve
    * rows past the cut.
    */
  private def floorOf(rows: Seq[(String, Long, Seq[String])]): Long =
    math.min(defaultDelayMs, rows.map(_._2).minOption.getOrElse(defaultDelayMs))

  private val minDelayFloorMs: Long = floorOf(robotsRows)

  /** Per-host upper bound on rows any single epoch can schedule AT INIT —
    * the shared Sched.budgetCut definition (head exactness requires the
    * sizing/validity math and rankAndBudget to use the same value, not two
    * copies of a formula). Epochs recompute the cut from the floor of the
    * robots rows in effect; a head records the cut it was built under
    * (`head_cut`) and is invalidated when the cut changes.
    */
  private val cutRows: Long = Sched.budgetCut(epochBudgetMs, minDelayFloorMs)

  /** Output file count for a table of about `rows` rows: ~1M rows per
    * file, capped at the session parallelism, so a small epoch writes one
    * file instead of one near-empty file per shuffle partition — committed
    * bytes scale with the batch, not with file-count constants
    * (FrontierLogSpec pins the byte ratio).
    */
  private def filesFor(rows: Long): Int =
    math.max(1L, math.min(rows / 1000000L + 1,
      spark.sparkContext.defaultParallelism.toLong)).toInt

  /** The head-validity rule. A head of K rows/host built at epoch `he`
    * still contains every host's true top-cut at epoch e iff
    * K >= (e - he) * cut: each epoch consumes at most `cut` rows per host,
    * rows only leave pending by being scheduled (so their transitions are
    * in the delta), and scores never rise. Returns (he, K - (e - he) * cut)
    * — the budget the head has left at `epoch` — or None when the manifest
    * carries no head or the head was built under a different cut (per-host
    * consumption bounds computed under one cut are meaningless under
    * another). The scheduler may read the head iff the remainder is >= 0;
    * a minor fold may refresh it iff the remainder is >= cut (the
    * refreshed head must serve at least the next epoch).
    */
  private def headBudget(c: Map[String, Long], epoch: Long,
      cut: Long): Option[(Long, Long)] =
    for {
      he <- c.get("head_epoch")
      hk <- c.get("head_k")
      if c.get("head_cut").contains(cut)
    } yield (he, hk - (epoch - he) * cut)

  private def headMeta(epoch: Long, k: Long, cut: Long): Map[String, Long] =
    Map("head_epoch" -> epoch, "head_k" -> k, "head_cut" -> cut)

  /** Queue a robots refresh (new (host, crawl_delay_ms, disallow) rows —
    * the reference re-fetches robots.txt mid-crawl; the engine analog is a
    * staged replacement of the versioned `robots` table). Takes effect at
    * the NEXT runEpoch: that epoch schedules under the new rows and commits
    * them (with the new delay floor) into its snapshot, so the update
    * survives resume. A floor change changes the budget cut, which
    * invalidates the materialized scheduler head (`head_cut` check) — the
    * next epochs take the exact full-view path until a fold rebuilds it.
    */
  def stageRobotsUpdate(rows: Seq[(String, Long, Seq[String])]): Unit =
    stagedRobots.set(Some(rows))

  // AtomicReference, not a volatile var: the post-commit clear must be a
  // compareAndSet — a plain check-then-assign could observe its own staged
  // value, lose the race to a concurrent stageRobotsUpdate, and then wipe
  // the NEW update with its assignment (a silently lost robots refresh)
  private val stagedRobots =
    new java.util.concurrent.atomic.AtomicReference[
      Option[Seq[(String, Long, Seq[String])]]](None)
  // per-driver read-through cache of the committed robots table, keyed on
  // the manifest's path list: the table is tiny but joined twice per epoch,
  // and re-reading identical bytes every epoch would pay footer costs for
  // nothing. Invalidation is exact — a robots replacement changes the paths
  @volatile private var robotsCache: Option[(Seq[String], DataFrame)] = None

  /** Which source the last runEpoch scheduled from ("head" | "full") —
    * test/ops visibility for the head fast path.
    */
  @volatile private[graft] var lastSchedSource: String = "none"

  /** Engine parameters that define crawl semantics, persisted into every
    * snapshot manifest and require-matched on resume: re-invoking with
    * different CLI args would otherwise silently continue the crawl under
    * different scheduling/dedup semantics (and mismatched Bloom geometry
    * would mis-route segment probes).
    */
  private val cfg: Map[String, Long] = Map(
    "cfg_seed" -> seed,
    "cfg_n_hosts" -> nHosts.toLong,
    "cfg_epoch_budget_ms" -> epochBudgetMs,
    "cfg_salt_buckets" -> saltBuckets.toLong,
    "cfg_max_retries" -> maxRetries.toLong,
    "cfg_bloom_segments" -> bloomSegments.toLong,
    "cfg_bloom_bits" -> bloomBitsPerSegment.toLong,
    "cfg_bloom_hash_version" -> Bloom.HashVersion,
    "cfg_neardup" -> (if (nearDupDocs) 1L else 0L),
    "cfg_media" -> (if (mediaDocs) 1L else 0L),
    "cfg_store_layout" -> EpochDriver.StoreLayoutVersion)

  /** Refuse to resume a snapshot whose config differs from this driver's
    * or that lacks a cfg key. A missing key means the store was written by
    * code older than the key: its meaning cannot be known (a v1-hashed
    * seen_bloom probed with v2 hashes returns false negatives — seen URLs
    * would re-enter the frontier as fresh), so it is refused, never
    * defaulted. Both errors name the key.
    */
  private def requireCfgMatch(counters: Map[String, Long]): Unit =
    cfg.foreach { case (k, v) =>
      val pv = counters.get(k)
      require(pv.contains(v), pv.fold(s"resume refused: snapshot has no " +
        s"$k (written by an older store layout)")(p =>
        s"resume config mismatch: $k snapshot=$p, this driver=$v"))
    }

  /** Initialize snapshot v0 from the ordered seed list. */
  def init(seedUrls: Seq[String]): Unit = {
    require(store.latest().isEmpty, "store already initialized")
    val raw = seedUrls.toDF("url")
    val canoned = Canon.canonicalize(raw, "url", "https://unknown.example.com")
      .filter(Canon.isHttp(col("canon_url")))
      .select("canon_url", "host").distinct()
    val frontier = Sched.allowed(canoned, robots, defaultDelayMs)
      .select(col("canon_url"), col("host"),
        lit(0).as("depth"), lit(1.0).as("score"),
        lit("pending").as("state"), lit(0).as("retry_count"),
        lit(0L).as("discovered_epoch"), lit(0L).as("seq"))
    val seen = frontier.select("canon_url")
    // bucketed seen append is idempotent per epoch (dynamic partition
    // overwrite), so writing it before the manifest commit preserves
    // all-or-nothing resume semantics: an uncommitted epoch partition is
    // both invisible to readers (epoch gate) and overwritten on re-run
    store.appendSeen(seen, 0L)
    // every seed row starts pending: the exact pending_rows baseline the
    // per-epoch arithmetic builds on
    val nSeeds = frontier.count()
    // the head exists from epoch 0 (same slice a fold would build): the
    // first fold-cadence window of epochs schedules from O(hosts·K) rows
    // too, instead of scanning the full seed frontier until the first fold
    val headK = (compactFrontierEvery.toLong + 1L) * cutRows
    val headDf =
      if (scheduleFromHead && compactFrontierEvery > 0 && headK > 0 &&
          nSeeds > 0)
        Some(Sched.headSlice(frontier, headK).cache())
      else None
    val headCommit = headDf.filter(h => !h.isEmpty)
    try {
      store.commit(0L,
        replace = Map("frontier_base" -> frontier, "robots" -> robots) ++
          headCommit.map("frontier_head" -> _),
        append = Map(
          "seen_bloom" -> Bloom.buildSegments(seen, "canon_url", bloomSegments, bloomBitsPerSegment)),
        counters = cfg +
          ("seeds" -> nSeeds) +
          ("pending_rows" -> nSeeds) +
          ("robots_floor_ms" -> minDelayFloorMs) ++
          headCommit.map(_ => headMeta(0L, headK, cutRows)).getOrElse(Map.empty),
        partitionedBy = Map("frontier_base" -> "state"))
    } finally headDf.foreach(_.unpersist())
    ()
  }

  /** The LIVE fold window as of manifest `m`: base ∪ delta rows,
    * unresolved. Excludes the terminal archive by construction — archived
    * rows are absorbing and never contend with a live row, so every
    * resolve over this window is O(pending + recent terminals + delta).
    */
  private def frontierAll(m: store.Manifest): DataFrame = {
    val base = store.readTable(m, "frontier_base")
      .getOrElse(sys.error("store has no frontier_base"))
    store.readTable(m, "frontier_delta") match {
      case Some(d) => base.unionByName(d)
      case None => base
    }
  }

  /** Epoch-scale caches and the Bloom broadcast, released when the epoch
    * ends so a failed commit (retried by the caller) cannot leak them.
    */
  private final class EpochScope {
    private val releases =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def onRelease(f: => Unit): Unit = releases += (() => f)
    def cache(df: DataFrame): DataFrame = {
      val c = df.cache()
      onRelease(c.unpersist())
      c
    }
    def release(): Unit = releases.foreach(_())
  }

  /** Run one epoch on top of the latest snapshot; returns epoch metrics.
    * Stages run in order — robots, schedule, fetch, discover, dedup,
    * transition, then the opt-in sink / near-dup / media stages — and each
    * returns the part of the snapshot it changes; the frontier commit
    * policy adds the frontier tables, and the parts go out as ONE commit.
    */
  def runEpoch(): Map[String, Long] = {
    val m = store.latest().getOrElse(sys.error("store not initialized"))
    requireCfgMatch(m.counters)
    val epoch = m.epoch + 1
    val staged = stagedRobots.get()
    val (robotsEpoch, robotsPart) = robotsStage(m, staged)
    val floorMs = robotsPart.counters("robots_floor_ms")
    val cut = Sched.budgetCut(epochBudgetMs, floorMs)
    val scope = new EpochScope
    try {
      val (ranked, deltaAll) = schedule(m, epoch, robotsEpoch, floorMs, cut,
        scope)
      val batch = Sched.fetchBatch(ranked, epoch, saltBuckets,
        spark.sparkContext.defaultParallelism)
      val (fetchDir, fetched) = fetch(batch)
      val okDocs = fetched.filter(col("status") === "ok")
        .select(col("canon_url").as("doc_id"), col("depth"), col("spans"))
      val candDepth = discover(okDocs, robotsEpoch, scope)
      val nDiscovered = candDepth.count()
      val fresh = dedup(m, candDepth, epoch, scope)
      val transitions = transition(ranked, fetched)
      // one batch-sized pass over the post-transition states yields the
      // fetch outcome tallies AND the terminal-failure count the
      // pending_rows arithmetic needs (ok → fetched; error → failed at
      // maxRetries, else still pending with retry_count bumped — errors
      // are exactly failed + still-pending)
      val stateCounts = transitions.groupBy("state").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nFetched = stateCounts.getOrElse("fetched", 0L)
      val nFailed = stateCounts.getOrElse("failed", 0L)
      val nErrors = nFailed + stateCounts.getOrElse("pending", 0L)
      val nEmitted = fresh.count()
      val counters = Map(
        "epoch" -> epoch,
        "fetched" -> nFetched,
        "errors" -> nErrors,
        "discovered" -> nDiscovered,
        "deduped" -> (nDiscovered - nEmitted),
        "emitted" -> nEmitted)
      // pending_rows: exact by the state machine — rows enter pending only
      // as seeds (init) or fresh emissions, and leave only by
      // transitioning to fetched/failed (retries stay pending)
      val pendingRows = m.counters("pending_rows") + nEmitted - nFetched -
        nFailed
      val metricsDf = Seq((epoch, nFetched, nErrors, nDiscovered,
        nDiscovered - nEmitted, nEmitted))
        .toDF("epoch", "fetched", "errors", "discovered", "deduped", "emitted")

      sinkDir.foreach(emitSink(_, fresh, epoch, nEmitted))
      val ndPart =
        if (nearDupDocs) nearDup(m, okDocs, nFetched, epoch, scope) else Commit()
      val mdPart = if (mediaDocs) media(m, okDocs, nFetched) else Commit()

      // seen + its Bloom segments are append-only: each epoch contributes
      // only its fresh URLs; seen goes to the bucketed table
      // (epoch-partitioned, idempotent overwrite — see SnapshotStore),
      // Bloom readers OR-merge segments
      store.appendSeen(fresh.select("canon_url"), epoch)
      val bloomNew = Bloom.buildSegments(fresh.select("canon_url"),
        "canon_url", bloomSegments, bloomBitsPerSegment)
      // Deltas are plain parquet (state as a data column): appended dirs
      // are read as one multi-root table, where hive-style partition
      // inference would reject the multiple roots
      val deltaRows = nFetched + nErrors + nEmitted
      val delta = Option.when(deltaRows > 0)(transitions.unionByName(fresh)
        .withColumn("seq", lit(epoch)).repartition(filesFor(deltaRows)))
      val frontierPart = frontierCommit(m, epoch, cut, deltaAll, delta,
        deltaRows, pendingRows, bloomNew, scope)

      // cumulative fold-cost accounting (bytes written by major base
      // rewrites and by minor delta resolves) is carried here and
      // overridden by the fold that adds to it
      val foldBytes = m.counters.view.filterKeys(k =>
        k == "fold_base_bytes" || k == "fold_delta_bytes").toMap
      val c = Commit(
        append = Map("metrics" -> metricsDf),
        appendPaths = Map("fetch_result" -> Seq(fetchDir)),
        counters = cfg ++ counters ++ foldBytes +
          ("pending_rows" -> pendingRows)) ++
        robotsPart ++ ndPart ++ mdPart ++ frontierPart
      val committed = store.commit(epoch, c.replace, c.append, c.counters,
        appendPaths = c.appendPaths, replacePaths = c.replacePaths,
        drop = c.drop)
      consolidateAppendRoots(committed)
      // seen compaction is GENERATIONAL (tier-1: fold only this cadence
      // window's partitions — O(R × batch) I/O, older generations never
      // touched), with a rare tier-2 full fold when generation partitions
      // themselves accumulate — amortized full-rewrite cost O(total /
      // SeenFullFoldPartitions). Tier-2 also sweeps up any range a crashed
      // compaction left unfolded (folds are file-count hygiene, never
      // needed for correctness: appends are disjoint by the anti-join)
      if (compactSeenEvery > 0 && epoch % compactSeenEvery == 0) {
        if (store.seenPartitionCount() >= EpochDriver.SeenFullFoldPartitions)
          store.compactSeen(epoch)
        else store.compactSeen(epoch, epoch - compactSeenEvery)
      }
      // the staged robots rows are durable in this epoch's snapshot now; a
      // failed commit leaves them staged so the retry still applies them.
      // Atomic compare-and-clear: an update staged WHILE this epoch ran
      // (staging is cross-thread by design) must survive to the next
      // epoch, not be wiped with the one just committed — including one
      // that lands between reading the field and clearing it
      if (staged.isDefined) stagedRobots.compareAndSet(staged, None)
      counters ++ ndPart.counters ++ mdPart.counters
    } finally scope.release()
  }

  /** Robots in effect for this epoch (J3): a staged update wins (and is
    * committed with this epoch's snapshot, so it survives resume); else the
    * versioned store table — what every resume reads; the constructor
    * generator is only the init resolution. The delay floor rides the
    * manifest counters, so the common path derives the cut with zero extra
    * Spark work.
    */
  private def robotsStage(m: store.Manifest,
      staged: Option[Seq[(String, Long, Seq[String])]]): (DataFrame, Commit) =
    staged match {
      case Some(rows) =>
        val df = Sched.robotsDf(spark, rows)
        (df, Commit(replace = Map("robots" -> df),
          counters = Map("robots_floor_ms" -> floorOf(rows))))
      case None =>
        val paths = m.tables("robots")
        val df = robotsCache match {
          case Some((p, d)) if p == paths => d
          case _ =>
            val d = store.readTable(m, "robots").get
            robotsCache = Some((paths, d)); d
        }
        (df, Commit(
          counters = Map("robots_floor_ms" -> m.counters("robots_floor_ms"))))
    }

  /** Schedule: W2 rank + T4 budget over the merged pending view. Returns
    * the batch-sized ranked rows and the delta log as read this epoch.
    *
    * When the head is valid (headBudget), scheduling reads O(hosts*K +
    * delta) rows instead of the whole pending frontier; when stale or
    * absent (no fold yet, head disabled, resume from a headless store) it
    * falls back to the full merge-on-read view. Both sources contain the
    * true per-host top-cut, so the window + budget cut yield identical
    * batches. Counters are checked first, the table read last: a
    * permanently stale head must not pay a parquet schema read per epoch
    * just to be discarded.
    */
  private def schedule(m: store.Manifest, epoch: Long, robotsEpoch: DataFrame,
      floorMs: Long, cut: Long,
      scope: EpochScope): (DataFrame, Option[DataFrame]) = {
    val headSrc: Option[(DataFrame, Long)] =
      if (!scheduleFromHead) None
      else for {
        (he, rem) <- headBudget(m.counters, epoch, cut)
        if rem >= 0
        h <- store.readTable(m, "frontier_head")
      } yield (h, he)
    lastSchedSource = if (headSrc.isDefined) "head" else "full"
    val pendingSrc = headSrc.map(_._1).getOrElse(
      store.readTable(m, "frontier_base").get)
    // head path: the head already resolves every delta row with
    // seq <= head_epoch (a fold-built head post-dates the dropped log; a
    // minor-refreshed head absorbed the folded run), so prune the delta
    // scan to strictly newer rows — each delta file is one epoch, so
    // parquet min/max stats on seq skip old files (and the whole folded
    // run) at footer cost. The full-view fallback must NOT prune: the
    // base pre-dates every delta row
    val deltaAll = store.readTable(m, "frontier_delta")
    val deltaSrc = headSrc match {
      case Some((_, he)) => deltaAll.map(_.filter(col("seq") > he))
      case None => deltaAll
    }
    val pending = FrontierLog.pending(pendingSrc, deltaSrc)
      .join(broadcast(robotsEpoch.select("host", "crawl_delay_ms")), Seq("host"), "left")
      .withColumn("crawl_delay_ms", coalesce(col("crawl_delay_ms"), lit(defaultDelayMs)))
    // cached: ranked is BATCH-sized after the budget cut, and both the
    // fetch path and the frontier transitions consume it — without the
    // cache the second consumer recomputes the full pending-frontier
    // scan + window (a second O(frontier) pass per epoch)
    (scope.cache(Sched.rankAndBudget(pending, epochBudgetMs, floorMs)),
      deltaAll)
  }

  /** Fetch (S1): salted partitions, partition-local lineage. The full fetch
    * output is made durable FIRST (the dir this epoch's commit will
    * reference; a crash re-runs the deterministic fetch over the same batch
    * into the same dir), then every consumer reads it column-pruned —
    * transitions/counters never deserialize the spans. Returns the dir and
    * the re-read table.
    */
  private def fetch(batch: Dataset[FetchTask]): (String, DataFrame) = {
    val dir = store.stagingDir("fetch_result")
    val fetchedDs = FetchSim.run(batch, seed, nHosts).toDF()
    fetchedDs.write.mode("overwrite").parquet(dir)
    (dir, spark.read.schema(fetchedDs.schema).parquet(dir))
  }

  /** Extract (S2/D2) + canon (X14) + robots filter (J3/F3): the allowed
    * outbound URLs of the ok docs, each at its minimum depth (cached: it is
    * counted, then anti-joined).
    */
  private def discover(okDocs: DataFrame, robotsEpoch: DataFrame,
      scope: EpochScope): DataFrame = {
    val cand = Extract.canonCandidates(okDocs.select("doc_id", "spans"))
    scope.cache(Sched.allowed(cand, robotsEpoch, defaultDelayMs)
      .select("canon_url", "host", "src_doc")
      .join(okDocs.select(col("doc_id").as("src_doc"), col("depth")), Seq("src_doc"))
      .groupBy("canon_url", "host")
      .agg((min("depth") + 1).cast("int").as("depth")))
  }

  /** Dedup vs seen: Bloom prefilter (D3) + exact anti-join (J2); returns
    * the fresh frontier rows (cached). The seen side is a bucketed scan,
    * pre-partitioned by hash(canon_url), so no big-side Exchange. Segment
    * merge runs on the executors (one final blob per segment reaches the
    * driver); the broadcast is destroyed with the epoch scope so filter
    * blobs never accumulate across epochs.
    */
  private def dedup(m: store.Manifest, candDepth: DataFrame, epoch: Long,
      scope: EpochScope): DataFrame = {
    val seen = store.readSeen(m.epoch)
    val segTable = if (useBloom) store.readTable(m, "seen_bloom") else None
    val bloomBc =
      if (bloomRouted) None
      else segTable.map(df =>
        Seen.broadcastSegments(spark,
          Bloom.mergedSegments(df, bloomSegments, bloomBitsPerSegment)))
    bloomBc.foreach(bc => scope.onRelease(bc.destroy()))
    val unseen =
      if (bloomRouted && segTable.isDefined)
        Seen.filterUnseenRouted(candDepth, "canon_url", seen,
          segTable.get, bloomSegments)
      else Seen.filterUnseen(candDepth, "canon_url", seen, bloomBc)
    scope.cache(unseen
      .withColumn("score", lit(1.0) / (lit(1.0) + col("depth")))
      .withColumn("state", lit("pending"))
      .withColumn("retry_count", lit(0))
      .withColumn("discovered_epoch", lit(epoch))
      .select("canon_url", "host", "depth", "score", "state", "retry_count",
        "discovered_epoch"))
  }

  /** Frontier transitions: ONLY the scheduled rows change (fetched ok →
    * fetched; error → retry w/ score decay, dead at maxRetries — T5/T7);
    * everything else rests untouched in base/older deltas. The inner join
    * is batch-sized on both sides: the per-epoch frontier write is
    * O(batch + fresh), never O(frontier).
    */
  private def transition(ranked: DataFrame, fetched: DataFrame): DataFrame = {
    val outcome = fetched.select(col("canon_url"), col("status").as("_status"))
    ranked
      .select("canon_url", "host", "depth", "score", "state", "retry_count",
        "discovered_epoch")
      .join(outcome, Seq("canon_url"))
      .withColumn("state",
        when(col("_status") === "ok", lit("fetched"))
          .when(col("_status") === "error" && col("retry_count") + 1 >= maxRetries,
            lit("failed"))
          .otherwise(col("state")))
      .withColumn("score",
        when(col("_status") === "error" && col("retry_count") + 1 < maxRetries,
          col("score") * 0.5).otherwise(col("score")))
      .withColumn("retry_count",
        when(col("_status") === "error", col("retry_count") + 1)
          .otherwise(col("retry_count")))
      .drop("_status")
  }

  /** K1 record sink + K2 job-control message (kafka_producer.py
    * send_crawling_completion semantics: count==0 ⇒ fail with reason, no
    * wall clock — completed_at is virtual epoch time in KST).
    */
  private def emitSink(dir: String, fresh: DataFrame, epoch: Long,
      nEmitted: Long): Unit = {
    graft.sinks.RecordSink.emit(
      fresh.withColumn("epoch", lit(epoch)), "canon_url",
      s"$dir/frontier-records", tag = s"e$epoch", bridgeUrl = sinkBridge)
    val completedAt = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
      .plusMinutes(epoch).atOffset(java.time.ZoneOffset.ofHours(9))
      .format(java.time.format.DateTimeFormatter.ofPattern(
        "yyyy-MM-dd'T'HH:mm:ssxxx"))
    val control = Seq((s"epoch_$epoch",
      if (nEmitted > 0) "done" else "fail",
      "collection",
      if (nEmitted > 0) null else "review count 0",
      nEmitted, completedAt))
      .toDF("job_id", "status", "step", "failure_reason",
        "expected_count", "completed_at")
    graft.sinks.RecordSink.emit(control, "job_id", s"$dir/job-control",
      tag = s"e$epoch", bridgeUrl = sinkBridge)
  }

  /** Write `df` once into `table`'s staging dir and count its rows from
    * the written footers, so the plan runs once; a crash re-runs the
    * deterministic plan into the same dir. Returns (dir, rows), or None
    * for zero rows — the dir is then deleted, because a row-less parquet
    * dir cannot be schema-inferred on read.
    */
  private def stageCounted(table: String,
      df: DataFrame): Option[(String, Long)] = {
    val dir = store.stagingDir(table)
    df.write.mode("overwrite").parquet(dir)
    val n = spark.read.parquet(dir).count()
    if (n == 0) { store.deletePath(dir); None } else Some((dir, n))
  }

  /** Incremental near-dup over the epoch's fetched documents (the q49
    * steady-state shape as an ENGINE stage): reassemble each ok doc's text
    * from its spans in offset order (the q43 formulation), simhash the
    * batch with the production xxhash64/64 path, probe the persisted corpus
    * signatures — candidate work O(batch × bucket occupancy), old-old pairs
    * never generated — and append the batch's signatures so the next epoch
    * probes this one too. Banding geometry is re-derived per epoch from the
    * cumulative doc count (B is a pure cost knob, never a recall knob —
    * NearDupSpec), so signatures are geometry-free and a growing corpus
    * widens its own banding. sim_docs carries forward across empty epochs:
    * a counter absent from one manifest would reset the cumulative count
    * (and the derived banding geometry) on the next.
    */
  private def nearDup(m: store.Manifest, okDocs: DataFrame, nFetched: Long,
      epoch: Long, scope: EpochScope): Commit = {
    val priorDocs = m.counters.getOrElse("sim_docs", 0L)
    if (nFetched == 0)
      Commit(counters = Map("sim_docs" -> priorDocs, "neardup_pairs" -> 0L))
    else {
      val batchText = okDocs
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .groupBy("doc_id")
        .agg(array_join(transform(array_sort(filter(
            collect_list(struct(col("span.offset"), col("span.text"))),
            x => x.getField("text") =!= "")),
          x => x.getField("text")), " ").as("text"))
      // TOTAL over the batch: explode drops a doc whose spans array is
      // empty, so the reassembly alone would skip it — re-anchor on the
      // fetched set and coalesce to "" so every fetched doc reaches the
      // signature step (simhashTotal then assigns the empty-token
      // signature 0L); the sim_docs counter and the corpus_sim row count
      // stay equal BY CONSTRUCTION, not by corpus luck
      val batchDocs = okDocs.select("doc_id")
        .join(batchText, Seq("doc_id"), "left")
        .na.fill("", Seq("text"))
      // cached: the pairs probe and the commit write both consume the
      // batch signatures
      val simNew = scope.cache(NearDup.simhashTotal(batchDocs,
        NearDup.XxHashBits, NearDup.xxTokenHash))
      val simDocs = priorDocs + nFetched
      val blocks = Banding.blocksFor(simDocs, hashBits = NearDup.XxHashBits)
      val pairsDf = (store.readTable(m, "corpus_sim") match {
        case Some(c) => NearDup.incrementalFromSimhash(
          simNew, c.select("doc_id", "simhash"), blocks, NearDup.XxHashBits)
        case None => NearDup.pairsFromSimhash(simNew, blocks,
          NearDup.XxHashBits)
      }).withColumn("epoch", lit(epoch))
      // the banded probe is the epoch's second-most-expensive plan: a
      // separate count() action would execute it twice
      val pairs = stageCounted("neardup_pairs", pairsDf)
      // signature file sizing tracks the BATCH's row count: the cached
      // plan carries the probe's shuffle partitioning, which at small
      // batches would strew one near-empty file per partition into a
      // table read every epoch
      Commit(append = Map("corpus_sim" -> simNew.coalesce(filesFor(nFetched))),
        appendPaths = pairs.map(p => "neardup_pairs" -> Seq(p._1)).toMap,
        counters = Map("sim_docs" -> simDocs,
          "neardup_pairs" -> pairs.map(_._2).getOrElse(0L)))
    }
  }

  /** Media feature extraction over the epoch's fetched documents (the
    * media half of the interleaved corpus, mirroring the near-dup stage's
    * text half): each ok doc's media spans resolve their media_ref through
    * the simulated media fetch and decode through the production JDK pixel
    * path — REAL container bytes, REAL raster decode, luma-grid embedding
    * — inside one mapPartitions (payload bytes live only inside the task;
    * the table stores features, never payloads, so nothing raster-sized
    * ever shuffles or persists). media_rows carries forward like
    * sim_docs.
    */
  private def media(m: store.Manifest, okDocs: DataFrame,
      nFetched: Long): Commit = {
    val written: Option[(String, Long)] =
      if (nFetched == 0) None
      else {
        val refs = okDocs
          .select(col("doc_id"), explode(col("spans")).as("span"))
          .filter(col("span.kind") === "media" && col("span.media_ref") =!= "")
          .select(col("doc_id"), col("span.media_ref").as("media_ref"),
            col("span.offset").as("offset"))
        val theSeed = seed
        val feats = refs.as[(String, String, Int)].mapPartitions { it =>
          // partition-local codec init (the extractFeatures posture)
          java.lang.System.setProperty("java.awt.headless", "true")
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (doc, ref, off) =>
            val payload = MediaFetchSim.fetchBytes(ref, theSeed)
            // shared decode-or-stub posture (incl. header-dims recovery
            // for undecodable-but-headered bytes) — one implementation,
            // so this stage and extractFeatures can never drift
            val (w, h, emb, _) = Multimodal.imageFeatures(payload)
            (doc, ref, off, w, h, payload.length, emb)
          }
        }.toDF("doc_id", "media_ref", "offset", "width", "height",
          "n_bytes", "embedding")
        // repartition AFTER the decode, never coalesce: coalesce is
        // narrow, so it would collapse the uncached synth+decode map
        // itself to the output file count — at small batches ONE task
        // doing every JPEG round-trip (measured: +51 s/6-epoch run).
        // The shuffle moves only feature rows (~hundreds of bytes each);
        // file sizing tracks the fetched-doc count (spans/doc is a
        // small corpus constant, so ~1M-row files up to that factor)
        stageCounted("media_features", feats.repartition(filesFor(nFetched)))
      }
    Commit(
      appendPaths = written.map(w => "media_features" -> Seq(w._1)).toMap,
      counters = Map("media_rows" -> (m.counters.getOrElse("media_rows", 0L) +
        written.map(_._2).getOrElse(0L))))
  }

  /** The frontier commit policy: a MAJOR fold every compactFrontierEvery
    * epochs, else a MINOR fold every compactDeltaEvery epochs when there is
    * a log to fold, else a PLAIN append of this epoch's delta (`delta` is
    * None for an all-empty epoch: an empty parquet dir at the head of the
    * delta list would break schema inference on read). Returns the
    * frontier, head and seen_bloom tables and the counters it changes.
    */
  private def frontierCommit(m: store.Manifest, epoch: Long, cut: Long,
      deltaAll: Option[DataFrame], delta: Option[DataFrame], deltaRows: Long,
      pendingRows: Long, bloomNew: DataFrame, scope: EpochScope): Commit =
    if (compactFrontierEvery > 0 && epoch % compactFrontierEvery == 0)
      majorFold(m, epoch, cut, delta, bloomNew, scope)
    else {
      // head meta rides every manifest so the validity check survives
      // commits that don't touch the head — EXCEPT when this epoch's cut
      // diverged from the head's: epochs under a different cut consume up
      // to THAT cut per host, so if the floor later reverted, the validity
      // arithmetic would under-count their consumption and re-validate an
      // over-consumed head. Head + meta leave the store now instead
      val kept =
        if (m.counters.contains("head_epoch") &&
            headBudget(m.counters, epoch, cut).isEmpty)
          Commit(drop = Set("frontier_head"))
        else Commit(counters = m.counters.filter(kv => HeadKeys(kv._1)))
      // delta_rows: upper bound on the delta table's rows, carried for
      // minor-fold file sizing only. Major folds drop the log and the
      // counter together
      val deltaRowsBound = m.counters.getOrElse("delta_rows", 0L) + deltaRows
      // fold only when there is something to fold: new delta rows, or a
      // log of more than one run (an empty epoch over an already-folded
      // single run would rewrite identical bytes)
      val minor = compactDeltaEvery > 0 && epoch % compactDeltaEvery == 0 &&
        (delta.isDefined || m.tables.get("frontier_delta").exists(_.size > 1))
      val frontier =
        if (minor) minorFold(m, epoch, cut, deltaAll, delta, deltaRowsBound,
          pendingRows, kept, scope)
        else kept ++ Commit(append = delta.map("frontier_delta" -> _).toMap)
      frontier ++ Commit(append = Map("seen_bloom" -> bloomNew),
        counters = Map("delta_rows" -> deltaRowsBound))
    }

  /** MAJOR fold: resolve base ∪ deltas into a fresh base, move its
    * terminal rows into the archive, rebuild the head from the written
    * pending slice, fold the Bloom blob log, and drop the delta log.
    */
  private def majorFold(m: store.Manifest, epoch: Long, cut: Long,
      delta: Option[DataFrame], bloomNew: DataFrame,
      scope: EpochScope): Commit = {
    val folded = FrontierLog.resolve(
      delta.fold(frontierAll(m))(frontierAll(m).unionByName(_)))
    // stage the fold once (state-partitioned, same dir the commit names),
    // then derive the HEAD from the written bytes — the top-(R+1)*cut rows
    // per host, the only rows the next R epochs of scheduling can possibly
    // touch (headBudget). Building it here rides the fold's amortization:
    // one extra host-keyed top-k pass over the pending slice every R
    // epochs buys every in-between epoch a head-sized scheduler read
    val foldDir = store.stagingDir("frontier_base")
    folded.write.mode("overwrite").partitionBy("state").parquet(foldDir)
    // bytes this major fold REWROTE (measured before terminals rename out:
    // the write cost was paid for them too)
    val foldBaseBytes = m.counters.getOrElse("fold_base_bytes", 0L) +
      store.pathBytes(foldDir)
    // archive-by-rename: fetched/failed are ABSORBING (a URL enters the
    // frontier exactly once — candidates are anti-joined against seen —
    // and only pending rows are ever scheduled), so the fold's terminal
    // partitions are immutable forever. MOVE them — an O(1) directory
    // rename inside the uncommitted staging space, crash-safe by the same
    // argument as every staged write — into the append-only
    // frontier_archive table instead of carrying them through every later
    // fold: fold I/O is O(pending wavefront + delta window), independent
    // of crawl AGE
    val hasPending = store.pathExists(s"$foldDir/state=pending")
    val archDirs: Seq[String] =
      if (!hasPending) Seq.empty // draining fold (no pending rows left):
        // keep the terminals in the base so the committed dir is never a
        // row-less parquet root that later reads cannot schema-infer
      else {
        val arch = store.stagingDir("frontier_archive")
        store.deletePath(arch) // clobber a crashed attempt's orphan
        val moved = Seq("fetched", "failed")
          .filter(st => store.pathExists(s"$foldDir/state=$st"))
        moved.foreach(st =>
          store.movePath(s"$foldDir/state=$st", s"$arch/state=$st"))
        if (moved.isEmpty) Seq.empty else Seq(arch)
      }
    val headK = (compactFrontierEvery.toLong + 1L) * cut
    // cached: the emptiness probe below and the committed write both
    // consume the head — uncached, the per-host window over the fold's
    // full pending slice would execute twice per fold epoch
    val head =
      if (scheduleFromHead && hasPending)
        Some(scope.cache(Sched.headSlice(
          spark.read.parquet(foldDir).filter(col("state") === "pending"),
          headK)))
      else None
    // a frontier-draining fold produces an EMPTY head; committing it would
    // leave a row-less parquet dir the next epoch cannot schema-infer —
    // commit no head instead and drop any stale one, so the next epoch
    // takes the full-view path and terminates normally
    val headRows = head.filter(h => !h.isEmpty)
    // the Bloom blob log folds here too: OR-merge every appended (epoch,
    // segment) row plus this epoch's into one row per segment, so the
    // per-epoch filter read merges O(segments + R) blobs, not
    // O(epochs × segments) — OR is associative, so bit-identical
    val bloomFolded = Bloom.foldSegments(
      store.readTable(m, "seen_bloom") match {
        case Some(prev) => prev.select("segment_id", "bloom").unionByName(bloomNew)
        case None => bloomNew
      })
    Commit(
      replace = headRows.map("frontier_head" -> _).toMap +
        ("seen_bloom" -> bloomFolded),
      replacePaths = Map("frontier_base" -> Seq(foldDir)),
      appendPaths =
        if (archDirs.nonEmpty) Map("frontier_archive" -> archDirs) else Map.empty,
      counters = Map("fold_base_bytes" -> foldBaseBytes) ++
        headRows.map(_ => headMeta(epoch, headK, cut)).getOrElse(Map.empty),
      drop = Set("frontier_delta") ++
        (if (headRows.isEmpty) Set("frontier_head") else Set.empty))
  }

  /** MINOR fold: resolve the delta LOG into one run (latest row per key —
    * view-identical, the same resolution the major fold would apply) and
    * refresh the head from head ∪ delta. Touches O(delta window) bytes;
    * the base is NEVER read or written here — this is what lets the major
    * O(pending) rewrite cadence stretch while the delta list and the
    * scheduler head stay compact. `kept` is the head part to commit when
    * no refresh happens.
    */
  private def minorFold(m: store.Manifest, epoch: Long, cut: Long,
      deltaAll: Option[DataFrame], delta: Option[DataFrame],
      deltaRowsBound: Long, pendingRows: Long, kept: Commit,
      scope: EpochScope): Commit = {
    // the prior log is deltaAll, already read ONCE for this epoch's
    // schedule — a second readTable here would pay the delta list's
    // file-listing + footer read again
    val allDelta = (deltaAll ++ delta).reduce(_.unionByName(_))
    val runDir = store.stagingDir("frontier_delta")
    FrontierLog.resolve(allDelta).repartition(filesFor(deltaRowsBound))
      .write.mode("overwrite").parquet(runDir)
    val foldDeltaBytes = m.counters.getOrElse("fold_delta_bytes", 0L) +
      store.pathBytes(runDir)
    // Head refresh: head' = top-K' per host of pending(head ∪ delta), K' =
    // the budget headBudget says is left. The head at `he` contained the
    // true per-host top-hk; since then ≤ (epoch−he)·cut rows per host left
    // pending and every touched or fresh row is in the delta, so
    // pending(head ∪ delta) ⊇ the true per-host top-K' — and its top-K'
    // slice EQUALS the true top-K' (same total order as the scheduler).
    // Re-dating the head to `epoch` with budget K' makes the validity check
    // exact, and sweeps consumed rows out of storage. Skipped when the
    // head is off (a store resumed head-off must not pay the per-host
    // window sort for a head no scheduler reads; meta is carried
    // unchanged) and when no pending row is left to refresh from
    val refresh: Option[(DataFrame, Long)] = for {
      (he, kRem) <- headBudget(m.counters, epoch, cut)
      if scheduleFromHead && kRem >= cut && pendingRows > 0
      h <- store.readTable(m, "frontier_head")
    } yield (scope.cache(Sched.headSlice(
      FrontierLog.pendingResolved(h, Some(allDelta.filter(col("seq") > he))),
      kRem)), kRem)
    // a drained head (all consumed, nothing fresh) must not commit: a
    // row-less parquet dir breaks schema inference, and pending rows may
    // still exist below the original cut — drop head + meta so later
    // epochs take the exact full-view path
    val head = refresh match {
      case Some((h, k)) if !h.isEmpty =>
        Commit(replace = Map("frontier_head" -> h),
          counters = headMeta(epoch, k, cut))
      case Some(_) => Commit(drop = Set("frontier_head"))
      case None => kept
    }
    head ++ Commit(replacePaths = Map("frontier_delta" -> Seq(runDir)),
      counters = Map("fold_delta_bytes" -> foldDeltaBytes))
  }

  /** One pass over every append-rooted table after the epoch commit
    * (corpus_sim is read ON THE EPOCH PATH by the banded probe, so an
    * unbounded root list would grow every listing and manifest linearly
    * with crawl AGE): a table over the root cap has its newer roots' files
    * merge-moved (renames, zero rewrite — all four tables are immutable
    * appends) into its OLDEST root, and one manifest swap retires them.
    *
    * The target being the PERMANENT head root makes every file move at
    * most once over the table's lifetime: later appends land AFTER the
    * head in the manifest list, so a consolidated file is never a move
    * source again, and file names never grow past one prefix. The r<i>-
    * prefix disambiguates same-named files from different source roots
    * within one pass; across passes the part files' write-job UUIDs
    * already make names unique.
    *
    * Crash-safe by ordering: the epoch commit preceding this pass
    * references the old roots AND the head, renames keep each file in
    * exactly one referenced location at every instant (multi-root reads
    * stay complete and duplicate-free), and a crash mid-move leaves a
    * still-over-cap list the next pass converges. Emptied roots leave the
    * manifest at the swap and expire with the next expireUnreferenced
    * sweep.
    */
  private def consolidateAppendRoots(committed: store.Manifest): Unit = {
    val swaps = AppendRootTables.flatMap { case (t, subdirs) =>
      val roots = committed.tables.getOrElse(t, Seq.empty)
      if (roots.size <= archiveMaxRoots) None
      else {
        roots.tail.zipWithIndex.foreach { case (root, i) =>
          subdirs.foreach { sub =>
            val suffix = if (sub.isEmpty) "" else s"/$sub"
            store.moveFilesInto(s"$root$suffix", s"${roots.head}$suffix",
              s"r$i-")
          }
        }
        Some(t -> Seq(roots.head))
      }
    }
    if (swaps.nonEmpty)
      store.commit(committed.epoch, replace = Map.empty, append = Map.empty,
        counters = committed.counters, replacePaths = swaps.toMap)
  }

  /** Run epochs until `maxEpochs` or an empty batch (exhausted frontier). */
  def run(maxEpochs: Int): Seq[Map[String, Long]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    var i = 0
    var continue = true
    while (i < maxEpochs && continue) {
      val metrics = runEpoch()
      // between epochs (no live job holds lineage): reclaim data dirs the
      // latest manifest no longer references — compaction otherwise
      // strands one full frontier_base copy per fold on disk forever
      store.expireUnreferenced()
      out += metrics
      continue = metrics("fetched") + metrics("errors") > 0
      i += 1
    }
    out.toSeq
  }

  /** Append-only terminal-history archive (fetched/failed rows renamed out
    * of the fold window — see majorFold). Read per-root and unioned: each
    * archived dir carries hive-style `state=` partition subdirs, and
    * multi-root parquet reads reject hive inference. NOTHING on the epoch
    * path reads the archive; only this full-history view does.
    */
  private def archive(m: store.Manifest): Option[DataFrame] =
    m.tables.get("frontier_archive")
      // a crash between a consolidation pass's renames and its swap commit
      // leaves a fully-drained root still referenced; reading it per-root
      // would fail schema inference on a file-less directory
      .map(_.filter(store.hasDataFiles)).filter(_.nonEmpty).map(_.map(p =>
        spark.read.parquet(p).select(FrontierLog.Cols.map(col): _*))
      .reduce(_.unionByName(_)))

  // ---- readers used by tests/metrics (merge-on-read views)
  def frontier(): DataFrame = {
    val m = store.latest().get
    // archive keys are disjoint from the live window (terminal states are
    // absorbing and a URL enters the frontier once), so the union needs no
    // resolve over the archive — the view stays O(live) in shuffle work
    val live = FrontierLog.resolve(frontierAll(m))
    archive(m).map(live.unionByName(_)).getOrElse(live).drop("seq")
  }
  def seenSet(): DataFrame =
    store.latest().map(m => store.readSeen(m.epoch)).get
  def fetchLog(): Option[DataFrame] =
    store.latest().flatMap(m => store.readTable(m, "fetch_result"))
      .map(_.select("epoch", "partition_id", "canon_url", "host", "rank",
        "status", "n_spans", "n_urls_out"))
  def metrics(): Option[DataFrame] =
    store.latest().flatMap(m => store.readTable(m, "metrics"))
}

object EpochDriver {
  /** Version of the snapshot-store table layout; a store of any other
    * layout is refused on resume, never migrated. v3 is the layout whose
    * every manifest carries all cfg_* keys, the versioned `robots` table
    * with `robots_floor_ms`, the exact `pending_rows` counter, and
    * `head_cut` beside any head meta, with terminal history in
    * `frontier_archive` — the engine reads each of these unconditionally.
    */
  val StoreLayoutVersion = 3L

  /** Live seen-partition count at which the per-cadence generational fold
    * escalates to a full fold. Bounds the per-epoch bucketed-scan overhead
    * at O(this many) partition dirs while keeping the full-rewrite cost
    * amortized to O(|seen| / this) per cadence. Pure execution knob — the
    * seen SET is identical under any fold schedule.
    */
  val SeenFullFoldPartitions = 16

  private val HeadKeys = Set("head_epoch", "head_k", "head_cut")

  /** Append-rooted tables and the partition dirs inside each root
    * (Seq("") = flat table), consolidated after every epoch commit.
    */
  private val AppendRootTables: Seq[(String, Seq[String])] = Seq(
    "frontier_archive" -> Seq("state=fetched", "state=failed"),
    "corpus_sim" -> Seq(""),
    "neardup_pairs" -> Seq(""),
    "media_features" -> Seq(""))

  /** What one part of an epoch changes in the snapshot — the arguments of
    * SnapshotStore.commit. The parts of an epoch merge (right-biased) into
    * its single commit.
    */
  private final case class Commit(
      replace: Map[String, DataFrame] = Map.empty,
      append: Map[String, DataFrame] = Map.empty,
      counters: Map[String, Long] = Map.empty,
      appendPaths: Map[String, Seq[String]] = Map.empty,
      replacePaths: Map[String, Seq[String]] = Map.empty,
      drop: Set[String] = Set.empty) {
    def ++(o: Commit): Commit = Commit(replace ++ o.replace,
      append ++ o.append, counters ++ o.counters,
      appendPaths ++ o.appendPaths, replacePaths ++ o.replacePaths,
      drop ++ o.drop)
  }
}
