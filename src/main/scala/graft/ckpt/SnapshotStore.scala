package graft.ckpt

import java.nio.charset.StandardCharsets.UTF_8
import java.util.EnumSet
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style snapshot layer (SURVEY.md §7.2 constraint C1: no Iceberg
  * runtime jar ships in this sandbox, so the snapshot/manifest mechanics are
  * implemented directly — Parquet data files + JSON manifests committed by
  * atomic rename; a real Iceberg catalog can slot in behind the same trait).
  *
  * Manifest I/O goes through Hadoop FileContext, so the store works on any
  * filesystem with atomic rename (local, HDFS); for object stores without
  * atomic rename (S3) an Iceberg/metastore catalog would take over the
  * commit, as noted above.
  *
  * Layout:
  * {{{
  *   root/manifest/v<N>.json     // immutable snapshot manifest
  *   root/manifest/LATEST        // current version number (atomic rename)
  *   root/data/<table>/v<N>/     // parquet written by snapshot N
  * }}}
  *
  * Commit protocol (all-or-nothing, resume-exact — SURVEY §7.5):
  *  1. write each table's parquet under data/<table>/v<N>/
  *  2. write manifest to a temp file, hsync, rename to v<N>.json
  *  3. write + rename LATEST pointing at N
  * A crash before (3) leaves LATEST at the previous snapshot; orphan data
  * dirs are ignored because readers only follow manifest-referenced paths.
  */
final class SnapshotStore(rootDir: String, spark: SparkSession,
    seenBuckets: Int = 32) {
  private val mapper = new ObjectMapper
  private val root = new HPath(rootDir)
  private val fc = FileContext.getFileContext(
    root.toUri, spark.sparkContext.hadoopConfiguration)
  private val manifestDir = new HPath(root, "manifest")
  fc.mkdir(manifestDir, FsPermission.getDirDefault, true)

  final case class Manifest(
      version: Long,
      parent: Long,
      epoch: Long,
      tables: Map[String, Seq[String]],
      counters: Map[String, Long])

  private def readString(p: HPath): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def latestVersion(): Option[Long] = {
    val f = new HPath(manifestDir, "LATEST")
    if (fc.util.exists(f)) Some(readString(f).trim.toLong) else None
  }

  def latest(): Option[Manifest] = latestVersion().map(readManifest)

  def readManifest(v: Long): Manifest = {
    val node = mapper.readTree(readString(new HPath(manifestDir, s"v$v.json")))
    val tables = node.get("tables").properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
    val counters = node.get("counters").properties().asScala.map { e =>
      e.getKey -> e.getValue.asLong()
    }.toMap
    Manifest(node.get("version").asLong(), node.get("parent").asLong(),
      node.get("epoch").asLong(), tables, counters)
  }

  def readTable(m: Manifest, table: String): Option[DataFrame] =
    m.tables.get(table).filter(_.nonEmpty).map(ps => spark.read.parquet(ps: _*))

  /** A data file, not a commit marker (`_SUCCESS`) or a dot-file (CRC
    * sidecars): the one rule every listing in this store applies.
    */
  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")

  /** Does `dir` (recursively) hold at least one data file? Root
    * consolidation drains source roots by rename BEFORE the manifest swap
    * commits, so a crash in that window leaves a referenced-but-file-less
    * root until the next pass converges it; PER-ROOT readers (hive-
    * partitioned tables reject multi-root inference, so frontier_archive
    * reads one root at a time) must skip such roots instead of failing
    * parquet schema inference on them. Cost: one listing per subdir —
    * roots hold at most a couple of state= dirs.
    */
  def hasDataFiles(dir: String): Boolean = {
    def rec(h: HPath): Boolean =
      fc.util.listStatus(h).exists(st =>
        if (st.isFile) isDataFile(st) else rec(st.getPath))
    val p = new HPath(dir)
    fc.util.exists(p) && rec(p)
  }

  /** The version the NEXT commit will get (single-writer store), and the
    * data directory that commit would assign to `table`. Callers that must
    * make a table's bytes durable BEFORE building downstream results (the
    * epoch driver writes each epoch's fetch output once and re-reads it
    * columnar instead of caching it) write there directly and pass the dir
    * through `commit(appendPaths = …)`; a crash before the manifest commit
    * leaves an orphan dir that the deterministic re-run overwrites.
    */
  def nextVersion(): Long = latestVersion().map(_ + 1).getOrElse(0L)
  def stagingDir(table: String): String =
    new HPath(root, s"data/$table/v${nextVersion()}").toString

  /** Commit a new snapshot. `replace` tables point only at this commit's
    * files; `append` tables carry the parent's file list forward plus the
    * new files (metrics / fetch lineage accumulate this way without
    * rewriting history); `appendPaths` appends directories the caller
    * already wrote (see [[stagingDir]]); `drop` removes a table's lineage
    * from the manifest entirely (compaction folds an append-table's
    * content into a replace-table and drops the log). Parent tables not
    * named by any of these carry forward unchanged — a commit pays I/O
    * only for what it touches. Tables named in `partitionedBy` are written
    * with hive-style partition dirs so predicates on the partition column
    * prune whole directories at read time (e.g. the frontier by `state`:
    * the scheduler's state='pending' scan never touches fetched/failed
    * files).
    */
  def commit(epoch: Long, replace: Map[String, DataFrame],
      append: Map[String, DataFrame], counters: Map[String, Long],
      partitionedBy: Map[String, String] = Map.empty,
      appendPaths: Map[String, Seq[String]] = Map.empty,
      replacePaths: Map[String, Seq[String]] = Map.empty,
      drop: Set[String] = Set.empty): Manifest = {
    val parent = latest()
    val v = parent.map(_.version + 1).getOrElse(0L)

    def write(table: String, df: DataFrame): String = {
      val dir = new HPath(root, s"data/$table/v$v").toString
      val w = df.write.mode("overwrite")
      partitionedBy.get(table).fold(w)(c => w.partitionBy(c)).parquet(dir)
      dir
    }

    // replacePaths: like `replace` but for directories the caller already
    // wrote via [[stagingDir]] — lets a caller materialize a table once and
    // derive further commit content from the written bytes instead of
    // recomputing the plan per consumer
    val replaced = replace.map { case (t, df) => t -> Seq(write(t, df)) } ++
      replacePaths
    def prevOf(t: String): Seq[String] =
      parent.flatMap(_.tables.get(t)).getOrElse(Seq.empty)
    val appended = append.map { case (t, df) => t -> (prevOf(t) :+ write(t, df)) } ++
      appendPaths.map { case (t, dirs) => t -> (prevOf(t) ++ dirs) }
    val touched = replace.keySet ++ append.keySet ++ appendPaths.keySet ++
      replacePaths.keySet ++ drop
    val carried = parent.map(_.tables).getOrElse(Map.empty)
      .filter { case (t, _) => !touched.contains(t) }
    val m = Manifest(v, parent.map(_.version).getOrElse(-1L), epoch,
      carried ++ replaced ++ appended, counters)

    val node: ObjectNode = mapper.createObjectNode()
    node.put("version", m.version)
    node.put("parent", m.parent)
    node.put("epoch", m.epoch)
    val tn = node.putObject("tables")
    m.tables.foreach { case (t, ps) =>
      val a = tn.putArray(t); ps.foreach(a.add)
    }
    val cn = node.putObject("counters")
    m.counters.foreach { case (k, x) => cn.put(k, x) }

    atomicWrite(new HPath(manifestDir, s"v$v.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    atomicWrite(new HPath(manifestDir, "LATEST"), v.toString)
    m
  }

  // ------------------------------------------------ bucketed seen table
  //
  // The URL-seen set is append-only and joined against EVERY epoch's
  // candidates; storing it as plain parquet forces the anti-join to
  // reshuffle the entire (10^10-row at target scale) table per epoch. It
  // lives instead in a catalog-registered external parquet table bucketed
  // by canon_url — the scan then reports HashPartitioning(canon_url,
  // seenBuckets), so only the (small, per-epoch) candidate side shuffles.
  // Epoch partitioning gives two more properties:
  //  - resume exactness: each epoch writes via dynamic partition OVERWRITE
  //    of its own epoch=<N> directory, so a crash between the seen append
  //    and the manifest commit is healed by the re-run overwriting the
  //    same partition — never duplicating it. Readers additionally gate on
  //    epoch <= the manifest's committed epoch (partition-pruned), so
  //    uncommitted partitions are invisible.
  //  - log-structured appends: old epochs' files are never rewritten
  //    (compaction = periodic rewrite into one low epoch, same table).
  // The catalog entry is in-memory per session; reopening a store in a new
  // JVM re-registers the table from the same LOCATION and recovers its
  // partition list (the Iceberg-catalog analog under constraint C1).

  private val seenTable: String =
    "graft_seen_" + Integer.toHexString(
      new java.io.File(rootDir).getAbsolutePath.hashCode & 0x7fffffff)
  private val seenLocation = new HPath(root, "data/seen_bucketed").toString
  @volatile private var seenRegistered = false

  private def ensureSeenTable(): Unit = if (!seenRegistered) synchronized {
    if (!seenRegistered) {
      // MSCK needs the location to exist; CREATE TABLE does not mkdir it
      fc.mkdir(new HPath(seenLocation), FsPermission.getDirDefault, true)
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $seenTable (canon_url STRING, epoch BIGINT)
           |USING PARQUET PARTITIONED BY (epoch)
           |CLUSTERED BY (canon_url) INTO $seenBuckets BUCKETS
           |LOCATION '$seenLocation'""".stripMargin)
      spark.sql(s"MSCK REPAIR TABLE $seenTable")
      seenRegistered = true
    }
  }

  /** Idempotently (over)write epoch `epoch`'s slice of the seen set. */
  def appendSeen(urls: DataFrame, epoch: Long): Unit = {
    ensureSeenTable()
    // dynamic mode scopes the overwrite to the epoch partitions actually
    // written (exactly one here) — the DataFrameWriter-level option of the
    // same name is not honored by insertInto, only the session conf is
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try urls
      .select(org.apache.spark.sql.functions.col("canon_url"),
        org.apache.spark.sql.functions.lit(epoch).as("epoch"))
      .write.mode("overwrite")
      .insertInto(seenTable)
    finally spark.conf.set(key, prev)
  }

  /** The seen set as of committed epoch `maxEpoch` (bucketed scan; later,
    * uncommitted epoch partitions are pruned out).
    */
  def readSeen(maxEpoch: Long): DataFrame = {
    ensureSeenTable()
    spark.table(seenTable)
      .filter(org.apache.spark.sql.functions.col("epoch") <= maxEpoch)
      .select("canon_url")
  }

  /** Log-compaction of the seen table: fold the epoch partitions in
    * (sinceExclusive, upTo] into the single partition
    * epoch = sinceExclusive + 1, then drop the folded partitions AND
    * physically delete their directories.
    *
    * GENERATIONAL by design (LSM-style): seen rows never change and each
    * epoch's append is disjoint from everything before it (candidates are
    * anti-joined against the set), so compaction is purely file-count
    * management — it never needs to touch old data to be correct. A caller
    * that folds only the last R epochs (`sinceExclusive = upTo - R`) pays
    * O(R × batch) I/O per compaction and leaves every earlier generation's
    * files untouched forever, where the old always-full fold re-wrote the
    * ENTIRE set every cadence — O(crawl-so-far) I/O, growing linearly with
    * crawl age exactly like the frontier fold this round also fixed. The
    * default `sinceExclusive = -1` is the full fold (target epoch=0) — the
    * rare tier-2 pass a driver runs when generation partitions themselves
    * accumulate ([[graft.engine.EpochDriver]] triggers it by live-partition
    * count, which bounds per-epoch scan overhead at O(generations) dirs
    * with amortized full-rewrite cost O(total / generations)).
    *
    * The physical delete is required for the compaction to survive a
    * restart: DROP PARTITION on an external table removes only catalog
    * entries, and ensureSeenTable's MSCK REPAIR in the next JVM
    * re-discovers any epoch=e directory still inside LOCATION — silently
    * resurrecting the folded partitions (duplicate rows for
    * seenSet()/count consumers and the scan-cost win lost). Once
    * dropped+folded the files are referenced by nothing, so the delete is
    * safe.
    *
    * Crash safety (additive fold — never an in-place overwrite): the fold
    * is APPENDED into epoch=0 as new files; the pre-existing epoch=0 files
    * are deleted only after the append job has committed, and every other
    * source partition only after that. So every delete removes rows that
    * already exist in durable fold files, and a crash at ANY step leaves
    * only benign duplicate rows (seen is a SET under anti-join semantics;
    * the next compaction pass removes them) — never a lost URL. An earlier
    * formulation dynamic-partition-OVERWROTE epoch=0 in place, where a
    * crash mid-commit could drop previously-seen URLs (they would re-enter
    * the frontier). Residual window: like every Spark output commit on a
    * non-transactional filesystem, a whole-MACHINE crash can lose fold
    * bytes the OS had not yet flushed while the subsequent deletes
    * survived — on local/HDFS deployments the ordering is preserved by the
    * commit-then-delete sequencing above; object stores need the real
    * Iceberg catalog this store stands in for (constraint C1).
    */
  def compactSeen(upTo: Long, sinceExclusive: Long = -1L): Unit = {
    ensureSeenTable()
    require(sinceExclusive < upTo, s"empty fold range ($sinceExclusive, $upTo]")
    val target = sinceExclusive + 1L
    // reclaim staging dirs stranded by a CRASHED earlier fold attempt
    // before staging anew: later folds use a different v<upTo> name so
    // would never reuse (or clean) them, and expireUnreferenced manages
    // only v<N>-named table subdirectories — without this sweep each
    // crashed compaction leaks one fold-window copy forever. Safe because
    // the driver is single-flight (no concurrent fold can own one)
    val dataDir = new HPath(root, "data")
    if (fc.util.exists(dataDir))
      fc.util.listStatus(dataDir).map(_.getPath)
        .filter(_.getName.startsWith("seen_compact_v"))
        .foreach(p => fc.delete(p, true))
    val staged = new HPath(root, s"data/seen_compact_v$upTo").toString
    // stage the distinct fold OUTSIDE the table first: the fold reads the
    // very table it will append into, and staging breaks the read-write
    // cycle before any table mutation starts. The range read is
    // partition-pruned — a generational fold never scans older generations
    spark.table(seenTable)
      .filter(org.apache.spark.sql.functions.col("epoch") > sinceExclusive &&
        org.apache.spark.sql.functions.col("epoch") <= upTo)
      .select("canon_url")
      .distinct().write.mode("overwrite").parquet(staged)
    // a fold window with zero rows (every epoch in range emitted nothing —
    // a draining crawl) stages a part-less dir that parquet cannot
    // schema-infer, and there is nothing to fold anyway
    if (!hasDataFiles(staged)) {
      fc.delete(new HPath(staged), true)
      return
    }
    val tDir = new HPath(new HPath(seenLocation), s"epoch=$target")
    val oldTargetFiles: Seq[HPath] =
      if (fc.util.exists(tDir))
        fc.util.listStatus(tDir).toSeq.filter(isDataFile).map(_.getPath)
      else Seq.empty
    // additive append (mode=append, NOT the dynamic-overwrite appendSeen
    // path): new fold files land beside the old target files with
    // job-unique names, so nothing is replaced until the job has committed
    spark.read.parquet(staged)
      .select(org.apache.spark.sql.functions.col("canon_url"),
        org.apache.spark.sql.functions.lit(target).as("epoch"))
      .write.mode("append")
      .insertInto(seenTable)
    // the fold is durable and covers all of (sinceExclusive, upTo]: now
    // retire sources
    oldTargetFiles.foreach(f => fc.delete(f, false))
    // drop only partitions that actually exist: iterating the range would
    // re-issue an ALTER TABLE + delete per ALREADY-folded epoch on every
    // pass — O(epochs²) cumulative driver round-trips over a long crawl
    val live = spark.sql(s"SHOW PARTITIONS $seenTable").collect()
      .map(_.getString(0).stripPrefix("epoch=").toLong)
    live.filter(e => e > target && e <= upTo).foreach { e =>
      spark.sql(s"ALTER TABLE $seenTable DROP IF EXISTS PARTITION (epoch=$e)")
      fc.delete(new HPath(new HPath(seenLocation), s"epoch=$e"), true)
    }
    // readers gate on epoch <= the committed epoch, so the fold partition
    // must never carry rows "from the future" of its own key — target is
    // below every folded source by construction, and compaction runs only
    // after the epoch's manifest commit, so visibility is unchanged
    fc.delete(new HPath(staged), true)
    ()
  }

  /** Count of live epoch partition directories (test/ops visibility for
    * compaction effectiveness).
    */
  def seenPartitionCount(): Int = {
    ensureSeenTable()
    spark.sql(s"SHOW PARTITIONS $seenTable").count().toInt
  }

  // ---- staging-space filesystem helpers (used by the frontier fold's
  // archive-by-rename: terminal partitions MOVE out of the staged fold dir
  // before the manifest commit, so the mutation is crash-safe — an aborted
  // attempt leaves only orphan staging dirs the re-run clobbers)

  def pathExists(p: String): Boolean = fc.util.exists(new HPath(p))

  /** Total bytes of regular files under `p` (recursive) — fold-cost
    * accounting for the compaction counters (ops visibility: the CLI A/B
    * that justifies a fold cadence reads these out of the manifest).
    */
  def pathBytes(p: String): Long = {
    val hp = new HPath(p)
    if (!fc.util.exists(hp)) 0L
    else {
      def walk(d: HPath): Long =
        fc.util.listStatus(d).map { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (isDataFile(st)) st.getLen
          else 0L
        }.sum
      walk(hp)
    }
  }

  def deletePath(p: String): Unit = {
    val hp = new HPath(p)
    if (fc.util.exists(hp)) { fc.delete(hp, true); () }
  }

  /** Rename `src` to `dst`, creating `dst`'s parent. Fails if `dst` exists
    * (callers clobber their own staging target first) — never silently
    * merges two directories.
    */
  def movePath(src: String, dst: String): Unit = {
    val d = new HPath(dst)
    fc.mkdir(d.getParent, FsPermission.getDirDefault, true)
    fc.rename(new HPath(src), d)
  }

  /** File-level merge-move: rename every data file directly under `srcDir`
    * into `dstDir` (created if needed) with `prefix` prepended — the
    * directory-merge `movePath` refuses, for callers consolidating multiple
    * committed parquet roots into one (archive-root folding). Rename-only:
    * no bytes are rewritten, each file exists in exactly one of the two
    * directories at every instant, and a caller whose manifest references
    * BOTH directories therefore presents every row exactly once throughout.
    * Skips marker files (`_SUCCESS`, dot-files). Returns files moved.
    */
  def moveFilesInto(srcDir: String, dstDir: String, prefix: String): Int = {
    val src = new HPath(srcDir)
    if (!fc.util.exists(src)) return 0
    val dst = new HPath(dstDir)
    fc.mkdir(dst, FsPermission.getDirDefault, true)
    val files = fc.util.listStatus(src).filter(isDataFile)
    files.foreach(st =>
      fc.rename(st.getPath, new HPath(dst, prefix + st.getPath.getName)))
    files.length
  }

  /** Iceberg expire-snapshots analog: physically delete versioned data
    * directories (`data/<table>/v<K>`) that the LATEST manifest no longer
    * references. Without this, every `replace` commit (frontier compaction
    * replaces `frontier_base`) and every `drop` (the folded
    * `frontier_delta` log) strands its superseded directories on disk
    * forever — at the north rule's scale one full frontier copy per
    * compaction cycle. Safety:
    *  - only dirs with version <= LATEST are candidates, so a staging dir
    *    the in-flight epoch pre-wrote at version LATEST+1 (see
    *    [[stagingDir]]) is never touched;
    *  - matching is by (table, vN) path suffix, immune to
    *    relative-vs-qualified path spelling differences between manifest
    *    strings and filesystem listings;
    *  - the store is single-writer and expire runs between epochs, so no
    *    live job holds lineage over an expired dir.
    * After expiry, manifests older than LATEST still exist but may
    * reference deleted data — time travel to expired versions is gone,
    * exactly as with Iceberg's expire_snapshots. Returns the number of
    * directories deleted.
    */
  def expireUnreferenced(): Long = latest() match {
    case None => 0L
    case Some(m) =>
      val referenced: Set[(String, String)] = m.tables.values.flatten.map { p =>
        val hp = new HPath(p); (hp.getParent.getName, hp.getName)
      }.toSet
      val dataDir = new HPath(root, "data")
      if (!fc.util.exists(dataDir)) return 0L
      var deleted = 0L
      fc.util.listStatus(dataDir).filter(_.isDirectory).foreach { t =>
        fc.util.listStatus(t.getPath).filter(_.isDirectory).foreach { vd =>
          val name = vd.getPath.getName
          if (name.length > 1 && name.head == 'v' && name.tail.forall(_.isDigit)
              && name.tail.toLong <= m.version
              && !referenced.contains((t.getPath.getName, name))) {
            fc.delete(vd.getPath, true)
            deleted += 1
          }
        }
      }
      deleted
  }

  /** Durable write-then-rename: content is flushed AND synced to stable
    * storage before the atomic rename, so a crash can never leave the
    * target pointing at truncated bytes (hsync falls back to hflush where
    * the filesystem doesn't support a true fsync).
    */
  private def atomicWrite(target: HPath, content: String): Unit = {
    val tmp = new HPath(target.getParent, target.getName + ".tmp")
    val out = fc.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try {
      out.write(content.getBytes(UTF_8))
      out.hflush()
      try out.hsync() catch { case _: UnsupportedOperationException => () }
    } finally out.close()
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
  }
}
