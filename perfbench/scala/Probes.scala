package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.SnapshotStore
import graft.engine.FrontierLog
import graft.fetch.{FetchSim, MediaFetchSim}
import graft.functions.Banding
import graft.operators.{Bloom, Extract, Multimodal, NearDup, Sched, Seen}
import graft.sinks.RecordSink

/** Shadow probes: before an epoch runs, call each inner layer's public
  * functions on the pre-epoch snapshot and time them one layer at a time.
  * The epoch's own seen compaction and the expiry after it rewrite or delete
  * these inputs, so the probes must run first. Each probe forces its result
  * and writes only under `scratch`, never into the store.
  *
  * The probes rebuild the epoch's inputs the way `EpochDriver.runEpoch`
  * does, so their counts must equal the epoch's counters: the batch is
  * `fetched + errors` rows and the fresh set is `emitted` rows.
  */
final class Probes(spark: SparkSession, store: SnapshotStore, tracer: Tracer,
    seed: Long, nHosts: Int, budgetMs: Long, scratch: String) {
  import spark.implicits._

  // the engine's delay for hosts without a robots row and its salt count
  private val DefaultDelayMs = 2500L
  private val SaltBuckets = 64

  private def written(df: DataFrame, name: String): DataFrame = {
    val dir = s"$scratch/$name"
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Probe the epoch that will run on top of the latest snapshot. Returns
    * counts and layer timings, keyed by metric name.
    */
  def run(): Map[String, Double] = {
    val m = store.latest().get
    val epoch = m.epoch + 1
    val c = m.counters
    val par = spark.sparkContext.defaultParallelism
    val robots = store.readTable(m, "robots").get
    val floorMs = c("robots_floor_ms")
    val cut = Sched.budgetCut(budgetMs, floorMs)

    // ---- sched: the head when still valid, else the full pending view
    val head = for {
      he <- c.get("head_epoch")
      hk <- c.get("head_k")
      if c.getOrElse("head_cut", cut) == cut && hk >= (epoch - he) * cut
      h <- store.readTable(m, "frontier_head")
    } yield (h, he)
    val delta = store.readTable(m, "frontier_delta")
    val pendingSrc = head.map(_._1).getOrElse(store.readTable(m, "frontier_base").get)
    val deltaSrc = head match {
      case Some((_, he)) => delta.map(_.filter(col("seq") > he))
      case None => delta
    }
    val (ranked, rankS) = tracer.timed("probe.sched") {
      val pending = FrontierLog.pending(pendingSrc, deltaSrc)
        .join(broadcast(robots.select("host", "crawl_delay_ms")), Seq("host"), "left")
        .withColumn("crawl_delay_ms", coalesce(col("crawl_delay_ms"), lit(DefaultDelayMs)))
      val r = Sched.rankAndBudget(pending, budgetMs, floorMs).cache()
      r.count()
      r
    }
    val batchRows = ranked.count()

    // ---- fetch over the salted batch partitions
    val (fetched, fetchS) = tracer.timed("probe.fetch") {
      written(FetchSim.run(Sched.fetchBatch(ranked, epoch, SaltBuckets, par),
        seed, nHosts).toDF(), "fetch")
    }
    ranked.unpersist()
    val perPartition = fetched.groupBy("partition_id").count()
      .as[(Int, Long)].collect().map(_._2.toDouble).toSeq
    val okDocs = fetched.filter(col("status") === "ok")
      .select(col("canon_url").as("doc_id"), col("depth"), col("spans"))
    val nOk = okDocs.count()

    // ---- extract + canon + robots filter, depth per candidate
    val (cand, canonS) = tracer.timed("probe.extract") {
      val allowed = Sched.allowed(
        Extract.canonCandidates(okDocs.select("doc_id", "spans")), robots,
        DefaultDelayMs).select("canon_url", "host", "src_doc")
      written(allowed
        .join(okDocs.select(col("doc_id").as("src_doc"), col("depth")), Seq("src_doc"))
        .groupBy("canon_url", "host")
        .agg((min("depth") + 1).cast("int").as("depth")), "cand")
    }
    val nCand = cand.count()

    // ---- dedup: Bloom merge, anti-join with and without it, Bloom build
    val segments = c("cfg_bloom_segments").toInt
    val bits = c("cfg_bloom_bits").toInt
    val seen = store.readSeen(m.epoch)
    val (segs, mergeS) = tracer.timed("probe.bloom_merge") {
      Bloom.mergedSegments(store.readTable(m, "seen_bloom").get, segments, bits)
    }
    val bc = Seen.broadcastSegments(spark, segs)
    val ((fresh, antiS), nMaybe) = try {
      (tracer.timed("probe.antijoin") {
        written(Seen.filterUnseen(cand, "canon_url", seen, Some(bc)), "fresh")
      }, cand.filter(graft.plans.BloomMightContain(col("canon_url"), bc)).count())
    } finally bc.destroy()
    val nFresh = fresh.count()
    val (nExact, exactS) = tracer.timed("probe.antijoin_exact") {
      Seen.filterUnseen(cand, "canon_url", seen, None).count()
    }
    val (_, buildS) = tracer.timed("probe.bloom_build") {
      Bloom.buildSegments(fresh, "canon_url", segments, bits).collect()
    }

    // ---- near-dup: batch signatures probed against the corpus signatures.
    // A store without near-dup keeps none, so the probe keeps its own
    // corpus under scratch and appends each batch, as the engine would
    val storeCorpus = store.readTable(m, "corpus_sim")
    val ownCorpus = s"$scratch/corpus_sim"
    val corpus = storeCorpus.orElse(
      if (store.pathExists(ownCorpus)) Some(spark.read.parquet(ownCorpus)) else None)
    val nCorpus = corpus.map(_.count()).getOrElse(0L)
    val ((simNew, nPairs), nearS) = tracer.timed("probe.neardup") {
      val text = okDocs
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .groupBy("doc_id")
        .agg(array_join(transform(array_sort(filter(
            collect_list(struct(col("span.offset"), col("span.text"))),
            x => x.getField("text") =!= "")),
          x => x.getField("text")), " ").as("text"))
      val docs = okDocs.select("doc_id").join(text, Seq("doc_id"), "left")
        .na.fill("", Seq("text"))
      val sim = written(NearDup.simhashTotal(docs, NearDup.XxHashBits,
        NearDup.xxTokenHash), "sim_new")
      val blocks = Banding.blocksFor(nCorpus + nOk, hashBits = NearDup.XxHashBits)
      val pairs = corpus match {
        case Some(cs) => NearDup.incrementalFromSimhash(sim,
          cs.select("doc_id", "simhash"), blocks, NearDup.XxHashBits)
        case None => NearDup.pairsFromSimhash(sim, blocks, NearDup.XxHashBits)
      }
      (sim, written(pairs, "pairs").count())
    }
    val nSim = simNew.count()
    if (storeCorpus.isEmpty) simNew.write.mode("append").parquet(ownCorpus)

    // ---- media: fetch and decode every media span of the batch
    val refs = okDocs
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .filter(col("span.kind") === "media" && col("span.media_ref") =!= "")
      .select(col("doc_id"), col("span.media_ref").as("media_ref"),
        col("span.offset").as("offset"))
    val theSeed = seed
    val (nMedia, mediaS) = tracer.timed("probe.media") {
      written(refs.as[(String, String, Int)].mapPartitions { it =>
        java.lang.System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (doc, ref, off) =>
          val payload = MediaFetchSim.fetchBytes(ref, theSeed)
          val (w, h, emb, _) = Multimodal.imageFeatures(payload)
          (doc, ref, off, w, h, payload.length, emb)
        }
      }.toDF("doc_id", "media_ref", "offset", "width", "height", "n_bytes",
        "embedding"), "media").count()
    }
    val nRefs = refs.select("media_ref").distinct().count()

    // ---- sink: the fresh records through the batched record sink
    val sinkDir = s"$scratch/sink-e$epoch/frontier-records"
    val (_, sinkS) = tracer.timed("probe.sink") {
      RecordSink.emit(fresh.withColumn("epoch", lit(epoch)), "canon_url",
        sinkDir, tag = s"e$epoch")
    }
    val nRecords = RecordSink.readTopic(spark, sinkDir).count()

    val sortedParts = perPartition.sorted
    Map(
      "pending_rows" -> c.getOrElse("pending_rows", -1L).toDouble,
      "rank_s" -> rankS, "batch_rows" -> batchRows.toDouble,
      "fetch_s" -> fetchS, "ok_rows" -> nOk.toDouble,
      "partition_skew" ->
        (if (sortedParts.isEmpty) 1.0 else sortedParts.last / Stats.median(sortedParts)),
      "canon_s" -> canonS, "candidates" -> nCand.toDouble,
      "bloom_merge_s" -> mergeS, "antijoin_s" -> antiS,
      "antijoin_exact_s" -> exactS, "bloom_build_s" -> buildS,
      "fresh" -> nFresh.toDouble, "fresh_exact" -> nExact.toDouble,
      "bloom_maybe" -> nMaybe.toDouble,
      "neardup_s" -> nearS, "corpus_rows" -> nCorpus.toDouble,
      "sim_rows" -> nSim.toDouble, "pairs" -> nPairs.toDouble,
      "media_s" -> mediaS, "media_spans" -> nMedia.toDouble,
      "media_refs" -> nRefs.toDouble,
      "sink_s" -> sinkS, "sink_records" -> nRecords.toDouble)
  }
}
