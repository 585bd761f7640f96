package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ckpt.SnapshotStore
import graft.engine.EpochDriver
import graft.gen.SimWeb
import graft.sinks.RecordSink

/** Crawl geometry and run plan, all from `--key value` arguments. */
final case class Plan(a: Map[String, String]) {
  private def int(k: String) = a(k).toInt
  val seed: Long = a("seed").toLong
  val seeds: Int = int("seeds")
  val hosts: Int = int("hosts")
  val budgetMs: Long = a("budget-ms").toLong
  val major: Int = int("major")
  val minor: Int = int("minor")
  val nearDup: Boolean = a("neardup") == "1"
  val media: Boolean = a("media") == "1"
  val sink: Boolean = a("sink") == "1"
  val epochs: Int = int("epochs")
  val resumeAfter: Int = int("resume-after")
  val setupRepeats: Int = int("setup-repeats")
  val seconds: Double = a("seconds").toDouble
  val traced: Boolean = a("trace") == "1"
  val cpus: Int = int("cpus")
  val work: String = a("work")
  val out: String = a("out")

  def kind(epoch: Long): String =
    if (major > 0 && epoch % major == 0) "major"
    else if (minor > 0 && epoch % minor == 0) "minor"
    else "plain"
}

/** Benchmark driver for the epoch engine: a closed loop with one client.
  * Each crawl sets up a fresh store (`EpochDriver.init`), then runs
  * `runEpoch` + `SnapshotStore.expireUnreferenced` once per epoch, each epoch
  * starting when the previous one has committed. Halfway through, the crawl
  * stops its SparkSession and resumes the same store in a fresh one.
  *
  * Every crawl runs in this one JVM, and the first starts it cold, as a CLI
  * crawl does. A run measures whole crawls: one, and more while fewer than
  * `seconds` have passed; then it repeats the set-up alone. A traced run
  * adds spans, Spark listener totals and shadow probes (see [[Probes]]).
  * Raw per-epoch records go to one JSON file for the caller to aggregate
  * and check.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val plan = Plan(args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    val tracer = new Tracer(plan.traced)
    val totals = new SparkTotals
    val crawls = ArrayBuffer.empty[Map[String, Any]]

    def go(label: String, epochs: Int): Boolean = {
      val rec = new Crawl(plan, label, epochs, tracer, totals).run()
      crawls += rec
      rec("error") == null
    }

    // whole crawls: at least one, more while the time budget lasts
    val t0 = System.nanoTime()
    var ok = go("c0", plan.epochs)
    while (ok && (System.nanoTime() - t0) / 1e9 < plan.seconds)
      ok = go(s"c${crawls.size}", plan.epochs)
    val measuredS = (System.nanoTime() - t0) / 1e9
    // more set-ups (session start through the init commit) for the median
    for (i <- 1 to plan.setupRepeats if ok) ok = go(s"s$i", 0)

    val result = Map(
      "crawls" -> crawls.toSeq,
      "measured_s" -> measuredS,
      "spans" -> tracer.spans.toSeq,
      "peak_rss_mb" -> peakRssMb())
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(plan.out), result)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** One crawl: set-up, epochs with a resume halfway, final checks. */
final class Crawl(plan: Plan, label: String, epochs: Int, tracer: Tracer,
    totals: SparkTotals) {
  private val storeDir = s"${plan.work}/store-$label"
  private val sinkDir = s"${plan.work}/sink-$label"
  private val scratch = s"${plan.work}/probe-$label"

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${plan.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${plan.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (plan.traced) spark.sparkContext.addSparkListener(totals)
    SparkEntry.configure(spark)
  }

  private def driver(spark: SparkSession, store: SnapshotStore) =
    new EpochDriver(spark, store, plan.seed, plan.hosts,
      epochBudgetMs = plan.budgetMs,
      compactSeenEvery = plan.major, compactFrontierEvery = plan.major,
      compactDeltaEvery = plan.minor,
      nearDupDocs = plan.nearDup, mediaDocs = plan.media,
      sinkDir = if (plan.sink) Some(sinkDir) else None)

  /** File sizes under the store, by path. */
  private def files(): Map[String, Long] = {
    val root = Paths.get(storeDir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  def run(): Map[String, Any] = {
    tracer.run = label
    var spark: SparkSession = null
    val epochRecs = ArrayBuffer.empty[Map[String, Any]]
    var setupS, resumeS, openS = Double.NaN
    var fin = Map.empty[String, Any]
    var error: String = null
    var current = 0
    try tracer.span("crawl") {
      val ((st, drv), s0) = tracer.timed("setup") {
        spark = session()
        val st = new SnapshotStore(storeDir, spark)
        val d = driver(spark, st)
        tracer.span("init")(d.init(SimWeb.seedUrls(plan.seeds, plan.hosts, plan.seed)))
        (st, d)
      }
      setupS = s0
      var store = st
      var drv0 = drv
      for (e <- 1 to epochs) {
        current = e
        val resuming = e == plan.resumeAfter + 1
        if (resuming) {
          spark.stop()
          spark = session()
          val ((s, d), o) = tracer.timed("open") {
            val s = new SnapshotStore(storeDir, spark)
            s.readSeen(s.latest().get.epoch)
            (s, driver(spark, s))
          }
          store = s
          drv0 = d
          openS = o
        }
        val probe =
          if (!plan.traced) None
          else Some(tracer.span("probe")(
            new Probes(spark, store, tracer, plan.seed, plan.hosts,
              plan.budgetMs, scratch).run()))
        val before = if (plan.traced) files() else Map.empty[String, Long]
        val startMs = System.currentTimeMillis()
        val ((counters, runS, expireS), wallS) = tracer.timed("epoch") {
          val (cs, r) = tracer.timed("runEpoch")(drv0.runEpoch())
          (cs, r, tracer.timed("expire")(store.expireUnreferenced())._2)
        }
        val endMs = System.currentTimeMillis()
        if (resuming) resumeS = openS + runS
        val newFiles = (if (plan.traced) files() else Map.empty[String, Long])
          .filter { case (p, n) => !before.get(p).contains(n) }
        epochRecs += Map(
          "epoch" -> e, "kind" -> plan.kind(e), "wall_s" -> wallS,
          "expire_s" -> expireS, "counters" -> counters,
          "sched_source" -> drv0.lastSchedSource,
          "start_ms" -> startMs, "end_ms" -> endMs,
          "files_written" -> newFiles.size, "bytes_written" -> newFiles.values.sum,
          "probe" -> probe.orNull)
      }
      if (epochs > 0) fin = finalState(spark, store, drv0)
    } catch {
      case t: Throwable =>
        error = s"${t.getClass.getName}: ${t.getMessage}"
        t.printStackTrace()
    } finally if (spark != null) spark.stop()

    // the bus is drained once the context has stopped: attribute the
    // listener's events to each epoch's window
    val withSpark =
      if (!plan.traced) epochRecs.toSeq
      else epochRecs.toSeq.map(r => r + ("spark" ->
        totals.window(r("start_ms").asInstanceOf[Long], r("end_ms").asInstanceOf[Long])))
    Map("label" -> label, "setup_s" -> setupS,
      "resume_s" -> resumeS, "open_s" -> openS, "epochs" -> withSpark,
      "final" -> fin, "error" -> error, "error_epoch" -> current)
  }

  /** Store state after the last expiry, for the invariant checks. */
  private def finalState(spark: SparkSession, store: SnapshotStore,
      drv: EpochDriver): Map[String, Any] = {
    val m = store.latest().get
    val storeBytes = files().values.sum
    val manifest = Paths.get(storeDir, "manifest", s"v${m.version}.json")
    Map(
      "store_bytes" -> storeBytes,
      "manifest_bytes" -> Files.size(manifest),
      "seeds" -> store.readManifest(0L).counters("seeds"),
      "seen_rows" -> drv.seenSet().count(),
      "seen_partitions" -> store.seenPartitionCount(),
      "sink_records" ->
        (if (plan.sink) RecordSink.readTopic(spark, s"$sinkDir/frontier-records").count()
         else -1L),
      "counters" -> m.counters)
  }
}
