package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics, computed from the spans of one traced pass. */
object Metrics {
  private val pipe = "imaging.SmartSpimPipeline"
  private val job = "imaging.SmartSpimJob.convertStacks"

  /** Format suffix: `v2`, or `v3` for zarr v3 with 2x2x2 chunks per shard. */
  def tag(sharded: Boolean): String = if (sharded) "v3" else "v2"

  /** Metrics of one traced conversion; the name ends with its format. */
  private val perFormat: Seq[String] =
    Seq(s"$pipe.slices.ms", s"$pipe.slices.tasks",
      s"$pipe.rechunk.ms", s"$pipe.rechunk.shuffle_write_bytes",
      s"$pipe.rechunk.shuffle_read_bytes", s"$pipe.rechunk.spill_bytes",
      s"$pipe.rechunk.task_skew") ++
    (1 to 3).map(l => s"$pipe.downsampleLevel.L$l.ms") ++
    (1 to 3).map(l => s"$pipe.downsampleLevel.L$l.shuffle_bytes") ++
    (0 to 3).map(l => s"$pipe.writeLevelBy.L$l.ms") ++
    Seq(s"$job.jobs", s"$job.driver_gap_ms", s"$job.step_gap_ms", s"$job.utilization",
      s"$job.gc_ms", s"$job.accounted_ratio",
      "sources.ZarrDataSource.plan_ms", "sources.ZarrDataSource.read_ms",
      "sources.ZarrDataSource.chunks", "sources.ZarrDataSource.bytes_read")

  /** Every per-layer metric, in BENCHMARK.json order. A layer the
    * workload leaves idle reads 0. */
  val perLayer: Seq[String] =
    Seq("imaging.ImageCodec.decode_mbps_1t", s"$pipe.windowedMean_mbps_1t",
      "imaging.BloscCodec.compress_mbps_1t", "imaging.BloscCodec.decompress_mbps_1t",
      "imaging.BloscCodec.ratio") ++
    Seq(false, true).flatMap(f => perFormat.map(n => s"$n.${tag(f)}")) ++
    QueryMix.moduleNames.flatMap(m =>
      Seq("build_ms", "exec_ms", "jobs", "shuffle_bytes").map(k => s"queries.$m.$k")) ++
    Seq("queries.plan_ms", "queries.driver_gap_ms", "queries.task_ms",
      "queries.spill_bytes", "queries.gc_ms",
      "plans.PlanDigest.exchanges", "plans.PlanDigest.reused_exchanges",
      "plans.PlanDigest.broadcast_exchanges", "plans.TopKPerKey.nodes",
      "queries.Scoped.cached_after", "trace.overhead")

  /** `chunks`: how many chunks the traced read-back listed. */
  def convertLayers(t: Tracer, spans: Seq[Span], sharded: Boolean,
      chunks: Long): Map[String, Double] = {
    def one(name: String): Span = spans.find(_.name == name).get
    val root = one("SmartSpimJob.convertStacks")
    val steps = spans.filter(_.parent == root.id)
    val rechunk = one("SmartSpimPipeline.rechunk")
    val reduce = t.tasksOf(rechunk).filter(_.shuffleReadBytes > 0).map(_.runMs.toDouble)
    val cores = Runtime.getRuntime.availableProcessors
    val gap = t.ownGapMs(root)
    val slices = one("SmartSpimPipeline.slices")
    val reads = spans.filter(_.name == "ZarrDataSource.read")
    (Seq(
      s"$pipe.slices.ms" -> t.selfMs(slices),
      s"$pipe.slices.tasks" -> slices.counts.tasks.toDouble,
      s"$pipe.rechunk.ms" -> t.selfMs(rechunk),
      s"$pipe.rechunk.shuffle_write_bytes" -> rechunk.counts.shuffleWriteBytes.toDouble,
      s"$pipe.rechunk.shuffle_read_bytes" -> rechunk.counts.shuffleReadBytes.toDouble,
      s"$pipe.rechunk.spill_bytes" -> rechunk.counts.spillBytes.toDouble,
      s"$pipe.rechunk.task_skew" ->
        (if (reduce.isEmpty) 0.0 else reduce.max / math.max(1.0, Stats.median(reduce))),
      s"$job.jobs" -> root.counts.jobs.toDouble,
      s"$job.driver_gap_ms" -> gap,
      s"$job.step_gap_ms" -> steps.map(t.driverGapMs).sum,
      s"$job.utilization" -> root.counts.taskMs / (root.ms * cores),
      s"$job.gc_ms" -> root.counts.gcMs.toDouble,
      s"$job.accounted_ratio" -> (steps.map(t.selfMs).sum + gap) / root.ms,
      "sources.ZarrDataSource.plan_ms" -> one("ZarrDataSource.plan").ms,
      "sources.ZarrDataSource.read_ms" -> reads.map(_.ms).sum,
      "sources.ZarrDataSource.chunks" -> chunks.toDouble,
      "sources.ZarrDataSource.bytes_read" -> reads.map(_.counts.inputBytes).sum.toDouble) ++
    (1 to 3).flatMap { l =>
      val s = one(s"SmartSpimPipeline.downsampleLevel.L$l")
      Seq(s"$pipe.downsampleLevel.L$l.ms" -> t.selfMs(s),
        s"$pipe.downsampleLevel.L$l.shuffle_bytes" -> s.counts.shuffleWriteBytes.toDouble)
    } ++
    (0 to 3).map(l => s"$pipe.writeLevelBy.L$l.ms" ->
      t.selfMs(one(s"SmartSpimPipeline.writeLevelBy.L$l")))
    ).map { case (k, v) => s"$k.${tag(sharded)}" -> v }.toMap
  }

  /** `cachedAfter`: persistent RDDs still held after each query, summed. */
  def queryLayers(t: Tracer, spans: Seq[Span], cachedAfter: Long): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.filter(_.name.startsWith("query:")).foreach { q =>
      val mod = QueryMix.moduleOf(q.name.stripPrefix("query:"))
      spans.filter(_.parent == q.id).foreach { c =>
        m(s"queries.$mod.${c.name}_ms") += c.ms
      }
      m(s"queries.$mod.jobs") += q.counts.jobs
      m(s"queries.$mod.shuffle_bytes") += q.counts.shuffleWriteBytes
      m("queries.plan_ms") += q.counts.planMs
      m("queries.driver_gap_ms") += t.driverGapMs(q)
      m("queries.task_ms") += q.counts.taskMs
      m("queries.spill_bytes") += q.counts.spillBytes
      m("queries.gc_ms") += q.counts.gcMs
      m("plans.PlanDigest.exchanges") += q.counts.exchanges
      m("plans.PlanDigest.reused_exchanges") += q.counts.reusedExchanges
      m("plans.PlanDigest.broadcast_exchanges") += q.counts.broadcastExchanges
      m("plans.TopKPerKey.nodes") += q.counts.topKNodes
    }
    m("queries.Scoped.cached_after") = cachedAfter.toDouble
    m.toMap
  }

  def medianMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> Stats.median(ms.flatMap(_.get(k)))).toMap

  /** Heap still in use after a full collection, in MB: what the run
    * left reachable, such as cached data no query released. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
