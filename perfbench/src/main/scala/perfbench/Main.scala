package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Counts every operation the run attempts, and fails one that throws,
  * runs past its time limit, or whose output check fails. Operations
  * run on one worker thread under their own Spark job group, so a
  * timed-out one can be cancelled. */
final class Runner(spark: SparkSession, deadlineNs: Long) {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  def failed: Int = failures.size
  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }

  def remainingS: Double = (deadlineNs - System.nanoTime()) / 1e9

  /** Runs `body` as one operation; its wall seconds, or None if it failed. */
  def timed(name: String, limitS: Double)(body: => Unit): Option[Double] = {
    attempted += 1
    val group = s"perfbench-op-$attempted"
    val t0 = System.nanoTime()
    val f = pool.submit(new Callable[Unit] {
      def call(): Unit = {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }
    })
    val limit = math.max(1.0, math.min(limitS, remainingS))
    try {
      f.get((limit * 1000).toLong, TimeUnit.MILLISECONDS)
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group); f.cancel(true)
        failures += f"$name: timed out after $limit%.0f s"; None
      case e: ExecutionException =>
        failures += s"$name: ${e.getCause}"; None
    }
  }

  /** A failed output check of an operation already counted. */
  def checkFailed(name: String, check: => Seq[String]): Unit = {
    val problems = try check catch { case e: Exception => Seq(s"check failed: $e") }
    if (problems.nonEmpty) failures += s"$name: ${problems.take(3).mkString("; ")}"
  }

  def close(): Unit = pool.shutdownNow()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value), or the maximum with percentile 100 when there
    * are ten samples or fewer. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) (100.0, s.last)
    else { val k = n - 11; (100.0 * k / (n - 1), s(k)) }
  }
}

/** Benchmark entry point. One JVM runs one workload at one seed, for a
  * measuring window of `--seconds`, with tracing off or on, and writes
  * one JSON artifact; `run.py` turns it into the result line.
  *
  *   Main --workload convert|query_mix --seed N
  *        --seconds S --trace 0|1 --dir WORKDIR --out ARTIFACT.json
  *        [--spawn-ms EPOCH_MS] [--fault corrupt-chunk]
  */
object Main {
  private val limitConvertS = 90.0
  private val limitQueryS = 60.0
  /** The whole run must end well inside the caller's 180 s. */
  private val budgetS = 150.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracle").foreach { path => dumpOracle(Paths.get(path)); return }
    if (args.contains("list-per-layer")) { Metrics.perLayer.foreach(println); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dir = Paths.get(args("dir")).toAbsolutePath
    val spawnMs = args.get("spawn-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    require(Set("convert", "query_mix")(workload),
      s"unknown workload $workload")
    val startNs = System.nanoTime()
    val calibPre = calibrate()
    val calibPreS = (System.nanoTime() - startNs) / 1e9

    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(dir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.LogHygiene.quietWindowWarnings()
    graft.plans.TopKPerKeyPlans.install(spark)
    val tracer = new Tracer(spark)
    val runner = new Runner(spark, startNs + (budgetS * 1e9).toLong)

    val out = mutable.LinkedHashMap.empty[String, JValue]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, JValue]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    Metrics.perLayer.foreach(layers(_) = 0.0)
    var setupS = Double.NaN
    val phases = mutable.LinkedHashMap.empty[String, JValue]
    phases("session") = JDouble((System.currentTimeMillis() - spawnMs) / 1000.0 - calibPreS)
    var phase0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = JDouble((now - phase0) / 1e9); phase0 = now
    }
    def ready(): Unit =
      setupS = (System.currentTimeMillis() - spawnMs) / 1000.0 - calibPreS
    /** Runs rounds until the window is spent: a round starts only if it
      * is expected to end inside the window, judged by the previous
      * round's length, so the number of rounds does not depend on
      * where a round happens to end. A traced run alternates untraced
      * and traced rounds, starting and ending untraced, so the tracing
      * overhead is read against untraced rounds on both sides. */
    def untilWindowEnds(minRounds: Int)(round: Int => Unit): Unit = {
      val w0 = System.nanoTime()
      var i = 0
      var last = 0.0
      def elapsed = (System.nanoTime() - w0) / 1e9
      while ((i < minRounds || elapsed + last <= seconds) &&
          runner.remainingS > 30 && runner.failed == 0) {
        val r0 = elapsed
        round(i); i += 1
        last = elapsed - r0
      }
    }

    try {
      if (workload == "query_mix") {
        val mix = new QueryMix(spark, seed)
        // the untimed warm-up pass is also the check pass: run.py
        // compares each dump with the query's expected digest
        val dumps = dir.resolve("results")
        // in list order, so every seed enters the window from the same state
        val checkS = QueryMix.names.map(n => n -> runner.timed(s"check $n", limitQueryS)(mix.dump(n, dumps))).toMap
        phase("warm-up")
        ready()
        val passes = mutable.ArrayBuffer.empty[Seq[Double]]
        val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
        untilWindowEnds(if (trace) 3 else 1) { i =>
          // each query runs twice in a row and the second run is the
          // measured one, so a query's time does not depend on where the
          // seeded order puts it
          if (trace && i % 2 == 1) {
            val before = tracer.all.size
            var cached = 0L
            val times = mix.order.flatMap { n =>
              runner.timed(n, limitQueryS)(mix.run(n, tracer))
              val t = runner.timed(n, limitQueryS)(tracer.recording(mix.run(n, tracer)))
              cached += spark.sparkContext.getPersistentRDDs.size
              t
            }
            traced += ((times.sum, Metrics.queryLayers(tracer, tracer.all.drop(before), cached)))
          } else {
            val times = mix.order.flatMap { n =>
              runner.timed(n, limitQueryS)(mix.run(n, tracer))
              runner.timed(n, limitQueryS)(mix.run(n, tracer))
            }
            if (times.size == mix.order.size) passes += times
          }
        }
        val all = passes.flatten.toSeq
        val passS = passes.map(_.sum).toSeq
        e2e("pass_s") = Stats.median(passS)
        e2e("op_p50_s") = Stats.median(all)
        e2e("slowest_op_s") = Stats.median(passes.map(_.max).toSeq)
        val (pct, tailS) = Stats.tail(all)
        report("mix_s") = JDouble(Stats.median(passS))
        report("query_p50_s") = JDouble(Stats.median(all))
        report("query_tail_s") = JDouble(tailS)
        report("query_tail_percentile") = JDouble(pct)
        report("query_samples") = JInt(all.size)
        report("passes") = JInt(passes.size)
        report("pass_s_each") = JArray(passS.map(JDouble(_)).toList)
        report("order") = JArray(mix.order.map(JString(_)).toList)
        report("query_s_each") = JObject(mix.order.zipWithIndex.map { case (n, i) =>
          n -> JArray((checkS(n).toSeq ++ passes.map(_(i))).map(JDouble(_)).toList) }.toList)
        report("sf_dir") = JString(QueryMix.sfDir)
        out("dumps") = JArray(mix.order.map(n => JString(dumps.resolve(n).toString)).toList)
        if (trace) {
          val med = Metrics.medianMaps(traced.map(_._2).toSeq)
          med.foreach { case (k, v) => layers(k) = v }
          layers("trace.overhead") = Stats.median(traced.map(_._1).toSeq) / Stats.median(passS) - 1
        }
      } else {
        val conv = new Convert(spark, dir.resolve("bench"), seed, Acquisition.bench)
        conv.generate()
        phase("generate")
        /** One untraced conversion from an empty output directory, a
          * read-back of each store, then the check: the conversion's
          * seconds and each read-back's. */
        def once(c: Convert, sharded: Boolean, name: String): Option[(Double, Seq[Double])] = {
          val op = s"${Metrics.tag(sharded)} $name"
          c.clearOutput(sharded)
          val conversion = runner.timed(s"convert $op", limitConvertS)(c.convert(sharded))
          val reads = conversion.toSeq.flatMap(_ => c.stores(sharded).flatMap { s =>
            runner.timed(s"read $op", limitConvertS)(c.read(s))
          })
          if (conversion.isDefined) runner.checkFailed(s"convert $op", c.check(sharded))
          if (args.get("fault").contains("corrupt-chunk")) {
            Fault.corruptOneChunk(c.output(sharded))
            runner.checkFailed(s"convert $op", c.check(sharded))
          }
          conversion.filter(_ => reads.size == c.stores(sharded).size).map(_ -> reads)
        }
        val formats = Seq(false, true)
        val warm = new Convert(spark, dir.resolve("warm-up"), seed, Acquisition.warmUp)
        warm.generate()
        formats.foreach(once(warm, _, "warm-up"))
        phase("warm-up")
        ready()
        // each pass runs both formats; the order alternates between
        // passes so neither format always runs first
        val passes = mutable.ArrayBuffer.empty[Map[Boolean, (Double, Seq[Double])]]
        val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
        untilWindowEnds(if (trace) 3 else 1) { i =>
          val order = if (i % 2 == 0 || trace) formats else formats.reverse
          if (trace && i % 2 == 1) {
            val runs = order.map { sharded =>
              conv.clearOutput(sharded)
              val before = tracer.all.size
              val op = s"convert ${Metrics.tag(sharded)} traced"
              var chunks = 0L
              val wall = runner.timed(op, limitConvertS)(tracer.recording {
                conv.tracedConvert(sharded, tracer)
                chunks = tracer.span("ZarrDataSource.plan") { conv.planScan(sharded) }
                conv.stores(sharded).foreach(s => tracer.span("ZarrDataSource.read")(conv.read(s)))
              })
              wall.foreach(_ => runner.checkFailed(op, conv.check(sharded)))
              wall.map(_ -> Metrics.convertLayers(tracer, tracer.all.drop(before), sharded,
                chunks))
            }
            if (runs.forall(_.isDefined))
              traced += ((runs.map(_.get._1).sum, runs.map(_.get._2).reduce(_ ++ _)))
          } else {
            val r = order.map(sharded => sharded -> once(conv, sharded, s"pass $i"))
            if (r.forall(_._2.isDefined)) passes += r.map { case (f, o) => f -> o.get }.toMap
          }
        }
        def ops(p: Map[Boolean, (Double, Seq[Double])]): Seq[Double] =
          p.values.toSeq.flatMap { case (c, rs) => c +: rs }
        val passS = passes.map(ops(_).sum).toSeq
        e2e("pass_s") = Stats.median(passS)
        e2e("op_p50_s") = Stats.median(passes.flatMap(ops).toSeq)
        e2e("slowest_op_s") = Stats.median(passes.map(ops(_).max).toSeq)
        val raw = conv.acq.rawBytes
        val voxels = (0 until Acquisition.levels)
          .map(l => conv.acq.levelShape(l).map(_.toLong).product * 2).sum * conv.acq.stacks.size
        report("passes") = JInt(passes.size)
        report("pass_s_each") = JArray(passS.map(JDouble(_)).toList)
        formats.foreach { sharded =>
          val t = Metrics.tag(sharded)
          val convS = passes.map(_(sharded)._1).toSeq
          val readS = passes.map(_(sharded)._2.sum).toSeq
          val (objects, bytes) = conv.storeStats(sharded)
          report(s"convert_mbps_$t") = JDouble(raw / 1e6 / Stats.median(convS))
          report(s"read_mbps_$t") = JDouble(voxels / 1e6 / Stats.median(readS))
          report(s"stored_bytes_per_raw_byte_$t") = JDouble(bytes.toDouble / raw)
          report(s"store_objects_$t") = JInt(objects)
          report(s"convert_s_each_$t") = JArray(convS.map(JDouble(_)).toList)
          report(s"read_s_each_$t") = JArray(passes.flatMap(_(sharded)._2).map(JDouble(_)).toList)
        }
        out("inputs") = JObject(
          "seed" -> JInt(seed),
          "geometry" -> JObject("channels" -> JInt(conv.acq.channels.size),
            "tiles_per_channel" -> JInt(conv.acq.tiles.size),
            "zyx" -> JArray(List(conv.acq.nz, conv.acq.ny, conv.acq.nx).map(JInt(_))),
            "chunk" -> JArray(Acquisition.chunk.map(JInt(_)).toList),
            "levels" -> JInt(Acquisition.levels),
            "v3_shard" -> JArray(List.fill(3)(JInt(2)))),
          "stacks" -> JInt(conv.acq.stacks.size),
          "raw_bytes" -> JInt(raw))
        if (trace) {
          Metrics.medianMaps(traced.map(_._2).toSeq).foreach { case (k, v) => layers(k) = v }
          val rates = conv.codecRates()
          rates.foreach { case (k, v) => layers(k) = v }
          report("blosc_ratio") = JDouble(rates("imaging.BloscCodec.ratio"))
          layers("trace.overhead") = Stats.median(traced.map(_._1).toSeq) / Stats.median(passS) - 1
        }
      }
    } catch {
      case e: Throwable =>
        runner.attempted += 1
        runner.failures += s"run: $e"
    }

    report("peak_rss_mb") = JDouble(Metrics.peakRssMb())
    report("retained_heap_mb") = JDouble(Metrics.retainedHeapMb())
    report("error_rate") = JDouble(runner.failed.toDouble / math.max(1, runner.attempted))
    out("workload") = JString(workload)
    out("seed") = JInt(seed)
    out("trace") = JBool(trace)
    out("seconds") = JDouble(seconds)
    out("setup_s") = JDouble(setupS)
    out("setup_phases_s") = JObject(phases.toList)
    out("attempted") = JInt(runner.attempted)
    out("failed") = JInt(runner.failed)
    out("failures") = JArray(runner.failures.map(JString(_)).toList)
    out("end_to_end") = JObject(e2e.toList.map { case (k, v) => k -> JDouble(v) })
    out("report") = JObject(report.toList)
    if (trace) {
      out("per_layer") = JObject(layers.toList.map { case (k, v) => k -> JDouble(v) })
      out("spans") = JArray(tracer.all.map(s => JObject(
        "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
        "start_ms" -> JDouble((s.startNs - startNs) / 1e6),
        "end_ms" -> JDouble((s.endNs - startNs) / 1e6),
        "jobs" -> JInt(s.counts.jobs), "tasks" -> JInt(s.counts.tasks),
        "task_ms" -> JInt(s.counts.taskMs),
        "shuffle_write_bytes" -> JInt(s.counts.shuffleWriteBytes))).toList)
    }
    out("env") = JObject(
      "cores" -> JInt(cores),
      "jvm_args" -> JArray(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-X")).map(JString(_)).toList),
      "spark_conf" -> JObject(spark.sparkContext.getConf.getAll.sorted
        .filterNot(_._1.startsWith("spark.driver.extraJavaOptions"))
        .map { case (k, v) => k -> JString(v) }.toList),
      "calibration_s" -> JObject("before" -> JDouble(calibPre), "after" -> JDouble(calibrate())))
    runner.close()
    Files.writeString(Paths.get(args("out")), JsonMethods.compact(JsonMethods.render(JObject(out.toList))))
    spark.stop()
  }

  /** The query_mix list with each query's module, class and DuckDB
    * oracle SQL, for make_digests.py. */
  def dumpOracle(path: Path): Unit = {
    val qs = QueryMix.names.map { n =>
      JObject("name" -> JString(n), "module" -> JString(QueryMix.moduleOf(n)),
        "class" -> JString(if (QueryMix.heavy.contains(n)) "heavy" else "light"),
        "sql" -> graft.SparkEntry.oracleSql.get(n).map(JString(_)).getOrElse(JNull))
    }
    Files.writeString(path, JsonMethods.pretty(JsonMethods.render(JArray(qs.toList))))
  }

  /** Single-thread spin, best of three, in seconds: the host-contention
    * reading recorded before and after the run. */
  def calibrate(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
    if (s == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }.min
}

/** Deliberate output damage, for the benchmark's own tests. */
object Fault {
  /** Flips one byte in the middle of the largest chunk object. */
  def corruptOneChunk(output: Path): Unit = {
    val target = Files.walk(output).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .maxBy(Files.size)
    val b = Files.readAllBytes(target)
    b(b.length / 2) = (b(b.length / 2) ^ 0x5A).toByte
    Files.write(target, b)
  }
}
