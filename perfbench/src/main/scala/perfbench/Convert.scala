package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.JobSettings
import graft.imaging.{BloscCodec, ImageCodec, SmartSpimJob, SmartSpimPipeline, ZarrMeta}
import graft.sources.{ZarrDataSource, ZarrInputPartition}

/** One chunk row as the `zarr` source returns it. */
final case class ZarrRow(level: Int, zc: Int, yc: Int, xc: Int, dz: Int, dy: Int,
    dx: Int, data: Array[Byte])

/** The `convert` workload: a seeded acquisition converted by
  * `SmartSpimJob.runJob` with the reference defaults, once as zarr v2
  * and once as zarr v3 with 2x2x2 chunks per shard, each conversion
  * followed by a full read-back through `spark.read.format("zarr")`.
  * Every conversion starts from an empty output directory. */
final class Convert(spark: SparkSession, dir: Path, seed: Long, val acq: Acquisition) {
  import spark.implicits._

  val input: Path = dir.resolve("in")
  private var expected: Map[String, Map[Acquisition.ChunkKey, Acquisition.ChunkDigest]] = Map.empty

  def output(sharded: Boolean): Path = dir.resolve(if (sharded) "out-v3" else "out-v2")

  def settings(sharded: Boolean): JobSettings = JobSettings(
    inputSource = input.toString, outputDirectory = output(sharded).toString,
    compressorName = "blosc", compressorLevel = 3, compressorCname = "zstd",
    byteShuffle = true, chunkSize = Acquisition.chunk,
    scaleFactor = Seq.fill(3)(Acquisition.factor),
    downsampleLevels = Acquisition.levels,
    zarrFormat = if (sharded) 3 else 2,
    shardGrid = if (sharded) Some(Seq(2, 2, 2)) else None)

  def stores(sharded: Boolean): Seq[String] = acq.stacks.map { case (_, rel) =>
    SmartSpimJob.storeFor(output(sharded).toString, input.resolve(rel).toString) }

  /** Writes the seeded tree and computes the expected pyramid. */
  def generate(): Unit =
    expected = acq.write(input, seed, spark.sparkContext.defaultParallelism)

  def clearOutput(sharded: Boolean): Unit = Convert.deleteTree(output(sharded))

  /** Untraced conversion, as a user runs it. */
  def convert(sharded: Boolean): Unit = SmartSpimJob.runJob(spark, settings(sharded))

  /** Full read-back of one store: every level, every column produced. */
  def read(store: String): Unit =
    spark.read.format("zarr").load(store).write.format("noop").mode("overwrite").save()

  /** Driver-side chunk listing of every store through the source's
    * public scan API; returns the number of chunks listed. */
  def planScan(sharded: Boolean): Long = stores(sharded).map { store =>
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("path" -> store).asJava)
    val table = new ZarrDataSource().getTable(graft.sources.ZarrTable.SCHEMA,
      Array.empty, opts.asCaseSensitiveMap())
    val scan = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(opts).build()
    scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[ZarrInputPartition].specs.size.toLong).sum
  }.sum

  /** The conversion of `convertStacks`, one public pipeline call at a
    * time, each materialized before the next so each gets its own span.
    * Metadata documents are written the way `convertStacks` writes
    * them, from `ZarrMeta`. */
  def tracedConvert(sharded: Boolean, t: Tracer): Unit = t.span("SmartSpimJob.convertStacks") {
    val s = settings(sharded)
    val stackDirs = SmartSpimJob.discoverStacks(s.inputSource)
    SmartSpimJob.uploadDerivatives(s)
    val voxel = SmartSpimJob.voxelResolution(Paths.get(s.inputSource, "acquisition.json"))
    val shape0 = stackDirs.map { d =>
      val first = Files.list(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val probe = ImageCodec.decode(Files.readAllBytes(first.minBy(_.toString)))
      d.toString -> Seq(first.size, probe.height, probe.width)
    }.toMap
    def parts(shapes: Map[String, Seq[Int]]): Option[Int] = s.shardGrid.map { g =>
      SmartSpimPipeline.colocatedParts(spark, shapes.values.map { sh =>
        sh.lazyZip(s.chunkSize).lazyZip(g).map { (n, c, k) =>
          (((n + c - 1) / c + k - 1) / k).toLong }.product }.sum)
    }
    def materialize[A](ds: Dataset[A]): Dataset[A] = {
      ds.persist(StorageLevel.MEMORY_AND_DISK); ds.count(); ds
    }
    val sl = t.span("SmartSpimPipeline.slices") {
      materialize(SmartSpimPipeline.slices(spark, stackDirs.map(_.toString), "png"))
    }
    var current = t.span("SmartSpimPipeline.rechunk") {
      materialize(SmartSpimPipeline.rechunk(sl, s.chunkSize, s.shardGrid, parts(shape0)))
    }
    sl.unpersist(blocking = true)
    var shapes = shape0
    for (level <- 0 until s.downsampleLevels) {
      t.span(s"SmartSpimPipeline.writeLevelBy.L$level") {
        SmartSpimPipeline.writeLevelBy(current, SmartSpimJob.storeFor(s.outputDirectory, _),
          level, s.chunkSize, s.compressorLevel, s.byteShuffle, true,
          s.compressorCname, s.zarrFormat, s.shardGrid, colocated = s.shardGrid.isDefined)
      }
      shapes.foreach { case (d, sh) =>
        val store = SmartSpimJob.storeFor(s.outputDirectory, d)
        val shapeT = Seq(1L, 1L) ++ sh.map(_.toLong)
        val chunksT = Seq(1, 1) ++ s.chunkSize
        if (s.zarrFormat == 2)
          Convert.put(s"$store/$level/.zarray", ZarrMeta.render(ZarrMeta.zarray(
            shapeT, chunksT, s.compressorLevel, s.byteShuffle, true, s.compressorCname)))
        else
          Convert.put(s"$store/$level/zarr.json", ZarrMeta.render(ZarrMeta.zarrJsonArray(
            shapeT, chunksT, s.shardGrid.map(g => Seq(1, 1) ++ g), s.compressorLevel,
            s.byteShuffle, true, s.compressorCname)))
      }
      if (level < s.downsampleLevels - 1) {
        val next = shapes.view.mapValues(_.zip(s.scaleFactor)
          .map { case (n, f) => (n + f - 1) / f }).toMap
        val down = t.span(s"SmartSpimPipeline.downsampleLevel.L${level + 1}") {
          materialize(SmartSpimPipeline.downsampleLevel(current, s.chunkSize,
            s.scaleFactor, s.shardGrid, parts(next)))
        }
        current.unpersist(blocking = true)
        current = down
        shapes = next
      }
    }
    current.unpersist(blocking = true)
    stackDirs.foreach { d =>
      val store = SmartSpimJob.storeFor(s.outputDirectory, d.toString)
      val channel = d.getParent.getParent.getFileName.toString
      val name = d.getFileName.toString
      val sh = shape0(d.toString)
      val omero = ZarrMeta.omero(name, Seq(1L, 1L) ++ sh.map(_.toLong),
        Seq(s"Channel:$channel:0"),
        Seq(SmartSpimJob.wavelengthToHex(SmartSpimJob.emissionWavelength(channel))),
        minMax = Seq((0.0, 65535.0)), startEnd = Seq((0.0, 350.0)))
      if (s.zarrFormat == 2) {
        Convert.put(s"$store/.zgroup", ZarrMeta.render(ZarrMeta.zgroup))
        Convert.put(s"${s.outputDirectory}/$channel/.zgroup", ZarrMeta.render(ZarrMeta.zgroup))
        Convert.put(s"$store/.zattrs", ZarrMeta.render(JObject(
          ZarrMeta.multiscales(name, s.downsampleLevels, s.scaleFactor, voxel).obj ++
            JObject("omero" -> omero).obj)))
      } else {
        val ome = JObject(ZarrMeta.ome05Multiscales(name, s.downsampleLevels,
          s.scaleFactor, voxel).obj ++ JObject("omero" -> omero).obj)
        Convert.put(s"$store/zarr.json", ZarrMeta.render(ZarrMeta.zarrJsonGroup(Some(ome))))
        Convert.put(s"${s.outputDirectory}/$channel/zarr.json",
          ZarrMeta.render(ZarrMeta.zarrJsonGroup()))
      }
    }
  }

  /** Checks the output against the generator's pyramid: every chunk's
    * extent and CRC32C, every level's shape in the array metadata, and
    * the multiscales group document. Returns the problems found. */
  def check(sharded: Boolean): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    acq.stacks.foreach { case (_, rel) =>
      val store = SmartSpimJob.storeFor(output(sharded).toString, input.resolve(rel).toString)
      val want = expected(rel)
      problems ++= checkMetadata(store, sharded).map(p => s"$rel: $p")
      val got = spark.read.format("zarr").load(store).as[ZarrRow]
        .map(r => (r.level, r.zc, r.yc, r.xc, r.dz, r.dy, r.dx,
          if (r.data == null) -1L else Acquisition.crc(r.data)))
        .collect()
        .map { case (l, z, y, x, dz, dy, dx, c) =>
          Acquisition.ChunkKey(l, z, y, x) -> Acquisition.ChunkDigest(dz, dy, dx, c) }
        .toMap
      if (got.size != want.size)
        problems += s"$rel: ${got.size} chunks read, ${want.size} expected"
      val wrong = want.count { case (k, d) => !got.get(k).contains(d) }
      if (wrong > 0) problems += s"$rel: $wrong of ${want.size} chunks differ from the expected pyramid"
    }
    problems.toSeq
  }

  private def checkMetadata(store: String, sharded: Boolean): Seq[String] = {
    def json(p: String): JValue = JsonMethods.parse(Files.readString(Paths.get(p)))
    def ints(j: JValue): Seq[Int] = j match {
      case JArray(vs) => vs.collect { case JInt(i) => i.toInt }
      case _ => Nil
    }
    val group = if (sharded) json(s"$store/zarr.json") \ "attributes" \ "ome"
      else json(s"$store/.zattrs")
    val paths = (group \ "multiscales")(0) \ "datasets" match {
      case JArray(ds) => ds.map(d => (d \ "path").values.toString)
      case _ => Nil
    }
    val levels = (0 until Acquisition.levels).map(_.toString)
    val out = mutable.ArrayBuffer.empty[String]
    if (paths != levels) out += s"multiscales datasets $paths, expected $levels"
    for (l <- 0 until Acquisition.levels) {
      val shape = ints(json(if (sharded) s"$store/$l/zarr.json" else s"$store/$l/.zarray") \ "shape")
      val want = Seq(1, 1) ++ acq.levelShape(l)
      if (shape != want) out += s"level $l shape $shape, expected $want"
    }
    out.toSeq
  }

  /** (objects, bytes) under the output directory, without the `.crc`
    * sidecars the local Hadoop file system adds. */
  def storeStats(sharded: Boolean): (Long, Long) = {
    val files = Files.walk(output(sharded)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Single-thread throughput of the codec layers on this run's data:
    * PNG decode of one stack's files, the windowed mean, and Blosc
    * compress/decompress over that stack's padded level-0 chunks. */
  def codecRates(): Map[String, Double] = {
    def mbps(bytes: Long)(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    val pngs = Files.list(input.resolve(acq.stacks.head._2)).iterator().asScala
      .toSeq.sorted.map(Files.readAllBytes)
    val decode = mbps(pngs.size.toLong * acq.ny * acq.nx * 2) {
      pngs.foreach(ImageCodec.decode)
    }
    // chunks as the writer encodes them, padded to the full chunk shape;
    // the ratio is taken over the voxels they hold, like the store's
    val chunks = acq.levelZeroChunks(seed, 0)
    val raw = chunks.map(_.length.toLong).sum
    val voxelBytes = acq.nz.toLong * acq.ny * acq.nx * 2
    val c = Acquisition.chunk
    val mean = mbps(raw) {
      chunks.foreach(d => SmartSpimPipeline.windowedMean(c(0), c(1), c(2), d,
        Seq.fill(3)(Acquisition.factor)))
    }
    var frames: Seq[Array[Byte]] = Nil
    val s = settings(false)
    val comp = mbps(raw) {
      frames = chunks.map(BloscCodec.compress(_, 2, s.compressorLevel, s.byteShuffle,
        s.compressorCname))
    }
    val decomp = mbps(raw) { frames.foreach(BloscCodec.decompress) }
    Map(
      "imaging.ImageCodec.decode_mbps_1t" -> decode,
      "imaging.SmartSpimPipeline.windowedMean_mbps_1t" -> mean,
      "imaging.BloscCodec.compress_mbps_1t" -> comp,
      "imaging.BloscCodec.decompress_mbps_1t" -> decomp,
      "imaging.BloscCodec.ratio" -> frames.map(_.length.toLong).sum.toDouble / voxelBytes)
  }
}

object Convert {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  private def put(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }
}
