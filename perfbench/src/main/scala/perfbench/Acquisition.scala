package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}

import graft.imaging.ImageCodec

/** A seeded SmartSPIM acquisition tree:
  * `SmartSPIM/<channel>/<col>/<col>_<row>/<z>.png` 16-bit slices plus
  * `acquisition.json` and `derivatives/`, and the pyramid the
  * conversion must produce from it, as one digest per chunk.
  *
  * The voxels resemble light-sheet data: a dark camera background with
  * shot noise, and sparse bright cells. The geometry is fixed and the
  * seed moves every cell and every noise sample, so a seed changes the
  * content but not the amount of work. Dimensions are not multiples of
  * the chunk size, so every level has clamped edge chunks and the
  * coarse levels have odd extents. */
final case class Acquisition(channels: Seq[String], tiles: Seq[(Int, Int)],
    nz: Int, ny: Int, nx: Int) {
  import Acquisition._
  private val cellsPerStack = nz * ny * nx / 45000

  /** (channel, stack directory relative to the tree root). */
  val stacks: Seq[(String, String)] = for {
    ch <- channels; (col, row) <- tiles
  } yield (ch, s"SmartSPIM/$ch/$col/${col}_$row")

  def rawBytes: Long = stacks.size.toLong * nz * ny * nx * 2

  def levelShape(level: Int): Seq[Int] =
    Seq(nz, ny, nx).map(n => (0 until level).foldLeft(n)((m, _) => (m + factor - 1) / factor))


  private def cells(seed: Long, stack: Int): Array[Cell] = {
    val rnd = new scala.util.Random(mix(seed * 31 + stack))
    Array.fill(cellsPerStack) {
      Cell(rnd.nextInt(nz), rnd.nextInt(ny), rnd.nextInt(nx),
        2 + rnd.nextInt(5), 600 + rnd.nextInt(12000))
    }
  }

  /** One Z slice, little-endian uint16. */
  private def slice(seed: Long, stack: Int, z: Int, cs: Array[Cell]): Array[Byte] = {
    val signal = new Array[Int](ny * nx)
    cs.foreach { c =>
      val dz = z - c.z
      if (math.abs(dz) <= c.r) {
        val r2 = c.r * c.r
        var y = math.max(0, c.y - c.r)
        while (y <= math.min(ny - 1, c.y + c.r)) {
          var x = math.max(0, c.x - c.r)
          while (x <= math.min(nx - 1, c.x + c.r)) {
            val d2 = dz * dz + (y - c.y) * (y - c.y) + (x - c.x) * (x - c.x)
            if (d2 < r2) signal(y * nx + x) += c.peak * (r2 - d2) / r2
            x += 1
          }
          y += 1
        }
      }
    }
    val out = new Array[Byte](ny * nx * 2)
    val base = mix(seed ^ (stack.toLong << 40) ^ (z.toLong << 20))
    var i = 0
    while (i < ny * nx) {
      // dark offset with a faint illumination falloff across Y
      val mean = 96 + 12 * (i / nx) / ny + signal(i)
      // shot noise: variance = mean, from a sum of four uniform bytes
      val h = mix(base + i)
      val u = ((h & 0xFF) + ((h >>> 8) & 0xFF) + ((h >>> 16) & 0xFF) +
        ((h >>> 24) & 0xFF)).toInt - 510
      val v = math.min(65535, math.max(0, mean + (u * math.sqrt(mean) / 147.8).toInt))
      out(2 * i) = (v & 0xFF).toByte
      out(2 * i + 1) = (v >>> 8).toByte
      i += 1
    }
    out
  }

  private def floorMean(v: Array[Char], shape: Seq[Int]): (Array[Char], Seq[Int]) = {
    val Seq(z0, y0, x0) = shape
    val Seq(z1, y1, x1) = shape.map(n => (n + factor - 1) / factor)
    val out = new Array[Char](z1 * y1 * x1)
    for (z <- 0 until z1; y <- 0 until y1; x <- 0 until x1) {
      var sum = 0L; var n = 0
      for (a <- z * factor until math.min(z0, (z + 1) * factor);
           b <- y * factor until math.min(y0, (y + 1) * factor);
           c <- x * factor until math.min(x0, (x + 1) * factor)) {
        sum += v((a * y0 + b) * x0 + c); n += 1
      }
      out((z * y1 + y) * x1 + x) = (sum / n).toChar
    }
    (out, Seq(z1, y1, x1))
  }

  private def chunkDigests(level: Int, v: Array[Char],
      shape: Seq[Int]): Seq[(ChunkKey, ChunkDigest)] = {
    val Seq(sz, sy, sx) = shape
    val Seq(cz, cy, cx) = chunk
    for {
      zc <- 0 until (sz + cz - 1) / cz
      yc <- 0 until (sy + cy - 1) / cy
      xc <- 0 until (sx + cx - 1) / cx
    } yield {
      val dz = math.min(cz, sz - zc * cz)
      val dy = math.min(cy, sy - yc * cy)
      val dx = math.min(cx, sx - xc * cx)
      val buf = new Array[Byte](dz * dy * dx * 2)
      var k = 0
      for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
        val s = v(((zc * cz + z) * sy + (yc * cy + y)) * sx + (xc * cx + x))
        buf(k) = (s & 0xFF).toByte; buf(k + 1) = (s >>> 8).toByte; k += 2
      }
      ChunkKey(level, zc, yc, xc) -> ChunkDigest(dz, dy, dx, crc(buf))
    }
  }

  /** Writes the tree under `root` and returns the expected chunk
    * digests of every stack, keyed by the stack's relative directory.
    * One stack per thread. */
  def write(root: Path, seed: Long, threads: Int): Map[String, Map[ChunkKey, ChunkDigest]] = {
    Files.createDirectories(root.resolve("derivatives"))
    Files.writeString(root.resolve("derivatives/processing_manifest.json"),
      s"""{"seed": $seed, "stacks": ${stacks.size}}""")
    Files.writeString(root.resolve("acquisition.json"),
      s"""{"tiles": [${stacks.map { case (_, dir) =>
        s"""{"file_name": "${dir.stripPrefix("SmartSPIM/")}", "coordinate_transformations": [
           |{"type": "translation", "translation": ["0", "0", "0"]},
           |{"type": "scale", "scale": ["1.8", "1.8", "2.0"]}]}""".stripMargin
      }.mkString(", ")}]}""")
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = stacks.zipWithIndex.map { case ((_, dir), s) =>
        pool.submit(new Callable[(String, Map[ChunkKey, ChunkDigest])] {
          def call(): (String, Map[ChunkKey, ChunkDigest]) = {
            val d = Files.createDirectories(root.resolve(dir))
            val cs = cells(seed, s)
            val vol = new Array[Char](nz * ny * nx)
            for (z <- 0 until nz) {
              val px = slice(seed, s, z, cs)
              Files.write(d.resolve(f"$z%06d.png"), ImageCodec.encodePng16(nx, ny, px))
              var i = 0
              while (i < ny * nx) {
                vol(z * ny * nx + i) = ((px(2 * i) & 0xFF) | ((px(2 * i + 1) & 0xFF) << 8)).toChar
                i += 1
              }
            }
            var level = vol; var shape = Seq(nz, ny, nx)
            val digests = (0 until levels).flatMap { l =>
              if (l > 0) { val (v, sh) = floorMean(level, shape); level = v; shape = sh }
              chunkDigests(l, level, shape)
            }
            dir -> digests.toMap
          }
        })
      }
      futures.map(_.get()).toMap
    } finally pool.shutdownNow()
  }

  /** Level-0 chunks of one stack, padded to the full chunk shape as the
    * writer encodes them, for the codec measurements. Regenerated from
    * the seed. */
  def levelZeroChunks(seed: Long, stack: Int): Seq[Array[Byte]] = {
    val cs = cells(seed, stack)
    val slices = (0 until nz).map(z => slice(seed, stack, z, cs))
    val Seq(cz, cy, cx) = chunk
    for {
      zc <- 0 until (nz + cz - 1) / cz
      yc <- 0 until (ny + cy - 1) / cy
      xc <- 0 until (nx + cx - 1) / cx
    } yield {
      val dz = math.min(cz, nz - zc * cz)
      val dy = math.min(cy, ny - yc * cy); val dx = math.min(cx, nx - xc * cx)
      val buf = new Array[Byte](cz * cy * cx * 2)
      for (z <- 0 until dz; y <- 0 until dy)
        System.arraycopy(slices(zc * cz + z), ((yc * cy + y) * nx + xc * cx) * 2,
          buf, ((z * cy + y) * cx) * 2, dx * 2)
      buf
    }
  }
}

object Acquisition {
  /** The benchmark's tree: 2 channels x 2 tiles of 264 x 200 x 240.
    * Level 0 is 3 x 2 x 2 chunks deep, so the rechunk crosses Z chunk
    * boundaries and each v3 stack has one full 2 x 2 x 2 shard next to
    * edge shards. */
  val bench: Acquisition = Acquisition(Seq("Ex_488_Em_525", "Ex_561_Em_593"),
    Seq((471320, 542400), (471320, 571200)), 264, 200, 240)
  /** A one-stack tree that runs every conversion code path once before
    * the timed passes, a full shard of clamped chunks included. */
  val warmUp: Acquisition = Acquisition(Seq("Ex_639_Em_667"), Seq((471320, 542400)),
    136, 136, 136)

  val chunk: Seq[Int] = Seq(128, 128, 128)
  val factor = 2
  val levels = 4

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private final case class Cell(z: Int, y: Int, x: Int, r: Int, peak: Int)

  /** Expected content of one stored chunk: its clamped extent and a
    * CRC32C of its voxels, little-endian, Z-major. */
  final case class ChunkKey(level: Int, zc: Int, yc: Int, xc: Int)
  final case class ChunkDigest(dz: Int, dy: Int, dx: Int, crc: Long)

  def crc(data: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32C(); c.update(data, 0, data.length); c.getValue
  }
}
