package convbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.{Blosc, PixelDtype, ZarrChunk}
import graft.io.zarr.ZarrIO
import graft.jobs.ZeissJob
import graft.operators.Pyramid
import graft.sources.czi.{CziReader, CziSource}

/** Layer replay for the traced run: calls each layer's public functions
  * over a whole pass's worth of data, one call at a time on the driver,
  * and times each layer as a span. The sums are single-thread
  * self times, comparable with the executor run time the census sums
  * over tasks.
  *
  * Level-0 chunks come from the engine's own slab cutter; the inputs of
  * levels 1.. are cut from [[Expected]], so each kernel sees exactly the
  * data the engine's pipeline feeds it. */
final class Replay(spark: SparkSession, w: Workload, input: String,
                   root: String, pyramids: Seq[IndexedSeq[Level]], spans: Spans,
                   census: Census, drain: () => Unit) {
  private val chunk = Workloads.Chunk
  private val factor = Array(Workloads.Factor, Workloads.Factor, Workloads.Factor)
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def timed[T](name: String, parent: Int)(body: => T): T = {
    val (r, id) = spans.time(name, parent)(body)
    acc(name) += spans.selfTime(id)
    r
  }

  def run(): Map[String, Double] = {
    val root0 = spans.add("replay", -1, Clock.now(), Clock.now())
    val t0 = Clock.now()
    timed("job.discover", root0)(ZeissJob.discoverStacks(input))
    w.stacks.zip(pyramids).foreach { case (s, pyr) => stack(s, pyr, root0) }
    val out = acc.toMap
    spans.add("replay.total", root0, t0, Clock.now())
    out
  }

  private def stack(s: StackSpec, pyr: IndexedSeq[Level], parent: Int): Unit = {
    val path = s"$input/SPIM/${s.name}.czi"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = timed("czi.index", parent)(CziReader.index(path))
    acc("czi.subblocks") += idx.entries.size
    acc("czi.in_bytes") += fs.getFileStatus(new Path(path)).getLen
    val (vol, _) = CziSource.volume(path, s.name, Array(chunk, chunk, chunk))
    val entries = idx.entries.toArray
    val in = fs.open(new Path(path))
    // the cut is the small difference of two large times: alternate the
    // decode-only and decode-and-cut passes three times, keep the medians
    val level0 = try {
      val reps = (1 to 3).map { _ =>
        val (_, d) = spans.time("czi.read_decode", parent) {
          entries.foreach(e => CziReader.subblockData(in, e))
        }
        val (chunks, c) = spans.time("czi.slab_chunks", parent) {
          (0 until (s.nz + chunk - 1) / chunk).flatMap { slab =>
            CziSource.slabChunks(in, entries, vol.shape, vol.chunk, idx.origin, 2, 0, 0, slab)
              .map { case (ty, tx, shape5, bytes) => (slab, ty, tx, shape5, bytes) }
          }
        }
        (spans.selfTime(d), spans.selfTime(c), chunks)
      }
      acc("czi.read_decode") += Main.median(reps.map(_._1))
      acc("czi.slab_chunks") += Main.median(reps.map(_._2))
      acc("czi.decoded_bytes") += entries.map(e => e.dims.valuesIterator.map(_.size.toLong).product * 2).sum
      reps.last._3
    } finally in.close()

    // pyramid kernel: level k chunks -> level k+1 pieces
    val inputs: IndexedSeq[Seq[(Array[Int], Array[Byte])]] =
      IndexedSeq(level0.map(c => (c._4, c._5))) ++
        pyr.init.drop(1).map(l => chunksOf(l).map(c => (c._4, c._5)))
    inputs.zipWithIndex.foreach { case (chunks, k) =>
      timed(s"pyramid.downsample.l${k + 1}", parent) {
        chunks.foreach { case (shape5, bytes) =>
          val (out, _) = Pyramid.downsampleBytes(bytes, shape5, factor, PixelDtype.U16)
          acc("pyramid.bytes_moved_computed") += bytes.length + out.length
          acc("pyramid.kernel_voxels") += bytes.length / 2
        }
      }
    }

    // Blosc: every chunk of every level, as the sink frames it
    val all: Seq[ZarrChunk] =
      level0.map { case (z, y, x, sh, b) => ZarrChunk(s.name, 0, 0, 0, z, y, x, sh, b) } ++
        pyr.zipWithIndex.drop(1).flatMap { case (l, li) =>
          chunksOf(l).map { case (z, y, x, sh, b) => ZarrChunk(s.name, li, 0, 0, z, y, x, sh, b) }
        }
    timed("blosc.shuffle", parent)(all.foreach(c => Blosc.shuffle(c.data, 2)))
    val framed = timed("blosc.compress", parent)(all.map(c => c.copy(data = Blosc.compress(c.data, 2, 3))))
    acc("blosc.raw_bytes") += all.map(_.data.length.toLong).sum
    acc("blosc.frame_bytes") += framed.map(_.data.length.toLong).sum

    timed("zarr.metadata", parent) {
      ZarrIO.writeMetadata(root, vol, Workloads.Levels, Seq(1.0, 0.25, 0.25),
        Seq(2, 2, 2), Seq("ch0"), Some(Seq(0.0, 0.0, 0.0)), compressed = true, clevel = 3)
    }
    // the sink's create + write + rename over pre-framed chunks, one task,
    // timed as that task's executor run time
    import spark.implicits._
    val ds = spark.createDataset(framed).coalesce(1)
    drain()
    val before = census.totals("run_s")
    val t0 = Clock.now()
    ZarrIO.writeChunks(ds, root, clevel = 3, compress = false)
    drain()
    val runS = census.totals("run_s") - before
    spans.add("zarr.write", parent, t0, t0 + runS, Map("wall_s" -> f"${Clock.now() - t0}%.4f"))
    acc("zarr.write") += runS
    acc("zarr.files") += framed.size
    acc("zarr.bytes") += framed.map(_.data.length.toLong).sum
  }

  /** Cut one expected level into its chunk grid: (z, y, x, shape5, bytes). */
  private def chunksOf(l: Level): Seq[(Int, Int, Int, Array[Int], Array[Byte])] = {
    def n(a: Int) = (a + chunk - 1) / chunk
    for (cz <- 0 until n(l.nz); cy <- 0 until n(l.ny); cx <- 0 until n(l.nx)) yield {
      val (zn, yn, xn) = (math.min(chunk, l.nz - cz * chunk), math.min(chunk, l.ny - cy * chunk),
        math.min(chunk, l.nx - cx * chunk))
      val b = new Array[Byte](zn * yn * xn * 2)
      var i = 0
      for (z <- 0 until zn; y <- 0 until yn) {
        var x = 0
        while (x < xn) {
          val v = l.at(cz * chunk + z, cy * chunk + y, cx * chunk + x)
          b(2 * i) = (v & 0xFF).toByte; b(2 * i + 1) = (v >>> 8).toByte
          i += 1; x += 1
        }
      }
      (cz, cy, cx, Array(1, 1, zn, yn, xn), b)
    }
  }
}
