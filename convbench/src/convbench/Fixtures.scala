package convbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.sources.czi.{CziFormat, SyntheticCzi}

/** Seeded fixture writer: `<dir>/SPIM/<stack>.czi` for every stack of a
  * workload plus an `acquisition.json`, written through the public
  * [[SyntheticCzi.writeTiles]]. The content hash check and the per-seed
  * cache live in run.py, which calls this only on a cache miss.
  *
  * Usage: `convbench.Fixtures <workload> <seed> <dir>` */
object Fixtures {

  def main(args: Array[String]): Unit = {
    val Array(name, seed, dir) = args
    write(Workloads.byName(name), seed.toLong, Paths.get(dir))
  }

  def write(w: Workload, seed: Long, dir: Path): Unit = {
    val spim = dir.resolve("SPIM")
    Files.createDirectories(spim)
    Files.write(dir.resolve("acquisition.json"),
      """{"tiles":[{"coordinate_transformations":[{"type":"scale","scale":[0.25,0.25,1.0]}]}]}"""
        .getBytes(StandardCharsets.UTF_8))
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val stackPar = w.stacks.size > 1
      val jobs = w.stacks.map { s =>
        Future(writeStack(s, seed, spim.resolve(s.name + ".czi"),
          if (stackPar) None else Some(ec)))
      }
      Await.result(Future.sequence(jobs), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Planes are generated `planeBatch` at a time (in parallel when `ec`
    * is given) and streamed to the writer, so only one batch is resident. */
  private def writeStack(s: StackSpec, seed: Long, out: Path,
                         ec: Option[ExecutionContext]): Unit = {
    val content = new Content(seed, s.index)
    val planeBatch = 8
    val planes: Iterator[(Int, Array[Char])] =
      (0 until s.nz).grouped(planeBatch).flatMap { zs =>
        ec match {
          case Some(e) =>
            implicit val ex: ExecutionContext = e
            Await.result(Future.traverse(zs.toVector)(z => Future(z -> content.plane(z, s.ny, s.nx))), Duration.Inf)
          case None => zs.map(z => z -> content.plane(z, s.ny, s.nx))
        }
      }
    val tiles = planes.map { case (z, p) =>
      SyntheticCzi.Tile(
        dims = Seq(("X", 0, s.nx), ("Y", 0, s.ny), ("Z", z, 1), ("C", 0, 1)),
        pixels = p.map(_.toInt),
        compression = CziFormat.CompressionZstd1)
    }
    SyntheticCzi.writeTiles(out.toString, tiles, CziFormat.PixelGray16)
  }
}
