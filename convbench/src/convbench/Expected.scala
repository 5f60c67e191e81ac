package convbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** One pyramid level of one stack: z-major unsigned 16-bit voxels. */
final case class Level(nz: Int, ny: Int, nx: Int, v: Array[Char]) {
  def at(z: Int, y: Int, x: Int): Char = v((z * ny + y) * nx + x)
}

/** The expected multiscale pyramid, built with plain loops from the
  * generator: level 0 is [[Content]] itself, and each next level is the
  * floor of the mean over every `f x f x f` window, a partial window at
  * the far edge averaging only the voxels it holds (the output extent is
  * the ceiling of extent / f). Nothing here calls the engine. */
object Expected {

  def pyramid(s: StackSpec, seed: Long, levels: Int, f: Int)
             (implicit ec: ExecutionContext): IndexedSeq[Level] = {
    val content = new Content(seed, s.index)
    val v = new Array[Char](s.nz * s.ny * s.nx)
    val plane = s.ny * s.nx
    Await.result(Future.traverse((0 until s.nz).toVector) { z =>
      Future(System.arraycopy(content.plane(z, s.ny, s.nx), 0, v, z * plane, plane))
    }, Duration.Inf)
    val l0 = Level(s.nz, s.ny, s.nx, v)
    (1 until levels).scanLeft(l0)((l, _) => down(l, f))
  }

  /** One output z-plane per future; the window loops are the definition. */
  def down(in: Level, f: Int)(implicit ec: ExecutionContext): Level = {
    val (oz, oy, ox) = ((in.nz + f - 1) / f, (in.ny + f - 1) / f, (in.nx + f - 1) / f)
    val out = new Array[Char](oz * oy * ox)
    Await.result(Future.traverse((0 until oz).toVector) { z => Future {
      var y = 0
      while (y < oy) {
        var x = 0
        while (x < ox) {
          var sum = 0L
          var n = 0
          var dz = z * f
          while (dz < math.min(z * f + f, in.nz)) {
            var dy = y * f
            while (dy < math.min(y * f + f, in.ny)) {
              var dx = x * f
              while (dx < math.min(x * f + f, in.nx)) {
                sum += in.at(dz, dy, dx)
                n += 1
                dx += 1
              }
              dy += 1
            }
            dz += 1
          }
          out((z * oy + y) * ox + x) = (sum / n).toChar
          x += 1
        }
        y += 1
      }
    }}, Duration.Inf)
    Level(oz, oy, ox, out)
  }
}
