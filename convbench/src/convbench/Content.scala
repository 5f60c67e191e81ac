package convbench

/** Deterministic HCR-like voxel field, a pure function of
  * (seed, stack index, z, y, x).
  *
  * Three components, chosen so the Blosc/zstd stage sees realistic
  * entropy (a ramp compresses ~60x and would hide the codec cost):
  *   - a slow gradient across the volume (illumination fall-off);
  *   - per-voxel background noise, triangular over 0..62 (~6 bits);
  *   - sparse bright puncta: one 16^3 cell in ~8% carries a spot whose
  *     brightness halves with every unit of squared distance.
  *
  * Both the fixture writer and the expected-pyramid builder call
  * [[plane]], so the verifier compares the engine's output with values
  * derived from the generator, never from the CZI the engine read. */
final class Content(seed: Long, stackIndex: Int) {
  private val base = Content.mix(seed * 0x9E3779B97F4A7C15L + stackIndex + 1)

  /** One z-plane, row-major (y, x), as unsigned 16-bit values. */
  def plane(z: Int, ny: Int, nx: Int): Array[Char] = {
    val out = new Array[Char](ny * nx)
    val zh = Content.mix(base ^ (z.toLong * 0xC2B2AE3D27D4EB4FL))
    var y = 0
    while (y < ny) {
      val yh = Content.mix(zh ^ (y.toLong * 0x165667B19E3779F9L))
      val grad = 100 + (z >> 2) + (y >> 4)
      var x = 0
      while (x < nx) {
        val h = Content.mix(yh ^ (x.toLong * 0x27D4EB2F165667C5L))
        val noise = (h & 31).toInt + ((h >>> 5) & 31).toInt
        out(y * nx + x) = (grad + (x >> 4) + noise + punctum(z, y, x)).toChar
        x += 1
      }
      y += 1
    }
    out
  }

  private def punctum(z: Int, y: Int, x: Int): Int = {
    val cz = z >> 4; val cy = y >> 4; val cx = x >> 4
    val h = Content.mix(base ^ (cz.toLong << 42) ^ (cy.toLong << 21) ^ cx.toLong ^ 0x5DEECE66DL)
    if ((h & 0xFF) >= 20) 0
    else {
      val pz = (cz << 4) + 4 + ((h >>> 8) & 7).toInt
      val py = (cy << 4) + 4 + ((h >>> 11) & 7).toInt
      val px = (cx << 4) + 4 + ((h >>> 14) & 7).toInt
      val d2 = (z - pz) * (z - pz) + (y - py) * (y - py) + (x - px) * (x - px)
      if (d2 > 10) 0 else (1000 + ((h >>> 20) & 0xFFF).toInt) >> d2
    }
  }
}

object Content {
  /** splitmix64 finalizer. */
  def mix(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
