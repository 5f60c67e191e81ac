package convbench

final case class StackSpec(name: String, index: Int, nz: Int, ny: Int, nx: Int) {
  def voxels: Long = nz.toLong * ny * nx
}

/** One benchmark workload: the stacks under `SPIM/` (each written with one
  * zstd1 subblock per z-slice) and whether the store goes to the local
  * filesystem or to `s3r://`. */
final case class Workload(name: String, why: String, stacks: Seq[StackSpec], s3: Boolean) {
  def voxels: Long = stacks.map(_.voxels).sum
}

object Workloads {
  /** Job settings every workload converts with: ZeissJob's defaults
    * (128^3 chunks, x2 factor, 4 levels, zstd clevel 3, 4 stacks in flight). */
  val Chunk = 128
  val Levels = 4
  val Factor = 2

  private def batch(prefix: String, n: Int, nz: Int, ny: Int, nx: Int): Seq[StackSpec] =
    (0 until n).map(i => StackSpec(f"$prefix$i%02d", i, nz, ny, nx))

  val all: Seq[Workload] = Seq(
    Workload("hcr_tile",
      "one HCR-like zstd1 stack: decode, the pyramid kernel and Blosc dominate; scheduling and file count matter little",
      Seq(StackSpec("tile", 0, 512, 256, 256)), s3 = false),
    Workload("s3_tiles",
      "small stacks written to s3r:// on a local moto server: the same sink against an object store, where rename is HEAD+COPY+DELETE",
      batch("s3tile_", 4, 64, 128, 256), s3 = true))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
