package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.core.{Volume, ZarrChunk}
import graft.sources.SyntheticStack

/** The fused all-levels pyramid must be BYTE-identical to the
  * sequential assemble-then-downsample chain it replaces — including
  * ceil-edge chunks, where a level's edge pieces go odd-sized. The
  * alignment precondition (chunk % f^(nLevels-1) == 0) is exactly what
  * makes the chunk-local recursion legal; the unaligned fallback must
  * route through the sequential path unchanged. */
class PyramidFusedSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-fused-pyr-test")

  private def keyed(cks: Array[ZarrChunk]): Map[(Int, Int, Int, Int, Int, Int), (Seq[Int], Seq[Byte])] =
    cks.map(ck => (ck.level, ck.t, ck.c, ck.z, ck.y, ck.x) ->
      (ck.shape.toSeq, ck.data.toSeq)).toMap

  private def assertEqualLevels(vol: Volume, nLevels: Int): Unit = {
    val seq = Pyramid.levels(spark, SyntheticStack.generate(spark, vol), vol, nLevels)
    val want = keyed(seq.flatMap(_._2.collect()).toArray)
    seq.foreach(_._2.unpersist())
    val fused = Pyramid.levelsFusedAll(
      spark, SyntheticStack.generate(spark, vol), vol, nLevels)
    assert(fused.vols.map(_.shape.toSeq) == seq.map(_._1.shape.toSeq))
    val got = keyed(fused.chunks.collect())
    fused.release()
    assert(fused.cached.isEmpty == Pyramid.fusable(vol.chunk, Array(2, 2, 2), nLevels))
    assert(got.keySet == want.keySet, "chunk grid differs")
    got.foreach { case (k, v) =>
      assert(v == want(k), s"chunk $k differs between fused and sequential")
    }
  }

  test("aligned 64^3 / 32^3 (z1's config): fused == sequential, byte-exact") {
    assertEqualLevels(Volume("fz", 0, Array(1L, 1L, 64L, 64L, 64L), Array(1, 1, 32, 32, 32)), 4)
  }

  test("ceil-edge chunks (52^3 over 32^3): odd edge pieces stay exact") {
    // edge chunks are 20 wide; their level-k pieces go 10 -> 5 -> 3:
    // odd sizes that only ever terminate an axis, never precede a piece
    assertEqualLevels(Volume("fe", 0, Array(1L, 1L, 52L, 52L, 52L), Array(1, 1, 32, 32, 32)), 4)
  }

  test("non-cubic chunks: fused == sequential AND voxelize places every level-1 voxel correctly") {
    // 32x64x16 volume in 16x32x8 chunks (distinct extent per axis): a
    // cubic-chunk assumption anywhere in the coordinate math would
    // mis-place voxels along at least two axes (ADVICE r15, z1)
    val vol = Volume("fnc", 0, Array(1L, 1L, 32L, 64L, 16L), Array(1, 1, 16, 32, 8))
    assertEqualLevels(vol, 3)
    val all = Pyramid.levelsFusedAll(
      spark, SyntheticStack.generate(spark, vol), vol, 3).chunks
    // level 1 = floor-mean over each 2x2x2 window of the synthetic
    // voxel function (the z1 oracle's semantics); checking the GLOBAL
    // coordinates end-to-end catches any cross-axis extent mixup
    val vox = graft.queries.ArrayOps.voxelize(spark, all, vol)
      .filter(org.apache.spark.sql.functions.col("level") === 1).collect()
    assert(vox.length == 16 * 32 * 8, s"level-1 voxel count ${vox.length}")
    vox.foreach { r =>
      val (z, y, x) = (r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(3).toInt)
      val want = (for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
        yield SyntheticStack.value(2 * z + dz, 2 * y + dy, 2 * x + dx).toLong).sum / 8
      assert(r.getLong(4) == want,
        s"voxel ($z,$y,$x) mis-placed under non-cubic chunks: got ${r.getLong(4)}, want $want")
    }
  }

  test("unaligned chunk (12^3, nLevels 4) falls back to the sequential path") {
    // 12 % 2^3 != 0: the fused recursion would be wrong here, so the
    // dispatcher must route through Pyramid.levels — equality is the proof
    assertEqualLevels(Volume("fu", 0, Array(1L, 1L, 24L, 24L, 24L), Array(1, 1, 12, 12, 12)), 4)
  }
}
