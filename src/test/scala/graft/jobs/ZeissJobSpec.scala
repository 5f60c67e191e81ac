package graft.jobs

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.Spark
import graft.io.zarr.ZarrIO
import graft.sources.czi.SyntheticCzi

/** `convertStack` end to end over a 4-level pyramid: every voxel of every
  * level against a plain floor-mean reference, on a stack whose odd extents
  * leave ceil-edge chunks at every level, for a chunk size that takes the
  * fused pyramid and one that takes the per-level fallback. The session
  * must hold no cached level afterwards. */
class ZeissJobSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-zeiss-job-test")

  private val (nz, ny, nx) = (37, 45, 50)
  private def value(z: Int, y: Int, x: Int): Int =
    (z * 131 + y * 71 + x * 37 + (z * y * x) % 977) % 65536

  /** Level k from level k-1 by 2x2x2 floor means over ceil windows. */
  private def reference(levels: Int): Seq[Array[Array[Array[Int]]]] =
    Iterator.iterate(Array.tabulate(nz, ny, nx)(value)) { a =>
      val (sz, sy, sx) = (a.length, a(0).length, a(0)(0).length)
      Array.tabulate((sz + 1) / 2, (sy + 1) / 2, (sx + 1) / 2) { (z, y, x) =>
        val win = for (dz <- 2 * z until math.min(2 * z + 2, sz);
                       dy <- 2 * y until math.min(2 * y + 2, sy);
                       dx <- 2 * x until math.min(2 * x + 2, sx)) yield a(dz)(dy)(dx).toLong
        (win.sum / win.size).toInt
      }
    }.take(levels).toSeq

  /** Counts the jobs started, and the stages that wrote shuffle data,
    * while `body` runs. */
  private def census(body: => Unit): (Int, Int) = {
    var jobs, shuffles = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) shuffles += 1
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    l.synchronized((jobs, shuffles))
  }

  private def convert(chunk: Int, levels: Int): (String, (Int, Int)) = {
    val root = Files.createTempDirectory("zeiss-job").toString
    SyntheticCzi.write(s"$root/st.czi", Array.tabulate(nz, ny, nx)(value))
    val settings = ZeissJob.Settings(inputSource = root, outputDirectory = s"$root/out",
      chunkSize = Array(chunk, chunk, chunk), downsampleLevels = levels)
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val counts = census(ZeissJob.convertStack(spark, s"$root/st.czi", s"$root/out",
      settings, Seq(1.0, 1.0, 1.0)))
    assert(spark.sharedState.cacheManager.isEmpty, "convertStack left a cached level")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "convertStack left a persisted RDD")
    (s"$root/out", counts)
  }

  private def assertLevels(out: String, chunk: Int, levels: Int): Unit =
    reference(levels).zipWithIndex.foreach { case (want, k) =>
      val shape = Seq(want.length, want(0).length, want(0)(0).length)
      assert(ZarrIO.readZarray(out, "st", k).shape.toSeq.drop(2) == shape.map(_.toLong), s"level $k")
      val cks = ZarrIO.readChunks(spark, out, "st", k).collect()
      assert(cks.map(_.numVoxels).sum == shape.product, s"level $k voxel count")
      cks.foreach { ck =>
        val px = ck.pixels
        val (sz, sy, sx) = (ck.shape(2), ck.shape(3), ck.shape(4))
        for (z <- 0 until sz; y <- 0 until sy; x <- 0 until sx) {
          val (gz, gy, gx) = (ck.z * chunk + z, ck.y * chunk + y, ck.x * chunk + x)
          assert(px(z * sy * sx + y * sx + x) == want(gz)(gy)(gx), s"level $k voxel ($gz,$gy,$gx)")
        }
      }
    }

  test("4 levels, aligned 16^3 chunks: fused pyramid in one exchange, exact, nothing cached") {
    val (out, (_, shuffles)) = convert(16, 4)
    assert(shuffles == 1, s"$shuffles shuffle stages; the fused pyramid needs one")
    assertLevels(out, 16, 4)
  }

  test("4 levels, unaligned 12^3 chunks: per-level fallback, exact, nothing cached") {
    val (out, (_, shuffles)) = convert(12, 4)
    assert(shuffles == 3, s"$shuffles shuffle stages; the per-level chain needs one per level")
    assertLevels(out, 12, 4)
  }

  test("downsample_levels = 1 writes level 0 only and starts no pyramid job") {
    val (out, (jobs, shuffles)) = convert(16, 1)
    assert(jobs == 1 && shuffles == 0, s"$jobs jobs, $shuffles shuffle stages")
    assertLevels(out, 16, 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/st/1")))
  }
}
