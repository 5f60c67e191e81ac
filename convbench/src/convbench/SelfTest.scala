package convbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.Executors

import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

import graft.jobs.ZeissJob

/** Self-tests of the harness on tiny stacks (odd sizes, so edge chunks and
  * partial pyramid windows occur):
  *   - the same seed writes byte-identical fixtures, another seed does not;
  *   - the engine's output for a fresh conversion verifies clean;
  *   - a flipped voxel, a missing chunk and a leftover `.tmp-*` file each
  *     make the verifier fail.
  * Prints one line per check and exits non-zero if any fails.
  *
  * Usage: `convbench.SelfTest <work dir>` */
object SelfTest {
  private val w = Workload("selftest", "harness self-test",
    Seq(StackSpec("odd", 0, 40, 200, 136), StackSpec("odd2", 1, 9, 130, 129)), s3 = false)

  def main(args: Array[String]): Unit = {
    val code = try run(Paths.get(args(0)).toAbsolutePath) catch {
      case e: Throwable => e.printStackTrace(); println(s"FAIL selftest threw: $e"); 1
    }
    System.exit(code)
  }

  private def run(dir: Path): Int = {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    var failures = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures += 1
    }

    val a = dir.resolve("fixture-a"); val b = dir.resolve("fixture-b"); val c = dir.resolve("fixture-c")
    Fixtures.write(w, 7L, a); Fixtures.write(w, 7L, b); Fixtures.write(w, 8L, c)
    check("same seed gives identical fixtures", digest(a) == digest(b))
    check("another seed gives other fixtures", digest(a) != digest(c))

    val spark = Main.setup(None)
    val conf = spark.sparkContext.hadoopConfiguration
    val expected = w.stacks.zip(w.stacks.map(s => Expected.pyramid(s, 7L, Workloads.Levels, Workloads.Factor)))
    def verify(out: Path) = Verifier.verify(out.toString, conf, expected, Workloads.Chunk, 3)
    val out = dir.resolve("out")
    val resp = ZeissJob.run(spark, ZeissJob.Settings(a.toString, out.toString))
    check("conversion succeeds", resp.statusCode == 200, resp.message)
    val clean = verify(out)
    check("engine output verifies", clean.forall(_.ok), clean.flatMap(_.problems).mkString("; "))
    check("every chunk file is counted",
      clean.map(_.chunkFiles).sum == expected.map(_._2.map(l => grid(l)).sum).sum)

    val chunk = out.resolve(s"${w.stacks.head.name}/1/0/0/0/0/0")
    val original = Files.readAllBytes(chunk)
    val raw = Verifier.bloscDecode(original)
    raw(2 * 17) = (raw(2 * 17) ^ 1).toByte
    Files.write(chunk, graft.core.Blosc.compress(raw, 2, 3))
    check("a flipped voxel fails", verify(out).exists(_.problems.exists(_.contains("voxel"))))
    Files.write(chunk, original)
    check("restoring it verifies again", verify(out).forall(_.ok))

    Files.delete(chunk)
    check("a missing chunk fails", verify(out).exists(_.problems.exists(_.contains("missing"))))
    Files.write(chunk, original)

    val tmp = chunk.resolveSibling(".tmp-0-leftover")
    Files.write(tmp, original)
    check("a leftover tmp file fails",
      verify(out).exists(o => !o.ok && o.tmpFiles == 1))
    Files.delete(tmp)
    spark.stop()
    pool.shutdown()
    println(if (failures == 0) "selftest: all checks pass" else s"selftest: $failures check(s) failed")
    if (failures == 0) 0 else 1
  }

  private def grid(l: Level): Int = {
    def n(a: Int) = (a + Workloads.Chunk - 1) / Workloads.Chunk
    n(l.nz) * n(l.ny) * n(l.nx)
  }

  private def digest(d: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      .foreach { f => md.update(d.relativize(f).toString.getBytes("UTF-8")); md.update(Files.readAllBytes(f)) }
    md.digest().map("%02x".format(_)).mkString
  }
}
