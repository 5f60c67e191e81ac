package convbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.jobs.ZeissJob

/** One harness JVM: set up Spark, convert the workload's fixture once
  * cold and then repeatedly warm through `ZeissJob.run`, verify every
  * pass's output untimed, and write the metrics as JSON for run.py, which
  * prints the result line. With `--cold-only 1` it stops after the cold
  * pass and reports only set-up and cold-pass time: run.py starts such
  * JVMs besides the main one and reports the medians of those two.
  *
  * With `--trace 0` it reports the end-to-end metrics. With `--trace 1`
  * it alternates untraced and traced warm passes (the census listener and
  * the span recorder are active only in the traced ones), replays each
  * layer once, and reports the per-layer metrics. */
object Main {
  private val M = new ObjectMapper()

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixtures: String, work: String, result: String,
                        s3Endpoint: Option[String], countsUrl: Option[String],
                        label: String, coldOnly: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(get("workload"), kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "1").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("fixtures", ""), kv.getOrElse("work", ""),
      kv.getOrElse("result", ""), kv.get("s3-endpoint"), kv.get("counts-url"),
      kv.getOrElse("label", "main"), kv.getOrElse("cold-only", "0") == "1")
  }

  /** Session plus filesystem registration: what a job launch pays before
    * its first conversion can start. */
  def setup(s3Endpoint: Option[String]): SparkSession = {
    val spark = graft.Spark.session(appName = "convbench")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3r.impl", classOf[graft.io.s3.S3RestFileSystem].getName)
    s3Endpoint.foreach(e => hc.set("fs.s3r.endpoint", e))
    spark
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  final case class Pass(wall: Double, traced: Boolean, outcomes: Seq[Verifier.Outcome],
                        threw: Option[String], peakBytes: Long, s3: Map[String, Double],
                        layer: Map[String, Double])

  private def run(a: Args): Unit = {
    val w = Workloads.byName(a.workload)
    val t0 = Clock.now()
    val spark = setup(a.s3Endpoint)
    val setupS = Clock.now() - t0
    require(w.s3 == a.s3Endpoint.isDefined, s"${w.name}: s3 endpoint must be given exactly for s3 workloads")
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    val drain = () => org.apache.spark.ListenerDrain(spark.sparkContext)
    val spans = new Spans
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val work = Paths.get(a.work).toAbsolutePath
    deleteTree(work.toFile)
    Files.createDirectories(work)
    val hconf = spark.sparkContext.hadoopConfiguration
    var pyramids: Seq[IndexedSeq[Level]] = null
    val problems = mutable.ArrayBuffer.empty[String]

    def pass(i: Int, traced: Boolean): Pass = {
      val out = if (w.s3) s"s3r://${Main.Bucket}/seed${a.seed}/${a.label}/pass$i" else work.resolve(s"out$i").toString
      val settings = ZeissJob.Settings(inputSource = a.fixtures,
        outputDirectory = if (w.s3) work.resolve("unused").toString else out,
        s3Location = if (w.s3) Some(out) else None)
      System.gc()
      // unpersist is asynchronous: let the previous pass's cached levels go
      // before re-basing the peak (a level that is never released stays)
      val deadline = Clock.now() + 5
      drain()
      while (census.heldBytes > 0 && Clock.now() < deadline) { Thread.sleep(20); drain() }
      census.tracing = traced
      census.reset()
      if (traced) a.countsUrl.foreach(u => proxyCounts(u))
      val start = Clock.now()
      val threw = try {
        val r = ZeissJob.run(spark, settings)
        if (r.statusCode == 200) None else Some(s"status ${r.statusCode}: ${r.message}")
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val end = Clock.now()
      val s3 = if (traced) a.countsUrl.map(proxyCounts).getOrElse(Map.empty) else Map.empty[String, Double]
      drain()
      census.tracing = false
      val layer = if (traced) passLayers(w, census, spans, i, start, end) else Map.empty[String, Double]
      // untimed from here: expected pyramid (once), verification, cleanup
      val v0 = Clock.now()
      if (pyramids == null)
        pyramids = w.stacks.map(s => Expected.pyramid(s, a.seed, Workloads.Levels, Workloads.Factor))
      val outcomes = Verifier.verify(out, hconf, w.stacks.zip(pyramids), Workloads.Chunk, 3, a.s3Endpoint)
      threw.foreach(t => problems += s"pass $i threw: $t")
      outcomes.filterNot(_.ok).foreach(o => problems ++= o.problems.map(p => s"pass $i: $p"))
      if (!w.s3) deleteTree(new File(out))
      System.err.println(f"convbench: pass $i%d traced=$traced wall ${end - start}%.3f s, " +
        f"verify+cleanup ${Clock.now() - v0}%.3f s, ok ${outcomes.count(_.ok)}/${outcomes.size}")
      Pass(end - start, traced, outcomes, threw, census.peakBytes, s3, layer)
    }

    // the JIT keeps speeding passes up for a few passes after the cold
    // one; the first WarmUp warm passes are verified but not measured
    val cold = pass(0, traced = false)
    val warmUp = if (a.coldOnly) Nil else (1 to WarmUp).map(i => pass(i, traced = false))
    val warm = mutable.ArrayBuffer.empty[Pass]
    def timedSum = warm.map(_.wall).sum
    var i = WarmUp + 1
    if (a.coldOnly) {
      // a set-up and cold-pass sample only; run.py takes the medians
    } else if (!a.trace) {
      while ((warm.size < Measured || timedSum < a.seconds) && warm.size < 100) { warm += pass(i, false); i += 1 }
    } else {
      while ((warm.size < 4 || timedSum < a.seconds) && warm.size < 100) {
        // untraced, traced, traced, untraced, ...: a warm-up trend across
        // passes then weighs on both sides alike
        warm += pass(i, traced = (i - WarmUp) % 4 == 2 || (i - WarmUp) % 4 == 3); i += 1
      }
    }
    val passes = (cold +: warmUp) ++ warm
    val attempted = passes.size * w.stacks.size
    val failed = passes.map(p => if (p.threw.isDefined) w.stacks.size else p.outcomes.count(!_.ok)).sum

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    val rawBytes = pyramids.map(_.map(l => l.v.length * 2L).sum).sum
    if (a.coldOnly) {
      metrics("setup_s") = (setupS, "s", 1)
      metrics("cold_pass_s") = (cold.wall, "s", 1)
    } else if (!a.trace) {
      // the most converged passes: a run that fits one more pass than
      // another still reports on the same stage of warm-up
      val ww = warm.map(_.wall).toSeq.takeRight(Measured)
      metrics("setup_s") = (setupS, "s", 1)
      metrics("cold_pass_s") = (cold.wall, "s", 1)
      metrics("voxels_per_s") = (w.voxels / median(ww), "vox/s", ww.size)
      metrics("compression_ratio") = (median(passes.map(p => rawBytes.toDouble / p.outcomes.map(_.storedBytes).sum)), "ratio", passes.size)
      metrics("peak_cached_mb") = (median(warm.map(_.peakBytes / 1048576.0).toSeq), "MB", warm.size)
      metrics("verified_frac") = (1.0 - failed.toDouble / attempted, "frac", attempted)
    } else {
      val traced = warm.filter(_.traced).toSeq
      val untraced = warm.filterNot(_.traced).toSeq
      val replay = new Replay(spark, w, a.fixtures,
        if (w.s3) s"s3r://${Main.Bucket}/seed${a.seed}/${a.label}/replay" else work.resolve("replay").toString,
        pyramids, spans, census, drain)
      census.tracing = true
      census.reset()
      val r = replay.run()
      census.tracing = false
      layerMetrics(w, traced, untraced, r, failed.toDouble / attempted).foreach(m => metrics(m._1) = m._2)
      writeSpans(spans, work.resolve("trace.json").toFile)
    }
    val res = M.createObjectNode()
    val mNode = res.putObject("metrics")
    metrics.foreach { case (k, (v, u, n)) =>
      val o = mNode.putObject(k); o.put("value", v); o.put("unit", u); o.put("samples", n)
    }
    res.put("attempted", attempted)
    res.put("failed", failed)
    val pr = res.putArray("problems"); problems.take(50).foreach(pr.add)
    Files.write(Paths.get(a.result), M.writerWithDefaultPrettyPrinter().writeValueAsBytes(res))
    pool.shutdown()
    spark.stop()
  }

  val Bucket = "convbench"
  val WarmUp = 2
  /** Warm passes a run measures at least; voxels_per_s is over the last ones. */
  val Measured = 4

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The counting proxy's window since the last call (and reset). */
  private def proxyCounts(url: String): Map[String, Double] = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      val n = M.readTree(c.getInputStream)
      n.fieldNames().asScala.map(k => k -> n.get(k).asDouble()).toMap
    } finally c.disconnect()
  }

  /** Per-pass numbers from the census of one traced pass, and its spans:
    * pass -> stack (by scheduler pool) -> job -> stage. */
  private def passLayers(w: Workload, c: Census, spans: Spans, i: Int,
                         start: Double, end: Double): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val passId = spans.add(s"pass$i", -1, start, end, Map("workload" -> w.name))
    val byStack = c.jobs.toSeq.groupBy(j => Option(j.pool).getOrElse(
      if (w.stacks.size == 1) w.stacks.head.name else "(no pool)"))
    val stackWalls = byStack.toSeq.sortBy(_._1).map { case (stack, jobs) =>
      val (s0, s1) = (jobs.map(_.start).min, jobs.map(j => if (j.end.isNaN) end else j.end).max)
      val sid = spans.add(s"stack:$stack", passId, s0, s1)
      val stStages = jobs.sortBy(_.start).flatMap { j =>
        val jid = spans.add(s"job${j.id}", sid, j.start, if (j.end.isNaN) end else j.end)
        c.stages.filter(_.job == j.id).sortBy(_.start).map { st =>
          spans.add(s"stage${st.id}", jid, st.start, st.end,
            Map("tasks" -> st.tasks.toString, "shuffle_write" -> st.shuffleWrite.toString))
          st
        }
      }
      // levels run one after another, so the k-th shuffle is level k's
      val shuffles = stStages.filter(_.shuffleWrite > 0).sortBy(_.start)
      shuffles.zipWithIndex.foreach { case (st, k) => m(s"pyramid.shuffle_write_bytes.l${k + 1}") += st.shuffleWrite }
      s1 - s0
    }
    m("job.stack_wall_s_p50") = if (stackWalls.isEmpty) 0.0 else median(stackWalls)
    m("job.stack_wall_s_max") = if (stackWalls.isEmpty) 0.0 else stackWalls.max
    m("job.stacks_in_flight_mean") = stackWalls.sum / (end - start)
    m("spark.jobs") = c.jobs.size
    m("spark.stages") = c.stages.size
    m("spark.tasks") = c.totals("tasks")
    m("spark.failed_tasks") = c.totals("failed_tasks")
    m("spark.executor_run_s") = c.totals("run_s")
    m("spark.executor_cpu_s") = c.totals("cpu_s")
    m("spark.gc_s") = c.totals("gc_s")
    m("spark.scheduler_delay_s") = c.totals("sched_delay_s")
    m("spark.core_busy_frac") = c.totals("run_s") / ((end - start) * Runtime.getRuntime.availableProcessors())
    m("spark.shuffle_write_bytes") = c.totals("shuffle_write")
    m("spark.shuffle_read_bytes") = c.totals("shuffle_read")
    m("spark.spill_bytes") = c.totals("spill")
    m("spark.peak_cached_mb") = c.peakBytes / 1048576.0
    m.toMap
  }

  /** Names, units and values of the per-layer report: census numbers are
    * means over the traced passes, layer times come from the replay. */
  private def layerMetrics(w: Workload, traced: Seq[Pass], untraced: Seq[Pass],
                           r: Map[String, Double], failedFrac: Double): Seq[(String, (Double, String, Int))] = {
    val n = traced.size
    def mean(k: String) = traced.map(_.layer.getOrElse(k, 0.0)).sum / n
    def s3(k: String) = traced.map(_.s3.getOrElse(k, 0.0)).sum / n
    def rv(k: String) = r.getOrElse(k, 0.0)
    val decode = rv("czi.read_decode")
    val cut = rv("czi.slab_chunks") - decode
    val downs = (1 until Workloads.Levels).map(k => rv(s"pyramid.downsample.l$k"))
    val filesPerPass = traced.map(_.outcomes.map(_.files).sum + 1).sum.toDouble / n
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    val kernel = decode + cut + downs.sum + rv("blosc.compress") + rv("zarr.write")
    def one(v: Double, u: String) = (v, u, 1)
    def tr(v: Double, u: String) = (v, u, n)
    Seq(
      "czi.index_s" -> one(rv("czi.index"), "s"),
      "czi.subblocks" -> one(rv("czi.subblocks"), "count"),
      "czi.read_decode_s" -> one(decode, "s"),
      "czi.read_decode_mb_per_s" -> one(rv("czi.decoded_bytes") / 1048576.0 / decode, "MB/s"),
      "czi.in_bytes" -> one(rv("czi.in_bytes"), "B"),
      "czi.slab_cut_s" -> one(cut, "s")) ++
    downs.zipWithIndex.map { case (d, k) => s"pyramid.downsample_s.l${k + 1}" -> one(d, "s") } ++
    Seq(
      "pyramid.kernel_mvox_per_s" -> one(rv("pyramid.kernel_voxels") / 1e6 / downs.sum, "Mvox/s"),
      "pyramid.bytes_moved_computed" -> one(rv("pyramid.bytes_moved_computed"), "B")) ++
    (1 until Workloads.Levels).map(k =>
      s"pyramid.shuffle_write_bytes.l$k" -> tr(mean(s"pyramid.shuffle_write_bytes.l$k"), "B")) ++
    Seq(
      "blosc.shuffle_s" -> one(rv("blosc.shuffle"), "s"),
      "blosc.compress_s" -> one(rv("blosc.compress"), "s"),
      "blosc.zstd_s" -> one(rv("blosc.compress") - rv("blosc.shuffle"), "s"),
      "blosc.mb_per_s" -> one(rv("blosc.raw_bytes") / 1048576.0 / rv("blosc.compress"), "MB/s"),
      "blosc.raw_bytes" -> one(rv("blosc.raw_bytes"), "B"),
      "blosc.frame_bytes" -> one(rv("blosc.frame_bytes"), "B"),
      "zarr.metadata_s" -> one(rv("zarr.metadata"), "s"),
      "zarr.write_s" -> one(rv("zarr.write"), "s"),
      "zarr.files" -> one(rv("zarr.files"), "count"),
      "zarr.bytes" -> one(rv("zarr.bytes"), "B"),
      "zarr.files_per_s" -> one(rv("zarr.files") / rv("zarr.write"), "1/s"),
      "zarr.tmp_residue" -> tr(traced.map(_.outcomes.map(_.tmpFiles).sum).sum.toDouble / n, "count"),
      "s3.put" -> tr(s3("put"), "count"),
      "s3.copy" -> tr(s3("copy"), "count"),
      "s3.head" -> tr(s3("head"), "count"),
      "s3.delete" -> tr(s3("delete"), "count"),
      "s3.get" -> tr(s3("get"), "count"),
      "s3.list" -> tr(s3("list"), "count"),
      "s3.bytes_up" -> tr(s3("bytes_up"), "B"),
      "s3.requests_per_file" -> tr(s3("requests") / filesPerPass, "1/file"),
      "s3.request_ms_p50" -> tr(if (traced.forall(_.s3.isEmpty)) 0.0
        else median(traced.map(_.s3.getOrElse("request_ms_p50", 0.0))), "ms"),
      "s3.error_responses" -> tr(s3("errors"), "count"),
      "job.discover_s" -> one(rv("job.discover"), "s"),
      "job.stack_wall_s_p50" -> tr(median(traced.map(_.layer("job.stack_wall_s_p50"))), "s"),
      "job.stack_wall_s_max" -> tr(traced.map(_.layer("job.stack_wall_s_max")).max, "s"),
      "job.stacks_in_flight_mean" -> tr(mean("job.stacks_in_flight_mean"), "count"),
      "spark.jobs" -> tr(mean("spark.jobs"), "count"),
      "spark.stages" -> tr(mean("spark.stages"), "count"),
      "spark.tasks" -> tr(mean("spark.tasks"), "count"),
      "spark.failed_tasks" -> tr(mean("spark.failed_tasks"), "count"),
      "spark.executor_run_s" -> tr(mean("spark.executor_run_s"), "s"),
      "spark.executor_cpu_s" -> tr(mean("spark.executor_cpu_s"), "s"),
      "spark.gc_s" -> tr(mean("spark.gc_s"), "s"),
      "spark.scheduler_delay_s" -> tr(mean("spark.scheduler_delay_s"), "s"),
      "spark.core_busy_frac" -> tr(mean("spark.core_busy_frac"), "frac"),
      "spark.shuffle_write_bytes" -> tr(mean("spark.shuffle_write_bytes"), "B"),
      "spark.shuffle_read_bytes" -> tr(mean("spark.shuffle_read_bytes"), "B"),
      "spark.spill_bytes" -> tr(mean("spark.spill_bytes"), "B"),
      "spark.peak_cached_mb" -> tr(mean("spark.peak_cached_mb"), "MB"),
      "engine.unattributed_s" -> tr(mean("spark.executor_run_s") - kernel, "s"),
      "jvm.peak_heap_mb" -> one(heap, "MB"),
      "trace.overhead_frac" -> (median(traced.map(_.wall)) / median(untraced.map(_.wall)) - 1.0,
        "frac", traced.size + untraced.size),
      "failed_frac" -> (failedFrac, "frac", 1))
  }

  private def writeSpans(spans: Spans, f: File): Unit = {
    val arr = M.createArrayNode()
    spans.all.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start", s.start); o.put("end", s.end)
      s.attrs.foreach { case (k, v) => o.put(k, v) }
    }
    Files.write(f.toPath, M.writeValueAsBytes(arr))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
