package graft.io.zarr

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{Blosc, ChunkGrid, Volume, ZarrChunk}

/** Zarr v2 directory-store sink + source (reference K1/K2 sink,
  * `czi_to_zarr.py:585-608` + S6 re-scan `czi_to_zarr.py:611,624`).
  *
  * Layout: `root/<stack>/<level>/<t>/<c>/<z>/<y>/<x>` — one compressed
  * file per chunk, nested `dimension_separator="/"` exactly like the
  * reference store (`czi_to_zarr.py:585-593`).
  *
  * Scale design:
  *   - the sink is `foreachPartition` over the chunk Dataset: every task
  *     writes only its own chunk files — lock-free by construction
  *     (reference X8, `zarr_writer.py:210`), no driver coordination;
  *   - writes go through the Hadoop FileSystem API, so `file://`, `hdfs://`
  *     and `s3a://` all work unchanged (replaces the reference's
  *     `aws s3 sync` subprocess, K6 `utils.py:142-205`);
  *   - exactly-once under task retry: write to a `.tmp-<attempt>` name
  *     then atomic rename (SURVEY.md §7.5 #5), in [[commitChunk]], the
  *     one commit shared with the `format("zarr")` writer;
  *   - reads go through the `format("zarr")` connector
  *     ([[ZarrDataSource]]), which plans chunks from `.zarray` arithmetic
  *     and never lists the store.
  */
object ZarrIO {

  private def fs(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    // session conf, not a fresh one: spark.hadoop.* overlays (object-store
    // credentials, custom fs.<scheme>.impl registrations) must apply here
    val f = p.getFileSystem(graft.core.HadoopConf.get)
    f.setWriteChecksum(false) // no .crc shadow files inside the Zarr store
    (f, p)
  }

  /** Driver-side, idempotent: the store-root `.zgroup` shared by every
    * stack. Concurrent per-stack conversions must NOT each create/truncate
    * this path (benign locally only because the bytes are identical, and
    * fragile on object stores) — [[graft.jobs.ZeissJob.convertAll]] writes
    * it once before fanning out; [[writeMetadata]] only fills it in when
    * absent. */
  def writeStoreRoot(root: String): Unit = {
    val (f, rootPath) = fs(root)
    val out = f.create(new Path(rootPath, ".zgroup"), true)
    try out.write(ZarrMeta.zgroup.getBytes("UTF-8")) finally out.close()
  }

  /** Driver-side: group + array metadata for one stack/level. */
  def writeMetadata(root: String, vol: Volume, nLevels: Int,
                    voxelZyx: Seq[Double] = Seq(1.0, 1.0, 1.0),
                    factorZyx: Seq[Int] = Seq(2, 2, 2),
                    channelNames: Seq[String] = Seq("ch0"),
                    originZyx: Option[Seq[Double]] = Some(Seq(0, 0, 0)),
                    compressed: Boolean = true, clevel: Int = 3): Unit = {
    val (f, rootPath) = fs(root)
    def put(p: Path, content: String): Unit = {
      val out = f.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    if (!f.exists(new Path(rootPath, ".zgroup"))) writeStoreRoot(root)
    val stackPath = new Path(rootPath, vol.stack)
    put(new Path(stackPath, ".zgroup"), ZarrMeta.zgroup)
    val attrs = ZarrMeta.stackAttrs(vol.stack, vol.shape.toSeq, nLevels, voxelZyx,
      factorZyx, channelNames, originZyx, vol.dtype)
    // independent NGFF 0.4 conformance check (the reference validates via
    // ome_zarr.format.CurrentFormat(), czi_to_zarr.py:300-320); golden-JSON
    // specs alone would only compare this code against itself
    val violations = JsonSchema.validateNgffImage(attrs)
    require(violations.isEmpty,
      s"emitted .zattrs violates the NGFF 0.4 image schema: ${violations.mkString("; ")}")
    put(new Path(stackPath, ".zattrs"), attrs)
    // one .zarray per level; shapes follow the ceil cascade
    var shape = vol.shape
    for (l <- 0 until nLevels) {
      val lvlPath = new Path(stackPath, l.toString)
      put(new Path(lvlPath, ".zarray"),
        ZarrMeta.zarray(shape.toSeq, vol.chunk.toSeq, clevel = clevel,
          compressed = compressed, dtype = vol.dtype.zarrName))
      shape = ChunkGrid.downsampledShape(shape,
        Array(1, 1, factorZyx(0), factorZyx(1), factorZyx(2)))
    }
  }

  /** Executor-side chunk write: Blosc-compress and atomically place each
    * chunk file. One row = one file; tasks never contend. `typesize` is
    * the shuffle stride and must match the store's dtype: a u8 or f32
    * store byte-shuffled at stride 2 compresses worse and diverges from
    * the reference's numcodecs config. */
  def writeChunks(ds: Dataset[ZarrChunk], root: String, clevel: Int = 3,
                  compress: Boolean = true, typesize: Int = 2): Unit = {
    // Configuration is not serializable: snapshot the session's effective
    // conf at plan time, rebuild per task (credentials/scheme registrations
    // must reach executors too)
    val hconf = graft.core.HadoopConf.snapshot(
      ds.sparkSession.sparkContext.hadoopConfiguration)
    ds.foreachPartition { (it: Iterator[ZarrChunk]) =>
      val conf = graft.core.HadoopConf.restore(hconf)
      var cachedFs: FileSystem = null
      it.foreach { ck =>
        val dst = new Path(s"$root/${ck.stack}/${ck.level}/${ck.t}/${ck.c}/${ck.z}/${ck.y}/${ck.x}")
        if (cachedFs == null) {
          cachedFs = dst.getFileSystem(conf)
          cachedFs.setWriteChecksum(false)
        }
        val payload = if (compress) Blosc.compress(ck.data, typesize, clevel) else ck.data
        commitChunk(cachedFs, dst, payload)
      }
    }
  }

  /** The one chunk-file commit of both sinks ([[writeChunks]] and the
    * `format("zarr")` writer): write `payload` under a unique `.tmp-`
    * sibling of `dst`, then rename it onto `dst`. The rename is the commit
    * point, so a visible chunk file is always complete. A failed rename
    * means a concurrent attempt already committed this chunk (with the
    * same bytes — placement is deterministic by coordinates), so the loser
    * deletes its tmp. */
  def commitChunk(fs: FileSystem, dst: Path, payload: Array[Byte]): Unit = {
    val tmp = new Path(dst.getParent, s".tmp-${dst.getName}-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(payload) finally out.close()
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  /** Crash-recovery sweep: delete orphaned `.tmp-*` files under `root`.
    * The tmp+atomic-rename protocol guarantees a VISIBLE chunk file is
    * always complete (rename is the commit point) and re-runs converge
    * (rename onto an existing chunk fails and the loser deletes its tmp),
    * but an attempt that dies MID-WRITE leaves its uniquely-named tmp
    * behind. Readers never see them (chunk names are bare coordinates;
    * tmps are dot-files), so this sweep is hygiene, not correctness —
    * run it before or after a re-run of a crashed job. Driver-side
    * recursive listing: one RPC stream per store, no data reads.
    *
    * CONCURRENCY HAZARD: the sweep cannot distinguish an orphan from a
    * tmp a LIVE writer created moments ago — deleting one between its
    * write and rename fails that single write attempt (the attempt's
    * rename finds no source; a task retry re-converges, so the store is
    * never corrupted, but the job sees a spurious failure). Never run
    * the sweep concurrently with a write job against the same root; when
    * the caller can't rule that out, pass `minAgeMs` (e.g. 10 minutes)
    * so only tmps older than any plausible in-flight write are swept.
    *
    * CLOCK-SKEW ASSUMPTION: the age gate compares the DRIVER's
    * `System.currentTimeMillis()` against STORE modification times. On an
    * object store whose clock runs ahead of the driver, a fresh tmp's
    * mtime sits in the driver's future and the effective safety margin
    * shrinks by the skew (a behind-store clock only makes the sweep more
    * conservative). Size `minAgeMs` to dwarf plausible skew — the
    * 10-minute example above covers the single-digit-second skew of any
    * NTP-disciplined fleet with orders of magnitude to spare; do not pass
    * sub-minute values against a remote store. Returns the number of tmp
    * files removed. */
  def cleanupTmp(root: String, conf: Configuration, minAgeMs: Long = 0L): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 0L
    var n = 0L
    val cutoff = System.currentTimeMillis() - math.max(0L, minAgeMs)
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime <= cutoff) {
        fs.delete(st.getPath, false)
        n += 1
      }
    }
    n
  }

  /** Read a stack level back as a Dataset[ZarrChunk] (reference S6):
    * the `format("zarr")` scan, planned from `.zarray` arithmetic with no
    * listing. A chunk file absent from the store reads as fill-value
    * zeros; a corrupt one fails its task naming the chunk path. */
  def readChunks(spark: SparkSession, root: String, stack: String, level: Int): Dataset[ZarrChunk] = {
    import spark.implicits._
    spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", root).option("stack", stack).option("level", level.toString)
      .load().as[ZarrChunk]
  }

  final case class ZarrayMeta(shape: Array[Long], chunk: Array[Int],
                              compressed: Boolean, dtype: graft.core.PixelDtype)

  /** Parse .zarray (driver-side). */
  def readZarray(root: String, stack: String, level: Int): ZarrayMeta = {
    val (f, _) = fs(root)
    val p = new Path(s"$root/$stack/$level/.zarray")
    val in = f.open(p)
    val content = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(content)
    import scala.jdk.CollectionConverters._
    ZarrayMeta(
      node.get("shape").elements().asScala.map(_.asLong()).toArray,
      node.get("chunks").elements().asScala.map(_.asInt()).toArray,
      !node.get("compressor").isNull,
      graft.core.PixelDtype.fromZarr(node.get("dtype").asText()))
  }
}
