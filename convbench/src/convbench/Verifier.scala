package convbench

import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Paths}
import javax.xml.parsers.DocumentBuilderFactory

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import com.github.luben.zstd.Zstd
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Output verifier, independent of the engine's own readers: it lists the
  * store (a local directory, or an S3 prefix read back through `s3r://`),
  * parses `.zarray` with Jackson, decodes every chunk
  * with its own Blosc frame decoder over zstd-jni, and compares every
  * voxel of every level with [[Expected]].
  *
  * Checks per stack: each level's `.zarray` shape, chunks, dtype and
  * compressor; the exact set of chunk files (none missing, none extra);
  * every voxel; and no `.tmp-*` file anywhere under the stack. */
object Verifier {

  /** `storedBytes` and `chunkFiles` count the stack's chunk files as
    * found, `files` all its files, `tmpFiles` its leftover `.tmp-*` files. */
  final case class Outcome(stack: String, problems: Seq[String], storedBytes: Long,
                           chunkFiles: Int, files: Int, tmpFiles: Int) {
    def ok: Boolean = problems.isEmpty
  }

  private val M = new ObjectMapper()

  /** `root` is a local directory or an `s3r://bucket/prefix` store; for
    * the latter `s3Endpoint` is the S3 server, listed directly with one
    * ListObjectsV2 walk while every file is read through `s3r://`. */
  def verify(root: String, conf: Configuration, stacks: Seq[(StackSpec, IndexedSeq[Level])],
             chunk: Int, clevel: Int, s3Endpoint: Option[String] = None)
            (implicit ec: ExecutionContext): Seq[Outcome] = {
    val (sizes, read) = if (root.startsWith("s3r://")) s3Store(root, conf, s3Endpoint.getOrElse(
      throw new IllegalArgumentException(s"$root needs the S3 endpoint"))) else localStore(root)
    stacks.map { case (s, levels) =>
      val problems = mutable.ArrayBuffer.empty[String]
      try verifyStack(sizes, read, s, levels, chunk, clevel, problems)
      catch { case e: Exception => problems += s"${s.name}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      val mine = sizes.keys.filter(_.startsWith(s.name + "/")).toSeq
      val chunks = mine.filter(k => !k.split('/').last.startsWith("."))
      Outcome(s.name, problems.toSeq, chunks.map(sizes).sum, chunks.size, mine.size,
        mine.count(_.split('/').last.startsWith(".tmp-")))
    }
  }

  private type Store = (collection.Map[String, Long], String => Array[Byte])

  private def localStore(root: String): Store = {
    val base = Paths.get(root)
    val sizes = mutable.Map.empty[String, Long]
    if (Files.isDirectory(base)) {
      val it = Files.walk(base).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) sizes(base.relativize(p).toString) = Files.size(p)
      }
    }
    (sizes, rel => Files.readAllBytes(base.resolve(rel)))
  }

  private def s3Store(root: String, conf: Configuration, endpoint: String): Store = {
    val uri = java.net.URI.create(root)
    val (bucket, prefix) = (uri.getAuthority, uri.getPath.stripPrefix("/").stripSuffix("/") + "/")
    val sizes = mutable.Map.empty[String, Long]
    var token: Option[String] = None
    do {
      val q = s"list-type=2&prefix=${enc(prefix)}" + token.map(t => s"&continuation-token=${enc(t)}").getOrElse("")
      val c = new URL(s"${endpoint.stripSuffix("/")}/$bucket?$q").openConnection().asInstanceOf[HttpURLConnection]
      val doc = try {
        require(c.getResponseCode == 200, s"list $root: HTTP ${c.getResponseCode}")
        DocumentBuilderFactory.newInstance().newDocumentBuilder().parse(c.getInputStream)
      } finally c.disconnect()
      val contents = doc.getElementsByTagName("Contents")
      for (i <- 0 until contents.getLength) {
        val e = contents.item(i).asInstanceOf[org.w3c.dom.Element]
        val key = e.getElementsByTagName("Key").item(0).getTextContent
        if (!key.endsWith("/"))
          sizes(key.stripPrefix(prefix)) = e.getElementsByTagName("Size").item(0).getTextContent.toLong
      }
      val next = doc.getElementsByTagName("NextContinuationToken")
      token = if (next.getLength > 0) Some(next.item(0).getTextContent) else None
    } while (token.isDefined)
    val fs = new Path(root).getFileSystem(conf)
    (sizes, rel => {
      val in = fs.open(new Path(s"$root/$rel"))
      try in.readAllBytes() finally in.close()
    })
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def verifyStack(files: collection.Map[String, Long], read: String => Array[Byte], s: StackSpec,
                          levels: IndexedSeq[Level], chunk: Int, clevel: Int,
                          problems: mutable.ArrayBuffer[String])
                         (implicit ec: ExecutionContext): Unit = {
    val mine = files.keys.filter(_.startsWith(s.name + "/")).toSeq
    mine.filter(_.split('/').last.startsWith(".tmp-")).foreach(p => problems += s"leftover tmp file $p")
    for (meta <- Seq(".zgroup", ".zattrs") if !files.contains(s"${s.name}/$meta"))
      problems += s"${s.name}/$meta missing"
    levels.zipWithIndex.foreach { case (lvl, l) =>
      val dir = s"${s.name}/$l/"
      files.get(dir + ".zarray") match {
        case None => problems += s"${dir}.zarray missing"
        case Some(_) => checkZarray(read(dir + ".zarray"), dir, lvl, chunk, clevel).foreach(problems += _)
      }
      val grid = (ceil(lvl.nz, chunk), ceil(lvl.ny, chunk), ceil(lvl.nx, chunk))
      val expected = (for (z <- 0 until grid._1; y <- 0 until grid._2; x <- 0 until grid._3)
        yield s"${dir}0/0/$z/$y/$x").toSet
      val present = mine.filter(k => k.startsWith(dir) && !k.split('/').last.startsWith(".")).toSet
      (expected -- present).toSeq.sorted.take(5).foreach(k => problems += s"chunk $k missing")
      (present -- expected).toSeq.sorted.take(5).foreach(k => problems += s"unexpected file $k")
      val bad = Await.result(Future.traverse((expected & present).toSeq) { k =>
        Future {
          val c = k.split('/').takeRight(3).map(_.toInt)
          compareChunk(read(k), lvl, c(0), c(1), c(2), chunk).map(m => s"chunk $k: $m")
        }
      }, Duration.Inf).flatten
      bad.sorted.take(5).foreach(problems += _)
    }
  }

  private def ceil(a: Int, b: Int): Int = (a + b - 1) / b

  private def checkZarray(bytes: Array[Byte], p: String, lvl: Level, chunk: Int, clevel: Int): Seq[String] = {
    val n = M.readTree(bytes)
    def ints(f: String): Seq[Long] = {
      val it = n.get(f).elements(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next().asLong(); b.result()
    }
    val want = Seq(1L, 1L, lvl.nz.toLong, lvl.ny.toLong, lvl.nx.toLong)
    val c = n.get("compressor")
    Seq(
      Option.when(ints("shape") != want)(s"$p shape ${ints("shape")} != $want"),
      Option.when(ints("chunks") != Seq(1L, 1L, chunk.toLong, chunk.toLong, chunk.toLong))(
        s"$p chunks ${ints("chunks")}"),
      Option.when(n.get("dtype").asText() != "<u2")(s"$p dtype ${n.get("dtype")}"),
      Option.when(c == null || c.isNull || c.get("id").asText() != "blosc" ||
        c.get("cname").asText() != "zstd" || c.get("clevel").asInt() != clevel ||
        c.get("shuffle").asInt() != 1)(s"$p compressor $c")).flatten
  }

  /** Decode one chunk file and compare it voxel by voxel with the level's
    * expected values; None when it matches. */
  def compareChunk(frame: Array[Byte], lvl: Level, cz: Int, cy: Int, cx: Int, chunk: Int): Option[String] = {
    val (z0, y0, x0) = (cz * chunk, cy * chunk, cx * chunk)
    val (zn, yn, xn) = (math.min(chunk, lvl.nz - z0), math.min(chunk, lvl.ny - y0), math.min(chunk, lvl.nx - x0))
    val raw = try bloscDecode(frame) catch { case e: Exception => return Some(s"undecodable: ${e.getMessage}") }
    if (raw.length != zn * yn * xn * 2) return Some(s"${raw.length} bytes, expected ${zn * yn * xn * 2}")
    var i = 0
    var z = 0
    while (z < zn) {
      var y = 0
      while (y < yn) {
        var x = 0
        while (x < xn) {
          val got = (raw(2 * i) & 0xFF) | ((raw(2 * i + 1) & 0xFF) << 8)
          val want = lvl.at(z0 + z, y0 + y, x0 + x).toInt
          if (got != want) return Some(s"voxel (${z0 + z},${y0 + y},${x0 + x}) is $got, expected $want")
          i += 1; x += 1
        }
        y += 1
      }
      z += 1
    }
    None
  }

  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) | ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  /** Blosc v1 frame: 16-byte header (version, versionlz, flags, typesize,
    * nbytes, blocksize, cbytes); flag 0x02 means the payload is stored
    * raw; otherwise a table of block offsets, and per block a 4-byte
    * compressed size then one zstd stream (a size equal to the block's
    * length means stored raw). Flag 0x01 means the block is byte-shuffled
    * with stride `typesize`. */
  def bloscDecode(f: Array[Byte]): Array[Byte] = {
    require(f.length >= 16, s"frame of ${f.length} bytes")
    val flags = f(2) & 0xFF
    val typesize = f(3) & 0xFF
    val nbytes = le32(f, 4)
    val blocksize = if (le32(f, 8) > 0) le32(f, 8) else nbytes
    require(le32(f, 12) == f.length, s"cbytes ${le32(f, 12)} != file length ${f.length}")
    if ((flags & 0x02) != 0) return java.util.Arrays.copyOfRange(f, 16, 16 + nbytes)
    require((flags & 0x04) == 0, "bit-shuffle frame")
    require((flags >>> 5) == 4, s"compressor id ${flags >>> 5} is not zstd")
    val out = new Array[Byte](nbytes)
    val nblocks = ceil(nbytes, blocksize)
    for (k <- 0 until nblocks) {
      val len = math.min(blocksize, nbytes - k * blocksize)
      val start = le32(f, 16 + 4 * k)
      val csize = le32(f, start)
      val block =
        if (csize == len) java.util.Arrays.copyOfRange(f, start + 4, start + 4 + len)
        else {
          val d = new Array[Byte](len)
          val n = Zstd.decompressByteArray(d, 0, len, f, start + 4, csize)
          require(n == len, s"block $k decoded to $n of $len bytes")
          d
        }
      if ((flags & 0x01) != 0 && typesize > 1) {
        val ne = len / typesize
        var j = 0
        while (j < typesize) {
          var e = 0
          while (e < ne) { out(k * blocksize + e * typesize + j) = block(j * ne + e); e += 1 }
          j += 1
        }
        System.arraycopy(block, ne * typesize, out, k * blocksize + ne * typesize, len - ne * typesize)
      } else System.arraycopy(block, 0, out, k * blocksize, len)
    }
    out
  }
}
