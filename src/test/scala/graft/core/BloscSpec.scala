package graft.core

import org.scalatest.funsuite.AnyFunSuite

class BloscSpec extends AnyFunSuite {

  test("shuffle/unshuffle roundtrip, incl. non-multiple tails") {
    for (n <- Seq(0, 1, 2, 3, 7, 16, 255, 256, 4096, 4097); ts <- Seq(1, 2, 4, 8)) {
      val src = Array.tabulate[Byte](n)(i => (i * 31 + 7).toByte)
      assert(Blosc.unshuffle(Blosc.shuffle(src, ts), ts).sameElements(src),
        s"n=$n ts=$ts")
    }
  }

  test("shuffle groups bytes by significance") {
    // uint16 LE [0x0100, 0x0302]: bytes 00 01 02 03 -> shuffled 00 02 01 03
    val src = Array[Byte](0x00, 0x01, 0x02, 0x03)
    assert(Blosc.shuffle(src, 2).toSeq == Seq[Byte](0x00, 0x02, 0x01, 0x03))
  }

  test("compress/decompress roundtrip on compressible data; header fields") {
    val pixels = Array.tabulate(128 * 128)(i => (i / 64) % 65536)
    val raw = PixelCodec.toBytes(pixels)
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    assert(frame.length < raw.length, "ramp data must compress")
    assert(Blosc.decompress(frame).sameElements(raw))
    val h = Blosc.header(frame)
    assert(h.nbytes == raw.length)
    assert(h.cbytes == frame.length)
    assert(h.typesize == 2)
    assert((h.flags & 0x01) != 0, "shuffle flag")
    assert((h.flags >> 5) == 4, "zstd compressor format id")
    assert(frame(0) == 2, "blosc format version")
  }

  test("incompressible data falls back to memcpy frame") {
    val rnd = new scala.util.Random(42)
    val raw = Array.fill[Byte](4096)(rnd.nextInt().toByte)
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    val h = Blosc.header(frame)
    if ((h.flags & 0x02) != 0) assert(frame.length == raw.length + 16)
    assert(Blosc.decompress(frame).sameElements(raw))
  }

  test("empty input") {
    val frame = Blosc.compress(Array.emptyByteArray)
    assert(Blosc.decompress(frame).isEmpty)
  }

  test("roundtrip over many sizes and contents") {
    for (seed <- 0 until 25) {
      val rnd = new scala.util.Random(seed)
      val n = rnd.nextInt(5000)
      val raw =
        if (seed % 2 == 0) Array.fill[Byte](n)(rnd.nextInt().toByte)            // noise
        else Array.tabulate[Byte](n)(i => ((i / 7) % 251).toByte)               // structured
      assert(Blosc.decompress(Blosc.compress(raw)).sameElements(raw), s"seed=$seed n=$n")
    }
  }

  test("header rejects bit-shuffle and foreign-compressor frames") {
    val frame = Blosc.compress(PixelCodec.toBytes(Array.tabulate(256)(i => i)), 2, 3)
    // flip in the bit-shuffle flag (0x04): produced by other blosc writers,
    // would decode silently wrong if accepted
    val bitShuffled = frame.clone()
    bitShuffled(2) = (bitShuffled(2) | 0x04).toByte
    intercept[UnsupportedOperationException](Blosc.decompress(bitShuffled))
    // lz4 compressor id (1) instead of zstd (4)
    val lz4 = frame.clone()
    lz4(2) = ((lz4(2) & 0x1F) | (1 << 5)).toByte
    intercept[UnsupportedOperationException](Blosc.decompress(lz4))
    // memcpy frames decode regardless of compressor id
    val mem = Blosc.compress(Array.fill[Byte](64)(new scala.util.Random(7).nextInt().toByte))
    assert(Blosc.decompress(mem).length == 64)
  }

  test("compressed frames carry the don't-split flag; frame length is header + one stream") {
    val raw = PixelCodec.toBytes(Array.tabulate(128 * 128)(i => (i / 64) % 65536))
    val frame = Blosc.compress(raw, typesize = 2, clevel = 3)
    val h = Blosc.header(frame)
    assert((h.flags & 0x02) == 0, "expected a compressed frame")
    assert((h.flags & 0x10) != 0, "c-blosc 1.x would read this single stream as 2 split streams")
    assert(frame.length == 16 + 4 + 4 + com.github.luben.zstd.Zstd.compress(Blosc.shuffle(raw, 2), 3).length)
  }

  /** A frame as c-blosc 1.x writes it without the don't-split flag:
    * each block byte-shuffled, then split into `typesize` streams unless
    * it is the leftover last block. Stream 1 of block 0 is stored raw. */
  private def splitFrame(raw: Array[Byte], typesize: Int, blocksize: Int): Array[Byte] = {
    val nblocks = (raw.length + blocksize - 1) / blocksize
    val body = new java.io.ByteArrayOutputStream()
    def le(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    val starts = (0 until nblocks).map { k =>
      val start = 16 + 4 * nblocks + body.size
      val block = Blosc.shuffle(raw.slice(k * blocksize, math.min(raw.length, (k + 1) * blocksize)), typesize)
      val nsplits = if (block.length == blocksize) typesize else 1
      block.grouped(block.length / nsplits).zipWithIndex.foreach { case (s, j) =>
        val stored = if (k == 0 && j == 1) s else com.github.luben.zstd.Zstd.compress(s, 3)
        body.write(le(stored.length)); body.write(stored)
      }
      start
    }
    val total = 16 + 4 * nblocks + body.size
    Array[Byte](2, 1, ((4 << 5) | 0x01).toByte, typesize.toByte) ++ le(raw.length) ++
      le(blocksize) ++ le(total) ++ starts.flatMap(le) ++ body.toByteArray
  }

  test("split-stream frames (no don't-split flag) decode per byte plane") {
    val raw = PixelCodec.toBytes(Array.tabulate(350)(i => (i * 37) % 1000))
    // one full block of 512 bytes: 2 streams of 256 (the second stored raw)
    val one = splitFrame(raw.take(512), typesize = 2, blocksize = 512)
    assert((Blosc.header(one).flags & 0x10) == 0)
    assert(Blosc.decompress(one).sameElements(raw.take(512)))
    // 700 bytes in 512-byte blocks: a split block then an unsplit leftover
    assert(Blosc.decompress(splitFrame(raw, typesize = 2, blocksize = 512)).sameElements(raw))
    // blocksize / typesize < 128: c-blosc never splits such blocks
    val small = PixelCodec.toBytes(Array.tabulate(100)(i => i / 10))
    val unsplit = Blosc.compress(small, typesize = 2)
    assert((Blosc.header(unsplit).flags & 0x02) == 0, "expected a compressed frame")
    unsplit(2) = (unsplit(2) & ~0x10).toByte
    assert(Blosc.decompress(unsplit).sameElements(small))
  }

  test("uint16 pixel codec roundtrip with unsigned values") {
    val px = Array(0, 1, 32767, 32768, 65535, 65534)
    assert(PixelCodec.toInts(PixelCodec.toBytes(px)).sameElements(px))
  }
}
