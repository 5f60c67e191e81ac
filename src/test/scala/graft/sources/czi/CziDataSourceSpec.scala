package graft.sources.czi

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.Spark
import graft.sources.SyntheticStack

class CziDataSourceSpec extends AnyFunSuite {

  private lazy val spark = Spark.session(master = "local[4]", shufflePartitions = 4,
    appName = "graft-czi-dsv2-test")

  private def fixture(): String = {
    val dir = Files.createTempDirectory("czi-dsv2").toString
    val path = s"$dir/f.czi"
    val chans = Array.tabulate(2, 16, 32, 32)((c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeChannels(path, chans)
    path
  }

  test("format('czi') reads voxel-exact chunk rows, same shape as the zarr connector") {
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("stack", "level", "t", "c", "z", "y", "x", "shape", "data"))
    val rows = df.collect()
    assert(rows.length == 2 * 2 * 2 * 2) // c * z-slabs * gridY * gridX
    val r = rows.find(r => r.getAs[Int]("c") == 1 && r.getAs[Int]("z") == 0 &&
      r.getAs[Int]("y") == 0 && r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(0, 0, 0) + 1000) & 0xFFFF))
    assert(r.getAs[String]("stack") == "f")
  }

  test("c/z filters prune input PARTITIONS, not just rows") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("c") === 1 && col("z") === 0)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // without pruning: 2 channels x 2 slabs = 4 partitions; pruned: 1
    assert(scan.inputPartitions.size == 1, scan.inputPartitions)
    assert(df.count() == 4) // the slab still cuts into 2x2 XY tiles
  }

  test("t filters prune frame partitions on a multi-timepoint file") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("czi-dsv2-t").toString
    val path = s"$dir/mt.czi"
    val frames = Array.tabulate(3, 2, 16, 32, 32)((t, c, z, y, x) =>
      (SyntheticStack.value(z, y, x) + 3000 * t + 1000 * c) & 0xFFFF)
    SyntheticCzi.writeTC(path, frames)
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("t") === 2 && col("c") === 1)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // unpruned: 3 t x 2 c x 2 slabs = 12 partitions; t=2 && c=1 keeps 2
    assert(scan.inputPartitions.size == 2, scan.inputPartitions)
    val rows = df.collect()
    assert(rows.length == 2 * 2 * 2) // slabs x gridY x gridX
    val r = rows.find(r => r.getAs[Int]("z") == 0 && r.getAs[Int]("y") == 0 &&
      r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(0, 0, 0) + 3000 * 2 + 1000) & 0xFFFF))
  }

  test("long-typed literals prune exactly like int literals") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    def planned(f: org.apache.spark.sql.Column): Int = {
      val df = spark.read.format("czi").option("path", path)
        .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
        .load().filter(f)
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b
      }.get.inputPartitions.size
    }
    // 2 channels x 2 slabs = 4 unpruned; z <= 0 keeps one slab per channel.
    // A long literal (lit(0L) forces z to cast) must prune identically —
    // the round-3 review's fragile-contract finding.
    val intCase = planned(col("z") <= 0)
    val longCase = planned(col("z").cast("long") <= 0L)
    assert(intCase == 2, s"int literal planned $intCase")
    assert(longCase == intCase, s"long literal planned $longCase, int $intCase")
  }

  test("z IN (...) prunes to its slab envelope and stays residual; rows are exact") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.sources.In
    val path = fixture() // chunk_z 4: 4 slabs per channel, 8 partitions unpruned
    val in = In("z", Array[Any](1, 2))
    val builder = new CziScanBuilder(path, "f", Array(4, 16, 16))
    assert(builder.pushFilters(Array(in)).toSeq == Seq(in))
    assert(builder.pushedFilters().isEmpty)
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "4").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("z").isin(1, 2))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // 2 channels x slabs 1..2
    assert(scan.inputPartitions.size == 4, scan.inputPartitions)
    assert(scan.scan.description().contains("z=[1..2]"), scan.scan.description())
    val rows = df.collect()
    assert(rows.length == 2 * 2 * 2 * 2) // c x slabs x gridY x gridX
    assert(rows.map(_.getAs[Int]("z")).toSet == Set(1, 2))
    val r = rows.find(r => r.getAs[Int]("c") == 1 && r.getAs[Int]("z") == 2 &&
      r.getAs[Int]("y") == 1 && r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(r.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(8, 16, 0) + 1000) & 0xFFFF))
  }

  test("a y filter stays residual on the czi connector: a slab partition emits every tile") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.sources.EqualTo
    val path = fixture()
    val eq = EqualTo("y", 0)
    val builder = new CziScanBuilder(path, "f", Array(4, 16, 16))
    assert(builder.pushFilters(Array(eq)).toSeq == Seq(eq))
    assert(builder.pushedFilters().isEmpty)
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "4").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("y") === 0)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(!scan.scan.description().contains("y="), scan.scan.description())
    val rows = df.collect()
    assert(rows.length == 2 * 4 * 2) // c x slabs x gridX, one tile row each
    assert(rows.forall(_.getAs[Int]("y") == 0))
  }

  test("data-free projection synthesizes rows from arithmetic, no subblock read") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .select(col("c"), col("z"), col("y"), col("x"), col("shape"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    // the pruned projection reaches the scan (no `data` in its description)
    val desc = scan.scan.description()
    assert(desc.contains("cols=c,z,y,x,shape"), desc)
    // rows are still exact: full grid with clamped edge shapes
    val rows = df.collect()
    assert(rows.length == 16)
    assert(rows.forall(_.getAs[Seq[Int]]("shape") == Seq(1, 1, 8, 16, 16)))
  }

  test("ungrouped COUNT/MIN/MAX answers at planning time in one no-IO task") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture()
    val df = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .filter(col("c") === 1)
      .agg(count(lit(1)).as("n"), min(col("z")).as("mn"), max(col("x")).as("mx"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("agg=count(*),min(z),max(x)"),
      scan.scan.description())
    assert(scan.inputPartitions.size == 1, scan.inputPartitions)
    val r = df.collect().head
    assert(r.getLong(0) == 8L && r.getInt(1) == 0 && r.getInt(2) == 1, r)
  }

  test("GROUP BY coordinate axes pushes the whole aggregate into directory arithmetic") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val path = fixture() // grid (t,c,z,y,x) = (1,2,2,2,2) at chunk (8,16,16)
    val t = spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
    val g = t.filter(col("z") >= 1).groupBy(col("c"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("mz"), max(col("y")).as("my"))
    val scan = g.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("agg=count(*),min(z),max(y) groupBy=c"),
      scan.scan.description())
    // COMPLETE pushdown: no Spark-side HashAggregate re-aggregates the scan
    assert(!g.queryExecution.executedPlan.toString.contains("HashAggregate"),
      g.queryExecution.executedPlan.toString)
    val rows = g.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted
    assert(rows.toSeq == Seq((0, 4L, 1, 1), (1, 4L, 1, 1)), rows.toSeq)
    // empty selection: no groups at all
    assert(t.filter(col("z") > 100).groupBy(col("c")).count().collect().isEmpty)
  }

  test("CZI -> Zarr conversion is one connector-to-connector pipeline") {
    val path = fixture()
    val out = Files.createTempDirectory("czi-dsv2-out").toString
    val vol = graft.core.Volume("f", 0, Array(1L, 2L, 16L, 32L, 32L), Array(1, 1, 8, 16, 16))
    graft.io.zarr.ZarrIO.writeMetadata(out, vol, nLevels = 1)
    spark.read.format("czi").option("path", path)
      .option("chunk_z", "8").option("chunk_y", "16").option("chunk_x", "16")
      .load()
      .write.format("zarr").option("path", out).mode("append").save()
    val back = spark.read.format("zarr").option("path", out).option("stack", "f")
      .load().collect()
    assert(back.length == 16)
    val b = back.find(r => r.getAs[Int]("c") == 1 && r.getAs[Int]("z") == 1 &&
      r.getAs[Int]("y") == 0 && r.getAs[Int]("x") == 0).get
    val px = graft.core.PixelCodec.toInts(b.getAs[Array[Byte]]("data"))
    assert(px(0) == ((SyntheticStack.value(8, 0, 0) + 1000) & 0xFFFF))
  }
}
