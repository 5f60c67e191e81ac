package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a NEW session object (extensions apply at session
    * build), with or without GraftExtensions. The SparkContext is shared
    * with other suites, so never stop() here. */
  private def withFreshSession[T](extensions: Boolean)(body: SparkSession => T): T = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // .withExtensions = the same GraftExtensions.apply the
      // spark.sql.extensions conf invokes (conf form only loads on a
      // fresh JVM; these suites share one SparkContext)
      val b = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
      body((if (extensions) b.withExtensions(new GraftExtensions) else b).getOrCreate())
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("spark.sql.extensions=graft.GraftExtensions registers the SQL functions") {
    withFreshSession(extensions = true) { spark =>
      val d = spark.sql("SELECT vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").collect()(0).getDouble(0)
      assert(d == 11.0)
      val rt = spark.sql("SELECT blosc_decompress(blosc_compress(CAST('abcabcabc' AS BINARY))) AS r")
        .collect()(0).getAs[Array[Byte]]("r")
      assert(new String(rt, "UTF-8") == "abcabcabc")
      // bloom surface: a member probes true (no false negatives ever);
      // a clearly-absent key probes false at this bloom size
      val probes = spark.sql(
        """WITH b AS (SELECT bloom_filter_agg(id, 100L, 8192L) AS bf
          |           FROM (SELECT CAST(id AS BIGINT) AS id FROM range(100)))
          |SELECT might_contain((SELECT bf FROM b), 42L) AS hit,
          |       might_contain((SELECT bf FROM b), 123456789L) AS miss""".stripMargin)
        .collect()(0)
      assert(probes.getBoolean(0) && !probes.getBoolean(1))
      // the k-means argmin and the dedup pair generator ride along
      val nc = spark.sql(
        """SELECT nearest_centroid(array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
          |  array(struct(CAST(1 AS BIGINT) AS cid, array(CAST(5 AS BIGINT), CAST(0 AS BIGINT)) AS cv),
          |        struct(CAST(2 AS BIGINT) AS cid, array(CAST(1 AS BIGINT), CAST(1 AS BIGINT)) AS cv))) AS m
          |""".stripMargin).collect()(0).getStruct(0)
      assert(nc.getLong(0) == 2L && nc.getLong(1) == 2L)
      val np = spark.sql(
        "SELECT size(id_pairs(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)))) AS n")
        .collect()(0).getInt(0)
      assert(np == 3)
      val zk = spark.sql("SELECT zorder_key(CAST(65535 AS BIGINT), CAST(0 AS BIGINT)) AS z")
        .collect()(0).getLong(0)
      assert(zk == 0x55555555L, zk.toString)
      // HLL sketch aggregate: 2000 distinct md5-derived hashes estimate
      // within the 64-register error envelope
      val est = spark.sql(
        """SELECT hll_estimate(CAST(conv(substr(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT)) AS e
          |FROM range(2000)""".stripMargin).collect()(0).getLong(0)
      assert(est > 1500 && est < 2500, est.toString)
    }
  }

  test("GraftExtensions and functions.registerAll expose the same SQL function names") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    def added(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet -- builtin
    val viaExtensions = withFreshSession(extensions = true) { spark =>
      // the typed-Aggregator builder resolves and evaluates through the
      // extension path too: gmean(1, 4) = 2
      val gm = spark.sql("SELECT round(gmean(x), 4) FROM VALUES (1.0D), (4.0D) AS t(x)")
        .collect()(0).getDouble(0)
      assert(gm == 2.0, gm.toString)
      added(spark)
    }
    val viaRegisterAll = withFreshSession(extensions = false) { spark =>
      functions.registerAll(spark)
      added(spark)
    }
    assert(viaExtensions == viaRegisterAll,
      s"extensions only: ${viaExtensions -- viaRegisterAll}; " +
        s"registerAll only: ${viaRegisterAll -- viaExtensions}")
    // the names the two registries used to disagree on
    val drifted = Set("md5_bits", "sorted_intersect_count", "word_shingle_hashes",
      "char_window_hashes", "gmean", "hll_estimate")
    assert(drifted.subsetOf(viaExtensions), drifted -- viaExtensions)
  }
}
