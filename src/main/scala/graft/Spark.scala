package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify / Bench / tests share one tuned
  * configuration. Local-mode knobs here; on a real cluster the same confs
  * come from spark-submit and these are inert defaults.
  */
object Spark {
  def session(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
              appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // The generated-class cache holds 100 entries by default (static
      // conf). This library's gate surface alone compiles ~400+ codegen
      // stages; at the default size every bench/verify pass thrashes the
      // cache and re-runs Janino per query — measured ~2x inflation on
      // the dedup family inside the full gate-surface run vs in isolation.
      // Generated classes are tiny; 10k entries is still a bounded cache.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // ObjectHashAggregate (collect_set/collect_list — the shingle
      // packers, posting-list builders, and band buckets all over this
      // engine) falls back to SORT-based aggregation after only 128
      // distinct keys per partition by default, so every mid-cardinality
      // object aggregate was paying a per-partition sort of its whole
      // input stream. Raising the key-count guard keeps those hash-based
      // (r19 A/B at sf0.1: t20 1.33 -> 0.98 s median and its 4 s
      // sort-fallback outlier class gone, m8 0.86 -> 0.61; flat
      // elsewhere). Scale story: the guard is PER-PARTITION key count,
      // so at corpus scale (per-partition distinct keys >> any fixed
      // threshold) behavior converges to today's spill-safe sort
      // fallback; the exposure window is <= 32k concurrent group
      // buffers instead of 128 before fallback, and the sf10 scale gate
      // re-ran green over the collect-heavy d-family at this setting.
      // Parameterized: production tuning is per-deployment (buffer
      // payloads, not key counts, decide the safe ceiling).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "32768"))
      // Broadcast ceiling (ADVICE r10, t21): several queries broadcast a
      // MODEL relation whose size is data-derived (t21/t11's bigram-type
      // LM, IVF codebooks, bloom filters). All are bounded by design at
      // the bench SFs, but a pathological corpus (V^2 bigram types) could
      // outgrow the driver long before Spark's default 8 GiB hard stop —
      // an OOM with no actionable message. 2 GiB turns that into a LOUD
      // SparkException naming this conf at a size the 8 GiB default
      // driver heap still survives; the per-query remediation (the
      // documented shuffle-join lever) lives at each broadcast site.
      .config("spark.sql.maxBroadcastTableSize", "2g")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark 4 only reads those
      // as raw longs behind this flag (converted in Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate duplicates the generator expression of an
      // explode into a pre-Generate Filter (IsNotNull(e) && size(e) > 0).
      // For a stored array column that filter is nearly free, but this
      // engine's generators are computed higher-order expressions
      // (transform/sequence/flatten shingle builders): HOFs evaluate
      // interpreted, CollapseProject inlines their inputs, and the
      // duplicated lambda re-runs per element — t10's bigram explode spent
      // 4.5 s re-splitting document text inside the inferred filter vs
      // 0.2 s without it (21x, measured sf0.1), and the dedup family's
      // shingle explodes carry the same shape. Every generator in this
      // engine yields a non-null (possibly empty) array, so the inferred
      // filter can never drop a row here — it is pure recompute cost.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // bucketed-table storage (co-located joins) out of the repo tree
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark) // the engine's SQL function table
    spark
  }
}
