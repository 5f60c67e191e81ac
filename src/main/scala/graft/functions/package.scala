package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge.{aggregate, column, expression}
import org.apache.spark.sql.functions.sqrt

/** Column-level API over the custom expressions + SQL registration. */
package object functions {

  /** Sequential-order double dot product of two float vectors (codegen'd). */
  def vector_dot(a: Column, b: Column): Column =
    column(VectorDot(expression(a), expression(b)))

  /** Cosine similarity composed from [[vector_dot]]. */
  def cosine_sim(a: Column, b: Column): Column =
    vector_dot(a, b) / (sqrt(vector_dot(a, a)) * sqrt(vector_dot(b, b)))

  /** First `nibbles` md5 hex digits as BIGINT (codegen'd; equals the
    * `conv(substr(md5(s), 1, n), 16, 10)` idiom bit-for-bit). */
  def md5_bits(s: Column, nibbles: Int): Column =
    column(Md5Bits(expression(s), nibbles))

  /** Integer-exact argmin over a centroid matrix: struct(dist, cid) of
    * the nearest centroid, ties to the smallest cid (codegen'd; equals
    * the `array_min(transform(...))` HOF form value-for-value). */
  def nearest_centroid(qv: Column, cs: Column): Column =
    column(NearestCentroid(expression(qv), expression(cs)))

  /** Morton (Z-order) interleave of the low 16 bits of two integers —
    * the multi-dimensional clustering key (codegen'd; equals the
    * 32-term shift/mask sum the SQL oracle spells out). */
  def zorder_key(x: Column, y: Column): Column =
    column(ZorderKey(expression(x), expression(y)))

  /** Whitespace-token field count without the array: equals
    * `size(split(trim(s), "\s+"))` value-for-value. */
  def token_count(text: Column): Column =
    column(TokenCount(expression(text)))

  /** Tokenizer stats for a literal term list in ONE text pass:
    * `array(int)` of `[token_count max 1, tf(terms(0)), tf(terms(1)), …]`
    * (equals `size(split(trim(s), "\s+"))` + one whitespace-delimited
    * `regexp_count` per term, value-for-value). */
  def token_term_counts(text: Column, terms: Seq[String]): Column =
    column(TokenTermCounts(expression(text), terms))

  /** All ordered (d1 < d2) id pairs of an id array in one native
    * evaluation (equals the nested transform/filter HOF pipeline
    * element-for-element). */
  def id_pairs(ids: Column): Column =
    column(IdPairs(expression(ids)))

  /** Intersection size of two value-sorted distinct BIGINT arrays by
    * zero-allocation two-pointer merge (equals
    * `size(array_intersect(a, b))` on distinct sorted inputs). */
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  /** PQ nearest-sub-centroid codes in one codegen'd pass (equals the
    * explode + broadcast-join + max_by composition value-for-value). */
  def pq_encode(vec: Column, codebook: Column): Column =
    column(PqEncode(expression(vec), expression(codebook)))

  /** PQ asymmetric-distance partial sum, scaled-integer form (equals
    * `sum(CAST(round(dot * 1e9) AS BIGINT))` over the per-sub rows). */
  def pq_adc9(query: Column, codes: Column, codebook: Column): Column =
    column(PqAdc9(expression(query), expression(codes), expression(codebook)))

  /** Bloom membership probe over a serialized bloom filter (Spark's
    * internal BloomFilterMightContain; no false negatives). */
  def might_contain(bloom: Column, value: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(value)))

  /** Single-pass 64-register HLL distinct estimate over a 60-bit hash
    * column (see [[HllSketchAgg]]); byte-identical to the expression-level
    * HLL in `t13_hll_shingles`. */
  def hll_estimate(c: Column): Column =
    column(HllSketchAgg(expression(c)).toAggregateExpression())

  /** Bloom filter aggregate over a long key column. */
  def bloom_filter_agg(c: Column, estimatedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(c),
      org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)).toAggregateExpression())

  /** Aggregate a (small) key DataFrame into one serialized bloom filter on
    * the driver — the build side of a bloom-guarded filter/join. The
    * collect is ONE row (the filter bytes), same order of driver traffic
    * as a broadcast-join build; the probe side then needs no join at all
    * for the ~(1-fpp) of rows the bloom rules out. */
  def buildBloom(keys: org.apache.spark.sql.DataFrame, keyCol: String,
                 estimatedItems: Long, numBits: Long): Array[Byte] =
    keys.agg(bloom_filter_agg(org.apache.spark.sql.functions.col(keyCol),
      estimatedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")

  def blosc_compress(c: Column, typesize: Int = 2, clevel: Int = 3): Column =
    column(BloscCompress(expression(c), typesize, clevel))

  def blosc_decompress(c: Column): Column =
    column(BloscDecompress(expression(c)))

  /** The engine's SQL functions as one (name, builder) table, walked by
    * both [[registerAll]] (local sessions) and [[graft.GraftExtensions]]
    * (`spark.sql.extensions` on a cluster), so the two entry points expose
    * the same names. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
    Seq(
      "vector_dot" -> (e => VectorDot(e(0), e(1))),
      "md5_bits" -> (e => Md5Bits(e(0), intArg(e(1)))),
      "nearest_centroid" -> (e => NearestCentroid(e(0), e(1))),
      "id_pairs" -> (e => IdPairs(e.head)),
      "sorted_intersect_count" -> (e => SortedIntersectCount(e(0), e(1))),
      "zorder_key" -> (e => ZorderKey(e(0), e(1))),
      "word_shingle_hashes" -> (e => WordShingleHashes(e(0), intArg(e(1)), 15)),
      "char_window_hashes" -> (e => CharWindowHashes(e(0), intArg(e(1)), 15)),
      "blosc_compress" -> (e => BloscCompress(e.head, 2, 3)),
      "blosc_decompress" -> (e => BloscDecompress(e.head)),
      // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
      // own runtime join filters but does not register SQL names for them.
      // Exposed here, they are the canonical 100 TB decontamination
      // prefilter: a few-MB bloom of the blocklist side replaces an exact
      // broadcast set, and corpus rows die map-side before any join.
      "bloom_filter_agg" -> {
        case Seq(c)       => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n)    => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"bloom_filter_agg takes 1-3 arguments, got ${other.size}")
      },
      "might_contain" -> (e =>
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(e(0), e(1))),
      "hll_estimate" -> (e => HllSketchAgg(e.head).toAggregateExpression()),
      "gmean" -> (e => aggregate("gmean", new GeoMean, org.apache.spark.sql.Encoders.DOUBLE, e)))
  }

  /** Register every [[sqlFunctions]] name on a session. */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
