package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}

/** Registers Spark's own codegen'd [[BloomFilterMightContain]] predicate
  * as a callable function (`bloom_might_contain(filterBinary, longVal)`).
  *
  * Spark ships the expression for its internal runtime join-filter
  * rewrite but does not expose it in the public function registry; the
  * Bloom decontamination gate
  * (`graft.llm.BloomDecontam.bloomDecontaminationKept`) probes it
  * directly against a filter built with
  * `DataFrameStatFunctions.bloomFilter` — both sides are the same
  * spark-sketch `BloomFilter` implementation, so the build's `putLong`
  * and the probe's `mightContainLong` agree bit-for-bit.
  *
  * Registration is guarded like `VectorDot.register`: gate builders call
  * this once per plan, and an unguarded `createOrReplaceTempFunction`
  * would spam a `SimpleFunctionRegistry ... replaced` WARN per build
  * into the bench tail window.
  */
object BloomProbe {
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("bloom_might_contain")))
      registry.createOrReplaceTempFunction(
        "bloom_might_contain",
        { exprs: Seq[Expression] => BloomFilterMightContain(exprs(0), exprs(1)) },
        "built-in")
    // the build side of the same runtime-filter pair: a
    // TypedImperativeAggregate whose partial buffers are per-partition
    // Bloom filters OR-merged upward — the filter is built DISTRIBUTED
    // and reaches the probe as an uncorrelated scalar subquery (the
    // mechanism Spark's own InjectRuntimeFilter uses), never as a
    // driver-collected plan literal. Subqueries are rejected inside
    // higher-order-function lambdas (UNSUPPORTED_SUBQUERY_EXPRESSION_
    // CATEGORY.HIGHER_ORDER_FUNCTION), so consumers probe at exploded
    // row granularity, not per-array.
    if (!registry.functionExists(FunctionIdentifier("bloom_filter_agg")))
      registry.createOrReplaceTempFunction(
        "bloom_filter_agg",
        { exprs: Seq[Expression] =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            exprs(0), exprs(1), exprs(2)) },
        "built-in")
  }
}
