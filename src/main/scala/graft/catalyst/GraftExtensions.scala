package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native Catalyst pieces — SQL functions and optimizer
  * rules — installed on an already-built session by
  * [[GraftExtensions.register]] (the driver harness builds its own
  * sessions, so every caller registers after the fact).
  */
object GraftExtensions {

  private[catalyst] val gunzipDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_gunzip"),
    new ExpressionInfo(
      classOf[GunzipExpression].getName,
      null,
      "graft_gunzip",
      "graft_gunzip(payload) - gunzip a BINARY column; malformed input yields NULL.",
      ""
    ),
    (children: Seq[Expression]) => GunzipExpression(children.head)
  )

  private[catalyst] val gunzipJsonDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_gunzip_json"),
    new ExpressionInfo(
      classOf[GunzipJsonExpression].getName,
      null,
      "graft_gunzip_json",
      "graft_gunzip_json(payload, schema) - gunzip a BINARY column and parse its JSON document " +
        "into a struct of the DDL `schema`, which carries a STRING `_corrupt` field; an " +
        "undecodable payload or a malformed document sets `_corrupt` instead of failing.",
      ""
    ),
    (children: Seq[Expression]) => children match {
      case Seq(payload, org.apache.spark.sql.catalyst.expressions.Literal(
          ddl: org.apache.spark.unsafe.types.UTF8String, _: org.apache.spark.sql.types.StringType)) =>
        GunzipJsonExpression(payload, org.apache.spark.sql.types.StructType.fromDDL(ddl.toString))
      case other =>
        throw new IllegalArgumentException(
          s"graft_gunzip_json(payload, schema): schema must be a DDL string literal, got $other")
    }
  )

  private[catalyst] val cosineDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(
      classOf[CosineSimilarityExpression].getName,
      null,
      "graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two ARRAY<DOUBLE> vectors (fused codegen loop).",
      ""
    ),
    (children: Seq[Expression]) => CosineSimilarityExpression(children.head, children(1))
  )

  private[catalyst] val morton3Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_morton3"),
    new ExpressionInfo(
      classOf[Morton3Expression].getName,
      null,
      "graft_morton3",
      "graft_morton3(x, y, z) - 3-D Morton (Z-order) key: round-robin interleave of the low " +
        "20 bits of three BIGINTs (fused codegen loop).",
      ""
    ),
    (children: Seq[Expression]) => Morton3Expression(children.head, children(1), children(2))
  )

  private[catalyst] val l2DistDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_l2dist"),
    new ExpressionInfo(
      classOf[L2DistanceExpression].getName,
      null,
      "graft_l2dist",
      "graft_l2dist(a, b) - euclidean distance of two ARRAY<DOUBLE> vectors (fused codegen loop).",
      ""
    ),
    (children: Seq[Expression]) => L2DistanceExpression(children.head, children(1))
  )

  private[catalyst] val sigAgreementDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_sig_agreement"),
    new ExpressionInfo(
      classOf[SigAgreementExpression].getName,
      null,
      "graft_sig_agreement",
      "graft_sig_agreement(a, b) - fraction of equal slots of two ARRAY<BIGINT> MinHash signatures (fused codegen loop).",
      ""
    ),
    (children: Seq[Expression]) => SigAgreementExpression(children.head, children(1))
  )

  private[catalyst] val lshBucketDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lsh_bucket"),
    new ExpressionInfo(
      classOf[CosineLshBucketExpression].getName,
      null,
      "graft_lsh_bucket",
      "graft_lsh_bucket(vec, dim, nbits) - random-hyperplane cosine-LSH bucket of an " +
        "ARRAY<DOUBLE> vector as a BIGINT (fused codegen loop over a precomputed sign matrix).",
      ""
    ),
    (children: Seq[Expression]) => {
      def intLit(e: Expression, name: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
        case other =>
          throw new IllegalArgumentException(
            s"graft_lsh_bucket: $name must be an INT literal, got $other")
      }
      CosineLshBucketExpression(
        children.head,
        intLit(children(1), "dim"),
        intLit(children(2), "nbits"))
    }
  )

  private[catalyst] val interleaveBitsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_interleave_bits"),
    new ExpressionInfo(
      classOf[InterleaveBitsExpression].getName,
      null,
      "graft_interleave_bits",
      "graft_interleave_bits(x, y) - Morton (Z-order) key: interleave the low 31 bits of " +
        "two BIGINTs, x on even positions, y on odd (branch-free codegen).",
      ""
    ),
    (children: Seq[Expression]) => InterleaveBitsExpression(children.head, children(1))
  )

  /** Spark ships a native, partial-aggregable Bloom filter pair
    * (`BloomFilterAggregate` / `BloomFilterMightContain`) for its runtime
    * join filters, but leaves both OUT of the public function registry —
    * `expr("bloom_filter_agg(...)")` is UNRESOLVED_ROUTINE on a stock
    * session. Surfacing them under graft names gives the dedup operators
    * the engine-grade sketch (xxhash64 block-split Bloom, map-side partial
    * merge) without reimplementing it. The aggregate's child must be the
    * 64-bit key hash (`xxhash64(col)`); might_contain's first argument
    * must be foldable (a literal or scalar subquery) — BloomDedup collects
    * the one sketch value and re-binds it as a literal, exactly like
    * Spark's own InjectRuntimeFilter routes the sketch through the driver.
    */
  private[catalyst] val bloomAggDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      null,
      "graft_bloom_agg",
      "graft_bloom_agg(xxhash64(x), est_items, num_bits) - mergeable Bloom-filter sketch " +
        "of a BIGINT key column as BINARY.",
      ""
    ),
    (children: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        children.head, children(1), children(2))
  )

  private[catalyst] val mightContainDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      null,
      "graft_might_contain",
      "graft_might_contain(bloom, xxhash64(x)) - membership probe of a BIGINT key hash " +
        "against a graft_bloom_agg sketch; false has no false negatives.",
      ""
    ),
    (children: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, children(1))
  )

  /** Idempotently register the native functions and the fusion rule on an
    * existing session (sessions built with `spark.sql.extensions` get both
    * through [[GraftExtensions]] instead). */
  def register(spark: SparkSession): Unit = {
    Seq(gunzipDescriptor, gunzipJsonDescriptor, cosineDescriptor, l2DistDescriptor, morton3Descriptor,
        sigAgreementDescriptor, lshBucketDescriptor,
        interleaveBitsDescriptor, bloomAggDescriptor, mightContainDescriptor)
      .foreach { case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident)) {
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
      }
    }
    if (!spark.experimental.extraOptimizations.contains(CosineFusionRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CosineFusionRule
    }
    if (!spark.experimental.extraOptimizations.contains(DeltaDmlRuntimeFiltering)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DeltaDmlRuntimeFiltering
    }
  }
}
