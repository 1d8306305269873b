package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration for graft's native Catalyst expressions.
  *
  * [[GraftFunctions.register]] is imperative and idempotent and works on any
  * live session; [[graft.GraftSession.prepare]] runs it, so a session
  * prepared there (every `SparkEntry` query, `Graft`, `GraftSession.local`)
  * can call these functions by name.
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> { args => CosineSimilarity(args(0), args(1)) },
    "simhash64" -> { args => SimHash64(args(0)) },
    "lttb_idx" -> { args => LttbIdx(args(0), args(1), args(2)) },
    "md5_chain" -> { args => Md5Chain(args(0)) },
    "bpe_cost" -> { args => BpeCost(args(0)) },
    "count_in" -> { args => CountIn(args(0), args(1)) },
    "vec_absmax" -> { args => VecAbsMax(args(0)) },
    "quantize_i8" -> { args => QuantizeI8(args(0)) },
    "l2_sq" -> { args => L2Sq(args(0), args(1)) },
    "norm_sq" -> { args => NormSq(args(0)) },
    "sorted_intersect_count" -> { args => SortedIntersectCount(args(0), args(1)) },
    "pq_adc" -> { args => PqAdc(args(0), args(1), args(2)) },
    // one-pass 16-permutation MinHash signature (aggregate)
    "minhash16" -> { args =>
      MinHashAgg(args(0), MinHashAgg.defaultA, MinHashAgg.defaultB, MinHashAgg.Prime) },
    // one-pass 64-replicate Poisson-bootstrap cells: bootstrap_cells(h, v_cents)
    "bootstrap_cells" -> { args =>
      BootstrapCellsAgg(args(0), args(1), BootstrapCellsAgg.defaultA,
        BootstrapCellsAgg.defaultB, MinHashAgg.Prime) },
    // space-saving heavy hitters: topk_approx(value, k, capacity) (aggregate)
    "topk_approx" -> { args =>
      TopKAgg(args(0),
        k = args(1).eval(null).asInstanceOf[Number].intValue(),
        capacity = args(2).eval(null).asInstanceOf[Number].intValue()) },
    // weighted variant: topk_weighted(value, weight, k, capacity)
    "topk_weighted" -> { args =>
      TopKAgg(args(0),
        k = args(2).eval(null).asInstanceOf[Number].intValue(),
        capacity = args(3).eval(null).asInstanceOf[Number].intValue(),
        weight = Some(args(1))) },
    // capped exact distinct: uniq_upto(value, n) (aggregate)
    "uniq_upto" -> { args =>
      UniqUpToAgg(args(0),
        n = args(1).eval(null).asInstanceOf[Number].intValue()) },
    // CH -State/-Merge combinators over the space-saving state:
    // topk_state(value, capacity) → binary cell; topk_merge(state, k, cap)
    "topk_state" -> { args =>
      TopKStateAgg(args(0),
        capacity = args(1).eval(null).asInstanceOf[Number].intValue()) },
    // weighted cell variant: topk_state_weighted(value, weight, capacity) —
    // merge with the same topk_merge
    "topk_state_weighted" -> { args =>
      TopKStateAgg(args(0),
        capacity = args(2).eval(null).asInstanceOf[Number].intValue(),
        weight = Some(args(1))) },
    "topk_merge" -> { args =>
      TopKMergeAgg(args(0),
        k = args(1).eval(null).asInstanceOf[Number].intValue(),
        capacity = args(2).eval(null).asInstanceOf[Number].intValue()) },
    // uniqUpTo -State/-Merge: exact capped-distinct re-aggregation
    "uniq_upto_state" -> { args =>
      UniqUpToStateAgg(args(0),
        n = args(1).eval(null).asInstanceOf[Number].intValue()) },
    "uniq_upto_merge" -> { args =>
      UniqUpToMergeAgg(args(0),
        n = args(1).eval(null).asInstanceOf[Number].intValue()) },
    // KMV bottom-k distinct sketch (CH uniqTheta family):
    // kmv_sketch(hash60, k) → ascending retained-hash array;
    // kmv_merge(state_array, k) re-aggregates persisted read-outs
    "kmv_sketch" -> { args =>
      KmvAgg(args(0),
        k = args(1).eval(null).asInstanceOf[Number].intValue()) },
    "kmv_merge" -> { args =>
      KmvMergeAgg(args(0),
        k = args(1).eval(null).asInstanceOf[Number].intValue()) },
    // compressed-bitset exact distinct sets (CH groupBitmap family):
    // bitmap_agg(long) → serialized Roaring-style bitmap; bitmap_merge
    // re-aggregates cells; card/and/or/xor read-outs run pair-grain
    "bitmap_agg" -> { args => BitmapAgg(args(0)) },
    "bitmap_merge" -> { args => BitmapMergeAgg(args(0)) },
    // NOT "bitmap_and_agg": Spark 4.x ships a BUILT-IN of that name
    // (fixed-4096-byte bitmap buffers) and register() yields to builtins —
    // the collision silently swapped semantics (r15). FunctionRegistrySpec
    // now pins every graft name to a graft class.
    "bitmap_intersect_agg" -> { args => BitmapAndAgg(args(0)) },
    "bitmap_card" -> { args => BitmapCard(args(0)) },
    "bitmap_range_card" -> { args => BitmapRangeCard(args(0), args(1), args(2)) },
    "bitmap_and_card" -> { args => BitmapOpCard(args(0), args(1), "and") },
    "bitmap_or_card" -> { args => BitmapOpCard(args(0), args(1), "or") },
    "bitmap_xor_card" -> { args => BitmapOpCard(args(0), args(1), "xor") }
  )

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** KMV distinct estimate from a `kmv_sketch`/`kmv_merge` read-out:
    * exact |S| while the sketch never saturated, (k−1)·H/θ beyond
    * (θ = the k-th retained hash; try_element_at keeps the saturated
    * branch null-safe under ANSI when the guard holds). Shared by
    * `uniq_theta_ops`, `uniq_theta_reagg` and the streaming twin so all
    * three regimes read the identical estimator spelling.
    */
  def kmvEstimate(sk: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    when(size(sk) < k, size(sk).cast(LongType))
      .otherwise(round(lit((k - 1).toDouble) * lit(KmvAgg.HashSpace)
        / try_element_at(sk, lit(k)).cast(DoubleType)).cast(LongType))
  }
}
