package graft.ann

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** One embedding row (parquet: vec_id BIGINT, embedding FLOAT[], label INT). */
final case class EmbRow(vec_id: Long, embedding: Seq[Float], label: Int)

/** A scored (probe, neighbor) candidate. */
final case class Scored(probe_id: Long, neighbor_id: Long, cos: Double)

/** A vector's LSH bucket in one hash table. */
final case class Bucket(vec_id: Long, t: Int, bucket: Long)

/** A prebuilt IVF index: the coarse quantizer in memory (cells × Dim —
  * broadcast-size at any corpus scale) plus the parquet `indexDir` holding
  * both persisted artifacts (`centroids`, `cells`). Built offline by
  * [[Ann.buildIvfIndex]], reloaded by [[Ann.loadIvfIndex]], queried by
  * [[Ann.ivfQuery]].
  */
final case class IvfIndex(indexDir: String, centroids: Array[Array[Double]])

/** SURVEY §2.3 #34-35 — approximate-nearest-neighbor search over the
  * `embeddings` table.
  *
  * Brute force is the exactness baseline and uses the pattern that holds at
  * 100 TB: probes are broadcast (closure), each partition emits only its
  * LOCAL top-k per probe (a k-bounded heap — constant memory, no shuffle of
  * scores), and the global top-k merge runs over numPartitions × k rows.
  *
  * The LSH variant buckets vectors by random-hyperplane sign bits
  * (deterministic md5-seeded hyperplanes) so the candidate set shrinks from
  * N to the probe's bucket population — the classic sub-linear ANN
  * trade-off, verified by a recall spec against brute force.
  */
// Serializable: the bucketing closures reference object members (geometry
// constants, hyperplanes), so the module is captured into task closures.
object Ann extends Serializable {

  val K = 5
  val NumProbes = 10

  // LSH geometry: L hash tables × B sign bits. For ~random 64-dim data the
  // top-5 neighbors sit near cosine 0.3-0.5 (θ≈70°), so per-bit collision
  // p≈0.6: 4 bits/table keeps p⁴≈0.13 per table and 8 tables lift recall to
  // ~2/3 while still pruning most of the corpus per probe.
  val Tables_ = 8
  val Bits = 4
  val Dim = 64

  /** Deterministic hyperplane weights in [-1, 1], seeded by md5 — no RNG,
    * reproducible across runs/executors.
    */
  lazy val hyperplanes: Array[Array[Array[Double]]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(Tables_, Bits, Dim) { (t, h, d) =>
      val hex = md.digest(s"$t:$h:$d".getBytes(StandardCharsets.UTF_8))
        .take(8).map("%02x".format(_)).mkString
      val v = java.lang.Long.parseLong(hex.take(15), 16)
      (v % 2001 - 1000) / 1000.0
    }
  }

  /** Sequential left-to-right double dot/norm — the same fold order as the
    * DuckDB oracle's list_sum, so scores are bit-identical.
    */
  def dot(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  def cosine(a: Seq[Float], b: Seq[Float]): Double = dot(a, b) / (norm(a) * norm(b))

  private[ann] def embDs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "embeddings").as[EmbRow]
  }

  /** The probe set: the NumProbes lowest vec_ids (tiny → driver-collected
    * and shipped in the task closure, i.e. broadcast).
    */
  def probes(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    embDs(s, dir).filter(col("vec_id") < NumProbes).collect()
      .sortBy(_.vec_id).map(e => e.vec_id -> e.embedding.toArray)

  private def dotA(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def normA(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Partition-local top-k per probe: k-bounded min-heaps, one pass.
    * Norms hoist out of the probe loop — each probe's norm is computed
    * once per TASK and each row's once per ROW (the naive per-pair
    * cosine() recomputes both, tripling the flops of the whole scan) —
    * and the row vector unwraps to a primitive array once per row, so
    * the inner loop is a pure float-array dot. Same IEEE expression
    * dot/(‖p‖·‖e‖) in the same order → results bit-identical.
    */
  private def localTopK(probeArr: Array[(Long, Array[Float])], k: Int)(
      it: Iterator[EmbRow]): Iterator[Scored] = {
    // min-heap on (cos asc, neighbor_id desc) so the weakest entry is on top
    val ord = Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }
    val heaps = probeArr.map(_ => mutable.PriorityQueue.empty[(Double, Long)](ord))
    val pNorms = probeArr.map { case (_, pv) => normA(pv) }
    it.foreach { e =>
      val ev: Array[Float] = e.embedding match {
        case a: scala.collection.immutable.ArraySeq.ofFloat => a.unsafeArray
        case s => s.toArray
      }
      val en = normA(ev)
      var p = 0
      while (p < probeArr.length) {
        val (pid, pv) = probeArr(p)
        if (e.vec_id != pid) {
          val c = dotA(pv, ev) / (pNorms(p) * en)
          val h = heaps(p)
          if (h.size < k) h.enqueue((c, e.vec_id))
          else {
            val (wc, wid) = h.head
            if (c > wc || (c == wc && e.vec_id < wid)) { h.dequeue(); h.enqueue((c, e.vec_id)) }
          }
        }
        p += 1
      }
    }
    probeArr.iterator.zip(heaps.iterator).flatMap { case ((pid, _), h) =>
      h.iterator.map { case (c, id) => Scored(pid, id, c) }
    }
  }

  /** Symmetric int8 quantization of one vector — the [[graft.functions
    * .QuantizeI8]] (#99) contract in kernel form, byte-for-byte:
    * qᵢ = clamp(⌊vᵢ·(127/max|v|)+0.5⌋, ±127); all-zero → zeros.
    */
  private[ann] def quantizeI8(v: Array[Float]): Array[Byte] = {
    var mx = 0.0; var i = 0
    while (i < v.length) {
      val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1
    }
    val out = new Array[Byte](v.length)
    if (mx == 0.0) return out
    val s = 127.0 / mx
    i = 0
    while (i < v.length) {
      var q = math.floor(v(i).toDouble * s + 0.5).toLong
      if (q > 127L) q = 127L
      if (q < -127L) q = -127L
      out(i) = q.toByte
      i += 1
    }
    out
  }

  /** Partition-local top-r per probe in the QUANTIZED domain: every row
    * quantizes once ([[quantizeI8]]) and scores against the pre-quantized
    * probes with a pure INT dot — scale factors cancel in the cosine
    * (cos_q = Σqₚqᵥ / (‖qₚ‖·‖qᵥ‖)), so no float multiply touches the scan.
    * This is the memory-bandwidth/SIMD play of an int8 deployment (64 B
    * per stored 64-dim vector vs 256 B of float), shaped exactly
    * like [[localTopK]]: k-bounded min-heaps, norms hoisted, ties to the
    * lower neighbor id.
    */
  private def localTopKI8(qProbes: Array[(Long, Array[Byte])], r: Int)(
      it: Iterator[EmbRow]): Iterator[Scored] = {
    val ord = Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }
    val heaps = qProbes.map(_ => mutable.PriorityQueue.empty[(Double, Long)](ord))
    val pNorms = qProbes.map { case (_, qp) =>
      var s = 0L; var i = 0
      while (i < qp.length) { s += qp(i).toLong * qp(i); i += 1 }
      math.sqrt(s.toDouble)
    }
    it.foreach { e =>
      val ev: Array[Float] = e.embedding match {
        case a: scala.collection.immutable.ArraySeq.ofFloat => a.unsafeArray
        case s => s.toArray
      }
      val qe = quantizeI8(ev)
      var en = 0L
      var i = 0
      while (i < qe.length) { en += qe(i).toLong * qe(i); i += 1 }
      val enD = math.sqrt(en.toDouble)
      var p = 0
      while (p < qProbes.length) {
        val (pid, qp) = qProbes(p)
        if (e.vec_id != pid && qp.length == qe.length) {
          var d = 0L
          i = 0
          while (i < qp.length) { d += qp(i).toLong * qe(i); i += 1 }
          val c = d.toDouble / (pNorms(p) * enD)
          val h = heaps(p)
          if (h.size < r) h.enqueue((c, e.vec_id))
          else {
            val (wc, wid) = h.head
            if (c > wc || (c == wc && e.vec_id < wid)) { h.dequeue(); h.enqueue((c, e.vec_id)) }
          }
        }
        p += 1
      }
    }
    qProbes.iterator.zip(heaps.iterator).flatMap { case ((pid, _), h) =>
      h.iterator.map { case (c, id) => Scored(pid, id, c) }
    }
  }

  /** #321 int8 end-to-end ANN (r15 verdict item 4): quantized-domain
    * brute force (int dot over int8 codes — the bandwidth regime a 100 TB
    * corpus stores: 64 B/vector instead of 256 B) selects a
    * `rerankPool`-deep candidate pool per probe, which re-ranks EXACTLY
    * through the shared codegen float path ([[rerank]]) — the same
    * two-stage shape as PQ's ADC scoring. With `rerankPool` ≥ the corpus
    * the pool is exhaustive and the pipeline DEGENERATES to brute force
    * (`ann_int8_exact` hash-matches [[exactTopKSql]]); the default pool
    * (4k) is the approximate regime pinned by the recall spec.
    *
    * r17 (ADVICE item 4): the exhaustive regime (`rerankPool =
    * Int.MaxValue`) is FIXTURE/ORACLE-ONLY — it makes localTopKI8's
    * per-probe pools unbounded (every partition retains all of its rows
    * per probe in heap memory), so calling it on a production corpus OOMs
    * rather than degrading. Production callers bound the pool (any finite
    * value keeps the per-partition heaps at O(probes · pool)); the
    * exhaustive spelling exists solely so the driver oracle can pin the
    * degeneration to brute force at test SF.
    */
  def int8TopK(s: SparkSession, dir: String, k: Int = K,
      rerankPool: Int = 4 * K): DataFrame = {
    import s.implicits._
    val probeArr = probes(s, dir)
    val qProbes = probeArr.map { case (pid, pv) => (pid, quantizeI8(pv)) }
    val local = embDs(s, dir).mapPartitions(localTopKI8(qProbes, rerankPool))
    // global pool merge: ≤ numPartitions·numProbes·rerankPool skinny rows.
    // An exhaustive pool (Int.MaxValue — the ann_int8_exact regime) keeps
    // every row, so the rank filter would be a semantic no-op: elide the
    // window instead of asking WindowGroupLimit for a 2^31-entry heap
    // (caught by PlanAuditSpec's mechanical rank≤k sweep).
    val cand =
      if (rerankPool == Int.MaxValue)
        local.toDF().select(col("probe_id"), col("neighbor_id").as("vec_id"))
      else {
        val w = Window.partitionBy("probe_id")
          .orderBy(col("cos").desc, col("neighbor_id"))
        local.toDF()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= rerankPool)
          .select(col("probe_id"), col("neighbor_id").as("vec_id"))
      }
    rerank(s, dir, cand, probeArr, k)
  }

  /** #270 semantic-contamination kernel (used by
    * [[graft.dedup.Dedup]] `embed_contamination`): max cosine + within-τ
    * count of every non-benchmark vector against the benchmark slice
    * (vec_id % mod == 0). Benchmark suites are O(1)-sized vs the corpus →
    * driver-collect + task-closure broadcast, ONE corpus scan, zero score
    * shuffle: the per-row max/count reduction happens INSIDE the kernel,
    * so nothing pair-grained ever materializes (the declarative
    * broadcast-join form moves |corpus|·|bench| rows through codegen row
    * machinery — 210 s at sf10 vs ~8 s here). Norms hoist per the
    * [[localTopK]] discipline: each bench norm once per TASK, each row
    * norm once per ROW; cos = dot/(‖a‖·‖b‖) is the same IEEE expression
    * in the same fold order as the SQL oracle → bit-identical.
    */
  def maxCosVsBench(s: SparkSession, dir: String, mod: Long, tau: Double): DataFrame = {
    import s.implicits._
    val benchArr = embDs(s, dir).filter(col("vec_id") % mod === 0)
      .collect().sortBy(_.vec_id).map(_.embedding.toArray)
    val bNorms = benchArr.map(normA)
    val corp = embDs(s, dir).filter(col("vec_id") % mod =!= 0)
    // The kernel is COMPUTE-bound: Θ(n·|bench|·d) flops over Θ(n·d) bytes,
    // so idle cores — not I/O — set the wall time. A ~128 MB parquet file
    // scans as a handful of input splits, stranding most of the cluster;
    // widen to full parallelism when the scan is narrower (the exchange
    // moves the corpus ONCE, amortized |bench|-fold by the flops it
    // unlocks — sf10: 70 s → ~9 s). On any layout whose scan is already
    // wide (a real 100 TB corpus), this is a no-op.
    val par = s.sparkContext.defaultParallelism
    val wide = if (corp.rdd.getNumPartitions < par) corp.repartition(par) else corp
    wide.mapPartitions { it =>
      it.map { e =>
        val ev: Array[Float] = e.embedding match {
          case a: scala.collection.immutable.ArraySeq.ofFloat => a.unsafeArray
          case sq => sq.toArray
        }
        val en = normA(ev)
        var mc = Double.NegativeInfinity; var n = 0L; var i = 0
        while (i < benchArr.length) {
          val c = dotA(benchArr(i), ev) / (bNorms(i) * en)
          if (c > mc) mc = c
          if (c >= tau) n += 1
          i += 1
        }
        (e.vec_id, e.label, mc, n)
      }
    }.toDF("vec_id", "label", "mc", "n_close")
  }

  /** Exact top-k oracle — shared by `ann_bruteforce` and the exact-regime
    * rows (`ann_lsh_exact` / `ann_ivf_exact`): with exhaustive probing the
    * approximate paths degenerate to brute force, so all three hash-match
    * the same SQL.
    */
  val exactTopKSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < $NumProbes),
       |s AS (
       |  SELECT probe_id, vec_id,
       |    list_sum(list_transform(generate_series(1, $Dim), i -> pe[i] * e[i]))
       |      / (sqrt(list_sum(list_transform(pe, x -> x * x)))
       |         * sqrt(list_sum(list_transform(e, x -> x * x)))) AS cos
       |  FROM p, v WHERE vec_id <> probe_id),
       |r AS (
       |  SELECT probe_id, vec_id AS neighbor_id, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM s)
       |SELECT probe_id, neighbor_id, CAST(rn AS BIGINT) AS rn, round(cos, 4) AS cosine
       |FROM r WHERE rn <= $K
       |ORDER BY probe_id, rn""".stripMargin

  val defs: Map[String, OpDef] = Map(
    // ---- #34 brute-force exact top-k cosine ------------------------------
    "ann_bruteforce" -> OpDef(exactTopKSql) { (s, dir) =>
      import s.implicits._
      val probeArr = probes(s, dir)
      val local = embDs(s, dir).mapPartitions(localTopK(probeArr, K))
      // Global merge over ≤ numPartitions·numProbes·k rows — trivially small.
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
      local.toDF()
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= K)
        .select(col("probe_id"), col("neighbor_id"), col("rn"),
          round(col("cos"), 4).as("cosine"))
        .orderBy("probe_id", "rn")
    },

    // ---- #35 LSH-bucketed ANN (rows-only + recall spec) ------------------
    "ann_lsh" -> OpDef.rowsOnly { (s, dir) => lshTopK(s, dir) },

    // ---- #35b IVF ANN (rows-only + recall spec) --------------------------
    "ann_ivf" -> OpDef.rowsOnly { (s, dir) => ivfTopK(s, dir) },

    // ---- #35c/d exact-regime rows: exhaustive probing degenerates both
    // approximate paths to brute force, giving the sketch family a hard
    // driver-verifiable oracle (same move that made topK checkable). The
    // approximate regimes stay covered by the recall specs.
    "ann_lsh_exact" -> OpDef(exactTopKSql) { (s, dir) =>
      lshTopK(s, dir, multiprobe = Bits) // all 2^Bits buckets probed per table
    },
    "ann_ivf_exact" -> OpDef(exactTopKSql) { (s, dir) =>
      ivfTopK(s, dir, nprobe = Cells) // every cell probed → full-corpus re-rank
    },

    // ---- #108 product-quantization ANN (rows-only + recall spec) ---------
    // Offline codebook build + code table, online ADC scoring + exact
    // re-rank — see [[Pq]]. Lossy by construction (no exact-regime
    // degeneration), so the pin is the recall spec.
    "ann_pq" -> OpDef.rowsOnly { (s, dir) => Pq.pqTopK(s, dir) },

    // ---- #109 composed IVF-PQ (rows-only + recall spec) -------------------
    // The standard 100 TB ANN layout: coarse cells prune the corpus to
    // nprobe/cells, PQ codes score the survivors (M int lookups each), a
    // handful re-rank exactly. ONE combined (vec_id, cell, codes) index
    // row table — the corpus-scale join happens once at BUILD time, never
    // per query. See [[Pq.buildIvfPq]]/[[Pq.ivfPqQuery]].
    "ann_ivfpq" -> OpDef.rowsOnly { (s, dir) => Pq.ivfPqTopK(s, dir) },

    // ---- #321 int8 quantized-domain ANN (rows-only + recall spec) --------
    // embed_quantize (#99) tied into a query path: int-dot brute force
    // over int8 codes → pool → exact float re-rank. See [[int8TopK]].
    "ann_int8" -> OpDef.rowsOnly { (s, dir) => int8TopK(s, dir) },

    // exhaustive pool ⇒ the quantized stage only ORDERS candidates and the
    // exact re-rank sees the whole corpus — degenerates to brute force,
    // giving the int8 path a hard driver-verifiable oracle (the
    // ann_lsh_exact / ann_ivf_exact move).
    "ann_int8_exact" -> OpDef(exactTopKSql) { (s, dir) =>
      int8TopK(s, dir, rerankPool = Int.MaxValue)
    },

    // ---- #99 int8 embedding quantization ---------------------------------
    // The storage/bandwidth side of the 100 TB ANN path: symmetric int8
    // quantization (qᵢ = clamp(⌊vᵢ·127/max|v| + 0.5⌋, ±127)) as two native
    // codegen expressions ([[graft.functions.VecAbsMax]] /
    // [[graft.functions.QuantizeI8]]) — a pure narrow map riding the scan,
    // ZERO shuffle, no lambda/boxing. float32 widens to double exactly, so
    // every step is the identical IEEE op in both engines: scale and the
    // whole int vector are bit-identical (scale's round(·,6) is rendering,
    // not parity repair). All-zero vectors quantize to zeros, scale NULL.
    "embed_quantize" -> OpDef(
      """WITH t AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings)
        |SELECT vec_id, label,
        |  CASE WHEN mx = 0 THEN NULL ELSE round(127.0 / mx, 6) END AS scale,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(CASE WHEN mx = 0 THEN 0
        |         ELSE least(127, greatest(-127,
        |           CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5) AS BIGINT)))
        |    END AS VARCHAR)), ',') AS q
        |FROM t ORDER BY vec_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "embeddings")
        .withColumn("mx", call_function("vec_absmax", col("embedding")))
        .select(col("vec_id"), col("label"),
          when(col("mx") === 0.0, lit(null).cast(DoubleType))
            .otherwise(round(lit(127.0) / col("mx"), 6)).as("scale"),
          call_function("quantize_i8", col("embedding")).as("q"))
        .orderBy("vec_id")
    },

    // ---- #244 per-dimension embedding profile ------------------------------
    // mean / population std / min / max per embedding dimension — the
    // normalization-statistics pass every embedding pipeline runs before
    // whitening, quantization-range selection, or drift monitoring.
    // Cross-engine determinism: float components are floored to integer
    // micro-units (float→double widening is exact, ⌊·⌋ of a double is the
    // identical IEEE op on both engines — never round-half, which can sit
    // 1 ulp off), so Σq and Σq² are EXACT integer/DECIMAL(38,0) sums
    // (order-independent; q² ≈ 10¹² · corpus outgrows BIGINT at big SFs)
    // and the only float steps are the final divides + sqrt — one
    // identical chain → round(·,6). One posexplode + one dim-grain
    // collapse (64 groups), map-side partial-merged; no window, no join.
    "embed_dim_stats" -> OpDef(
      """WITH x AS (
        |  SELECT i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS q
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS t(i)),
        |m AS (
        |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sq,
        |    SUM(CAST(q AS HUGEINT) * q) AS ssq,
        |    CAST(MIN(q) AS BIGINT) AS qmin, CAST(MAX(q) AS BIGINT) AS qmax
        |  FROM x GROUP BY 1)
        |SELECT CAST(i AS BIGINT) AS dim, n,
        |  round(CAST(sq AS DOUBLE) / n / 1000000, 6) + 0.0 AS mean,
        |  round(sqrt(CAST(CAST(n AS HUGEINT) * ssq
        |      - CAST(sq AS HUGEINT) * sq AS DOUBLE)) / n / 1000000, 6)
        |    AS std,
        |  round(CAST(qmin AS DOUBLE) / 1000000, 6) AS vmin,
        |  round(CAST(qmax AS DOUBLE) / 1000000, 6) AS vmax
        |FROM m ORDER BY dim""".stripMargin
    ) { (s, dir) =>
      val big = org.apache.spark.sql.types.DecimalType(38, 0)
      val x = Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("p", "e")))
        .select((col("p") + 1).cast(LongType).as("i"),
          floor(col("e").cast(DoubleType) * 1000000).as("q"))
      x.groupBy("i")
        .agg(count(lit(1)).as("n"), sum("q").cast(LongType).as("sq"),
          sum(col("q").cast(big) * col("q").cast(big)).as("ssq"),
          min("q").as("qmin"), max("q").as("qmax"))
        .select(col("i").as("dim"), col("n"),
          // + 0.0: IEEE negative zero (a tiny negative mean rounding to
          // -0.0) renders differently across engines - normalize to +0.0
          (round(col("sq").cast(DoubleType) / col("n") / 1000000, 6) + 0.0)
            .as("mean"),
          // the radicand n·Σq² − (Σq)² subtracts EXACTLY in DECIMAL(38,0) /
          // HUGEINT (provably ≥ 0; ~10³⁰ at 100 TB, inside 38 digits) and
          // only the final sqrt/divide are IEEE — doubles here can cancel
          // to a tiny NEGATIVE on a near-constant dimension, where DuckDB
          // hard-errors on sqrt(<0) while Spark returns NaN (mirrors
          // label_centroid_stats' exact-subtraction discipline)
          round(sqrt((col("n").cast(big) * col("ssq")
            - col("sq").cast(big) * col("sq").cast(big)).cast(DoubleType))
            / col("n") / 1000000, 6).as("std"),
          round(col("qmin").cast(DoubleType) / 1000000, 6).as("vmin"),
          round(col("qmax").cast(DoubleType) / 1000000, 6).as("vmax"))
        .orderBy("dim")
    },

    // ---- #311 embedding-normalization audit (r14) --------------------------
    // The QA gate an embedding pipeline runs BEFORE trusting cosine math:
    // cosine assumes unit-normalized vectors, and broken encoder batches
    // emit zero or blown-up norms that poison every downstream distance.
    // Per label: n, count/id-sum of vectors with |‖e‖²−1| > 1e-3, and the
    // exact min/max ‖e‖² in micro-units (the informative read-out on a
    // clean corpus — HOW normalized is it). A σ-based outlier screen is
    // deliberately NOT used: on a unit-normalized corpus σ(‖e‖²) is float
    // jitter (~1e-7 here), so z-scores would flag quantization noise; the
    // absolute tolerance matches the screen's actual contract
    // ("is this corpus safe for cosine"), and the flagging path is
    // spec-pinned on synthetic broken vectors (AnalyticsR14Spec, the
    // jarque_bera over-bound discipline). Parity shape: ‖e‖² is ONE
    // codegen fold (norm_sq — the cosine_sim discipline, identical
    // ascending double chain to the oracle's list_sum), floor-quantized
    // to micro-units (embed_dim_stats discipline) so every aggregate is
    // an exact integer fold. ONE scan, one agg exchange, zero joins.
    "embed_norm_check" -> OpDef(
      """WITH v AS (
        |  SELECT vec_id, label,
        |    CAST(floor(list_sum(list_transform(
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |      x -> x * x)) * 1000000) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(COUNT(CASE WHEN abs(q - 1000000) > 1000 THEN 1 END) AS BIGINT)
        |    AS n_unnormalized,
        |  CAST(COALESCE(SUM(CASE WHEN abs(q - 1000000) > 1000
        |    THEN vec_id END), 0) AS BIGINT) AS unnorm_id_sum,
        |  CAST(MIN(q) AS BIGINT) AS min_normsq_micro,
        |  CAST(MAX(q) AS BIGINT) AS max_normsq_micro
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          floor(call_function("norm_sq", col("embedding")) * 1000000)
            .as("q"))
      val bad = abs(col("q") - 1000000L) > 1000L
      v.groupBy("label")
        .agg(count(lit(1)).cast(LongType).as("n_vectors"),
          count(when(bad, 1)).cast(LongType).as("n_unnormalized"),
          coalesce(sum(when(bad, col("vec_id"))), lit(0L))
            .cast(LongType).as("unnorm_id_sum"),
          min("q").cast(LongType).as("min_normsq_micro"),
          max("q").cast(LongType).as("max_normsq_micro"))
        .orderBy("label")
    },

    // ---- #248 k-NN label evaluation ----------------------------------------
    // Leave-one-out 5-NN majority-vote classification of the first 50
    // vectors against their `label` column — the standard embedding-space
    // sanity eval (are labels clusterable?) run with the #34 discipline:
    // eval probes broadcast in the task closure, each partition emits its
    // k-bounded local top-k (constant memory, no score shuffle), the
    // global merge sees ≤ partitions·probes·k rows, and neighbor labels
    // join at the CANDIDATE grain (≤ probes·k rows — the corpus-sized
    // label dim is never shuffled). Majority vote = count/rank on the
    // ≤ probes·k grain with a (count desc, label asc) total tie-break.
    "knn_label_eval" -> OpDef(
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, label AS true_label, e AS pe
         |      FROM v WHERE vec_id < 50),
         |sc AS (
         |  SELECT probe_id, true_label, v.vec_id, v.label,
         |    list_sum(list_transform(generate_series(1, $Dim),
         |      i -> pe[i] * e[i]))
         |      / (sqrt(list_sum(list_transform(pe, x -> x * x)))
         |         * sqrt(list_sum(list_transform(e, x -> x * x)))) AS cos
         |  FROM p, v WHERE v.vec_id <> probe_id),
         |r AS (
         |  SELECT probe_id, true_label, label,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM sc),
         |votes AS (
         |  SELECT probe_id, true_label, label,
         |    CAST(COUNT(*) AS BIGINT) AS n_votes
         |  FROM r WHERE rn <= $K GROUP BY 1, 2, 3),
         |w AS (
         |  SELECT probe_id, true_label, label AS pred_label, n_votes,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY n_votes DESC, label) AS vr
         |  FROM votes)
         |SELECT probe_id, CAST(true_label AS BIGINT) AS true_label,
         |  CAST(pred_label AS BIGINT) AS pred_label, n_votes,
         |  CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END
         |    AS BIGINT) AS correct
         |FROM w WHERE vr = 1 ORDER BY probe_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val evalProbes = embDs(s, dir).filter(col("vec_id") < 50).collect()
        .sortBy(_.vec_id)
      val probeArr = evalProbes.map(e => e.vec_id -> e.embedding.toArray)
      val trueLabels = broadcast(
        evalProbes.toSeq.toDF().select(col("vec_id").as("probe_id"),
          col("label").as("true_label")))
      val labels = embDs(s, dir).toDF().select(col("vec_id").as("neighbor_id"),
        col("label"))
      val local = embDs(s, dir).mapPartitions(localTopK(probeArr, K))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      val top = local.toDF()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
      val votes = top.join(labels, "neighbor_id")
        .groupBy("probe_id", "label")
        .agg(count(lit(1)).as("n_votes"))
      val vw = Window.partitionBy("probe_id")
        .orderBy(col("n_votes").desc, col("label"))
      votes.withColumn("vr", row_number().over(vw))
        .filter(col("vr") === 1)
        .join(trueLabels, "probe_id")
        .select(col("probe_id"),
          col("true_label").cast(LongType).as("true_label"),
          col("label").cast(LongType).as("pred_label"),
          col("n_votes").cast(LongType).as("n_votes"),
          when(col("label") === col("true_label"), 1L).otherwise(0L)
            .as("correct"))
        .orderBy("probe_id")
    },

    // ---- #252 per-label centroid tightness ---------------------------------
    // Cluster-quality profile per label: n, mean squared distance to the
    // label centroid, and the centroid's L2 norm — WITHOUT a second pass:
    // E‖x−c‖² = Σ_d (n·S2_d − S1_d²)/n² over per-dimension micro-unit
    // moment sums (the embed_dim_stats quantization, so every sum is an
    // exact order-independent integer/DECIMAL fold and the centroid never
    // materializes). One posexplode → one (label, dim) collapse (≤ labels
    // ×64 cells) → one label fold; the only IEEE steps are the two final
    // divides + sqrt → round(·,6).
    "label_centroid_stats" -> OpDef(
      """WITH x AS (
        |  SELECT label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS q
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS t(i)),
        |m AS (
        |  SELECT label, i, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS s1,
        |    SUM(CAST(q AS HUGEINT) * q) AS s2
        |  FROM x GROUP BY 1, 2),
        |f AS (
        |  SELECT label, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(SUM(n * s2 - CAST(s1 AS HUGEINT) * s1) AS DOUBLE) AS num,
        |    CAST(SUM(CAST(s1 AS HUGEINT) * s1) AS DOUBLE) AS c2
        |  FROM m GROUP BY 1)
        |SELECT CAST(label AS BIGINT) AS label, n,
        |  round(num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12, 6)
        |    AS mean_sq_dist,
        |  round(sqrt(c2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12), 6)
        |    AS centroid_norm
        |FROM f ORDER BY label""".stripMargin
    ) { (s, dir) =>
      val big = org.apache.spark.sql.types.DecimalType(38, 0)
      val x = Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("p", "e")))
        .select(col("label"), (col("p") + 1).as("i"),
          floor(col("e").cast(DoubleType) * 1000000).as("q"))
      val m = x.groupBy("label", "i")
        .agg(count(lit(1)).as("n"), sum("q").cast(LongType).as("s1"),
          sum(col("q").cast(big) * col("q").cast(big)).as("s2"))
      val f = m.groupBy("label")
        .agg(max("n").cast(LongType).as("n"),
          sum(col("n").cast(big) * col("s2")
            - col("s1").cast(big) * col("s1").cast(big))
            .cast(DoubleType).as("num"),
          sum(col("s1").cast(big) * col("s1").cast(big))
            .cast(DoubleType).as("c2"))
      f.select(col("label").cast(LongType).as("label"), col("n"),
          round(col("num") / (col("n").cast(DoubleType)
            * col("n").cast(DoubleType)) / 1e12, 6).as("mean_sq_dist"),
          round(sqrt(col("c2") / (col("n").cast(DoubleType)
            * col("n").cast(DoubleType)) / 1e12), 6).as("centroid_norm"))
        .orderBy("label")
    }
  )

  /** LSH candidate generation + exact re-rank.
    *
    * vectors → (t, bucket) sign-bit keys (narrow map, L rows per vector);
    * probe buckets are broadcast; bucket-join → candidate ids → exact cosine
    * → top-k. The full N×P score matrix is never materialized.
    *
    * `multiprobe` ≥ 1 additionally queries every bucket within that many
    * sign-bit flips of the probe's own bucket — the classic multiprobe LSH
    * recall lift, paid ONLY on the (tiny, broadcast) probe side: the corpus
    * still emits L rows per vector, and the candidate set grows by the
    * extra buckets actually probed, not by corpus work.
    */
  /** Sign-bit buckets of one vector across all `Tables_` hash tables. */
  private def bucketsOf(e: Seq[Float]): Seq[(Int, Long)] = {
    val planes = hyperplanes
    (0 until Tables_).map { t =>
      var b = 0L
      var h = 0
      while (h < Bits) {
        var d = 0; var acc = 0.0
        while (d < Dim) { acc += planes(t)(h)(d) * e(d); d += 1 }
        if (acc > 0) b |= (1L << h)
        h += 1
      }
      (t, b)
    }
  }

  // probe-side bucket expansion: the exact bucket plus all buckets within
  // `multiprobe` bit flips (4 extra per table at multiprobe=1)
  private def expand(b: Long, flips: Int): Seq[Long] =
    if (flips <= 0) Seq(b)
    else Seq(b) ++ (0 until Bits).flatMap(h => expand(b ^ (1L << h), flips - 1))

  /** The corpus half of the LSH index: L (vec_id, t, bucket) rows per
    * vector. Recomputing this per query re-reads and re-hashes the corpus —
    * fine in a notebook, not at 100 TB; [[buildLshIndex]] persists it once.
    */
  private def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embDs(s, dir)
      .flatMap(e => bucketsOf(e.embedding).map { case (t, b) => Bucket(e.vec_id, t, b) })
      .toDF("vec_id", "t", "bucket")
  }

  /** Offline LSH index build (the [[buildIvfIndex]] twin): persist the
    * bucket rows as parquet under `indexDir`. Hyperplanes are deterministic
    * ([[hyperplanes]]), so no quantizer artifact is needed — the index IS
    * the bucket table.
    */
  def buildLshIndex(s: SparkSession, dir: String, indexDir: String): Unit =
    lshBuckets(s, dir).write.mode("overwrite").parquet(s"$indexDir/buckets")

  /** Online LSH query against prebuilt bucket rows: probe buckets compute
    * on the driver, candidates come from a broadcast join of the persisted
    * index, only candidates re-rank — zero corpus hashing per query.
    */
  def lshQuery(s: SparkSession, dir: String, indexDir: String, k: Int = K,
      multiprobe: Int = 1): DataFrame =
    lshTopKFrom(s, dir, s.read.parquet(s"$indexDir/buckets"), k, multiprobe)

  private def lshTopKFrom(s: SparkSession, dir: String, vecBuckets: DataFrame,
      k: Int, multiprobe: Int): DataFrame = {
    import s.implicits._
    val probeArr = probes(s, dir)
    val probeBuckets = probeArr.toSeq
      .flatMap { case (pid, pv) =>
        bucketsOf(pv.toSeq).flatMap { case (t, b) =>
          expand(b, multiprobe).distinct.map(v => (pid, t, v))
        }
      }
      .toDF("probe_id", "t", "bucket")

    val cand = vecBuckets
      .join(broadcast(probeBuckets), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()

    rerank(s, dir, cand, probeArr, k)
  }

  // per-JVM prebuilt bucket table, fingerprint-keyed like [[ensureIvfIndex]]
  private val lshCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def ensureLshIndex(s: SparkSession, dir: String): String =
    lshCache.computeIfAbsent(corpusTag(dir), tag => {
      val indexDir = java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-lsh-$tag")
      val done = indexDir.resolve("_GRAFT_INDEX_DONE")
      if (!java.nio.file.Files.exists(done)) {
        val buildDir = java.nio.file.Paths.get(
          s"$indexDir.build-${java.util.UUID.randomUUID().toString.take(8)}")
        buildLshIndex(s, dir, buildDir.toString)
        java.nio.file.Files.createFile(buildDir.resolve("_GRAFT_INDEX_DONE"))
        try java.nio.file.Files.move(buildDir, indexDir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.AccessDeniedException |
               _: java.nio.file.DirectoryNotEmptyException =>
            org.apache.commons.io.FileUtils.deleteDirectory(buildDir.toFile)
        }
      }
      indexDir.toString
    })

  /** LSH ANN against the (per-JVM cached) prebuilt bucket index — builds on
    * first use, then every call is the pure [[lshQuery]] online path.
    */
  def lshTopK(s: SparkSession, dir: String, k: Int = K, multiprobe: Int = 1): DataFrame =
    lshQuery(s, dir, ensureLshIndex(s, dir), k, multiprobe)

  /** Exact re-rank of (probe_id, vec_id) candidates through the native
    * codegen'd cosine_sim expression: candidate rows broadcast-join the
    * (tiny) probe VECTORS, so scoring stays inside whole-stage codegen — no
    * typed ser/de, no per-row probe scan. Shared by the LSH and IVF paths.
    */
  private[ann] def rerank(s: SparkSession, dir: String, cand: DataFrame,
      probeArr: Array[(Long, Array[Float])], k: Int): DataFrame = {
    import s.implicits._
    val probeVecs = probeArr.toSeq.map { case (pid, pv) => (pid, pv.toSeq) }
      .toDF("probe_id", "probe_emb")
    val scored = cand
      .join(embDs(s, dir).toDF("vec_id", "embedding", "label"), "vec_id")
      .join(broadcast(probeVecs), "probe_id")
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        call_function("cosine_sim", col("embedding"), col("probe_emb")).as("cos"))

    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rn"), round(col("cos"), 4).as("cosine"))
      .orderBy("probe_id", "rn")
  }

  // IVF geometry: a coarse quantizer of `Cells` centroids; queries probe the
  // `NProbe` nearest cells. At these test SFs that is half the corpus; at
  // 100 TB the same shape runs cells=65536, nprobe=32 — ~0.05% of the
  // corpus per query, with the centroid table still a broadcast-size array.
  val Cells = 8
  val NProbe = 4

  private def cosineD(c: Array[Double], e: Seq[Float]): Double = {
    var dp = 0.0; var nc = 0.0; var ne = 0.0; var i = 0
    while (i < e.length) {
      val ev = e(i).toDouble
      dp += c(i) * ev; nc += c(i) * c(i); ne += ev * ev; i += 1
    }
    dp / (math.sqrt(nc) * math.sqrt(ne))
  }

  /** Nearest cells by centroid cosine, ties to the lower cell index. */
  private[ann] def nearestCells(cents: Array[Array[Double]], e: Seq[Float],
      n: Int): Seq[Int] =
    cents.indices.map(i => (-cosineD(cents(i), e), i)).sorted.take(n).map(_._2)

  /** Primitive-loop cell assignment over broadcast centroids (shared by
    * Lloyd training, the index build, and the semdedup auto-switch): a
    * `mapPartitions` argmax — per vector, one fused dot/norm loop per
    * centroid, best cell kept with ties to the LOWER cell index.
    *
    * This replaces the r9-r14 crossJoin + cosine_sim + max_by plan, which
    * was semantically identical but materialized |vectors| × |cells| join
    * rows each carrying a 64-float array through row machinery — at the
    * sf10 probe (495k × 704) that path dominated the 1238 s index build.
    * The argmax here never leaves registers: ~22 GFLOP/pass at sf10, a
    * few seconds on 32 cores, which is what makes √n-cell blocking cheap
    * enough to be the semdedup DEFAULT (r14 verdict item 1).
    *
    * IEEE parity with the old plan is exact: yv folds the FLOAT-rounded
    * centroid (the old path scored float `cvec` columns), the accumulator
    * chain is the same fused dot/nx/ny loop as
    * [[graft.functions.CosineSimilarity]], the score is
    * dot/(sqrt(nx)·sqrt(ny)), and `java.lang.Double.compare` reproduces
    * Spark's ordering (NaN greatest, ties to lower cell via strict >) —
    * so assignments are bit-identical and the ann_ivf oracle stays green.
    *
    * DROPPED-ROW CONTRACT (ADVICE r15): rows with a NULL embedding emit
    * NOTHING — they get no cell row at all (the pre-r15 groupBy path
    * emitted a cell-0 row for them, since every cosine was NULL and
    * max_by defaulted). Duplicate vec_ids pass through one row each
    * (no collapse). Consequences downstream are benign by construction:
    * the IVF index simply has no posting for a null vector (it can never
    * be a candidate — correct, it has no similarity to anything), and in
    * [[graft.dedup.Dedup.semdedupPairs]] both branches agree, because
    * [[graft.dedup.Dedup.blockCosinePairs]] skips null vectors inside the
    * kernel — a null row emits no pairs whether it keeps a cell row
    * (small-label branch) or loses it (re-blocked branch).
    */
  private[graft] def assignCells(s: SparkSession, emb: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val cf: Array[Array[Float]] = cents.map(_.map(_.toFloat))
    val bc = s.sparkContext.broadcast(cf)
    emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, e) =>
          if (e == null) Iterator.empty
          else {
            var best = Double.NegativeInfinity
            var bestC = 0
            var c = 0
            while (c < cs.length) {
              val cv = cs(c)
              // length mismatch → the old path's cosine_sim returned NULL,
              // which never won max_by — skip the centroid the same way
              if (cv.length == e.length) {
                val n = cv.length
                var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
                while (i < n) {
                  val xv = e(i).toDouble
                  val yv = cv(i).toDouble
                  dot += xv * yv; nx += xv * xv; ny += yv * yv
                  i += 1
                }
                val cos = dot / (math.sqrt(nx) * math.sqrt(ny))
                if (java.lang.Double.compare(cos, best) > 0) { best = cos; bestC = c }
              }
              c += 1
            }
            Iterator.single((id, bestC, e))
          }
        }
      }
      .toDF("vec_id", "cell", "embedding")
  }

  /** Coarse-quantizer training: deterministic md5-seeded centroids refined
    * by `lloydIters` distributed Lloyd rounds (assignment is a narrow map
    * over broadcast centroids; the update is a posexplode + (cell, dim) avg
    * whose result — cells × Dim doubles — collects to the driver, which
    * loops over ITERATIONS only). Returns float-rounded centroids so the
    * codegen data path (float inputs) and the driver probe path (doubles
    * from floats) score identical values. Training is the OFFLINE half of
    * IVF — the query path ([[ivfQuery]]) never calls this.
    */
  def trainIvfCentroids(s: SparkSession, emb: DataFrame, cells: Int = Cells,
      lloydIters: Int = 2): Array[Array[Double]] = {
    // deterministic seeds: the `cells` vectors with smallest md5(vec_id) —
    // an order-free pseudo-random sample, reproducible across runs
    var centroids: Array[Array[Double]] = emb
      .withColumn("h", md5(col("vec_id").cast(StringType)))
      .orderBy("h").limit(cells)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 1 to lloydIters) {
      // centroid update via the micro-unit discipline (embed_dim_stats):
      // q = floor(v·10⁶) exact integer sums, so the mean is independent of
      // partial-aggregation ORDER — a double avg() differed in the last
      // ulp run-to-run with the partitioning (and was irreproducible in
      // SQL), which made trained cells a function of data layout; at 1000
      // executors that is a nondeterministic index. One IEEE chain
      // (sq/n/1e6) finishes it, identical in the DuckDB re-derivation
      // (semdedup_default oracle). Long partials are safe: |q| ≤ ~10⁶ ×
      // 10⁹ rows/cell ≈ 10¹⁵ at 100 TB scale — inside a long.
      val means = assignCells(s, emb, centroids)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v").cast("double") * 1000000).cast("long")).as("sq"))
        .collect()
      val next = centroids.map(_.clone()) // empty cells keep their centroid
      means.foreach(r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(3).toDouble / r.getLong(2) / 1e6)
      centroids = next
    }
    centroids.map(_.map(_.toFloat.toDouble))
  }

  /** Offline IVF index build — the shape a 100 TB deployment runs once per
    * corpus version, not per query: trains the coarse quantizer, then
    * persists BOTH index artifacts as parquet under `indexDir`:
    * `centroids` (cell, cvec float[]) and `cells` (vec_id, cell — IVF's
    * one-row-per-vector storage advantage over LSH's L bucket rows).
    * The corpus is cached only for the duration of the build (seed sample +
    * lloydIters+1 assignment passes over one frame) and freed before
    * returning.
    */
  def buildIvfIndex(s: SparkSession, dir: String, indexDir: String,
      cells: Int = Cells, lloydIters: Int = 2): IvfIndex = {
    import s.implicits._
    val emb = embDs(s, dir).toDF("vec_id", "embedding", "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cfinal = trainIvfCentroids(s, emb, cells, lloydIters)
      cfinal.zipWithIndex.map { case (v, i) => (i, v.map(_.toFloat).toSeq) }
        .toSeq.toDF("cell", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
      assignCells(s, emb, cfinal).select("vec_id", "cell")
        .write.mode("overwrite").parquet(s"$indexDir/cells")
      IvfIndex(indexDir, cfinal)
    } finally emb.unpersist(blocking = false)
  }

  /** Load a prebuilt index: centroids collect to the driver (cells × Dim
    * floats — broadcast-size at any corpus scale); assignments stay a lazy
    * parquet scan read by [[ivfQuery]].
    */
  def loadIvfIndex(s: SparkSession, indexDir: String): IvfIndex = {
    val cents = s.read.parquet(s"$indexDir/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    IvfIndex(indexDir, cents)
  }

  /** The ONLINE IVF query path — zero training jobs, zero corpus
    * assignment passes: probes assign to their `nprobe` nearest cells on
    * the driver (against the in-memory centroids), candidates come from a
    * broadcast join of the persisted (vec_id, cell) index, and only the
    * candidates re-rank exactly through the codegen cosine.
    */
  def ivfQuery(s: SparkSession, dir: String, index: IvfIndex, k: Int = K,
      nprobe: Int = NProbe): DataFrame = {
    import s.implicits._
    val probeArr = probes(s, dir)
    val probeCells = probeArr.toSeq
      .flatMap { case (pid, pv) =>
        nearestCells(index.centroids, pv.toSeq, nprobe).map(c => (pid, c))
      }
      .toDF("probe_id", "cell")
    val cand = s.read.parquet(s"${index.indexDir}/cells")
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    rerank(s, dir, cand, probeArr, k)
  }

  /** Corpus fingerprint: (name, length, mtime) of every embeddings file —
    * a changed/regenerated corpus yields a different index key, so a cached
    * or on-disk index can never silently serve stale cell assignments.
    */
  private[ann] def corpusTag(dir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    val root = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val desc = new StringBuilder(dir)
    if (java.nio.file.Files.isDirectory(root)) {
      val st = java.nio.file.Files.list(root)
      try st.sorted().forEach { p =>
        desc.append(p.getFileName).append(java.nio.file.Files.size(p))
          .append(java.nio.file.Files.getLastModifiedTime(p).toMillis)
        ()
      } finally st.close()
    } else if (java.nio.file.Files.exists(root)) {
      desc.append(java.nio.file.Files.size(root))
        .append(java.nio.file.Files.getLastModifiedTime(root).toMillis)
    }
    md.digest(desc.toString.getBytes(StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
  }

  // One index build per (corpus fingerprint, cells, lloydIters) per JVM:
  // the bank's ann_ivf / ann_ivf_exact rows share a single offline build,
  // mirroring a deployment where the index is a prebuilt artifact queries
  // point at. Cross-JVM: a finished index is detected by its marker file
  // and LOADED; an unfinished/concurrent build goes to a fresh build dir
  // and publishes via atomic rename, so no reader ever sees partial files.
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), IvfIndex]()

  def ensureIvfIndex(s: SparkSession, dir: String, cells: Int = Cells,
      lloydIters: Int = 2): IvfIndex =
    indexCache.computeIfAbsent((corpusTag(dir), cells, lloydIters), key => {
      val indexDir = java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-ivf-${key._1}-$cells-$lloydIters")
      val done = indexDir.resolve("_GRAFT_INDEX_DONE")
      if (java.nio.file.Files.exists(done)) loadIvfIndex(s, indexDir.toString)
      else {
        val buildDir = java.nio.file.Paths.get(
          s"$indexDir.build-${java.util.UUID.randomUUID().toString.take(8)}")
        val idx = buildIvfIndex(s, dir, buildDir.toString, cells, lloydIters)
        java.nio.file.Files.createFile(buildDir.resolve("_GRAFT_INDEX_DONE"))
        try {
          java.nio.file.Files.move(buildDir, indexDir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          IvfIndex(indexDir.toString, idx.centroids)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.AccessDeniedException |
               _: java.nio.file.DirectoryNotEmptyException =>
            // another JVM published first — use its (identical) index
            org.apache.commons.io.FileUtils.deleteDirectory(buildDir.toFile)
            loadIvfIndex(s, indexDir.toString)
        }
      }
    })

  /** IVF ANN against the (per-JVM cached) prebuilt index — builds the index
    * on first use, then every call is the pure [[ivfQuery]] online path.
    */
  def ivfTopK(s: SparkSession, dir: String, k: Int = K, cells: Int = Cells,
      nprobe: Int = NProbe, lloydIters: Int = 2): DataFrame =
    ivfQuery(s, dir, ensureIvfIndex(s, dir, cells, lloydIters), k, nprobe)
}
