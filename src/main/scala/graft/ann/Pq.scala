package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A prebuilt PQ index: the per-subspace codebooks in memory (M × K ×
  * SubDim — a few KB at any corpus scale) plus the parquet `indexDir`
  * holding both artifacts (`codebooks`, one-row-per-vector `codes`).
  */
final case class PqIndex(indexDir: String, codebooks: Array[Array[Array[Double]]])

/** Product quantization — the compressed-domain ANN path (SURVEY §2.3).
  *
  * The 64-dim vectors split into M=8 subspaces of 8 dims; each subspace gets
  * a K=16-centroid k-means codebook (trained offline, Lloyd rounds of the
  * same shape as [[Ann.trainIvfCentroids]]), and every vector stores only
  * its 8 codes — a 32× compression of the float32 corpus. Queries score
  * candidates with asymmetric distance computation (ADC): the probe
  * precomputes per-subspace lookup tables driver-side, candidates cost M
  * table lookups each (the codegen [[graft.functions.PqAdc]] expression —
  * no float vectors touched), and only the top `RerankDepth` per probe
  * re-rank exactly through the shared codegen cosine.
  *
  * At 100 TB this composes with IVF (probe nprobe cells, ADC-score only
  * those cells' codes) — the standard IVF-PQ layout; both halves exist here
  * and share the index-artifact discipline (offline build → parquet →
  * online query with zero training jobs).
  *
  * PQ is lossy by construction (no exact-regime degeneration like
  * LSH/IVF's exhaustive probing), so the row is rows-only and the pin is
  * the recall spec plus encode/rebuild determinism.
  */
object Pq extends Serializable {

  val M = 8
  val SubDim = 8
  val Ksub = 16
  val RerankDepth = 100

  import Ann.{Dim, K}

  require(M * SubDim == Dim)

  /** One row per (vec_id, subspace m, float subvector) — a narrow codegen
    * slice() map over the scan, M rows per vector.
    */
  private def subRows(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(array((0 until M).map(m =>
        slice(col("embedding"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sub")))

  private def codebookDf(s: SparkSession,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    (for (m <- cbs.indices; c <- cbs(m).indices)
      yield (m, c, cbs(m)(c).map(_.toFloat).toSeq))
      .toDF("m", "code", "cvec")
  }

  /** Codegen subspace assignment: subvector rows join the broadcast
    * codebook on `m`, score by the native l2_sq, min_by collapse with ties
    * to the lower code. Used by both Lloyd training and the encode pass.
    */
  private def assignCodes(s: SparkSession, emb: DataFrame,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    subRows(emb)
      .join(broadcast(codebookDf(s, cbs)), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        call_function("l2_sq", col("sub"), col("cvec")).as("d2"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
  }

  /** Offline codebook training: deterministic md5-seeded subvectors refined
    * by `lloydIters` Lloyd rounds. Each round is one distributed assignment
    * pass + a (m, code, pos) mean — M·K·SubDim = 1024 doubles collected to
    * the driver, which loops over ITERATIONS only. Centroids round to float
    * so build and reload paths score identical values.
    */
  def trainCodebooks(s: SparkSession, emb: DataFrame,
      lloydIters: Int = 2): Array[Array[Array[Double]]] = {
    // seeds: the K vectors with smallest md5(vec_id), sliced per subspace —
    // the [[Ann.trainIvfCentroids]] seeding, applied to every subspace
    val seeds = emb
      .withColumn("h", md5(col("vec_id").cast(StringType)))
      .orderBy("h").limit(Ksub)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(M, Ksub) { (m, c) =>
        seeds(c).slice(m * SubDim, (m + 1) * SubDim)
      }
    for (_ <- 1 to lloydIters) {
      val means = assignCodes(s, emb, cbs)
        .join(subRows(emb), Seq("vec_id", "m"))
        .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("m", "code", "pos").agg(avg("v").as("mean"))
        .collect()
      val next = cbs.map(_.map(_.clone())) // empty codes keep their centroid
      means.foreach(r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cbs = next
    }
    cbs.map(_.map(_.map(_.toFloat.toDouble)))
  }

  /** Offline PQ index build: train codebooks, encode every vector to its M
    * codes (ONE int array row per vector), persist both artifacts.
    */
  def buildIndex(s: SparkSession, dir: String, indexDir: String,
      lloydIters: Int = 2): PqIndex = {
    val emb = Ann.embDs(s, dir).toDF("vec_id", "embedding", "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cbs = trainCodebooks(s, emb, lloydIters)
      codebookDf(s, cbs)
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
      assignCodes(s, emb, cbs)
        .groupBy("vec_id")
        // sorted (m, code) structs → positional code array; GetArrayStructFields
        .agg(sort_array(collect_list(struct(col("m"), col("code")))).as("mc"))
        .select(col("vec_id"), col("mc.code").as("codes"))
        .write.mode("overwrite").parquet(s"$indexDir/codes")
      PqIndex(indexDir, cbs)
    } finally emb.unpersist(blocking = false)
  }

  /** Load a prebuilt index: codebooks collect to the driver; the code table
    * stays a lazy parquet scan read by [[query]].
    */
  def loadIndex(s: SparkSession, indexDir: String): PqIndex = {
    val cbs = Array.fill(M, Ksub)(Array.empty[Double])
    s.read.parquet(s"$indexDir/codebooks").collect().foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) =
        r.getSeq[Float](2).map(_.toDouble).toArray
    }
    PqIndex(indexDir, cbs)
  }

  /** Density-adaptive exact-re-rank shortlist: a FIXED depth stops working
    * as the corpus densifies (at 10× vectors the 32-bit ADC ordering can
    * no longer separate the near-equidistant top-100 — the sf1 probe
    * measured recall@5 collapsing 0.84 → 0.14), so the default depth
    * scales as n/10 with the old constant as the floor (n/20 recovered
    * 0.74 at the 10× probe, n/10 recovers 1.0). The re-rank cost
    * stays trivial (depth × probes exact dot products); on the IVF-PQ
    * path candidates are already cell-pruned, so depth only widens the
    * per-probe shortlist, never the scan. Parquet row-count is metadata
    * (no scan).
    */
  private def adaptiveDepth(s: SparkSession, codesPath: String): Int = {
    val n = s.read.parquet(codesPath).count()
    math.max(RerankDepth, (n / 10).toInt)
  }

  /** The ONLINE PQ query: probes build their M×K dot/norm lookup tables on
    * the driver (against the in-memory codebooks), the code table scores
    * through the codegen ADC expression (M int lookups per candidate — the
    * float corpus is never scanned), the top `rerankDepth` per probe
    * re-rank exactly (≤ 0 → density-adaptive).
    */
  def query(s: SparkSession, dir: String, index: PqIndex, k: Int = K,
      rerankDepth: Int = -1): DataFrame = {
    import s.implicits._
    val depth =
      if (rerankDepth > 0) rerankDepth
      else adaptiveDepth(s, s"${index.indexDir}/codes")
    val probeArr = Ann.probes(s, dir)
    val probeTables = probeArr.toSeq.map { case (pid, pv) =>
      val dotT = new Array[Double](M * Ksub)
      val normT = new Array[Double](M * Ksub)
      for (m <- 0 until M; c <- 0 until Ksub) {
        val cb = index.codebooks(m)(c)
        var dp = 0.0; var nn = 0.0; var i = 0
        while (i < SubDim) {
          val p = pv(m * SubDim + i).toDouble
          dp += p * cb(i); nn += cb(i) * cb(i); i += 1
        }
        dotT(m * Ksub + c) = dp; normT(m * Ksub + c) = nn
      }
      (pid, dotT.toSeq, normT.toSeq)
    }.toDF("probe_id", "dot_t", "norm_t")

    val approx = s.read.parquet(s"${index.indexDir}/codes")
      .crossJoin(broadcast(probeTables))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function("pq_adc", col("codes"), col("dot_t"), col("norm_t"))
          .as("approx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("approx").desc, col("vec_id"))
    val cand = approx
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= depth)
      .select("probe_id", "vec_id")
    Ann.rerank(s, dir, cand, probeArr, k)
  }

  // one build per corpus fingerprint per JVM (the ensureIvfIndex discipline,
  // including the marker-file + atomic-rename cross-JVM publish)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), PqIndex]()

  def ensureIndex(s: SparkSession, dir: String, lloydIters: Int = 2): PqIndex =
    cache.computeIfAbsent((Ann.corpusTag(dir), lloydIters), key => {
      val indexDir = java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-pq-${key._1}-$M-$Ksub-$lloydIters")
      val done = indexDir.resolve("_GRAFT_INDEX_DONE")
      if (java.nio.file.Files.exists(done)) loadIndex(s, indexDir.toString)
      else {
        val buildDir = java.nio.file.Paths.get(
          s"$indexDir.build-${java.util.UUID.randomUUID().toString.take(8)}")
        val idx = buildIndex(s, dir, buildDir.toString, lloydIters)
        java.nio.file.Files.createFile(buildDir.resolve("_GRAFT_INDEX_DONE"))
        try {
          java.nio.file.Files.move(buildDir, indexDir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          loadIndex(s, indexDir.toString)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.AccessDeniedException |
               _: java.nio.file.DirectoryNotEmptyException =>
            // another build published first: serve the winner, drop ours
            org.apache.commons.io.FileUtils.deleteDirectory(buildDir.toFile)
            loadIndex(s, indexDir.toString)
        }
      }
    })

  /** PQ ANN against the (per-JVM cached) prebuilt index. */
  def pqTopK(s: SparkSession, dir: String, k: Int = K,
      rerankDepth: Int = -1): DataFrame =
    query(s, dir, ensureIndex(s, dir), k, rerankDepth)

  // ---------------------------------------------------------------------
  // IVF-PQ: the composed 100 TB layout — coarse cells prune the corpus,
  // codes score what's left, a handful re-rank exactly.
  // ---------------------------------------------------------------------

  /** A combined IVF-PQ index: coarse centroids + per-subspace codebooks in
    * memory, and ONE parquet row table (vec_id, cell, codes) under
    * `indexDir/rows` — cell assignment and codes co-located so the query
    * path never joins two corpus-scale tables.
    */
  final case class IvfPqIndex(indexDir: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  /** Offline IVF-PQ build: train BOTH quantizers (coarse cells + PQ
    * codebooks) over one cached corpus pass set, then write the single
    * combined row table. This is the artifact a 100 TB deployment
    * maintains per corpus version.
    */
  def buildIvfPq(s: SparkSession, dir: String, indexDir: String,
      cells: Int = Ann.Cells, lloydIters: Int = 2): IvfPqIndex = {
    import s.implicits._
    val emb = Ann.embDs(s, dir).toDF("vec_id", "embedding", "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = Ann.trainIvfCentroids(s, emb, cells, lloydIters)
      val cbs = trainCodebooks(s, emb, lloydIters)
      cents.zipWithIndex.map { case (v, i) => (i, v.map(_.toFloat).toSeq) }
        .toSeq.toDF("cell", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
      codebookDf(s, cbs)
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
      val cellOf = Ann.assignCells(s, emb, cents).select("vec_id", "cell")
      val codesOf = assignCodes(s, emb, cbs)
        .groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("m"), col("code")))).as("mc"))
        .select(col("vec_id"), col("mc.code").as("codes"))
      // corpus-keyed equi-join happens ONCE at build time — the query path
      // reads the co-located rows
      cellOf.join(codesOf, "vec_id")
        .write.mode("overwrite").parquet(s"$indexDir/rows")
      IvfPqIndex(indexDir, cents, cbs)
    } finally emb.unpersist(blocking = false)
  }

  def loadIvfPq(s: SparkSession, indexDir: String): IvfPqIndex = {
    val cents = s.read.parquet(s"$indexDir/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cbs = Array.fill(M, Ksub)(Array.empty[Double])
    s.read.parquet(s"$indexDir/codebooks").collect().foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).map(_.toDouble).toArray
    }
    IvfPqIndex(indexDir, cents, cbs)
  }

  /** The ONLINE IVF-PQ query: probes pick their nprobe cells AND build
    * their ADC tables on the driver; the combined row table broadcast-joins
    * the probed cells (pruning the scan to nprobe/cells of the corpus),
    * survivors cost M table lookups each, the top `rerankDepth` re-rank
    * exactly. Zero training jobs, zero corpus-scale joins, float vectors
    * touched only for the re-ranked handful.
    */
  def ivfPqQuery(s: SparkSession, dir: String, index: IvfPqIndex, k: Int = K,
      nprobe: Int = Ann.NProbe, rerankDepth: Int = -1): DataFrame = {
    import s.implicits._
    val depth =
      if (rerankDepth > 0) rerankDepth
      else adaptiveDepth(s, s"${index.indexDir}/rows")
    val probeArr = Ann.probes(s, dir)
    val probeSide = probeArr.toSeq.flatMap { case (pid, pv) =>
      val dotT = new Array[Double](M * Ksub)
      val normT = new Array[Double](M * Ksub)
      for (m <- 0 until M; c <- 0 until Ksub) {
        val cb = index.codebooks(m)(c)
        var dp = 0.0; var nn = 0.0; var i = 0
        while (i < SubDim) {
          val p = pv(m * SubDim + i).toDouble
          dp += p * cb(i); nn += cb(i) * cb(i); i += 1
        }
        dotT(m * Ksub + c) = dp; normT(m * Ksub + c) = nn
      }
      Ann.nearestCells(index.centroids, pv.toSeq, nprobe)
        .map(cell => (pid, cell, dotT.toSeq, normT.toSeq))
    }.toDF("probe_id", "cell", "dot_t", "norm_t")

    val approx = s.read.parquet(s"${index.indexDir}/rows")
      .join(broadcast(probeSide), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function("pq_adc", col("codes"), col("dot_t"), col("norm_t"))
          .as("approx"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("approx").desc, col("vec_id"))
    val cand = approx
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= depth)
      .select("probe_id", "vec_id")
    Ann.rerank(s, dir, cand, probeArr, k)
  }

  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), IvfPqIndex]()

  def ensureIvfPq(s: SparkSession, dir: String,
      lloydIters: Int = 2): IvfPqIndex =
    ivfPqCache.computeIfAbsent((Ann.corpusTag(dir), lloydIters), key => {
      val indexDir = java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-ivfpq-${key._1}-$M-$Ksub-$lloydIters")
      val done = indexDir.resolve("_GRAFT_INDEX_DONE")
      if (java.nio.file.Files.exists(done)) loadIvfPq(s, indexDir.toString)
      else {
        val buildDir = java.nio.file.Paths.get(
          s"$indexDir.build-${java.util.UUID.randomUUID().toString.take(8)}")
        // thread the cache key's lloydIters through — a non-default value
        // must build with what the key (and on-disk path) claims
        buildIvfPq(s, dir, buildDir.toString, lloydIters = key._2)
        java.nio.file.Files.createFile(buildDir.resolve("_GRAFT_INDEX_DONE"))
        try {
          java.nio.file.Files.move(buildDir, indexDir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          loadIvfPq(s, indexDir.toString)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.AccessDeniedException |
               _: java.nio.file.DirectoryNotEmptyException =>
            org.apache.commons.io.FileUtils.deleteDirectory(buildDir.toFile)
            loadIvfPq(s, indexDir.toString)
        }
      }
    })

  /** IVF-PQ ANN against the (per-JVM cached) prebuilt combined index. */
  def ivfPqTopK(s: SparkSession, dir: String, k: Int = K,
      nprobe: Int = Ann.NProbe, rerankDepth: Int = -1): DataFrame =
    ivfPqQuery(s, dir, ensureIvfPq(s, dir), k, nprobe, rerankDepth)
}
