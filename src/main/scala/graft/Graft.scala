package graft

import graft.cdc.{Catalog, ChangeLoader, CursorStore, MultiTable}
import graft.sources.{Changes, Tables}
import graft.streaming.{ChangeStreamSink, MultiTableChangeSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The library facade — what a user of the reference sink programs against
  * after switching to graft.
  *
  * One instance binds a session and a table directory (the "database");
  * every capability of the engine hangs off it: the reference's CDC
  * ingestion surface (change feed → collapse → snapshot apply → streaming
  * sink with exactly-once cursors), the analytic query bank, and the
  * training-data operators (dedup / ANN / text / multimodal).
  */
final class Graft(val spark: SparkSession, val dir: String) {

  GraftSession.prepare(spark)

  // ---- storage & schema -------------------------------------------------
  def table(name: String): DataFrame = Tables(spark, dir, name)
  def registerAllTables(): Unit = Tables.registerAll(spark, dir)
  lazy val catalog: Catalog = new Catalog(dir, spark)

  // ---- CDC surface (the reference's job) --------------------------------
  /** The per-block change feed (derived deterministically from `events`). */
  def changes(): DataFrame = Changes(spark, dir)

  def collapse(batch: DataFrame, fields: Seq[String]): DataFrame =
    ChangeLoader.collapse(batch, fields)

  def applyBatch(snapshot: DataFrame, collapsed: DataFrame, fields: Seq[String]): DataFrame =
    ChangeLoader.applyBatch(snapshot, collapsed, fields)

  def violations(batch: DataFrame): DataFrame = ChangeLoader.violations(batch)

  def cursorStore(path: String): CursorStore = new CursorStore(path, spark)

  def streamSink(baseDir: String, moduleHash: String, fields: Seq[String]): ChangeStreamSink =
    new ChangeStreamSink(baseDir, moduleHash, fields)

  /** Sink that ALSO maintains an incremental materialized rollup (the CH
    * MATERIALIZED VIEW pattern) — `sink.latestMv(spark)` reads it; exact ±
    * delta maintenance per flush, never a base re-aggregation
    * ([[graft.cdc.MaterializedAgg]]).
    */
  def streamSinkWithMv(baseDir: String, moduleHash: String, fields: Seq[String],
      groupCol: String, valueCol: String): ChangeStreamSink =
    new ChangeStreamSink(baseDir, moduleHash, fields,
      mv = Some(graft.cdc.MaterializedAgg.MvDef(groupCol, valueCol)))

  /** The wire-shaped multi-table feed + the reference's full dispatch loop. */
  def multiTableChanges(): DataFrame = Changes.multiTable(spark, dir)

  def collapseAll(wire: DataFrame,
      schemas: Map[String, org.apache.spark.sql.types.StructType]): Map[String, DataFrame] =
    MultiTable.collapseAll(wire, schemas)

  def multiTableSink(baseDir: String, moduleHash: String,
      schemas: Map[String, org.apache.spark.sql.types.StructType]): MultiTableChangeSink =
    new MultiTableChangeSink(baseDir, moduleHash, schemas)

  // ---- query bank -------------------------------------------------------
  /** Run any SURVEY §2 operator by key (see `SparkEntry.queries`). */
  def run(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  def operators: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  // ---- external JDBC target (the reference's live-DB surface) -----------
  /** First-run bootstrap: execute a DDL schema file against the target and
    * ensure the reference-shape cursors table (`JdbcSetup`).
    */
  def jdbcSetup(url: String, schemaFile: java.nio.file.Path): Unit = {
    val c = cdc.JdbcFlush.connect(url)
    try cdc.JdbcSetup.setup(c, schemaFile) finally c.close()
  }

  /** Introspect every target table (+ cursors validation) — `LoadTables`. */
  def jdbcLoadTables(url: String): Map[String, cdc.JdbcTableInfo] = {
    val c = cdc.JdbcFlush.connect(url)
    try cdc.JdbcCatalog.loadTables(c) finally c.close()
  }

  /** Streaming sink into a JDBC table whose pk/columns/types come from the
    * live target schema.
    */
  def jdbcSink(url: String, table: String, moduleHash: String): streaming.JdbcChangeSink =
    streaming.JdbcChangeSink.introspected(url, table, moduleHash)

  /** [[jdbcSink]] that ALSO maintains an on-target rollup table inside
    * every flush transaction ([[graft.cdc.JdbcMv]]) — the JDBC twin of
    * [[streamSinkWithMv]].
    */
  def jdbcSinkWithMv(url: String, table: String, moduleHash: String,
      mvTable: String, groupCol: String, valueCol: String): streaming.JdbcChangeSink =
    streaming.JdbcChangeSink.introspected(url, table, moduleHash,
      Some(cdc.JdbcMv.MvSpec(mvTable, groupCol, valueCol)))

  /** Live operational counters + rate ticker for a running sink. */
  def liveStats(moduleHash: String): streaming.LiveSinkStats =
    streaming.LiveSinkStats.of(moduleHash)

  /** Prometheus text-exposition render of every module's sink counters —
    * serve from any HTTP endpoint to scrape (`sinker/metrics.go` parity).
    */
  def scrapeMetrics(): String = streaming.LiveSinkStats.scrape()

  /** Serve [[scrapeMetrics]] over HTTP at `addr` — the reference's
    * `--metrics-listen-addr` surface (default `localhost:9102`); `stop()`
    * the returned server on shutdown.
    */
  def serveMetrics(addr: String = "localhost:9102"): streaming.MetricsHttpServer =
    streaming.MetricsHttpServer.start(addr)

  // ---- dedup (over the `documents` table; LSH caps conf-tunable; the
  // n-gram path is exact-complete via the AllPairs prefix filter) --------
  def nearDupNgram(tau: Double = 0.5): DataFrame =
    dedup.Dedup.ngramJaccardPairs(table("documents"), tau)

  def nearDupMinhash(tau: Double = 0.35, bucketCap: Int = 0): DataFrame =
    dedup.Dedup.minhashLshPairs(table("documents"), tau, bucketCap)

  /** Row order is UNSPECIFIED (r17 dropped the generator's global sort);
    * `orderBy("doc_a", "doc_b")` the result if you need it deterministic.
    */
  def nearDupSimhash(maxHamming: Int = 2): DataFrame =
    dedup.Dedup.simhashPairs(spark, dir, maxHamming)

  /** Cosine-≥τ near-dup pairs over any (label, vec_id, e: array<float>)
    * frame — the SemDeDup pair generator with the k ∝ √n cell contract as
    * the DEFAULT (r15): label blocks at or below
    * `spark.graft.dedup.maxBlock` (8192) run the exact within-label
    * chunked kernel; an oversized block auto-switches to Lloyd-trained
    * IVF cells WITHIN the label (k ≈ √n, the ann_ivf machinery), the
    * approximation SemDeDup itself defines. MEASURED at sf10: label path
    * 994-1301 s on the 10-coarse-label worst case vs ~20 s-class cell
    * path (BENCH_sf10_r14_semdedup_contract.json,
    * BENCH_sf10_r15_semdedup_default.json — the r15 record includes the
    * inline training the primitive assignCells kernel makes affordable).
    * Exact within-label behavior on any frame: raise maxBlock.
    */
  def nearDupEmbedding(vectors: DataFrame, tau: Double = 0.35): DataFrame =
    dedup.Dedup.semdedupPairs(vectors, tau)

  /** Transitive near-dup clusters from an (a, b) pair frame — hybrid
    * union-find / distributed label propagation.
    */
  def dedupClusters(pairs: DataFrame): DataFrame =
    dedup.Dedup.connectedComponents(pairs)

  /** The composed cluster family over `documents`: ONE simhash pair
    * generation + ONE components run feed all three curation views —
    * `(clusters, representatives, size histogram)`, bit-equal (up to row
    * order) to `run("dedup_clusters")` / `run("dedup_cluster_rep")` /
    * `run("dedup_cluster_size_hist")`, which each re-derive the pair graph
    * when called separately ([[graft.dedup.Dedup.clusterFamilyOf]]).
    */
  def clusterFamily(): (DataFrame, DataFrame, DataFrame) =
    dedup.Dedup.clusterFamilyOf(table("documents"))

  /** Benchmark decontamination: corpus docs sharing any word-n-gram with
    * the benchmark frame (both need doc_id + text).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame =
    dedup.Dedup.contaminationOf(corpus, benchmark, n)

  /** Span-level dedup signal: per doc, the fraction of its word-n-grams
    * that also occur in another document
    * ([[graft.dedup.Dedup.substringDupStats]]).
    */
  def spanDupStats(docsDf: DataFrame, n: Int = 8): DataFrame =
    dedup.Dedup.substringDupStats(docsDf, n)

  /** The `pipeline_filter` (#74) composition in its PRODUCTION shape: each
    * stage (quality scores, exact-dup drop list, near-dup non-canonicals,
    * contamination list) is materialized to parquet under `outDir` exactly
    * once, then the kept set is derived from the materialized stages —
    * instead of re-deriving every stage lazily inside one plan, which is
    * what the oracle row does to prove composition. At 100 TB the stage
    * outputs are also the AUDIT artifacts a curation run must keep
    * (why was each doc dropped), so the writes aren't overhead. Returns the
    * kept frame read back from `outDir/kept`; bit-equal to
    * `run("pipeline_filter")` (spec-pinned).
    */
  def curate(outDir: String, minQuality: Double = 0.25): DataFrame = {
    val stage = (name: String, df: DataFrame) => {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      spark.read.parquet(s"$outDir/$name")
    }
    val quality = stage("quality",
      run("text_quality").select(col("doc_id"), col("quality")))
    val exDup = stage("exact_dups", run("dedup_exact").select("doc_id"))
    val nonCanon = stage("near_dup_non_canonical",
      run("dedup_clusters").filter(!col("is_canonical")).select("doc_id"))
    val contaminated = stage("contaminated", run("contamination").select("doc_id"))
    // every stage is now parquet on disk — free the shingle/gram caches the
    // dedup operators persisted while deriving them (a long-lived session
    // would otherwise keep one corpus-scale entry per curate call)
    dedup.Dedup.releaseCaches()
    val kept = dedup.Dedup.keptSet(table("documents"),
      quality, exDup, nonCanon, contaminated, minQuality)
    stage("kept", kept).orderBy("doc_id")
  }

  /** Free the lazy intermediate caches persisting operators register
    * (dedup/contamination shingle tables, pagerank edge tables — all
    * routed through [[graft.CacheRegistry]]) — call once the action
    * consuming their result has completed.
    */
  def releaseCaches(): Unit = CacheRegistry.release()

  // ---- ANN --------------------------------------------------------------
  def annBruteForce(): DataFrame = run("ann_bruteforce")
  def annLsh(k: Int = ann.Ann.K): DataFrame = ann.Ann.lshTopK(spark, dir, k)
  def annIvf(k: Int = ann.Ann.K): DataFrame = ann.Ann.ivfTopK(spark, dir, k)

  /** Offline IVF index build — run once per corpus version; persists the
    * coarse quantizer + (vec_id, cell) assignments as parquet under
    * `outDir` ([[graft.ann.Ann.buildIvfIndex]]).
    */
  def buildIvfIndex(outDir: String, cells: Int = ann.Ann.Cells,
      lloydIters: Int = 2): ann.IvfIndex =
    ann.Ann.buildIvfIndex(spark, dir, outDir, cells, lloydIters)

  /** Reload a persisted index built by [[buildIvfIndex]]. */
  def loadIvfIndex(indexDir: String): ann.IvfIndex =
    ann.Ann.loadIvfIndex(spark, indexDir)

  /** Offline LSH index build (persisted bucket rows) + its online query —
    * the [[buildIvfIndex]] twins for the hyperplane-LSH path.
    */
  def buildLshIndex(outDir: String): Unit = ann.Ann.buildLshIndex(spark, dir, outDir)

  def annLsh(indexDir: String, k: Int, multiprobe: Int): DataFrame =
    ann.Ann.lshQuery(spark, dir, indexDir, k, multiprobe)

  /** The pure online IVF query path against a prebuilt index — zero
    * training jobs ([[graft.ann.Ann.ivfQuery]]).
    */
  def annIvf(index: ann.IvfIndex, k: Int, nprobe: Int): DataFrame =
    ann.Ann.ivfQuery(spark, dir, index, k, nprobe)

  /** Product-quantization ANN ([[graft.ann.Pq]]): offline codebook+code
    * build, online ADC scoring + exact re-rank — the compressed-domain path
    * that composes with IVF at 100 TB (IVF-PQ).
    */
  def buildPqIndex(outDir: String, lloydIters: Int = 2): ann.PqIndex =
    ann.Pq.buildIndex(spark, dir, outDir, lloydIters)

  def loadPqIndex(indexDir: String): ann.PqIndex = ann.Pq.loadIndex(spark, indexDir)

  def annPq(k: Int = ann.Ann.K, rerankDepth: Int = ann.Pq.RerankDepth): DataFrame =
    ann.Pq.pqTopK(spark, dir, k, rerankDepth)

  def annPq(index: ann.PqIndex, k: Int, rerankDepth: Int): DataFrame =
    ann.Pq.query(spark, dir, index, k, rerankDepth)

  /** Composed IVF-PQ ([[graft.ann.Pq.buildIvfPq]]): one combined
    * (vec_id, cell, codes) index artifact; queries prune by cell, score by
    * code, re-rank exactly.
    */
  def buildIvfPqIndex(outDir: String, cells: Int = ann.Ann.Cells,
      lloydIters: Int = 2): ann.Pq.IvfPqIndex =
    ann.Pq.buildIvfPq(spark, dir, outDir, cells, lloydIters)

  def annIvfPq(k: Int = ann.Ann.K, nprobe: Int = ann.Ann.NProbe,
      rerankDepth: Int = ann.Pq.RerankDepth): DataFrame =
    ann.Pq.ivfPqTopK(spark, dir, k, nprobe, rerankDepth)

  // ---- as-of join --------------------------------------------------------
  /** Union+window composition — no session extensions needed. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: org.apache.spark.sql.Column, rightTime: org.apache.spark.sql.Column,
      rightPayload: Seq[String], strict: Boolean = false): DataFrame =
    ops.AsofJoin.join(left, right, keys, leftTime, rightTime, rightPayload, strict)

  /** The custom Catalyst operator (logical node → strategy → merge exec):
    * SMJ-style distribution, O(1) look-behind state per partition.
    */
  def asofJoinOperator(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: org.apache.spark.sql.Column, rightTime: org.apache.spark.sql.Column,
      rightPayload: Seq[String], strict: Boolean = false): DataFrame =
    plans.AsofJoinPlan.asof(left, right, keys, leftTime, rightTime, rightPayload, strict)

  // ---- range join --------------------------------------------------------
  /** Point-in-interval join via the bucketed equi-join rewrite — never a
    * nested loop ([[ops.RangeJoin]]). Long domain; pick `width` ≈ the
    * median interval span.
    */
  def rangeJoin(points: DataFrame, pointCol: String, intervals: DataFrame,
      loCol: String, hiCol: String, width: Long): DataFrame =
    ops.RangeJoin.pointInInterval(points, pointCol, intervals, loCol, hiCol, width)
}

object Graft {
  def apply(spark: SparkSession, dir: String): Graft = new Graft(spark, dir)
}
