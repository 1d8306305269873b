package graft

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line (guaranteed to be the final
  * stdout line) and mirrors it to `SPARK_GRAFT_BENCH_OUT` when set.
  *
  * A query that throws is recorded in an `"errors"` map (name → exception
  * class+message) instead of being silently timed as if it had run — a
  * crashed query must never look fast.
  */
object Bench {

  /** Parse the standing anchor's per-query map — factored out of main so
    * AnchorFormatSpec can pin that the committed BASELINE_ANCHOR.json
    * actually parses (r14: a pretty-printed rewrite put spaces after the
    * colons and the compact-format regex silently returned an EMPTY map,
    * turning the whole ±2× gate off with anchor_worst:null as the only
    * symptom). The regex now tolerates whitespace; the spec fails loudly
    * if a future rewrite breaks parsing some other way.
    */
  def parseAnchor(path: String, sfDir: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (path == "none" || !f.isFile) Map.empty else try {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val sfOf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
      if (!sfOf.exists(s => new java.io.File(s).getName == new java.io.File(sfDir).getName)) Map.empty
      else "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(
        txt.drop(txt.indexOf("\"queries\""))).map(m =>
        m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
  }

  /** How many entries of each unbounded map the STDOUT line may carry.
    * The driver captures the line from a process tail; r16's record lost
    * its whole per-query map because the one line outgrew that capture
    * (BENCH_r16 "parsed": null — the same failure as r08/r09). Everything
    * here is sized so the line stays under [[StdoutLineMaxBytes]] no
    * matter how many of the 320 queries error or requery: top-20 slowest
    * queries (~46 B each), 5 error entries of ≤200-char messages
    * (`n_errors` always carries the true count), 12 requeried entries
    * (~70 B each). The COMPLETE maps always land in target/bench.json
    * (and the SPARK_GRAFT_BENCH_OUT mirror) — nothing is dropped from the
    * record, only from the tail-captured line.
    */
  val StdoutTopQueries = 20
  val StdoutMaxErrors = 5
  val StdoutMaxRequeried = 12
  val StdoutLineMaxBytes = 4096

  /** Build (fullLine, stdoutLine) from sweep results — pure, so
    * BenchLineSpec can pin that the stdout line stays parseable and under
    * the driver's tail-capture bound at worst-case fan-out without
    * running a sweep.
    */
  def buildLines(results: Seq[(String, Double)], errors: Seq[(String, String)],
      requeried: Seq[(String, (Double, Double))], anchorJson: String,
      total: Double, sfDir: String): (String, String) = {
    def qJson(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def errJson(es: Seq[(String, String)]) =
      es.map { case (k, v) => s"\"${esc(k)}\":\"${esc(v)}\"" }
        .mkString("{", ",", "}")
    def reqJson(rq: Seq[(String, (Double, Double))]) =
      rq.map { case (k, (sw, iso)) =>
        f""""$k":{"in_sweep":$sw%.3f,"isolated":$iso%.3f}""" }
        .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":${qJson(results)},"errors":${errJson(errors)},"anchor_worst":$anchorJson,"requeried":${reqJson(requeried)},"sf":"$sfDir"}"""
    // stdout: bounded slices of each map — slowest queries, first errors
    // (sweep order names the first crash), worst requeried by in-sweep time
    val top = results.sortBy(-_._2).take(StdoutTopQueries)
    val errTop = errors.take(StdoutMaxErrors)
    val reqTop = requeried.sortBy { case (_, (sw, _)) => -sw }
      .take(StdoutMaxRequeried)
    val stdoutLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_errors":${errors.size},"n_requeried":${requeried.size},"queries":${qJson(top)},"errors":${errJson(errTop)},"anchor_worst":$anchorJson,"requeried":${reqJson(reqTop)},"sf":"$sfDir","full":"target/bench.json"}"""
    (fullLine, stdoutLine)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the FS cache / codegen / shuffle infra once so per-query numbers
    // measure the query, not first-job session setup. Goes through
    // graft.sources.Tables so per-table read confs (events' nanosAsLong)
    // are applied — a raw spark.read here aborts a job on events.parquet.
    graft.sources.Tables.names.foreach { n =>
      try graft.sources.Tables(spark, sfDir, n).count()
      catch { case e: Throwable =>
        System.err.println(s"warmup failed for $n: ${e.getClass.getSimpleName}") }
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // optional comma-separated query filter for focused runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // N repeats per query (warm, single-JVM timing); the MINIMUM wall time
    // is reported — the least-noise estimator for a fixed plan. DEFAULT 2:
    // full sweeps with a single timed run carried GC/compaction spikes big
    // enough to simulate regressions (r8 driver sweep recorded range_group
    // at 3.21 s vs 0.17 s warm truth — 19× pure noise); min-of-2 ends that
    // class while only ~doubling sweep cost.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(2)
    // steady-state mode (DEFAULT ON; opt out with SPARK_GRAFT_WARMUP_QUERY=0):
    // run each query once UNTIMED first, so a full sweep measures warmed
    // plans instead of first-run JIT/codegen compilation — full-sweep cold
    // numbers diverged up to 20× from focused warm repeats in r5/r6
    // (spearman_corr 29.6 s cold vs 1.41 s warm: a pure measurement
    // artifact the driver-visible record must not carry as a regression)
    val warmupQuery = !sys.env.get("SPARK_GRAFT_WARMUP_QUERY").contains("0")
    // How a query is forced. DEFAULT "noop": write to Spark's built-in no-op
    // data source, which materializes EVERY output column of the exact plan
    // under test. The previous forcing call, .count(), lets Catalyst prune
    // any operator that doesn't change cardinality — a window-only query
    // (scan → window → project → sort) collapses to a scan count, so e.g.
    // window_running "ran" in 0.15 s at sf10 while computing no window at
    // all (caught by the r10 sf10 probe: 60M-row ops timing flat). Same
    // measurement-integrity class as the r8 min-of-2 fix; see SURVEY §7 r10.
    val forceMode = sys.env.getOrElse("SPARK_GRAFT_FORCE", "noop")
    def force(df: org.apache.spark.sql.DataFrame): Unit = forceMode match {
      case "count" => df.count(): Unit
      case _       => df.write.mode("overwrite").format("noop").save()
    }
    // Standing-anchor map, parsed UP FRONT (r13) so the post-sweep
    // re-adjudication pass below can read it; only honored when the
    // anchor's SF dir basename matches the benched one. r15: the 100×
    // sweep is gated too — an sf10 sfDir defaults to the standing sf10
    // anchor (r13 min-of-2 record + r14 adjudicated substitutions), so
    // BENCH_sf10 records carry a non-null anchor_worst and the in-sweep
    // >2× self-requery fires at that SF without manual adjudication.
    val defaultAnchor =
      if (new java.io.File(sfDir).getName == "sf10") "BASELINE_ANCHOR_SF10.json"
      else "BASELINE_ANCHOR.json"
    val anchorMap: Map[String, Double] = parseAnchor(
      sys.env.getOrElse("SPARK_GRAFT_ANCHOR", defaultAnchor), sfDir)
    val sweepResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      if (warmupQuery) {
        try { force(fn(spark, sfDir)) } catch { case _: Throwable => () }
        spark.catalog.clearCache(); CacheRegistry.release()
      }
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        try { force(fn(spark, sfDir)) } catch {
          case e: Throwable =>
            errors(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // ops may persist intermediates; don't let cache accumulate across
        // queries. clearCache drops the BLOCKS; CacheRegistry.release also
        // drains the registry's DataFrame REFERENCES (r17 advice: a
        // 320-query sweep otherwise accumulates tracked plans for the JVM
        // lifetime).
        spark.catalog.clearCache(); CacheRegistry.release()
        dt
      }
      // Shuffle files are reclaimed only when the ContextCleaner GCs the
      // shuffle dependencies; in a sequential single-JVM sweep nothing
      // prompts that GC, so heavy-shuffle queries ACCUMULATE tens of GB in
      // spark.local.dir until the JVM exits (the r10 sf10 probe filled the
      // disk mid-batch this way — 47 GB of dead shuffle from completed
      // queries). An explicit GC after each query lets the cleaner drop
      // them; outside the timed region, so it costs sweep time, not
      // query time.
      System.gc()
      // progress breadcrumb (stderr, so the stdout JSON contract holds):
      // a crashed sweep names its culprit instead of losing the whole map
      System.err.println(f"[bench] $name ${times.min}%.2f s" +
        (if (errors.contains(name)) " ERROR" else ""))
      name -> times.min
    }
    // Self-adjudicating sweep record (r13, verdict item 2): in a sequential
    // single-JVM sweep a query's min-of-2 can still carry GC/compaction
    // contention from its neighbors — r12's official record showed four
    // queries >=2x their anchor (ann_ivf_exact 3.28x) that a focused re-run
    // landed at 1.1-1.9x, so the driver-visible +-2x gate was reading
    // measurement noise. Any query whose in-sweep min exceeded 2x its
    // anchor is re-run ONCE MORE at sweep end (warm, min-of-2, nothing else
    // in flight inside this JVM) and BOTH numbers are recorded
    // ("requeried": {name: {in_sweep, isolated}}); the headline queries map
    // carries the better of the two — the plan's demonstrated capability —
    // so a surviving >=2x entry is a REAL regression, not an artifact.
    val queryFns = SparkEntry.queries
    val requeried = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val results = sweepResults.map { case (name, inSweep) =>
      val suspect = !errors.contains(name) &&
        anchorMap.get(name).exists(a => a >= 0.3 && inSweep > 2 * a)
      if (!suspect) name -> inSweep
      else {
        val fn = queryFns(name)
        val iso = try {
          force(fn(spark, sfDir))
          spark.catalog.clearCache(); CacheRegistry.release(); System.gc()
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            force(fn(spark, sfDir))
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache(); CacheRegistry.release(); System.gc()
            dt
          }
          ts.min
        } catch { case _: Throwable => inSweep }
        requeried(name) = (inSweep, iso)
        System.err.println(f"[bench] requeried $name in_sweep=$inSweep%.2f s isolated=$iso%.2f s")
        name -> math.min(inSweep, iso)
      }
    }
    // The regression GATE reads the ISOLATED value for requeried queries
    // (r14, advice item 2): publishing min(in_sweep, isolated) in the
    // headline map while the anchor takes per-query maxima would let the
    // ±2x gate loosen monotonically over rounds (measurements ratchet
    // down, anchors ratchet up). The queries map still carries the min —
    // the plan's demonstrated capability — but anchor_worst/total_ratio,
    // the numbers the driver gates on, use the clean-room re-run.
    val gateResults = results.map { case (name, v) =>
      name -> requeried.get(name).map(_._2).getOrElse(v)
    }
    val total = results.map(_._2).sum
    // Standing-anchor self-check (r12): compare against the committed r11
    // full-sweep map (BASELINE_ANCHOR.json) so a regression is visible in
    // the bench line itself instead of requiring last round's (possibly
    // broken — r10 was rc=1) BENCH json. Only when the anchor's SF dir
    // basename matches the benched one, and only on queries the anchor
    // timed at >= 0.3 s (below that single-JVM noise dominates — the r8
    // 19x phantom-regression class). Embedded in the JSON line, not a
    // separate stdout line, so the driver's one-line contract holds.
    val anchorJson: String = {
      val shared = gateResults.filter { case (k, _) =>
        anchorMap.get(k).exists(_ >= 0.3) }
      if (shared.isEmpty) "null" else {
        val (wq, wnow) = shared.maxBy { case (k, v) => v / anchorMap(k) }
        val wa = anchorMap(wq)
        val aTot = shared.map { case (k, _) => anchorMap(k) }.sum
        val nTot = shared.map(_._2).sum
        f"""{"query":"$wq","anchor":$wa%.3f,"now":$wnow%.3f,"ratio":${wnow / wa}%.2f,"n_compared":${shared.size},"total_ratio":${nTot / aTot}%.2f}"""
      }
    }
    val (fullLine, stdoutLine) = buildLines(results, errors.toSeq,
      requeried.toSeq, anchorJson, total, sfDir)
    val outs = Seq("target/bench.json") ++ sys.env.get("SPARK_GRAFT_BENCH_OUT")
    outs.foreach { p =>
      val path = java.nio.file.Paths.get(p)
      Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(path,
        fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop() // stop BEFORE printing so no executor shutdown logs trail the JSON
    System.out.flush()
    println(stdoutLine)
    System.out.flush()
  }
}
