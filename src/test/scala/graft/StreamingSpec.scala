package graft

import graft.cdc.{ChangeLoader, CursorStore}
import graft.sources.Changes
import graft.streaming.{ChangeRow, ChangeStreamSink, CompactionPolicy, FlushPolicy, StatefulMerge, StreamOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

class StreamingSpec extends SparkSpecBase {

  private def changeRows(maxBlock: Long = Long.MaxValue): Seq[ChangeRow] = {
    import org.apache.spark.sql.Row
    Changes(spark, sfDir).filter(col("block") <= maxBlock).collect().toSeq.map {
      case Row(block: Long, pk: Long, op: String, amount, kval, note) =>
        ChangeRow(block, pk, op,
          Option(amount).map(_.asInstanceOf[Double]),
          Option(kval).map(_.asInstanceOf[Long]),
          Option(note).map(_.asInstanceOf[String]))
    }
  }

  test("StatefulMerge stream state equals batch collapse") {
    implicit val s = spark
    import s.implicits._
    val rows = changeRows().sortBy(_.block)
    val (h1, h2) = rows.splitAt(rows.size / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[ChangeRow]
    val q = StatefulMerge(in.toDS())
      .writeStream.format("memory").queryName("sm").outputMode("update").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    // last emitted state per pk:
    val got = spark.sql("select * from sm").collect()
      .groupBy(_.getLong(0)).map { case (_, g) => g.maxBy(_.getLong(1)) }
      .map(r => (r.getLong(0), r.getBoolean(2), Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))
      .toSet
    val exp = ChangeLoader.collapse(Changes(spark, sfDir), Seq("amount", "kval", "note"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(2), Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))
      .toSet
    assert(got == exp)
  }

  test("ChangeStreamSink: incremental batches + replay are exactly-once") {
    val dir = Files.createTempDirectory("sink").toString
    val sink = new ChangeStreamSink(dir, "mod_a", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    val b0 = ch.filter(col("block") <= 300)
    val b1 = ch.filter(col("block") > 300 && col("block") <= 700)
    val b2 = ch.filter(col("block") > 700)
    sink.processBatch(b0, 0)
    sink.processBatch(b1, 1)
    sink.processBatch(b1, 1) // replay of a completed batch: must be a no-op
    sink.processBatch(b2, 2)
    val store = new CursorStore(s"$dir/cursor", spark)
    val cur = store.readWithBatch("mod_a").get
    assert(cur._2 == 2 && cur._1.blockNum == ch.agg(max("block")).collect()(0).getLong(0))
    // final snapshot == one-shot collapse+apply of the whole feed
    val fields = Seq("amount", "kval", "note")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields)
      .collect().map(_.toSeq).toSet
    val got = sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet
    assert(got == exp)
  }

  test("ChangeStreamSink end-to-end on a real stream") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("sink_e2e").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[ChangeRow]
    in.addData(changeRows(500))
    val sink = new ChangeStreamSink(dir, "mod_b", Seq("amount", "kval", "note"))
    val q = sink.start(in.toDF(), s"$dir/ckpt", Trigger.AvailableNow())
    q.awaitTermination(60000)
    val snap = sink.latestSnapshot(spark)
    assert(snap.isDefined && snap.get.count() > 0)
  }

  test("crash after each flush step: replay lands the batch exactly once") {
    val fields = Seq("amount", "kval", "note")
    val ch = Changes(spark, sfDir)
    val (b0, b1) = (ch.filter(col("block") <= 500), ch.filter(col("block") > 500))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    def state(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val exp = state(ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields))
    val head = ch.agg(max("block")).collect()(0).getLong(0)
    // what a flush of batch 1 has left on disk when it dies, in protocol
    // order: snapshot version, stats entry, cursor temp file (never renamed)
    val steps = Seq("snapshot written, no cursor", "stats entry written, cursor not renamed",
      "cursor temp file written, not renamed")
    steps.zipWithIndex.foreach { case (step, n) =>
      val dir = Files.createTempDirectory("sink_crash").toString
      val sink = new ChangeStreamSink(dir, "mod_k", fields)
      sink.processBatch(b0, 0)
      val at0 = state(sink.latestSnapshot(spark).get)
      graft.cdc.BucketedSnapshot.write(sink.latestSnapshot(spark).get.limit(1), // wrong on purpose
        dir, sink.snapTable(1), buckets = 8)
      if (n >= 1) new graft.streaming.SinkStats(s"$dir/stats", spark).record(
        graft.streaming.FlushStat("mod_k", 1, 999999, 0, 1, 1, 1))
      if (n >= 2) Files.write(java.nio.file.Paths.get(s"$dir/cursor",
          graft.cdc.MetadataLog.escape("mod_k"), s".1.json.${java.util.UUID.randomUUID()}.tmp"),
        """{"moduleHash":"mod_k","cursor":"lost","blockNum":999999,"blockId":"lost"}""".getBytes)
      val store = new CursorStore(s"$dir/cursor", spark)
      assert(!store.committed("mod_k", 1), step)
      assert(state(sink.latestSnapshot(spark).get) == at0, s"$step: reader view moved")
      sink.processBatch(b1, 1) // the replay
      assert(state(sink.latestSnapshot(spark).get) == exp, step)
      val cur = store.readWithBatch("mod_k").get
      assert(cur._2 == 1 && cur._1.blockNum == head, s"$step: $cur")
      val stats = new graft.streaming.SinkStats(s"$dir/stats", spark).log().get
        .orderBy("batchId").collect()
      assert(stats.map(_.getAs[Long]("batchId")).toSeq == Seq(0L, 1L), step)
      assert(stats(1).getAs[Long]("nOps") == b1.count() &&
        stats(1).getAs[Long]("maxBlock") == head, step)
    }
  }

  test("a new process resumes from the committed cursor: versions re-register from baseDir") {
    val fields = Seq("amount", "kval", "note")
    val ch = Changes(spark, sfDir)
    val batches = Seq(ch.filter(col("block") <= 300),
      ch.filter(col("block") > 300 && col("block") <= 700), ch.filter(col("block") > 700))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    def state(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def oneShot(upTo: Long) = state(ChangeLoader.applyBatch(empty,
      ChangeLoader.collapse(ch.filter(col("block") <= upTo), fields), fields))
    val head = ch.agg(max("block")).collect()(0).getLong(0)
    // full snapshots, and merge-on-read (batches 0 and 1 are delta versions)
    for (compaction <- Seq(None, Some(CompactionPolicy(maxDeltas = 2)))) {
      val dir = Files.createTempDirectory("sink_resume").toString
      def sink() = new ChangeStreamSink(dir, "mod_res", fields, compaction = compaction)
      val first = sink()
      first.processBatch(batches(0), 0)
      first.processBatch(batches(1), 1)
      // batch 2's snapshot landed, its cursor did not
      graft.cdc.BucketedSnapshot.write(first.latestSnapshot(spark).get.limit(1), // wrong on purpose
        dir, first.snapTable(2), buckets = 8)
      // a new process: the session catalog has never seen this sink's tables
      val prefix = first.snapTable(0).stripSuffix("_v0")
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix))
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      val resumed = sink()
      assert(state(resumed.latestSnapshot(spark).get) == oneShot(700), s"$compaction")
      resumed.processBatch(batches(2), 2) // the replay of batch 2
      assert(state(resumed.latestSnapshot(spark).get) == oneShot(Long.MaxValue), s"$compaction")
      val cur = new CursorStore(s"$dir/cursor", spark).readWithBatch("mod_res").get
      assert(cur._2 == 2 && cur._1.blockNum == head, s"$compaction: $cur")
    }
  }

  test("sink records per-flush stats and computes reference-style rates") {
    val dir = Files.createTempDirectory("sink_stats").toString
    val sink = new ChangeStreamSink(dir, "mod_s", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 500), 0)
    sink.processBatch(ch.filter(col("block") > 500), 1)
    val stats = new graft.streaming.SinkStats(s"$dir/stats", spark)
    val log = stats.log().get.collect()
    assert(log.length == 2)
    assert(log.map(_.getAs[Long]("nOps")).sum == ch.count())
    val rates = stats.rates().get.collect()
    assert(rates.length == 1)
    val r = rates(0)
    assert(r.getAs[Long]("entries") == ch.count())
    assert(r.getAs[Double]("entries_per_sec") > 0)
  }

  /** Every node of a physical plan: through AQE wrappers, and into the
    * plan a cached relation is built from (where the sink's one delta
    * exchange lives).
    */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
    case o => o +: o.children.flatMap(planNodes)
  }

  private def bucketedScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec => f.bucketedScan
    case _ => false
  }

  test("sink flush shuffles only the delta: bucketed snapshot side never re-shuffles") {
    val dir = Files.createTempDirectory("sink_delta").toString
    val sink = new ChangeStreamSink(dir, "mod_delta", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    val fields = Seq("amount", "kval", "note")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // broadcast must not mask the shuffle
    try {
      val cuts = Seq(0L, 250L, 500L, 750L, Long.MaxValue)
      for (i <- 0 until 4) {
        val b = ch.filter(col("block") > cuts(i) && col("block") <= cuts(i + 1))
        sink.processBatch(b, i.toLong)
        if (i > 0) {
          // the apply join itself shuffles nothing: the snapshot side is a
          // bucketed scan and the delta side reads the pk-partitioned cache
          val sinkAudit = sink.lastApplyAudit.get
          assert(sinkAudit.shuffles == 0, s"batch $i: $sinkAudit")
          // the whole flush, cache build included, has exactly one
          // exchange, and it is on the delta side: no bucketed snapshot
          // scan below it, one beside it
          val nodes = planNodes(sink.lastApply.get.queryExecution.executedPlan)
          val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }.distinct
          assert(exchanges.size == 1, s"batch $i: ${exchanges.size} exchanges")
          assert(!planNodes(exchanges.head).exists(bucketedScan),
            s"batch $i: the exchange re-shuffles the snapshot")
          assert(nodes.exists(bucketedScan), s"batch $i: the snapshot side is not a bucketed scan")
        }
      }
      // unchanged contents: final snapshot == one-shot collapse+apply
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
      val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields)
        .collect().map(_.toSeq).toSet
      val got = sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet
      assert(got == exp)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("a live one-block flush onto a bucketed snapshot runs at most 6 Spark jobs") {
    val fields = Seq("amount", "kval", "note")
    val ch = Changes(spark, sfDir)
    val live = ch.agg(max("block")).collect()(0).getLong(0)
    val dir = Files.createTempDirectory("sink_jobs").toString
    val sink = new ChangeStreamSink(dir, "mod_jobs", fields,
      policy = Some(FlushPolicy(headBlock = live)))
    sink.processBatch(ch.filter(col("block") < live), 0)
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobGroup(name, name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("before")
      sink.processBatch(ch.filter(col("block") === live), 1)
      marker("after")
      // the bus delivers in order: every job between the markers is the flush's
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("after")) {
        val g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(g != null, "listener bus stalled")
        seen += g
      }
      val flushJobs = seen.dropWhile(_ != "before").drop(1).dropRight(1).size
      assert(flushJobs >= 1 && flushJobs <= 6, s"live flush ran $flushJobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(new CursorStore(s"$dir/cursor", spark).read("mod_jobs").get.blockNum == live)
  }

  test("every version of the packed rewrite holds one file per non-empty bucket") {
    val fields = Seq("amount", "kval", "note")
    val ch = Changes(spark, sfDir)
    val dir = Files.createTempDirectory("sink_files").toString
    // two units per micro-batch, and a scan size that packs the 8 buckets
    // into 2 write tasks
    val sink = new ChangeStreamSink(dir, "mod_files", fields,
      policy = Some(FlushPolicy(flushInterval = 250)))
    val prev = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try {
      val cuts = Seq(-1L, 499L, Long.MaxValue)
      for (i <- 0 until 2)
        sink.processBatch(ch.filter(col("block") > cuts(i) && col("block") <= cuts(i + 1)), i.toLong)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.minPartitionNum", v)
      case None => spark.conf.unset("spark.sql.files.minPartitionNum")
    }
    val bids = new CursorStore(s"$dir/cursor", spark).allBatches("mod_files")
    assert(bids.size >= 3, s"versions $bids")
    bids.foreach { bid =>
      val t = sink.snapTable(bid)
      val files = new java.io.File(graft.cdc.BucketedSnapshot.path(spark, dir, t).toUri)
        .listFiles().map(_.getName).filter(_.startsWith("part-")).toSeq
      val fileBuckets = files.map(f => BucketingUtils.getBucketId(f).get)
      val rowBuckets = spark.table(t).select(pmod(hash(col("pk")), lit(8))).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(fileBuckets.size == fileBuckets.toSet.size && fileBuckets.toSet == rowBuckets,
        s"$t: files $files for buckets $rowBuckets")
    }
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields)
      .collect().map(_.toSeq).toSet
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == exp)
  }

  test("one sink dir spelled relative or absolute names the same versions") {
    val fields = Seq("amount", "kval", "note")
    val ch = Changes(spark, sfDir)
    val abs = Files.createTempDirectory("sink_rel").toAbsolutePath
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs).toString
    val viaRel = new ChangeStreamSink(rel, "mod_rel", fields)
    viaRel.processBatch(ch.filter(col("block") <= 500), 0)
    val at0 = viaRel.latestSnapshot(spark).get.collect().map(_.toSeq).toSet
    // a new process: the session catalog has never seen the versions
    val prefix = viaRel.snapTable(0).stripSuffix("_v0")
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE $t"))
    val viaAbs = new ChangeStreamSink(abs.toString, "mod_rel", fields)
    assert(viaAbs.snapTable(0) == viaRel.snapTable(0))
    assert(viaAbs.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == at0)
    viaAbs.processBatch(ch.filter(col("block") > 500), 1)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields)
      .collect().map(_.toSeq).toSet
    assert(viaAbs.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == exp)
  }

  test("stats entries written with nPks still read through log() and rates()") {
    val dir = Files.createTempDirectory("sink_oldstats").toString
    val old = java.nio.file.Paths.get(s"$dir/stats", graft.cdc.MetadataLog.escape("mod_old"))
    Files.createDirectories(old)
    Files.write(old.resolve("0.json"), ("""{"moduleHash":"mod_old","batchId":0,"maxBlock":10,""" +
      """"minBlock":1,"nOps":5,"nPks":3,"flushMillis":7,"wallMillis":9}""").getBytes)
    val stats = new graft.streaming.SinkStats(s"$dir/stats", spark)
    stats.record(graft.streaming.FlushStat("mod_old", 1, 20, 11, 4, 6, 8))
    val log = stats.log().get
    assert(!log.columns.contains("nPks"))
    assert(log.orderBy("batchId").collect().map(r =>
      (r.getAs[Long]("batchId"), r.getAs[Long]("nOps"), r.getAs[Long]("maxBlock"))).toSeq ==
      Seq((0L, 5L, 10L), (1L, 4L, 20L)))
    val r = stats.rates().get.collect().head
    assert(r.getAs[Long]("entries") == 9 && r.getAs[Long]("flushes") == 2)
  }

  test("rollback restores an earlier snapshot version (reorg handling)") {
    val dir = Files.createTempDirectory("sink_rb").toString
    val sink = new ChangeStreamSink(dir, "mod_rb", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 400), 0)
    val snapAt0 = sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet
    sink.processBatch(ch.filter(col("block") > 400), 1)
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet != snapAt0)
    intercept[IllegalArgumentException](
      sink.rollbackTo(spark, toBatchId = 0, newBatchId = 1)) // collides with committed batch
    sink.rollbackTo(spark, toBatchId = 0, newBatchId = 2)
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == snapAt0)
    // the re-committed cursor carries batch 0's BLOCK number, not a batch id
    val blk0 = ch.filter(col("block") <= 400).agg(max("block")).collect()(0).getLong(0)
    val cur = new CursorStore(s"$dir/cursor", spark).read("mod_rb").get
    assert(cur.blockNum == blk0, s"rollback cursor blockNum ${cur.blockNum} != $blk0")
  }

  test("merge-on-read: delta flushes write O(delta), compaction materializes") {
    val dir = Files.createTempDirectory("sink_mor").toString
    val fields = Seq("amount", "kval", "note")
    val sink = new ChangeStreamSink(dir, "mod_mor", fields,
      compaction = Some(CompactionPolicy(maxDeltas = 2)))
    val ch = Changes(spark, sfDir)
    val cuts = Seq(0L, 250L, 500L, 750L, Long.MaxValue)
    for (i <- 0 until 4)
      sink.processBatch(ch.filter(col("block") > cuts(i) && col("block") <= cuts(i + 1)), i.toLong)
    // batches 0,1 are deltas; batch 2 compacts; batch 3 is a delta again
    def exists(t: String) = spark.catalog.tableExists(t)
    val deltaNames = (0 to 3).map(i => sink.snapTable(i.toLong).replace(s"_v$i", s"_d$i"))
    val baseNames = (0 to 3).map(i => sink.snapTable(i.toLong))
    assert(exists(deltaNames(0)) && exists(deltaNames(1)) && exists(deltaNames(3)),
      "batches 0,1,3 must be delta flushes")
    assert(exists(baseNames(2)) && !exists(deltaNames(2)), "batch 2 must compact")
    assert(!exists(baseNames(0)) && !exists(baseNames(1)) && !exists(baseNames(3)))
    // a delta table is O(batch): exactly one row per pk touched by the
    // batch, regardless of snapshot size
    val deltaRows = spark.table(deltaNames(3)).count()
    val batchPks = ch.filter(col("block") > 750)
      .select("pk").distinct().count()
    assert(deltaRows == batchPks, s"delta $deltaRows != batch pks $batchPks")
    // composed read equals the one-shot result
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields)
      .collect().map(_.toSeq).toSet
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == exp)
    // rollback to a DELTA version materializes the composed state
    sink.rollbackTo(spark, toBatchId = 1, newBatchId = 4)
    val expAt1 = ChangeLoader.applyBatch(empty,
      ChangeLoader.collapse(ch.filter(col("block") <= 500), fields), fields)
      .collect().map(_.toSeq).toSet
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == expAt1)
  }

  test("size-based compaction: byte threshold trips on ACCUMULATED deltas") {
    import spark.implicits._
    val fields = Seq("amount", "kval", "note")
    // identical-shape batches → near-identical delta bytes (deterministic trip)
    def batch(i: Int) = (1 to 50).map { k =>
      (i * 100L + k, (k % 25).toLong, "INSERT",
        Some(k * 1.0), Some(k.toLong), Some("x" * 20))
    }.toDF("block", "pk", "op", "amount", "kval", "note")
    def bytesOf(dir: String, table: String): Long = {
      val p = java.nio.file.Paths.get(graft.cdc.BucketedSnapshot.path(spark, dir, table).toUri)
      java.nio.file.Files.walk(p).filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
    }
    def deltaName(s: ChangeStreamSink, i: Int) =
      s.snapTable(i.toLong).replace(s"_v$i", s"_d$i")
    // probe one delta's size with a count-only policy that never trips
    val probeDir = Files.createTempDirectory("sink_szp").toString
    val probe = new ChangeStreamSink(probeDir, "mod_szp", fields,
      compaction = Some(CompactionPolicy(maxDeltas = 100)))
    probe.processBatch(batch(0), 0)
    assert(spark.catalog.tableExists(deltaName(probe, 0)), "probe flush must be a delta")
    val unit = bytesOf(probeDir, deltaName(probe, 0))
    // threshold 2.5 units: flushes 0-2 stay deltas (0, 1, 2 units pending),
    // flush 3 sees ~3 units pending ≥ 2.5 → materializes
    val dir = Files.createTempDirectory("sink_sz").toString
    val sink = new ChangeStreamSink(dir, "mod_sz", fields,
      compaction = Some(CompactionPolicy(maxDeltas = 100,
        maxDeltaBytes = (2.5 * unit).toLong)))
    for (i <- 0 to 3) sink.processBatch(batch(i), i.toLong)
    def exists(t: String) = spark.catalog.tableExists(t)
    assert((0 to 2).forall(i => exists(deltaName(sink, i))),
      "flushes below the byte threshold must stay deltas")
    assert(exists(sink.snapTable(3)) && !exists(deltaName(sink, 3)),
      "crossing the byte threshold must materialize the base")
    // count bound still holds independently: maxDeltas=2 compacts 3rd flush
    val dir2 = Files.createTempDirectory("sink_szc").toString
    val sink2 = new ChangeStreamSink(dir2, "mod_szc", fields,
      compaction = Some(CompactionPolicy(maxDeltas = 2)))
    for (i <- 0 to 2) sink2.processBatch(batch(i), i.toLong)
    assert(exists(deltaName(sink2, 0)) && exists(deltaName(sink2, 1)))
    assert(exists(sink2.snapTable(2)), "maxDeltas bound must force compaction")
    // composed read stays correct across the policy-driven layout
    val all = (0 to 3).map(batch).reduce(_.unionAll(_))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      all.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(all, fields), fields)
      .collect().map(_.toSeq).toSet
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == exp)
  }

  test("flush cadence: historical modulo batches, per-block at the live edge") {
    val dir = Files.createTempDirectory("sink_cadence").toString
    val fields = Seq("amount", "kval", "note")
    // head at block 951: blocks 1..950 are historical (flush every 200),
    // 951..1000 live (flush each block) — sinker.go:180-194 semantics
    val sink = new ChangeStreamSink(dir, "mod_c", fields,
      policy = Some(FlushPolicy(flushInterval = 200, headBlock = 951)))
    val ch = Changes(spark, sfDir).filter(col("block") <= 1000)
    sink.processBatch(ch, 0)
    val stats = new graft.streaming.SinkStats(s"$dir/stats", spark).log().get
      .orderBy("batchId").collect()
    val nLiveBlocks = ch.filter(col("block") >= 951)
      .select("block").distinct().count()
    // historical units: ceil-ish buckets 0..4 (blocks 1..950, div 200)
    val histUnits = ch.filter(col("block") < 951)
      .selectExpr("block div 200 as u").distinct().count()
    assert(stats.length == histUnits + nLiveBlocks,
      s"${stats.length} flushes != $histUnits historical + $nLiveBlocks live")
    // every live flush carries exactly one block; cursor ends at the head
    val live = stats.filter(_.getAs[Long]("maxBlock") >= 951)
    assert(live.forall(r => r.getAs[Long]("maxBlock") == r.getAs[Long]("minBlock")))
    val cur = new CursorStore(s"$dir/cursor", spark).read("mod_c").get
    assert(cur.blockNum == ch.agg(max("block")).collect()(0).getLong(0))
    // final snapshot identical to a single-flush sink over the same feed
    val exp = ChangeLoader.applyBatch(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema),
      ChangeLoader.collapse(ch, fields), fields).collect().map(_.toSeq).toSet
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == exp)
  }

  test("multi-unit batch: one source scan total, driver collect is O(units)") {
    val dir = Files.createTempDirectory("sink_units").toString
    val fields = Seq("amount", "kval", "note")
    val sink = new ChangeStreamSink(dir, "mod_u", fields,
      policy = Some(FlushPolicy(flushInterval = 200))) // all historical
    val ch = Changes(spark, sfDir).filter(col("block") <= 1000)
    val nRows = ch.count()
    val nUnits = ch.selectExpr("block div 200 as u").distinct().count()
    assert(nUnits > 1, "test needs a multi-unit batch")
    // instrument the source: the accumulator counts rows SCANNED, so
    // scans-of-source == acc / nRows
    val acc = spark.sparkContext.longAccumulator("src_rows")
    val tick = udf { (b: Long) => acc.add(1); b }.asNondeterministic()
    sink.processBatch(ch.withColumn("block", tick(col("block"))), 0)
    // (b) exactly ONE pass over the micro-batch source: the persist-first
    // cache is materialized by the unit-derivation scan; every sub-flush
    // reads the cache, not the source
    assert(acc.value == nRows,
      s"source scanned ${acc.value.toDouble / nRows}× (expected exactly 1×)")
    // (a) one flush per unit — the driver-side units array is the distinct
    // of the unit EXPRESSION (O(units) rows), never the raw blocks
    val stats = new graft.streaming.SinkStats(s"$dir/stats", spark).log().get.collect()
    assert(stats.length == nUnits, s"${stats.length} flushes != $nUnits units")
    // contents unchanged: final snapshot == one-shot collapse+apply
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val exp = ChangeLoader.applyBatch(empty, ChangeLoader.collapse(ch, fields), fields)
      .collect().map(_.toSeq).toSet
    assert(sink.latestSnapshot(spark).get.collect().map(_.toSeq).toSet == exp)
  }

  test("cursor mismatch modes: ignore/warn/error") {
    val dir = Files.createTempDirectory("cursor").toString
    val store = new CursorStore(dir, spark)
    store.commit(graft.cdc.Cursor("hash_x", "c1", 10, "b10"), 0)
    assert(store.readWithMismatch("hash_x", "error").get.blockNum == 10)
    // r17 (ADVICE item 1): BOTH warn and ignore adopt the cursor at the
    // highest block — run.go's flag doc: "If 'ignore' is set, we pick the
    // cursor at the highest block number and use it as the starting
    // point"; warn = ignore + a logged warning. The pre-r17 ignore
    // (start fresh) inverted that.
    assert(store.readWithMismatch("hash_y", "ignore").get.moduleHash == "hash_x")
    assert(store.readWithMismatch("hash_y", "warn").get.moduleHash == "hash_x")
    intercept[IllegalStateException](store.readWithMismatch("hash_y", "error"))
    // the adopted candidate is each module's RESOLVED cursor at the highest
    // block, not the highest-block raw log row: overwrite hash_x down to
    // block 5 — the resolved cursor (batch 1) must win over the stale row
    store.commit(graft.cdc.Cursor("hash_x", "c2", 5, "b5"), 1)
    assert(store.readWithMismatch("hash_y", "ignore").get.blockNum == 5)
  }

  test("two active sinks sharing a module hash start without name collision") {
    // Spark rejects duplicate ACTIVE query names; the per-start nonce in
    // ChangeStreamSink.start must keep restart-while-prior-active legal.
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = changeRows(maxBlock = 100)
    val in1 = MemoryStream[ChangeRow]
    val in2 = MemoryStream[ChangeRow]
    in1.addData(rows); in2.addData(rows)
    val d1 = Files.createTempDirectory("sink-nonce1").toString
    val d2 = Files.createTempDirectory("sink-nonce2").toString
    val sink1 = new ChangeStreamSink(d1, "mod_shared", Seq("amount", "kval", "note"))
    val sink2 = new ChangeStreamSink(d2, "mod_shared", Seq("amount", "kval", "note"))
    val q1 = sink1.start(in1.toDF(), s"$d1/ckpt", Trigger.AvailableNow())
    val q2 = sink2.start(in2.toDF(), s"$d2/ckpt", Trigger.AvailableNow()) // must not throw
    assert(q1.name.startsWith("mod_shared-") && q2.name.startsWith("mod_shared-"))
    assert(q1.name != q2.name)
    q1.awaitTermination(60000); q2.awaitTermination(60000)
  }

  test("windowed counts on a stream emit watermark-closed windows matching batch") {
    implicit val s = spark
    import s.implicits._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .collect().sortBy(_._4.getTime)
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val q = StreamOps.windowedCounts(
        in.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"))
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from wc").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.nonEmpty)
    val batch = StreamOps.windowedCounts(
      spark.createDataFrame(ev.toSeq).toDF("event_id", "user_id", "event_type", "ts", "value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.subsetOf(batch)) // emitted = closed windows; all must match batch
  }

  test("windowed CDF probe counters on a stream match batch on closed windows") {
    implicit val s = spark
    import s.implicits._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .collect().sortBy(_._4.getTime)
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val q = StreamOps.windowedCdf(
        in.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"))
      .writeStream.format("memory").queryName("wcdf").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    val got = spark.sql("select * from wcdf").collect().map(key).toSet
    assert(got.nonEmpty, "no closed windows emitted")
    val batch = StreamOps.windowedCdf(
      spark.createDataFrame(ev.toSeq).toDF("event_id", "user_id", "event_type", "ts", "value"))
      .collect().map(key).toSet
    assert(got.subsetOf(batch),
      "streamed probe counters must equal the batch shape on closed windows")
    // counters are monotone in the probe and bounded by n
    got.foreach { case (_, _, n, a, b, c, d, e) =>
      assert(a <= b && b <= c && c <= d && d <= e && e <= n)
    }
  }

  test("windowed DISTINCT users on a stream (chained stateful ops) match batch") {
    implicit val s = spark
    import s.implicits._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .collect().sortBy(_._4.getTime)
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val q = StreamOps.windowedUniques(
        in.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"))
      .writeStream.format("memory").queryName("wu").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from wu").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "no closed windows emitted")
    val batch = StreamOps.windowedUniques(
      spark.createDataFrame(ev.toSeq).toDF("event_id", "user_id", "event_type", "ts", "value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got.subsetOf(batch),
      "streamed distinct counts must equal the batch shape on closed windows")
  }

  test("stream topk_state cells → offline topk_merge equals replaying the raw events") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .collect().sortBy(_._4.getTime)
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val q = StreamOps.windowedTopKState(
        in.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"))
      .writeStream.format("memory").queryName("ts_cells").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val cells = spark.sql("select * from ts_cells")
    val closed = cells.select("day").distinct().collect().map(_.getString(0)).toSet
    assert(closed.nonEmpty, "no closed windows emitted")
    // offline re-aggregation of the streamed cells at a COARSER grain
    // (per type, across all closed days) — no event replay
    val merged = cells.groupBy("event_type")
      .agg(concat_ws(",", call_function("topk_merge",
        col("st"), lit(3), lit(8192))).as("top_users"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // ground truth: one-pass topK over the raw events of those same days
    val replay = spark.createDataFrame(ev.toSeq)
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .filter(date_format(col("ts"), "yyyy-MM-dd").isInCollection(closed))
      .groupBy("event_type")
      .agg(concat_ws(",", call_function("topk_approx",
        col("user_id").cast("string"), lit(3), lit(8192))).as("top_users"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(merged == replay,
      "offline merge of streamed cells diverged from replaying the events")
  }

  test("windowed topK on a stream: typed-imperative agg state survives batches") {
    implicit val s = spark
    import s.implicits._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .collect().sortBy(_._4.getTime)
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, java.sql.Timestamp, Double)]
    val q = StreamOps.windowedTopK(
        in.toDF().toDF("event_id", "user_id", "event_type", "ts", "value"))
      .writeStream.format("memory").queryName("wt").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val got = spark.sql("select * from wt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2))).toSet
    assert(got.nonEmpty, "no closed windows emitted")
    // a closed window's top list must equal the batch shape EXACTLY — the
    // space-saving buffer merged across micro-batches without approximation
    // (capacity ≥ distinct users per group at this SF)
    val batch = StreamOps.windowedTopK(
      spark.createDataFrame(ev.toSeq).toDF("event_id", "user_id", "event_type", "ts", "value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[String](2))).toSet
    assert(got.subsetOf(batch),
      "streamed topK must equal the batch shape on closed windows")
  }

  test("windowed PSI drift on a stream matches the batch shape on closed windows") {
    implicit val s = spark
    import s.implicits._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("event_id", "ts", "props")
      .as[(Long, java.sql.Timestamp, String)]
      .collect().sortBy(_._2.getTime)
    // fixed baseline: the corpus decile marginal, as a real deployment
    // would precompute offline and ship broadcast with the job
    val kRe = "\"k\"\\s*:\\s*(-?\\d+)".r
    val deciles = ev.map(_._3).flatMap(p =>
      kRe.findFirstMatchIn(p).map(m => Math.floorDiv(m.group(1).toLong, 10L)))
    val counts = deciles.groupBy(identity).view.mapValues(_.size).toMap
    val total = counts.values.sum
    val shares = (0 until 10).map(i => counts(i.toLong).toDouble / total)
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamOps.windowedPsi(
        in.toDF().toDF("event_id", "ts", "props"), shares)
      .writeStream.format("memory").queryName("wpsi").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2))
    val got = spark.sql("select * from wpsi").collect().map(key).toSet
    assert(got.nonEmpty, "no closed windows emitted")
    val batch = StreamOps.windowedPsi(
      spark.createDataFrame(ev.toSeq).toDF("event_id", "ts", "props"), shares)
      .collect().map(key).toSet
    assert(got.subsetOf(batch),
      "streamed PSI must equal the batch shape on closed windows")
    // PSI of the whole corpus against its own marginal is ~0 only per-day;
    // each term is finite — NaN/Inf would mean a zero-cell leaked the guard
    got.foreach { case (_, _, psi) => assert(!psi.isNaN && !psi.isInfinite) }
  }

  test("windowed z-score anomaly on a stream matches the batch shape on closed windows") {
    implicit val s = spark
    import s.implicits._
    val ev = graft.sources.Tables(spark, sfDir, "events")
      .selectExpr("ts", "event_type", "value")
      .as[(java.sql.Timestamp, String, Double)]
      .collect().sortBy(_._1.getTime)
    // fixed per-type baseline (mean, std of exact daily cents totals) as a
    // real deployment precomputes offline and ships with the job
    def cents(v: Double) =
      (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong
    def day(ts: java.sql.Timestamp) =
      java.time.Instant.ofEpochMilli(ts.getTime)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val baseline = ev.groupBy(_._2).map { case (t, es) =>
      val daily = es.groupBy(e => day(e._1))
        .map { case (_, ds) => ds.map(e => BigInt(cents(e._3))).sum }.toSeq
      val k = daily.length
      val swD = daily.sum.toDouble
      val sww = daily.map(x => x * x).sum.toDouble
      val varN = sww - swD * swD / k
      val std = if (k > 1 && varN > 0) math.sqrt(varN / (k - 1)) else 0.0
      (t, swD / k, std)
    }.toSeq
    val (h1, h2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamOps.windowedAnomaly(
        in.toDF().toDF("ts", "event_type", "value"), baseline)
      .writeStream.format("memory").queryName("wanom").outputMode("append").start()
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -9999.0 else r.getDouble(4)) // NULL sentinel (set-safe)
    val got = spark.sql("select * from wanom").collect().map(key).toSet
    assert(got.nonEmpty, "no closed windows emitted")
    val batch = StreamOps.windowedAnomaly(
      spark.createDataFrame(ev.toSeq).toDF("ts", "event_type", "value"), baseline)
      .collect().map(key).toSet
    assert(got.subsetOf(batch),
      "streamed anomaly rows must equal the batch shape on closed windows")
    // every emitted z against the corpus's own baseline is finite
    got.foreach { case (_, _, _, _, z) =>
      assert(!z.isNaN && !z.isInfinite)
    }
  }
}
