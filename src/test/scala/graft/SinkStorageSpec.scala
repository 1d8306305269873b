package graft

import graft.cdc.{BucketedSnapshot, MaterializedAgg}
import graft.sources.Changes
import graft.streaming.{ChangeStreamSink, CompactionPolicy, MultiTableChangeSink}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A sink version is a directory ([[BucketedSnapshot]]): both sinks keep
  * nothing in the session catalog, a new sink object reads a committed
  * version without a Spark job, and a version with no rows reads back
  * with its full schema.
  */
class SinkStorageSpec extends SparkSpecBase {

  private val fields = Seq("amount", "kval", "note")

  /** `f`'s result and the Spark jobs it launched: every job the listener
    * bus delivers between two marker jobs.
    */
  private def withJobs[T](f: => T): (T, Int) = {
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
      val out = f
      marker("after")
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("after")) {
        val g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(g != null, "listener bus stalled")
        seen += g
      }
      (out, seen.dropWhile(_ != "before").drop(1).dropRight(1).size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def wire(s: SparkSession, rows: (Long, String, String, String, Map[String, String])*) = {
    import s.implicits._
    rows.toSeq.toDF("block", "table", "pk", "op", "fields")
  }

  private def dataFiles(dir: java.io.File): Seq[String] =
    dir.listFiles().map(_.getName).filter(_.startsWith("part-")).toSeq

  test("no sink source names the session catalog") {
    val forbidden = Seq("saveAsTable", "tableExists", "spark.table(", "CREATE TABLE")
    val sources = Paths.get("src/main/scala/graft/cdc/BucketedSnapshot.scala") +:
      Files.walk(Paths.get("src/main/scala/graft/streaming")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 5, s"scanned only ${sources.size} files")
    val hits = for {
      p <- sources
      text = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      word <- forbidden if text.contains(word)
    } yield s"$p: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("flush loops of both sinks leave the session catalog empty") {
    // a session of its own: other specs' temp views stay out of the listing
    val s = spark.newSession()
    val ch = Changes(s, sfDir)
    val cuts = Seq(0L, 250L, 500L, 750L, Long.MaxValue)
    def batch(i: Int) = ch.filter(col("block") > cuts(i) && col("block") <= cuts(i + 1))
    for ((mod, compaction, mv) <- Seq(("mod_cat_full", None, None),
        ("mod_cat_mor", Some(CompactionPolicy(maxDeltas = 2)), None),
        ("mod_cat_mv", None, Some(MaterializedAgg.MvDef("note", "amount"))))) {
      val dir = Files.createTempDirectory("sink_cat").toString
      val sink = new ChangeStreamSink(dir, mod, fields, compaction = compaction, mv = mv)
      for (i <- 0 until 4) sink.processBatch(batch(i), i.toLong)
      sink.rollbackTo(s, toBatchId = 1, newBatchId = 4)
      assert(sink.latestSnapshot(s).get.count() > 0, mod)
    }
    val mt = new MultiTableChangeSink(Files.createTempDirectory("mt_cat").toString, "mod_cat_mt",
      Changes.multiTableSchemas)
    val w = Changes.multiTable(s, sfDir)
    mt.processBatch(w.filter(col("block") <= 500), 0)
    mt.processBatch(w.filter(col("block") > 500), 1)
    assert(mt.latestSnapshots(s).size == 2)
    assert(s.catalog.listTables().collect().isEmpty,
      s.catalog.listTables().collect().map(_.name).mkString(", "))
  }

  test("a new sink object resolves committed versions with no Spark job") {
    val ch = Changes(spark, sfDir)
    for (compaction <- Seq(None, Some(CompactionPolicy(maxDeltas = 2)))) {
      val dir = Files.createTempDirectory("sink_nojob").toString
      def sink() = new ChangeStreamSink(dir, "mod_nojob", fields, compaction = compaction)
      val first = sink()
      first.processBatch(ch.filter(col("block") <= 500), 0)
      first.processBatch(ch.filter(col("block") > 500), 1)
      val exp = first.latestSnapshot(spark).get.collect().map(_.toSeq).toSet
      val (snap, jobs) = withJobs(sink().latestSnapshot(spark).get)
      assert(jobs == 0, s"$compaction: resolving ran $jobs jobs")
      assert(snap.collect().map(_.toSeq).toSet == exp, s"$compaction")
    }
    val dir = Files.createTempDirectory("mt_nojob").toString
    val w = Changes.multiTable(spark, sfDir)
    val first = new MultiTableChangeSink(dir, "mod_mt_nojob", Changes.multiTableSchemas)
    first.processBatch(w.filter(col("block") <= 500), 0)
    first.processBatch(w.filter(col("block") > 500), 1)
    def state(m: Map[String, DataFrame]) = m.map { case (t, df) => t -> df.collect().map(_.toSeq).toSet }
    val exp = state(first.latestSnapshots(spark))
    val (snaps, jobs) = withJobs(
      new MultiTableChangeSink(dir, "mod_mt_nojob", Changes.multiTableSchemas).latestSnapshots(spark))
    assert(jobs == 0, s"resolving ran $jobs jobs")
    assert(snaps.keySet == Set("accounts", "categories") && state(snaps) == exp)
  }

  test("a batch that deletes every pk leaves an empty version with the full schema") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("sink_empty").toString
    def sink() = new ChangeStreamSink(dir, "mod_empty", fields)
    val first = sink()
    first.processBatch(Seq((1L, 1L, "INSERT", Option(1.0), Option(1L), Option("a")),
      (1L, 2L, "INSERT", Option(2.0), Option.empty[Long], Option.empty[String]))
      .toDF("block", "pk", "op", "amount", "kval", "note"), 0)
    val schema = first.latestSnapshot(spark).get.schema
    first.processBatch(Seq((2L, 1L, "DELETE"), (2L, 2L, "DELETE")).toDF("block", "pk", "op")
      .select(col("block"), col("pk"), col("op"), lit(null).cast("double").as("amount"),
        lit(null).cast("long").as("kval"), lit(null).cast("string").as("note")), 1)
    assert(dataFiles(new java.io.File(
      BucketedSnapshot.path(spark, dir, "mod_empty", "snap", 1).toUri)).isEmpty)
    for ((label, snap) <- Seq("same sink" -> first.latestSnapshot(spark).get,
        "new sink" -> sink().latestSnapshot(spark).get)) {
      assert(snap.schema == schema, label)
      assert(snap.collect().isEmpty, label)
    }

    val mtDir = Files.createTempDirectory("mt_empty").toString
    def mt() = new MultiTableChangeSink(mtDir, "mod_mt_empty", Changes.multiTableSchemas)
    val mtFirst = mt()
    mtFirst.processBatch(wire(spark, (1L, "accounts", "1", "INSERT", Map("amount" -> "1.0")),
      (1L, "accounts", "2", "INSERT", Map("amount" -> "2.0", "note" -> "b"))), 0)
    val mtSchema = mtFirst.latestSnapshots(spark)("accounts").schema
    mtFirst.processBatch(wire(spark, (2L, "accounts", "1", "DELETE", Map.empty[String, String]),
      (2L, "accounts", "2", "DELETE", Map.empty[String, String])), 1)
    assert(dataFiles(new java.io.File(
      BucketedSnapshot.path(spark, mtDir, "mod_mt_empty#accounts", "snap", 1).toUri)).isEmpty)
    for ((label, snaps) <- Seq("same sink" -> mtFirst.latestSnapshots(spark),
        "new sink" -> mt().latestSnapshots(spark))) {
      assert(snaps.keySet == Set("accounts"), label)
      assert(snaps("accounts").schema == mtSchema, label)
      assert(snaps("accounts").collect().isEmpty, label)
    }
  }
}
