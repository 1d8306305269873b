package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed interval on the epoch-millisecond clock. `parent` is the id of
  * the span that caused it (0 for a root); spans of one operation share
  * `trace` (e.g. `flush-12`, `q1_agg#2`).
  */
final case class Span(id: Int, parent: Int, name: String, trace: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder for the calls the benchmark makes into graft's
  * layers. Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  /** Run `body` inside a span named `name`; returns the body's result. */
  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, parent, name, trace, t0, nowMs)
        current = parent
      }
    }
}

/** A finished Spark job with the stage metrics summed over its stages. */
final case class JobRec(id: Int, startMs: Double, endMs: Double, source: String,
    site: String,
    tasks: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long,
    spillBytes: Long, bytesWritten: Long, taskMs: Seq[Long])

/** Turns Spark jobs into child spans. Each job is attributed to the graft
  * source file that launched it: AQE stage jobs lose their own call site
  * (it reads `CompletableFuture.java`), so the SQL execution's
  * description — e.g. `saveAsTable at BucketedSnapshot.scala:24` — is
  * consulted first, then its root execution's, then the job's call site
  * (jobs outside SQL executions, such as RDD collects).
  */
final class JobListener extends SparkListener {
  private final class Open(val startMs: Double, val execId: Option[Long],
      val callSites: Seq[String], val stages: Seq[Int])
  private final class StageAcc(val tasks: Long, val cpuNs: Long,
      val gcMs: Long, val shuffleBytes: Long, val spillBytes: Long,
      val bytesWritten: Long)

  private val open = mutable.HashMap.empty[Int, Open]
  private val execs = mutable.HashMap.empty[Long, (String, Option[Long])]
  private val stageAcc = mutable.HashMap.empty[Int, StageAcc]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  def jobs: Seq[JobRec] = synchronized(done.toList)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.description, s.rootExecutionId.map(_.asInstanceOf[Long]))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    // a job outside any SQL execution names its call site in its stages
    val sites = props.flatMap(p => Option(p.getProperty("callSite.short"))).toSeq ++
      e.stageInfos.sortBy(-_.stageId).map(_.name)
    open(e.jobId) = new Open(e.time.toDouble, exec, sites, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stageAcc(i.stageId) = new StageAcc(i.numTasks.toLong,
      m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      val st = o.stages.flatMap(stageAcc.get)
      val (source, site) = sourceOf(o)
      done += JobRec(e.jobId, o.startMs, e.time.toDouble, source, site,
        st.map(_.tasks).sum, st.map(_.cpuNs).sum,
        st.map(_.gcMs).sum, st.map(_.shuffleBytes).sum, st.map(_.spillBytes).sum,
        st.map(_.bytesWritten).sum, o.stages.flatMap(s => taskMs.getOrElse(s, Nil)))
    }
  }

  private val FileRe = """([A-Za-z0-9_$]+)\.(scala|java):\d+""".r

  private def fileOf(s: String): Option[String] =
    FileRe.findFirstMatchIn(Option(s).getOrElse("")).map(_.group(1))
      .filterNot(_ == "CompletableFuture")

  /** (graft source file or "other", the description it was read from). */
  private def sourceOf(o: Open): (String, String) = {
    val desc = o.execId.flatMap(execs.get)
    val root = desc.flatMap(_._2).flatMap(execs.get)
    (desc.map(_._1).toSeq ++ root.map(_._1) ++ o.callSites)
      .flatMap(s => fileOf(s).map(_ -> s)).headOption
      .getOrElse("other" -> (desc.map(_._1).toSeq ++ o.callSites).mkString(" | "))
  }
}

object Intervals {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
