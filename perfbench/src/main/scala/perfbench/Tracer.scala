package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

object Tracer {
  /** The local property that carries the phase span id into every job a
    * phase launches; stream threads inherit it from the starting thread. */
  val Key = "perfbench.span"
  val Kinds: Seq[String] = Seq("construct", "plan", "exec")
}

/** In-memory spans (op → stage → call → phase) fed by a `SparkListener`
  * and a `StreamingQueryListener`. Each phase is one span; jobs find their
  * span through the [[Tracer.Key]] job property, tasks through their job's
  * stages. Nothing is written until [[finish]].
  */
final class Tracer(spark: SparkSession) {
  final class Phase(val id: Int, val op: String, val stage: String, val call: String,
      val layer: String, val kind: Int) {
    var startNs, endNs, startMs, endMs = 0L
    var ok = true
    var jobs, tasks = 0L
    var taskMs, shuffleBytes, inputBytes, outputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def wallS: Double = (endNs - startNs) / 1e9

    /** Phase wall during which no task of this phase ran. */
    def gapS: Double = {
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      for ((s0, e0) <- intervals.sortBy(_._1)) {
        val s = math.max(s0, startMs)
        val e = math.min(e0, endMs)
        if (e > s) {
          if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, wallS - covered / 1e3)
    }
  }

  private val phases = new ConcurrentHashMap[Int, Phase]()
  private val stageSpan = new ConcurrentHashMap[Int, Phase]()
  private val opWalls = mutable.ArrayBuffer.empty[(String, Double)]
  private var nextId = 0
  private var current: Array[Phase] = Array.empty
  @volatile private var batches = 0L
  @volatile private var triggerMs = 0L
  @volatile private var commitMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt).getOrElse(-1)
      val p = phases.get(id)
      if (p != null) {
        p.jobs += 1
        e.stageIds.foreach(s => stageSpan.put(s, p))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val p = stageSpan.get(e.stageId)
      if (p != null) {
        p.tasks += 1
        p.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          p.taskMs += m.executorRunTime
          p.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          p.inputBytes += m.inputMetrics.bytesRead
          p.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      batches += 1
      triggerMs += ms("triggerExecution")
      commitMs += ms("walCommit") + ms("commitOffsets")
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Opens the three phase spans of one call; returns their ids. */
  def open(op: String, stage: String, call: String, layer: String): (Int, Int, Int) = {
    current = Tracer.Kinds.indices.map { k =>
      nextId += 1
      val p = new Phase(nextId, op, stage, call, layer, k)
      phases.put(p.id, p)
      p
    }.toArray
    (current(0).id, current(1).id, current(2).id)
  }

  def begin(kind: Int): Unit = { current(kind).startMs = System.currentTimeMillis(); current(kind).startNs = System.nanoTime() }

  def end(kind: Int): Unit = { current(kind).endNs = System.nanoTime(); current(kind).endMs = System.currentTimeMillis() }

  /** A failed call bills nothing. */
  def abort(): Unit = current.foreach(_.ok = false)

  def opWall(op: String, wall: Double): Unit = opWalls += ((op, wall))

  private def billed: Seq[Phase] = phases.values.asScala.toSeq.filter(p => p.ok && p.endNs > 0).sortBy(_.id)

  /** Drains the listener bus and writes one JSON line per phase span and
    * per op to `path`. */
  def finish(path: String): Unit = {
    Bus.drain(spark.sparkContext)
    val w = new PrintWriter(path, "UTF-8")
    try {
      for (p <- billed)
        w.println(s"""{"span":"phase","op":${Json.str(p.op)},"stage":${Json.str(p.stage)},"call":${Json.str(p.call)},"phase":"${Tracer.Kinds(p.kind)}","layer":${Json.str(p.layer)},"wall_s":${p.wallS},"jobs":${p.jobs},"tasks":${p.tasks},"task_s":${p.taskMs / 1e3},"sched_gap_s":${p.gapS},"shuffle_bytes":${p.shuffleBytes},"input_bytes":${p.inputBytes},"output_bytes":${p.outputBytes}}""")
      for ((op, wall) <- opWalls)
        w.println(s"""{"span":"op","op":${Json.str(op)},"wall_s":$wall,"unaccounted_s":${unaccounted(op, wall)}}""")
    } finally w.close()
  }

  private def unaccounted(op: String, wall: Double): Double = wall - billed.filter(_.op == op).map(_.wallS).sum

  /** Per-layer self time and counters, plus the streaming and cache
    * totals, as a JSON object of name → value. */
  def metricsJson(cacheBytes: Long): String = {
    val ps = billed
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers.all) {
      val in = ps.filter(_.layer == l)
      def kind(k: Int) = in.filter(_.kind == k)
      m(s"$l.construct_s") = kind(0).map(_.wallS).sum
      m(s"$l.construct_jobs") = kind(0).map(_.jobs).sum.toDouble
      m(s"$l.plan_s") = kind(1).map(_.wallS).sum
      m(s"$l.exec_s") = kind(2).map(_.wallS).sum
      m(s"$l.jobs") = in.map(_.jobs).sum.toDouble
      m(s"$l.tasks") = in.map(_.tasks).sum.toDouble
      m(s"$l.task_s") = in.map(_.taskMs).sum / 1e3
      m(s"$l.sched_gap_s") = in.map(_.gapS).sum
      m(s"$l.shuffle_bytes") = in.map(_.shuffleBytes).sum.toDouble
      m(s"$l.input_bytes") = in.map(_.inputBytes).sum.toDouble
    }
    m("sources.output_bytes") = ps.filter(_.layer == "sources").map(_.outputBytes).sum.toDouble
    m("streaming.output_bytes") = ps.filter(_.layer == "streaming").map(_.outputBytes).sum.toDouble
    m("streaming.batches") = batches.toDouble
    m("streaming.trigger_s") = triggerMs / 1e3
    m("streaming.commit_s") = commitMs / 1e3
    m("QueryCaches.cache_bytes") = cacheBytes.toDouble
    m("trace.unaccounted_s") = opWalls.map { case (op, w) => unaccounted(op, w) }.sum
    m("trace.other_s") = ps.filter(_.layer == "other").map(_.wallS).sum
    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
  }
}
