package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import org.apache.spark.perfbench.Bus

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one closed-loop client that calls the
  * engine's registered functions (`SparkEntry.queries`) in the order a
  * plan file gives, and times every call from outside in three phases —
  * construction (the function call itself), planning (forcing the
  * executed plan) and execution (materialising through the `noop` sink).
  *
  * Args: `<plan file> <result file> <seconds> <trace 0|1> <trace file>`.
  *
  * Plan file lines, tab-separated:
  *   `warmup  <dir>  <query,...>` — calls on a throwaway input before timing
  *   `op  <round>  <id>  <dir>  <rows>  <dump>  <stage:q1,q2;stage:q3>`
  *   `min_rounds  <n>` — rounds to run even past `seconds`
  *   `oracle  <query,...>` — extra oracle SQL to hand to the checker
  * Ops run in order; a new round starts only while the run is younger
  * than `seconds`, so every run attempts whole rounds. `dump` is `all`,
  * `none` or a comma list: those calls' results go to parquet under
  * `<result file>.d/<id>/<query>` (untimed) for the out-of-process check.
  */
object Main {
  final case class Op(round: Int, id: String, dir: String, rows: Long,
      dump: String, stages: Seq[(String, Seq[String])])

  final case class CallRec(op: String, stage: String, query: String, layer: String,
      ok: Boolean, construct: Double, plan: Double, exec: Double, error: String)

  def main(args: Array[String]): Unit = {
    val Array(planFile, resultFile, secondsArg, traceArg, traceFile) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val lines = Files.readAllLines(Paths.get(planFile)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val warmups = lines.filter(_.head == "warmup").map(l => (l(1), l(2).split(",").toSeq))
    val ops = lines.filter(_.head == "op").map { l =>
      Op(l(1).toInt, l(2), l(3), l(4).toLong, l(5),
        l(6).split(";").toSeq.map { s => val Array(st, qs) = s.split(":"); (st, qs.split(",").toSeq) })
    }
    val minRounds = lines.find(_.head == "min_rounds").map(_(1).toInt).getOrElse(1)
    val oracleNames = (ops.flatMap(_.stages.flatMap(_._2)) ++
      lines.filter(_.head == "oracle").flatMap(_(1).split(","))).distinct

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val tmp = System.getProperty("java.io.tmpdir")
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startS = (System.nanoTime() - t0) / 1e9

    val queries = SparkEntry.queries
    def span(id: Int): Unit = spark.sparkContext.setLocalProperty(Tracer.Key, id.toString)

    // warm-up on a throwaway input: every failure is printed, and a
    // failed warm-up call is not retried or hidden
    val tw = System.nanoTime()
    var warmupErrors = 0
    for ((dir, qs) <- warmups; q <- qs) {
      try materialize(queries(q)(spark, dir))
      catch { case NonFatal(e) =>
        warmupErrors += 1
        System.err.println(s"[perfbench] warm-up $q failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val warmupS = (System.nanoTime() - tw) / 1e9
    // the trace starts after the warm-up's events are delivered, so the
    // streaming totals count timed drains only
    val tracer = if (traced) { Bus.drain(spark.sparkContext); Some(new Tracer(spark)) } else None

    val calls = mutable.ArrayBuffer.empty[CallRec]
    val opWalls = mutable.ArrayBuffer.empty[(String, Int, Double, Long)]
    val firstOpEpochMs = System.currentTimeMillis()
    val runStart = System.nanoTime()
    var round = -1
    var roundsDone = 0
    var stop = false
    val dumpRoot = resultFile + ".d"
    for (op <- ops if !stop) {
      if (op.round != round) {
        if (round >= 0) roundsDone += 1
        if (roundsDone >= minRounds && (System.nanoTime() - runStart) / 1e9 >= seconds) stop = true
        round = op.round
      }
      if (!stop) {
        var untimedNs = 0L
        val opStart = System.nanoTime()
        for ((stage, qs) <- op.stages; q <- qs) {
          val layer = Layers.of(queries(q))
          val ids = tracer.map(_.open(op.id, stage, q, layer))
          var df: DataFrame = null
          val rec = try {
            ids.foreach(i => span(i._1)); tracer.foreach(_.begin(0))
            val a = System.nanoTime()
            df = queries(q)(spark, op.dir)
            val b = System.nanoTime()
            tracer.foreach(_.end(0)); ids.foreach(i => span(i._2)); tracer.foreach(_.begin(1))
            df.queryExecution.executedPlan
            val c = System.nanoTime()
            tracer.foreach(_.end(1)); ids.foreach(i => span(i._3)); tracer.foreach(_.begin(2))
            materialize(df)
            val d = System.nanoTime()
            tracer.foreach(_.end(2))
            CallRec(op.id, stage, q, layer, ok = true, (b - a) / 1e9, (c - b) / 1e9, (d - c) / 1e9, "")
          } catch { case NonFatal(e) =>
            tracer.foreach(_.abort())
            System.err.println(s"[perfbench] ${op.id} $q failed: ${e.getClass.getName}: ${e.getMessage}")
            CallRec(op.id, stage, q, layer, ok = false, 0, 0, 0, s"${e.getClass.getName}: ${e.getMessage}")
          }
          span(-1)
          // untimed: result dumps for the out-of-process check (a dump
          // that cannot be written fails that check)
          val u0 = System.nanoTime()
          if (rec.ok && (op.dump == "all" || op.dump.split(",").contains(q))) {
            try df.coalesce(1).write.mode("overwrite").parquet(s"$dumpRoot/${op.id}/$q")
            catch { case NonFatal(e) =>
              System.err.println(s"[perfbench] ${op.id} $q result read-back failed: ${e.getMessage}")
            }
          }
          untimedNs += System.nanoTime() - u0
          calls += rec
        }
        val wall = (System.nanoTime() - opStart - untimedNs) / 1e9
        opWalls += ((op.id, op.round, wall, op.rows))
        tracer.foreach(_.opWall(op.id, wall))
      }
    }
    val runS = (System.nanoTime() - runStart) / 1e9

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val heapMb = retainedHeapMb()

    val layerJson = tracer.map { t =>
      t.finish(traceFile)
      t.metricsJson(cacheBytes)
    }.getOrElse("{}")

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""first_op_epoch_ms":$firstOpEpochMs,"start_s":$startS,"warmup_s":$warmupS,"warmup_errors":$warmupErrors,"""
    out ++= s""""run_s":$runS,"gc_s":$gcS,"cache_bytes":$cacheBytes,"heap_mb":$heapMb,"rounds":${roundsDone + (if (round >= 0 && !stop) 1 else 0)},"""
    out ++= "\"ops\":" + opWalls.map { case (id, r, w, rows) =>
      s"""{"id":${Json.str(id)},"round":$r,"wall":$w,"rows":$rows}""" }.mkString("[", ",", "]") + ","
    out ++= "\"calls\":" + calls.map { c =>
      s"""{"op":${Json.str(c.op)},"stage":${Json.str(c.stage)},"query":${Json.str(c.query)},"layer":${Json.str(c.layer)},"ok":${c.ok},"construct":${c.construct},"plan":${c.plan},"exec":${c.exec},"error":${Json.str(c.error)}}"""
    }.mkString("[", ",", "]") + ","
    out ++= "\"layers\":" + layerJson + ","
    out ++= "\"oracles\":" + oracleNames.flatMap(q => SparkEntry.oracleSql.get(q).map(sql =>
      s"${Json.str(q)}:${Json.str(sql)}")).mkString("{", ",", "}")
    out ++= "}"
    Files.writeString(Paths.get(resultFile), out.toString)
    // the caller removes every file this run wrote; stopping the context
    // or running shutdown hooks would only add seconds to each run
    Runtime.getRuntime.halt(0)
  }

  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Heap in use after full collections, repeated until it settles: a
    * collection lets Spark's context cleaner release the broadcasts and
    * shuffles of unreachable plans, which frees more on the next one. */
  def retainedHeapMb(): Double = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = prev
    var i = 0
    while (i < 8 && { Thread.sleep(250); cur = used(); math.abs(cur - prev) > prev / 100 }) { prev = cur; i += 1 }
    cur / 1048576.0
  }
}

/** Bills each registered function to the engine module that owns it: a
  * registered function is a lambda whose class is named after the object
  * that defines it, so the billing follows the module, not a name list.
  */
object Layers {
  val all: Seq[String] = Seq("sources", "ops.relational", "ops.features", "ops.distrank",
    "ops.dedup", "ops.corpus", "ops.ann", "ml", "streaming")

  def owner(fn: AnyRef): String = fn.getClass.getName.split("\\$\\$")(0).stripSuffix("$")

  def of(fn: AnyRef): String = {
    val cls = owner(fn)
    val simple = cls.split('.').last
    def any(ps: String*) = ps.exists(simple.startsWith)
    if (cls.startsWith("graft.sources.") || cls.startsWith("graft.tables.")) "sources"
    else if (cls.startsWith("graft.streaming.")) "streaming"
    else if (cls.startsWith("graft.ml.")) "ml"
    else if (cls.startsWith("graft.plans.")) "ops.relational"
    else if (!cls.startsWith("graft.ops.")) "other"
    else if (any("Relational", "AsOf", "Analytics")) "ops.relational"
    else if (any("Features")) "ops.features"
    else if (any("DistRank")) "ops.distrank"
    else if (any("Dedup", "HotBucket", "Pipeline")) "ops.dedup"
    else if (any("Corpus", "Bpe", "Redact", "Text", "QualityGate")) "ops.corpus"
    else if (any("Similarity", "GraphAnn")) "ops.ann"
    else "other"
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
