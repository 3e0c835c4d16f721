package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One closed-loop operation: `run` executes it and returns the record
  * the output checker needs; `isolated` are the same operation's layer
  * calls, each forced with its own action, run only in traced mode. */
final case class Op(kind: String, run: () => Map[String, Any],
    isolated: Seq[(String, String, () => Unit)] = Nil, endsCycle: Boolean = true)

/** A workload: `setup` builds its serving state from nothing (the
  * harness deletes the state before each set-up repetition), `warmup`
  * runs untimed operations, `next` yields the timed operations in
  * order. */
trait Workload {
  def setup(): Map[String, Double]
  def resetState(): Unit
  def warmup(): Unit
  def next(i: Int): Op
  def detail(): Map[String, Any] = Map.empty
}

/** The benchmark's JVM side. Usage:
  * {{{
  * graft.perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --cpus N [--setup-reps K]
  *   [--break KIND | --corrupt KIND]
  * }}}
  * Writes `ops.jsonl` (one record per timed operation) and `run.json`
  * (set-up times, environment, per-layer figures) into the work dir;
  * `perfbench/run.py` checks the outputs and computes the metrics. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = new File(a("data")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val cpus = a("cpus").toInt
    val setupReps = a.getOrElse("setup-reps", "3").toInt
    // self-test hooks: the first operation of the named kind throws, or
    // returns a wrong record
    var breakKind = a.get("break")
    var corruptKind = a.get("corrupt")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.localBench(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = new Tracer(traced)
    val ctx = Ctx(spark, data, work, a("seed").toLong)
    val w: Workload = workload match {
      case "rag_qa" => new RagQa(ctx)
      case "corpus_pipeline" => new CorpusPipeline(ctx)
      case "lake_upsert" => new LakeUpsert(ctx)
      case "analytics_mix" => new AnalyticsMix(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up repeated from nothing; the median is the set-up cost and
    // the last repetition's state serves the timed loop.
    val setups = (1 to setupReps).map { _ =>
      w.resetState()
      val t0 = System.nanoTime()
      val parts = w.setup()
      hygiene(spark)
      ((System.nanoTime() - t0) / 1e9, parts)
    }
    val w0 = System.nanoTime()
    w.warmup()
    hygiene(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val probe = new Probe(spark.sparkContext)
    val opsOut = new PrintWriter(new File(work, "ops.jsonl"))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var stop = false
    while (!stop) {
      val op = w.next(i)
      // A traced run alternates untraced and traced operations, so the
      // tracing overhead is measured at the same point of JVM warm-up.
      val tracedOp = traced && i % 2 == 1
      if (tracedOp) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val id = s"op$i"
      spark.sparkContext.setLocalProperty(Probe.OpKey, if (tracedOp) id else null)
      probe.currentOp = if (tracedOp) id else null
      tracer.op = id
      val s0 = System.nanoTime()
      val (ok, err, out) =
        try {
          if (breakKind.contains(op.kind)) {
            breakKind = None
            sys.error("deliberately broken operation")
          }
          val r = tracer.span("op", op.kind)(op.run())
          if (corruptKind.contains(op.kind)) {
            corruptKind = None
            (true, "", corrupt(r))
          } else (true, "", r)
        } catch { case e: Throwable =>
          (false, String.valueOf(e).linesIterator.take(1).mkString.take(300), Map.empty[String, Any])
        }
      val lat = (System.nanoTime() - s0) / 1e9
      var layers = Map.empty[String, Any]
      if (tracedOp) {
        probe.drain()
        layers = Map("engine" -> engineRecord(probe.statsFor(id), lat, cpus))
        // each layer call forced alone, after the composed operation;
        // its Spark work is kept apart from the operation's counters
        spark.sparkContext.setLocalProperty(Probe.OpKey, s"$id.isolated")
        probe.currentOp = s"$id.isolated"
        op.isolated.foreach { case (layer, name, f) =>
          try tracer.span(layer, name)(f())
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] isolated $name failed: $e") }
        }
        probe.drain()
        probe.currentOp = null
        spark.listenerManager.unregister(probe)
        spark.sparkContext.removeSparkListener(probe)
      }
      spark.sparkContext.setLocalProperty(Probe.OpKey, null)
      opsOut.println(Json(Map("i" -> i, "kind" -> op.kind, "s" -> lat, "ok" -> ok,
        "err" -> err, "traced" -> tracedOp, "out" -> out) ++ layers))
      opsOut.flush()
      hygiene(spark)
      i += 1
      // a cycle is finished before the window closes, so every run
      // measures whole cycles of the workload's fixed schedule
      stop = elapsed >= seconds && op.endsCycle
    }
    val windowS = elapsed
    opsOut.close()

    val spans = tracer.spans.toSeq
    val self = tracer.selfMs
    val env = Map(
      "cpus" -> cpus, "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version)
    val run = Map(
      "session_s" -> sessionS,
      "setup_reps_s" -> setups.map(_._1),
      "setup_parts" -> setups.map(_._2),
      "warmup_s" -> warmupS,
      "window_s" -> windowS,
      "peak_rss_mb" -> peakRssMb(),
      "env" -> env,
      "detail" -> w.detail(),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "ms" -> s.ms, "self_ms" -> self(s.id))))
    val pw = new PrintWriter(new File(work, "run.json"))
    pw.println(Json(run))
    pw.close()
    spark.stop()
  }

  /** A deliberately wrong output for the self-test: every Long in the
    * record is off by one. */
  private def corrupt[T](v: T): T = (v match {
    case m: Map[_, _] => m.map { case (k, x) => k -> corrupt(x) }
    case xs: Iterable[_] => xs.map(corrupt)
    case xs: Array[_] => xs.map(x => corrupt(x): Any)
    case n: Long => n + 1
    case other => other
  }).asInstanceOf[T]

  /** Inter-operation hygiene, as graft.Bench does it: no cached frame
    * survives into the next operation. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  private def engineRecord(s: OpStats, latS: Double, cpus: Int): Map[String, Any] = Map(
    "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
    "plan_ms" -> s.planMs, "sched_wait_ms" -> s.schedWaitMs,
    "exec_cpu_ms" -> s.cpuNs / 1e6, "exec_run_ms" -> s.runMs,
    "cpu_util" -> s.runMs / 1e3 / math.max(latS * cpus, 1e-9),
    "shuffle_mb" -> s.shuffleBytes / 1048576.0, "spill_mb" -> s.spillBytes / 1048576.0,
    "task_skew" -> s.taskSkew, "gc_ms" -> s.gcMs, "failed_tasks" -> s.failedTasks,
    "scans" -> s.scans, "exchanges" -> s.exchanges, "reused_exchanges" -> s.reusedExchanges)

  /** Peak resident set of this process (Linux VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) return -1.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** What every workload needs from the harness. */
final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long) {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def out(name: String): String = s"$work/out/$name"

  /** The DuckDB oracle SQL of the named registry queries, rendered for
    * this run's input directory, for the output checker. */
  def writeOracles(names: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSqlFor(data).filter { case (n, _) => names.contains(n) }
    val pw = new PrintWriter(new File(work, "oracle_sql.json"))
    try pw.println(Json(sql)) finally pw.close()
  }
}

/** Minimal JSON encoder for the harness's own records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** File helpers for the per-run state. */
object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length

  /** The engine's persistent local state keyed to `dataDir`: the scan
    * mirror and every `buildOnce` sidecar live under `/tmp/graft_<kind>/`
    * in a directory named after the sanitized input path. */
  def rmEngineState(dataDir: String): Unit = {
    val key = graft.queries.Vectors.sanitizeDir(dataDir)
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("graft_"))
      .foreach(d => rm(new File(d, key)))
  }
}
