package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{CheckpointUtil, SparkEntry, Tables}

/** One benchmark run of one workload: set up the session several times,
  * run one first pass (whose outputs are kept for the output check), then
  * steady passes for the requested seconds. A closed loop with one caller:
  * each call is built, then materialised, before the next one starts.
  *
  * Arguments (all `--name value`): workload, data (generated tables), out
  * (result JSON), check (directory for the check outputs), seconds, trace
  * (0|1), setups, min-passes (steady passes at least), pos-class.
  *
  * With `trace 1` the steady passes alternate untraced and traced, so the
  * run measures its own tracing overhead; the first pass is traced.
  */
object Main {
  private val Group = "perfbench"

  /** Heap in use right after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val calls = Calls.of(workload, a("data"), a("pos-class").toInt)

    // wall clock in ms with sub-ms resolution, aligned to Spark's event times
    val (epoch0, nano0) = (System.currentTimeMillis().toDouble, System.nanoTime())
    def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    // ---- set-up: session creation, repeated; the last session is kept ----
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ledger: Ledger = null
    for (_ <- 1 to a("setups").toInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Tables.localSession(cores, "perfbench")
      if (traced) {
        ledger = new Ledger(Group)
        spark.sparkContext.addSparkListener(ledger)
        spark.listenerManager.register(ledger)
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    // ---- passes ----
    val spans = ArrayBuffer.empty[Map[String, Any]]
    def span(id: String, parent: String, kind: String, name: String, s: Double, e: Double) =
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e)
    val errors = ArrayBuffer.empty[Map[String, Any]]
    var heapPeakMb = 0.0

    // The first pass materialises every call into a parquet file under
    // `check` (what a fresh batch job does with its output; run.py checks
    // these files), steady passes through the `noop` sink.
    val check = a("check")
    def pass(idx: Int, kind: String, trace: Boolean): Map[String, Any] = {
      val pid = s"$Group/$idx"
      val p0 = nowMs
      var probeMs = 0.0
      val out = calls.zipWithIndex.map { case (c, ci) =>
        val cid = s"$pid/$ci"
        def phase(name: String): Unit =
          if (trace) sc.setJobGroup(s"$cid/$name", s"${c.name} $name", interruptOnCancel = false)
        val c0 = nowMs
        var (c1, ok) = (c0, true)
        try {
          phase("build")
          val df = c.run(spark)
          c1 = nowMs
          phase("materialise")
          if (idx == 0) df.write.mode("overwrite").parquet(s"$check/${c.name}")
          else df.write.format("noop").mode("overwrite").save()
        } catch {
          case NonFatal(e) =>
            ok = false
            errors += Map("call" -> c.name, "pass" -> idx, "error" -> e.toString.take(500))
        }
        val c2 = nowMs
        // first pass only, outside the call: the heap the call still holds
        if (idx == 0) {
          heapPeakMb = math.max(heapPeakMb, liveHeapMb())
          probeMs += nowMs - c2
        }
        if (trace) {
          sc.clearJobGroup()
          span(cid, pid, "call", c.name, c0, c2)
          span(s"$cid/build", cid, "build", c.layer, c0, c1)
          span(s"$cid/materialise", cid, "materialise", "sink", c1, c2)
        }
        // not part of the call: free its persists and checkpoint blocks
        spark.catalog.clearCache()
        CheckpointUtil.releaseStragglers()
        Map("name" -> c.name, "ok" -> ok, "build_s" -> (c1 - c0) / 1e3, "latency_s" -> (c2 - c0) / 1e3)
      }
      val p1 = nowMs
      if (trace) span(pid, null, "pass", kind, p0, p1)
      val wall = (p1 - p0 - probeMs) / 1e3
      println(f"pass $idx%d $kind%s $wall%.3fs " +
        out.map(c => f"${c("name")}=${c("latency_s").asInstanceOf[Double]}%.3f").mkString(" "))
      Map("index" -> idx, "kind" -> kind, "traced" -> trace, "wall_s" -> wall, "calls" -> out)
    }

    val passes = ArrayBuffer(pass(0, "first", traced))
    val seconds = a("seconds").toDouble
    val minPasses = a("min-passes").toInt
    val steady0 = System.nanoTime()
    while (passes.size <= minPasses || (System.nanoTime() - steady0) / 1e9 < seconds)
      passes += pass(passes.size, "steady", traced && passes.size % 2 == 0)

    Files.writeString(Paths.get(check, "oracle_sql.json"), Json(
      calls.filter(_.twin).map(c => c.name -> SparkEntry.oracleSql(c.name)).toMap))

    val sparkVersion = spark.version
    spark.stop() // drains the listener bus: the ledger is complete after this

    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> sparkVersion,
      "env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
      "calls" -> calls.map(c => Map("name" -> c.name, "layer" -> c.layer,
        "tables" -> c.tables, "twin" -> c.twin)),
      "setup_s" -> setupS,
      "passes" -> passes,
      "errors" -> errors,
      "heap_peak_mb" -> heapPeakMb,
      "ledger" -> (if (traced) ledgerJson(ledger, spans.toSeq) else null))
    Files.writeString(Paths.get(a("out")), Json(result))
  }

  /** Spans of the whole tree (pass, call, phase from the harness; job and
    * stage from the listener) plus the raw counts, for run.py to reduce. */
  private def ledgerJson(l: Ledger, harnessSpans: Seq[Map[String, Any]]): Map[String, Any] = {
    val jobSpans = l.jobs.values.toSeq.map(j => Map("id" -> s"job/${j.id}", "parent" -> j.group,
      "kind" -> "job", "name" -> j.id.toString, "start_ms" -> j.start, "end_ms" -> j.end))
    val stageSpans = l.stages.toSeq.map { s =>
      val t = l.taskSums.getOrElse((s.id, s.attempt), new Ledger.TaskSums)
      Map("id" -> s"stage/${s.id}.${s.attempt}", "parent" -> s"job/${s.job}", "kind" -> "stage",
        "name" -> s.id.toString, "start_ms" -> s.start, "end_ms" -> s.end,
        "num_tasks" -> s.tasks, "tasks" -> t.tasks, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs,
        "gc_ms" -> t.gcMs, "duration_ms" -> t.durationMs, "fetch_wait_ms" -> t.fetchWaitMs,
        "shuffle_write" -> t.shuffleWrite, "shuffle_read" -> t.shuffleRead, "spill" -> t.spill,
        "written" -> t.written, "write_run_ms" -> t.writeRunMs)
    }
    Map(
      "spans" -> (harnessSpans ++ jobSpans ++ stageSpans),
      "executions" -> l.executions.values.toSeq.map(e => Map("group" -> e.group, "end_ms" -> e.end)),
      "planned" -> l.planned.toSeq.map(p => Map("at_ms" -> p.at, "fallbacks" -> p.fallbacks,
        "files" -> p.files, "phases" -> p.phases.map { case (n, s, e) =>
          Map("name" -> n, "start_ms" -> s, "end_ms" -> e) })),
      "cache" -> l.cacheSamples.toSeq.map { case (t, b, r) => Seq(t, b, r) })
  }
}

/** Minimal JSON encoder for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
