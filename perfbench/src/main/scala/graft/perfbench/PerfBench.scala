package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

final case class OpTiming(name: String, start: Long, end: Long, build: Double, exec: Double,
                          ok: Boolean)

final case class PassTiming(cold: Boolean, traced: Boolean, wall: Double, ops: Seq[OpTiming])

/** Runs one workload in one JVM on `local[4]` and writes `result.json`
  * (timings, layer metrics, workload figures) into the output directory.
  *
  * Usage: PerfBench <workload> <dataDir> <outDir> <warmPasses> <trace 0|1>
  *
  * Order of a run: five session set-ups (the first timed from JVM start),
  * one cold pass that also writes the results the correctness check reads,
  * then the warm passes (at least five with tracing, which mixes untraced
  * and traced passes so that the tracing overhead is measured inside one
  * run).
  */
object PerfBench {
  private val SetUps = 5

  def main(args: Array[String]): Unit = {
    val Array(name, data, out, passesArg, traceArg) = args
    val tracing = traceArg == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads(name, data, out)

    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until SetUps) {
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      spark = GraftSession.builder(master = "local[4]", appName = "perfbench").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      workload.resolveInputs(spark)
      setups += (System.currentTimeMillis() - t0) / 1000.0
      if (i < SetUps - 1) spark.stop()
    }
    val sc = spark.sparkContext
    val trace = new Trace

    def runPass(cold: Boolean, traced: Boolean): PassTiming = {
      if (traced) { sc.addSparkListener(trace); spark.listenerManager.register(trace) }
      val p0 = System.nanoTime()
      val ops = workload.ops.map { op =>
        val start = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var n1 = n0
        val ok = try {
          val df = op.build(spark)
          n1 = System.nanoTime()
          op.sink(df, cold)
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            if (n1 == n0) n1 = System.nanoTime()
            false
        }
        val n2 = System.nanoTime()
        OpTiming(op.name, start, System.currentTimeMillis(), (n1 - n0) / 1e9, (n2 - n1) / 1e9, ok)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) {
        // outside the timed window: let late jobs and queued events land
        trace.settle(sc)
        Thread.sleep(300)
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
      PassTiming(cold, traced, wall, ops)
    }

    val coldPass = runPass(cold = true, traced = tracing)
    val gc0 = gcMillis()
    heapPools.foreach(_.resetPeakUsage())
    // traced runs make one untraced warm-up pass, then order the rest
    // untraced, traced, traced, untraced (repeating), so that what remains
    // of the warm-up trend cancels out of the overhead
    val warmPasses = if (tracing) math.max(5, passesArg.toInt) else passesArg.toInt
    val warm = (0 until warmPasses).map(i =>
      runPass(cold = false, traced = tracing && i > 0 && Set(1, 2)((i - 1) % 4)))
    val warmGcS = (gcMillis() - gc0) / 1000.0 / warm.size
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val passes = coldPass +: warm
    val detail = mutable.LinkedHashMap[String, Double]() ++ workload.detail
    detail("index_bytes") = dirBytes(Paths.get("target"), _.startsWith("idx_serve")).toDouble
    val layers = mutable.LinkedHashMap[String, Double]()
    if (tracing) {
      layers ++= Layers.perPass(trace, passes.filter(p => !p.cold && p.traced), sc.defaultParallelism)
      layers("catalyst.cold_s") = Layers.catalyst(trace, Seq(coldPass))
      val (tr, un) = warm.drop(1).partition(_.traced)
      layers("trace.overhead_s") = median(tr.map(_.wall)) - median(un.map(_.wall))
      detail ++= Layers.perOp(trace, warm.filter(_.traced))
      Spans.write(trace, passes.filter(_.traced), Paths.get(out, "spans.jsonl"))
    }
    layers("jvm.peak_heap_mb") = peakHeapMb
    layers("jvm.gc_s") = warmGcS
    workload match {
      case q: QueryWorkload =>
        Files.writeString(Paths.get(out, "oracle_sql.json"), Json.obj(q.oracles.toSeq.map {
          case (k, v) => k -> Json.str(v) }))
      case k: KMeansWorkload if k.fit != null =>
        Files.writeString(Paths.get(out, "centers.json"),
          "[" + k.fit.centers.map(_.map(_.toString).mkString("[", ",", "]")).mkString(",") + "]")
      case _ =>
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(name),
      "setup_s" -> Json.arr(setups.map(Json.num).toSeq),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "cold" -> p.cold.toString, "traced" -> p.traced.toString, "wall" -> Json.num(p.wall),
        "ops" -> Json.arr(p.ops.map(o => Json.obj(Seq(
          "name" -> Json.str(o.name), "build" -> Json.num(o.build),
          "exec" -> Json.num(o.exec), "ok" -> o.ok.toString)))))))),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj(detail.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(out, "result.json"), result, StandardCharsets.UTF_8)
    spark.stop()
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def dirBytes(root: Path, top: String => Boolean): Long =
    if (!Files.isDirectory(root)) 0L
    else {
      val w = Files.walk(root)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) && top(root.relativize(p).getName(0).toString))
        .map(Files.size).sum
      finally w.close()
    }
}

/** Layer metrics from a [[Trace]], charged to operations by time window. */
object Layers {
  /** Each traced pass's jobs, charged to operations: a job belongs to the
    * operation in whose window it was submitted, and a job submitted after
    * the pass's last operation returned belongs to that operation. The
    * listener is detached between traced passes, so a pass owns every job
    * submitted from its start until the next traced pass.
    */
  def owned(trace: Trace, passes: Seq[PassTiming]): Seq[(OpTiming, Seq[Job])] = {
    val starts = passes.map(_.ops.head.start) :+ Long.MaxValue
    passes.zipWithIndex.flatMap { case (p, pi) =>
      val js = trace.jobs.values.toSeq.filter(j => j.submit >= starts(pi) && j.submit < starts(pi + 1))
      p.ops.zipWithIndex.map { case (o, i) =>
        val next = if (i + 1 < p.ops.size) p.ops(i + 1).start else Long.MaxValue
        o -> js.filter(j => j.submit >= o.start && j.submit < next)
      }
    }
  }

  def catalyst(trace: Trace, passes: Seq[PassTiming]): Double = trace.synchronized {
    val ops = passes.flatMap(_.ops)
    trace.plannings.filter(p => ops.exists(o => p.start >= o.start && p.start <= o.end))
      .map(p => p.analysis + p.optimization + p.planning).sum / 1000.0 / passes.size
  }

  def perPass(trace: Trace, passes: Seq[PassTiming], slots: Int): Map[String, Double] =
    trace.synchronized {
      val n = passes.size.toDouble
      val ops = passes.flatMap(_.ops)
      val owned = this.owned(trace, passes)
      val jobs = owned.flatMap(_._2)
      val stageIds = jobs.flatMap(_.stages).filter(trace.stages.contains)
      val sums = stageIds.flatMap(trace.stageSums.get)
      val busyMs = owned.map { case (o, js) =>
        Intervals.union(js.map(j => (j.submit, if (j.end < 0) o.end else j.end)), o.start, o.end)
      }.sum
      val late = owned.map { case (o, js) => js.count(j => j.end > o.end || j.submit > o.end) }.sum
      val wallMs = ops.map(o => o.end - o.start).sum
      val pl = trace.plannings.filter(p => ops.exists(o => p.start >= o.start && p.start <= o.end))
      val taskMs = sums.map(_.runMs).sum
      Map(
        "spark.jobs" -> jobs.size / n,
        "spark.stages" -> stageIds.size / n,
        "spark.tasks" -> sums.map(_.tasks).sum / n,
        "catalyst.actions" -> pl.size / n,
        "catalyst.analysis_s" -> pl.map(_.analysis).sum / 1000.0 / n,
        "catalyst.optimization_s" -> pl.map(_.optimization).sum / 1000.0 / n,
        "catalyst.planning_s" -> pl.map(_.planning).sum / 1000.0 / n,
        "queries.build_s" -> ops.map(_.build).sum / n,
        "queries.exec_s" -> ops.map(_.exec).sum / n,
        "spark.job_busy_s" -> busyMs / 1000.0 / n,
        "spark.driver_gap_s" -> (wallMs - busyMs) / 1000.0 / n,
        "spark.task_s" -> taskMs / 1000.0 / n,
        "spark.task_cpu_s" -> sums.map(_.cpuNs).sum / 1e9 / n,
        "spark.gc_s" -> sums.map(_.gcMs).sum / 1000.0 / n,
        "spark.slot_use" -> (if (busyMs > 0) taskMs.toDouble / (busyMs * slots) else 0.0),
        "scan.input_bytes" -> sums.map(_.inBytes).sum / n,
        "scan.input_rows" -> sums.map(_.inRows).sum / n,
        "shuffle.read_bytes" -> sums.map(_.shRead).sum / n,
        "shuffle.write_bytes" -> sums.map(_.shWrite).sum / n,
        "spill.bytes" -> sums.map(_.spill).sum / n,
        "output.bytes_written" -> sums.map(_.outBytes).sum / n,
        "spark.late_jobs" -> late / n)
    }

  /** Mean job count per operation and, for the Lloyd operation, the
    * durations of its iteration queries.
    */
  def perOp(trace: Trace, passes: Seq[PassTiming]): Map[String, Double] = trace.synchronized {
    val owned = this.owned(trace, passes)
    val out = mutable.LinkedHashMap[String, Double]()
    owned.groupBy(_._1.name).foreach { case (name, xs) =>
      out(s"op.$name.jobs") = xs.map(_._2.size).sum.toDouble / xs.size
    }
    val lloyd = passes.flatMap(_.ops).filter(_.name == "KMeans.lloyd")
    val iters = lloyd.map { o =>
      trace.execs.values.toSeq.filter(e => e.start >= o.start && e.start <= o.end && e.end > 0)
        .sortBy(_.start).map(e => (e.end - e.start) / 1000.0)
    }
    if (iters.exists(_.nonEmpty)) {
      out("KMeans.first_iter_s") = PerfBench.median(iters.filter(_.nonEmpty).map(_.head))
      out("KMeans.iter_s") = PerfBench.median(iters.flatMap(_.drop(1)))
    }
    out.toMap
  }
}

/** Span records: operation → SQL execution → job → stage. */
object Spans {
  def write(trace: Trace, passes: Seq[PassTiming], path: Path): Unit = trace.synchronized {
    val lines = mutable.ArrayBuffer[String]()
    def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long): Unit =
      lines += Json.obj(Seq("span" -> Json.str(id), "parent" -> Json.str(parent),
        "kind" -> Json.str(kind), "name" -> Json.str(name),
        "start_ms" -> s.toString, "end_ms" -> e.toString))
    val ops = passes.zipWithIndex.flatMap { case (p, pi) =>
      p.ops.zipWithIndex.map { case (o, oi) => (s"op-$pi-$oi", o) } }
    def opOf(t: Long): String = ops.filter(_._2.start <= t).sortBy(_._2.start).lastOption
      .map(_._1).getOrElse("")
    ops.foreach { case (id, o) => span(id, "", "op", o.name, o.start, o.end) }
    trace.execs.values.foreach(e =>
      span(s"exec-${e.id}", opOf(e.start), "query", e.desc.take(120), e.start, e.end))
    trace.jobs.values.foreach(j => span(s"job-${j.id}",
      j.exec.map(x => s"exec-$x").getOrElse(opOf(j.submit)), "job", s"job ${j.id}", j.submit, j.end))
    trace.stages.values.foreach(s =>
      span(s"stage-${s.id}", s"job-${s.job}", "stage", s.name, s.submit, s.end))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
