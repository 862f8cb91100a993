package perfbench

import org.apache.spark.perfbench.{JobRec, StageRec}
import perfbench.Main.{Harness, PassRec}

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Turns the recorded passes into the metrics, the human report on stdout,
  * the result file, and (traced runs) the span file. */
object Report {

  /** The end-to-end metrics in the summary line of an untraced run.
    * `first_pass_s` is reported beside them but left out: one cold pass per
    * run did not repeat within a tenth from run to run (README). */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "storage_peak_mb" -> "MB")

  /** The per-layer metrics in the summary line of a traced run. */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.register_s" -> "s", "sources.views_s" -> "s", "sources.cache_s" -> "s",
    "sources.recache_s" -> "s",
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count", "queries.warm_s" -> "s",
    "caching.persisted_rdds" -> "count", "caching.checkpoints" -> "count",
    "caching.cache_scans" -> "count", "caching.reuse_ratio" -> "ratio",
    "caching.clear_s" -> "s", "caching.release_s" -> "s",
    "functions.aggregator.wide_s" -> "s", "functions.native.wide_s" -> "s",
    "functions.aggregator.narrow_s" -> "s", "functions.native.narrow_s" -> "s",
    "functions.state_mb" -> "MB",
    "catalyst.plan_s" -> "s", "catalyst.plan_nodes" -> "count",
    "catalyst.exchanges" -> "count", "catalyst.codegen_s" -> "s",
    "exec.s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.parallel_eff" -> "ratio", "exec.sched_delay_s" -> "s",
    "exec.driver_gap_s" -> "s", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "trace.overhead_s" -> "s")

  /** Counts that must repeat exactly in every traced pass (and across
    * runs, which compare.py checks). */
  val repeated = Seq("exec.jobs", "queries.construct_jobs", "caching.persisted_rdds",
    "catalyst.exchanges")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val MB = 1e6

  /** Total time covered by the union of the intervals, clipped to `w`. */
  def covered(w: (Double, Double), xs: Seq[(Double, Double)]): Double = {
    var end = w._1
    var total = 0.0
    xs.map { case (a, b) => (math.max(a, w._1), math.min(b, w._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Per-layer values of one traced pass. */
  def layers(h: Harness, p: PassRec): ListMap[String, Double] = {
    val r = h.recorder
    def jobs(call: String, phase: String): (Seq[JobRec], Seq[StageRec]) = {
      val (js, ss) = r.forCall(call)
      val keep = js.filter(_.phase == phase)
      val ids = keep.map(_.id).toSet
      (keep, ss.filter(s => ids(s.job)))
    }
    val execJobs = p.calls.toSeq.map(c => jobs(c.id, "exec"))
    val execStages = execJobs.flatMap(_._2)
    val allStages = (p.calls.map(_.id) ++ p.steps.map(s => s"p${p.index}/boundary/${s.family}"))
      .distinct.toSeq.flatMap(id => r.forCall(id)._2)
    def ms(s: Seq[StageRec], f: StageRec => Long): Double = s.map(f).sum.toDouble
    // wall time inside construct and exec with no job of that phase running
    val gap = p.calls.map { c =>
      def idle(w: (Double, Double), phase: String): Double = {
        val spans = jobs(c.id, phase)._1.map(j =>
          (j.start - h.epochOffsetMs, (if (j.end > 0) j.end else j.start) - h.epochOffsetMs))
        (w._2 - w._1) - covered(w, spans)
      }
      idle(c.construct, "construct") + idle(c.exec, "exec")
    }.sum / 1e3
    val persisted = p.persisted.size.toDouble
    val opScans = p.calls.map(_.opCacheScans).sum.toDouble
    val narrow = p.calls.filter(_.group.endsWith(".narrow"))
    val narrowShuffle = narrow.flatMap(c => jobs(c.id, "exec")._2).map(_.shuffleWrite).sum
    def group(g: String) = p.calls.filter(_.group == g).map(_.wallS).sum
    ListMap(
      "sources.register_s" -> h.registerS,
      "sources.views_s" -> h.viewsS,
      "sources.cache_s" -> h.cacheS,
      "sources.recache_s" -> p.step("recache"),
      "queries.construct_s" -> p.calls.map(_.constructS).sum,
      "queries.construct_jobs" -> p.calls.map(c => jobs(c.id, "construct")._1.size).sum.toDouble,
      "queries.warm_s" -> p.step("warm"),
      "caching.persisted_rdds" -> persisted,
      "caching.checkpoints" -> p.checkpoints.size.toDouble,
      "caching.cache_scans" -> p.calls.map(_.cacheScans).sum.toDouble,
      "caching.reuse_ratio" -> (if (persisted > 0) opScans / persisted else 0.0),
      "caching.clear_s" -> p.step("clear"),
      "caching.release_s" -> p.step("release"),
      "functions.aggregator.wide_s" -> group("aggregator.wide"),
      "functions.native.wide_s" -> group("native.wide"),
      "functions.aggregator.narrow_s" -> group("aggregator.narrow"),
      "functions.native.narrow_s" -> group("native.narrow"),
      "functions.state_mb" -> (if (narrow.isEmpty) 0.0 else narrowShuffle / MB / narrow.size),
      "catalyst.plan_s" -> p.calls.map(_.planS).sum,
      "catalyst.plan_nodes" -> p.calls.map(_.planNodes).sum.toDouble,
      "catalyst.exchanges" -> p.calls.map(_.exchanges).sum.toDouble,
      "exec.s" -> p.calls.map(_.execS).sum,
      "exec.task_run_s" -> ms(execStages, _.runMs) / 1e3,
      "exec.gc_s" -> ms(execStages, _.gcMs) / 1e3,
      "exec.jobs" -> execJobs.map(_._1.size).sum.toDouble,
      "exec.stages" -> execStages.count(_.tasks > 0).toDouble,
      "exec.tasks" -> execStages.map(_.tasks).sum.toDouble,
      "exec.parallel_eff" -> ms(allStages, _.runMs) / 1e3 / (p.wallS * h.o.cores),
      "exec.sched_delay_s" -> ms(execStages, _.schedMs) / 1e3,
      "exec.driver_gap_s" -> gap,
      "exec.shuffle_write_mb" -> ms(execStages, _.shuffleWrite) / MB,
      "exec.shuffle_read_mb" -> ms(execStages, _.shuffleRead) / MB,
      "exec.spill_mb" -> ms(execStages, _.spill) / MB)
  }

  final case class Failure(pass: Int, kind: String, name: String, error: String)

  def failures(passes: Seq[PassRec]): Seq[Failure] = passes.flatMap { p =>
    p.calls.flatMap(c => c.error.map(Failure(p.index, "call", c.name, _))) ++
      p.steps.flatMap(s => s.error.map(Failure(p.index, s.kind, s.family, _)))
  }

  def attempted(passes: Seq[PassRec]): Int = passes.map(p => p.calls.size + p.steps.size).sum

  def write(h: Harness, passes: Seq[PassRec]): Unit = {
    val o = h.o
    val cold = passes.head
    val timed = passes.filter(p => p.timed && !p.traced)
    val traced = passes.filter(p => p.timed && p.traced)
    var fails = failures(passes)
    var tries = attempted(passes)
    val layerByPass = traced.map(p => p -> layers(h, p))
    // the counts later changes cite must repeat exactly in every traced pass
    if (traced.nonEmpty) {
      tries += repeated.size
      fails ++= repeated.flatMap { m =>
        val vs = layerByPass.map(_._2(m)).distinct
        if (vs.size > 1) Some(Failure(-1, "repeat", m, s"differs across traced passes: ${vs.mkString(", ")}"))
        else None
      }
    }
    val passS = median(timed.map(_.wallS))
    val storageMb = passes.map(_.storagePeak).max / MB
    val e2e = ListMap("setup_s" -> h.setupS, "first_pass_s" -> cold.wallS, "pass_s" -> passS,
      "storage_peak_mb" -> storageMb)
    val layerMed: ListMap[String, Double] = ListMap(perLayer.map(_._1).map {
      case m @ "trace.overhead_s" => m -> (median(traced.map(_.wallS)) - passS)
      case m @ "catalyst.codegen_s" => m -> cold.codegenS
      case m => m -> median(layerByPass.map(_._2(m)))
    }: _*)

    val metrics = if (o.trace) perLayer.map { case (m, u) => m -> ListMap("value" -> layerMed(m), "unit" -> u) }
      else endToEnd.map { case (m, u) => m -> ListMap("value" -> e2e(m), "unit" -> u) }
    val summary = ListMap("correct" -> fails.isEmpty, "attempted" -> tries,
      "failed" -> fails.size, "metrics" -> ListMap(metrics: _*))

    // ---- human report ------------------------------------------------------
    val out = new StringBuilder
    def line(s: String): Unit = out ++= s + "\n"
    def walls(ps: Seq[PassRec]) = ps.map(p => f"${p.wallS}%.3f").mkString(" ")
    line(s"perfbench workload=${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"cores=${o.cores} spark=${org.apache.spark.SPARK_VERSION} scala=${scala.util.Properties.versionNumberString}")
    line(s"  input: ${h.workload.inputSize}")
    line(f"  setup_s          ${h.setupS}%10.4f s   (JVM start to first call: session ${h.sessionS}%.3f, " +
      f"register ${h.registerS}%.3f, views ${h.viewsS}%.3f, cache ${h.cacheS}%.3f)")
    line(f"  first_pass_s     ${cold.wallS}%10.4f s   (cold: JIT, codegen ${cold.codegenS}%.3f s, class loading)")
    line(f"  pass_s           $passS%10.4f s   (median of ${timed.size} timed passes over the input above; " +
      s"all passes: ${walls(passes)})")
    line(f"  storage_peak_mb  $storageMb%10.3f MB")
    line(s"  attempted ${tries}, failed ${fails.size} (calls and boundary steps)")
    fails.foreach(f => line(s"  FAILED pass ${f.pass} ${f.kind} ${f.name}: ${f.error}"))
    val failedS = passes.flatMap(_.calls).filter(_.error.nonEmpty).map(_.wallS).sum
    if (fails.nonEmpty) line(f"  seconds spent in failed calls (inside the pass times): $failedS%.3f")
    if (o.trace) {
      line(s"  per-layer (median of ${traced.size} traced timed passes; codegen from the cold pass):")
      layerMed.foreach { case (m, v) => line(f"    $m%-32s $v%12.4f") }
      line(f"    (reuse_ratio base: ${layerMed("caching.persisted_rdds")}%.0f operator persists per pass)")
    }
    print(out)

    // ---- files -------------------------------------------------------------
    val env = ListMap("cores" -> o.cores, "tables" -> h.dir, "table_seed" -> Main.TableSeed,
      "seed" -> o.seed, "jvm" -> o.jvm, "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark" -> org.apache.spark.SPARK_VERSION, "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"), "git_commit" -> o.gitCommit,
      "source_sha256" -> o.sourceSha, "master" -> h.sc.master,
      "shuffle_partitions" -> h.spark.conf.get("spark.sql.shuffle.partitions"),
      "calibration" -> h.calibration)
    val passJson = passes.map { p =>
      ListMap("index" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS,
        "codegen_s" -> p.codegenS, "storage_peak_mb" -> p.storagePeak / MB,
        "steps" -> p.steps.map(s => ListMap("family" -> s.family, "step" -> s.kind, "s" -> s.s, "error" -> s.error)),
        "calls" -> p.calls.map { c =>
          val jobs = if (p.traced) Some(h.recorder.forCall(c.id)._1.groupBy(_.phase)
            .map { case (k, v) => k -> v.size }) else None
          ListMap("name" -> c.name, "construct_s" -> c.constructS, "plan_s" -> c.planS,
            "exec_s" -> c.execS, "error" -> c.error, "jobs" -> jobs,
            "plan_nodes" -> c.planNodes, "exchanges" -> c.exchanges,
            "cache_scans" -> c.cacheScans, "operator_cache_scans" -> c.opCacheScans)
        },
        "layers" -> layerByPass.find(_._1 eq p).map(_._2))
    }
    val doc = ListMap("summary" -> summary, "env" -> env, "workload" -> o.workload,
      "input" -> h.workload.inputSize, "seconds" -> o.seconds,
      "warmup_passes" -> passes.count(_.kind == "warm"),
      "report" -> ListMap("setup_s" -> h.setupS, "session_s" -> h.sessionS,
        "register_s" -> h.registerS, "views_s" -> h.viewsS, "cache_s" -> h.cacheS,
        "first_pass_s" -> cold.wallS, "pass_s" -> passS, "timed_passes" -> timed.size,
        "storage_peak_mb" -> storageMb, "inputs_s" -> h.inputsS, "check_s" -> h.checkS,
        "failed_call_s" -> failedS),
      "failures" -> fails.map(f => ListMap("pass" -> f.pass, "kind" -> f.kind, "name" -> f.name, "error" -> f.error)),
      "per_layer" -> (if (o.trace) Some(layerMed) else None),
      "passes" -> passJson)
    writeFile(o.result, Json(doc))
    if (o.trace) writeFile(s"${o.buildDir}/results/${o.workload}-seed${o.seed}-spans.json", Json(spanDoc(h)))
  }

  /** pass → boundary → step and pass → call → phase → job → stage, each
    * span with its self time. Jobs of untraced passes are not recorded. */
  def spanDoc(h: Harness): Map[String, Any] = {
    val r = h.recorder
    val all = mutable.ArrayBuffer.empty[Main.Span] ++ h.spans
    val jobSpan = mutable.Map.empty[Int, Int]
    def add(parent: Int, kind: String, name: String, t0: Long, t1: Long): Int = {
      all += Main.Span(all.size + 1, parent, kind, name, t0 - h.epochOffsetMs,
        math.max(t0, t1) - h.epochOffsetMs)
      all.size
    }
    r.jobs.foreach { j =>
      h.phaseSpans.get((j.call, j.phase)).foreach { parent =>
        jobSpan(j.id) = add(parent, "job", s"job${j.id}", j.start, j.end)
      }
    }
    r.stages.values.filter(s => s.submit > 0 && jobSpan.contains(s.job)).foreach { s =>
      add(jobSpan(s.job), "stage", s"stage${s.id}", s.submit, s.end)
    }
    val children = all.groupBy(_.parent)
    val t0 = all.map(_.startMs).min
    ListMap("time_unit" -> "ms since the first span", "spans" -> all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      val self = (s.endMs - s.startMs) - covered((s.startMs, s.endMs), kids)
      ListMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start" -> (s.startMs - t0), "end" -> (s.endMs - t0), "self" -> self)
    })
  }

  def writeFile(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, text)
  }
}
