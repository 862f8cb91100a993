package perfbench

import org.apache.spark.perfbench.Recorder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark JVM: sets up one workload, runs a cold pass, warm-up
  * passes and timed passes, checks every call, and writes the result file
  * that run.py turns into the summary line. See perfbench/README.md.
  */
object Main extends AdaptiveSparkPlanHelper {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, jvm: String, buildDir: String, tables: String, result: String,
      sourceSha: String, gitCommit: String, expected: String,
      selftest: Boolean, record: Boolean, curve: Int)

  /** Seed the registry tables were generated with: the fingerprints in
    * expected.tsv were recorded on them. The run's --seed drives the monoid
    * inputs. */
  val TableSeed = 42L
  /** No timed pass starts after this many seconds since JVM start, so a
    * run ends well inside the 180 s limit even on a slow host. */
  val PassDeadlineS = 125.0
  /** Untimed warm passes after the cold first pass, set from each
    * workload's measured per-pass curve (README, "Warm-up"). */
  val WarmupPasses = Map("monoid" -> 1, "graph" -> 1, "dedup" -> 4)
  /** Timed passes of a run. The count is fixed, so every run times the
    * same passes of the warm-up curve; `--seconds` only adds passes on a
    * host fast enough to finish these sooner. A traced run makes at least
    * four, alternately traced and untraced. */
  val TimedPasses = Map("monoid" -> 2, "graph" -> 2, "dedup" -> 2)

  // ---- one executed call or boundary step --------------------------------

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startMs: Double, endMs: Double)

  /** One call; phase windows are (start, end) in [[now]] milliseconds. */
  final case class CallRec(name: String, family: String, group: String, id: String,
      construct: (Double, Double), plan: (Double, Double), exec: (Double, Double),
      error: Option[String], planNodes: Int, exchanges: Int, cacheScans: Int,
      opCacheScans: Int) {
    private def s(w: (Double, Double)) = (w._2 - w._1) / 1e3
    def constructS: Double = s(construct)
    def planS: Double = s(plan)
    def execS: Double = s(exec)
    def wallS: Double = constructS + planS + execS
  }

  final case class StepRec(family: String, kind: String, s: Double, error: Option[String])

  /** kind: "cold" (the first pass), "warm" (untimed) or "timed". */
  final class PassRec(val index: Int, val kind: String, val traced: Boolean) {
    var wallS = 0.0
    var codegenS = 0.0
    val calls = ArrayBuffer.empty[CallRec]
    val steps = ArrayBuffer.empty[StepRec]
    val persisted = mutable.Set.empty[Int]
    val checkpoints = mutable.Set.empty[Int]
    var storagePeak = 0L
    def timed: Boolean = kind == "timed"
    def step(kind: String): Double = steps.filter(_.kind == kind).map(_.s).sum
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // room for every class the registry families generate: at the
      // default 100 entries the graph family evicted and recompiled about
      // 3 s of generated code in every warm pass
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    val code = try run(spark, o) finally spark.stop()
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val flags = Set("--selftest", "--record")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "true"; i += 1 }
      else { kv(args(i)) = args(i + 1); i += 2 }
    }
    Opts(kv.getOrElse("--workload", ""), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--cores").toInt, kv("--jvm"), kv("--build-dir"),
      kv("--tables"), kv("--result"), kv("--source-sha"), kv("--git-commit"),
      kv("--expected"), kv.contains("--selftest"), kv.contains("--record"),
      kv.getOrElse("--curve", "0").toInt)
  }

  def now(): Double = System.nanoTime() / 1e6
  def secs(t0: Double): Double = (now() - t0) / 1e3

  /** Epoch ms at which this JVM started: set-up is timed from here. */
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  private def run(spark: SparkSession, o: Opts): Int = {
    if (o.record) return Record.run(spark, o)
    val h = new Harness(spark, o)
    h.setup()
    val injected = if (o.selftest) SelfTest.inject(spark, h) else Nil
    val passes = h.runPasses()
    if (o.selftest) return SelfTest.judge(passes, injected)
    h.calibration = Calibration.probe(o.cores)
    Report.write(h, passes)
    0
  }

  // ---- the harness --------------------------------------------------------

  final class Harness(val spark: SparkSession, val o: Opts) {
    val sc = spark.sparkContext
    val dir: String = o.tables
    val registry: Boolean = o.workload != "monoid"
    var workload: Workload = _
    /** JVM start → SparkSession ready. */
    var sessionS = 0.0
    var registerS = 0.0
    var viewsS = 0.0
    var cacheS = 0.0
    /** JVM start → ready for the first call: the user's set-up. */
    var setupS = 0.0
    /** Input generation and checks the benchmark adds, outside set-up. */
    var inputsS = 0.0
    var checkS = 0.0
    var calibration: Map[String, Double] = Map.empty
    /** Latest fingerprint of each registry call. */
    val seen = mutable.Map.empty[String, String]
    val spans = ArrayBuffer.empty[Span]
    /** Span of each (call id, phase), the parent of that phase's jobs. */
    val phaseSpans = mutable.Map.empty[(String, String), Int]
    val inputs: Seq[String] = if (registry) Nil else Workloads.shapes.map(Workloads.inputView)
    /** Views the harness keeps cached: base tables and generated inputs. */
    val baseViews: Seq[String] = (if (registry) graft.sources.Tables.names else Nil) ++ inputs
    val recorder = new Recorder
    val epochOffsetMs: Double = System.currentTimeMillis() - now()
    /** CachedRDDBuilders of the base tables and inputs, to tell operator
      * persists apart from the harness's own caches in plans. */
    private var baseCaches: Seq[AnyRef] = Nil
    private var baseRdds: Set[Int] = Set.empty

    def span(parent: Int, kind: String, name: String, t0: Double, t1: Double): Int = {
      spans += Span(spans.size + 1, parent, kind, name, t0, t1)
      spans.size
    }

    private def timed(f: => Unit): Double = { val t0 = now(); f; secs(t0) }

    /** The registrations a user's process makes before its first call:
      * the `array_reduce_*` families for monoid, every family
      * `Tables.load` registers for the registry workloads. */
    private def register(): Unit = {
      graft.functions.ArrayReduce.registerAll(spark)
      graft.functions.ArrayReduceAgg.register(spark)
      if (registry) {
        graft.functions.SimHash.register(spark)
        graft.functions.ApproxTopK.register(spark)
        graft.functions.CountMin.register(spark)
        graft.functions.KmvBottomK.register(spark)
        graft.functions.HllSketch.register(spark)
        graft.functions.KllSketch.register(spark)
        graft.functions.KllWeightedSketch.register(spark)
      }
    }

    def setup(): Unit = {
      sc.setLogLevel("ERROR")
      sessionS = sinceJvmStart()
      registerS = timed(register())
      if (registry) {
        // Tables.load repeats the (now warm) registrations before its views
        viewsS = timed(graft.sources.Tables.load(spark, dir))
        cacheS = timed(cacheEagerly(graft.sources.Tables.names))
      }
      setupS = sinceJvmStart()
      inputsS = timed {
        if (!registry) Workloads.generateMonoidInputs(spark, o.seed, o.cores)
        cacheEagerly(inputs)
        noteBaseCaches()
      }
      checkS = timed {
        workload = if (registry)
          Workloads.registryWorkload(spark, o.workload, dir, Expected.load(o.expected), seen)
        else Workloads.monoidWorkload(spark)
      }
    }

    /** Caches the views and materialises them one after another from this
      * thread, the only one that submits work. */
    def cacheEagerly(views: Seq[String]): Unit = {
      views.foreach(n => spark.table(n).cache())
      views.foreach(n => spark.table(n).count())
    }

    private def noteBaseCaches(): Unit = {
      val cm = spark.sharedState.cacheManager
      baseCaches = baseViews.flatMap(n => cm.lookupCachedData(
          spark.table(n).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]))
        .map(_.cachedRepresentation.cacheBuilder)
      baseRdds = sc.getPersistentRDDs.keySet.toSet
    }

    def storageBytes(): Long = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    private def observe(p: PassRec): Unit = {
      p.storagePeak = math.max(p.storagePeak, storageBytes())
      if (p.traced) {
        val ckpt = Recorder.checkpointed(sc)
        sc.getPersistentRDDs.keys.filterNot(baseRdds).foreach { id =>
          if (ckpt(id)) p.checkpoints += id else p.persisted += id
        }
      }
    }

    private def setPhase(call: String, phase: String): Unit = {
      sc.setLocalProperty(Recorder.CallKey, call)
      sc.setLocalProperty(Recorder.PhaseKey, phase)
    }

    /** Runs `f` as one boundary step; a throw is recorded, not swallowed. */
    private def step(p: PassRec, parent: Int, family: String, kind: String)(f: => Unit): Unit = {
      val id = s"p${p.index}/boundary/$family"
      setPhase(id, kind)
      val t0 = now()
      val err = try { f; None } catch { case NonFatal(e) => Some(describe(e)) }
      val t1 = now()
      setPhase(null, null)
      phaseSpans((id, kind)) = span(parent, "step", s"$family.$kind", t0, t1)
      p.steps += StepRec(family, kind, (t1 - t0) / 1e3, err)
      observe(p)
    }

    def boundary(p: PassRec, passSpan: Int, f: Family): Unit = {
      val id = span(passSpan, "boundary", f.name, now(), 0)
      step(p, id, f.name, "clear")(spark.catalog.clearCache())
      step(p, id, f.name, "release")(graft.operators.Caching.releaseCheckpoints(blocking = true))
      step(p, id, f.name, "recache") {
        cacheEagerly(baseViews)
        noteBaseCaches()
      }
      f.warm.foreach(w => step(p, id, f.name, "warm")(w()))
      spans(id - 1) = spans(id - 1).copy(endMs = now())
    }

    def call(p: PassRec, passSpan: Int, c: Call): Unit = {
      val id = s"p${p.index}/${c.name}"
      // phase boundaries; plan counting (traced passes) sits between t2 and t3
      val t = Array.fill(5)(now())
      def mark(i: Int): Unit = (i until t.length).foreach(j => t(j) = now())
      var counts = (0, 0, 0, 0)
      var failed: Option[String] = None
      try {
        setPhase(id, "construct")
        val df = c.build()
        mark(1)
        setPhase(id, "plan")
        val q = c.consumer(df)
        val plan = q.queryExecution.executedPlan
        mark(2)
        if (p.traced) counts = planCounts(plan)
        setPhase(id, "exec")
        mark(3)
        val rows = q.collect()
        mark(4)
        setPhase(null, null)
        val c0 = now()
        failed = c.verify(rows)
        checkS += secs(c0)
      } catch { case NonFatal(e) => failed = Some(describe(e)) }
      setPhase(null, null)
      val callSpan = span(passSpan, "call", c.name, t(0), t(4))
      phaseSpans((id, "construct")) = span(callSpan, "phase", "construct", t(0), t(1))
      phaseSpans((id, "plan")) = span(callSpan, "phase", "plan", t(1), t(2))
      phaseSpans((id, "exec")) = span(callSpan, "phase", "exec", t(3), t(4))
      p.calls += CallRec(c.name, c.family, c.group, id, (t(0), t(1)), (t(1), t(2)),
        (t(3), t(4)), failed, counts._1, counts._2, counts._3, counts._4)
      observe(p)
      step(p, callSpan, c.family, "release")(graft.operators.Caching.releaseCheckpoints(blocking = true))
    }

    /** (nodes, exchanges, cache scans, cache scans of operator persists). */
    private def planCounts(plan: SparkPlan): (Int, Int, Int, Int) = {
      val nodes = collectWithSubqueries(plan) { case n => n }
      val scans = nodes.collect { case s: InMemoryTableScanExec => s }
      val op = scans.count(s => !baseCaches.exists(_ eq s.relation.cacheBuilder))
      (nodes.size, nodes.count(_.isInstanceOf[Exchange]), scans.size, op)
    }

    def pass(index: Int, kind: String, traced: Boolean): PassRec = {
      val p = new PassRec(index, kind, traced)
      if (traced) sc.addSparkListener(recorder)
      val codegen0 = Recorder.codegenMs()
      val t0 = now()
      val passSpan = span(0, "pass", s"pass$index", t0, 0)
      workload.families.foreach { f =>
        if (f.boundary) boundary(p, passSpan, f)
        f.calls.foreach(c => call(p, passSpan, c))
      }
      val t1 = now()
      p.wallS = (t1 - t0) / 1e3
      p.codegenS = (Recorder.codegenMs() - codegen0) / 1e3
      spans(passSpan - 1) = spans(passSpan - 1).copy(endMs = t1)
      if (traced) { Recorder.drain(sc); sc.removeSparkListener(recorder) }
      p
    }

    /** The cold first pass, the workload's warm-up passes, then timed passes
      * until [[TimedPasses]] ran and `seconds` have passed. Traced
      * runs alternate traced and untraced timed passes, so the difference
      * is the tracing overhead. `--curve n` runs n passes, the first cold
      * and the rest timed, to measure the warm-up curve. */
    def runPasses(): Seq[PassRec] = {
      val out = ArrayBuffer(pass(0, "cold", traced = false))
      val warm = if (o.curve > 0 || o.selftest) 0 else WarmupPasses(o.workload)
      (1 to warm).foreach(i => out += pass(i, "warm", traced = false))
      val t0 = now()
      val minTimed = if (o.trace) math.max(TimedPasses(o.workload), 4) else TimedPasses(o.workload)
      def timedCount = out.count(_.timed)
      def more: Boolean =
        if (o.curve > 0) out.size < o.curve
        else if (o.selftest) timedCount < 1
        else timedCount < minTimed || (secs(t0) < o.seconds && sinceJvmStart() < PassDeadlineS)
      while (more) {
        val i = out.size
        out += pass(i, "timed", traced = o.trace && (i - warm) % 2 == 1)
      }
      out.toSeq
    }
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300)}"
}

/** A fixed CPU probe recorded in every result file as a contention
  * diagnostic: the same integer work on one thread and on one thread per
  * core. It never scales a metric. */
object Calibration {
  private def work(): Long = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    acc
  }

  private def wall(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { work(); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def probe(cores: Int): Map[String, Double] = {
    work() // compile the loop before timing it
    Map("one_thread_s" -> wall(1), "all_cores_s" -> wall(cores))
  }
}
