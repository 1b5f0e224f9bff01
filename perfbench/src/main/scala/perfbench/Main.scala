package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.operators.IndexStore
import graft.sources.{MemCatalog, Tables}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set-up (session, correctness pass that
  * also pre-builds artifacts and catalog sources), then closed-loop
  * timed passes with a single client, then the in-run controls. With
  * `--trace 1`, every other pass is traced and the run adds the
  * count() overlap pass, the plan-equivalence check and the layer
  * microbenchmarks. Raw measurements go to `<work>/result.json` (and
  * spans to `<work>/trace.json`); `run.py` turns them into metrics.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --sf DIR --work DIR --cores N`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    new Run(Workloads.byName(arg("workload")), arg("seed").toLong,
      arg("seconds").toDouble, arg("trace") == "1", arg("sf"),
      new File(arg("work")), arg("cores").toInt).run()
  }
}

/** One timed pass: wall and process CPU seconds, the CPU time the host
  * stole from this machine (where a co-tenant stall shows), heap retained
  * after a full GC, store size, per-gate latencies, and (traced passes) the
  * layer counters summed over its gates. */
final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
    stealS: Double, heapMb: Double, storeMb: Double, indexRebuilds: Int,
    latencies: Seq[(String, Double)], layers: Map[String, Double])

/** One gate of a traced pass: its interval, its (name, start, end)
  * children, and the query executions captured while building and while
  * writing. */
final case class GateTrace(gate: String, startNs: Long, endNs: Long,
    kids: Seq[(String, Long, Long)], buildPlans: Seq[PlanSummary],
    writePlans: Seq[PlanSummary])

final class Run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
    sfDir: String, work: File, cores: Int) {

  private val queries = SparkEntry.queries
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private val tracer = new Tracer
  private val counters = new ExecCounters
  private val capture = new PlanCapture
  /** Core microbenchmark repetitions inside one `uda_median` pass. */
  private val CoreReps = 3
  /** Fixture tables `sources.load_s` times `Tables.load` on. */
  private val Fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def fail(gate: String, phase: String, e: Throwable): Unit =
    errors += s"$gate [$phase]: ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).take(300)

  private def secs(ns: Long): Double = ns / 1e9

  /** Machine-wide steal time from /proc/stat (0 where absent). */
  private def stealSeconds(): Double = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) 0.0
    else Files.readAllLines(f).asScala.headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble / 100.0).getOrElse(0.0)
  }

  // ---- the benchmark-owned store roots ---------------------------------

  private val indexRoot = new File(IndexStore.root)
  private val roots = Seq(indexRoot, new File(MemCatalog.defaultRoot))

  /** path -> (bytes, mtime ms) of the regular files under `under`. */
  private def files(under: Seq[File] = roots): Map[String, (Long, Long)] = under.flatMap { r =>
    if (!r.exists()) Nil
    else Files.walk(r.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toSeq
  }.toMap

  /** Artifact commit markers under the index root, with their mtimes. */
  private def markers(): Map[String, Long] =
    files(Seq(indexRoot)).collect { case (p, (_, t)) if p.endsWith("_SUCCESS") => p -> t }

  private def storeMb(): Double = files().values.map(_._1).sum / 1e6

  /** Store files present when set-up ended. */
  private var setupFiles = Set.empty[String]

  /** Resets the catalog to its post-set-up state, outside the timing:
    * DROP TABLE moves the table's log under `.trash/`, so without this
    * every pass would add its dropped tables to the store. */
  private def purgeTrash(): Unit = {
    val trash = Paths.get(MemCatalog.defaultRoot, ".trash")
    if (Files.isDirectory(trash))
      Files.list(trash).iterator().asScala.toSeq
        .filterNot(e => setupFiles.exists(_.startsWith(e.toString + File.separator)))
        .foreach { e =>
          Files.walk(e).iterator().asScala.toSeq.reverse.foreach(Files.delete)
        }
  }

  // ---- one gate ----------------------------------------------------------

  /** Builds the gate's frame with `fn(spark, sfDir)`. */
  private def build(s: SparkSession, gate: String): DataFrame = queries(gate)(s, sfDir)

  /** Full consumption: the whole physical plan `Verify` writes, into a
    * sink that discards rows. */
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- set-up ------------------------------------------------------------

  private val verifySig = mutable.Map.empty[String, Map[String, Int]]
  private var indexBuildS = 0.0
  private var indexBuilds = 0

  /** Correctness pass, outside the timing: each gate's result is written
    * exactly as `Verify` writes it, for the oracle compare. First use
    * also builds the IndexStore artifacts and catalog sources. */
  private def setup(spark: SparkSession): Unit = {
    val s = spark.newSession()
    if (traced) s.listenerManager.register(capture)
    for (g <- wl.gates) {
      attempted += 1
      val before = markers()
      val t0 = System.nanoTime()
      try {
        val df = build(s, g)
        df.coalesce(1).write.mode("overwrite")
          .parquet(new File(work, s"correctness/$g").getPath)
        if (traced) {
          ListenerBusDrain(spark.sparkContext)
          capture.drain().lastOption.foreach(p => verifySig(g) = p.signature)
        }
      } catch { case e: Throwable => fail(g, "correctness", e) }
      val built = markers().keySet -- before.keySet
      if (built.nonEmpty) {
        indexBuildS += secs(System.nanoTime() - t0)
        indexBuilds += built.size
      }
    }
    if (traced) s.listenerManager.unregister(capture)
    if (wl.core) {
      attempted += 1
      CoreBench.gate(seed, CoreReps)
      if (!CoreBench.exactRegimeHolds(seed))
        errors += s"${Workloads.CoreGate} [correctness]: exact-regime median differs"
    }
    setupFiles = files().keySet
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => wl.gates.contains(k) }
    Files.writeString(Paths.get(work.getPath, "correctness", "oracle_sql.json"), Json(oracle))
  }

  // ---- timed passes ------------------------------------------------------

  private val noopSig = mutable.Map.empty[String, Map[String, Int]]

  private def runPass(spark: SparkSession, order: Seq[String], index: Int,
      tracedPass: Boolean, runSpan: Int): Pass = {
    val sc = spark.sparkContext
    // a fresh session per pass: FrameMemo and session-scoped memos start cold
    val s = spark.newSession()
    if (tracedPass) {
      s.listenerManager.register(capture)
      sc.addSparkListener(counters)
    }
    purgeTrash()
    val marks0 = markers()
    val files0 = if (tracedPass) files() else Map.empty[String, (Long, Long)]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val gateSpans = mutable.ArrayBuffer.empty[GateTrace]
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val cpu0 = os.getProcessCpuTime
    val steal0 = stealSeconds()
    val w0 = System.nanoTime()
    for (g <- order) {
      attempted += 1
      val a = System.nanoTime()
      var (b, bb) = (a, a)
      var snaps = Seq.empty[Map[String, Long]]
      var buildPlans, writePlans = Seq.empty[PlanSummary]
      if (tracedPass) { RuleMeter.reset(); snaps :+= counters.snapshot() }
      try {
        if (g == Workloads.CoreGate) { CoreBench.gate(seed + index, CoreReps); b = System.nanoTime(); bb = b }
        else {
          val df = build(s, g)
          b = System.nanoTime()
          if (tracedPass) {
            ListenerBusDrain(sc); snaps :+= counters.snapshot(); buildPlans = capture.drain()
          }
          bb = System.nanoTime()
          consume(df)
        }
      } catch { case e: Throwable => fail(g, s"pass $index", e) }
      val c = System.nanoTime()
      lat += g -> secs(c - a)
      if (tracedPass && g != Workloads.CoreGate) {
        ListenerBusDrain(sc)
        writePlans = capture.drain()
        val sC = counters.snapshot()
        val Seq(sA, sB) = snaps.padTo(2, sC)
        def d(k: String, from: Map[String, Long]) = (sC(k) - from(k)).toDouble
        layer("queries.build_s") += secs(b - a)
        layer("queries.build_jobs") += sB("jobs") - sA("jobs")
        for (p <- buildPlans ++ writePlans; (ph, (st, en)) <- p.phases)
          layer(s"plans.${ph}_s") += (en - st) / 1e3
        layer("plans.exchanges") += writePlans.lastOption.map(_.exchanges).getOrElse(0)
        val (ruleNs, eff, runs) = RuleMeter.graftRules()
        layer("plans.graft_rule_s") += ruleNs / 1e9
        layer("plans.graft_rule_eff_runs") += eff
        layer("plans.graft_rule_runs") += runs
        layer("exec.action_s") += secs(c - bb)
        layer("exec.jobs") += d("jobs", sB)
        layer("exec.tasks") += d("tasks", sB)
        layer("exec.task_cpu_s") += d("task_cpu_ns", sB) / 1e9
        layer("exec.task_run_s") += d("task_run_ms", sB) / 1e3
        layer("exec.gc_s") += d("gc_ms", sB) / 1e3
        layer("exec.shuffle_write_mb") += d("shuffle_write_b", sB) / 1e6
        layer("exec.shuffle_read_mb") += d("shuffle_read_b", sB) / 1e6
        layer("exec.spill_mb") += d("spill_b", sB) / 1e6
        layer("sources.input_mb") += d("input_b", sA) / 1e6
        layer("sources.input_rows") += d("input_rows", sA)
        writePlans.lastOption.foreach(p => noopSig.getOrElseUpdate(g, p.signature))
        gateSpans += GateTrace(g, a, c, Seq(("build", a, b), ("execute", bb, c)),
          buildPlans, writePlans)
      } else if (tracedPass) {
        gateSpans += GateTrace(g, a, c, Seq(("execute", a, c)), Nil, Nil)
      }
    }
    val w1 = System.nanoTime()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val stealS = stealSeconds() - steal0
    if (tracedPass) {
      s.listenerManager.unregister(capture)
      sc.removeSparkListener(counters)
      val files1 = files()
      val written = files1.filter { case (p, v) => !files0.get(p).contains(v) }
      layer("sources.files_written") = written.size
      layer("sources.output_mb") = written.values.map(_._1).sum / 1e6
    }
    if (traced) recordSpans(runSpan, index, tracedPass, w0, w1, gateSpans.toSeq)
    // retained heap: what the pass's session still holds after a full GC;
    // the second GC frees what the context cleaner released after the first
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val rebuilt = markers().count { case (p, t) => marks0.get(p).exists(_ != t) || !marks0.contains(p) }
    if (rebuilt > 0) errors += s"pass $index: $rebuilt IndexStore artifact(s) rewritten during timing"
    Pass(index, tracedPass, secs(w1 - w0), cpuS, stealS, heapMb, storeMb(), rebuilt,
      lat.toSeq, layer.toMap)
  }

  private def recordSpans(runSpan: Int, index: Int, tracedPass: Boolean, w0: Long, w1: Long,
      gates: Seq[GateTrace]): Unit = {
    val passSpan = tracer.add(runSpan, "pass", w0, w1,
      Map("index" -> index, "traced" -> tracedPass))
    for (GateTrace(g, a, c, kids, buildPlans, writePlans) <- gates) {
      val gs = tracer.add(passSpan, "gate", a, c, Map("gate" -> g))
      for ((name, st, en) <- kids) {
        val k = tracer.add(gs, name, st, en)
        // the planning phases of the query executions inside this span
        val plans = if (name == "build") buildPlans else writePlans
        for (p <- plans if p.phases.nonEmpty) {
          val ps = p.phases.values.map(_._1).min
          val pe = p.phases.values.map(_._2).max
          tracer.add(k, "plan", math.max(st, tracer.msToNs(ps)),
            math.min(en, math.max(st, tracer.msToNs(pe))),
            Map("exchanges" -> p.exchanges))
        }
      }
    }
  }

  // ---- traced-run extras -------------------------------------------------

  /** count() beside full consumption, per gate: the overlap point with
    * the old count()-timed bench, and which plans a count prunes. */
  private def countOverlap(spark: SparkSession, full: Map[String, Double]) = {
    val s = spark.newSession()
    s.listenerManager.register(capture)
    val rows = wl.gates.map { g =>
      val t0 = System.nanoTime()
      try build(s, g).count()
      catch { case e: Throwable => fail(g, "count", e) }
      val t = secs(System.nanoTime() - t0)
      ListenerBusDrain(spark.sparkContext)
      val countSig = capture.drain().lastOption.map(_.signature).getOrElse(Map.empty)
      val pruned = PlanSummary.missing(noopSig.getOrElse(g, Map.empty), countSig)
      g -> Map("count_s" -> t, "full_s" -> full(g), "count_over_full" -> t / full(g),
        "pruned" -> pruned)
    }
    s.listenerManager.unregister(capture)
    rows.toMap
  }

  /** Every Join, Window, Generate and aggregate function of the Verify
    * write plan must survive in the timed noop plan. */
  private def planCheck(): Map[String, Map[String, Int]] =
    wl.gates.map { g =>
      val m = (verifySig.get(g), noopSig.get(g)) match {
        case (Some(v), Some(n)) => PlanSummary.missing(v, n)
        case _ => Map("no plan captured" -> 1)
      }
      g -> m
    }.filter(_._2.nonEmpty).toMap

  private def loadSeconds(spark: SparkSession): Double = {
    val s = spark.newSession()
    Fixtures.map { t =>
      val t0 = System.nanoTime()
      Tables.load(s, sfDir, t).schema
      secs(System.nanoTime() - t0)
    }.sum
  }

  // ---- the run -----------------------------------------------------------

  def run(): Unit = {
    new File(work, "correctness").mkdirs()
    val spark = GraftSession.build("perfbench", cores)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    setup(spark)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val order0 = wl.gates ++ (if (wl.core) Seq(Workloads.CoreGate) else Nil)
    val rng = new scala.util.Random(seed)
    val minPasses = 5
    val runStart = System.nanoTime()
    val deadline = runStart + (seconds * 1e9).toLong
    val runSpan = tracer.add(0, "run", runStart, runStart, Map("workload" -> wl.name))
    val passes = mutable.ArrayBuffer.empty[Pass]
    while (passes.size < minPasses || System.nanoTime() < deadline)
      passes += runPass(spark, rng.shuffle(order0), passes.size,
        traced && passes.size % 2 == 1, runSpan)
    tracer.close(runSpan, System.nanoTime())

    val controls = Workloads.controls.map { c =>
      attempted += 1
      val s = spark.newSession()
      val t0 = System.nanoTime()
      try consume(build(s, c)) catch { case e: Throwable => fail(c, "control", e) }
      c -> secs(System.nanoTime() - t0)
    }

    val extras = mutable.LinkedHashMap.empty[String, Any]
    if (traced) {
      val full = passes.filterNot(_.traced).flatMap(_.latencies)
        .groupBy(_._1).map { case (g, v) => g -> Stats.median(v.map(_._2).toSeq) }
      extras("count_overlap") = countOverlap(spark, full)
      val missing = planCheck()
      for ((g, m) <- missing)
        errors += s"$g [plan check]: timed noop plan lacks ${m.mkString(", ")}"
      extras("plan_check_missing") = missing
      extras("plan_signatures") = wl.gates.map { g =>
        g -> Map("verify" -> verifySig.get(g), "noop" -> noopSig.get(g))
      }.toMap
      extras("core") = CoreBench.measure(seed, reps = 5).map { case (k, c) => s"k$k" -> c }
      extras("load_s") = loadSeconds(spark)
    }
    extras("index_build_s") = indexBuildS
    extras("index_builds") = indexBuilds

    val result = Map(
      "workload" -> wl.name, "seed" -> seed, "traced" -> traced,
      "state" -> Map(
        "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "sf_dir" -> sfDir,
        "index_root" -> IndexStore.root,
        "catalog_root" -> MemCatalog.defaultRoot,
        "stores_at_start" -> "empty",
        "index_artifacts_prebuilt" -> indexBuilds,
        "frame_memo" -> "cold: fresh session per pass",
        "catalog_reset" -> "trash entries made after set-up purged before each pass",
        "gates" -> wl.gates),
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "passes" -> passes.toSeq,
      "controls" -> controls.toMap,
      "attempted" -> attempted,
      "errors" -> errors.toSeq,
      "extras" -> extras)
    Files.writeString(Paths.get(work.getPath, "result.json"), Json(result))
    if (traced) Files.writeString(Paths.get(work.getPath, "trace.json"), Json(tracer.spans))
    spark.stop()
  }
}
