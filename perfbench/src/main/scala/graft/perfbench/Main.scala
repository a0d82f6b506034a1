package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One timed operation of class `cls` (read, write, analytic, maintain) and
  * kind `kind` within it: `run` is the measured call; the check it returns
  * runs after the clock stops. */
final case class Op(cls: String, kind: String, run: () => (() => Boolean))

/** Everything a workload may touch. `tracer` changes between the untraced
  * and the traced window. */
final class Ctx(val spark: SparkSession, val seed: Long, val smoke: Boolean,
    val workDir: Path, val testdata: Path) {
  var tracer = new Tracer(false)
  val rng = new Random(seed)
  val problems = mutable.ArrayBuffer.empty[String]
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Record a failed output check; returns false for use in op checks. */
  def fail(msg: String): Boolean = { if (problems.size < 20) problems += msg; false }
  def expect(cond: Boolean, msg: => String): Boolean = cond || fail(msg)
}

trait Workload {
  /** Generate the workload's inputs from the seed and the testdata into a
    * fresh state (repeated; the last one is measured). */
  def generate(): Unit
  /** One-time rest of the set-up: seeding that builds on the inputs, and
    * warm-up, so the window measures warm paths. */
  def prepare(): Unit
  /** The next op of the workload's fixed cycle of op kinds. */
  def next(): Op
  /** Ops in one cycle; a window always ends on a whole cycle. */
  def cycle: Int
  /** Called as a window starts (`warm` for the warm-up cycles): zero the
    * counters behind `extras`. */
  def beginWindow(warm: Boolean): Unit
  /** `docs_per_s` and `space_amp` for a window of `seconds` wall time. */
  def extras(w: Window): Map[String, Double]
  /** Workload-specific per-layer metrics for the traced window. */
  def layerMetrics(w: Window): Map[String, Double]
}

/** Results of one measured window. */
final class Window {
  val samples = mutable.ArrayBuffer.empty[(Op, Double)]
  var attempted = 0L
  var failed = 0L
  var seconds = 0.0
  var firstOp = 0L
  var heapMb = 0.0
  def ms(cls: String): Seq[Double] = samples.iterator.filter(_._1.cls == cls).map(_._2).toSeq.sorted
  def count(cls: String): Int = samples.count(_._1.cls == cls)
  /** The class's p50: the geometric mean over its op kinds of each kind's
    * median. A plain median over a class whose kinds differ several-fold
    * jumps between kinds from run to run. */
  def p50(cls: String): Double = {
    val perKind = samples.filter(_._1.cls == cls).groupMap(_._1.kind)(_._2).values.map(v => Main.median(v.toSeq))
    if (perKind.isEmpty) Double.NaN else math.exp(perKind.map(math.log).sum / perKind.size)
  }
}

object Main {
  val Classes = Seq("read", "write", "analytic", "maintain")

  /** The per-layer metric names every traced run prints (BENCHMARK.json). */
  val LayerMetrics: Seq[String] = Seq(
    "query.compile_ms", "catalyst.plan_ms", "spark.exec_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_cpu_s", "spark.executor_gc_s", "spark.task_deserialize_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb",
    "engine.memgraph.save_us", "engine.memgraph.undo_ms", "engine.memgraph.snapshot_ms",
    "ops.analytics.pagerank_ms", "ops.analytics.hop_distances_ms", "ops.analytics.cc_ms",
    "ops.traversals.graphx_build_ms",
    "engine.warehouse.append_ms", "engine.journal.fold_ms",
    "ops.layout.increment_ms", "ops.layout.rewrite_mb_per_increment", "ops.layout.write_amp",
    "ops.ztable.files_listed_frac",
    "ops.quality.gate_pass_frac", "ops.dedup.lsh_pairs_per_kdoc", "ops.dedup.pair_yield",
    "ops.dedup.clusters_ms") ++
    Seq("gate", "lsh", "clusters", "dedup", "mix", "pack").map("ops.pipeline.stage_ms." + _) ++
    Seq("spark.persisted_rdds_growth", "spark.cached_plans_growth", "spark.temp_views_growth") ++
    Modules.map("self_ms." + _) ++
    Classes.map(c => s"trace.unattributed_frac.$c") ++
    Classes.map(c => s"trace.overhead_ms.${c}_p50")

  /** Span-name prefixes that own self time (the layer of a span is its
    * name without the last segment; a root `op.*` span is the benchmark). */
  lazy val Modules: Seq[String] = Seq("bench", "query", "catalyst", "spark",
    "engine.memgraph", "engine.warehouse", "engine.journal", "ops.analytics",
    "ops.traversals", "ops.layout", "ops.ztable", "ops.quality", "ops.dedup",
    "ops.sampling", "ops.textanalysis")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s",
    "read_p50_ms" -> "ms", "write_p50_ms" -> "ms",
    "analytic_p50_ms" -> "ms", "maintain_p50_ms" -> "ms",
    "docs_per_s" -> "1/s", "space_amp" -> "ratio", "heap_peak_mb" -> "MB")

  /** Nearest-rank quantile of a sorted sample. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(q * sorted.size).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ------------------------------------------------------------------ json

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case x => json(x.toString)
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val smoke = a.getOrElse("smoke", "0") == "1"
    val t0Ms = a.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val workDir = Paths.get(a.getOrElse("work", "perfbench/target/work")).toAbsolutePath
    val testdata = Paths.get(a("testdata")).toAbsolutePath
    val reps = if (smoke) 1 else 3
    Files.createDirectories(workDir)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val ctx = new Ctx(spark, seed, smoke, workDir, testdata)
    val w: Workload = workload match {
      case "session_10k" => new SessionWorkload(ctx)
      case "corpus_ingest" => new CorpusWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    var exit = 1
    try {
      def timed(body: => Unit): Double = { val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9 }
      val setups = (1 to reps).map(_ => timed(w.generate()))
      val prepareS = timed(w.prepare())
      // warm-up: one whole cycle, checked but not recorded, so the window
      // measures JIT-compiled paths (the first cycle after `prepare` ran
      // 20-100% slower, by a different amount in every run)
      val warmStart = System.nanoTime()
      val warm = window(ctx, w, 0, traced = false, warm = true)
      Heap.retainedMb() // every measured cycle starts after the same GC
      val warmS = (System.nanoTime() - warmStart) / 1e9
      val setupS = bootS + median(setups) + prepareS + warmS

      val h0 = Hygiene.snapshot(spark)
      val plain = window(ctx, w, seconds, traced = false)
      val extras = w.extras(plain)
      val counter = new SparkCounter
      val tracedW = if (!traced) None else {
        spark.sparkContext.addSparkListener(counter)
        ctx.tracer = new Tracer(true)
        val tw = window(ctx, w, seconds, traced = true)
        counter.drain()
        spark.sparkContext.removeSparkListener(counter)
        Some(tw)
      }
      val h1 = Hygiene.snapshot(spark)

      val e2e = mutable.LinkedHashMap.empty[String, Double]
      e2e("setup_s") = setupS
      e2e("ops_per_s") = plain.samples.size / plain.seconds
      e2e("read_p50_ms") = plain.p50("read")
      e2e("write_p50_ms") = plain.p50("write")
      e2e("analytic_p50_ms") = plain.p50("analytic")
      e2e("maintain_p50_ms") = plain.p50("maintain")
      e2e ++= extras
      e2e("heap_peak_mb") = plain.heapMb

      val attempted = warm.attempted + plain.attempted + tracedW.map(_.attempted).getOrElse(0L)
      val failed = warm.failed + plain.failed + tracedW.map(_.failed).getOrElse(0L)
      val missing = EndToEnd.map(_._1).filter(k => !e2e.get(k).exists(v => !v.isNaN && v > 0))
      val correct = failed == 0 && missing.isEmpty

      val layer = tracedW.map(tw => layerMetrics(ctx, w, plain, tw, counter, h0, h1))
      a.get("trace-out").filter(_ => traced).foreach { f =>
        Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
        ctx.tracer.writeTsv(Paths.get(f))
      }

      val units = EndToEnd.toMap
      val info = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "traced" -> traced, "smoke" -> smoke, "cores" -> cores,
        "loop" -> "closed, 1 client",
        "spark_conf" -> spark.sparkContext.getConf.getAll.sortBy(_._1)
          .filterNot(kv => Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
            "spark.app.submitTime", "spark.driver.host").contains(kv._1)).toMap,
        "sql_conf" -> Map("spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "spark.sql.session.timeZone" -> spark.conf.get("spark.sql.session.timeZone")),
        "generate_reps_s" -> setups, "prepare_s" -> prepareS, "warm_s" -> warmS, "boot_s" -> bootS,
        "samples" -> Classes.map(c => c -> plain.count(c)).toMap,
        "kind_ms_median" -> plain.samples.groupMap(s => s._1.cls + "." + s._1.kind)(_._2)
          .map { case (k, v) => k -> median(v.toSeq) },
        "kind_ms" -> plain.samples.groupMap(s => s._1.cls + "." + s._1.kind)(_._2)
          .map { case (k, v) => k -> v.map(x => math.round(x * 10) / 10.0) },
        // a p95 needs 200 samples of a class in one run; no window gets there
        "p95_ms" -> Classes.filter(c => plain.count(c) >= 200).map(c => c -> quantile(plain.ms(c), 0.95)).toMap,
        "failed_frac" -> failed.toDouble / math.max(1L, attempted),
        "hygiene_start" -> Map("persisted_rdds" -> h0.persistedRdds,
          "cached_plans" -> h0.cachedPlans, "temp_views" -> h0.tempViews),
        "hygiene_end" -> Map("persisted_rdds" -> h1.persistedRdds,
          "cached_plans" -> h1.cachedPlans, "temp_views" -> h1.tempViews),
        "hygiene_growth" -> Map("persisted_rdds" -> (h1.persistedRdds - h0.persistedRdds),
          "cached_plans" -> (h1.cachedPlans - h0.cachedPlans), "temp_views" -> (h1.tempViews - h0.tempViews)),
        "end_to_end" -> e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) },
        "missing" -> missing,
        "problems" -> ctx.problems)
      println(json(Map("info" -> info)))

      val metrics: Map[String, Any] =
        if (!traced) e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }.toMap
        else layer.get.map { case (k, v) => k -> Map("value" -> v, "unit" -> layerUnit(k)) }
      println(json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> metrics)))
      exit = if (correct) 0 else 1
    } catch {
      case t: Throwable =>
        System.err.println("perfbench: run failed: " + t)
        t.printStackTrace()
        exit = 2
    } finally spark.stop()
    System.out.flush()
    sys.exit(exit)
  }

  def layerUnit(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms.") || k.startsWith("self_ms.") || k.startsWith("trace.overhead_ms.")) "ms"
    else if (k.endsWith("_us")) "us"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb") || k.endsWith("_mb_per_increment")) "MB"
    else if (k.endsWith("_per_op")) "count/op"
    else if (k.endsWith("_growth")) "count"
    else if (k.endsWith("_per_kdoc")) "count/kdoc"
    else "ratio"

  /** Closed loop, one client: the next op starts when the previous returned.
    * The window runs whole cycles of the workload's op kinds, at least one,
    * until at least `seconds` have passed, so every run measures the same
    * mix. */
  def window(ctx: Ctx, w: Workload, seconds: Double, traced: Boolean, warm: Boolean = false): Window = {
    w.beginWindow(warm)
    val win = new Window
    val sc = ctx.spark.sparkContext
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var opId = if (traced) 1000000L else 0L
    win.firstOp = opId + 1
    var spent = 0L // time outside the window: output checks, the per-cycle GC
    while (System.nanoTime() - spent < deadline || win.attempted % w.cycle != 0 || win.attempted == 0) {
      val op = w.next()
      opId += 1
      sc.setJobGroup(s"op-$opId", op.cls, interruptOnCancel = false)
      ctx.tracer.beginOp(opId)
      val t = System.nanoTime()
      val check = try Some(ctx.span("op." + op.cls)(op.run()))
        catch { case e: Exception => ctx.fail(s"${op.cls} op $opId threw: $e"); None }
      val ms = (System.nanoTime() - t) / 1e6
      sc.clearJobGroup()
      win.attempted += 1
      val c0 = System.nanoTime()
      val ok = check.exists { c =>
        try c() catch { case e: Exception => ctx.fail(s"${op.cls} op $opId check threw: $e") }
      }
      spent += System.nanoTime() - c0
      if (ok) win.samples += ((op, ms)) else win.failed += 1
      if (!warm && win.attempted % w.cycle == 0) { // off the clock: the retained heap
        val g = System.nanoTime()
        win.heapMb = math.max(win.heapMb, Heap.retainedMb())
        spent += System.nanoTime() - g
      }
    }
    win.seconds = (System.nanoTime() - start - spent) / 1e9
    win
  }

  def layerMetrics(ctx: Ctx, w: Workload, plain: Window, tw: Window,
      counter: SparkCounter, h0: Hygiene.State, h1: Hygiene.State): Map[String, Double] = {
    val t = ctx.tracer
    val out = mutable.LinkedHashMap.empty[String, Double]
    LayerMetrics.foreach(out(_) = 0.0)
    def med(name: String): Double = { val d = t.durations(name); if (d.isEmpty) 0.0 else median(d) }
    out("query.compile_ms") = med("query.compile")
    out("catalyst.plan_ms") = med("catalyst.plan")
    out("spark.exec_ms") = med("spark.exec")
    out("engine.memgraph.save_us") = med("engine.memgraph.save") * 1000
    out("engine.memgraph.undo_ms") = med("engine.memgraph.undo")
    out("engine.memgraph.snapshot_ms") = med("engine.memgraph.snapshot")
    out("ops.analytics.pagerank_ms") = med("ops.analytics.pagerank")
    out("ops.analytics.hop_distances_ms") = med("ops.analytics.hop_distances")
    out("ops.analytics.cc_ms") = med("ops.analytics.cc")
    out("ops.traversals.graphx_build_ms") = med("ops.traversals.graphx_build")
    out("engine.warehouse.append_ms") = med("engine.warehouse.append")
    out("engine.journal.fold_ms") = med("engine.journal.fold")
    out("ops.layout.increment_ms") = med("ops.layout.increment")
    out("ops.dedup.clusters_ms") = med("ops.dedup.clusters")

    // Spark work per op of the traced window (ops with no jobs count as 0)
    val nOps = math.max(1L, tw.attempted).toDouble
    val groups = (tw.firstOp until tw.firstOp + tw.attempted)
      .flatMap(i => Option(counter.byGroup.get(s"op-$i")))
    def sum(f: counter.Counts => Long): Double = groups.map(f).sum.toDouble
    out("spark.jobs_per_op") = sum(_.jobs.get) / nOps
    out("spark.stages_per_op") = sum(_.stages.get) / nOps
    out("spark.tasks_per_op") = sum(_.tasks.get) / nOps
    out("spark.executor_cpu_s") = sum(_.cpuNs.get) / 1e9 / nOps
    out("spark.executor_gc_s") = sum(_.gcMs.get) / 1e3 / nOps
    out("spark.task_deserialize_s") = sum(_.deserMs.get) / 1e3 / nOps
    out("spark.shuffle_read_mb") = sum(_.shRead.get) / 1048576.0 / nOps
    out("spark.shuffle_write_mb") = sum(_.shWrite.get) / 1048576.0 / nOps
    out("spark.spill_mb") = sum(_.spill.get) / 1048576.0 / nOps
    out("spark.input_mb") = sum(_.input.get) / 1048576.0 / nOps

    out("spark.persisted_rdds_growth") = (h1.persistedRdds - h0.persistedRdds).toDouble
    out("spark.cached_plans_growth") = (h1.cachedPlans - h0.cachedPlans).toDouble
    out("spark.temp_views_growth") = (h1.tempViews - h0.tempViews).toDouble

    // self time per module, per op; unattributed share of each op class
    val self = t.selfMs
    def module(name: String): String =
      if (name.startsWith("op.")) "bench" else name.split('.').init.mkString(".")
    val byModule = t.spans.groupMapReduce(s => module(s.name))(s => self(s.id))(_ + _)
    Modules.foreach(m => out("self_ms." + m) = byModule.getOrElse(m, 0.0) / nOps)
    Classes.foreach { c =>
      val roots = t.spans.filter(s => s.parent < 0 && s.name == "op." + c)
      val total = roots.map(_.ms).sum
      out(s"trace.unattributed_frac.$c") = if (total > 0) roots.map(r => self(r.id)).sum / total else 0.0
      out(s"trace.overhead_ms.${c}_p50") =
        if (tw.count(c) == 0 || plain.count(c) == 0) 0.0 else tw.p50(c) - plain.p50(c)
    }
    out ++= w.layerMetrics(tw)
    out.toMap
  }
}
