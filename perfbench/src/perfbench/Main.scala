package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed (or warm-up) operation and its layer split, in seconds. */
final class Sample(val name: String, val kind: String, val pass: Int, val traced: Boolean) {
  var wall = 0.0
  var construct = 0.0
  var analysis = 0.0
  var optimization = 0.0
  var planning = 0.0
  var exec = 0.0
  var exchanges = 0
  var fallbackExprs = 0
  var error: Option[String] = None
  var work: Option[OpWork] = None

  def json: Map[String, Any] = Map(
    "name" -> name, "kind" -> kind, "pass" -> pass, "traced" -> traced,
    "wall" -> wall, "construct" -> construct, "analysis" -> analysis,
    "optimization" -> optimization, "planning" -> planning,
    "exec" -> exec, "exchanges" -> exchanges, "fallback_exprs" -> fallbackExprs,
    "error" -> error.orNull,
    "work" -> work.map { w =>
      Map[String, Any](
        "tasks" -> w.tasks, "task_busy_ms" -> w.taskBusyMs, "gc_ms" -> w.gcMs,
        "shuffle_write_b" -> w.shuffleWriteB, "shuffle_read_b" -> w.shuffleReadB,
        "spill_b" -> w.spillB, "input_b" -> w.inputB, "skew" -> w.skew,
        "batches" -> w.batches, "input_rows" -> w.inputRows,
        "dur_ms" -> w.durMs.toMap, "batch_ms" -> w.batchMs.toSeq,
        "state_rows" -> w.stateRows, "state_b" -> w.stateBytes)
    }.orNull)
}

/** Times a DataFrame in three parts: construction (the caller's thunk),
  * planning (analysis, optimization and physical planning, read from the
  * QueryExecution's planning tracker), and full execution of the physical
  * plan with every row produced and dropped, as the `noop` sink does.
  */
object Timing {
  def now(): Double = System.nanoTime() / 1e9

  def runDf(s: Sample, build: => DataFrame): Unit = {
    val t0 = now()
    val df = build
    val t1 = now()
    val qe = df.queryExecution
    val plan: SparkPlan = qe.executedPlan
    val t2 = now()
    SQLExecution.withNewExecutionId(qe, Some(s.name)) {
      plan.execute().foreach(_ => ())
    }
    val t3 = now()
    val ph = qe.tracker.phases
    def phase(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    // analysis runs eagerly while the DataFrame is built, so it is carved
    // out of the construct window rather than added to it
    s.analysis = phase("analysis")
    s.construct = math.max(0.0, t1 - t0 - s.analysis)
    s.optimization = phase("optimization")
    s.planning = phase("planning")
    s.exec = t3 - t2
    if (s.traced) {
      val (ex, fb) = Trace.planCounts(plan)
      s.exchanges = ex
      s.fallbackExprs = fb
    }
  }

  /** Runs `body` as sample `s`: wall time, NonFatal failures recorded with
    * their class, trace counters attached when the pass is traced. */
  def measure(s: Sample, trace: Option[Trace])(body: Sample => Unit): Sample = {
    trace.foreach(_.begin())
    val t0 = now()
    try body(s)
    catch {
      case NonFatal(e) =>
        s.error = Some(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
    }
    s.wall = now() - t0
    trace.foreach(t => s.work = Some(t.end()))
    s
  }
}

/** A workload: an untimed warm-up pass that also checks outputs, then
  * timed passes in a seeded order. */
trait Workload {
  def opsPerPass: Int
  /** Untimed cold pass: returns the samples plus per-op output checks
    * (`name -> fingerprint or failure`). */
  def warm(): (Seq[Sample], Seq[(String, Map[String, Any])])
  def pass(p: Int, rng: Random, trace: Option[Trace]): Seq[Sample]
  /** Extra per-pass measurements (bytes on disk and the like). */
  def passExtras(p: Int): Map[String, Any] = Map.empty
}

/** Registry queries, each timed as construct + plan + execute. */
final class Queries(spark: SparkSession, data: String, names: Seq[String]) extends Workload {
  private val registry = graft.SparkEntry.queries
  def opsPerPass: Int = names.size

  private def query(name: String): DataFrame =
    registry.getOrElse(name,
      throw new NoSuchElementException(s"no registry query '$name'"))(spark, data)

  def warm(): (Seq[Sample], Seq[(String, Map[String, Any])]) = {
    val checks = mutable.ArrayBuffer.empty[(String, Map[String, Any])]
    val samples = names.map { n =>
      Timing.measure(new Sample(n, "query", -1, false), None) { s =>
        val t0 = Timing.now()
        val df = query(n)
        s.construct = Timing.now() - t0
        val (rows, hash) = Fingerprint.of(df)
        checks += n -> Map("rows" -> rows, "hash" -> hash)
      }
    }
    samples.filter(_.error.isDefined).foreach { s =>
      checks += s.name -> Map("error" -> s.error.get)
    }
    (samples, checks.toSeq)
  }

  def pass(p: Int, rng: Random, trace: Option[Trace]): Seq[Sample] =
    rng.shuffle(names).map { n =>
      Timing.measure(new Sample(n, "query", p, trace.isDefined), trace) { s =>
        Timing.runDf(s, query(n))
      }
    }
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def dirStats(roots: Seq[Path]): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    roots.filter(Files.exists(_)).foreach { r =>
      val w = Files.walk(r)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        bytes += Files.size(f); files += 1
      } finally w.close()
    }
    (bytes, files)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traceOn = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val out = Paths.get(arg(args, "out"))
    val minOps = arg(args, "min-ops").toInt
    val scratch = arg(args, "scratch")
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val sessionS =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      // the repeatable part of set-up, timed three times (median reported)
      val cacheS = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = Timing.now()
        graft.Tables.cacheAll(spark, data)
        Timing.now() - t0
      }
      val cachedMb =
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      val w: Workload = workload match {
        case "store_rw" => new StoreRw(spark, data, seed, s"$scratch/store_rw")
        case _ =>
          new Queries(spark, data,
            Files.readAllLines(Paths.get(arg(args, "ops"))).asScala.toSeq
              .map(_.trim).filter(_.nonEmpty))
      }
      val tw = Timing.now()
      val (warmSamples, checks) = w.warm()
      val warmS = Timing.now() - tw
      // prepared-artifact stores the program keeps under its fixed roots
      val (storeB, storeFiles) = dirStats(
        Seq("/tmp/graft_layout", "/tmp/graft_source_feed").map(Paths.get(_)))

      val trace = new Trace(spark.sparkContext)
      val rng = new Random(seed)
      // a traced run needs untraced passes on both sides of a traced one,
      // so a warm-up trend does not read as tracing overhead
      val minPasses = math.max(
        math.ceil(minOps.toDouble / w.opsPerPass).toInt, if (traceOn) 3 else 0)
      val samples = mutable.ArrayBuffer.empty[Sample]
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = Timing.now()
      var p = 0
      while (p < minPasses || Timing.now() - t0 < seconds) {
        // traced runs alternate untraced and traced passes, so the
        // run itself measures the listener's overhead
        val traced = traceOn && p % 2 == 1
        if (traced) trace.attach()
        val tp = Timing.now()
        val ss = w.pass(p, rng, if (traced) Some(trace) else None)
        val wall = Timing.now() - tp
        if (traced) trace.detach()
        samples ++= ss
        passes += Map[String, Any]("pass" -> p, "wall" -> wall, "traced" -> traced) ++
          w.passExtras(p)
        p += 1
      }
      val measuredS = Timing.now() - t0
      // heap the program still holds once garbage is collected: cached
      // tables, memos, prepared artifacts
      System.gc(); System.gc()
      val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

      val result = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "setup" -> Map[String, Any](
          "session_s" -> sessionS, "cache_s" -> cacheS, "cached_mb" -> cachedMb,
          "warm_s" -> warmS, "store_b" -> storeB, "store_files" -> storeFiles),
        "checks" -> checks.toMap,
        "warm" -> warmSamples.map(_.json),
        "passes" -> passes.toSeq,
        "samples" -> samples.map(_.json).toSeq,
        "measured_s" -> measuredS,
        "peak_rss_mb" -> peakRssMb(),
        "retained_heap_mb" -> retainedMb)
      Files.writeString(out, Serialization.write(result)(DefaultFormats))
    } finally spark.stop()
  }
}

