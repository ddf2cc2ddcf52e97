package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.queries.StagedCache

/** The benchmark's JVM side: one process, one Spark session at a time
  * (`local[4]`), one closed-loop client that issues each operation only
  * after the previous one has completed.
  *
  * `run.py` builds this package, generates the lake, and afterwards
  * checks the dumped query results against the DuckDB oracle and turns
  * the run record written here into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --lake <dir> --run-dir <dir> --out <record.json>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      lake: String, runDir: String, out: String)

  /** Setups per run; `setup_s` is their median. */
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("lake"), m("run-dir"), m("out"))
  }

  def session(a: Args, confs: Map[String, String]): SparkSession = {
    val b = GraftSession.builder("graft-perfbench")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"${a.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.sql.catalog.graft.root", new File(a.lake).getParent)
      // Spark's status store keeps recent jobs, stages, tasks and SQL
      // plans for its UI; with its defaults that history would dominate
      // the retained driver heap and grow with however much a seed ran.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed CPU-plus-shuffle job whose duration tracks how busy the host
    * is; run at the start, middle and end of every run. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, 4)
      .selectExpr("id % 4001 AS k", "sha2(cast(id AS string), 256) AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.max("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Driver heap in use after full collections. Spark frees broadcast
    * and shuffle state from a cleaner thread once their owners have been
    * collected, so collect a few times with pauses for it and keep the
    * lowest reading. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "orchestration" => new QueryWorkload(QueryWorkload.Orchestration)
      case "lake_scan"     => new QueryWorkload(QueryWorkload.LakeScan)
      case "txn_mixed"     => new TxnMixed
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = a.workload
    rec("seed") = a.seed
    val tracer = new Tracer(a.trace)

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a, workload.confs(a))
      workload.setup(spark, a)
      (System.nanoTime() - t0) / 1e9
    }
    rec("setup_s") = setups
    tracer.attach(spark)
    calibrate(spark) // untimed: the probe's own first run is a cold start
    val calib = mutable.ArrayBuffer(calibrate(spark))
    val res = workload.run(spark, a, tracer, () => calib += calibrate(spark))
    rec("retained_heap_mb") = retainedHeapMb()
    calib += calibrate(spark)
    rec("calib_s") = calib.toSeq
    tracer.detach()
    rec ++= res
    if (a.trace) {
      rec ++= layers(tracer)
      tracer.writeSpans(s"${new File(a.out).getParent}/${a.workload}-${a.seed}-spans.jsonl")
    }
    workload.teardown(spark, a)
    spark.stop()
    Files.writeString(Paths.get(a.out), Json.render(rec))
  }

  /** Per-layer totals from the traced run: the workload's own calls,
    * without the result dumps for the oracle check and the probes. */
  def layers(t: Tracer): Map[String, Any] = {
    val all = t.total(l => l != "check" && l != "none")
    val self = t.selfSeconds
    Map(
      "layer_totals" -> Map(
        "sched.jobs" -> all.jobs, "sched.stages" -> all.stages, "sched.tasks" -> all.tasks,
        "sched.task_deser_s" -> all.deserMs / 1e3, "sched.delay_s" -> all.schedDelayMs / 1e3,
        "exec.cpu_s" -> all.cpuNs / 1e9, "exec.run_s" -> all.runMs / 1e3,
        "exec.gc_s" -> all.gcMs / 1e3, "exec.input_bytes" -> all.inputBytes,
        "exec.shuffle_write_bytes" -> all.shuffleWrite,
        "exec.shuffle_read_bytes" -> all.shuffleRead,
        "exec.fetch_wait_s" -> all.fetchWaitMs / 1e3, "exec.spill_bytes" -> all.spillBytes,
        "plans.analysis_s" -> all.analysisMs / 1e3,
        "plans.optimization_s" -> all.optimizationMs / 1e3,
        "plans.planning_s" -> all.planningMs / 1e3,
        "queries.build_jobs" -> t.total(_ == "build").jobs),
      "span_self_s" -> self,
      "op_span_s" -> t.spans.iterator.filter(_.parent < 0).map(_.seconds).sum,
      "trace_wait_s" -> t.waitNs / 1e9)
  }
}

/** A named workload: its session settings, its set-up (repeated
  * [[Main.SetupReps]] times, each on a fresh session), and its timed
  * section, which returns the run record's workload fields. */
trait Workload {
  def confs(a: Main.Args): Map[String, String] = Map.empty
  def setup(spark: SparkSession, a: Main.Args): Unit
  def run(spark: SparkSession, a: Main.Args, t: Tracer, midCalib: () => Unit): Map[String, Any]
  def teardown(spark: SparkSession, a: Main.Args): Unit = ()
}

object QueryWorkload {
  /** `secondsPerPass` sets how many whole passes a run makes: one per
    * that many seconds of `--seconds`, at least one, so every seed runs
    * the same operations. */
  final case class Spec(classes: Seq[(String, Seq[String])],
      confs: Map[String, String], traced: Set[String], preheat: String,
      secondsPerPass: Double)

  /** Job-heavy queries whose builders run many eager jobs, a scale-gated
    * query with its gate left off at this size, and two of the paper's
    * kernels run under graft's tracing, as the reference always runs
    * them. */
  val Orchestration = Spec(
    Seq(
      "ann" -> Seq("q_ann_ivfpq"),
      "graph" -> Seq("q_dedup_clusters"),
      "train" -> Seq("q_bpe_merges"),
      "txn_bloom" -> Seq("q_txn_bloom_skip"),
      "gates_off" -> Seq("q_gap_fill"),
      "kernels" -> Seq("q_wordcount", "q_inverted_index")),
    Map.empty, Set("q_wordcount", "q_inverted_index"), preheat = "q_txn_bloom_skip",
    secondsPerPass = 20)

  /** Executor-heavy queries over a larger lake, with the scale gates
    * forced on, and the paper's three kernels run under graft's tracing. */
  val LakeScan = Spec(
    Seq(
      "cpu" -> Seq("q_percentiles", "q_map_funcs", "q_tpch_q2", "q_tpch_q21"),
      "gates_on" -> Seq("q_gap_fill", "q_containment_pairs", "q_ngram_jaccard"),
      "shuffle_join" -> Seq("q_tpch_q5", "q_join_multi"),
      "kernels" -> Seq("q_wordcount", "q_sort", "q_inverted_index")),
    Map("spark.graft.gapfill.stageBytes" -> "1", "spark.graft.dedup.candStageBytes" -> "1"),
    Set("q_wordcount", "q_sort", "q_inverted_index"), preheat = "q_join_multi",
    secondsPerPass = 40)
}

/** `orchestration` and `lake_scan`: whole passes over the query list, in
  * an order the seed shuffles anew for every pass. One operation is a
  * query's build plus its noop-sink action. Each query's rows are dumped once per run, outside
  * the timed interval, for the oracle check. */
final class QueryWorkload(spec: QueryWorkload.Spec) extends Workload {
  private val names = spec.classes.flatMap(_._2)
  private val queryClass = spec.classes.flatMap { case (c, qs) => qs.map(_ -> c) }.toMap

  override def confs(a: Main.Args): Map[String, String] = spec.confs

  def setup(spark: SparkSession, a: Main.Args): Unit = {
    val fn = graft.SparkEntry.queries(spec.preheat)
    try fn(spark, a.lake).write.format("noop").mode("overwrite").save()
    finally StagedCache.releaseAll(blocking = true)
  }

  def run(spark: SparkSession, a: Main.Args, t: Tracer, midCalib: () => Unit): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val rng = new scala.util.Random(a.seed)
    val dumpDir = s"${a.runDir}/dumps"
    val dumped = mutable.Set.empty[String]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val nPasses = math.max(1, math.round(a.seconds / spec.secondsPerPass).toInt)
    var buildS, releaseS, installS, uninstallS = 0.0
    var staged, traceSpans = 0L
    var opN = 0
    val wall0 = System.nanoTime()
    var checkS = 0.0
    (0 until nPasses).foreach { _ =>
      val order = rng.shuffle(names)
      var passS = 0.0
      order.foreach { q =>
        if (opN == nPasses * names.size / 2) midCalib()
        val op = f"op$opN%04d"
        opN += 1
        var lat = 0.0
        var ok = true
        val (_, opS) = t.outer(op, "op", -1) { pid =>
          val handle = if (spec.traced(q)) {
            val exp = new graft.observe.InMemoryExporter
            val (h, s, _) = t.timed(op, "trace_install", pid, s"$op|observe") {
              graft.observe.Trace.install(spark, exp)
            }
            installS += s
            Some((h, exp))
          } else None
          try {
            val (df, b, _) = t.timed(op, "build", pid, s"$op|build") { queries(q)(spark, a.lake) }
            val (_, act, _) = t.timed(op, "action", pid, s"$op|action") {
              df.write.format("noop").mode("overwrite").save()
            }
            buildS += b
            lat = b + act
            handle.foreach { case (h, exp) =>
              val (_, s, _) = t.timed(op, "trace_uninstall", pid, s"$op|observe") {
                graft.observe.Trace.uninstall(spark, h)
              }
              uninstallS += s
              lat += s
              traceSpans += exp.spans.size
            }
            staged += StagedCache.stagedCount
            if (!dumped(q)) {
              val (_, c, _) = t.timed(op, "check", pid, s"$op|check") { dump(spark, df, s"$dumpDir/$q") }
              checkS += c
              dumped += q
            }
          } catch {
            case e: Throwable =>
              ok = false
              System.err.println(s"[perfbench] $q failed: $e")
          } finally {
            val (_, r, _) = t.timed(op, "release", pid, s"$op|release") {
              StagedCache.releaseAll(blocking = true)
            }
            releaseS += r
          }
        }
        passS += opS
        ops += Map("name" -> q, "class" -> queryClass(q), "kind" -> "query",
          "latency_s" -> lat, "ok" -> ok, "pass" -> passes.size)
      }
      // Pass wall time without the once-per-run result dumps.
      val timedS = passS - checkS
      checkS = 0.0
      passes += timedS
    }
    Map("ops" -> ops.toSeq, "pass_s" -> passes.toSeq, "ops_per_pass" -> names.size,
      "timed_wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "layer_query" -> Map("queries.build_s" -> buildS, "queries.release_s" -> releaseS,
        "queries.staged_tables" -> staged, "observe.install_s" -> installS,
        "observe.uninstall_s" -> uninstallS, "observe.spans" -> traceSpans),
      "dumps" -> dumped.toSeq.sorted,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (q, _) => dumped(q) })
  }

  /** The result rows as one parquet file, with INT96 timestamps, the
    * encoding the DuckDB compare reads as naive timestamps. */
  private def dump(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try df.coalesce(1).write.mode("overwrite").parquet(path)
    finally spark.conf.set(key, prev)
  }
}
