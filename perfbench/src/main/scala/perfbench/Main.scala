package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** What one workload reports: operations attempted, the failed ones by
  * name and reason, and its metrics.
  */
final case class Outcome(attempted: Int, failures: Seq[String], metrics: Map[String, Double])

trait Workload {
  /** Untimed work that lets code generation and JIT settle. */
  def warmUp(spark: SparkSession): Unit
  /** Measure for at least `seconds`; with `traced`, report per-layer metrics. */
  def run(spark: SparkSession, seconds: Double, traced: Boolean): Outcome
}

/** Benchmark harness entry point, launched by run.py:
  *
  *   --workload query_sweep|migrate_parquet|migrate_jdbc --seconds S
  *   --trace 0|1 --inputs DIR --work DIR --out FILE
  *
  * The session config is graft.Bench's: local[4], shuffle partitions =
  * cores, AQE on, 2 MB max partition bytes, UTC, parquet nanosAsLong.
  */
object Main {
  val Cores = 4
  val Setups = 3

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val inputs = a("inputs")
    val work = Paths.get(a("work"))
    val traced = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "query_sweep" => new Sweep(inputs, work)
      case "migrate_parquet" => new Migrations(inputs, work, jdbc = false)
      case "migrate_jdbc" => new Migrations(inputs, work, jdbc = true)
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up is JVM start -> session ready and warmed up; it is repeated
    // in-process so its median is steadier than one cold start.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val offset = if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      val s = session()
      workload.warmUp(s)
      if (i < Setups - 1) s.stop()
      val secs = offset + (System.nanoTime() - t0) / 1e9
      Log(f"setup $i: $secs%.2f s")
      secs
    }
    val spark = SparkSession.active
    val outcome = try workload.run(spark, a("seconds").toDouble, traced) finally spark.stop()
    val metrics =
      if (traced) outcome.metrics
      else outcome.metrics + ("setup_s" -> Stats.median(setups))
    Files.writeString(Paths.get(a("out")), Json.obj(Seq(
      "attempted" -> outcome.attempted.toString,
      "failures" -> outcome.failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
  }
}

/** Progress lines on stderr, which run.py keeps in the run's log. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")
}

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used: engine, JIT and GC threads alike. Time
    * the host steals from the virtual CPUs is not in it, unlike wall time.
    */
  def secs: Double = os.getProcessCpuTime / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis estimate of the median: a Beta-weighted mean of all
    * order statistics. With a few dozen samples or fewer it moves far less
    * from run to run than the one or two order statistics the plain median
    * picks.
    */
  def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(Double.NaN)
    else {
      val a = (n + 1) / 2.0
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, a)
      s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
    }
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
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}

/** Names of the per-layer metrics; every traced run reports all of them,
  * 0 for a layer its workload does not reach.
  */
object Metrics {
  val perLayer: Seq[String] = Seq(
    "ops.construct_s", "ops.construct_jobs", "ops.cache_builds",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.idle_s",
    "exec.core_busy_frac", "exec.task_cpu_s", "exec.task_run_s", "exec.gc_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.input_mb",
    "exec.storage_peak_mb") ++
    Sweep.modules.map(_._1).flatMap(m => Seq(s"ops.$m.construct_s", s"exec.$m.wall_s",
      s"exec.$m.task_cpu_s", s"exec.$m.jobs")) ++ Seq(
    "pipeline.seed_s", "pipeline.checkpoint_read_s", "pipeline.mark_s", "pipeline.write_s",
    "pipeline.verify_s", "pipeline.pass_self_s", "pipeline.validate_source_s",
    "pipeline.validate_sink_s", "pipeline.source_reads_per_pass", "pipeline.passes",
    "pipeline.ranges_done", "pipeline.rows_per_s", "pipeline.rerun_s",
    "pipeline.write.tasks", "pipeline.write.task_cpu_s", "pipeline.write.task_run_s",
    "pipeline.write.gc_s", "pipeline.write.idle_s", "pipeline.write.core_busy_frac",
    "pipeline.write.output_files", "pipeline.write.output_mb", "pipeline.write.range_skew",
    "jdbc.batch_attempts", "jdbc.batches_committed", "jdbc.retry_frac", "jdbc.insert_frac",
    "jdbc.rerun_insert_frac", "jdbc.wal_rows",
    "trace.overhead_frac")

  def empty: Map[String, Double] = perLayer.map(_ -> 0.0).toMap
}
