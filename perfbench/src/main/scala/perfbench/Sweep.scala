package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops._

/** The query sweep: a fixed sample of the registered queries, each built
  * through `SparkEntry.queries` and materialized by writing its result as
  * parquet, so every output column is computed (a `count()` lets Catalyst
  * prune the defining operator away) and run.py can compare the result
  * with the query's DuckDB oracle.
  */
final class Sweep(inputs: String, work: Path, sample: Seq[(String, String)] = Sweep.sample)
    extends Workload {
  import Sweep.{MinPasses, firstLine}

  private val results = work.resolve("results")

  def warmUp(spark: SparkSession): Unit = {
    // graft.Bench's warm-up: scan+agg, broadcast join, window, and the
    // graft expression family, so their code generation is not billed to
    // whichever query happens to run first.
    val li = spark.read.parquet(s"$inputs/lineitem.parquet")
    li.agg(sum("l_quantity")).collect()
    val o = spark.read.parquet(s"$inputs/orders.parquet")
    li.join(broadcast(o.limit(1000)), li("l_orderkey") === o("o_orderkey")).count()
    import org.apache.spark.sql.expressions.Window
    li.limit(10000).withColumn("rn",
      row_number().over(Window.partitionBy("l_returnflag").orderBy("l_orderkey"))).count()
    val docs = spark.read.parquet(s"$inputs/documents.parquet").limit(2000)
      .select(col("doc_id"), col("text"),
        call_function("portable_word_hashes", col("text")).as("wh"))
    docs.select(call_function("minhash_sig", col("wh")).as("sig"),
      call_function("shingle_hashes", col("text")).as("sh"),
      call_function("word_window_hashes", col("text"), lit(8)).as("wwh")).count()
    val emb = spark.read.parquet(s"$inputs/embeddings.parquet").limit(500)
    emb.select(call_function("hyperplane_bucket", col("embedding")).as("b"),
      call_function("hyperplane_sig32", col("embedding")).as("s32"),
      call_function("qcosine", col("embedding"), col("embedding")).as("c")).count()
    ()
  }

  private def build(spark: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(spark, inputs)

  private def write(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(results.resolve(name).toString)

  private def release(spark: SparkSession): Unit = {
    PipelineCache.release()
    spark.sharedState.cacheManager.clearCache()
  }

  /** One execution without tracing: wall seconds, or the error. */
  private def plain(spark: SparkSession, name: String): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      write(build(spark, name), name)
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(s"$name: ${firstLine(e)}") }
    finally release(spark)
  }

  def run(spark: SparkSession, seconds: Double, traced: Boolean): Outcome = {
    Files.createDirectories(results)
    val oracles = SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"), Json.obj(
      sample.collect { case (n, _) if oracles.contains(n) => n -> Json.str(oracles(n)) }))
    if (traced) tracedPass(spark) else timedPasses(spark, seconds)
  }

  /** One untimed pass first, so the timed ones measure warm queries, as
    * graft.Bench does: the cold pass is dominated by JIT compilation and
    * varies far more from run to run than the engine's own work.
    */
  private def warmPass(spark: SparkSession): Unit =
    sample.foreach { case (name, _) => plain(spark, name) }

  /** Timed passes, at least `MinPasses` and at least `seconds`. A query's
    * time is its best pass, as in graft.Bench's warm min-of-2: a burst of
    * CPU steal on the host then costs a run nothing unless it hits the
    * same query in every pass.
    */
  private def timedPasses(spark: SparkSession, seconds: Double): Outcome = {
    warmPass(spark)
    val t0 = System.nanoTime()
    val best = mutable.Map.empty[String, Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    while (cpu.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val cpu0 = Cpu.secs
      sample.foreach { case (name, _) =>
        attempted += 1
        plain(spark, name) match {
          case Right(s) =>
            best(name) = math.min(s, best.getOrElse(name, s))
            Log(f"$name: $s%.3f s")
          case Left(err) => failures += err
        }
      }
      cpu += Cpu.secs - cpu0
    }
    Outcome(attempted, failures.toSeq, Map(
      "op_p50_ms" -> Stats.hdMedian(best.values.toSeq) * 1e3,
      "round_s" -> best.values.sum,
      "round_cpu_s" -> cpu.min))
  }

  /** One pass in which every query runs three times: once untimed, then
    * once traced and once not, alternating which of the two goes first.
    * An execution right after one of the same query is markedly faster
    * than one after other queries (generated code is still cached), so
    * both measured ones follow an untimed one; their difference is the
    * tracing overhead.
    */
  private def tracedPass(spark: SparkSession): Outcome = {
    val spans = new Spans
    val counters = new Counters
    val failures = mutable.ArrayBuffer.empty[String]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var tracedWall, plainWall = 0.0
    var execTotals = Snap.zero
    val perQuery = mutable.ArrayBuffer.empty[QueryLayers]
    sample.zipWithIndex.foreach { case ((name, module), i) =>
      def tracedOnce(): Unit = {
        val start = System.nanoTime()
        counters.register(spark)
        spans.run = i
        try {
          Bus.drain(spark)
          val s0 = counters.snapshot
          // No listener drain inside the query: events are attributed to
          // construction or materialization by their own timestamps.
          val (t0, c0) = (System.nanoTime(), System.currentTimeMillis())
          val df = spans("ops.construct")(build(spark, name))
          val construct = spans.lastSecs
          val w0 = System.currentTimeMillis()
          spans("exec")(write(df, name))
          val exec = spans.lastSecs
          val (wall, w1) = ((System.nanoTime() - t0) / 1e9, System.currentTimeMillis())
          Bus.drain(spark)
          val d = counters.snapshot - s0
          execTotals += d
          val plan = (counters.phaseMs("optimization", w0, w1) +
            counters.phaseMs("planning", w0, w1)) / 1e3
          // Analysis is eager: it ran during construction, on the result's
          // own QueryExecution.
          layer("plans.analysis_s") +=
            df.queryExecution.tracker.phases.get("analysis").fold(0L)(_.durationMs) / 1e3
          layer("plans.optimization_s") += counters.phaseMs("optimization", w0, w1) / 1e3
          layer("plans.planning_s") += counters.phaseMs("planning", w0, w1) / 1e3
          layer("ops.cache_builds") += (if (PipelineCache.heldCount > 0) 1 else 0)
          layer("ops.construct_jobs") += counters.jobsStarted(c0, w0)
          layer("exec.jobs") += counters.jobsStarted(w0, w1 + 1)
          layer("exec.idle_s") += counters.idleMs(w0, w1) / 1e3
          layer("exec.busy_s") += counters.busyMs(w0, w1) / 1e3
          layer(s"ops.$module.construct_s") += construct
          layer(s"exec.$module.wall_s") += exec
          layer(s"exec.$module.task_cpu_s") += d.cpuNs / 1e9
          layer(s"exec.$module.jobs") += counters.jobsStarted(w0, w1 + 1)
          perQuery += QueryLayers(name, module, wall, construct, plan, exec - plan)
          Log(f"$name traced: $wall%.3f s")
        } catch { case e: Throwable => failures += s"$name: ${firstLine(e)}" }
        finally {
          tracedWall += (System.nanoTime() - start) / 1e9
          release(spark)
          counters.unregister(spark)
        }
      }
      def plainOnce(): Unit = plain(spark, name) match {
        case Right(s) => plainWall += s; Log(f"$name plain: $s%.3f s")
        case Left(err) => failures += err
      }
      plain(spark, name).left.foreach(failures += _)
      if (i % 2 == 0) { tracedOnce(); plainOnce() } else { plainOnce(); tracedOnce() }
    }
    spans.writeJsonl(work.resolve("spans.jsonl"))
    Files.writeString(work.resolve("query_layers.jsonl"), perQuery.map(_.json).mkString("", "\n", "\n"))
    val execWall = spans.total("exec")
    // exec.* task counters cover every job the query ran, those started
    // during construction included; exec.jobs, exec.idle_s and
    // exec.core_busy_frac cover the materialization only.
    val m = Metrics.empty ++ (layer - "exec.busy_s") ++ Map(
      "ops.construct_s" -> spans.total("ops.construct"),
      "exec.wall_s" -> execWall,
      "exec.stages" -> execTotals.stages.toDouble,
      "exec.tasks" -> execTotals.tasks.toDouble,
      "exec.core_busy_frac" -> layer("exec.busy_s") / (execWall * Main.Cores),
      "exec.task_cpu_s" -> execTotals.cpuNs / 1e9,
      "exec.task_run_s" -> execTotals.runMs / 1e3,
      "exec.gc_s" -> execTotals.gcMs / 1e3,
      "exec.shuffle_read_mb" -> execTotals.shuffleRead / 1e6,
      "exec.shuffle_write_mb" -> execTotals.shuffleWrite / 1e6,
      "exec.spill_mb" -> execTotals.spill / 1e6,
      "exec.input_mb" -> execTotals.input / 1e6,
      "exec.storage_peak_mb" -> counters.storagePeak / 1e6,
      "trace.overhead_frac" -> (tracedWall - plainWall) / plainWall)
    Outcome(3 * sample.size, failures.toSeq, m)
  }
}

/** One traced query's wall time split by layer: construction (fixture
  * resolution, DataFrame building, eager construction-time jobs), Catalyst
  * phases of the materializing command, and the rest of its execution.
  * The three parts leave out only the harness's listener drains.
  */
final case class QueryLayers(
    name: String, module: String, wall: Double, construct: Double, plan: Double, exec: Double) {
  def json: String = Json.obj(Seq("name" -> Json.str(name), "module" -> Json.str(module),
    "wall_s" -> Json.num(wall), "construct_s" -> Json.num(construct),
    "plan_s" -> Json.num(plan), "exec_s" -> Json.num(exec)))
}

object Sweep {
  /** Every `Stride`-th query of each module in name order. The full sweep
    * (186 queries, about 150 s cold and 90 s warm at this scale on 4 cores)
    * does not fit one benchmark run; a fixed stratified sample keeps every
    * module in each run and the same queries in every run.
    */
  val Stride = 12
  val MinPasses = 2

  val modules: Seq[(String, Map[String, Q])] = Seq(
    "Relational" -> Relational.queries, "Analytics" -> Analytics.queries,
    "Events" -> Events.queries, "TextOps" -> TextOps.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "Multimodal" -> Multimodal.queries, "CustomFns" -> CustomFns.queries,
    "Joins" -> Joins.queries)

  /** Left out before the stride is applied: the DuckDB oracle of
    * d44_leakage_safe_split alone takes about 20 s of all 4 cores per run
    * at this scale, more than the run budget leaves for the output check.
    */
  val Unsampled = Set("d44_leakage_safe_split")

  /** (query, module) in name order. */
  val sample: Seq[(String, String)] = modules.flatMap { case (m, qs) =>
    qs.keys.toSeq.sorted.filterNot(Unsampled).zipWithIndex
      .collect { case (n, i) if i % Stride == 0 => n -> m }
  }.sortBy(_._1)

  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption()
      .getOrElse("").take(200)
}
