package perfbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{Sanitize, Tokens}
import graft.functions.CassandraToken
import graft.pipeline._

/** The checkpointed migration of the reference's `files` table, driven
  * through `graft.pipeline.Migrate` with the bindings `MigrateMain` makes:
  * Murmur3 `cassandra_token` over the full signed-64 ring, 256 ranges,
  * `Sanitize.filesPolicy`, `id` renamed to `file_id`.
  *
  *  - jdbc = false: `ParquetSink` + parquet `Checkpoints`; one operation is
  *    a fresh migration to `validate()` = OK.
  *  - jdbc = true: `Ddl.ensureTables`, `JdbcTableSink` with WAL (batch
  *    5,000) and `JdbcCheckpoints`, on in-memory embedded Derby. A round is
  *    a fresh migration (the operation) and then an idempotent re-run with
  *    every checkpoint reset while all rows are still in the sink: the
  *    "crash after write, before markComplete" case.
  */
final class Migrations(inputs: String, work: Path, jdbc: Boolean) extends Workload {
  import Migrations._

  private val src = s"$inputs/files"
  private var ops = 0

  def warmUp(spark: SparkSession): Unit = {
    // One unchecked migration of a single source file through the same
    // bindings, so the timed ones do not pay class loading and JIT.
    val one = Files.list(java.nio.file.Paths.get(src)).sorted().findFirst().get().toString
    val b = bind(spark, countAttempts = false)
    try migrate(spark, config(one, b, None)) finally b.close()
  }

  /** A fresh sink and checkpoint store. */
  def bind(spark: SparkSession, countAttempts: Boolean): Binding = {
    ops += 1
    if (jdbc) {
      val db = s"perfbench_${ProcessHandle.current().pid()}_$ops"
      val url = s"jdbc:derby:memory:$db;create=true"
      // MigrateMain's K5 bootstrap: sink schema = renamed source + range_id.
      val schema = StructType(spark.read.parquet(src).schema.fields.map(f =>
        f.copy(name = Renames.getOrElse(f.name, f.name))) :+ StructField("range_id", LongType))
      val conn = DriverManager.getConnection(url)
      try Ddl.ensureTables(conn, DerbyDialect, SinkTable, schema, Seq("file_id"))
      finally conn.close()
      val cfg = JdbcSink.JdbcConfig(
        url = url, user = "", password = "", table = SinkTable,
        columns = schema.fieldNames.toSeq, keyCols = Seq("file_id"),
        dialect = DerbyDialect, walTable = Some(WalTable))
      Binding(JdbcTableSink(
        if (countAttempts) cfg.copy(onBatch = (_, _) => { Attempts.count.incrementAndGet(); () })
        else cfg),
        new JdbcCheckpoints(url, "", "", dialect = DerbyDialect), Some(url), None)
    } else {
      val dir = work.resolve(s"op-$ops")
      Binding(ParquetSink(dir.resolve("sink").toString),
        new Checkpoints(spark, dir.resolve("checkpoints").toString), None, Some(dir))
    }
  }

  def config(source: String, b: Binding, t: Option[Tracing]): MigrateConfig = MigrateConfig(
    srcPath = source, keyCol = "id", numRanges = Ranges, sinkPath = "", checkpointPath = "",
    policy = Sanitize.filesPolicy, renames = Renames,
    tokenFn = CassandraToken.cassandra_token, ringMin = Tokens.RingMin, ringMax = Tokens.RingMax,
    source = Some(t.fold[MigrateSource](ParquetSource(source))(_.source(ParquetSource(source)))),
    sink = Some(t.fold(b.sink)(_.sink(b.sink))),
    checkpoints = Some(t.fold(b.checkpoints)(_.checkpoints(b.checkpoints))))

  /** Independent checks of a finished migration; empty when all hold. */
  def check(spark: SparkSession, b: Binding, v: ValidationRow,
      expected: Digest.Value): Seq[String] = {
    val got = Digest.of(b.sinkFrame(spark))
    val cps = b.checkpoints.all()
    Seq(
      Option.when(v.status != "OK")(s"validate() = ${v.status}"),
      Option.when(got.rows != expected.rows || got.sum != expected.sum)(
        s"sink digest $got != source digest $expected"),
      Option.when(got.keys != got.rows)(s"${got.rows - got.keys} duplicate file_id keys"),
      Option.when(cps.size != Ranges || !cps.forall(_.complete))(
        s"${cps.count(!_.complete)} of ${cps.size} checkpoints incomplete"),
      b.url.flatMap { url =>
        val n = Derby.long(url, s"SELECT COUNT(*) FROM \"$WalTable\" WHERE \"status\" <> 'COMMITTED'")
        Option.when(n != 0)(s"$n WAL rows not COMMITTED")
      }).flatten
  }

  /** One checked migration over `b`: (wall, CPU) seconds, or what was wrong. */
  def op(spark: SparkSession, b: Binding, t: Option[Tracing], expected: Digest.Value,
      what: String): Either[String, (Double, Double)] =
    try {
      val (t0, cpu0) = (System.nanoTime(), Cpu.secs)
      val v =
        try migrate(spark, config(src, b, t), t.fold(Spans.off)(_.spans))
        finally t.foreach(_.finish(spark))
      val (secs, cpu) = ((System.nanoTime() - t0) / 1e9, Cpu.secs - cpu0)
      val problems = check(spark, b, v, expected)
      Log(f"$what ${b.name}: $secs%.2f s, checked in ${(System.nanoTime() - t0) / 1e9 - secs}%.2f s")
      if (problems.isEmpty) Right((secs, cpu))
      else Left(s"$what ${b.name}: ${problems.mkString("; ")}")
    } catch { case e: Throwable => Left(s"$what ${b.name}: ${Sweep.firstLine(e)}") }

  def run(spark: SparkSession, seconds: Double, traced: Boolean): Outcome =
    run(spark, seconds, traced, Digest.of(Digest.expectedSink(spark.read.parquet(src))))

  /** `expected` is the source-side digest every sink must match. */
  def run(spark: SparkSession, seconds: Double, traced: Boolean,
      expected: Digest.Value): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val fresh, rounds, cpu, tracedRounds, plainRounds = mutable.ArrayBuffer.empty[Double]
    val layers = new Layers(expected.rows)
    var attempted = 0
    val t0 = System.nanoTime()
    var i = 0
    // A traced run interleaves plain and traced rounds (P T T P ...), so
    // warm-up drift falls on both sides; the per-layer figures come from
    // the traced rounds, the overhead from both.
    while (i < MinRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traceThis = traced && (i % 4 == 1 || i % 4 == 2)
      val b = bind(spark, countAttempts = traceThis)
      try {
        attempted += 1
        val tf = Option.when(traceThis)(new Tracing(spark))
        Attempts.count.set(0)
        val first = op(spark, b, tf, expected, "migration")
        first.fold(failures += _, f => fresh += f._1)
        tf.foreach { t =>
          layers.fresh(t, b, Attempts.count.get)
          t.spans.writeJsonl(work.resolve(s"spans-round$i.jsonl"))
        }
        val second = if (!jdbc || first.isLeft) Right((0.0, 0.0)) else {
          attempted += 1
          val before = Derby.long(b.url.get, s"SELECT COUNT(*) FROM \"$SinkTable\"")
          Derby.exec(b.url.get, s"UPDATE \"$CheckpointTable\" SET \"checkpoint\" = \"range_start\"")
          val tr = Option.when(traceThis)(new Tracing(spark))
          val r = op(spark, b, tr, expected, "re-run")
          tr.foreach(t => layers.rerun(t, b, before))
          r
        }
        second.left.foreach(failures += _)
        for (a <- first; r <- second) {
          rounds += a._1 + r._1
          cpu += a._2 + r._2
          (if (traceThis) tracedRounds else plainRounds) += a._1 + r._1
        }
      } finally b.close()
      i += 1
    }
    val metrics =
      if (traced) layers.metrics ++ Map("trace.overhead_frac" ->
        (Stats.median(tracedRounds.toSeq) / Stats.median(plainRounds.toSeq) - 1))
      else Map(
        "op_p50_ms" -> Stats.hdMedian(fresh.toSeq) * 1e3,
        "round_s" -> Stats.median(rounds.toSeq),
        "round_cpu_s" -> Stats.median(cpu.toSeq))
    Outcome(attempted, failures.toSeq, metrics)
  }
}

object Migrations {
  val Ranges = 256
  val MaxPasses = 3
  /** Rounds per run at least: the median rides through one transient
    * slowdown of the host, and a traced run gets two of each kind.
    */
  val MinRounds = 4
  val Renames = Map("id" -> "file_id")
  val SinkTable = "files"
  val WalTable: String = Ddl.ControlTables().wal
  val CheckpointTable: String = Ddl.ControlTables().checkpoints

  /** Counts JDBC batch attempts through JdbcConfig.onBatch; executors run
    * in this JVM (local mode), so one static counter sees every task.
    */
  object Attempts { val count = new AtomicLong }

  /** `Migrate.run` with each pass observable: passes until every
    * checkpoint is complete (at most MaxPasses), then global validation.
    */
  def migrate(spark: SparkSession, cfg: MigrateConfig, spans: Spans = Spans.off): ValidationRow = {
    val m = new Migrate(spark, cfg)
    var pass = 0
    while (m.checkpointsIncomplete() && pass < MaxPasses) {
      spans("pipeline.pass")(m.runOnce())
      pass += 1
    }
    spans("pipeline.validate")(m.validate())
  }

  final case class Binding(
      sink: MigrateSink, checkpoints: CheckpointStore, url: Option[String], dir: Option[Path]) {
    def name: String = url.orElse(dir.map(_.getFileName.toString)).getOrElse("")
    def sinkFrame(spark: SparkSession): DataFrame = url match {
      case Some(u) => spark.read.format("jdbc").option("url", u)
        .option("dbtable", "\"" + SinkTable + "\"").load()
      case None => spark.read.parquet(dir.get.resolve("sink").toString)
    }
    def close(): Unit = {
      url.foreach(Derby.drop)
      dir.foreach(Dirs.delete)
    }
  }
}

/** The traced run's delegating wrappers around the `MigrateSource`,
  * `MigrateSink` and `CheckpointStore` seams, with the spans and listener
  * counters of one migration.
  */
final class Tracing(spark: SparkSession) {
  val spans = new Spans
  val counters = new Counters
  counters.register(spark)
  Bus.drain(spark)
  private val start = counters.snapshot
  var total: Snap = Snap.zero
  var write: Snap = Snap.zero
  var writeIdleMs = 0L
  var lastCounts: Map[Long, Long] = Map.empty
  var markedRanges = 0L
  var wall = 0.0

  private val startMs = System.currentTimeMillis()
  var idleMs = 0L

  /** Close the migration's window: the checks after it are not its work. */
  def finish(spark: SparkSession): Unit = {
    Bus.drain(spark)
    total = counters.snapshot - start
    wall = (System.currentTimeMillis() - startMs) / 1e3
    idleMs = counters.idleMs(startMs, System.currentTimeMillis())
    counters.unregister(spark)
  }

  def source(s: MigrateSource): MigrateSource = new MigrateSource {
    def read(spark: SparkSession): DataFrame = spans("pipeline.source_read")(s.read(spark))
  }

  def sink(s: MigrateSink): MigrateSink = new MigrateSink {
    def write(df: DataFrame, rangeIds: Seq[Long]): Unit = spans("pipeline.write") {
      Bus.drain(df.sparkSession)
      val s0 = counters.snapshot
      val w0 = System.currentTimeMillis()
      s.write(df, rangeIds)
      val w1 = System.currentTimeMillis()
      Bus.drain(df.sparkSession)
      Tracing.this.write += counters.snapshot - s0
      writeIdleMs += counters.idleMs(w0, w1)
    }
    def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long] =
      spans("pipeline.verify") {
        val c = s.countsByRange(spark, rangeIds)
        lastCounts = c
        c
      }
    def totalCount(spark: SparkSession): Long =
      spans("pipeline.validate_sink")(s.totalCount(spark))
  }

  def checkpoints(c: CheckpointStore): CheckpointStore = new CheckpointStore {
    def seedIfEmpty(ranges: Seq[Tokens.TokenRange]): Unit =
      spans("pipeline.seed")(c.seedIfEmpty(ranges))
    def all(): Seq[CheckpointRange] = spans("pipeline.checkpoint_read")(c.all())
    override def fetchIncomplete(): Seq[CheckpointRange] =
      spans("pipeline.checkpoint_read")(c.fetchIncomplete())
    def markComplete(rangeIds: Seq[Long]): Unit = spans("pipeline.mark") {
      markedRanges += rangeIds.size
      c.markComplete(rangeIds)
    }
  }
}

/** Order-independent content digest over every data column of the sink:
  * the sum of per-row xxhash64 over each column's string form (NULL kept
  * distinct from ""), plus row and distinct-key counts. `range_id` is left
  * out: it is derived by the engine's own token function, so an expected
  * value would not be independent.
  */
object Digest {
  final case class Value(rows: Long, keys: Long, sum: BigDecimal)

  val Columns: Seq[String] = Seq("file_id", "client_name", "client_zone", "cluster",
    "duration", "ext", "fid", "name", "mime", "size", "type", "height", "width", "modified")

  def of(df: DataFrame): Value = {
    val h = xxhash64(Columns.map(c => coalesce(col(c).cast("string"), lit("\u0000NULL"))): _*)
    val r = df.agg(count(lit(1)), countDistinct(col("file_id")),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    Value(r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }

  /** The sink content the source should produce, from the benchmark's own
    * copy of the reference NULL policy (FIXTURES.md A.1): NOT NULL strings
    * become "", `modified` gets the pinned default, the rest keep NULL.
    */
  def expectedSink(source: DataFrame): DataFrame = source.select(
    col("id").as("file_id"),
    coalesce(col("client_name"), lit("")).as("client_name"),
    coalesce(col("client_zone"), lit("")).as("client_zone"),
    col("cluster"), col("duration"), col("ext"),
    coalesce(col("fid"), lit("")).as("fid"),
    coalesce(col("name"), lit("")).as("name"),
    col("mime"), col("size"), col("type"), col("height"), col("width"),
    coalesce(col("modified"), lit("2025-01-01 00:00:00").cast("timestamp")).as("modified"))
}

object Derby {
  def long(url: String, sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }
  def exec(url: String, sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try { conn.createStatement().executeUpdate(sql); () } finally conn.close()
  }
  /** Dropping an in-memory database reports success as SQLState 08006. */
  def drop(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true")).close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
}

/** Per-layer metrics of a traced migration run, as means per traced
  * round. Layers a workload does not reach read 0.
  */
final class Layers(sourceRows: Long) {
  import Migrations._
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var freshN, rerunN = 0

  def fresh(t: Tracing, b: Binding, attempts: Long): Unit = {
    freshN += 1
    val sp = t.spans
    def add(k: String, v: Double): Unit = sums(k) += v
    val passes = sp.count("pipeline.pass")
    add("pipeline.seed_s", sp.total("pipeline.seed"))
    add("pipeline.checkpoint_read_s", sp.total("pipeline.checkpoint_read"))
    add("pipeline.mark_s", sp.total("pipeline.mark"))
    add("pipeline.write_s", sp.total("pipeline.write"))
    add("pipeline.verify_s", sp.total("pipeline.verify"))
    add("pipeline.pass_self_s", sp.selfSecs("pipeline.pass"))
    add("pipeline.validate_source_s",
      sp.total("pipeline.validate") - sp.total("pipeline.validate_sink"))
    add("pipeline.validate_sink_s", sp.total("pipeline.validate_sink"))
    add("pipeline.source_reads_per_pass",
      sp.countUnder("pipeline.source_read", "pipeline.pass").toDouble / math.max(passes, 1))
    add("pipeline.passes", passes)
    add("pipeline.ranges_done", t.markedRanges)
    add("pipeline.rows_per_s", sourceRows / t.wall)
    val w = t.write
    val writeWall = sp.total("pipeline.write")
    add("pipeline.write.tasks", w.tasks)
    add("pipeline.write.task_cpu_s", w.cpuNs / 1e9)
    add("pipeline.write.task_run_s", w.runMs / 1e3)
    add("pipeline.write.gc_s", w.gcMs / 1e3)
    add("pipeline.write.idle_s", t.writeIdleMs / 1e3)
    add("pipeline.write.core_busy_frac", w.runMs / 1e3 / (writeWall * Main.Cores))
    add("pipeline.write.output_files", b.dir.fold(0L) { d =>
      val walk = Files.walk(d.resolve("sink"))
      try walk.filter(_.toString.endsWith(".parquet")).count() finally walk.close()
    })
    add("pipeline.write.output_mb", w.output / 1e6)
    val counts = t.lastCounts.values
    if (counts.nonEmpty)
      add("pipeline.write.range_skew", counts.max / (counts.sum.toDouble / counts.size))
    val e = t.total
    add("plans.analysis_s", e.analysisMs / 1e3)
    add("plans.optimization_s", e.optimizationMs / 1e3)
    add("plans.planning_s", e.planningMs / 1e3)
    add("exec.wall_s", t.wall)
    add("exec.jobs", e.jobs)
    add("exec.stages", e.stages)
    add("exec.tasks", e.tasks)
    add("exec.idle_s", t.idleMs / 1e3)
    add("exec.core_busy_frac", e.runMs / 1e3 / (t.wall * Main.Cores))
    add("exec.task_cpu_s", e.cpuNs / 1e9)
    add("exec.task_run_s", e.runMs / 1e3)
    add("exec.gc_s", e.gcMs / 1e3)
    add("exec.shuffle_read_mb", e.shuffleRead / 1e6)
    add("exec.shuffle_write_mb", e.shuffleWrite / 1e6)
    add("exec.spill_mb", e.spill / 1e6)
    add("exec.input_mb", e.input / 1e6)
    add("exec.storage_peak_mb", t.counters.storagePeak / 1e6)
    b.url.foreach { url =>
      val committed = Derby.long(url, s"SELECT COUNT(*) FROM \"$WalTable\" WHERE \"status\" = 'COMMITTED'")
      add("jdbc.batch_attempts", attempts)
      add("jdbc.batches_committed", committed)
      add("jdbc.retry_frac", if (attempts == 0) 0.0 else (attempts - committed).toDouble / attempts)
      add("jdbc.insert_frac",
        Derby.long(url, s"SELECT COUNT(*) FROM \"$SinkTable\"").toDouble / sourceRows)
      add("jdbc.wal_rows", Derby.long(url, s"SELECT COUNT(*) FROM \"$WalTable\""))
    }
  }

  def rerun(t: Tracing, b: Binding, rowsBefore: Long): Unit = {
    rerunN += 1
    sums("pipeline.rerun_s") += t.wall
    b.url.foreach { url =>
      val after = Derby.long(url, s"SELECT COUNT(*) FROM \"$SinkTable\"")
      sums("jdbc.rerun_insert_frac") += (after - rowsBefore).toDouble / sourceRows
    }
  }

  def metrics: Map[String, Double] = Metrics.empty ++ sums.map { case (k, v) =>
    val n = if (k == "pipeline.rerun_s" || k == "jdbc.rerun_insert_frac") rerunN else freshN
    k -> v / math.max(n, 1)
  }
}
