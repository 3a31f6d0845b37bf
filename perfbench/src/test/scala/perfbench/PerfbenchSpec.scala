package perfbench

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: deterministic inputs, output checks that
  * can fail, tracing that does not change results, and a per-query layer
  * split that accounts for the query's wall time.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Main.session()
  private val tmpDir = Files.createTempDirectory("perfbench-spec")

  override def afterAll(): Unit = Dirs.delete(tmpDir)

  private def gen(args: String*): Unit =
    assert((Seq("python3", "gen.py") ++ args).! == 0, s"gen.py ${args.mkString(" ")}")

  private def bytes(dir: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).map(p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private lazy val filesInputs: Path = {
    val d = tmpDir.resolve("files-inputs")
    gen("files", "11", d.resolve("files").toString, "8000")
    d
  }

  test("gen.py makes the same inputs from the same seed, other inputs from another") {
    Seq("a", "b").foreach(x => gen("query", "5", tmpDir.resolve(s"q5$x").toString))
    gen("query", "6", tmpDir.resolve("q6").toString)
    Seq("a", "b").foreach(x => gen("files", "5", tmpDir.resolve(s"f5$x").toString, "3000"))
    assert(bytes(tmpDir.resolve("q5a")) == bytes(tmpDir.resolve("q5b")))
    assert(bytes(tmpDir.resolve("q5a")) != bytes(tmpDir.resolve("q6")))
    assert(bytes(tmpDir.resolve("f5a")) == bytes(tmpDir.resolve("f5b")))
  }

  test("a planted wrong expected digest fails every migration; the right one none") {
    val m = new Migrations(filesInputs.toString, tmpDir.resolve("w1"), jdbc = true)
    val src = spark.read.parquet(filesInputs.resolve("files").toString)
    val right = Digest.of(Digest.expectedSink(src))
    val ok = m.run(spark, 0, traced = false, right)
    assert(ok.failures.isEmpty, ok.failures)
    val bad = m.run(spark, 0, traced = false, right.copy(sum = right.sum + 1))
    assert(bad.failures.size == bad.attempted && bad.attempted > 0)
    assert(bad.failures.forall(_.contains("sink digest")))
  }

  test("a migration through the tracing wrappers leaves the same sink as one without") {
    val m = new Migrations(filesInputs.toString, tmpDir.resolve("w2"), jdbc = true)
    val src = spark.read.parquet(filesInputs.resolve("files").toString)
    val expected = Digest.of(Digest.expectedSink(src))
    val digests = Seq(false, true).map { traced =>
      val b = m.bind(spark, countAttempts = traced)
      try {
        val t = Option.when(traced)(new Tracing(spark))
        assert(m.op(spark, b, t, expected, "migration").isRight)
        t.foreach(tr => assert(tr.spans.count("pipeline.write") >= 1))
        Digest.of(b.sinkFrame(spark))
      } finally b.close()
    }
    assert(digests.distinct.size == 1 && digests.head == expected)
  }

  test("per query, construction + planning + execution is the query's wall within 5%") {
    val inputs = tmpDir.resolve("q-inputs")
    gen("query", "3", inputs.toString)
    val work = tmpDir.resolve("w3")
    val sample = Seq("q1_pricing_summary" -> "Relational", "a9_approx_distinct" -> "Analytics",
      "d1_dedup_exact" -> "Dedup", "e1_tumbling_counts" -> "Events", "j2_range_completion" -> "Joins")
    val out = new Sweep(inputs.toString, work, sample).run(spark, 0, traced = true)
    assert(out.failures.isEmpty, out.failures)
    val rows = Files.readAllLines(work.resolve("query_layers.jsonl")).toArray.map(_.toString)
    assert(rows.length == sample.size)
    val num = "\"(\\w+_s)\":([0-9.eE+-]+)".r
    rows.foreach { row =>
      val f = num.findAllMatchIn(row).map(m => m.group(1) -> m.group(2).toDouble).toMap
      val parts = f("construct_s") + f("plan_s") + f("exec_s")
      assert(math.abs(parts - f("wall_s")) <= 0.05 * f("wall_s"), row)
    }
  }
}
