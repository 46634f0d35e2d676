package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Self-tests of the harness. Run with `python3 perfbench/run.py --self-test`;
 * prints PASS/FAIL per test and exits non-zero if any fails. The tests that
 * need Spark share one small local session.
 */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val work = new File(args.headOption.getOrElse("."), "selftest").getAbsoluteFile
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    try {
      actionsComputeEveryColumn(spark)
      listenerCreditsEachSpan(spark)
    } finally spark.stop()
    corruptedOutputsFail(work)
    generatorsFollowTheSeed()
    resultLineFitsTheCapture()
    benchmarkJsonNamesEveryMetric()
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** The timed actions evaluate every output column: a UDF that counts its
    * calls runs once per row under the noop sink and under collect, while
    * count() skips it, which is why no timed action uses count(). */
  def actionsComputeEveryColumn(spark: SparkSession): Unit =
    test("noop sink and collect evaluate every column; count() does not") {
      val calls = spark.sparkContext.longAccumulator("udf-calls")
      val counted = udf { (x: Long) => calls.add(1); x * 2 }
      val df = spark.range(100).select(col("id"), counted(col("id")).as("twice"))
      df.count()
      check(calls.value == 0, s"count() evaluated the UDF ${calls.value} times")
      Workloads.materialize(df)
      check(calls.value == 100, s"noop sink evaluated the UDF ${calls.value} times")
      df.collect()
      check(calls.value == 200, s"collect evaluated the UDF ${calls.value - 100} times")
    }

  /** Jobs, tasks and planning are credited to the span whose local property
    * the calling thread carried, and nothing leaks into a sibling span. */
  def listenerCreditsEachSpan(spark: SparkSession): Unit =
    test("listener credits a span's jobs to it and none to its sibling") {
      val t = new Tracer(true)
      t.attach(spark)
      val sc = spark.sparkContext
      t.span("two", 0) {
        sc.parallelize(1 to 10, 2).count()
        sc.parallelize(1 to 10, 3).count()
      }
      t.span("one", 0)(spark.range(5).selectExpr("id * 2 AS x").collect())
      val byName = t.spans.map(s => s.name -> s.id).toMap
      def jobs(n: String) = t.counter(byName(n), "jobs")
      val deadline = System.currentTimeMillis() + 20000
      while ((jobs("two") < 2 || t.counter(byName("one"), "plan_ms") == 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500) // let any late event arrive before asserting exactness
      check(jobs("two") == 2, s"span 'two' credited ${jobs("two")} jobs")
      check(t.counter(byName("two"), "tasks") == 5,
        s"span 'two' credited ${t.counter(byName("two"), "tasks")} tasks")
      check(jobs("one") >= 1, s"span 'one' credited ${jobs("one")} jobs")
      check(t.counter(byName("one"), "plan_ms") > 0, "span 'one' got no planning time")
      check(t.counter(byName("two"), "plan_ms") == 0, "RDD span got planning time")
      check(sc.getLocalProperty(Tracer.Key) == null, "span property left set")
    }

  /** A corrupted output fails its check and counts in `failed`; so does a
    * digest that differs from an earlier run of the same seed. */
  def corruptedOutputsFail(work: File): Unit = {
    val m = Mention("c:7", "c:7", edited = false)
    val edges = Set("c:7 [placed] o:1", "o:1 [contains] p:2")
    def kgqa(linked: Seq[String], ctx: Seq[String], top: Seq[String],
             rows: Seq[(String, String, String)]) =
      Checks.kgqa(m, linked, ctx, top, rows, edges)
    val goodCtx = Seq("c:7 [placed] o:1")
    val goodRows = Seq(("c:7", "o:1", "p:2"))
    test("kgqa check passes a correct output") {
      check(kgqa(Seq("c:7"), goodCtx, Seq("c:7"), goodRows).isEmpty, "rejected")
    }
    test("kgqa check fails each corruption") {
      check(kgqa(Seq("c:8"), goodCtx, Seq("c:8"), Nil).nonEmpty, "wrong link passed")
      check(kgqa(Seq("c:7"), Seq("c:7 [placed] o:9"), Seq("c:7"), goodRows).nonEmpty,
        "non-edge context line passed")
      check(kgqa(Seq("c:7"), goodCtx, Seq("o:1"), goodRows).nonEmpty,
        "PPR list without the seed passed")
      check(kgqa(Seq("c:7"), goodCtx, Seq("c:7"), Seq(("c:7", "o:1", "p:3"))).nonEmpty,
        "cypher row off the graph passed")
    }
    test("qa check fails each corruption") {
      val known = Set("s1", "s2")
      val good = Seq("s1" -> "src1", "s2" -> "src2")
      check(Checks.qa(10, good, 5, known).isEmpty, "correct output rejected")
      check(Checks.qa(0, good, 5, known).nonEmpty, "empty context passed")
      check(Checks.qa(10, good :+ ("s9" -> "src1"), 5, known).nonEmpty,
        "unknown statement passed")
      check(Checks.qa(10, good, 1, known).nonEmpty, "too many sources passed")
    }
    test("build check fails each corruption") {
      val text = (1 to 40).map(i => s"w$i").mkString(" ") // 2 windows
      check(Checks.build(Seq(text), 1, 2, 2, 5, 5).isEmpty, "correct output rejected")
      check(Checks.build(Seq(text, text), 2, 4, 4, 5, 5).nonEmpty, "duplicate doc passed")
      check(Checks.build(Seq(text), 1, 2, 1, 5, 5).nonEmpty, "duplicate chunk id passed")
      check(Checks.build(Seq(text), 1, 2, 2, 5, 4).nonEmpty, "duplicate statement id passed")
      check(Checks.build(Seq(text), 1, 3, 3, 5, 5).nonEmpty, "chunk recount mismatch passed")
    }
    test("a corrupted output counts as failed") {
      val ok = Result("d0", Map.empty, Nil)
      val bad = Result("d1", Map.empty,
        kgqa(Seq("c:7"), Seq("c:7 [placed] o:9"), Seq("c:7"), goodRows))
      val n = Main.failures(Seq("setup" -> Some(ok), "0" -> Some(bad),
        "1" -> None, "2" -> Some(ok)), Set.empty)
      check(n == 2, s"$n failed, expected 2 (corrupted + missing output)")
    }
    test("a digest differing from an earlier run counts as failed") {
      val file = new File(work, "digests/w-1.tsv")
      file.delete()
      check(Digests.check(file, Seq("0" -> "a", "1" -> "b")).isEmpty, "fresh run flagged")
      val bad = Digests.check(file, Seq("0" -> "a", "1" -> "x"))
      check(bad == Set("1"), s"flagged $bad, expected Set(1)")
      check(Main.failures(Seq("0" -> Some(Result("a", Map.empty, Nil)),
        "1" -> Some(Result("x", Map.empty, Nil))), bad) == 1, "not counted")
    }
  }

  /** The same seed gives identical inputs; another seed gives others. */
  def generatorsFollowTheSeed(): Unit =
    test("generators: same seed identical, other seed different") {
      def inputs(seed: Long) = {
        val docs = Inputs.corpus(seed, 300)
        val kg = Inputs.kg(seed, 200)
        (docs, Inputs.questions(seed, docs, 20), kg, Inputs.mentions(seed, kg, 20))
      }
      val (a, b, c) = (inputs(5), inputs(5), inputs(6))
      check(a == b, "same seed gave different inputs")
      check(a._1 != c._1 && a._2 != c._2 && a._3 != c._3 && a._4 != c._4,
        "another seed repeated an input")
      check(a._4.exists(_.edited) && a._4.exists(!_.edited), "mentions lack a mix of edits")
      check(a._1.map(_.text).distinct.size < a._1.size, "corpus has no exact duplicates")
    }

  /** The result line stays well under 2,000 characters, for every workload
    * and both metric sets, with values printed at full precision: a caller
    * that keeps only the last 2,000 characters of stdout still parses it. */
  def resultLineFitsTheCapture(): Unit =
    test("result lines fit in 2,000 characters") {
      val worst = -1234567.123456789012
      for (w <- Workloads.all; set <- Seq(Main.EndToEnd, Layers.names)) {
        val line = Main.resultLine(Int.MaxValue, Int.MaxValue,
          set.map { case (n, u) => Main.Metric(n, worst, u) })
        check(line.length < 1700, s"$w line is ${line.length} characters")
        check(!line.contains("\n"), "line breaks inside the result")
      }
    }

  /** BENCHMARK.json (read from the working directory, the checkout root)
    * lists exactly the workloads and metrics the harness reports. */
  def benchmarkJsonNamesEveryMetric(): Unit =
    test("BENCHMARK.json names exactly the harness's workloads and metrics") {
      import org.json4s._
      val json = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8"))
      def entries(key: String) = (json \ key) match {
        case JArray(xs) => xs.map { x =>
          val JString(n) = x \ "name": @unchecked
          val u = x \ "unit" match { case JString(v) => v; case _ => "" }
          n -> u
        }
        case other => throw new AssertionError(s"$key is $other")
      }
      check(entries("workloads").map(_._1) == Workloads.all, "workloads differ")
      check(entries("end_to_end").toSet == Main.EndToEnd.toSet, "end-to-end metrics differ")
      check(entries("per_layer").toSet == Layers.names.toSet,
        s"per-layer metrics differ: ${entries("per_layer").toSet diff Layers.names.toSet}" +
          s" / ${Layers.names.toSet diff entries("per_layer").toSet}")
    }
}
