package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Prints a report line (the workload's own figures, with sample counts),
  * then, as the last line of stdout, the result object
  * `{correct, attempted, failed, metrics}`. The metric names and units are
  * read from `BENCHMARK.json`: the end-to-end set untraced, the per-layer
  * set traced. A failed correctness check prints `correct: false` and exits 1.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val workload = Workload.all.getOrElse(name,
      sys.error(s"unknown workload '$name' (known: ${Workload.all.keys.toSeq.sorted.mkString(", ")})"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val bench = args.getOrElse("bench-dir", "perfbench")
    val out = args.getOrElse("out", s"$bench/out")
    val spec = mapper.readTree(new File("BENCHMARK.json"))
    def metricSpec(key: String) =
      spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(s"$out/work-$name-$seed-${ProcessHandle.current().pid()}").getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // phase times go to the log, to show where a run's wall time went
    val tStart = System.nanoTime()
    def mark(what: String): Unit = System.err.println(f"[perfbench] +${Workload.secs(tStart)}%.1f s: $what")
    mark("session up")
    val expected = new Expected(s"$bench/expected.json", args.get("record").contains("1"))
    try {
      val meter = new Meter(spark, detail = trace)
      val probeBefore = cpuProbe(spark)
      val ctx = Ctx(spark, meter, seed, seconds, trace, s"$bench/data", work.getPath, cores, expected)
      mark("probe")
      val o = workload.run(ctx)
      mark("workload")
      val probeAfter = cpuProbe(spark)
      mark("probe")
      expected.save()

      val e2e = Map(
        "setup_s" -> Stats.median(o.setupS),
        "op_p50_ms" -> Stats.median(o.opMs),
        "ops_per_s" -> o.opsPerS)
      val perLayer = o.generic ++ o.counts.perOp(o.countOps) ++ Map(
        "spark.cache_mb" -> o.cacheMb,
        "probe.cpu_before_ms" -> probeBefore,
        "probe.cpu_after_ms" -> probeAfter)
      val (declared, values) =
        if (trace) (metricSpec("per_layer"), perLayer) else (metricSpec("end_to_end"), e2e)
      val missing = declared.map(_._1).filterNot(values.contains)
      require(missing.isEmpty, s"$name does not produce declared metrics: ${missing.mkString(", ")}")

      val correct = o.problems.isEmpty
      o.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
      val report = Map(
        "workload" -> name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
        "cores" -> cores, "correct" -> correct, "problems" -> o.problems,
        "attempted" -> o.attempted, "failed" -> o.failed,
        "setup_s_samples" -> o.setupS, "op_ms" -> (Stats.summary(o.opMs) + ("samples" -> o.opMs)),
        "end_to_end" -> e2e, "report" -> o.report,
        "counts_per_op" -> o.counts.perOp(o.countOps), "count_ops" -> o.countOps,
        "probe_cpu_ms" -> Map("before" -> probeBefore, "after" -> probeAfter),
        "cache_mb" -> o.cacheMb) ++
        (if (trace) Map("per_layer" -> perLayer, "layers" -> o.layers) else Map.empty)
      val reportJson = json(report)
      Files.writeString(Paths.get(s"$out/results.jsonl"), reportJson + "\n", StandardCharsets.UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      if (trace) writeSpans(meter, new File(s"$out/trace/$name-seed$seed.spans.jsonl"))

      val metrics = declared.map { case (m, unit) => m -> Map("value" -> values(m), "unit" -> unit) }
      println(reportJson)
      println(json(Map("correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> metrics.toMap)))
      System.out.flush()
      if (!correct) sys.exit(1)
    } finally {
      spark.stop()
      Workload.deleteTree(work)
      mark("stopped")
    }
  }

  /** Bench's fixed CPU-bound Spark job, min of two, in ms. It only drifts
    * when the host does, so it brackets every run in the results. */
  private def cpuProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(10L * 1000 * 1000).select(sum(col("id"))).write.mode("overwrite").format("noop").save()
      Workload.ms(t0)
    }
    once() // plan and code generation
    math.min(once(), once())
  }

  private def writeSpans(meter: Meter, f: File): Unit = {
    f.getParentFile.mkdirs()
    val spans = meter.allSpans
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map(s => json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6)))
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"), StandardCharsets.UTF_8)
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}
