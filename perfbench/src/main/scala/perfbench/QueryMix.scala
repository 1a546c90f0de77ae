package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.queries.Derived

/** `query_mix`: one client materializes a fixed set of `SparkEntry.queries`
  * through [[HashSink]] (a `noop` write that fingerprints its rows), in a
  * seeded order per pass.
  *
  * Set-up builds the shared `queries.Derived` tables: a cold pass over the
  * whole mix, then [[SetupReps]] - 1 more times the tables are dropped and
  * the queries that built them run again. The first repetition also pays
  * the JVM's cold start, so the median is a warm rebuild. Measured passes
  * then run warm until the time is up. Every materialization's row
  * count and content hash must match across passes and the committed
  * expectation.
  */
object QueryMix extends Workload {

  /** The mix, by family. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_pricing_summary", "q3_shipping_priority", "q10_window_rank"),
    "vector" -> Seq("v1_cosine_topk", "v5_knn_ivf"),
    "kg" -> Seq("k6_graph_2hop", "k7_search_chunks"),
    "dedup" -> Seq("d3_dedup_minhash"),
    "text" -> Seq("t7_tfidf"),
    "stream" -> Seq("s2_sessionize"),
    "lakehouse" -> Seq("x24_time_travel", "x51_merge_into"))

  private final case class Timed(query: String, family: String, ms: Double,
                                 traced: Boolean, built: Boolean)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val defs = graft.SparkEntry.queries
    val mix = for ((fam, names) <- Families; n <- names) yield (fam, n, defs(n))
    val problems = ArrayBuffer[String]()
    val seen = scala.collection.mutable.Map[String, HashSink.Digest]()
    var attempted, failed = 0L

    def pass(order: Seq[Int]): Seq[Timed] = order.flatMap { i =>
      val (fam, name, fn) = mix(i)
      attempted += 1
      val b0 = Derived.buildCount
      val t0 = System.nanoTime()
      try {
        val d = meter.span("query", name)(HashSink.materialize(fn(spark, data)))
        val ms = Workload.ms(t0)
        val got = s"${d.rows}:${d.hex}"
        seen.get(name) match {
          case Some(prev) if prev != d =>
            problems += s"$name: ${prev.rows}:${prev.hex} in an earlier pass, $got now"
          case _ => seen(name) = d
        }
        problems ++= expected.check("query_mix", name, got)
        Some(Timed(name, fam, ms, meter.on, Derived.buildCount > b0))
      } catch {
        case e: Throwable =>
          failed += 1
          problems += s"$name threw ${e.toString.take(300)}"
          None
      }
    }
    def order(salt: Long): Seq[Int] = new Random(seed * 1000003L + salt).shuffle(mix.indices.toVector)

    val setupS = ArrayBuffer[Double]()
    var lastSetup = Seq.empty[Timed]
    var builders: Seq[Int] = mix.indices
    for (rep <- 0 until SetupReps) {
      Derived.invalidate(spark)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      lastSetup = pass(order(-1 - rep).filter(builders.contains))
      setupS += Workload.secs(t0)
      if (rep == 0) builders = mix.indices.filter(i => lastSetup.exists(t => t.built && t.query == mix(i)._2))
    }
    val cacheMb = Workload.cacheMb(spark)

    val passes = ArrayBuffer[(Seq[Timed], Double, Int, Boolean)]()
    val c0 = meter.counts()
    val start = System.nanoTime()
    val end = deadline(start)
    // whole passes only, and none that would end more than half a pass late
    def more = System.nanoTime() + passes.map(_._2).sum / passes.size * 0.5e9 < end
    while (passes.isEmpty || more || (trace && passes.size < 2)) {
      // traced runs alternate untraced and traced passes
      meter.on = trace && passes.size % 2 == 1
      val b0 = Derived.buildCount
      val t0 = System.nanoTime()
      val ts = meter.window(pass(order(passes.size)))
      passes += ((ts, Workload.secs(t0), Derived.buildCount - b0, meter.on))
      meter.on = false
    }
    val counts = meter.counts() - c0

    val plain = passes.filterNot(_._4)
    val plainTimes = plain.flatMap(_._1)
    val plainWall = plain.map(_._2).sum
    val passS = plain.map(_._2)
    // each query's median over the warm passes; the mix's p50 is their median,
    // so it stays with the middle queries instead of hopping between them
    val perQueryMs = mix.map { case (_, n, _) => n -> Stats.median(plainTimes.filter(_.query == n).map(_.ms)) }
    def familyMedians(ps: Seq[(Seq[Timed], Double, Int, Boolean)]) =
      Families.map { case (fam, _) =>
        s"queries.${fam}_s" -> Stats.median(ps.map(_._1.filter(_.family == fam).map(_.ms / 1000).sum))
      }.toMap
    val report = Map(
      "query_mix_s" -> Map("n" -> passS.size, "p50" -> Stats.median(passS)),
      "query_p50_s" -> Map("queries" -> mix.size, "passes" -> plain.size,
        "p50" -> Stats.median(perQueryMs.map(_._2)) / 1000),
      "cache_mb" -> cacheMb,
      "setup_pass_s" -> setupS,
      "setup_per_query_ms" -> lastSetup.map(t => t.query -> t.ms).toMap,
      "setup_built" -> lastSetup.filter(_.built).map(_.query),
      "per_query_p50_ms" -> perQueryMs.toMap,
      "per_family_s" -> familyMedians(plain.toSeq))

    val (layers, generic) =
      if (!trace) (Map.empty[String, Any], Map.empty[String, Double])
      else {
        val traced = passes.filter(_._4).toSeq
        val tracedTimes = traced.flatMap(_._1)
        val overhead = Stats.median(mix.map { case (_, n, _) =>
          Workload.overhead(tracedTimes.filter(_.query == n).map(_.ms),
            plainTimes.filter(_.query == n).map(_.ms).toSeq)
        })
        val self = meter.selfTimes()
        val layers = familyMedians(traced) ++ Map(
          "queries.jobs" -> counts.jobs.toDouble / passes.size,
          "derived.build_s" -> lastSetup.filter(_.built).map(_.ms / 1000).sum,
          "derived.builds_in_pass" -> passes.map(_._3).sum.toDouble / passes.size,
          "traced_op_p50_ms" -> Stats.median(mix.map { case (_, n, _) =>
            Stats.median(tracedTimes.filter(_.query == n).map(_.ms)) }),
          "spans" -> self.map { case (k, (n, tot, s)) =>
            k -> Map("n" -> n, "total_ms" -> tot, "self_ms" -> s) })
        val generic = meter.layerMetrics(traced.size, cores) ++ Map(
          "trace.overhead_frac" -> overhead,
          "program.self_ms" -> self.get("query").map(_._3).getOrElse(0.0) / traced.size)
        (layers, generic)
      }

    Outcome(problems.toSeq, attempted, failed, setupS.toSeq, perQueryMs.map(_._2),
      plainTimes.size / math.max(plainWall, 1e-9), counts, passes.size, cacheMb,
      report, layers, generic)
  }
}
