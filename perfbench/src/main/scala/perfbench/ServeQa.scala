package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, col, lit}

import graft.Tables
import graft.pipeline.Ingest
import graft.query.{Agent, Server, Tools}
import graft.sources.Sources

/** `serve_qa`: a closed loop of [[Clients]] HTTP clients against
  * `query.Server.start`, with the history sink on.
  *
  * Set-up builds and caches the corpus through the `Ingest` stages
  * ([[corpus]]) and starts the server; it is repeated [[SetupReps]] times. The seed picks the server's query vector and the
  * content of every request. In every block of ten requests there are six
  * plain questions, three graph-cue questions ("related"/"connected" plus
  * two entity names from `knowledge_nodes`) and one keyset page of
  * `GET /papers?after=…` ([[Pattern]]).
  */
object ServeQa extends Workload {

  val Clients = 4
  /** Untimed requests before measuring, two per client. */
  val WarmUp = 8
  val PageLimit = 20

  sealed trait Req { def id: Int }
  final case class Ask(id: Int, question: String, graph: Boolean) extends Req
  final case class Page(id: Int, after: String) extends Req
  final case class Done(req: Req, ms: Double, status: Int, body: String, traced: Boolean)

  private val mapper = new ObjectMapper()
  private val Cues = Seq("related", "relationship", "connected", "graph")

  /** Request kinds by position in every block of ten: six plain questions,
    * three graph-cue questions, one page. The fixed interleave keeps every
    * stretch of the sequence at the same mix, so runs of different seeds
    * measure the same composition. */
  val Pattern: Seq[String] =
    Seq("plain", "graph", "plain", "page", "plain", "graph", "plain", "plain", "graph", "plain")

  /** The seeded request sequence: the seed picks every question's words and
    * every page's cursor. */
  def requests(seed: Long, names: IndexedSeq[String], paperIds: IndexedSeq[String],
               n: Int): IndexedSeq[Req] = {
    val rnd = new Random(seed)
    def name() = names(rnd.nextInt(names.size))
    (0 until n).map { i =>
      Pattern(i % Pattern.size) match {
        case "plain" =>
          val q = Seq(s"what is ${name()} ${name()}", s"explain ${name()} for ${name()}",
            s"how does ${name()} use ${name()}")(rnd.nextInt(3))
          Ask(i, q, graph = false)
        case "graph" =>
          val q = Seq(s"how is ${name()} related to ${name()}",
            s"what is connected to ${name()} and ${name()}")(rnd.nextInt(2))
          Ask(i, q, graph = true)
        case _ => Page(i, paperIds(rnd.nextInt(paperIds.size)))
      }
    }
  }

  /** The corpus, built from the same `Ingest` stages as ServerSpec's and
    * cached. Each stage is materialized in turn, so its time and row count
    * are measured: these are the `pipeline.Ingest` layer's figures. Unlike
    * ServerSpec, nodes and edges are cached too, as ingested tables would be;
    * otherwise every graph question recomputes the co-occurrence self-join.
    * Returns the corpus and, per stage, (ms, rows). */
  private def corpus(ctx: Ctx): (Agent.Corpus, Map[String, (Double, Long)]) = {
    val stages = scala.collection.mutable.Map[String, (Double, Long)]()
    def stage(name: String)(df: DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val rows = df.cache().count()
      stages(name) = (Workload.ms(t0), rows)
      df
    }
    val docs = Tables.load(ctx.spark, ctx.data, "documents")
    val embs = Tables.load(ctx.spark, ctx.data, "embeddings")
    val papers = stage("papers")(Ingest.papers(docs))
    val chunks = Ingest.chunks(papers, size = 20, overlap = 5, minWords = 5)
    val chunksV = stage("chunks")(Ingest.withEmbeddings(chunks, embs)
      .join(papers.select("paper_id", "title"), "paper_id"))
    val emap = stage("entity_map")(Ingest.entityMap(chunks))
    val nodes = stage("nodes")(Ingest.nodes(emap))
    val edges = stage("edges")(Ingest.edges(emap))
    (Agent.Corpus(chunksV, papers, nodes, edges), stages.toMap)
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val vecIds = Tables.load(spark, data, "embeddings").select("vec_id").collect().map(_.getLong(0)).sorted
    val vecId = vecIds(new Random(seed).nextInt(vecIds.length))
    val queryVec: Column = {
      val e = Tables.load(spark, data, "embeddings").filter(col("vec_id") === vecId)
        .select("embedding").head()
      array(e.getSeq[Float](0).map(v => lit(v)): _*)
    }
    val historyDir = s"$work/serve_history"
    val problems = ArrayBuffer[String]()

    val setupS = ArrayBuffer[Double]()
    var corp: Agent.Corpus = null
    var stages = Map.empty[String, (Double, Long)]
    var server: Server.Handle = null
    for (_ <- 0 until SetupReps) {
      if (server != null) {
        server.stop()
        spark.catalog.clearCache()
      }
      val t0 = System.nanoTime()
      val (c, st) = corpus(ctx)
      corp = c
      stages = st
      problems ++= st.toSeq.sorted.flatMap { case (k, (_, rows)) =>
        expected.check("serve_qa", s"$k.rows", rows.toString) }
      server = Server.start(corp, queryVec, port = 0, historyDir = Some(historyDir))
      setupS += Workload.secs(t0)
    }
    val cacheMb = Workload.cacheMb(spark)
    try {
      val names = corp.nodes.select("name_normalized").collect().map(_.getString(0))
        .filter(n => n.length >= 3 && !Cues.exists(n.contains)).sorted.toIndexedSeq
      val paperIds = corp.papers.select("paper_id").collect().map(_.getString(0)).sorted.toIndexedSeq
      val mix = requests(seed, names, paperIds, 20000)
      // untimed warm-up: the first requests of a JVM compile the plans
      val warm = closedLoop(ctx, server.port, mix, Long.MaxValue, first = 0, count = WarmUp)
      val c0 = meter.counts()
      val start = System.nanoTime()
      val done = closedLoop(ctx, server.port, mix, deadline(start, if (trace) 0.5 else 1.0),
        first = WarmUp, count = Int.MaxValue)
      val wall = Workload.secs(start)
      val counts = meter.counts() - c0

      (warm ++ done).foreach(d => problems ++= check(d))
      val ok = done.filter(_.status == 200)
      val asks = done.filter(_.req.isInstanceOf[Ask])
      val histRows = jsonlRows(new File(s"$historyDir/history"))
      val evalRows = jsonlRows(new File(s"$historyDir/eval_metrics"))
      val okAsks = (warm ++ ok).count(d => d.status == 200 && d.req.isInstanceOf[Ask])
      if (histRows != okAsks || evalRows != okAsks)
        problems += s"history sink holds $histRows history and $evalRows eval_metrics rows " +
          s"for $okAsks answered questions"

      val plainDone = done.filterNot(_.traced)
      def lat(p: Done => Boolean) = plainDone.filter(p).map(_.ms)
      val queryMs = lat(_.req.isInstanceOf[Ask])
      val report = Map(
        "serve_qps" -> ok.size / wall,
        "serve_p50_ms" -> Stats.summary(queryMs),
        "serve_p95_ms" -> Map("n" -> queryMs.size, "p95" -> Stats.pct(queryMs, 95),
          "samples_beyond" -> queryMs.size * 0.05),
        "serve_plain_p50_ms" -> Stats.summary(lat { case Done(a: Ask, _, _, _, _) => !a.graph; case _ => false }),
        "serve_graph_p50_ms" -> Stats.summary(lat { case Done(a: Ask, _, _, _, _) => a.graph; case _ => false }),
        "papers_page_p50_ms" -> Stats.summary(lat(_.req.isInstanceOf[Page])),
        "err_frac" -> (done.size - ok.size).toDouble / done.size,
        "requests" -> done.size,
        "cache_mb" -> cacheMb,
        "setup_stages" -> stages.map { case (k, (ms, rows)) => k -> Map("ms" -> ms, "rows" -> rows) })

      val (layers, generic) =
        if (!trace) (Map.empty[String, Any], Map.empty[String, Double])
        else {
          val r = replay(ctx, corp, queryVec, mix, s"$work/replay_history")
          val tracedHttp = done.filter(_.traced)
          val self = meter.selfTimes()
          val agentMs = r.map(_.agentMs)
          val layers = stages.map { case (k, (ms, _)) => s"ingest.${k}_s" -> ms / 1000 } ++ Map(
            "server.http_overhead_ms" -> (Stats.median(queryMs) - Stats.median(agentMs)),
            "server.resp_bytes" -> Stats.median(asks.map(_.body.length.toDouble)),
            "agent.run_plain_ms" -> Stats.median(r.filterNot(_.graph).map(_.agentMs)),
            "agent.run_graph_ms" -> Stats.median(r.filter(_.graph).map(_.agentMs)),
            "agent.jobs_plain" -> mean(r.filterNot(_.graph).map(_.agentJobs)),
            "agent.jobs_graph" -> mean(r.filter(_.graph).map(_.agentJobs)),
            "agent.tasks_per_request" -> mean(r.map(_.agentTasks)),
            "tools.search_papers_ms" -> Stats.median(r.map(_.tool("search_papers")._1)),
            "tools.search_papers_jobs" -> mean(r.map(_.tool("search_papers")._2)),
            "tools.search_kg_ms" -> Stats.median(r.filter(_.graph).map(_.tool("search_kg")._1)),
            "tools.search_kg_jobs" -> mean(r.filter(_.graph).map(_.tool("search_kg")._2)),
            "tools.summarize_ms" -> Stats.median(r.map(_.tool("summarize")._1)),
            "tools.paper_details_ms" -> Stats.median(r.map(_.tool("paper_details")._1)),
            "tools.kg_seed_hit_frac" -> mean(r.filter(_.graph).map(x => if (x.kgHit) 1.0 else 0.0)),
            "sink.append_ms" -> Stats.median(r.map(_.sinkMs)),
            "sink.files_per_request" -> mean(r.map(_.sinkFiles)),
            "replayed_requests" -> r.size,
            "traced_op_p50_ms" -> Stats.median(tracedHttp.filter(_.req.isInstanceOf[Ask]).map(_.ms)),
            "ingest.edges_rows" -> stages("edges")._2,
            "ingest.entity_map_rows" -> stages("entity_map")._2,
            "spans" -> self.map { case (k, (n, tot, s)) =>
              k -> Map("n" -> n, "total_ms" -> tot, "self_ms" -> s) })
          val generic = meter.layerMetrics(tracedHttp.size + r.size, cores) ++ Map(
            "trace.overhead_frac" -> Workload.overhead(
              tracedHttp.filter(_.req.isInstanceOf[Ask]).map(_.ms), queryMs),
            "program.self_ms" -> self.get("agent.run").map(_._3).getOrElse(0.0) / r.size)
          (layers, generic)
        }

      val all = warm ++ done
      Outcome(problems.toSeq, all.size, all.count(_.status != 200), setupS.toSeq, queryMs,
        ok.size / wall, counts, done.size, cacheMb, report, layers, generic)
    } finally server.stop()
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Run the clients over `mix` from index `first`, until `until` or until
    * `count` requests were sent; requests in flight then still finish.
    * Traced runs switch detail collection on and off in slices, and each
    * request remembers which slice it started in. */
  private def closedLoop(ctx: Ctx, port: Int, mix: IndexedSeq[Req], until: Long,
                         first: Int, count: Int): Seq[Done] = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val next = new AtomicInteger(first)
    val done = new ConcurrentLinkedQueue[Done]()
    val base = s"http://localhost:$port"
    val clients = (0 until math.min(Clients, ctx.cores)).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < until && i - first < count) {
          val req = mix(i % mix.size)
          val traced = ctx.meter.on
          val t0 = System.nanoTime()
          val (status, body) = ctx.meter.span("server.request", s"r${req.id}") {
            try {
              val r = req match {
                case Ask(_, q, _) =>
                  val node = mapper.createObjectNode().put("question", q).put("top_k", 5)
                  HttpRequest.newBuilder(URI.create(s"$base/query"))
                    .POST(HttpRequest.BodyPublishers.ofString(node.toString)).build()
                case Page(_, after) =>
                  HttpRequest.newBuilder(URI.create(s"$base/papers?after=$after&limit=$PageLimit"))
                    .GET().build()
              }
              val resp = http.send(r, HttpResponse.BodyHandlers.ofString())
              (resp.statusCode(), resp.body())
            } catch { case e: Exception => (-1, e.toString) }
          }
          done.add(Done(req, Workload.ms(t0), status, body, traced))
          i = next.getAndIncrement()
        }
      })
    }
    // a traced half has eight slices, alternately untraced and traced
    val sliceMs = math.max(1000L, (ctx.seconds * 1000 / 16).toLong)
    val toggler = if (!ctx.trace || until == Long.MaxValue) None else Some(new Thread(() => {
      try while (System.nanoTime() < until) {
        ctx.meter.on = !ctx.meter.on
        val t0 = System.nanoTime()
        ctx.meter.window(Thread.sleep(math.max(1L, math.min(sliceMs, (until - t0) / 1000000L))))
      } catch { case _: InterruptedException => }
      ctx.meter.on = false
    }))
    clients.foreach(_.start())
    toggler.foreach(_.start())
    clients.foreach(_.join())
    toggler.foreach { t => t.interrupt(); t.join() }
    ctx.meter.on = false
    done.asScala.toSeq
  }

  /** Problems with one response, if any. */
  private def check(d: Done): Seq[String] = {
    def bad(msg: String) = Seq(s"request ${d.req}: $msg".take(400))
    if (d.status != 200) bad(s"status ${d.status}: ${d.body.take(200)}")
    else {
      val node = mapper.readTree(d.body)
      d.req match {
        case Ask(_, q, graph) =>
          val cits = node.get("citations")
          val scores = cits.elements().asScala.map(_.get("score").asDouble).toSeq
          val conf = if (scores.isEmpty) 0.0 else math.round(scores.max * 1000) / 1000.0
          val tools = (if (graph) Seq("search_knowledge_graph") else Nil) ++
            Seq("search_papers", "summarize_context")
          if (graph != Agent.isGraphQuery(q)) bad("mix and Agent.isGraphQuery disagree")
          else if (cits.size > 5) bad(s"${cits.size} citations")
          else if (node.get("confidence").asDouble != conf)
            bad(s"confidence ${node.get("confidence")} is not round(top score, 3) = $conf")
          else if (node.get("tools_used").asText != tools.mkString(","))
            bad(s"tools_used '${node.get("tools_used").asText}' for a ${if (graph) "graph" else "plain"} question")
          else Nil
        case Page(_, after) =>
          val ids = node.elements().asScala.map(_.get("paper_id").asText).toSeq
          if (ids.size > PageLimit) bad(s"${ids.size} papers on one page")
          else if (ids.exists(_ <= after)) bad(s"a paper at or before the cursor $after")
          else if (ids != ids.sorted) bad("page not in paper_id order")
          else Nil
      }
    }
  }

  private def jsonlRows(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-"))
      .map(f => java.nio.file.Files.readAllLines(f.toPath).asScala.count(_.nonEmpty).toLong).sum

  private def partFiles(dir: File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty).count(_.getName.startsWith("part-"))

  final case class Replayed(graph: Boolean, agentMs: Double, agentJobs: Double, agentTasks: Double,
                            tools: Map[String, (Double, Double)], kgHit: Boolean,
                            sinkMs: Double, sinkFiles: Double) {
    def tool(n: String): (Double, Double) = tools(n)
  }

  /** In-process replay of the same request sequence, traced: `Agent.run`,
    * then each tool and the history sink called on their own, every call a
    * span with its Spark jobs counted. Runs for the second half of the time. */
  private def replay(ctx: Ctx, corp: Agent.Corpus, queryVec: Column,
                     mix: IndexedSeq[Req], sinkDir: String): Seq[Replayed] = {
    import ctx._
    val asks = mix.collect { case a: Ask => a }
    val out = ArrayBuffer[Replayed]()
    val end = deadline(System.nanoTime(), 0.5)
    def timed[T](f: => T): (T, Double, Counts) = {
      val c0 = meter.counts()
      val t0 = System.nanoTime()
      val r = f
      val ms = Workload.ms(t0)
      (r, ms, meter.counts() - c0)
    }
    meter.on = true
    try {
      var i = 0
      while (System.nanoTime() < end || out.count(_.graph) < 1 || out.count(!_.graph) < 2) {
        val a = asks(i)
        val op = s"r${a.id}"
        i += 1
        out += meter.window(meter.span("request", op) {
          val (res, agentMs, agentC) = timed(meter.span("agent.run", op)(Agent.run(corp, a.question, queryVec)))
          def tool(name: String)(f: => Any): (String, (Double, Double)) = {
            val (_, ms, c) = timed(meter.span(s"tools.$name", op)(f))
            name -> ((ms, c.jobs.toDouble))
          }
          var kgHit = false
          val tools = Seq(
            tool("search_papers")(Tools.searchPapers(corp.chunksV, queryVec, 5).collect()),
            tool("summarize")(Tools.summarizeContext(res.citations).collect()),
            tool("paper_details")(Tools.paperDetails(corp.papers,
              res.citations.select("paper_id").head().getString(0)).collect())) ++
            (if (!a.graph) Nil else Seq(tool("search_kg") {
              kgHit = Tools.searchKnowledgeGraph(corp.nodes, corp.edges, a.question, 5).collect().nonEmpty
            }))
          val files0 = partFiles(new File(s"$sinkDir/history")) + partFiles(new File(s"$sinkDir/eval_metrics"))
          val (_, sinkMs, _) = timed(meter.span("sink.append", op) {
            Sources.appendJsonl(Agent.historyRecord(spark, a.question, res), s"$sinkDir/history")
            Sources.appendJsonl(Agent.evalMetricsRow(spark, a.question, res), s"$sinkDir/eval_metrics")
          })
          val files1 = partFiles(new File(s"$sinkDir/history")) + partFiles(new File(s"$sinkDir/eval_metrics"))
          Replayed(a.graph, agentMs, agentC.jobs.toDouble, agentC.tasks.toDouble, tools.toMap,
            kgHit, sinkMs, (files1 - files0).toDouble)
        })
      }
    } finally meter.on = false
    out.toSeq
  }
}
