package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import graft.pipeline.Ingest
import graft.query.{Agent, Server}

/** End-to-end HTTP surface: a real com.sun.net.httpserver instance on
  * an ephemeral port, driven with the JDK HTTP client — request JSON
  * in, Agent.run under the hood, response JSON out (the reference's
  * backend/app.py contract).
  */
class ServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val corpus: Agent.Corpus = {
    val docs = Tables.load(spark, Sf0001, "documents")
    val embs = Tables.load(spark, Sf0001, "embeddings")
    val papers = Ingest.papers(docs).cache()
    val chunks = Ingest.chunks(papers, size = 20, overlap = 5, minWords = 5)
    val chunksV = Ingest.withEmbeddings(chunks, embs)
      .join(papers.select("paper_id", "title"), "paper_id").cache()
    val emap = Ingest.entityMap(chunks).cache()
    Agent.Corpus(chunksV, papers, Ingest.nodes(emap), Ingest.edges(emap))
  }

  private lazy val queryVec = {
    val e = Tables.load(spark, Sf0001, "embeddings")
      .filter(col("vec_id") === 0).select("embedding").head
    array(e.getSeq[Float](0).map(v => lit(v)): _*)
  }

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer(historyDir: Option[String] = None)(f: Int => Unit): Unit = {
    val h = Server.start(corpus, queryVec, port = 0, historyDir = historyDir)
    try f(h.port) finally h.stop()
  }

  test("POST /query returns answer, capped citations, rounded confidence") {
    withServer() { port =>
      val resp = post(port, "/query",
        """{"question": "what is a spark query", "top_k": 5}""")
      assert(resp.statusCode() == 200)
      val node = mapper.readTree(resp.body())
      assert(node.get("answer").asText.startsWith("[1] "))
      assert(node.get("retrieval_mode").asText == "agentic")
      val cits = node.get("citations")
      assert(cits.isArray && cits.size > 0 && cits.size <= 5)
      val top = cits.get(0)
      for (fld <- Seq("chunk_id", "paper_id", "title", "score"))
        assert(top.has(fld), s"citation missing $fld")
      // confidence = round(top citation score, 3)
      val expected = math.round(top.get("score").asDouble * 1000) / 1000.0
      assert(node.get("confidence").asDouble == expected)
      assert(node.get("latency_ms").asLong >= 0)
    }
  }

  test("POST /query validates its input") {
    withServer() { port =>
      assert(post(port, "/query", """{"top_k": 3}""").statusCode() == 400)
      assert(post(port, "/query", "not json").statusCode() == 400)
      assert(get(port, "/query").statusCode() == 405)
      // top_k must be a positive integer — not a planner 500, not a
      // silently-ignored float
      assert(post(port, "/query",
        """{"question": "x", "top_k": -1}""").statusCode() == 400)
      assert(post(port, "/query",
        """{"question": "x", "top_k": 2.5}""").statusCode() == 400)
    }
  }

  test("GET /papers dumps the papers table") {
    withServer() { port =>
      val resp = get(port, "/papers")
      assert(resp.statusCode() == 200)
      val arr = mapper.readTree(resp.body())
      assert(arr.isArray && arr.size.toLong == corpus.papers.count())
      assert(arr.get(0).has("paper_id") && arr.get(0).has("title"))
    }
  }

  test("GET /papers is limit-guarded and paginates on a stable order") {
    withServer() { port =>
      val total = corpus.papers.count().toInt
      assert(total >= 3, "fixture must have enough papers to paginate")
      // limit caps the dump; a huge requested limit clamps to 1000
      val p1 = mapper.readTree(get(port, "/papers?limit=2").body())
      assert(p1.size == 2)
      assert(mapper.readTree(
        get(port, "/papers?limit=999999").body()).size == total,
        "requested limits clamp to the 1k corpus contract")
      // offset walks a deterministic paper_id order with no overlap
      val p2 = mapper.readTree(get(port, "/papers?limit=2&offset=2").body())
      val ids = (0 until p1.size).map(p1.get(_).get("paper_id").asText()) ++
        (0 until p2.size).map(p2.get(_).get("paper_id").asText())
      assert(ids == ids.sorted && ids.distinct.size == ids.size,
        "pages must be disjoint slices of one stable order")
      // garbage params fall back to defaults rather than erroring
      assert(get(port, "/papers?limit=abc&offset=-5").statusCode() == 200)
      // KEYSET pagination (the scale path — bounded collect at any
      // depth): ?after=<last paper_id> resumes past that id with no
      // overlap, same stable order
      val last1 = p1.get(p1.size - 1).get("paper_id").asText()
      val k2 = mapper.readTree(
        get(port, s"/papers?limit=2&after=$last1").body())
      val kids = (0 until k2.size).map(k2.get(_).get("paper_id").asText())
      assert(kids.forall(_ > last1) && kids == kids.sorted,
        "keyset page must start strictly after the cursor, in order")
      // a deep offset REFUSES with a 400 naming the keyset cursor —
      // silent clamping would re-serve the cap page and corrupt any
      // offset-walking client with undetectable duplicates
      val deep = get(port, s"/papers?limit=2&offset=${Int.MaxValue - 1}")
      assert(deep.statusCode() == 400 && deep.body().contains("after"))
    }
  }

  /** Spark jobs started while `f` runs, from any thread. Two canary
    * jobs bracket `f`; listener delivery is FIFO, so once the second
    * canary has arrived every job `f` started has been counted. */
  private def jobsDuring(f: => Unit): Int = {
    val canaries = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        if (g == "budget_canary") canaries.incrementAndGet()
        else if (canaries.get() == 1) jobs.incrementAndGet()
        ()
      }
    }
    def canary(n: Int): Unit = {
      spark.sparkContext.setJobGroup("budget_canary", "canary", false)
      try spark.sparkContext.parallelize(Seq(1), 1).count() // exactly one job
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis + 30000
      while (canaries.get() < n && System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(canaries.get() == n, "canary job never arrived")
    }
    spark.sparkContext.addSparkListener(l)
    try {
      canary(1)
      f
      canary(2)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("job budget: a plain /query with the history sink runs at most 2 Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_budget").toString
    withServer(historyDir = Some(dir)) { port =>
      // the first request builds the corpus caches
      assert(post(port, "/query", """{"question": "what is spark"}""").statusCode() == 200)
      val n = jobsDuring {
        assert(post(port, "/query", """{"question": "what is a spark query"}""")
          .statusCode() == 200)
      }
      // the top-k collect and summarize_context; the records and the
      // response are built on the driver
      assert(n <= 2, s"a plain /query ran $n Spark jobs")
    }
  }

  test("job budget: appending a history record runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_budget").toString
    val res = Agent.run(corpus, "what is a spark query", queryVec)
    val record = Agent.historyRecord(spark, "what is a spark query", res)
    val n = jobsDuring(graft.sources.Sources.appendJsonl(record, s"$dir/history"))
    assert(n == 0, s"appending a history record ran $n Spark jobs")
    assert(spark.read.json(s"$dir/history").count() == 1)
  }

  test("torn writes: hidden temp files are skipped and /reset racing appends tears no part file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_torn").toString
    val hist = new java.io.File(dir, "history")
    withServer(historyDir = Some(dir)) { port =>
      assert(post(port, "/query", """{"question": "what is spark"}""").statusCode() == 200)
      // a crash between writing and renaming leaves a hidden temp file
      java.nio.file.Files.writeString(new java.io.File(hist, ".part-crashed.json.tmp").toPath,
        """{"timestamp":"2024-01-01T00:00:00.000000Z","query":"torn""")
      val back = spark.read.json(hist.getPath)
      assert(back.count() == 1 && !back.columns.contains("_corrupt_record"))
      assert(back.head().getAs[String]("query") == "what is spark")

      import scala.concurrent.{Await, Future, blocking}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // resets staggered across the appends' window
      val calls = (1 to 6).flatMap(i => Seq(
        Future(blocking(post(port, "/query", s"""{"question": "race question $i"}""").statusCode())),
        Future(blocking { Thread.sleep(60L * i); post(port, "/reset", "").statusCode() })))
      assert(Await.result(Future.sequence(calls), 300.seconds).forall(_ == 200))
      // whatever survived the resets is whole: every part file is one
      // complete record, and no temp file is left behind
      for (sub <- Seq("history", "eval_metrics")) {
        val files = Option(new java.io.File(dir, sub).listFiles()).getOrElse(Array.empty)
        assert(!files.exists(_.getName.contains(".tmp")), files.map(_.getName).mkString(", "))
        for (f <- files if f.getName.startsWith("part-")) {
          val lines = java.nio.file.Files.readAllLines(f.toPath)
          assert(lines.size == 1)
          assert(mapper.readTree(lines.get(0)).isObject)
        }
      }
    }
  }

  test("concurrent /query requests both land their history rows") {
    // the sink lock orders appends against /reset; compute stays
    // concurrent, but neither request's record may be lost
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_conc").toString
    withServer(historyDir = Some(dir)) { port =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val posts = Seq("first question", "second question").map(q => Future {
        post(port, "/query", s"""{"question": "$q"}""").statusCode()
      })
      assert(Await.result(Future.sequence(posts), 120.seconds).forall(_ == 200))
      val history = spark.read.json(s"$dir/history")
      assert(history.count() == 2)
      assert(history.select("query").collect().map(_.getString(0)).toSet ==
        Set("first question", "second question"))
      assert(spark.read.json(s"$dir/eval_metrics").count() == 2)
    }
  }

  test("POST /reset clears the history sinks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv").toString
    withServer(historyDir = Some(dir)) { port =>
      assert(post(port, "/query", """{"question": "what is spark"}""").statusCode() == 200)
      assert(new java.io.File(dir, "history").exists())
      val resp = post(port, "/reset", "")
      assert(resp.statusCode() == 200)
      assert(mapper.readTree(resp.body()).get("status").asText == "ok")
      assert(!new java.io.File(dir, "history").exists())
      assert(!new java.io.File(dir, "eval_metrics").exists())
      // the sink comes back on the next query
      assert(post(port, "/query", """{"question": "what is spark"}""").statusCode() == 200)
      assert(new java.io.File(dir, "history").exists())
    }
  }
}
