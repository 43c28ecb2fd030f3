package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.engine.ResultEncoder
import graft.model.QueryJson
import graft.plan.QueryPlanner
import graft.tools.ServerMain
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark process: starts the engine the way `ServerMain.wire` does,
  * drives one workload through the public surfaces for `--seconds`, checks
  * every answer, and writes a JSON result (end-to-end metrics, samples,
  * host fingerprint; with `--trace 1` also spans and per-layer metrics).
  *
  * {{{
  * Main --workload dashboard|adhoc|ingest_mixed|curation --seed N --seconds S
  *      --trace 0|1 --work DIR --fixtures DIR --out FILE --expected FILE [--record]
  * }}}
  *
  * The fixtures do not depend on the seed, so they are generated once into
  * `--fixtures` by a `--fixtures-only` run (marked complete by a `_READY`
  * file) and reused by every later run; their generation is not part of
  * the engine's set-up time.
  * {{{
  * }}}
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, fixtures: Path, out: Path, expected: Path, record: Boolean, cores: Int)

  val Workloads = Seq("dashboard", "adhoc", "ingest_mixed", "curation")

  def main(argv: Array[String]): Unit = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val o = Opts(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("fixtures")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath,
      Paths.get(m("expected")).toAbsolutePath, argv.contains("--record"),
      Runtime.getRuntime.availableProcessors)
    require(Workloads.contains(o.workload), s"unknown workload '${o.workload}'")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val canaryBefore = Host.canary()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.graft.server.host", "127.0.0.1")
      .config("spark.graft.server.port", "0")
      .config("spark.graft.server.stopGraceSec", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    if (argv.contains("--fixtures-only")) {
      // generated once per checkout in a JVM of its own, so that no
      // measured run inherits the JIT warmth of generating them
      val code = try {
        Fixtures.materialize(spark, o.workload, o.fixtures.resolve("data"),
          o.fixtures.resolve("input"))
        Files.writeString(o.fixtures.resolve("_READY"), "")
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
      System.exit(code)
    }
    // exit explicitly: a failed run must not hang on the engine's
    // non-daemon server threads
    val code =
      try {
        val result = new Bench(spark, o, sessionS, canaryBefore).run()
        Files.createDirectories(o.out.getParent)
        Files.writeString(o.out, Bench.json.writeValueAsString(result))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    System.exit(code)
  }
}

/** One client-observed operation of the measured window. */
final case class Sample(shape: String, key: String, queryId: String, startNs: Long,
    endNs: Long, ok: Boolean, engineMs: Long, cached: Boolean, segHits: Int,
    segMisses: Int, days: Seq[Int], native: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What one set-up leaves running. */
final case class Env(wired: ServerMain.Wired, data: Path, input: Path, store: Path,
    port: Int, datasource: String, inputBytes: Long, ingest: Seq[Commit])

/** One write task; `days` are the fixture days whose chunks it rewrote. */
final case class Commit(kind: String, days: Seq[Int], startNs: Long, endNs: Long, ok: Boolean,
    taskMs: Long, rows: Long, error: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Bench {
  /** Renders the result file (Scala maps and sequences). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

final class Bench(spark: SparkSession, o: Main.Opts, sessionS: Double,
    canaryBefore: Double) {
  private val SetupReps = 3
  private val WarmupPerClient = 6
  private val ProbeRounds = 4
  private val http = o.workload != "curation"
  private val tracer = new Tracer(o.trace)
  private val jobStats = new JobStats
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  // every answer served, per distinct request: body -> times served
  private val served = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  private val reqByKey = new ConcurrentHashMap[String, Req]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong
  private val qidSeq = new AtomicLong

  // --- set-up ----------------------------------------------------------------

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }

  private def datasource: String = if (o.workload == "curation") "documents" else "events"

  /** Engine wiring and the store ingest into a fresh store. */
  private def setupOnce(rep: Int, data: Path, input: Path): Env = {
    val store = o.work.resolve(s"store-$rep")
    deleteTree(store)
    spark.conf.set("spark.graft.server.data", data.toString)
    spark.conf.set("spark.graft.server.store", store.toString)
    val wired = ServerMain.wire(spark)
    wired.start()
    val port = wired.server.boundPort
    val src = Fixtures.ingestInput(o.workload, data, input)
    val c = ingest(port, wired, s"setup-$rep", datasource, src)
    if (!c.ok) throw new IllegalStateException(s"set-up ingest failed: ${c.error}")
    Env(wired, data, input, store, port, datasource, Fixtures.bytesUnder(src), Seq(c))
  }

  /** One `index` task of `src` into `ds` over HTTP; rows = what it added. */
  private def ingest(port: Int, wired: ServerMain.Wired, id: String, ds: String,
      src: Path): Commit = {
    val before = wired.catalog.segmentInfos(ds).map(_._3).sum
    val c = submitTask(port, wired, "index", Seq.empty,
      s"""{"type":"index","id":"$id","dataSource":"$ds","inputPath":"$src",""" +
        """"timestampColumn":"ts"}""", 0L)
    c.copy(rows = wired.catalog.segmentInfos(ds).map(_._3).sum - before)
  }

  /** The write probe: `rounds` rounds of an `index` task that re-ingests a
    * seeded span of the workload's datasource with identical rows, then an
    * `append` (compaction) of one day chunk of the span. On the HTTP
    * workloads each commit is followed by one dashboard request covering a
    * rewritten chunk, which `staleServed` checks; it is the value-bucket
    * groupBy, the cheapest of the shapes served from cached chunk fragments. */
  private def writeProbe(env: Env, rounds: Int, r: Random, tag: String)
      : (Seq[Commit], Seq[Sample]) = {
    val covering = new ConcurrentLinkedQueue[Sample]()
    val commits = (0 until rounds).flatMap { i =>
      val span = r.nextInt(Fixtures.Spans)
      val days = Fixtures.spanDays(span).filter(Requests.coveredDays.contains)
      val day = days(r.nextInt(days.size))
      def covered(c: Commit): Commit = {
        if (http) issue(env, Requests.covering("groupby_value_bucket", day, r), tag, 0, covering)
        c
      }
      Seq(covered(indexTask(env, span, s"$tag-$i-index")),
        covered(appendTask(env, day, s"$tag-$i-append")))
    }
    (commits, covering.asScala.toSeq)
  }

  // one client for every request; it keeps its connections alive
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  /** POST `body` as the caller `who`: (status, response body). */
  private def post(port: Int, path: String, body: String, who: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json").header("Authorization", who)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private def submitTask(port: Int, wired: ServerMain.Wired, kind: String, days: Seq[Int],
      json: String, rows: Long): Commit = {
    val id = mapper.readTree(json).get("id").asText
    val t0 = System.nanoTime()
    val r = try Right(post(port, "/druid/indexer/v1/task", json, "perfbench-writer"))
      catch { case e: Exception => Left(e.toString) }
    val t1 = System.nanoTime()
    val st = wired.tasks.flatMap(_.status(id))
    val ok = r.exists(_._1 == 200) && st.exists(_.state == "SUCCESS")
    Commit(kind, days, t0, t1, ok, st.map(_.durationMs).getOrElse(0L), rows,
      if (ok) "" else r.fold(identity, _._2) + st.flatMap(_.error).getOrElse(""))
  }

  // --- one operation -----------------------------------------------------------

  /** Issue `req` over HTTP as client `client` and record what came back. */
  private def issue(env: Env, req: Req, phase: String, client: Int,
      out: ConcurrentLinkedQueue[Sample]): Unit = {
    attempted.incrementAndGet()
    val who = s"perfbench-client-$client"
    val t0 = System.nanoTime()
    val resp = try {
      if (req.native) Some(post(env.port, "/druid/v2", req.body, who))
      else
        Some(post(env.port, "/druid/v2/sql", mapper.writeValueAsString(Map(
          "query" -> req.sql, "datasources" -> req.datasources.asJava).asJava), who))
    } catch { case e: Exception => failures.add(s"${req.shape}: $e"); None }
    val t1 = System.nanoTime()
    val ok = resp.exists(_._1 == 200)
    if (!ok) resp.foreach(r => failures.add(s"${req.shape}: HTTP ${r._1} ${r._2.take(300)}"))
    // the engine records a query's metric before it answers, and a client
    // has one request in flight: its newest metric belongs to this request
    val m = if (ok && req.native)
      env.wired.engine.metrics.reverseIterator.find(_.identity.contains(who)) else None
    val qid = m.map(_.queryId).getOrElse("")
    tracer.record("client.http", t0, t1, requestId = qid)
    if (ok && phase != "cover" && phase != "warm") {
      reqByKey.putIfAbsent(req.key, req)
      served.computeIfAbsent(req.key, _ => new ConcurrentHashMap[String, AtomicLong]())
        .computeIfAbsent(resp.get._2, _ => new AtomicLong).incrementAndGet()
    }
    out.add(Sample(req.shape, req.key, qid, t0, t1, ok, m.map(_.millis).getOrElse(-1L),
      m.exists(_.cached), m.map(_.segmentHits).getOrElse(0),
      m.map(_.segmentMisses).getOrElse(0), req.days, req.native))
  }

  private lazy val stream: Iterator[Req] = o.workload match {
    case "adhoc" => Requests.adhocStream(o.seed)
    case _ => Requests.dashboardStream(o.seed)
  }
  private def nextReq(): Req = stream.synchronized(stream.next())

  private def readers: Int =
    if (o.workload == "ingest_mixed") math.max(1, o.cores - 1) else o.cores

  /** Closed loop: `readers` clients, each sending its next request
    * (`next(client)`, None = that client is done) when the previous answer
    * arrives, until `deadline`. */
  private def closedLoop(env: Env, phase: String, deadline: Long,
      next: Int => Option[Req]): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val threads = (0 until readers).map { c =>
      val t = new Thread(() => {
        var req = if (System.nanoTime() < deadline) next(c) else None
        while (req.isDefined) {
          issue(env, req.get, phase, c, out)
          req = if (System.nanoTime() < deadline) next(c) else None
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** `reqs` shared out to the clients, each taking the next one free. */
  private def sharedQueue(reqs: Seq[Req]): Int => Option[Req] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Req](reqs.asJava)
    _ => Option(q.poll())
  }

  /** The ingest_mixed writer: `index` tasks re-ingesting seeded spans
    * (identical rows) alternating with `append` (compaction) of seeded day
    * chunks, back to back. */
  private def writer(env: Env, r: Random, deadline: Long, phase: String,
      maxTasks: Int): Seq[Commit] = {
    val out = Seq.newBuilder[Commit]
    var i = 0
    while (i < maxTasks && System.nanoTime() < deadline) {
      out += (if (i % 2 == 0) indexTask(env, r.nextInt(Fixtures.Spans), s"$phase-$i")
        else appendTask(env, r.nextInt(Fixtures.Days), s"$phase-$i"))
      i += 1
    }
    out.result()
  }

  /** An `index` task that re-ingests span `span` of the workload's
    * datasource: identical rows, a new version of each of its day chunks. */
  private def indexTask(env: Env, span: Int, id: String): Commit = {
    val days = Fixtures.spanDays(span)
    val rows = env.wired.catalog.segmentInfos(env.datasource)
      .filter(c => days.exists(d => c._1 == Fixtures.FirstDay.plusDays(d.toLong).toString))
      .map(_._3).sum
    writeTask(submitTask(env.port, env.wired, "index", days,
      s"""{"type":"index","id":"$id","dataSource":"${env.datasource}","inputPath":""" +
        s""""${Fixtures.spanInput(env.input, span)}","timestampColumn":"ts"}""", rows), id)
  }

  /** An `append` task that compacts day chunk `day` into one file. */
  private def appendTask(env: Env, day: Int, id: String): Commit =
    writeTask(submitTask(env.port, env.wired, "append", Seq(day),
      s"""{"type":"append","id":"$id","dataSource":"${env.datasource}",""" +
        s""""chunk":"${Fixtures.FirstDay.plusDays(day.toLong)}","targetFiles":1}""", 0L), id)

  private def writeTask(submit: => Commit, id: String): Commit = {
    attempted.incrementAndGet()
    val c = submit
    tracer.record(s"ingest.task.${c.kind}", c.startNs, c.endNs, requestId = id)
    if (!c.ok) failures.add(s"write task $id (${c.kind} of days ${c.days.mkString(",")}): " +
      c.error.take(300))
    c
  }

  // --- curation ----------------------------------------------------------------

  private lazy val entryQueries = graft.SparkEntry.queries

  /** Run one curation operator and materialize its whole output through a
    * counting, order-independent hashing sink: (rows, digest). */
  private def curate(env: Env, op: String, group: String): (Long, Long) = {
    spark.sparkContext.setJobGroup(group, group)
    try {
      val df = entryQueries(op)(spark, env.data.toString)
      val hashed = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
      hashed.queryExecution.toRdd.map(_.getLong(0))
        .aggregate((0L, 0L))((a, h) => (a._1 + 1, a._2 + h),
          (a, b) => (a._1 + b._1, a._2 + b._2))
    } finally spark.sparkContext.clearJobGroup()
  }

  private def expectedDigests: Map[String, (Long, Long)] =
    if (!Files.exists(o.expected)) Map.empty
    else {
      val n = mapper.readTree(Files.readString(o.expected))
      n.fieldNames().asScala.map { f =>
        f -> (n.get(f).get("rows").asLong, n.get(f).get("digest").asLong)
      }.toMap
    }

  /** One pass of the curation operator set; per operator (name, ms, rows, digest). */
  private def curationPass(env: Env, pass: String, order: Seq[(String, String)])
      : Seq[(String, Double, Long, Long)] = order.map { case (name, op) =>
    attempted.incrementAndGet()
    val group = s"cur-$name-$pass"
    val t0 = System.nanoTime()
    val (rows, digest) = try curate(env, op, group)
      catch { case e: Exception => failures.add(s"$name: $e"); (-1L, 0L) }
    val t1 = System.nanoTime()
    tracer.record(s"ext.$name", t0, t1, requestId = group)
    (name, (t1 - t0) / 1e6, rows, digest)
  }

  // --- the run -------------------------------------------------------------------

  def run(): Map[String, Any] = {
    val data = o.fixtures.resolve("data")
    val input = o.fixtures.resolve("input")
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupIngest = scala.collection.mutable.ArrayBuffer.empty[Commit]
    var env: Env = null
    (0 until SetupReps).foreach { rep =>
      if (env != null) env.wired.stop()
      val t0 = System.nanoTime()
      env = setupOnce(rep, data, input)
      setupTimes += (System.nanoTime() - t0) / 1e9
      setupIngest ++= env.ingest
    }
    if (o.trace) spark.sparkContext.addSparkListener(jobStats)
    val rnd = new Random(o.seed)
    val curationOrder = rnd.shuffle(Requests.curationOps)
    val expected = expectedDigests
    val warmDigests = scala.collection.mutable.ArrayBuffer.empty[(String, (Long, Long))]

    // warm-up: JIT, the Spark code paths and the caches, as users would
    val w0 = System.nanoTime()
    // the write path (re-ingest over existing chunks, compaction) keeps
    // getting faster over its first few tasks: two rounds warm it
    val (warmWrites, warmCovering) = if (o.workload == "ingest_mixed") (Seq.empty, Seq.empty)
      else writeProbe(env, 2, new Random(o.seed + 31), "warm-write")
    if (http) {
      // dashboards: fill every cacheable shape's chunk fragments over all
      // days, so the window meets each distinct request first from those
      if (o.workload != "adhoc")
        closedLoop(env, "cover", Long.MaxValue, sharedQueue(Requests.cover))
      val warmWriter = new Thread(() => {
        if (o.workload == "ingest_mixed")
          writer(env, new Random(o.seed + 17), Long.MaxValue, "warm-task", 2)
        ()
      })
      warmWriter.start()
      if (o.workload == "adhoc") {
        val sent = Array.fill(readers)(0)
        closedLoop(env, "warm", Long.MaxValue, c =>
          if (sent(c) < WarmupPerClient) { sent(c) += 1; Some(nextReq()) } else None)
      }
      warmWriter.join()
    } else {
      // one pass compiles the operators' code; the window's median per
      // operator absorbs what is left of the warming
      curationPass(env, "w0", curationOrder).foreach {
        case (name, _, rows, digest) => warmDigests += name -> (rows, digest)
      }
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setupTimes.toSeq) + warmS

    // the measured window
    val cache0 = env.wired.engine.cacheStats
    val gc0 = Host.gcMs
    Host.resetHeapPeak()
    val start = System.nanoTime()
    val deadline = start + o.seconds * 1000000000L
    var samples: Seq[Sample] = Seq.empty
    var commits: Seq[Commit] = Seq.empty
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[(String, Double, Long, Long)])]
    if (http) {
      val wt = new Thread(() => {
        if (o.workload == "ingest_mixed")
          commits = writer(env, new Random(o.seed + 1), deadline, "task", Int.MaxValue)
      })
      wt.start()
      samples = closedLoop(env, "run", deadline, _ => Some(nextReq()))
      wt.join()
    } else {
      var p = 1
      // at least three passes, so each operator's median has three calls
      while (System.nanoTime() < deadline || passes.size < 3) {
        val t0 = System.nanoTime()
        val ops = curationPass(env, p.toString, curationOrder)
        passes += (((System.nanoTime() - t0) / 1e9, ops))
        p += 1
      }
    }
    val end = System.nanoTime()
    val windowS = (end - start) / 1e9
    val gcMs = (Host.gcMs - gc0).toDouble
    val heapPeak = Host.heapPeakMb
    val heapLive = Host.liveHeapMb
    val cache1 = env.wired.engine.cacheStats
    // the store as the window left it, before the write probe rewrites chunks
    val storeBytes = Fixtures.bytesUnder(env.store.resolve(env.datasource))
    val segs = new graft.store.SegmentStore(env.store.toString).readManifest(env.datasource).segments
    val filesPerChunk = if (segs.isEmpty) 0.0 else segs.map(_.files.size).sum.toDouble / segs.size
    val probe0 = System.nanoTime()
    val (probeCommits, probeSamples) = if (o.workload == "ingest_mixed") (Seq.empty, Seq.empty)
      else writeProbe(env, ProbeRounds + 1, new Random(o.seed + 29), "probe")

    // output checks ------------------------------------------------------------
    var wrong = 0L
    val check0 = System.nanoTime()
    if (http) wrong += verifyAnswers(env)
    val check1 = System.nanoTime()
    val stale = staleServed(warmCovering ++ samples ++ probeSamples,
      warmWrites ++ commits ++ probeCommits)
    if (!http) {
      val recorded = warmDigests.toMap
      val digests = warmDigests.toSeq ++ passes.flatMap(_._2.map(x => x._1 -> (x._3, x._4)))
      digests.foreach { case (name, got) =>
        val want = expected.get(name).orElse(if (o.record) recorded.get(name) else None)
        if (!want.contains(got)) {
          wrong += 1
          failures.add(s"curation $name: got rows/digest $got, expected ${want.getOrElse("unrecorded")}")
        }
      }
      if (o.record) Files.writeString(o.expected, Bench.json.writeValueAsString(recorded.map {
        case (k, (r, d)) => k -> Map("rows" -> r, "digest" -> d) }.toMap))
    }
    val failedOps = samples.count(!_.ok) + commits.count(!_.ok) + probeSamples.count(!_.ok) +
      probeCommits.count(!_.ok) + warmWrites.count(!_.ok) + warmCovering.count(!_.ok) +
      passes.flatMap(_._2).count(_._3 < 0) + wrong + stale

    // end-to-end metrics --------------------------------------------------------
    val opMs: Seq[Double] = if (http) samples.map(_.ms) else passes.flatMap(_._2.map(_._2)).toSeq
    // latency over requests; for curation, whose client operation is a pass
    // of six operators of two cost classes, p50 is the typical pass: the sum
    // of each operator's median call (a median over calls would sit on the
    // gap between the classes), and p95 is over the passes' wall times
    val (p50, p95) = if (http) (Stats.median(opMs), Stats.quantile(opMs, 0.95))
      else (passes.flatMap(_._2).groupBy(_._1).values
        .map(c => Stats.median(c.map(_._2).toSeq)).sum,
        Stats.quantile(passes.map(_._1 * 1000).toSeq, 0.95))
    // the write tasks timed: the first probe round re-warms the write path
    // after the window's query load (its first commit runs about twice as
    // long) and is checked but not timed
    val writes = if (o.workload == "ingest_mixed") commits else probeCommits.drop(2)
    // ingest throughput: the last set-up's bulk `index` task (the whole
    // input into a fresh store), rows over wall time; the first two warm the
    // path (the second still runs up to a fifth longer); write latency: the
    // timed `index` tasks, median (`append` tasks per layer)
    val ingestRowsPerS = setupIngest.last.rows / (setupIngest.last.ms / 1000.0)
    val ingestP50 = Stats.median(writes.filter(c => c.ok && c.kind == "index").map(_.ms))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("query_p50_ms", p50, "ms"),
      ("query_p95_ms", p95, "ms"),
      ("queries_per_s", opMs.size / windowS, "1/s")) ++
      (if (http) Seq.empty else Seq(("batch_wall_s", Stats.median(passes.map(_._1).toSeq), "s"))) ++
    Seq(
      ("ingest_rows_per_s", ingestRowsPerS, "rows/s"),
      ("ingest_task_p50_ms", ingestP50, "ms"),
      ("store_bytes_ratio", storeBytes.toDouble / env.inputBytes, "ratio"),
      ("heap_live_mb", heapLive, "MB"),
      ("peak_rss_mb", Host.peakRssKb / 1024.0, "MB"))

    // per-layer metrics (traced runs) -----------------------------------------------
    val layers: Seq[(String, Double, String)] =
      if (!o.trace) Seq.empty
      else {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        perLayer(env, samples, writes, passes.toSeq, cache0, cache1, stale, gcMs, heapPeak,
          filesPerChunk)
      }
    val canaryAfter = Host.canary()
    env.wired.stop()

    Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace,
      "host" -> Map(
        "nproc" -> o.cores, "mem_total_kb" -> Host.memTotalKb,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "canary_cpu_s_before" -> canaryBefore, "canary_cpu_s_after" -> canaryAfter,
        "spark_master" -> spark.sparkContext.master),
      "clients" -> (if (http) readers else 1),
      "writer" -> (o.workload == "ingest_mixed"),
      "loop" -> "closed",
      "window_s" -> windowS,
      "attempted" -> attempted.get, "failed" -> failedOps,
      "failed_frac" -> failedOps.toDouble / math.max(1L, attempted.get),
      "stale_served" -> stale,
      "failures" -> failures.asScala.take(20).toSeq,
      "samples_count" -> opMs.size,
      "end_to_end" -> e2e.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "phases_s" -> Map("write_probe" -> (check0 - probe0) / 1e9,
        "answer_check" -> (check1 - check0) / 1e9, "after_check" -> (System.nanoTime() - check1) / 1e9),
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> setupTimes.toSeq,
        "warmup_s" -> warmS),
      "samples" -> (if (http) samples.sortBy(_.startNs).map(s => Seq(s.shape,
          (s.startNs - start) / 1e6, s.ms, s.ok, s.cached, s.engineMs))
        else passes.zipWithIndex.flatMap { case ((wall, ops), i) =>
          ops.map { case (n, ms, rows, _) => Seq(n, i + 1, ms, rows >= 0, wall) } }.toSeq),
      "tasks" -> (setupIngest.toSeq ++ warmWrites ++ commits ++ probeCommits).map(c =>
        Seq(c.kind, c.days, c.ms, c.ok, c.taskMs, c.rows)),
      "probe_samples" -> probeSamples.map(s => Seq(s.shape, s.ms, s.ok, s.cached,
        s.segHits, s.segMisses)),
      "spans" -> (if (o.trace) tracer.spans.asScala.toSeq.map(s => Seq(s.id, s.name,
          (s.startNs - start) / 1e6, (s.endNs - start) / 1e6, s.parent, s.requestId))
        else Seq.empty))
  }

  /** Compare every served answer with the engine's uncached whole-plan
    * answer for the same request; returns the number of wrong answers. */
  private def verifyAnswers(env: Env): Long = {
    val pool = Executors.newFixedThreadPool(o.cores)
    val wrong = new AtomicLong
    try {
      val futs = served.asScala.toSeq.map { case (key, bodies) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val req = reqByKey.get(key)
            val ref = try {
              if (req.native) env.wired.engine.executeJson(Requests.withContext(req.body,
                Seq("queryId" -> s"ref-${qidSeq.incrementAndGet()}", "useCache" -> "false",
                  "populateCache" -> "false")))
              else ResultEncoder.encodeRows(env.wired.engine.executeSql(req.sql, req.datasources))
            } catch { case e: Exception => s"reference failed: $e" }
            bodies.asScala.foreach { case (body, n) =>
              if (!Check.sameAnswer(Option(req.body).filter(_ => req.native), body, ref)) {
                wrong.addAndGet(n.get)
                failures.add(s"wrong answer (${n.get}x) for ${req.shape}: ${body.take(200)} " +
                  s"vs reference ${ref.take(200)}")
              }
            }
          }
        })
      }
      futs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
    wrong.get
  }

  /** After each commit, the first request covering the rewritten chunk must
    * not be served wholly from cache. The engine reports `cached` both for a
    * whole-query result-cache hit and for an answer assembled from cached
    * chunk fragments alone. Returns the number of violations. */
  private def staleServed(samples: Seq[Sample], commits: Seq[Commit]): Long = {
    val bySt = samples.filter(s => s.ok && s.native).sortBy(_.startNs)
    commits.filter(_.ok).count { c =>
      bySt.find(s => s.startNs > c.endNs && (s.days.isEmpty || s.days.exists(c.days.contains)))
        .exists { s =>
          val bad = s.cached
          if (bad) failures.add(s"stale: ${s.shape} ${s.queryId} served from cache after " +
            s"${c.kind} of days ${c.days.mkString(",")} (result cache ${s.cached}, fragment hits " +
            s"${s.segHits}, misses ${s.segMisses})")
          bad
        }
    }.toLong
  }

  // --- per-layer metrics -------------------------------------------------------

  private def perLayer(env: Env, samples: Seq[Sample], writes: Seq[Commit],
      passes: Seq[(Double, Seq[(String, Double, Long, Long)])],
      c0: Map[String, Long], c1: Map[String, Long], stale: Long, gcMs: Double,
      heapPeak: Double, filesPerChunk: Double): Seq[(String, Double, String)] = {
    def d(k: String): Double = (c1.getOrElse(k, 0L) - c0.getOrElse(k, 0L)).toDouble
    def ratio(a: Double, b: Double): Double = if (a + b == 0) 0.0 else a / (a + b)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, Stats.orZero(v), u))

    val ok = samples.filter(_.ok)
    val native = ok.filter(s => s.native && s.engineMs >= 0)
    // HTTP and JSON: client latency minus the engine's own millis
    put("http.self_ms", Stats.median(native.map(s => s.ms - s.engineMs)), "ms")

    val probes = if (http) probeLayers(env, ok) else Map.empty[String, Double]
    put("parse.ms", probes.getOrElse("parse.ms", 0.0), "ms")

    // cache tiers
    val rh = d("resultCacheHits"); val rm = d("resultCacheMisses")
    val sh = d("segmentCacheHits"); val sm = d("segmentCacheMisses")
    val mergesServed = native.count(s => s.segHits + s.segMisses > 0).toDouble
    val wasted = d("segmentCacheNotServeable") + d("segmentCachePartialOverflows") +
      d("segmentCacheMergeErrors")
    put("cache.result_hit_ratio", ratio(rh, rm), "ratio")
    put("cache.result_hits", rh, "count"); put("cache.result_misses", rm, "count")
    put("cache.segment_hit_ratio", ratio(sh, sm), "ratio")
    put("cache.segment_hits", sh, "count"); put("cache.segment_misses", sm, "count")
    put("cache.useful_ratio", ratio(mergesServed, wasted), "ratio")
    put("cache.merges_wasted", wasted, "count")
    put("cache.coalesced", d("segmentCacheCoalesced"), "count")
    put("cache.evictions", d("resultCacheEvictions"), "count")
    put("cache.bytes", c1.getOrElse("resultCacheBytes", 0L).toDouble, "bytes")
    put("cache.hit_ms", Stats.median(native.filter(_.cached).map(_.ms)), "ms")
    put("cache.miss_ms", Stats.median(native.filterNot(_.cached).map(_.ms)), "ms")
    put("cache.stale_served", stale.toDouble, "count")

    put("plan.ms", probes.getOrElse("plan.ms", 0.0), "ms")
    Seq("analysis", "optimization", "planning").foreach(p =>
      put(s"catalyst.${p}_ms", probes.getOrElse(s"catalyst.${p}_ms", 0.0), "ms"))

    // Spark execution, per query of the window (curation: per operator call)
    val queryIds = ok.map(_.queryId).toSet
    val isQuery: String => Boolean =
      if (http) g => queryIds.contains(g) || g.startsWith("sql-") else g => g.startsWith("cur-")
    val nQueries = math.max(1, if (http) ok.size else passes.map(_._2.size).sum)
    val ex = jobStats.totals(isQuery)
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_cpu_ms" -> "ms",
      "task_run_ms" -> "ms", "gc_ms" -> "ms", "input_rows" -> "rows",
      "input_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
      "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes").foreach { case (k, u) =>
      put(s"exec.$k", ex(k) / nQueries, u)
    }
    val floors = native.filter(s => !s.cached && s.engineMs > 0 && jobStats.hasJobs(s.queryId))
      .map(s => (s.engineMs - jobStats.coveredMs(s.queryId)).toDouble)
    put("exec.driver_floor_ms", Stats.median(floors), "ms")

    put("encode.ms", probes.getOrElse("encode.ms", 0.0), "ms")
    put("encode.bytes", probes.getOrElse("encode.bytes", 0.0), "bytes")
    put("catalog.table_ms", probes.getOrElse("catalog.table_ms", 0.0), "ms")

    // store: the benchmark's own SegmentStore.write calls on one day chunk
    val st = storeProbe(env)
    put("store.write_ms", st._1, "ms"); put("store.rows_written", st._2, "rows")
    put("store.bytes_written", st._3, "bytes"); put("store.files_per_chunk", filesPerChunk, "count")

    // ingest
    put("ingest.task_ms.index", Stats.median(writes.filter(c => c.ok && c.kind == "index")
      .map(_.taskMs.toDouble)), "ms")
    put("ingest.task_ms.append", Stats.median(writes.filter(c => c.ok && c.kind == "append")
      .map(_.taskMs.toDouble)), "ms")
    put("ingest.tasks_failed", writes.count(!_.ok).toDouble, "count")
    put("ingest.conflicts", writes.count(c => !c.ok && c.error.contains("onflict")).toDouble, "count")
    // readers overlap writes only on ingest_mixed; the probe runs them in turn
    val overlaps = (s: Sample) => writes.exists(c => s.startNs < c.endNs && s.endNs > c.startNs)
    val stall = if (!ok.exists(overlaps)) 0.0
      else Stats.median(ok.filter(overlaps).map(_.ms)) -
        Stats.median(ok.filterNot(overlaps).map(_.ms))
    put("ingest.reader_stall_ms", stall, "ms")

    // ext operators: wall per call (median over passes) with its own exec counts
    Requests.curationOps.foreach { case (name, _) =>
      val calls = passes.flatMap(_._2.filter(_._1 == name))
      put(s"ext.${name}_s", Stats.median(calls.map(_._2 / 1000.0)), "s")
      val e = jobStats.totals(g => g.startsWith(s"cur-$name-") && !g.startsWith(s"cur-$name-w"))
      val n = math.max(1, calls.size)
      put(s"ext.$name.jobs", e("jobs") / n, "count")
      put(s"ext.$name.tasks", e("tasks") / n, "count")
      put(s"ext.$name.task_cpu_ms", e("task_cpu_ms") / n, "ms")
      put(s"ext.$name.shuffle_write_bytes", e("shuffle_write_bytes") / n, "bytes")
    }

    put("jvm.gc_ms", gcMs, "ms")
    put("jvm.heap_peak_mb", heapPeak, "MB")
    put("host.canary_cpu_s", canaryBefore, "s")
    put("trace.spans", tracer.spans.size.toDouble, "count")
    out.toSeq
  }

  /** The benchmark's own calls into parse, plan, Catalyst, encode and the
    * catalog, on a seeded sample of the window's distinct requests. */
  private def probeLayers(env: Env, ok: Seq[Sample]): Map[String, Double] = {
    val keys = new Random(o.seed).shuffle(ok.map(_.key).distinct.sorted).take(8)
    val reqs = keys.map(reqByKey.get)
    val catalog = env.wired.catalog
    val parse, plan, an, opt, pl, enc, encB, cat = scala.collection.mutable.ArrayBuffer.empty[Double]
    reqs.foreach { req =>
      tracer.span("probe.request", requestId = req.key.take(64)) { parent =>
        val df: DataFrame = if (req.native) {
          val reps = 20
          val q = tracer.span("model.QueryJson.parseQuery", parent) { _ =>
            val t0 = System.nanoTime()
            var q: graft.model.Query = null
            (0 until reps).foreach(_ => q = QueryJson.parseQuery(req.body))
            parse += (System.nanoTime() - t0) / 1e6 / reps
            q
          }
          val ds = req.datasources.head
          tracer.span("sources.Catalog.table", parent) { _ =>
            val t0 = System.nanoTime()
            if (req.days.isEmpty) catalog.table(spark, ds)
            else catalog.table(spark, ds, Seq(graft.model.Interval(
              dayStart(req.days.min), dayStart(req.days.max + 1))))
            cat += (System.nanoTime() - t0) / 1e6
          }
          tracer.span("plan.QueryPlanner.plan", parent) { _ =>
            val t0 = System.nanoTime()
            val df = QueryPlanner.plan(spark, q, catalog)
            plan += (System.nanoTime() - t0) / 1e6
            df
          }
        } else tracer.span("engine.Engine.executeSql", parent) { _ =>
          env.wired.engine.executeSql(req.sql, req.datasources)
        }
        tracer.span("catalyst.executedPlan", parent) { _ => df.queryExecution.executedPlan }
        val ph = df.queryExecution.tracker.phases
        def phase(n: String): Double = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        an += phase("analysis"); opt += phase("optimization"); pl += phase("planning")
        // encode on an already-materialized local copy: execution excluded
        val local = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
        tracer.span("engine.ResultEncoder.encode", parent) { _ =>
          val t0 = System.nanoTime()
          val s = if (req.native) ResultEncoder.encode(QueryJson.parseQuery(req.body), local)
            else ResultEncoder.encodeRows(local)
          enc += (System.nanoTime() - t0) / 1e6
          encB += s.length.toDouble
        }
      }
    }
    Map("parse.ms" -> Stats.median(parse.toSeq), "plan.ms" -> Stats.median(plan.toSeq),
      "catalyst.analysis_ms" -> Stats.median(an.toSeq),
      "catalyst.optimization_ms" -> Stats.median(opt.toSeq),
      "catalyst.planning_ms" -> Stats.median(pl.toSeq),
      "encode.ms" -> Stats.median(enc.toSeq), "encode.bytes" -> Stats.median(encB.toSeq),
      "catalog.table_ms" -> Stats.median(cat.toSeq))
  }

  private def dayStart(day: Int): java.time.Instant =
    Fixtures.FirstDay.plusDays(day.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toInstant

  /** Three direct `SegmentStore.write` calls of one day chunk into a probe
    * datasource: (median ms, rows, bytes per write). */
  private def storeProbe(env: Env): (Double, Double, Double) = {
    val store = new graft.store.SegmentStore(env.store.toString)
    val day = spark.read.parquet(Fixtures.spanInput(env.input, 0).toString)
      .where(to_date(col("ts")) === lit(Fixtures.FirstDay.plusDays(3).toString).cast("date"))
      .withColumn("__time", col("ts"))
    val rows = day.count().toDouble
    val times = (0 until 3).map { _ =>
      tracer.span("store.SegmentStore.write") { _ =>
        val t0 = System.nanoTime()
        store.write(day, "perfbench_probe")
        (System.nanoTime() - t0) / 1e6
      }
    }
    (Stats.median(times), rows, Fixtures.bytesUnder(env.store.resolve("perfbench_probe")).toDouble)
  }
}
