package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.engine.{GraphEngine, GraphPayload, StartVertex}
import graft.graph.{GraphCatalog, GraphOps}
import graft.model.MatrixCodec

/** What one request did, as the client saw it. */
final case class Outcome(req: Request, client: Int, ok: Boolean,
                         latencyNs: Long, payloadNs: Long, executeNs: Long,
                         collectNs: Long, endMs: Long, levels: Int = 0,
                         measured: Boolean = false)

/** Every version each graph has been given, in write order. A graph has a
  * single writer, so its versions are numbered by that writer's order; a
  * read may see any version from the one committed when it started to the
  * newest one whose write had begun when it ended.
  */
final class Snapshots {
  private val trees = mutable.HashMap.empty[String, mutable.ArrayBuffer[Tree]]
  private val committed = mutable.HashMap.empty[String, Int]

  def begin(graph: String, t: Tree): Unit = synchronized {
    trees.getOrElseUpdate(graph, mutable.ArrayBuffer.empty) += t
  }
  def commit(graph: String): Unit = synchronized { committed(graph) = trees(graph).size }
  def committedCount(graph: String): Int = synchronized(committed.getOrElse(graph, 0))
  def since(graph: String, committedAtStart: Int): Seq[Tree] = synchronized {
    trees.get(graph).map(_.drop(math.max(committedAtStart - 1, 0)).toSeq).getOrElse(Nil)
  }
  def all: Seq[Tree] = synchronized(trees.values.flatten.toSeq)
}

/** Replays seeded `inp.txt` request streams through `GraphEngine` from
  * closed-loop client threads and prints one JSON result line.
  *
  * {{{
  * Main --workload small_reads|mixed_c4 --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  */
object Main {

  /** Requests generated per client; more than any run completes. */
  val StreamLength = 4000
  /** JVM uptime after which no client starts another timed request. On a
    * host that stalls, the first block can take minutes; this keeps every
    * run well under three minutes, and its metrics then cover the part of
    * the block that was done (the sample counts show it).
    */
  val StopStartingAfterS = 120
  /** Metrics of an untraced run; BENCHMARK.json declares the same names. */
  val EndToEndMetrics: Seq[String] =
    Seq("setup_s", "read_mean_ms", "write_p50_ms", "requests_per_s", "live_heap_mb")

  /** Metrics of a traced run. `trace.*` are the traced run's own end-to-end
    * figures: minus the untraced ones, they give the tracing overhead.
    */
  val PerLayerMetrics: Seq[String] = Seq(
    "trace.read_mean_ms", "trace.requests_per_s",
    "model.payload_ms", "engine.collect_ms",
    "catalog.write_ms", "catalog.load_ms", "catalog.versions_per_graph",
    "catalog.bytes_per_edge", "catalog.files_per_version",
    "graphops.bfs_ms", "graphops.dfs_ms", "graphops.levels_per_read",
    "spark.jobs_per_read", "spark.stages_per_read", "spark.tasks_per_read",
    "spark.shuffle_write_bytes_per_read", "spark.task_cpu_ms_per_read",
    "spark.scheduler_delay_ms_per_read", "spark.job_gap_ms_per_read",
    "spark.jobs_per_write", "spark.gc_ms", "spark.spill_bytes", "jvm.peak_rss_mb")

  final case class Options(workload: String, seed: Long, seconds: Int,
                           traced: Boolean, work: Path)

  def parseArgs(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = parseArgs(args)
    val spec = WorkloadSpec(opt.workload)
    val plan = Plan.generate(spec, opt.seed, StreamLength)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-reqbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opt.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opt.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (opt.traced) Some(new Trace(spark.sparkContext)) else None
    val catalogDir = opt.work.resolve("catalog")
    val catalog = new GraphCatalog(spark, catalogDir.toString)
    val clients = new Clients(spark, new GraphEngine(spark, catalog), catalog, trace)

    System.err.println(s"set-up: session ready after ${(System.currentTimeMillis() - jvmStartMs) / 1e3} s")
    // Set-up: each owner seeds its graphs with op-1 requests while the
    // untimed warm pass runs beside them.
    val seeding = (0 until spec.clients).map { c =>
      plan.seeded.zipWithIndex.collect { case ((g, owner, t), i) if owner == c =>
        Write(500000L + i, 1, g, t): Request }
    }
    val setupOutcomes = clients.runStreams(seeding ++ plan.warm, Long.MaxValue, Long.MaxValue,
      measured = 0)
    val setupOk = setupOutcomes.forall(_.ok)
    System.err.println("set-up: " + setupOutcomes.map(o =>
      s"op${o.req.op}=${o.latencyNs / 1000000}ms").mkString(" "))

    val gcBefore = gcMillis()
    val startMs = System.currentTimeMillis()
    val setupS = (startMs - jvmStartMs) / 1e3
    val startNs = System.nanoTime()
    val stopNs = startNs + (jvmStartMs + StopStartingAfterS * 1000L - startMs) * 1000000L
    val outcomes = clients.runStreams(plan.timed, startNs + opt.seconds * 1000000000L, stopNs,
      spec.block)
    val gcMs = gcMillis() - gcBefore
    val peakRssMb = peakRssKb() / 1024.0
    // What the program still holds once the requests are done. The second
    // collection frees what Spark's cleaner released after the first.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    System.err.println("timed: " + outcomes.map(o =>
      s"op${o.req.op}/L${o.levels}=${o.latencyNs / 1000000}ms${if (o.ok) "" else "!"}").mkString(" "))
    // Metrics cover each client's first block of requests: the same
    // requests, in the workload's exact mix, in every run.
    val measured = outcomes.filter(_.measured)
    val reads = measured.filter(!_.req.isWrite)
    val writes = measured.filter(_.req.isWrite)
    val failed = outcomes.count(!_.ok)
    // closed loop: each client's request rate over its block, summed
    val requestsPerS = measured.groupBy(_.client).values
      .map(b => b.size / ((b.map(_.endMs).max - startMs) / 1e3)).sum
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val samples = mutable.LinkedHashMap.empty[String, Int]
    val declared = if (opt.traced) PerLayerMetrics else EndToEndMetrics
    def put(name: String, value: Double, unit: String, n: Int): Unit = {
      require(declared.contains(name), s"undeclared metric $name")
      metrics(name) = (value, unit); samples(name) = n
    }
    def medianMs(ns: Seq[Long]): Double = median(ns.map(_ / 1e6))
    def meanMs(ns: Seq[Long]): Double = ns.sum / 1e6 / ns.size

    trace match {
      case None =>
        put("setup_s", setupS, "s", 1)
        put("read_mean_ms", meanMs(reads.map(_.latencyNs)), "ms", reads.size)
        put("write_p50_ms", medianMs(writes.map(_.latencyNs)), "ms", writes.size)
        put("requests_per_s", requestsPerS, "1/s", measured.size)
        put("live_heap_mb", liveHeapMb, "MB", 1)
      case Some(tr) =>
        put("trace.read_mean_ms", meanMs(reads.map(_.latencyNs)), "ms", reads.size)
        put("trace.requests_per_s", requestsPerS, "1/s", measured.size)
        put("model.payload_ms", medianMs(writes.map(_.payloadNs)), "ms", writes.size)
        put("engine.collect_ms", medianMs(reads.map(_.collectNs)), "ms", reads.size)
        put("catalog.write_ms", medianMs(writes.map(_.executeNs)), "ms", writes.size)
        val probes = tr.all.filter(_.span.startsWith("p"))
        def probe(layer: String, name: String) = probes.filter(s => s.layer == layer && s.name == name)
        val loads = probe("catalog", "load")
        put("catalog.load_ms", medianMs(loads.map(_.durNs)), "ms", loads.size)
        val seen = clients.versionsSeen.asScala.toSeq
        put("catalog.versions_per_graph", seen.sum.toDouble / seen.size, "count", seen.size)
        val (files, bytes, versions) = catalogFiles(catalogDir)
        val edges = clients.snapshots.all.map(t => 2L * t.edges.size).sum
        put("catalog.bytes_per_edge", bytes.toDouble / edges, "B", versions)
        put("catalog.files_per_version", files.toDouble / versions, "count", versions)
        for (op <- Seq("bfs", "dfs")) {
          val ps = probe("graphops", op)
          put(s"graphops.${op}_ms", medianMs(ps.map(_.durNs)), "ms", ps.size)
        }
        put("spark.gc_ms", gcMs.toDouble, "ms", 1)
        put("jvm.peak_rss_mb", peakRssMb, "MB", 1)
        spark.stop() // drains the listener queue, so the counters are final
        val counters = tr.listener.totals
        val spans = tr.all.groupBy(_.span)
        def countersOf(o: Outcome) = counters.getOrElse(s"r${o.req.seq}", new SparkCounters)
        def perRead(name: String, unit: String)(f: Outcome => Double): Unit =
          put(name, reads.map(f).sum / reads.size, unit, reads.size)
        perRead("graphops.levels_per_read", "count")(_.levels.toDouble)
        perRead("spark.jobs_per_read", "count")(countersOf(_).jobs.toDouble)
        perRead("spark.stages_per_read", "count")(countersOf(_).stages.toDouble)
        perRead("spark.tasks_per_read", "count")(countersOf(_).tasks.toDouble)
        perRead("spark.shuffle_write_bytes_per_read", "B")(countersOf(_).shuffleWriteBytes.toDouble)
        perRead("spark.task_cpu_ms_per_read", "ms")(countersOf(_).taskCpuNs / 1e6)
        perRead("spark.scheduler_delay_ms_per_read", "ms")(countersOf(_).schedulerDelayMs.toDouble)
        perRead("spark.job_gap_ms_per_read", "ms") { o =>
          val ss = spans(s"r${o.req.seq}")
          val (a, b) = (ss.map(_.startMs).min, ss.map(_.endMs).max)
          (b - a - Trace.coveredMs(countersOf(o).jobIntervals.toSeq, a, b)).toDouble
        }
        put("spark.jobs_per_write",
          writes.map(countersOf(_).jobs).sum.toDouble / writes.size, "count", writes.size)
        put("spark.spill_bytes", counters.values.map(_.spillBytes).sum.toDouble, "B", 1)
        tr.writeJson(opt.work.resolve(s"trace-${opt.workload}-${opt.seed}.json"))
    }
    if (!spark.sparkContext.isStopped) spark.stop()

    require(metrics.keySet == declared.toSet, s"missing ${declared.filterNot(metrics.contains)}")
    println(samples.map { case (k, n) => s""""$k":$n""" }.mkString("""{"samples":{""", ",", "}}"))
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${jsonNumber(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${setupOk && failed == 0},"attempted":${outcomes.size},""" +
      s""""failed":$failed,"metrics":{$metricJson}}""")
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** (parquet files, their bytes, version directories) under a catalog. */
  private def catalogFiles(dir: Path): (Long, Long, Int) = {
    val versions = Files.list(dir).iterator.asScala.filter(Files.isDirectory(_))
      .flatMap(g => Files.list(g).iterator.asScala.filter(Files.isDirectory(_))).toSeq
    val parquet = versions.flatMap(v => Files.list(v).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    (parquet.size.toLong, parquet.map(Files.size).sum, versions.size)
  }
}

/** The client side: turns each request into its `inp.txt` lines, sends the
  * lines through `GraphEngine.executeLine` the way the reference's client
  * and load balancer do, collects the result and checks it.
  */
final class Clients(spark: SparkSession, engine: GraphEngine, catalog: GraphCatalog,
                    trace: Option[Trace]) {
  val snapshots = new Snapshots
  /** Versions of the read graph, as listed before each traced read. */
  val versionsSeen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  private val firstErrors = new java.util.concurrent.atomic.AtomicInteger(0)

  private def timed[T](span: String, layer: String, name: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = trace.fold(body)(_.around(span, layer, name)(body))
    (out, System.nanoTime() - t0)
  }

  def run(req: Request, client: Int): Outcome = {
    val lines = req.scriptLines.iterator
    val line = s"${lines.next()} ${lines.next()} ${lines.next()}"
    val span = s"r${req.seq}"
    val t0 = System.nanoTime()
    try {
      req match {
        case w: Write =>
          val (payload, payloadNs) = timed(span, "model", "payload") {
            GraphPayload(MatrixCodec.edgesDF(spark,
              MatrixCodec.parseMatrixText(lines.mkString("\n"))._2))
          }
          snapshots.begin(w.graph, w.tree)
          val (resp, executeNs) = timed(span, "engine", "execute")(engine.executeLine(line, payload))
          snapshots.commit(w.graph)
          Outcome(req, client, resp.result.isEmpty, System.nanoTime() - t0, payloadNs,
            executeNs, 0L, System.currentTimeMillis())
        case r: Read =>
          val from = snapshots.committedCount(r.graph)
          val (resp, executeNs) = timed(span, "engine", "execute") {
            engine.executeLine(line, StartVertex(lines.next().toLong))
          }
          val (rows, collectNs) = timed(span, "engine", "collect")(resp.result.get.collect())
          val latencyNs = System.nanoTime() - t0
          val endMs = System.currentTimeMillis()
          val seen = snapshots.since(r.graph, from).find(t => matches(r, t, rows))
          if (trace.isDefined) probe(r)
          Outcome(req, client, seen.isDefined, latencyNs, 0L, executeNs, collectNs, endMs,
            seen.fold(0)(Oracle.levels(_, r.start)))
      }
    } catch {
      case e: Exception =>
        if (firstErrors.getAndIncrement() < 5)
          System.err.println(s"request ${req.seq} (op ${req.op} on ${req.graph}) failed: $e")
        Outcome(req, client, ok = false, System.nanoTime() - t0, 0L, 0L, 0L,
          System.currentTimeMillis())
    }
  }

  private def matches(r: Read, t: Tree, rows: Array[Row]): Boolean =
    if (r.op == 4) rows.map(x => (x.getLong(0), x.getLong(1))).toVector == Oracle.bfsLevels(t, r.start)
    else rows.map(_.getLong(0)).toVector == Oracle.leaves(t, r.start)

  /** Traced runs only: time the catalog and GraphOps calls a read makes,
    * called directly, after the request itself.
    */
  private def probe(r: Read): Unit = {
    val tr = trace.get
    val span = s"p${r.seq}"
    versionsSeen.add(catalog.versions(r.graph).size)
    val edges = tr.around(span, "catalog", "load")(catalog.load(r.graph))
    if (r.op == 4) tr.around(span, "graphops", "bfs")(GraphOps.bfsLevels(edges, r.start).collect())
    else tr.around(span, "graphops", "dfs")(GraphOps.dfsLeaves(edges, r.start).collect())
  }

  /** Run one stream per client thread, each on its own FAIR pool, until
    * the deadline and until the client has done its first `measured`
    * requests, which are marked as measured; but start no request after
    * `stopNs` other than a client's first.
    */
  def runStreams(streams: Seq[Vector[Request]], deadlineNs: Long, stopNs: Long,
                 measured: Int): Seq[Outcome] = {
    val results = streams.map(_ => mutable.ArrayBuffer.empty[Outcome])
    val threads = streams.zipWithIndex.map { case (stream, c) =>
      new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
        var i = 0
        while (i < stream.size && (i < measured || System.nanoTime() < deadlineNs) &&
               (i == 0 || System.nanoTime() < stopNs)) {
          results(c) += run(stream(i), c).copy(measured = i < measured)
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.flatten
  }
}
