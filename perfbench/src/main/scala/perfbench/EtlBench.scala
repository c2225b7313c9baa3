package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Paths
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Cli
import graft.etl.{LoadStage, Pipeline, Transform}
import graft.queries.KfShaped
import graft.sinks.{HttpUpsertSink, IdCache}

/** End-to-end benchmark of the FHIR ETL: one op is one ETL invocation,
  * from `Cli.extract` until the output is promoted (parquet) or every
  * upsert is acknowledged (HTTP). Ops run one after another from a single
  * client (a closed loop) on `local[nproc]`.
  *
  * Usage: perfbench.EtlBench --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --result FILE --digests FILE
  *
  * Set-up (timed as `setup_s`): start the session and stage the KF-shaped
  * endpoints and the Indexd dimension as parquet. There is no warm-up op:
  * the ETL runs as one process per study invocation, so every invocation
  * pays for its first plans, generated code and JIT, and the first op
  * after set-up is the one a user waits for. Ops run while the next one is
  * expected to end within `--seconds` (at least one). Every op's output is
  * checked after the timed window; its digest must also equal the one kept
  * in `--digests` for the same workload, seed and study, by any earlier op
  * of the same build. With `--trace 1` every op records call spans and
  * engine counters, the per-layer figures are op 1's, and a breakdown pass
  * then times each builder on its own; `trace.op_s` is op 1's wall time,
  * which run.py compares with untraced runs for the tracing overhead.
  */
object EtlBench {

  final case class Workload(name: String, sf: Double, http: Boolean)

  val Workloads: Map[String, Workload] = Seq(
    // one study per op, in seed order, written to parquet: the reference's
    // `fhir-etl SD_X` pattern, where analysis, planning, codegen and job
    // scheduling outweigh the data work
    Workload("per_study", 0.002, http = false),
    // one seed-picked study through LoadStage: id-cache resolution and one
    // HTTP upsert per resource; the parquet sink is not used
    Workload("load_http", 0.0002, http = true)
  ).map(w => w.name -> w).toMap

  val CenterNames = Map("SC_1" -> "Center One", "SC_2" -> "Center Two")
  val mapper = new ObjectMapper()
  val OpDeadlineS = 100.0

  final case class OpResult(index: Int, study: String, wallS: Double,
      cpuS: Double, heapMb: Double, resources: Long, outputBytes: Long,
      error: Option[String], layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(args("workload"),
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))
    val bench = new EtlBench(workload, args("seed").toLong, args("seconds").toDouble,
      args("trace") == "1", args("work"), args("digests"))
    val result = try bench.run() finally bench.close()
    mapper.writeValue(Paths.get(args("result")).toFile, result)
  }
}

final class EtlBench(w: EtlBench.Workload, seed: Long, seconds: Double, trace: Boolean,
    work: String, digestStore: String) {
  import EtlBench._

  private val cpus = Runtime.getRuntime.availableProcessors
  private val tpchDir = s"$work/tpch"
  private val endpointsDir = s"$work/endpoints"
  private val indexdPath = s"$work/indexd.parquet"
  private val tracer = new Tracer
  private val opThread = Executors.newSingleThreadExecutor((r: Runnable) => {
    val t = new Thread(r, "etl-op")
    t.setDaemon(true)
    t
  })

  HeapMonitor.install()
  private val sessionStart = System.nanoTime()
  // local[nproc] with the engine settings graft.Bench measured for the ETL
  private val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = (System.nanoTime() - sessionStart) / 1e9
  private val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val stub = if (w.http) Some(new StubFhirServer(cpus, seed)) else None
  private lazy val http = HttpClient.newHttpClient()

  // the seed orders the studies: per_study visits them in this order, and
  // load_http loads the first
  private val studyOrder: Seq[String] =
    new scala.util.Random(seed).shuffle((0 until 5).toList).map(i => s"SD_$i")
  private def studyFor(index: Int): String =
    if (w.http) studyOrder.head else studyOrder(index % studyOrder.size)

  /** Per-op counts taken at the HTTP sink and in the id cache's fetch. */
  private final class HttpStats {
    val ackedByBuilder = mutable.LinkedHashMap.empty[String, Long]
    var nullKeys = 0L
    var missKeys = 0L
    var fetchCalls = 0L
    var server: StubFhirServer.Counts = _
  }
  private val httpStats = mutable.Map.empty[Int, HttpStats]
  private val jsonBytes = mutable.Map.empty[Int, Long]
  private val digests = mutable.Map.empty[Int, Long]

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - sessionStart) / 1e9}%8.2f s  $msg")

  def close(): Unit = {
    stub.foreach(_.stop())
    spark.stop()
    opThread.shutdownNow()
    opThread.awaitTermination(30, TimeUnit.SECONDS)
  }

  def run(): java.util.Map[String, Any] = {
    log(f"session started in $sessionS%.2f s")
    TpchGen.write(spark, tpchDir, w.sf, seed)
    val (_, stagingS) = timed(stage())
    log(f"staged inputs at sf ${w.sf} in $stagingS%.2f s")
    val setupS = sessionS + stagingS

    val ops = mutable.ArrayBuffer.empty[OpResult]
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    while (ops.isEmpty || (ops.last.error.isEmpty && elapsed + ops.last.wallS <= seconds)) {
      ops += runOp(ops.size, traced = trace)
      // a missed deadline leaves jobs cancelled mid-flight; stop measuring
      if (ops.last.error.exists(_.startsWith("deadline"))) {
        return report(setupS, ops.toSeq, Map.empty)
      }
    }

    val expected = mutable.Map.empty[String, Map[String, Long]]
    val known = readDigests()
    val checked = ops.toSeq.map { op =>
      if (op.error.nonEmpty) op
      else {
        val want = expected.getOrElseUpdate(op.study,
          TpchGen.expectedCounts(spark, tpchDir, Seq(op.study.stripPrefix("SD_").toInt)))
        val problem = (if (w.http) checkHttp(op, want) else checkParquet(op, want)).orElse {
          val d = digests(op.index)
          if (known.getOrElseUpdate(s"${w.name}/seed$seed/${op.study}", d) == d) None
          else Some("output digest differs from an earlier op over the same inputs")
        }
        op.copy(error = problem.map(p => s"check: $p"))
      }
    }
    mapper.writeValue(new java.io.File(digestStore), known.asJava)
    log("checked every op")
    val once = if (trace) traceOnlyLayers() else Map.empty[String, Double]
    report(setupS, checked, once)
  }

  // ------------------------------------------------------------ staging

  /** Writes every KF-shaped endpoint as `<endpoint>.parquet` and the
    * Indexd dimension as `indexd.parquet` (a name Spark does not skip as
    * hidden), so the ETL reads real files.
    */
  private def stage(): Unit =
    Parallel.writeParquet(KfShaped.endpoints(spark, tpchDir).toSeq.map {
      case (name, df) => s"$endpointsDir/$name.parquet" -> df
    } :+ (indexdPath -> KfShaped.indexd(spark, tpchDir)))

  // ------------------------------------------------------------ ops

  private def opDir(kind: String, index: Int) = s"$work/$kind/op${index + 1}"

  /** One op under a deadline; a failure or a missed deadline is recorded,
    * not thrown.
    */
  private def runOp(index: Int, traced: Boolean): OpResult = {
    val study = studyFor(index)
    stub.foreach(_.reset())
    val collector = if (traced) Some(new SparkCollector(spark)) else None
    collector.foreach(_.attach())
    tracer.enabled = traced
    tracer.startOp(index)
    val cpu0 = ProcessCpu.seconds
    HeapMonitor.begin()
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val future = opThread.submit(new Callable[(Long, Int)] {
      override def call(): (Long, Int) =
        tracer.span("op")(if (w.http) httpOp(study, index) else parquetOp(study, index))
    })
    val outcome: Either[String, (Long, Int)] =
      try Right(future.get((OpDeadlineS * 1000).toLong, TimeUnit.MILLISECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          future.cancel(true)
          Left(s"deadline: op ran over $OpDeadlineS s")
        case e: java.util.concurrent.ExecutionException =>
          Left(s"${e.getCause.getClass.getSimpleName}: ${e.getCause.getMessage}")
      }
    val wallS = (System.nanoTime() - start) / 1e9
    val endMs = System.currentTimeMillis()
    val cpuS = ProcessCpu.seconds - cpu0
    val heapMb = HeapMonitor.peakMb
    tracer.enabled = false
    log(f"op ${index + 1} ($study${if (traced) ", traced" else ""}): $wallS%.2f s, " +
      outcome.fold(identity, _ => "ok"))
    val engine = collector.map(_.detach(startMs, endMs)).getOrElse(Map.empty)
    val (resources, steps) = outcome.getOrElse((0L, 0))
    val bytes = if (outcome.isLeft) 0L
      else if (w.http) httpStats(index).server.bodyBytes
      else dataFiles(opDir("out", index)).map(_.getLen).sum
    val layers = if (!traced || outcome.isLeft) Map.empty[String, Double]
      else engine ++ spanLayers(index) ++ sinkLayers(index, resources) +
        ("transform.steps" -> steps.toDouble)
    OpResult(index, study, wallS, cpuS, heapMb, resources, bytes,
      outcome.left.toOption, layers)
  }

  /** Extract → transform → 16 builders → observed staged write and promote.
    * Returns (resources, transform steps).
    */
  private def parquetOp(study: String, index: Int): (Long, Int) = {
    val endpoints = tracer.span("extract")(Cli.extract(spark, endpointsDir, Seq(study)))
    val result = tracer.span("transform")(Transform(endpoints))
    val indexd = spark.read.parquet(indexdPath)
    val resources = tracer.span("documents.build")(
      Pipeline.buildAllUnion(result, Some(indexd), CenterNames))
    val out = opDir("out", index)
    val metrics = tracer.span("sinks.parquet.write")(Cli.writeObserved(resources, out))
    (metrics("n_resources"), result.steps.size)
  }

  /** Extract → transform → LoadStage with a fresh id cache, whose misses
    * the stub's bulk lookup resolves, upserting over HTTP to the stub.
    * Returns (acknowledged resources, transform steps).
    */
  private def httpOp(study: String, index: Int): (Long, Int) = {
    val server = stub.get
    val stats = new HttpStats
    httpStats(index) = stats
    val endpoints = tracer.span("extract")(Cli.extract(spark, endpointsDir, Seq(study)))
    val result = tracer.span("transform")(Transform(endpoints))
    val indexd = spark.read.parquet(indexdPath)
    val config = HttpUpsertSink.Config(server.baseUrl)
    tracer.span("load")(LoadStage.run(result,
      submit = (builder, docs) => tracer.span("load.submit") {
        val before = server.counts().acked
        val (_, failed) = HttpUpsertSink.upsert(docs, config, idCol = "resolved_id")
        require(failed == 0, s"$failed $builder upserts failed")
        stats.ackedByBuilder(builder) = server.counts().acked - before
      },
      cache = Some(new IdCache(spark, opDir("idcache", index))),
      fetch = (entityClass, miss) =>
        tracer.span("idcache.fetch")(fetch(server, stats, entityClass, miss)),
      indexd = Some(indexd), centerNames = CenterNames))
    stats.server = server.counts()
    (stats.server.acked, result.steps.size)
  }

  /** The id cache's fetch callback: one bulk lookup of the missed keys. The
    * cache is fresh every op, so the misses are every distinct key of the
    * class, and a null key shows here.
    */
  private def fetch(server: StubFhirServer, stats: HttpStats, entityClass: String,
      miss: DataFrame): DataFrame = {
    import spark.implicits._
    val keys = miss.collect().map(_.getString(0))
    stats.nullKeys += keys.count(_ == null)
    stats.missKeys += keys.length
    stats.fetchCalls += 1
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${server.baseUrl}/$$resolve/$entityClass"))
        .POST(HttpRequest.BodyPublishers.ofString(keys.filter(_ != null).mkString("\n")))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode == 200, s"bulk lookup answered ${resp.statusCode}")
    resp.body.split('\n').filter(_.nonEmpty).map { line =>
      val Array(k, id) = line.split('\t')
      (k, id)
    }.toSeq.toDF("key", "resolved_id")
  }

  // ------------------------------------------------------------ checks

  /** Per-builder counts equal the TPC-H-derived ones and there are no null
    * keys. Records the digest of (resource_type, key, resource_json).
    */
  private def checkParquet(op: OpResult, expected: Map[String, Long]): Option[String] = {
    val out = opDir("out", op.index)
    val rows = spark.read.parquet(out).groupBy("builder").agg(
      count(lit(1)),
      sum(when(col("key").isNull, 1L).otherwise(0L)),
      sum(xxhash64(col("resource_type"), col("key"), col("resource_json")).cast("decimal(38,0)")),
      sum(octet_length(col("resource_json")))).collect()
    fs.delete(new Path(out), true)
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val nullKeys = rows.map(_.getLong(2)).sum
    digests(op.index) = rows.map(r => BigInt(r.getDecimal(3).toBigInteger)).sum.toLong
    jsonBytes(op.index) = rows.map(_.getLong(4)).sum
    if (nullKeys != 0) Some(s"$nullKeys null keys")
    else if (counts != expected) Some(s"resources per builder: ${diff(counts, expected)}")
    else None
  }

  /** Every upsert answered 2xx, per-builder acknowledgements equal the
    * TPC-H-derived counts and there are no null keys. Records the digest of
    * the acknowledged (resource type, body) pairs.
    */
  private def checkHttp(op: OpResult, expected: Map[String, Long]): Option[String] = {
    val s = httpStats(op.index)
    digests(op.index) = s.server.digest
    if (s.server.non2xx != 0) Some(s"${s.server.non2xx} non-2xx upserts")
    else if (s.nullKeys != 0) Some(s"${s.nullKeys} null keys")
    else if (s.ackedByBuilder.toMap != expected)
      Some(s"acknowledged per builder: ${diff(s.ackedByBuilder.toMap, expected)}")
    else None
  }

  private def diff(got: Map[String, Long], want: Map[String, Long]): String =
    (got.keySet ++ want.keySet).toSeq.sorted
      .filter(k => got.get(k) != want.get(k))
      .map(k => s"$k=${got.getOrElse(k, 0L)} (expected ${want.getOrElse(k, 0L)})")
      .mkString(", ")

  // ------------------------------------------------------------ layers

  private def spanLayers(index: Int): Map[String, Double] = {
    def s(name: String) = tracer.seconds(index, name)
    Map(
      "extract.call_s" -> s("extract"),
      "transform.call_s" -> s("transform"),
      "documents.build_call_s" -> s("documents.build"),
      "sinks.parquet.write_s" -> s("sinks.parquet.write"),
      "load.submit_s" -> s("load.submit"),
      "load.pre_submit_s" -> (s("load") - s("load.submit")),
      "idcache.fetch_s" -> s("idcache.fetch"))
  }

  /** Sink-side counters of an op, read right after it. */
  private def sinkLayers(index: Int, resources: Long): Map[String, Double] =
    if (w.http) {
      val st = httpStats(index)
      val c = st.server
      val submitS = tracer.seconds(index, "load.submit")
      Map(
        "idcache.fetch_calls" -> st.fetchCalls.toDouble,
        "idcache.miss_keys" -> st.missKeys.toDouble,
        "idcache.store_files" -> dataFiles(opDir("idcache", index)).size.toDouble,
        "http.requests" -> c.requests.toDouble,
        "http.put" -> c.puts.toDouble,
        "http.post" -> c.posts.toDouble,
        "http.non2xx" -> c.non2xx.toDouble,
        "http.requests_per_resource" -> c.requests.toDouble / math.max(1L, resources),
        "http.req_per_s" -> (if (submitS > 0) c.requests / submitS else 0.0),
        "http.max_inflight" -> c.maxInflight.toDouble,
        "http.server_busy_s" -> c.busyS,
        "http.body_bytes" -> c.bodyBytes.toDouble,
        "documents.json_bytes" -> c.bodyBytes.toDouble)
    } else {
      val files = dataFiles(opDir("out", index))
      Map("sinks.parquet.bytes" -> files.map(_.getLen).sum.toDouble,
        "sinks.parquet.files" -> files.size.toDouble)
    }

  /** Layers measured once per traced run, after the op loop: extract's
    * selectivity, and the builder breakdown — each `buildAll` frame written
    * to `noop` on its own.
    */
  private def traceOnlyLayers(): Map[String, Double] = {
    val kept = Cli.extract(spark, endpointsDir, Seq(studyFor(0)))
    val rowsIn = Cli.EndpointNames.map(n => spark.read.parquet(s"$endpointsDir/$n.parquet").count())
      .sum.toDouble
    val rowsKept = kept.values.map(_.count()).sum.toDouble
    val inputBytes = Cli.EndpointNames.flatMap(n => dataFiles(s"$endpointsDir/$n.parquet"))
      .map(_.getLen).sum.toDouble
    val (parts, buildS) = timed(Pipeline.buildAll(Transform(kept),
      Some(spark.read.parquet(indexdPath)), CenterNames))
    val perBuilder = parts.flatMap { case (name, df) =>
      val obs = Observation()
      val (_, execS) = timed(df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
      val rows = obs.get.getOrElse("n", 0L).asInstanceOf[Long]
      Seq(s"documents.$name.exec_s" -> execS, s"documents.$name.rows" -> rows.toDouble)
    }
    log("builder breakdown done")
    val absent = Transform.AllTargets.flatMap(n =>
      Seq(s"documents.$n.exec_s" -> 0.0, s"documents.$n.rows" -> 0.0))
    (absent ++ perBuilder).toMap ++ Map(
      "extract.rows_in" -> rowsIn,
      "extract.rows_kept" -> rowsKept,
      "extract.keep_ratio" -> rowsKept / rowsIn,
      "extract.input_bytes" -> inputBytes,
      "documents.breakdown_build_call_s" -> buildS)
  }

  // ------------------------------------------------------------ report

  private def report(setupS: Double, ops: Seq[OpResult],
      once: Map[String, Double]): java.util.Map[String, Any] = {
    val ok = ops.filter(_.error.isEmpty)
    val metrics = new java.util.LinkedHashMap[String, Any]()
    def put(name: String, value: Double, unit: String): Unit =
      metrics.put(name, Map("value" -> value, "unit" -> unit).asJava)

    if (!trace) {
      put("op_s", median(ok.map(_.wallS)), "s")
      put("resources_per_s", ok.map(_.resources).sum / ops.map(_.wallS).sum, "1/s")
      put("cpu_s_per_op", median(ok.map(_.cpuS)), "s")
      put("heap_live_peak_mb", median(ok.map(_.heapMb)), "MB")
      put("output_bytes_per_resource",
        median(ok.map(o => o.outputBytes.toDouble / math.max(1L, o.resources))), "B")
      put("ok_ratio", ok.size.toDouble / ops.size, "ratio")
      put("setup_s", setupS, "s")
    } else {
      val first = ok.find(_.index == 0)
      def layer(n: String) = first.flatMap(_.layers.get(n)).getOrElse(0.0)
      PerOpLayers.foreach(n => put(n, layer(n), unitOf(n)))
      put("documents.json_bytes", if (w.http) layer("documents.json_bytes")
        else first.flatMap(o => jsonBytes.get(o.index)).getOrElse(0L).toDouble, "B")
      once.keys.toSeq.sorted.foreach(n => put(n, once(n), unitOf(n)))
      put("trace.op_s", first.map(_.wallS).getOrElse(0.0), "s")
    }

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", ops.forall(_.error.isEmpty))
    result.put("attempted", ops.size)
    result.put("failed", ops.count(_.error.nonEmpty))
    result.put("metrics", metrics)
    result.put("op_s_samples", ok.map(_.wallS).asJava)
    result.put("errors", ops.filter(_.error.nonEmpty)
      .map(o => s"op ${o.index + 1} (${o.study}): ${o.error.get}").asJava)
    result.put("spans", tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
      "op" -> (s.op + 1)).asJava).asJava)
    result
  }

  /** Per-op layer metrics; a workload without the layer reports 0 (no HTTP
    * sink on per_study, no parquet sink on load_http).
    */
  private val PerOpLayers = Seq(
    "extract.call_s", "transform.call_s", "transform.steps", "documents.build_call_s",
    "sinks.parquet.write_s", "sinks.parquet.bytes", "sinks.parquet.files",
    "load.submit_s", "load.pre_submit_s",
    "idcache.fetch_calls", "idcache.miss_keys", "idcache.fetch_s", "idcache.store_files",
    "http.requests", "http.put", "http.post", "http.non2xx", "http.requests_per_resource",
    "http.req_per_s", "http.max_inflight", "http.server_busy_s", "http.body_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.analysis_ms", "spark.optimization_ms",
    "spark.planning_ms", "spark.codegen_compiles", "spark.codegen_compile_ms",
    "spark.driver_only_s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_mb", "plan.sort_merge_joins", "plan.broadcast_joins",
    "plan.sort_aggregates", "plan.sorts", "plan.exchanges", "plan.reused_exchanges")

  private def unitOf(name: String): String = name match {
    case "http.req_per_s" => "1/s"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("bytes") => "B"
    case n if n.endsWith("_ratio") || n.endsWith("_per_resource") => "ratio"
    case _ => "count"
  }

  // ------------------------------------------------------------ helpers

  /** Output digests kept by earlier runs of this build, by workload/seed/study. */
  private def readDigests(): mutable.Map[String, Long] = {
    val f = new java.io.File(digestStore)
    val kept = if (!f.exists()) Map.empty[String, Long]
      else mapper.readValue(f, classOf[java.util.Map[String, Number]]).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
    mutable.Map(kept.toSeq: _*)
  }

  private def timed[T](body: => T): (T, Double) = {
    val start = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - start) / 1e9)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Data files (no markers or checksums) under `dir`, recursively. */
  private def dataFiles(dir: String): Seq[LocatedFileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val buf = mutable.ArrayBuffer.empty[LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) buf += f
      }
      buf.toSeq
    }
  }
}
