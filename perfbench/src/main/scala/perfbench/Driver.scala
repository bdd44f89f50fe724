package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession
import graft.vesc._

/** Drives one benchmark run through the program's public entry points and
  * writes what it saw to a JSON result file; `run.py` checks the outputs
  * and turns the result into metrics.
  *
  * {{{
  * Driver --spec <spec.json> --out <result.json> --seconds <s> --trace <0|1>
  * }}}
  *
  * The spec (written by `run.py`) names the generated logs: warm-up inputs,
  * the op inputs cycled by the measured loop, and the op kind (`analyze`
  * calls `VescPipeline.analyze` and collects the timeline; `upload` POSTs a
  * log to the running `App` and waits for the refreshed `/figure`).
  *
  * Set-up (session, bundled scorer assets, `App.start`) runs three times and
  * every duration is reported. The warm-up calls run at once. The measured
  * loop is a closed loop with one client; it starts ops until `seconds`
  * have passed and the spec's `min_ops` have run. With `--trace 1` it runs
  * the same ops untraced for half of both, then (with the Spark listeners
  * attached, in the same, by then warmer, JVM) traced for the other half,
  * then decomposes one analysis layer by layer (each layer's input
  * materialised with an eager `localCheckpoint`) and makes one upload op,
  * so every layer is reported on every workload.
  */
object Driver {

  final case class Env(spark: SparkSession, weights: CnnScorer.CnnWeights,
                       mean: Array[Double], std: Array[Double], app: App.Handles)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit =
    try drive(args)
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep the JVM alive
        e.printStackTrace()
        sys.exit(1)
    }

  private def drive(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = mapper.readTree(new java.io.File(opt("spec")))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(spec.get("work").asText)
    val pollMs = spec.get("poll_ms").asInt

    def setup(i: Int): Env = {
      val spark = GraftSession.getOrCreate("perfbench")
      val (w, m, s) = VescPipeline.bundled(spark)
      val app = App.start(spark, work.resolve(s"app$i/export"), work.resolve(s"app$i/upload"))
      Env(spark, w, m, s, app)
    }
    def teardown(env: Env): Unit = {
      env.app.stop()
      env.spark.stop()
    }

    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var env: Env = null
    for (i <- 1 to 3) {
      if (env != null) teardown(env)
      val t0 = Clock.nowMs()
      env = setup(i)
      setupS += (Clock.nowMs() - t0) / 1000
    }

    val counters = new Counters
    val trace = new Trace(env.spark.sparkContext, traced)
    val run = new Run(env, trace, pollMs)

    def paths(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    val kind = spec.get("kind").asText
    val inputs = spec.get("ops").elements().asScala.map(paths).toIndexedSeq
    val warmups = spec.get("warmup").elements().asScala.map(paths).toSeq

    def op(i: Int, phase: String, tracedOp: Boolean): Unit = {
      val in = inputs(i % inputs.size)
      if (kind == "upload") run.upload(Paths.get(in.head), f"u$i%04d_", phase, tracedOp)
      else run.analyze(in, phase, tracedOp)
    }
    // ops until both `secs` have passed and `minOps` have run, so that a
    // run's median is taken over the same number of ops however fast the
    // host is that minute
    def measure(phase: String, tracedOp: Boolean, minOps: Int, secs: Double): Unit = {
      val t0 = Clock.nowMs()
      val first = run.opCount
      while (run.opCount - first < minOps || (Clock.nowMs() - t0) / 1000 < secs)
        op(run.opCount, phase, tracedOp)
    }

    // warm-up, excluded from the metrics: every warm-up call at once (one
    // analysis keeps about one core busy), so the JIT sees several calls in
    // about the wall time of one. In an upload workload the first is an
    // upload and the others do the work of `App.refresh` on their analysis
    val pool = Executors.newFixedThreadPool(warmups.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = warmups.zipWithIndex.map { case (w, i) =>
        Future {
          if (kind == "upload" && i == 0)
            run.upload(Paths.get(w.head), "warm_", "warmup", traced = false)
          else if (kind == "upload") run.refreshWork(w)
          else run.analyze(w, "warmup", traced = false)
        }
      }
      Await.result(Future.sequence(calls), Duration.Inf)
    } finally pool.shutdown()

    // a traced run splits its time between the untraced and the traced loop
    val minOps = spec.get("min_ops").asInt
    val loopOps = if (traced) (minOps + 1) / 2 else minOps
    val loopSecs = if (traced) seconds / 2 else seconds
    measure("measure", tracedOp = false, loopOps, loopSecs)
    if (traced) {
      // registered only now, so the untraced walls do not carry their cost
      env.spark.sparkContext.addSparkListener(counters)
      env.spark.streams.addListener(counters.streams)
      measure("traced", tracedOp = true, loopOps, loopSecs)
      val probe = paths(spec.get("probe"))
      run.layered(probe)
      if (kind == "upload") run.analyze(probe, "traced", traced = true)
      else run.upload(Paths.get(paths(spec.get("probe_upload")).head), "probe_", "probe",
        traced = true)
    }
    if (spec.has("refs") && spec.get("refs").asBoolean) {
      // each log of the first op analysed alone, for the per-ride comparison
      inputs.head.foreach(p => run.analyze(Seq(p), "ref", traced = false))
    }

    if (traced) awaitListeners(counters)
    val result = Map(
      "setup_s" -> setupS.toSeq,
      "cpus" -> env.spark.sparkContext.defaultParallelism,
      "poll_ms" -> pollMs,
      "ops" -> run.ops.toSeq,
      "spans" -> trace.toJson,
      "counters" -> (if (traced) counters.toJson else Map.empty))
    mapper.writeValue(new java.io.File(opt("out")), result)
    teardown(env)
    sys.exit(0)
  }

  /** Listener events arrive asynchronously: wait until every job seen has
    * also been seen to end, and no new job has appeared for a moment.
    */
  private def awaitListeners(c: Counters): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = (-1, -1)
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = c.jobCounts
      stable = if (now == last && now._1 == now._2) stable + 1 else 0
      last = now
    }
  }

  /** The ops of one run, and the records they leave. */
  final class Run(env: Env, trace: Trace, pollMs: Int) {
    val ops = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    def opCount: Int = ops.size
    private val spark = env.spark
    private var lastBatch = -1L

    private def record(base: Map[String, Any])(body: => Map[String, Any]): Unit = {
      val t0 = Clock.nowMs()
      val fields =
        try body
        catch { case e: Throwable => Map("error" -> e.toString) }
      val t1 = Clock.nowMs()
      ops.synchronized {
        ops += base ++ fields ++ Map("t0_ms" -> t0, "t1_ms" -> t1, "wall_s" -> (t1 - t0) / 1000)
      }
    }

    private def rows(df: DataFrame, collected: Array[Row]): Map[String, Any] =
      Map("columns" -> df.columns.toSeq,
        "rows" -> collected.map(r => r.toSeq.map {
          case f: java.lang.Float => f.doubleValue
          case v => v
        }).toSeq)

    /** What `App.refresh` does with one upload's analysis (the figure, then
      * a count of the timeline), without the upload; a warm-up op.
      */
    def refreshWork(paths: Seq[String]): Unit =
      record(Map("kind" -> "refresh", "phase" -> "warmup", "paths" -> paths)) {
        val df = VescPipeline.analyze(spark, paths, env.weights, env.mean, env.std)
        Map("figure_bytes" -> Export.timelineBarsJson(df).length, "rows_out" -> df.count())
      }

    /** One `VescPipeline.analyze` call, timed until its result is collected.
      * Traced, the call is split into DAG build, planning and execution.
      */
    def analyze(paths: Seq[String], phase: String, traced: Boolean): Unit = {
      val id = ops.size
      record(Map("kind" -> "analyze", "phase" -> phase, "paths" -> paths, "traced" -> traced)) {
        if (!traced) {
          val df = VescPipeline.analyze(spark, paths, env.weights, env.mean, env.std)
          rows(df, df.collect())
        } else trace.span("fused", id) {
          val df = trace.span("plan.build", id) {
            VescPipeline.analyze(spark, paths, env.weights, env.mean, env.std)
          }
          trace.span("plan.optimize", id)(df.queryExecution.executedPlan)
          trace.attr("physical_nodes",
            df.queryExecution.sparkPlan.collectWithSubqueries { case p => p }.size)
          rows(df, trace.span("fused.run", id)(df.collect()))
        }
      }
    }

    /** The analysis decomposed into its layers, each called through its
      * public function on the previous layer's materialised output.
      */
    def layered(paths: Seq[String]): Unit = {
      val id = ops.size
      def ck(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
      record(Map("kind" -> "analyze", "phase" -> "layered", "paths" -> paths, "traced" -> true)) {
        trace.span("layers", id) {
          val raw = trace.span("ingest", id)(ck(RawLogReader.readProd(spark, paths)))
          val grid = trace.span("resample", id)(ck(Resampler.prodResample(raw)))
          val win = trace.span("window", id)(ck(WindowAssembler.assemble(grid)))
          val scored = trace.span("score", id)(
            ck(CnnScorer.score(win, env.weights, env.mean, env.std)))
          val timeline = trace.span("postprocess", id)(ck(Postprocess.displayTimeline(scored)))
          val figure = trace.span("export", id)(Export.timelineBarsJson(timeline))
          val (rowsOut, windowsOut, perRide) = trace.span("count", id) {
            (raw.count(), win.count(),
              grid.groupBy("ride_id").count().collect().map(_.getLong(1)))
          }
          trace.attr("rows_out", rowsOut)
          trace.attr("windows_out", windowsOut)
          trace.attr("ride_grid_rows", perRide.toSeq)
          trace.attr("figure_bytes", figure.getBytes(StandardCharsets.UTF_8).length)
          rows(timeline, trace.span("count", id)(timeline.collect()))
        }
      }
    }

    /** POST one log to the running App under a fresh name, poll
      * `last_refresh.json` until the batch id advances, then GET `/figure`.
      */
    def upload(path: Path, prefix: String, phase: String, traced: Boolean): Unit = {
      val id = ops.size
      val name = prefix + path.getFileName.toString
      val body = Files.readAllBytes(path)
      val port = env.app.port
      record(Map("kind" -> "upload", "phase" -> phase, "paths" -> Seq(path.toString),
        "traced" -> traced, "name" -> name, "poll_ms" -> pollMs)) {
        val t = if (traced) trace else new Trace(spark.sparkContext, false)
        t.span("upload", id) {
          val t0 = Clock.nowMs()
          val (code, resp) = t.span("serve.post", id)(
            http(port, "POST", "/upload?name=" + URLEncoder.encode(name, "UTF-8"), body))
          require(code == 200, s"upload refused: $code $resp")
          val ack = Clock.nowMs()
          val refresh = t.span("wait", id) {
            val deadline = System.nanoTime() + 120L * 1000000000L
            var seen: Option[String] = None
            while (seen.isEmpty) {
              require(System.nanoTime() < deadline, "no refresh within 120 s")
              Thread.sleep(pollMs)
              val (c, text) = http(port, "GET", "/files/last_refresh.json")
              val batch = if (c == 200) """"batch":(\d+)""".r.findFirstMatchIn(text)
                .map(_.group(1).toLong) else None
              if (batch.exists(_ > lastBatch)) { lastBatch = batch.get; seen = Some(text) }
            }
            seen.get
          }
          val g0 = Clock.nowMs()
          val (fc, figure) = t.span("serve.figure_get", id)(http(port, "GET", "/figure"))
          require(fc == 200, s"figure: $fc")
          val t1 = Clock.nowMs()
          Map("figure" -> figure, "refresh" -> refresh, "ack_ms" -> ack,
            "post_s" -> (ack - t0) / 1000, "get_s" -> (t1 - g0) / 1000)
        }
      }
    }
  }

  private def http(port: Int, method: String, path: String,
                   body: Array[Byte] = null): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.setFixedLengthStreamingMode(body.length)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text =
      if (stream == null) "" else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    (code, text)
  }
}
