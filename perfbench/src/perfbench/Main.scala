package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** State shared by a workload and [[Main]]: the session, the tracer,
  * and every sample, count and check the run reports. Samples are keyed
  * by pass: `setup`, `run` (an untraced run), `untraced` / `traced` (the
  * parts of a traced run), `probe` (the traced run's layer steps timed on
  * their own) or `finish`.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String, val out: String) {
  val tracer = new Tracer
  val streams = new StreamProgress
  var pass = "run"
  var counters: Option[EngineCounters] = None
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(s"$pass/$name", mutable.ArrayBuffer.empty) += v

  def put(name: String, v: Any): Unit = counts(name) = v

  /** Accumulate a per-pass count: a pass may run in several parts. */
  def add(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0).asInstanceOf[Double] + v

  def append(name: String, v: Any): Unit =
    counts(name) = counts.getOrElse(name, Vector.empty[Any]).asInstanceOf[Vector[Any]] :+ v

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** One attempted operation; a throw counts as failed, not as fatal. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    tracer.request = attempted
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 5) { // the first few; a broken operation may fail on every call
          errors += e.toString
          System.err.println(s"[perfbench] operation failed: $e")
        }
        None
    }
  }

  def manifest: JsonNode = Main.json.readTree(Paths.get(data, "manifest.json").toFile)

  def parquetFiles(dir: String): Seq[String] =
    Files.list(Paths.get(data, dir)).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq

  private var landedMs = 0L

  /** Atomically publish an input file into a watched directory, stamped
    * later than every file landed before it: a file source replays a
    * backlog in modification-time order, and files landed within one
    * millisecond would otherwise tie.
    */
  def land(file: String, dir: String): Unit = {
    val name = Paths.get(file).getFileName.toString
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
    landedMs = math.max(System.currentTimeMillis(), landedMs + 1)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(landedMs))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  def mkdirs(dir: String): String = { Files.createDirectories(Paths.get(dir)); dir }
}

abstract class Workload(val ctx: Ctx) {
  /** Set-up: warm-up and pre-state build, timed into setup_s. */
  def setup(): Unit

  /** Closed loop until `deadlineNs`; may be called again to continue. */
  def loop(deadlineNs: Long): Unit

  /** Traced runs only: each layer's public steps timed on their own. */
  def probe(): Unit = ()

  /** Untimed: stop streams, dump outputs and run in-process checks. */
  def finish(): Unit
}

object Main {
  /** Reads the manifests and writes the result, span and answer files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** The pinned calibration job of graft.Bench, re-implemented here:
    * a fixed CPU and shuffle bound group-by whose cost does not depend
    * on the code under test. Minimum of three timed samples.
    */
  def calibrate(spark: SparkSession): Double = {
    def once() = {
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v").count()
      secondsSince(t0)
    }
    once()
    Seq.fill(3)(once()).min
  }

  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val cpus = Runtime.getRuntime.availableProcessors.toString

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(defaultCpus = cpus)
      .appName(s"perfbench-$workload")
      .config("spark.sql.warehouse.dir", Paths.get(opt("work"), "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)

    val ctx = new Ctx(spark, opt("data"), opt("work"), out)
    spark.streams.addListener(ctx.streams)
    val wl: Workload = workload match {
      case "weather_ingest" => new WeatherIngest(ctx)
      case "weather_serve" => new WeatherServe(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case "ann_serve" => new AnnServe(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.pass = "setup"
    ctx.streams.pass = "setup"
    val t1 = System.nanoTime()
    wl.setup()
    val setupS = secondsSince(t1)

    val passes = mutable.LinkedHashMap.empty[String, Double]
    def runPass(name: String, secs: Double): Unit = {
      Thread.sleep(300) // let the listener bus deliver the previous pass's events
      ctx.pass = name
      ctx.streams.pass = name
      val t = System.nanoTime()
      wl.loop(t + (secs * 1e9).toLong)
      passes(s"$name${passes.size}") = secondsSince(t)
    }
    var engine = Map.empty[String, Any]
    if (!trace) runPass("run", seconds)
    else {
      // untraced, traced, untraced: a warm-up trend over the run cancels
      // out of the traced-minus-untraced overhead
      runPass("untraced", seconds / 4)
      val c = new EngineCounters
      ctx.counters = Some(c)
      Engine.register(spark, c)
      val gc0 = Engine.gcMs
      ctx.tracer.on = true
      runPass("traced", seconds / 2)
      ctx.tracer.on = false
      val gcMs = Engine.gcMs - gc0
      Thread.sleep(500) // let the listener bus deliver the pass's last events
      engine = Map(
        "jvm_gc_ms" -> gcMs.toDouble,
        "jobs" -> c.jobsByGroup.values.sum,
        "jobs_by_group" -> c.jobsByGroup.toMap,
        "stages" -> c.stages.size,
        "tasks" -> c.stages.map(_.tasks).sum,
        "shuffle_write_bytes" -> c.stages.map(_.shuffleWrite).sum,
        "spill_bytes" -> c.stages.map(_.spill).sum,
        "task_skew" -> c.taskSkew,
        "failed_queries" -> c.failedQueries)
      Engine.unregister(spark, c)
      runPass("untraced", seconds / 4)
      Engine.register(spark, c)
      c.phase = "probe"
      ctx.pass = "probe"
      wl.probe()
      Thread.sleep(500)
      Engine.unregister(spark, c)
      engine += "queries" -> c.queries.asScala.toSeq.map { q =>
          Map("func" -> q.func, "phase" -> q.phase, "plan_ms" -> q.planMs, "exec_ms" -> q.execMs,
            "files" -> q.scan.files, "rows" -> q.scan.rows, "partitions" -> q.scan.partitions)
        }
      ctx.tracer.writeJsonl(s"$out/spans.jsonl")
    }
    ctx.pass = "finish"
    try wl.finish()
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        ctx.check("finish", ok = false, e.toString)
    }
    val calibration = calibrate(spark)
    Thread.sleep(300)
    val progress = ctx.streams.all.map { p =>
      Map("query" -> p.queryId, "source" -> p.source, "pass" -> p.pass, "ms" -> p.durations)
    }
    val result = collection.immutable.ListMap(
      "workload" -> workload,
      "seed" -> opt("seed"),
      "trace" -> trace,
      "nproc" -> cpus.toInt,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_s" -> sessionS,
      "setup_s" -> (sessionS + setupS),
      "passes_s" -> passes,
      "calibration_s" -> calibration,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "errors" -> ctx.errors,
      "samples" -> ctx.samples,
      "counts" -> ctx.counts,
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "stream_progress" -> progress,
      "engine" -> engine)
    json.writeValue(Paths.get(out, "result.json").toFile, result)
    spark.stop()
  }
}
