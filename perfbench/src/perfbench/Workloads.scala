package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, VectorOps}
import graft.ops.{Corpus, Curation, Ingest, Similarity, StationQueries, TextAnalysis, TextDedup, TrainingPrep}
import graft.sources.{ResultCache, SnapshotTable}
import graft.streaming.{EmbeddingStream, EventStream}

object Layers {
  val Streaming = "streaming"
  val Ingest = "ops.Ingest"
  val Snapshot = "sources.SnapshotTable"
  val Cache = "sources.ResultCache"
  val Station = "ops.StationQueries"
  val TextAnalysis = "ops.TextAnalysis"
  val TextDedup = "ops.TextDedup"
  val Corpus = "ops.Corpus"
  val Curation = "ops.Curation"
  val TrainingPrep = "ops.TrainingPrep"
  val Functions = "functions"
  val Similarity = "ops.Similarity"
  val Spark = "spark"
  val Bench = "bench"
}

object Util {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Bytes of all regular files under `dir`. */
  def bytesUnder(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def filesUnder(dir: String, suffix: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else Files.walk(Paths.get(dir)).iterator.asScala
      .count(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)).toLong
}

import Util._

// ── weather_ingest ───────────────────────────────────────────────────

/** Event batches land one at a time in a file-stream source; the
  * upsert stream (validate → keep-last SnapshotTable commit, partitioned
  * by day) and the DLQ stream over the same source both drain each
  * batch before the next one lands.
  */
final class WeatherIngest(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val batches = parquetFiles("batches")
  private val warm = parquetFiles("warm")
  private var next = 0
  private var main: Pipe = _

  final class Pipe(root: String) {
    val src = mkdirs(s"$root/src")
    val table = s"$root/table"
    val dlq = s"$root/dlq"
    private val published = new ConcurrentHashMap[Long, Long]()
    SnapshotTable.onCommit(table)((_, v) => published.put(v, System.nanoTime()))
    val upsert = span(Layers.Streaming, "EventStream.upsertSinkSnapshot") {
      EventStream.upsertSinkSnapshot(spark, EventStream.source(spark, src), table, s"$root/ck-table")
    }
    val dlqStream = span(Layers.Ingest, "Ingest.dlq") {
      Ingest.dlq(EventStream.source(spark, src))
        .writeStream.format("parquet").option("checkpointLocation", s"$root/ck-dlq").start(dlq)
    }
    var commits = 0L

    /** Land one batch and wait for both streams: (commit ms, total ms). */
    def push(file: String): (Double, Double) = {
      val t0 = System.nanoTime()
      span(Layers.Bench, "land_file")(land(file, src))
      span(Layers.Streaming, "upsert.processAllAvailable")(upsert.processAllAvailable())
      span(Layers.Streaming, "dlq.processAllAvailable")(dlqStream.processAllAvailable())
      val total = ms(t0)
      commits += 1
      val pub = Option(published.get(commits)).getOrElse(
        throw new IllegalStateException(s"batch $file drained but version $commits not published"))
      ((pub - t0) / 1e6, total)
    }

    def stop(): Unit = {
      upsert.stop()
      dlqStream.stop()
      SnapshotTable.clearCommitHooks(table)
    }
  }

  def setup(): Unit = {
    val p = new Pipe(s"$work/warm")
    warm.foreach(p.push)
    p.stop()
  }

  def loop(deadlineNs: Long): Unit = {
    if (main == null) main = new Pipe(s"$work/main")
    val t0 = System.nanoTime()
    while (System.nanoTime() < deadlineNs && next < batches.size) {
      append(s"${pass}_batches", next)
      next += 1
      op(main.push(batches(next - 1))).foreach { case (commit, total) =>
        sample("commit_ms", commit)
        sample("batch_ms", total)
      }
    }
    add(s"${pass}_wall_s", ms(t0) / 1000)
  }

  def finish(): Unit = {
    main.stop()
    put("batches_delivered", next)
    put("dlq_dir", main.dlq)
    val table = SnapshotTable.read(spark, main.table)
    table.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"), col("props"))
      .write.parquet(s"$out/final_table")
    val versions = SnapshotTable.versions(spark, main.table)
    check("one_version_per_batch", versions.size == next, s"versions=${versions.size} batches=$next")
    put("snapshot.bytes_written", bytesUnder(main.table))
    put("snapshot.input_bytes", batches.take(next).map(f => Files.size(Paths.get(f))).sum)
    put("stream.upsert_run_id", main.upsert.runId.toString)
    put("stream.upsert_id", main.upsert.id.toString)
    put("stream.dlq_id", main.dlqStream.id.toString)
    // partitions each commit rewrote: entries of version v not in v-1
    if (counters.nonEmpty) {
      def parts(v: Long) = SnapshotTable.manifest(spark, main.table, v)
        .select("path", "part").collect().map(r => (r.getString(0), r.getString(1))).toSet
      val rewritten = versions.sliding(2).collect { case Seq(a, b) =>
        (parts(b) -- parts(a)).map(_._2).size.toDouble
      }.toSeq
      put("snapshot.partitions_rewritten", rewritten)
    }
  }
}

// ── weather_serve ────────────────────────────────────────────────────

/** Station dashboard traffic through the TTL result cache over a
  * SnapshotTable with commit history; every `trickleEvery` requests a
  * small upsert commits, invalidating the affected keys on commit, and
  * the next read of an affected key must see the new rows.
  */
final class WeatherServe(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val m = manifest
  private val ranges: Seq[(String, String)] = m.get("ranges_us").elements.asScala.map { r =>
    (fmt(r.get(0).asLong), fmt(r.get(1).asLong))
  }.toSeq
  private val trickleEvery = m.get("trickle_every").asInt
  private val session = 1 + m.get("refreshes").asInt
  require(trickleEvery % session == 0, "a trickle commit must fall between dashboard sessions")
  private val trickleStations = m.get("trickle_stations").elements.asScala.map(_.asLong).toIndexedSeq
  private val trickles = parquetFiles("trickle")
  private val history = parquetFiles("history")
  private val requests: IndexedSeq[Req] = {
    Files.readAllLines(Paths.get(data, "requests.jsonl")).asScala.map { l =>
      val n = Main.json.readTree(l)
      Req(n.get("kind").asText, Option(n.get("station")).map(_.asLong).getOrElse(-1L),
        Option(n.get("range")).map(_.asInt).getOrElse(-1))
    }.toIndexedSeq
  }
  private val kinds = Seq("raw_station", "agg_station", "timeseries_station")
  private val TtlMs = 600000L
  private var table: String = _
  private val cacheRoot = s"$work/cache"
  private var nextReq = 0
  private var nextTrickle = 0
  private val served = mutable.LinkedHashMap.empty[String, Req]
  private var invalidations = 0

  case class Req(kind: String, station: Long, range: Int) {
    def params: Seq[String] = if (kind == "latest_per_key") Nil else Seq(s"station=$station", s"range=$range")
    def key: String = ResultCache.keyOf(kind, params)
  }

  private def fmt(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
      ZoneOffset.UTC).toString.replace('T', ' ')

  private def micros(i: java.time.Instant): Long =
    java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, i)

  private def withDay(df: DataFrame) = df.withColumn("dt", to_date(col("ts")).cast("string"))

  def build(r: Req): DataFrame = {
    val t = span(Layers.Snapshot, "SnapshotTable.read")(SnapshotTable.read(spark, table))
    span(Layers.Station, s"StationQueries.${r.kind}") {
      lazy val (s, e) = ranges(r.range)
      r.kind match {
        case "raw_station" => StationQueries.rawStation(t, r.station, s, e)
        case "agg_station" => StationQueries.aggStation(t, r.station, s, e)
        case "timeseries_station" => StationQueries.timeseriesStation(t, r.station, s, e, "1 hour")
        case "latest_per_key" => StationQueries.latestPerKey(t)
      }
    }
  }

  /** One request through the cache: (rows, ms, hit). */
  def serve(r: Req): (Array[Row], Double, Boolean) = {
    var hit = true
    val t0 = System.nanoTime()
    val rows = span(Layers.Bench, s"request.${r.kind}") {
      val df = span(Layers.Cache, "ResultCache.getOrCompute") {
        ResultCache.getOrCompute(spark, cacheRoot, r.key, TtlMs) { hit = false; build(r) }
      }
      span(Layers.Spark, "collect")(df.collect())
    }
    served.getOrElseUpdate(r.key, r)
    (rows, ms(t0), hit)
  }

  def setup(): Unit = {
    table = s"$work/table"
    span(Layers.Snapshot, "SnapshotTable.create") {
      SnapshotTable.create(spark, table, withDay(spark.read.parquet(s"$data/base.parquet")), Seq("dt"))
    }
    history.foreach { h =>
      span(Layers.Snapshot, "SnapshotTable.upsertKeepLast") {
        SnapshotTable.upsertKeepLast(spark, table, withDay(spark.read.parquet(h)), Seq("user_id", "ts"), "event_id")
      }
    }
    // warm the read path once per request kind, uncached, and one cache
    // miss and hit
    (kinds.map(k => Req(k, trickleStations.head, 0)) :+ Req("latest_per_key", -1, -1))
      .foreach(r => build(r).collect())
    val r = Req("raw_station", trickleStations.head, 0)
    for (_ <- 0 until 2)
      ResultCache.getOrCompute(spark, s"$work/warm-cache", r.key, TtlMs)(build(r)).collect()
  }

  private def trickle(): Unit = {
    val i = nextTrickle
    nextTrickle += 1
    val station = trickleStations(i)
    val batch = withDay(spark.read.parquet(trickles(i)))
    val expected = batch.select("event_id").collect().map(_.getLong(0)).toSet
    // the station's dashboards are the keys this commit must invalidate
    val keys = (for (k <- kinds; r <- ranges.indices) yield Req(k, station, r).key) :+
      Req("latest_per_key", -1, -1).key
    SnapshotTable.clearCommitHooks(table)
    ResultCache.invalidateOnCommit(spark, table, cacheRoot, keys)
    val t0 = System.nanoTime()
    op {
      span(Layers.Snapshot, "SnapshotTable.upsertKeepLast") {
        SnapshotTable.upsertKeepLast(spark, table, batch, Seq("user_id", "ts"), "event_id")
      }
      sample("commit_ms", ms(t0))
      invalidations += keys.size
      // the read-after-write probe: the committed station, full range
      val (rows, qms, hit) = serve(Req("raw_station", station, ranges.size - 1))
      sample("query_ms", qms)
      sample(if (hit) "hit_ms" else "miss_ms", qms)
      val seen = rows.map(_.getAs[Long]("event_id")).toSet
      val ok = expected.subsetOf(seen)
      sample("visible_ms", ms(t0))
      check(s"post_commit_read_$i", ok, s"missing=${(expected -- seen).size}")
    }
  }

  def loop(deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    // whole cycles only: `trickleEvery` requests (whole dashboard
    // sessions), then one trickle commit. A pass cut between the two would
    // spread a varying number of commits over its requests.
    while ((System.nanoTime() < deadlineNs || nextReq % trickleEvery != 0) && nextReq < requests.size) {
      val r = requests(nextReq)
      nextReq += 1
      op(serve(r)).foreach { case (_, qms, hit) =>
        sample("query_ms", qms)
        sample(if (hit) "hit_ms" else "miss_ms", qms)
      }
      n += 1
      if (nextReq % trickleEvery == 0 && nextTrickle < trickles.size) trickle()
    }
    add(s"${pass}_requests", n)
    add(s"${pass}_wall_s", ms(t0) / 1000)
  }

  override def probe(): Unit = {
    // build / plan / exec of each request kind, uncached, then the
    // same request as a forced cache miss
    val picks = kinds.flatMap(k => requests.filter(_.kind == k).distinct.take(2)) :+
      Req("latest_per_key", -1, -1)
    picks.foreach { r =>
      val (df, b) = timed(build(r))
      val (_, p) = timed(df.queryExecution.executedPlan)
      val (rows, e) = timed(df.collect())
      val scan = Engine.scanned(df.queryExecution.executedPlan)
      sample(s"station.${r.kind}.build_ms", b)
      sample(s"station.${r.kind}.plan_ms", p)
      sample(s"station.${r.kind}.exec_ms", e)
      sample("station.files_scanned", scan.files.toDouble)
      sample("station.rows_scanned_per_row_out", scan.rows.toDouble / math.max(rows.length, 1))
      ResultCache.invalidate(spark, cacheRoot, r.key)
      val (_, missMs, hit) = serve(r)
      if (!hit) sample("cache.miss_overhead_ms", missMs - (b + p + e))
    }
    val mf = SnapshotTable.manifest(spark, table).select("path").collect().map(_.getString(0))
    put("snapshot.manifest_entries", mf.length)
    put("snapshot.read_branches", mf.map(_.split("/").take(2).mkString("/")).distinct.length)
  }

  def finish(): Unit = {
    put("requests_served", nextReq)
    put("trickles_committed", nextTrickle)
    put("cache.invalidations", invalidations)
    put("table", table)
    SnapshotTable.read(spark, table)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_type"), col("value"))
      .write.parquet(s"$out/serve_table")
    // every distinct key's cached answer, for the independent check
    val answers = served.values.map { r =>
      val rows = ResultCache.getOrCompute(spark, cacheRoot, r.key, TtlMs)(build(r)).collect()
      val rendered = rows.map(row => row.schema.fieldNames.zip(row.toSeq.map {
        case t: java.sql.Timestamp => micros(t.toInstant)
        case t: LocalDateTime => micros(t.toInstant(ZoneOffset.UTC))
        case v => v
      }).toMap)
      Main.json.writeValueAsString(Map("kind" -> r.kind, "station" -> r.station, "range" -> r.range,
        "rows" -> rendered.toSeq))
    }
    Files.write(Paths.get(out, "cached_answers.jsonl"), answers.toSeq.asJava)
  }
}

// ── corpus_curate ────────────────────────────────────────────────────

/** Raw corpus → keep-best curation → tempered mix + sequence packing,
  * written as a training set; repeated until the deadline.
  */
final class CorpusCurate(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val docsPath = s"$data/documents.parquet"
  private val nDocs = manifest.get("docs").asLong
  private var runs = 0

  private def curate(input: String, dest: String, budget: Long): Unit = {
    val docs = spark.read.parquet(input)
    val kept = span(Layers.Curation, "Curation.curateKeepBest")(Curation.curateKeepBest(docs))
    span(Layers.Spark, "write.curated") {
      docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi").write.parquet(s"$dest/curated")
    }
    val packed = span(Layers.TrainingPrep, "TrainingPrep.mixPack") {
      TrainingPrep.mixPack(spark.read.parquet(s"$dest/curated"), budgetDocs = budget)
    }
    span(Layers.Spark, "write.packed")(packed.write.parquet(s"$dest/packed"))
  }

  /** No pre-state: set-up is one warm-up run on a small corpus. */
  def setup(): Unit = curate(s"$data/warm.parquet", s"$work/warm", 1000L)

  def loop(deadlineNs: Long): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    var last = 0.0
    // whole runs only: start another while at least half a run's time is left
    while (System.nanoTime() + last * 5e5 < deadlineNs) {
      val dest = s"$out/run$runs"
      runs += 1
      val t = System.nanoTime()
      op(span(Layers.Bench, "curate_run")(curate(docsPath, dest, nDocs))).foreach { _ =>
        sample("curate_ms", ms(t))
      }
      last = ms(t)
      n += 1
    }
    add(s"${pass}_runs", n)
    add(s"${pass}_wall_s", ms(t0) / 1000)
  }

  override def probe(): Unit = {
    val docs = spark.read.parquet(docsPath)
    // each public step materialised on its own
    def step(name: String, layer: String)(df: => DataFrame): Long = {
      val t0 = System.nanoTime()
      val n = span(layer, name)(df.count())
      sample(s"$name.ms", ms(t0))
      n
    }
    step("textanalysis.quality_filter", Layers.TextAnalysis)(TextAnalysis.qualityFilter(docs))
    step("textdedup.exact", Layers.TextDedup)(TextDedup.exact(docs))
    put("textdedup.pairs_out", step("textdedup.minhash_lsh", Layers.TextDedup)(TextDedup.minhashLshAuto(docs)))
    step("corpus.near_dup_clusters", Layers.Corpus)(Corpus.nearDupClusters(docs))
    val kept = step("curation.keep_best", Layers.Curation)(Curation.curateKeepBest(docs))
    put("curation.kept_ratio", kept.toDouble / nDocs)
    step("trainingprep.mix_pack", Layers.TrainingPrep)(TrainingPrep.mixPack(docs, budgetDocs = nDocs))
    // hash kernels in isolation: inputs cached first, output folded to a checksum
    val words = docs.select(split(TextDedup.normText, " ").as("w")).cache()
    words.count()
    val shingles = words.select(Hashes.shingleHashes(col("w"), 3).as("s")).cache()
    def kernel(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      span(Layers.Functions, name)(df.collect())
      sample(s"functions.$name.ms", ms(t0))
    }
    for (_ <- 0 until 3) {
      kernel("shingle_hashes")(words.select(Hashes.shingleHashes(col("w"), 3).as("s"))
        .agg(sum(size(col("s"))), bit_xor(xxhash64(col("s")))))
      if (shingles.count() > 0)
        kernel("minhash_sig")(shingles.select(Hashes.minhashSig(col("s"), 64).as("m"))
          .agg(bit_xor(xxhash64(col("m")))))
      kernel("simhash64")(words.select(Hashes.simhash64(col("w")).as("h")).agg(bit_xor(col("h"))))
    }
    shingles.unpersist()
    words.unpersist()
  }

  def finish(): Unit = put("runs", (0 until runs).map(i => s"$out/run$i"))
}

// ── ann_serve ────────────────────────────────────────────────────────

/** An IVF index built in set-up first grows by streamed embedding files
  * (one file per trigger), then serves streamed query files against the
  * grown index, in chunks sized to the time left in the pass.
  */
final class AnnServe(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  private val m = manifest
  private val k = m.get("k").asInt
  private val base = m.get("base").asLong
  private val ingestRows = m.get("ingest_rows").asLong
  private val ingestFiles = parquetFiles("ingest")
  private val queryFiles = parquetFiles("queries")
  private val IngestFilesPerPass = 4
  private val NCells = 16
  private val NProbe = 4
  private var index: String = _
  private var nextIngest = 0
  private var nextQuery = 0
  private var lastBatchMs = 0.0
  private val rounds = mutable.ArrayBuffer.empty[Map[String, Int]]
  private val ingSrc = s"$work/ingest-src"
  private val qSrc = s"$work/query-src"
  private val dest = s"$out/knn"
  private val stages = mutable.ArrayBuffer.empty[(String, Double)]

  private def sink(tag: String)(batch: Long, stage: String, msv: Double): Unit =
    stages.synchronized(stages += ((s"$tag.$stage", msv)))

  def setup(): Unit = {
    index = s"$work/index"
    val emb = spark.read.parquet(s"$data/base.parquet")
    val ivf = span(Layers.Similarity, "Similarity.buildIvf")(Similarity.buildIvf(emb, NCells))
    span(Layers.Similarity, "Similarity.writeIvfPartitioned")(Similarity.writeIvfPartitioned(ivf, index))
    // warm the ingest path with the first embedding file, which stays in
    // the index, and the serving path with one query batch through a
    // stream of its own
    land(ingestFiles.head, mkdirs(ingSrc))
    EmbeddingStream.ingestOnce(spark, ingSrc, index, s"$work/ck-ingest", maxFilesPerTrigger = 1)
    nextIngest = 1
    val warm = mkdirs(s"$work/warm/src")
    land(s"$data/warm_queries.parquet", warm)
    EmbeddingStream.queryOnce(spark, warm, index, s"$work/warm/out", s"$work/warm/ck", k, NProbe)
  }

  def loop(deadlineNs: Long): Unit = {
    mkdirs(ingSrc)
    mkdirs(qSrc)
    val t0 = System.nanoTime()
    val ing = ingestFiles.slice(nextIngest, nextIngest + IngestFilesPerPass)
    nextIngest += ing.size
    ing.foreach(land(_, ingSrc))
    val ti = System.nanoTime()
    op(span(Layers.Streaming, "EmbeddingStream.ingestOnce") {
      EmbeddingStream.ingestOnce(spark, ingSrc, index, s"$work/ck-ingest", maxFilesPerTrigger = 1,
        timingSink = sink("ingest"))
    }).foreach { _ =>
      add(s"${pass}_ingested_rows", ingestRows * ing.size)
      add(s"${pass}_ingest_s", ms(ti) / 1000)
    }
    var calls = 0
    // at least one query drain per pass, then more while time is left
    while ((calls == 0 || System.nanoTime() < deadlineNs) && nextQuery < queryFiles.size) {
      val left = (deadlineNs - System.nanoTime()) / 1e6
      val n = if (calls == 0) 3 else math.max(1, math.min(8, (left / lastBatchMs).toInt))
      val from = nextQuery
      val files = queryFiles.slice(from, from + n)
      nextQuery += files.size
      files.foreach(land(_, qSrc))
      val tq = System.nanoTime()
      op(span(Layers.Streaming, "EmbeddingStream.queryOnce") {
        EmbeddingStream.queryOnce(spark, qSrc, index, dest, s"$work/ck-query", k, NProbe,
          maxFilesPerTrigger = 1, timingSink = sink("query"))
      })
      lastBatchMs = ms(tq) / files.size
      rounds += Map("ingest_files_done" -> nextIngest, "query_files_from" -> from, "query_files_to" -> nextQuery)
      calls += 1
    }
    add(s"${pass}_query_calls", calls)
    add(s"${pass}_wall_s", ms(t0) / 1000)
  }

  override def probe(): Unit = {
    val vecs = Similarity.prepared(spark.read.parquet(s"$data/base.parquet")).select("v").cache()
    vecs.count()
    val q = vecs.limit(1).collect().head.getSeq[Double](0)
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      span(Layers.Functions, "vec_dot") {
        vecs.select(VectorOps.vecDot(col("v"), typedLit(q)).as("d")).agg(sum(col("d"))).collect()
      }
      sample("functions.vec_dot.ms", ms(t0))
    }
    vecs.unpersist()
  }

  def finish(): Unit = {
    val idx = Similarity.loadIvfFlat(spark, index).assigned
      .agg(count(lit(1)), countDistinct(col("vec_id")), min(col("vec_id")), max(col("vec_id"))).head()
    val expected = base + ingestRows * nextIngest
    val (n, distinct, lo, hi) = (idx.getLong(0), idx.getLong(1), idx.getLong(2), idx.getLong(3))
    check("vec_ids_exactly_once", n == expected && distinct == expected && lo == 0 && hi == expected - 1,
      s"rows=$n distinct=$distinct expected=$expected min=$lo max=$hi")
    put("rounds", rounds)
    put("index_rows", n)
    put("ivf.index_files_end", filesUnder(index, ".parquet"))
    put("timing_sink", stages.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) })
    put("knn_dir", dest)
  }
}
