package graft

import graft.ops.{Ingest, IvfStore}
import graft.ops.Similarity.IvfIndex
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  /** Stage the converted (µs-timestamp) events as a file-stream source
    * directory — the stand-in for a Kafka topic.
    */
  private def stagedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Tables.events(spark, sfDir).coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming ingest equals the batch pipeline's windowed aggregate") {
    val got = EventStream.runOnce(spark, stagedDir, "stream_out")

    val expect = Ingest.validate(Tables.events(spark, sfDir))
      .withColumn("ts", col("ts").cast("timestamp"))
      .dropDuplicates("user_id", "ts")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"),
        col("total_value"))

    val g = got.collect().map(_.toSeq).toSet
    val e = expect.collect().map(_.toSeq).toSet
    // Append-mode emits only watermark-expired windows; everything
    // emitted must match the batch result, and most windows should have
    // been emitted (the final open window may be withheld).
    assert(g.nonEmpty)
    assert(g.subsetOf(e), s"streaming rows not in batch result: ${(g -- e).take(3)}")
    assert(g.size >= e.size - 25, s"too few windows emitted: ${g.size} vs ${e.size}")
  }

  test("stream-static enrichment joins dimension values into each batch") {
    import spark.implicits._
    val dim = Tables.events(spark, sfDir).select("user_id").distinct()
      .withColumn("segment",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
    val q = EventStream.enriched(EventStream.source(spark, stagedDir), dim)
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("user_id", "segment").as[(Long, String)].collect()
      assert(got.nonEmpty)
      // every event carried its dimension value (left join, full dim)
      assert(got.forall { case (u, s) =>
        s === (if (u % 2 == 0) "even" else "odd") })
    } finally q.stop()
  }

  test("stateful latest-per-key stream matches the batch latest-per-key") {
    import spark.implicits._
    val got = {
      val q = EventStream.latestPerKeyStream(spark, EventStream.source(spark, stagedDir))
        .writeStream.outputMode("update").format("memory")
        .queryName("latest_stream").start()
      q.processAllAvailable(); q.stop()
      // update-mode memory sink may hold one row per key per batch; the
      // newest (ts, event_id) per key is the final state
      spark.table("latest_stream")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct("ts", "event_id")).as("m"))
        .select(col("user_id"), col("m.event_id"))
        .as[(Long, Long)].collect().toMap
    }
    val expect = graft.ops.StationQueries.latestPerKey(Tables.events(spark, sfDir))
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(got === expect)
  }

  test("streaming session windows emit a subset of the batch sessionization") {
    val got = {
      val q = EventStream.sessionAgg(EventStream.cleaned(EventStream.source(spark, stagedDir)))
        .writeStream.outputMode("append").format("memory")
        .queryName("session_out").start()
      q.processAllAvailable(); q.stop()
      val sink = spark.table("session_out")
      val out = sink.collect().map(_.toSeq).toSet
      spark.catalog.dropTempView("session_out")
      out
    }
    // batch equivalent over the same cleaned input (session_window after
    // validate + dedup, 30min gap; ts cast like the streaming path)
    val expect = Ingest.validate(Tables.events(spark, sfDir))
      .withColumn("ts", col("ts").cast("timestamp"))
      .dropDuplicates("user_id", "ts")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(expect), s"streaming sessions not in batch result: ${(got -- expect).take(3)}")
    assert(got.size >= expect.size / 2, s"too few sessions emitted: ${got.size} vs ${expect.size}")
  }

  test("stream-stream interval join matches the batch interval join") {
    val got = {
      val q = EventStream.intervalJoin(EventStream.source(spark, stagedDir))
        .writeStream.outputMode("append").format("memory")
        .queryName("sjoin_out").start()
      q.processAllAvailable(); q.stop()
      val out = spark.table("sjoin_out").collect().map(_.toSeq).toSet
      spark.catalog.dropTempView("sjoin_out")
      out
    }
    // batch equivalent: same validate + same interval predicate
    val valid = Ingest.validate(Tables.events(spark, sfDir))
      .withColumn("ts", col("ts").cast("timestamp"))
    val p = valid.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val v = valid.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val expect = p.join(v, expr(
        "user_id = v_user_id AND view_ts <= purchase_ts " +
          "AND view_ts >= purchase_ts - interval 30 minutes"))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("purchase_value"), col("view_id"), col("view_ts"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    // inner stream-stream joins emit every match whose rows both arrived
    // before state cleanup; with the whole source in the initial batches
    // the emitted set must equal the batch join exactly
    assert(got === expect,
      s"stream/batch divergence: missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("fromKafka parses the broker frame shape into the events schema") {
    import spark.implicits._
    // Stub of exactly what the Kafka source emits: binary key/value plus
    // topic/partition/offset/timestamp — no broker needed to test the
    // parse step.
    val frames = Seq(
      ("k1", """{"event_id":1,"ts":"2024-01-01T10:00:00","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""", 0L),
      ("k2", """{"event_id":2,"ts":"2024-01-01T10:05:00","user_id":8,"event_type":"view","value":2.0,"props":"{}"}""", 1L),
      ("k3", "not json at all", 2L)
    ).toDF("k", "v", "offset")
      .select(col("k").cast("binary").as("key"), col("v").cast("binary").as("value"),
        lit("events").as("topic"), lit(0).as("partition"), col("offset"),
        current_timestamp().as("timestamp"), lit(0).as("timestampType"))
    val parsed = EventStream.fromKafka(frames)
    assert(parsed.schema.fieldNames.toSeq ===
      EventStream.eventSchema.fieldNames.toSeq :+ "__raw")
    assert(parsed.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val rows = parsed.filter(col("event_id").isNotNull)
      .select("event_id", "user_id", "event_type", "value")
      .as[(Long, Long, String, Double)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1L, 7L, "click", 1.5), (2L, 8L, "view", 2.0)))
    // unparseable frame → all-null record, original payload preserved
    assert(parsed.filter(col("event_id").isNull).count() === 1)
    // ...and routable to the collector's DLQ wrap with the raw message
    val dlq = EventStream.kafkaStructuralDlq(parsed)
      .as[(String, String, String)].collect()
    assert(dlq.toSeq.map(r => (r._1, r._2)) ===
      Seq(("schema_validation_error", "not json at all")))
    assert(dlq.head._3.nonEmpty) // content-hash trace id
    // downstream DAG composes unchanged: the batch validate accepts the shape
    assert(Ingest.validate(parsed).count() === 2)
  }

  test("fromKafka after toKafka is the identity on valid events") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull).limit(200)
    val round = EventStream.fromKafkaParsed(EventStream.toKafka(ev))
    val a = ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(round.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(a.exceptAll(round).isEmpty && round.exceptAll(a).isEmpty)
    // keys carry the user id for per-user topic ordering
    val keys = EventStream.toKafka(ev)
      .select(col("key").cast("string").cast("long")).as[Long].collect().toSet
    val users = ev.select("user_id").as[Long].collect().toSet
    assert(keys === users)
  }

  test("streaming upsert sink converges to keep-last per key across micro-batches") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_upsert_src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft_upsert_tgt").toString + "/table"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsert_ckpt").toString
    def write(rows: Seq[(Long, String, Long, String, Double, String)], f: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .coalesce(1).write.mode("overwrite").parquet(src + "/" + f)
    // batch 1: two keys on two dates (+ one invalid row that must not land)
    write(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "click", 10.0, "{}"),
      (2L, "2024-01-02 11:00:00", 2L, "view", 5.0, "{}"),
      (3L, "2024-01-01 12:00:00", 3L, "click", -7.0, "{}")), "b1")
    val q = EventStream.upsertSink(spark,
      spark.readStream.schema(EventStream.eventSchema).parquet(src + "/*"), tgt, ckpt)
    q.processAllAvailable()
    // batch 2: redelivers key (1, 10:00) with a newer event_id — keep-last
    // must win — and adds a fresh key on an existing date
    write(Seq(
      (9L, "2024-01-01 10:00:00", 1L, "click", 99.0, "{}"),
      (5L, "2024-01-01 13:00:00", 4L, "view", 1.0, "{}")), "b2")
    q.processAllAvailable(); q.stop()
    val table = spark.read.parquet(tgt)
    val byKey = table.select("user_id", "event_id", "value")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(table.count() === 3) // invalid row dropped, dup converged
    assert(byKey(1L) === ((9L, 99.0)), "redelivered key did not keep-last")
    assert(byKey(2L) === ((2L, 5.0)))
    assert(byKey(4L) === ((5L, 1.0)))
    // date partitioning materialized (hypertable-chunk analog)
    assert(new java.io.File(tgt).listFiles().map(_.getName).count(_.startsWith("dt=")) === 2)
  }

  test("streaming gap detection emits exactly the batch-detected outages") {
    val got = {
      val q = EventStream.gapDetectStream(spark, EventStream.source(spark, stagedDir))
        .writeStream.outputMode("append").format("memory")
        .queryName("gaps_out").start()
      q.processAllAvailable(); q.stop()
      val out = spark.table("gaps_out").collect().map(_.toSeq).toSet
      spark.catalog.dropTempView("gaps_out")
      out
    }
    val expect = graft.ops.StationQueries.gapDetect(Tables.events(spark, sfDir))
      .withColumn("gap_start", col("gap_start").cast("timestamp"))
      .withColumn("gap_end", col("gap_end").cast("timestamp"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got === expect,
      s"stream/batch gap divergence: missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("streaming anomaly detection equals the batch z-score when one batch holds all history") {
    // all staged files in one AvailableNow batch → the Welford prefix is
    // the full group, so the emitted set must equal the batch operator's
    val got = {
      val q = EventStream.anomalyStream(spark, EventStream.source(spark, stagedDir))
        .writeStream.outputMode("append").format("memory")
        .queryName("anom_out").start()
      q.processAllAvailable(); q.stop()
      val out = spark.table("anom_out").collect()
        .map(r => (r.getLong(0), r.getDouble(4))).toMap
      spark.catalog.dropTempView("anom_out")
      out
    }
    val expect = graft.ops.Analytics.anomalyZScore(Tables.events(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    assert(got.keySet === expect.keySet,
      s"id divergence: missing=${(expect.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expect.keySet).take(5)}")
    // Welford vs two-pass moments may differ in the last ulps; after
    // 4-decimal rounding any residual divergence is at most one step
    got.foreach { case (id, z) =>
      assert(math.abs(z - expect(id)) <= 1e-4 + 1e-9, s"z mismatch for $id: $z vs ${expect(id)}")
    }
  }

  test("streaming anomaly detection across multiple batches respects the prefix threshold") {
    val dir = stagedDir // two parquet files → two micro-batches
    val src = spark.readStream
      .schema(Tables.events(spark, sfDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventStream.anomalyStream(spark, src)
      .writeStream.outputMode("append").format("memory")
      .queryName("anom_mb").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("anom_mb").collect()
    spark.catalog.dropTempView("anom_mb")
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(4)) >= 2.5, r.toString))
  }

  test("incrementally-maintained aggregate table converges to the batch aggregate") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_aggtbl_src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft_aggtbl_tgt").toString + "/table"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_aggtbl_ck").toString
    def write(rows: Seq[(Long, String, Long, String, Double, String)], f: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .coalesce(1).write.mode("overwrite").parquet(src + "/" + f)
    write(Seq(
      (1L, "2024-01-01 10:05:00", 1L, "click", 10.0, "{}"),
      (2L, "2024-01-01 10:20:00", 2L, "click", 5.0, "{}"),
      (3L, "2024-01-01 11:10:00", 1L, "view", 2.0, "{}")), "b1")
    val q = EventStream.aggTableSink(spark,
      spark.readStream.schema(EventStream.eventSchema).parquet(src + "/*"), tgt, ckpt)
    q.processAllAvailable()
    // batch 2 lands MORE clicks in the already-emitted 10:00 window →
    // update mode must re-emit it and the upsert must replace, not append
    write(Seq(
      (4L, "2024-01-01 10:40:00", 3L, "click", 7.0, "{}"),
      (5L, "2024-01-02 09:00:00", 1L, "click", 1.0, "{}")), "b2")
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(tgt)
      .select(col("bucket").cast("string"), col("event_type"), col("n"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(
      ("2024-01-01 10:00:00", "click", 3L, 22.0),
      ("2024-01-01 11:00:00", "view", 1L, 2.0),
      ("2024-01-02 09:00:00", "click", 1L, 1.0)))
    // two date partitions materialized; batch 2 touched only its own dates
    assert(new java.io.File(tgt).listFiles().map(_.getName)
      .count(_.startsWith("dt=")) === 2)
  }

  test("snapshot-table streaming upsert: pinned reader isolation while the stream commits") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val src = java.nio.file.Files.createTempDirectory("graft_snapus_src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft_snapus_tgt").toString + "/table"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snapus_ck").toString
    def write(rows: Seq[(Long, String, Long, String, Double, String)], f: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .coalesce(1).write.mode("overwrite").parquet(src + "/" + f)
    write(Seq(
      (1L, "2024-01-01 10:00:00", 1L, "click", 10.0, "{}"),
      (2L, "2024-01-02 11:00:00", 2L, "view", 5.0, "{}")), "b1")
    val q = EventStream.upsertSinkSnapshot(spark,
      spark.readStream.schema(EventStream.eventSchema).parquet(src + "/*"), tgt, ckpt)
    q.processAllAvailable()
    val v1 = SnapshotTable.latestVersion(spark, tgt)
    val pinned = SnapshotTable.read(spark, tgt, v1) // reader holds v1
    // batch 2 redelivers key (1, 10:00) with a newer event_id and adds a key
    write(Seq(
      (9L, "2024-01-01 10:00:00", 1L, "click", 99.0, "{}"),
      (5L, "2024-01-01 13:00:00", 4L, "view", 1.0, "{}")), "b2")
    q.processAllAvailable(); q.stop()
    // stream published v1+1; the pinned reader still evaluates to v1's rows
    assert(SnapshotTable.latestVersion(spark, tgt) === v1 + 1)
    val pinnedRows = pinned.select("user_id", "event_id", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(pinnedRows === Set((1L, 1L, 10.0), (2L, 2L, 5.0)),
      "pinned snapshot must not see the stream's later commit")
    // latest converges to keep-last per key
    val latest = SnapshotTable.read(spark, tgt)
      .select("user_id", "event_id", "value")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(latest === Map(1L -> ((9L, 99.0)), 2L -> ((2L, 5.0)), 4L -> ((5L, 1.0))))
  }

  test("snapshot-table aggregate sink converges to the batch aggregate, versioned") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val src = java.nio.file.Files.createTempDirectory("graft_snapag_src").toString
    val tgt = java.nio.file.Files.createTempDirectory("graft_snapag_tgt").toString + "/table"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snapag_ck").toString
    def write(rows: Seq[(Long, String, Long, String, Double, String)], f: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .coalesce(1).write.mode("overwrite").parquet(src + "/" + f)
    write(Seq(
      (1L, "2024-01-01 10:05:00", 1L, "click", 10.0, "{}"),
      (2L, "2024-01-01 10:20:00", 2L, "click", 5.0, "{}"),
      (3L, "2024-01-01 11:10:00", 1L, "view", 2.0, "{}")), "b1")
    val q = EventStream.aggTableSinkSnapshot(spark,
      spark.readStream.schema(EventStream.eventSchema).parquet(src + "/*"), tgt, ckpt)
    q.processAllAvailable()
    // batch 2 re-opens the 10:00 window: the upsert must REPLACE its row
    write(Seq(
      (4L, "2024-01-01 10:40:00", 3L, "click", 7.0, "{}"),
      (5L, "2024-01-02 09:00:00", 1L, "click", 1.0, "{}")), "b2")
    q.processAllAvailable(); q.stop()
    val got = SnapshotTable.read(spark, tgt)
      .select(col("bucket").cast("string"), col("event_type"), col("n"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(
      ("2024-01-01 10:00:00", "click", 3L, 22.0),
      ("2024-01-01 11:00:00", "view", 1L, 2.0),
      ("2024-01-02 09:00:00", "click", 1L, 1.0)))
    // each micro-batch published one version, and time travel to v1
    // reads the aggregate as of batch 1 — a dashboard can hold a
    // consistent as-of view while the stream keeps publishing
    assert(SnapshotTable.versions(spark, tgt).length === 2)
    val asOfB1 = SnapshotTable.read(spark, tgt, 1L)
      .select(col("bucket").cast("string"), col("event_type"), col("n"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(asOfB1 === Set(
      ("2024-01-01 10:00:00", "click", 2L, 15.0),
      ("2024-01-01 11:00:00", "view", 1L, 2.0)))
  }

  test("backfill with maxFilesPerTrigger processes in bounded micro-batches") {
    val src = stagedDir // staged as 2 files
    val dest = java.nio.file.Files.createTempDirectory("graft_bf_rate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bf_rate_ck").toString
    val q = EventStream.cleaned(
      spark.readStream.schema(EventStream.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", dest).start()
    q.awaitTermination()
    // one file per micro-batch → at least 2 committed batches in the log
    val batches = new java.io.File(s"$ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 2, s"expected >=2 micro-batches, saw $batches")
    val expect = Ingest.validate(Tables.events(spark, sfDir))
      .dropDuplicates("user_id", "ts").count()
    assert(spark.read.parquet(dest).count() === expect)
  }

  test("backfill runs to completion once and replays as a no-op") {
    val src = stagedDir
    val dest = java.nio.file.Files.createTempDirectory("graft_backfill").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_backfill_ck").toString
    EventStream.backfillOnce(spark, src, dest, ckpt) // terminates on its own
    val expect = Ingest.validate(Tables.events(spark, sfDir))
      .dropDuplicates("user_id", "ts").count()
    val got = spark.read.parquet(dest).count()
    assert(got === expect, s"backfill wrote $got, batch pipeline says $expect")
    // same checkpoint → offsets already committed → nothing reprocessed
    EventStream.backfillOnce(spark, src, dest, ckpt)
    assert(spark.read.parquet(dest).count() === expect)
  }

  test("watermarked dedup drops duplicate keys within the horizon") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dupes").toString
    val dup = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "click", 10.0, "{}"),
      (2L, "2024-01-01 10:00:00", 1L, "click", 99.0, "{}"), // same (user, ts)
      (3L, "2024-01-01 10:05:00", 1L, "view", 5.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    dup.coalesce(1).write.mode("overwrite").parquet(dir)

    val q = EventStream.cleaned(EventStream.source(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() === 2)
    assert(out.groupBy("user_id", "ts").count().filter(col("count") > 1).count() === 0)
  }

  test("corpus ingest stream drops corpus dups and junk, keeps clean docs, replays as no-op") {
    import spark.implicits._
    import graft.ops.{TextAnalysis, TextDedup}
    import graft.streaming.CorpusStream
    val corpus = Tables.documents(spark, sfDir)
    val index = TextDedup.buildDedupIndex(corpus)
    // pick a corpus doc that PASSES the quality gate, so its planted
    // duplicates exercise the dedup path, not the quality path
    val baseText = corpus
      .join(TextAnalysis.qualityFilter(corpus).select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy("doc_id").select("text").as[String].head()
    val cleanNew = (1 to 30).map(i => s"fresh$i").mkString("the data and ", " ", " of it")
    val batch = Seq(
      (100001L, baseText),               // exact dup of corpus → dropped
      (100002L, baseText + " extra"),    // near dup of corpus → dropped
      (100003L, "a a a a a a a a a a a a"), // junk → quality gate drops
      (100004L, cleanNew),               // clean + novel → kept
      (100005L, cleanNew)                // within-batch exact dup → collapsed
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("crawl"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val src = java.nio.file.Files.createTempDirectory("graft_corpus_src").toString
    val dest = java.nio.file.Files.createTempDirectory("graft_corpus_dest").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_corpus_ckpt").toString
    batch.coalesce(1).write.mode("overwrite").parquet(src)

    CorpusStream.ingestOnce(spark, src, index, dest, ckpt)
    val got = spark.read.parquet(dest).select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(100004L), s"accepted $got")
    // the stream applies acceptBatch per micro-batch — same function,
    // same result
    val direct = CorpusStream.acceptBatch(index, batch)
      .select("doc_id").as[Long].collect().sorted
    assert(direct.toSeq === got.toSeq)
    // same checkpoint → file offsets committed → replay adds nothing
    CorpusStream.ingestOnce(spark, src, index, dest, ckpt)
    assert(spark.read.parquet(dest).count() === 1)

    // with a stats path, each micro-batch appends its one-row funnel
    // report; the planted batch attributes 5 = 1 junk + 2 corpus dups +
    // 1 in-batch dup + 1 accepted, and a checkpoint replay adds no row
    val dest2 = java.nio.file.Files.createTempDirectory("graft_corpus_d2").toString + "/out"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_corpus_ck2").toString
    val stats = java.nio.file.Files.createTempDirectory("graft_corpus_st").toString + "/stats"
    CorpusStream.ingestOnce(spark, src, index, dest2, ckpt2, statsPath = stats)
    val rep = spark.read.parquet(stats).collect()
    assert(rep.length === 1, rep.mkString(";"))
    val r = rep.head
    assert(r.getAs[Long]("n_in") === 5L &&
      r.getAs[Long]("n_quality_fail") === 1L &&
      r.getAs[Long]("n_corpus_dup") === 2L &&
      r.getAs[Long]("n_batch_dup") === 1L &&
      r.getAs[Long]("n_accepted") === 1L, r.toString)
    CorpusStream.ingestOnce(spark, src, index, dest2, ckpt2, statsPath = stats)
    assert(spark.read.parquet(stats).count() === 1)

    // deleting and REUSING the same checkpoint path for a new drain is a
    // new run (fresh engine query id in <ckpt>/metadata), so its batch-0
    // funnel row must land in the shared statsPath despite reproducing
    // (path, batch_id=0) — the advisor-flagged collision of a
    // path-derived run_id
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt2))
    val dest3 = java.nio.file.Files.createTempDirectory("graft_corpus_d3").toString + "/out"
    CorpusStream.ingestOnce(spark, src, index, dest3, ckpt2, statsPath = stats)
    val rep2 = spark.read.parquet(stats).select("run_id").as[String].collect()
    assert(rep2.length === 2, s"new run's report row must survive: ${rep2.toSeq}")
    assert(rep2.distinct.length === 2, "checkpoint reuse must mint a fresh run_id")
  }

  test("span rewrite stream: durable cross-batch first-occurrence = the batch rewrite") {
    import spark.implicits._
    import graft.ops.TextDedup
    import graft.streaming.CorpusStream
    val all = Tables.documents(spark, sfDir)
    val corpus = all.filter(col("doc_id") < 300)
    val b1 = all.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val b2 = all.filter(col("doc_id") >= 400)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_span_sidx").toString
    val src = java.nio.file.Files.createTempDirectory("graft_span_src").toString
    val dest = java.nio.file.Files.createTempDirectory("graft_span_dst").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_span_ck").toString
    try {
      TextDedup.writeSpanIndex(TextDedup.buildSpanIndex(corpus), "span_stream_spec", idxPath)
      // two staged files, id-ordered by mod time → two micro-batches
      b1.coalesce(1).write.mode("overwrite").parquet(src)
      Thread.sleep(1100)
      b2.coalesce(1).write.mode("append").parquet(src)
      CorpusStream.spanRewriteOnce(spark, src, "span_stream_spec", idxPath,
        dest, ckpt, maxFilesPerTrigger = 1)
      val drained = spark.read.parquet(dest)
      assert(drained.count() === 200)
      // batches arrive in doc_id order, so the drained union must equal
      // the one-shot BATCH rewrite of everything, restricted to the
      // streamed docs. The corpus has spans shared ONLY between b1 and
      // b2 (verified offline: 9 such), so equality here proves the
      // index append made batch-1 spans visible to batch 2.
      val ref = TextDedup.spanDedup(all).filter(col("doc_id") >= 300)
      val diff = drained.except(ref).collect()
      assert(diff.isEmpty, "DIFF: " + diff.map(r =>
        s"(${r.get(0)},total=${r.get(2)},rm=${r.get(3)})").mkString(" | "))
      assert(ref.except(drained).count() === 0)
      // replay with the committed checkpoint: no new rows, and the
      // digest append is anti-join idempotent (index unchanged)
      val nDigests = spark.table("span_stream_spec_spans").count()
      CorpusStream.spanRewriteOnce(spark, src, "span_stream_spec", idxPath,
        dest, ckpt, maxFilesPerTrigger = 1)
      assert(spark.read.parquet(dest).count() === 200)
      assert(spark.table("span_stream_spec_spans").count() === nDigests)
    } finally spark.sql("DROP TABLE IF EXISTS span_stream_spec_spans")
  }

  test("hll ingest stream: register-merged store = one-shot batch sketches, replay no-op") {
    import spark.implicits._
    import graft.streaming.EventStream
    val ev = Tables.events(spark, sfDir)
    val src = java.nio.file.Files.createTempDirectory("graft_hll_src").toString
    val store = java.nio.file.Files.createTempDirectory("graft_hll_store").toString + "/store"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hll_ck").toString
    // two staged files → two micro-batches; both halves touch the SAME
    // (type, day) keys, so batch 2 must MERGE into batch 1's sketches
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("overwrite").parquet(src)
    Thread.sleep(1100)
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    EventStream.hllIngestOnce(spark, src, store, ckpt, maxFilesPerTrigger = 1)
    val served = EventStream.hllServe(spark, store)
    // same-lgK register union is lossless: incremental = one-shot, exactly
    val oneShot = ev
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts").cast("timestamp")).as("day"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("approx_users"),
        count(lit(1)).as("n_events"))
    assert(served.except(oneShot).count() === 0)
    assert(oneShot.except(served).count() === 0)
    // committed checkpoint → replay leaves the store unchanged
    val snapshot = served.collect().toSeq
    EventStream.hllIngestOnce(spark, src, store, ckpt, maxFilesPerTrigger = 1)
    assert(EventStream.hllServe(spark, store).collect().toSeq === snapshot)
  }

  test("embedding ingest stream grows the persisted IVF index like the in-memory append") {
    import spark.implicits._
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id") < n / 2)
    val late = emb.filter(col("vec_id") >= n / 2)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(base), idxPath)
    val src = java.nio.file.Files.createTempDirectory("graft_emb_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_emb_ckpt").toString
    late.coalesce(1).write.mode("overwrite").parquet(src)

    EmbeddingStream.ingestOnce(spark, src, idxPath, ckpt)
    val grown = Similarity.loadIvfFlat(spark, idxPath).assigned
    assert(grown.count() === n)
    // stream-grown persisted assignment ≡ the in-memory append against
    // the same stored centroids (cell-for-cell)
    val stored = Similarity.loadIvfFlat(spark, idxPath)
    val mem = Similarity.appendToIvf(
      Similarity.IvfIndex(
        stored.centroids,
        stored.assigned.filter(col("vec_id") < n / 2)),
      late)
    val got = grown.select("vec_id", "cell").as[(Long, Int)].collect().toSet
    val want = mem.assigned.select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(got === want)
    // layer 1: same checkpoint → files already committed → no-op
    EmbeddingStream.ingestOnce(spark, src, idxPath, ckpt)
    assert(Similarity.loadIvfFlat(spark, idxPath).assigned.count() === n)
    // layer 2: LOST checkpoint (redelivery) → the vec_id anti-join
    // guard drops the whole replayed batch before any file lands
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_emb_ckpt2").toString
    EmbeddingStream.ingestOnce(spark, src, idxPath, ckpt2)
    assert(Similarity.loadIvfFlat(spark, idxPath).assigned.count() === n)
  }

  test("streamed ANN queries against the persisted index equal the batch query set") {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    val emb = Tables.embeddings(spark, sfDir)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_qivf_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(emb), idxPath)
    val queries = emb.filter(col("vec_id") < 10)
    val src = java.nio.file.Files.createTempDirectory("graft_qivf_src").toString
    val dest = java.nio.file.Files.createTempDirectory("graft_qivf_dest").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qivf_ckpt").toString
    // several files + one file per trigger → results must not depend on
    // how queries batch
    queries.repartition(3).write.mode("overwrite").parquet(src)
    val loads = EmbeddingStream.queryOnce(spark, src, idxPath, dest, ckpt,
      maxFilesPerTrigger = 1)
    assert(loads === 1,
      "quiescent index: unchanged-stamp micro-batches must skip the reload")
    val streamed = spark.read.parquet(dest).drop("batch_id")
      .orderBy("query_id", "rnk").collect().toSeq
    val index = Similarity.loadIvfFlat(spark, idxPath)
    val batchQ = Similarity.prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm2").as("qn2"))
    val batch = Similarity.queryIvf(index, batchQ)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(streamed === batch)
    // exactly-once: rerun with the same checkpoint appends nothing
    EmbeddingStream.queryOnce(spark, src, idxPath, dest, ckpt)
    assert(spark.read.parquet(dest).count() === batch.size)
  }

  test("stream_ann_query index poll: reload only on version bump, appends visible after it") {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    // r11 verdict item 6: the serving stream polls the layout's change
    // stamp (one tiny file) and reloads only when an append bumped it —
    // at scale the reload is a million-file listing, so steady state
    // must skip it while a bump must still make new vectors visible.
    val emb = Tables.embeddings(spark, sfDir)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_poll_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(half), idxPath)
    assert(IvfStore.readMeta(spark, idxPath).stamp === 1L, "fresh layout stamps at 1")
    val queries = emb.filter(col("vec_id") < 6)
    val src = java.nio.file.Files.createTempDirectory("graft_poll_src").toString
    queries.repartition(3).write.mode("overwrite").parquet(src)
    val dest1 = java.nio.file.Files.createTempDirectory("graft_poll_d1").toString + "/out"
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_poll_c1").toString
    assert(EmbeddingStream.queryOnce(spark, src, idxPath, dest1, ckpt1,
      maxFilesPerTrigger = 1) === 1,
      "three quiescent micro-batches, one load")
    // grow the index: the append bumps the stamp
    IvfStore.append[IvfIndex](idxPath, rest)
    assert(IvfStore.readMeta(spark, idxPath).stamp === 2L, "append must bump the stamp")
    // a new drain of the same queries must serve the GROWN snapshot
    val dest2 = java.nio.file.Files.createTempDirectory("graft_poll_d2").toString + "/out"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_poll_c2").toString
    assert(EmbeddingStream.queryOnce(spark, src, idxPath, dest2, ckpt2,
      maxFilesPerTrigger = 1) === 1)
    val streamed2 = spark.read.parquet(dest2).drop("batch_id")
      .orderBy("query_id", "rnk").collect().toSeq
    val full = Similarity.loadIvfFlat(spark, idxPath)
    val batch2 = Similarity.queryIvf(full, Similarity.prepared(queries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm2").as("qn2")))
      .orderBy("query_id", "rnk").collect().toSeq
    assert(streamed2 === batch2, "post-bump drain must equal the grown-index batch query")
    assert(batch2.exists(_.getAs[Long]("neighbor_id") % 2 === 1),
      "appended (odd-id) vectors must actually surface in the answers " +
        "— otherwise the visibility claim is vacuous")
  }

  test("streamed DSIR scoring equals batch scoring row-for-row, across batch splits") {
    import graft.streaming.CorpusStream
    val docs = Tables.documents(spark, sfDir)
    val modelPath = java.nio.file.Files.createTempDirectory("graft_dsirm").toString + "/m"
    graft.ops.Corpus.writeDsirModel(graft.ops.Corpus.dsirModel(docs), modelPath)
    val src = java.nio.file.Files.createTempDirectory("graft_dsir_src").toString
    val dest = java.nio.file.Files.createTempDirectory("graft_dsir_dest").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_ckpt").toString
    // stage as several files; cap one file per trigger to force multiple
    // micro-batches — per-doc scores must not depend on the batching
    docs.repartition(3).write.mode("overwrite").parquet(src)
    CorpusStream.dsirScoreOnce(spark, src, modelPath, dest, ckpt,
      maxFilesPerTrigger = 1)
    val streamed = spark.read.parquet(dest).drop("batch_id")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.ops.Corpus.dsirScore(docs,
      graft.ops.Corpus.loadDsirModel(spark, modelPath))
      .orderBy("doc_id").collect().toSeq
    assert(streamed === batch)
    // rerunning with the same checkpoint is a no-op (exactly-once)
    CorpusStream.dsirScoreOnce(spark, src, modelPath, dest, ckpt)
    assert(spark.read.parquet(dest).count() === batch.size)
  }

  test("monotone hwm guard: lost-checkpoint redelivery is a no-op with ZERO stored-id scan") {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    // r15 verdict item 2: the full anti-join guard read the ENTIRE
    // stored vec_id column per batch (3.0 M rows / 7.6 k files at
    // sf100) — cost ∝ corpus, contradicting the row's own contract.
    // Under the monotone-producer contract the guard is one filter
    // against the layout's high-water mark: this spec proves (a) the
    // no-op, (b) that NO stored-id rows are scanned doing it.
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id") < n / 2)
    val late = emb.filter(col("vec_id") >= n / 2)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_hwm_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(base), idxPath)
    assert(IvfStore.readMeta(spark, idxPath).hwm === Some(n / 2 - 1),
      "a fresh write must record the layout's high-water mark")
    val src = java.nio.file.Files.createTempDirectory("graft_hwm_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hwm_ck").toString
    late.coalesce(1).write.mode("overwrite").parquet(src)
    EmbeddingStream.ingestOnce(spark, src, idxPath, ckpt)
    assert(Similarity.loadIvfFlat(spark, idxPath).assigned.count() === n)
    assert(IvfStore.readMeta(spark, idxPath).hwm === Some(n - 1),
      "the append must promote the high-water mark")
    // lost checkpoint → full redelivery. Tap every executed scan of the
    // stored assigned tree: the hwm guard must produce the no-op from
    // the metadata sidecar alone.
    val scannedRows = new java.util.concurrent.atomic.AtomicLong(0)
    val tap = new org.apache.spark.sql.util.QueryExecutionListener {
      private def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: walk(q.plan)
        case other => other +: (other.children ++ other.subqueries).flatMap(walk)
      }
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        walk(qe.executedPlan).foreach {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(p =>
              p.toString.contains(idxPath) && p.toString.endsWith("/assigned")) =>
            scannedRows.addAndGet(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
          case _ => ()
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_hwm_ck2").toString
    spark.listenerManager.register(tap)
    try {
      EmbeddingStream.ingestOnce(spark, src, idxPath, ckpt2)
      // the execution listener delivers asynchronously — give the bus a
      // beat before reading the accumulated scan mass
      Thread.sleep(2000)
    } finally spark.listenerManager.unregister(tap)
    assert(Similarity.loadIvfFlat(spark, idxPath).assigned.count() === n,
      "redelivery must be a no-op")
    assert(scannedRows.get() === 0L,
      s"the hwm guard must not scan stored ids on redelivery, scanned ${scannedRows.get()}")
  }

  test("hwm guard over a multi-file monotone backlog: every batch lands; out-of-order needs the anti-join form") {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    // The guard's contract holds at FILE granularity (the file source
    // replays oldest-mtime-first). A round-robin staging of the same
    // rows violates it and the guard silently filters later batches as
    // redelivered — the shape that bit the stream bench live (twin
    // share 0.013). This pins both sides: an id-ranged ascending
    // backlog fully lands under monotoneIds; the interleaved staging
    // of the SAME rows fully lands only under the anti-join fallback.
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id") < n / 2)
    val late = emb.filter(col("vec_id") >= n / 2)
    def freshIndex(): String = {
      val p = java.nio.file.Files.createTempDirectory("graft_mono_idx").toString
      Similarity.writeIvfPartitioned(Similarity.buildIvf(base), p)
      p
    }
    def stage(parts: Seq[org.apache.spark.sql.DataFrame]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_mono_src").toString
      parts.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.parquet(s"$dir/f$i")
        val f = new java.io.File(s"$dir/f$i").listFiles()
          .filter(_.getName.startsWith("part-")).head
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(dir, f"chunk-$i%02d.parquet"))
        new java.io.File(dir, f"chunk-$i%02d.parquet")
          .setLastModified(1700000000000L + i * 1000L)
      }
      dir
    }
    val mid = (n / 2 + n) / 2
    // ascending id ranges in mtime order — the contract
    val okSrc = stage(Seq(
      late.filter(col("vec_id") < mid), late.filter(col("vec_id") >= mid)))
    val idx1 = freshIndex()
    EmbeddingStream.ingestOnce(spark, okSrc, idx1,
      java.nio.file.Files.createTempDirectory("graft_mono_ck1").toString,
      maxFilesPerTrigger = 1)
    assert(Similarity.loadIvfFlat(spark, idx1).assigned.count() === n,
      "an ascending multi-file backlog must fully land under the hwm guard")
    // the SAME rows interleaved (high range first) — contract violated:
    // the exact anti-join form must land them all
    val badSrc = stage(Seq(
      late.filter(col("vec_id") >= mid), late.filter(col("vec_id") < mid)))
    val idx2 = freshIndex()
    EmbeddingStream.ingestOnce(spark, badSrc, idx2,
      java.nio.file.Files.createTempDirectory("graft_mono_ck2").toString,
      maxFilesPerTrigger = 1, monotoneIds = false)
    assert(Similarity.loadIvfFlat(spark, idx2).assigned.count() === n,
      "an out-of-order backlog must fully land under the anti-join form")
  }

  test("a straddling batch under monotoneIds trips the guard: new-but-low ids land, not silently drop") {
    // r16 verdict item 5: with monotoneIds = true, out-of-order input
    // used to be silently dropped as "redelivered". The O(batch) min/max
    // straddle check must detect a batch whose ids span the hwm
    // (contract violation) and fall back to the exact anti-join — every
    // genuinely-new row lands, every stored row still dedups.
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    // store ids [0, n/2) EXCEPT [n/4, n/3) — a hole of new-but-low ids
    val base = emb.filter(col("vec_id") < n / 2 &&
      !(col("vec_id") >= n / 4 && col("vec_id") < n / 3))
    val idx = java.nio.file.Files.createTempDirectory("graft_straddle_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(base), idx)
    assert(IvfStore.readMeta(spark, idx).hwm === Some(n / 2 - 1))
    // the violating batch: the hole (ids ≤ hwm, NOT stored) + new high
    // ids + a stored redelivered slice — straddles the hwm
    val batch = emb.filter(
      (col("vec_id") >= n / 4 && col("vec_id") < n / 3) ||   // new, low
        col("vec_id") >= n / 2 ||                            // new, high
        col("vec_id") < n / 8)                               // redelivered
    IvfStore.append[IvfIndex](idx, batch, monotoneIds = true)
    val assigned = Similarity.loadIvfFlat(spark, idx).assigned
    assert(assigned.count() === n, "the hole's rows must land exactly once")
    assert(assigned.select("vec_id").distinct().count() === n,
      "redelivered rows must not duplicate under the fallback")
  }

  test("hwm pending two-phase: a crash between data commit and promote still dedups exactly") {
    import spark.implicits._
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id") < n / 2)
    val batchA = emb.filter(col("vec_id") >= n / 2)
    val idx = java.nio.file.Files.createTempDirectory("graft_pend_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(base), idx)
    val h = n / 2 - 1
    // CASE 1 — crash AFTER the append's data job committed, BEFORE the
    // promote: batchA's rows are on disk, hwm still h, pending staked.
    IvfStore.append[IvfIndex](idx, batchA, monotoneIds = true)
    val done = IvfStore.readMeta(spark, idx)
    assert(done.hwm === Some(n - 1) && done.pending.isEmpty)
    IvfStore.writeMeta(spark, idx,
      done.copy(hwm = Some(h), pending = Some(n - 1)))
    // redelivery: the recovery anti-join verifies exactly the (h, n-1]
    // window — nothing lands twice, and the mark resolves
    IvfStore.append[IvfIndex](idx, batchA, monotoneIds = true)
    val assigned = Similarity.loadIvfFlat(spark, idx).assigned
    assert(assigned.count() === n, "no duplicates after crash-window redelivery")
    assert(assigned.select("vec_id").distinct().count() === n)
    val resolved = IvfStore.readMeta(spark, idx)
    assert(resolved.hwm === Some(n - 1) && resolved.pending.isEmpty,
      "the verified pending mark must promote into hwm")
    // CASE 2 — crash BEFORE the data job: pending staked, no rows on
    // disk. Redelivery must land the batch exactly once.
    val idx2 = java.nio.file.Files.createTempDirectory("graft_pend_idx2").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(base), idx2)
    val m2 = IvfStore.readMeta(spark, idx2)
    IvfStore.writeMeta(spark, idx2, m2.copy(pending = Some(n - 1)))
    IvfStore.append[IvfIndex](idx2, batchA, monotoneIds = true)
    assert(Similarity.loadIvfFlat(spark, idx2).assigned.count() === n,
      "a staked-but-uncommitted batch must land on redelivery")
    // and the grown layout equals the in-memory append cell-for-cell
    val stored2 = Similarity.loadIvfFlat(spark, idx2)
    val mem = Similarity.appendToIvf(Similarity.IvfIndex(
      stored2.centroids,
      stored2.assigned.filter(col("vec_id") < n / 2)), batchA)
    assert(stored2.assigned.select("vec_id", "cell")
        .as[(Long, Int)].collect().toSet ===
      mem.assigned.select("vec_id", "cell").as[(Long, Int)].collect().toSet)
  }

  test("auto-compaction bounds the layout's file count; a pinned reader survives the flip") {
    import spark.implicits._
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val base = emb.filter(col("vec_id") < n / 4)
    val idx = java.nio.file.Files.createTempDirectory("graft_ac_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(base), idx)
    val nCells = Similarity.loadIvfFlat(spark, idx).nCells
    // a reader loaded BEFORE any compaction — generation 0
    val pinned = Similarity.loadIvfFlat(spark, idx)
    // three single-file batches at threshold 2: files/cell walks
    // 1→2→3 (trigger: 3 > 2) → compact to gen 1 → 1→2 — exactly one
    // flip, so the pinned gen-0 reader must stay valid throughout
    val src = java.nio.file.Files.createTempDirectory("graft_ac_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ac_ck").toString
    (1 to 3).foreach { i =>
      emb.withColumn("vec_id", col("vec_id") + n * i).coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(1100) // distinct mtimes → distinct micro-batches
    }
    EmbeddingStream.ingestOnce(spark, src, idx, ckpt, maxFilesPerTrigger = 1,
      autoCompactFilesPerCell = 2)
    val meta = IvfStore.readMeta(spark, idx)
    assert(IvfStore.versions(spark, idx).last === 2L,
      s"expected exactly one version flip, got ${IvfStore.versions(spark, idx)}")
    assert(meta.files <= 2 * nCells,
      s"file count must stay bounded without a manual step: ${meta.files} files / $nCells cells")
    // the pinned pre-compaction reader still serves (its directory is
    // retained until the compaction after next)
    assert(pinned.assigned.count() >= base.count())
    // the live generation holds every row exactly once
    val live = Similarity.loadIvfFlat(spark, idx)
    assert(live.assigned.count() === base.count() + 3 * n)
    assert(live.assigned.select("vec_id").distinct().count() === base.count() + 3 * n)
    // rows survived the flip cell-for-cell ≡ the in-memory append
    val mem = Similarity.appendToIvf(
      Similarity.IvfIndex(pinned.centroids,
        Similarity.loadIvfFlat(spark, idx).assigned.limit(0)),
      emb.withColumn("vec_id", col("vec_id") + n))
    val memSet = mem.assigned.select("vec_id", "cell").as[(Long, Int)].collect().toSet
    val liveSet = live.assigned.filter(col("vec_id") >= n && col("vec_id") < 2 * n)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(liveSet === memSet, "compaction must preserve assignments exactly")
    // ONE MORE compaction retires generation 0 — the documented
    // retention: a reader more than one compaction behind rebuilds
    IvfStore.compact[IvfIndex](spark, idx)
    assert(IvfStore.versions(spark, idx).last === 3L)
    assert(!IvfStore.versions(spark, idx).contains(1L),
      "version n-2 must be retired")
    assert(Similarity.loadIvfFlat(spark, idx).assigned.count() === base.count() + 3 * n)
  }

  test("served-query backfill fallback (equi-join form) equals the pruned served form") {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    // r15 verdict item 6: queryOnce falls back to the single-pass
    // equi-join form above the probe-pair bound (a backfill-sized batch
    // covers ~every cell, where static pruning is a pure loss). The
    // fallback must be invisible in the rows: drive the SAME drain
    // through each side of the boundary and compare outputs exactly.
    val emb = Tables.embeddings(spark, sfDir)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_fb_idx").toString
    Similarity.writeIvfPartitioned(Similarity.buildIvf(emb), idxPath)
    val queries = emb.filter(col("vec_id") < 12)
    val src = java.nio.file.Files.createTempDirectory("graft_fb_src").toString
    queries.repartition(2).write.mode("overwrite").parquet(src)
    def drained(tag: String, bound: Long): Seq[Seq[Any]] = {
      val dest = java.nio.file.Files.createTempDirectory(s"graft_fb_$tag").toString + "/out"
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_fb_ck_$tag").toString
      EmbeddingStream.queryOnce(spark, src, idxPath, dest, ckpt,
        maxFilesPerTrigger = 1, servedPairBound = bound)
      spark.read.parquet(dest).drop("batch_id")
        .orderBy("query_id", "rnk").collect().toSeq.map(_.toSeq)
    }
    val served = drained("served", Long.MaxValue) // every batch under the bound
    val fallback = drained("fallback", 0L)        // every batch above it
    assert(served.nonEmpty && served === fallback,
      "the backfill fallback must serve row-identical results")
  }
}
