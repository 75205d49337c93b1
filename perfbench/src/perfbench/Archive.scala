package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.{Curation, Similarity, StationQueries, TrainingPrep}
import graft.sources.{ResultCache, SnapshotTable}
import graft.streaming.EventStream

/** Class-loading pass run once per build under
  * `-XX:ArchiveClassesAtExit`: a few rows through each kind of code path
  * the workloads use, so the JVM's class-data archive covers them and
  * every measured run starts from the same archived classes.
  *
  * Usage: perfbench.Archive <scratch dir>
  */
object Archive {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.builder(defaultCpus = Runtime.getRuntime.availableProcessors.toString)
      .config("spark.sql.warehouse.dir", s"$dir/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    Main.calibrate(spark)

    val events = (0 until 200).map { i =>
      (i.toLong, java.time.LocalDateTime.of(2024, 1, 1 + i % 3, i % 24, 0), (i % 7).toLong,
        "view", (i % 300).toDouble, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.parquet(s"$dir/events/e0.parquet")
    val src = spark.read.parquet(s"$dir/events/e0.parquet").withColumn("dt", to_date(col("ts")).cast("string"))
    val table = s"$dir/table"
    SnapshotTable.create(spark, table, src, Seq("dt"))
    SnapshotTable.upsertKeepLast(spark, table, src.limit(20), Seq("user_id", "ts"), "event_id")
    val t = SnapshotTable.read(spark, table)
    ResultCache.getOrCompute(spark, s"$dir/cache", "k", 60000L)(
      StationQueries.timeseriesStation(t, 1L, "2024-01-01 00:00:00", "2024-01-03 00:00:00")).collect()
    StationQueries.latestPerKey(t).collect()

    val q = EventStream.upsertSinkSnapshot(spark, EventStream.source(spark, s"$dir/events"),
      s"$dir/stream-table", s"$dir/ck")
    q.processAllAvailable()
    q.stop()

    val docs = (0 until 60).map(i => (i.toLong, s"the cat sat on the mat number ${i % 20} of the day", "en",
      s"src${i % 3}", 40L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    TrainingPrep.mixPack(docs.join(Curation.curateKeepBest(docs).select("doc_id"), "doc_id")).collect()

    val emb = (0 until 64).map(i => (i.toLong, Array.tabulate(8)(j => ((i * 7 + j) % 13).toFloat))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(Similarity.buildIvf(emb, 4), s"$dir/ivf")
    spark.stop()
    Files.write(Paths.get(dir, "done"), Array.emptyByteArray)
  }
}
