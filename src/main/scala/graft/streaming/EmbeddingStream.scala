package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{IvfStore, Similarity}
import graft.ops.Similarity.IvfIndex

/** Continuous vector ingest and serving over one float-codec
  * [[graft.ops.IvfStore]] — version directories `v<8 digits>/` holding
  * centroids and the cell-partitioned `assigned` rows, plus one sidecar
  * with the change stamp, high-water mark, pending mark and file count.
  * Embedding batches land as files and each micro-batch is assigned
  * against the stored coarse quantizer and appended
  * ([[graft.ops.IvfStore.append]]) into only the affected `cell=`
  * partitions of the latest version. This is how a vector store
  * grows under continuous embedding production (the crawl→embed→index
  * tail of the pipeline) without ever rebuilding or re-shuffling the
  * indexed corpus: per-batch cost ∝ batch size, and serving queries
  * ([[graft.ops.Similarity.queryIvf]]) see new vectors as soon as
  * their files land.
  *
  * Exactly-once is layered: the checkpoint makes each FILE processed
  * once per checkpoint lineage, and the append's high-water-mark
  * redelivery guard ([[graft.ops.IvfStore.append]], monotone form —
  * one filter against the sidecar's hwm, cost ∝ batch and never
  * corpus) makes redelivery with a fresh/lost
  * checkpoint a no-op rather than a duplicate-candidate source — both
  * layers are spec-driven. The quantizer stays FIXED across appends
  * (spec-proven ≡ KMeans.transform); drift shows up in ivf_cell_stats
  * and triggers an offline retrain, never an in-stream one.
  */
object EmbeddingStream {

  /** Drain all staged embedding files into the float-codec
    * [[graft.ops.IvfStore]] at `indexPath`.
    * `Trigger.AvailableNow` processes the backlog and terminates; a
    * live deployment swaps in a processing-time trigger on the same
    * DAG and checkpoint.
    *
    * `monotoneIds = true` is the pipeline contract (the upstream embed
    * stage assigns strictly increasing vec_ids), and what keeps the
    * redelivery guard O(batch) — pass false for an out-of-order id
    * space to fall back to the exact stored-id anti-join (cost ∝
    * corpus per batch). The contract must hold at FILE granularity:
    * the file source replays a backlog oldest-modification-time-first,
    * so every id in a later-landed file must exceed every id in an
    * earlier one (true for an id-assigning producer writing files in
    * sequence; NOT true for a round-robin re-staging of an existing
    * table — the guard would then filter the out-of-order remainder as
    * redelivered). Interleaved landings ⇒ use `monotoneIds = false`.
    *
    * `autoCompactFilesPerCell > 0` arms the fragmentation trigger: an
    * append leaves up to one new file per affected cell, so a
    * long-running ingest ratchets the layout's file count (measured
    * r15: 1 056 → 10 794 files over a 20-batch sf100 ingest) and
    * serving latency silently degrades into file-open overhead. When
    * the sidecar's file count exceeds `threshold × nCells`, the batch
    * is followed by [[graft.ops.IvfStore.compact]] — the latest version
    * republished coalesced as v+1, which concurrent readers survive
    * (they hold version v, retired only one compaction later). 8 ≈
    * where the measured ~0.3 ms/open overhead reaches scan parity.
    * 0 disables (default): compaction cost sits on the ingest lane, so
    * it is the operator's explicit choice here or via Maintain.
    */
  def ingestOnce(spark: SparkSession, srcDir: String, indexPath: String,
                 checkpointDir: String, maxFilesPerTrigger: Int = 0,
                 monotoneIds: Boolean = true,
                 autoCompactFilesPerCell: Int = 0,
                 timingSink: (Long, String, Double) => Unit = (_, _, _) => ()): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = spark.readStream.schema(schema)
    // the trigger denominator: cells are fixed model metadata (the
    // quantizer never refits in-stream), so count them once per drain
    lazy val nCells = IvfStore.load[IvfIndex](spark, indexPath).nCells
    (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else reader)
      .parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def staged[T](stage: String)(body: => T): T = {
          val t0 = System.nanoTime()
          val r = body
          timingSink(batchId, stage, (System.nanoTime() - t0) / 1e6)
          r
        }
        staged("append") {
          IvfStore.append[IvfIndex](indexPath, batch, monotoneIds)
        }
        if (autoCompactFilesPerCell > 0) {
          // files < 0 = no readable sidecar: the trigger stays quiet
          // until a publish/compact writes one
          val files = IvfStore.readMeta(spark, indexPath).files
          if (files >= 0 && nCells > 0 && files > autoCompactFilesPerCell * nCells)
            staged("auto_compact") {
              IvfStore.compact[IvfIndex](spark, indexPath)
            }
        }
        ()
      }
      .start()
      .awaitTermination()
  }

  /** Continuous ANN query serving — the other face of the persisted
    * index: QUERY vectors land as files, each micro-batch probes the
    * store's latest version ([[graft.ops.Similarity.queryIvf]] —
    * centroids broadcast, only probed `cell=` partitions read) and the
    * top-k neighbor rows append to `destPath`. The index is reloaded
    * ONLY when the sidecar's change stamp moves (every [[ingestOnce]]
    * append and compaction bumps it): an unchanged-stamp batch
    * reuses the held reader, so steady-state serving pays one tiny
    * stamp read per micro-batch instead of re-listing the (at scale,
    * million-file) `assigned/` tree — the 100× form of the
    * ingest-while-serving loop, with the index directory the only
    * coupling. Appends are visible at the NEXT micro-batch after their
    * bump, exactly as with a per-batch re-read; a missing sidecar
    * reads as -1, which never matches a held stamp, so it
    * conservatively reloads every batch. A
    * query's result depends on nothing but itself and the index
    * snapshot, so batching never changes any row (spec: drained
    * stream ≡ batch query set when the index is quiescent). Results
    * land in per-`batch_id=` directories written with overwrite: a
    * replayed batch (mid-commit crash, lost offset) rewrites its
    * directory instead of appending duplicates.
    *
    * Returns the number of index (re)loads performed — the stamp-poll
    * spec's observable (1 for a fully quiescent drain).
    */
  def queryOnce(spark: SparkSession, srcDir: String, indexPath: String,
                destPath: String, checkpointDir: String, k: Int = 5,
                nProbe: Int = 4, maxFilesPerTrigger: Int = 0,
                timingSink: (Long, String, Double) => Unit = (_, _, _) => (),
                servedPairBound: Long = 1000000L): Int = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = spark.readStream.schema(schema)
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else reader).parquet(srcDir)
    // foreachBatch runs on the driver, sequentially per batch — plain
    // vars are safe and live for this query run only
    var servedStamp = Long.MinValue
    var served: IvfIndex = null
    var loads = 0
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-stage attribution (r14 verdict item 3: the serving-latency
        // slope needs an owner) — same sink contract as CorpusStream
        def staged[T](stage: String)(body: => T): T = {
          val t0 = System.nanoTime()
          val r = body
          timingSink(batchId, stage, (System.nanoTime() - t0) / 1e6)
          r
        }
        val stamp = staged("stamp_poll")(IvfStore.readMeta(spark, indexPath).stamp)
        if (served == null || stamp < 0 || stamp != servedStamp) {
          staged("index_load") {
            // the store resolves the latest version, so a compaction's
            // v+1 (a stamp bump) lands here like any append — and the
            // reader it replaces stays valid until the compaction after
            served = IvfStore.load[IvfIndex](spark, indexPath)
          }
          servedStamp = stamp
          loads += 1
        }
        val index = served
        val queries = Similarity.prepared(batch)
          .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
            org.apache.spark.sql.functions.col("v").as("qv"),
            org.apache.spark.sql.functions.col("norm2").as("qn2"))
        // queryIvfServed, not queryIvf: a serving micro-batch is small
        // by contract, and the served form's static cell predicate is
        // what bounds per-batch index I/O at the probed union — the
        // equi-join form re-scanned the ENTIRE index every micro-batch
        // (the r14 16× serving slope, measured via scan metrics in r15).
        // A BACKFILL driven through this path can deliver huge batches
        // (maxFilesPerTrigger=0 drains everything at once): above the
        // bound the probed union covers ~every cell (pruning cannot
        // help a scan that needs all of them) and the served form pays
        // its probe kernel twice, so fall back to the single-pass
        // equi-join form. The count is one cheap batch-source job; at
        // serving sizes it is noise next to the probed scan (measured:
        // sf1 batch p50 878 ms with it vs 891 before it existed).
        staged("probe_score_write") {
          val nQ = batch.count()
          // `scored`, not `served`: the outer `var served` two scopes up
          // is the cached IvfIndex — shadowing it here invited a future
          // edit to silently grab the DataFrame instead (r15 advisor)
          // servedPairBound parameterized so the fallback-equivalence
          // spec can force each side of the boundary on one batch size
          val scored =
            if (nQ * nProbe <= servedPairBound) Similarity.queryIvfServed(index, queries, k, nProbe)
            else Similarity.queryIvf(index, queries, k, nProbe)
          scored.write.mode("overwrite").parquet(s"$destPath/batch_id=$batchId")
        }
      }
      .start()
      .awaitTermination()
    loads
  }
}
