package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Similarity.{IvfIndex, IvfPqIndex, PqModel}

/** What an [[IvfStore]] version holds besides its coarse centroids —
  * float vectors (`assigned`: vec_id, v, norm2, cell) or PQ codes with
  * their codebooks (`codes`: vec_id, codes, cell). The caller's index
  * type picks the codec (`IvfStore.load[IvfPqIndex](…)`), so a store
  * can never be read back under the other codec's shape by option.
  */
sealed abstract class IvfCodec[I](private[ops] val dataDir: String) {
  /** Every directory one version holds, by name. */
  private[ops] def frames(index: I): Seq[(String, DataFrame)]
  private[ops] def read(spark: SparkSession, dir: String): I
  /** Stored rows for freshly cell-assigned prepared vectors, encoded
    * against the model metadata of the version at `dir`.
    */
  private[ops] def encode(spark: SparkSession, dir: String, assigned: DataFrame): DataFrame
}

object IvfCodec {
  implicit object FloatVectors extends IvfCodec[IvfIndex]("assigned") {
    private[ops] def frames(ix: IvfIndex) = Seq("centroids" -> ix.centroids, dataDir -> ix.assigned)
    private[ops] def read(spark: SparkSession, dir: String) =
      IvfIndex(spark.read.parquet(s"$dir/centroids"), spark.read.parquet(s"$dir/$dataDir"))
    private[ops] def encode(spark: SparkSession, dir: String, assigned: DataFrame) = assigned
  }

  implicit object PqCodes extends IvfCodec[IvfPqIndex]("codes") {
    private[ops] def frames(ix: IvfPqIndex) =
      Seq("centroids" -> ix.centroids, "codebooks" -> ix.pq.codebooks, dataDir -> ix.codes)
    // geometry (mSubs, subDim) is restored from the codebooks themselves
    private def model(spark: SparkSession, dir: String): PqModel = {
      val codebooks = spark.read.parquet(s"$dir/codebooks")
      PqModel(codebooks, codebooks.agg(max(col("sub"))).head().getInt(0) + 1,
        codebooks.select(size(col("centroid"))).head().getInt(0))
    }
    private[ops] def read(spark: SparkSession, dir: String) =
      IvfPqIndex(spark.read.parquet(s"$dir/centroids"), model(spark, dir),
        spark.read.parquet(s"$dir/$dataDir"))
    private[ops] def encode(spark: SparkSession, dir: String, assigned: DataFrame) =
      Similarity.ivfPq(IvfIndex(spark.read.parquet(s"$dir/centroids"), assigned),
        model(spark, dir)).codes
  }
}

/** The one persisted IVF index layout, for both codecs:
  *
  * {{{
  *   <path>/_index_version            sidecar: change stamp, hwm, pending, files
  *   <path>/v00000001/centroids/      coarse quantizer
  *   <path>/v00000001/codebooks/      PQ codec only
  *   <path>/v00000001/_geometry_intent  optional serving-geometry marker
  *   <path>/v00000001/{assigned|codes}/cell=<c>/part-*.parquet
  * }}}
  *
  * A version is staged under `.tmp-*` and published with one atomic
  * directory rename ([[graft.sources.SnapshotTable.atomicPublishDir]]),
  * so a reader that loaded version v keeps reading exactly that
  * directory — old-or-new, never one version's centroids with
  * another's cells. Appends add files to the latest version's cells in
  * place; [[compact]] republishes it coalesced as v+1; [[vacuum]]
  * keeps the newest K versions.
  *
  * Single-writer discipline: appends, compactions and the sidecar
  * belong to one owner at a time (parquet append is already not safe
  * under concurrent writers). Publishes may race — exactly one rename
  * wins and the loser throws a retryable conflict.
  */
object IvfStore {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionDir(path: String, v: Long): Path = new Path(path, f"v$v%08d")

  /** Published versions at `path`, ascending; empty when none exist. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{8}")).map(_.drop(1).toLong).sorted
  }

  private def latestDir(spark: SparkSession, path: String): String = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no IVF store at $path")
    versionDir(path, vs.last).toString
  }

  /** The store's sidecar — one tiny `_index_version` file carrying
    * everything the continuous-ingest contract needs to stay O(batch):
    *
    *   - '''stamp''' (line 1): the change stamp a serving stream polls
    *     instead of re-listing the (at scale, million-file) data tree
    *     ([[graft.streaming.EmbeddingStream.queryOnce]] reloads only on
    *     a change). Every publish, append and compaction bumps it;
    *   - '''hwm''': the high-water mark — the largest vec_id the store
    *     holds. Under the monotone-producer contract (upstream assigns
    *     strictly increasing ids) the redelivery guard is a plain
    *     `vec_id > hwm` filter with zero stored-id scan;
    *   - '''pending''': staked to the incoming batch's max id BEFORE the
    *     append's data job and promoted into hwm after — a crash between
    *     the two leaves `pending > hwm`, and the next append resolves
    *     exactly that id window with a narrow anti-join whose stored-side
    *     scan parquet min/max stats bound to the files the crashed batch
    *     could have written;
    *   - '''files''': data files in the latest version (publish: one per
    *     cell; append: one per affected cell) — the fragmentation signal
    *     the auto-compaction trigger reads without listing anything.
    *
    * Publish and compaction reset all four from the data they publish.
    * A missing/torn sidecar reads as `IvfMeta(-1, None, None, -1)`:
    * stamp -1 never matches a poller's held stamp (reload every batch),
    * no hwm falls back to the exact anti-join guard, unknown files keeps
    * the auto-compaction trigger quiet — conservative, never wrong.
    */
  private[graft] case class IvfMeta(stamp: Long, hwm: Option[Long],
                                    pending: Option[Long], files: Long)

  private def metaPath(path: String) = new Path(path, "_index_version")

  private[graft] def readMeta(spark: SparkSession, path: String): IvfMeta = {
    val p = metaPath(path)
    val fs = fsOf(spark, path)
    try {
      if (!fs.exists(p)) IvfMeta(-1L, None, None, -1L)
      else {
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
        def kv(k: String): Option[Long] = lines.collectFirst {
          case l if l.startsWith(s"$k=") => l.stripPrefix(s"$k=").toLong
        }
        IvfMeta(lines.headOption.map(_.toLong).getOrElse(-1L), kv("hwm"), kv("pending"),
          kv("files").getOrElse(-1L))
      }
    } catch {
      case _: java.io.IOException | _: NumberFormatException => IvfMeta(-1L, None, None, -1L)
    }
  }

  private[graft] def writeMeta(spark: SparkSession, path: String, meta: IvfMeta): Unit = {
    val body = new StringBuilder
    body.append(meta.stamp).append('\n')
    meta.hwm.foreach(h => body.append(s"hwm=$h\n"))
    meta.pending.foreach(h => body.append(s"pending=$h\n"))
    if (meta.files >= 0) body.append(s"files=${meta.files}\n")
    val out = fsOf(spark, path).create(metaPath(path), true)
    try out.write(body.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Publish `index` as the next version of the store at `path` (the
    * first publish creates the store) and reset the sidecar from the
    * published data: stamp bumped, hwm = its max id, no pending mark,
    * files = one per cell. Data is written one file per cell — an
    * unshuffled partitionBy writes one sliver per (task × cell), and at
    * sf100 46 504 slivers for 2 M rows made serving latency ~95%
    * file-open overhead.
    *
    * `geometryIntent` (Some(explicit?)) stages a `_geometry_intent`
    * marker inside the version directory, so intent publishes
    * atomically with the version it describes; None writes no marker
    * and readers inherit the newest declared one
    * ([[geometryIntentExplicit]]). Returns the published version.
    */
  def publish[I](index: I, path: String, geometryIntent: Option[Boolean] = None)
                (implicit codec: IvfCodec[I]): Long = {
    val frames = codec.frames(index)
    val spark = frames.head._2.sparkSession
    val fs = fsOf(spark, path)
    val v = versions(spark, path).lastOption.getOrElse(0L) + 1
    val tmp = new Path(path, ".tmp-" + java.util.UUID.randomUUID().toString.take(12))
    frames.foreach {
      case (name, df) if name == codec.dataDir =>
        df.repartition(col("cell")).write.partitionBy("cell").parquet(s"$tmp/$name")
      case (name, df) => df.write.parquet(s"$tmp/$name")
    }
    geometryIntent.foreach { explicit =>
      val out = fs.create(new Path(tmp, "_geometry_intent"), true)
      try out.write((if (explicit) "explicit" else "derived").getBytes("UTF-8"))
      finally out.close()
    }
    graft.sources.SnapshotTable.atomicPublishDir(fs, tmp, versionDir(path, v))
    // hwm + file count from a read-back of the two columns just written,
    // never a re-execution of the input frame
    val st = spark.read.parquet(s"${versionDir(path, v)}/${codec.dataDir}")
      .agg(max(col("vec_id")), countDistinct(col("cell"))).head()
    writeMeta(spark, path, IvfMeta(math.max(0L, readMeta(spark, path).stamp) + 1,
      if (st.isNullAt(0)) None else Some(st.getLong(0)), None, st.getLong(1)))
    v
  }

  /** Load the latest version (or a pinned one); the returned readers
    * stay bound to that version's directory.
    */
  def load[I](spark: SparkSession, path: String, version: Long = -1L)
             (implicit codec: IvfCodec[I]): I =
    codec.read(spark,
      if (version >= 0) versionDir(path, version).toString else latestDir(spark, path))

  /** O(batch) monotone-contract check: under `monotoneIds = true` a
    * batch must be all-new (min id > hwm) or a redelivery (max id ≤ hwm).
    * A STRADDLING batch — min ≤ hwm < max — means the producer broke the
    * contract, and the plain hwm filter would silently drop its low ids
    * as "redelivered". Detection is one min/max aggregate over the
    * batch; on violation the caller falls back to the exact stored-id
    * anti-join and this says so loudly on stderr.
    */
  private def straddlesHwm(batch: DataFrame, h: Long, path: String): Boolean = {
    val mm = batch.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val straddles = !mm.isNullAt(0) && mm.getLong(0) <= h && mm.getLong(1) > h
    if (straddles) System.err.println(
      s"[graft] monotone-id contract VIOLATED at $path: batch ids " +
        s"[${mm.getLong(0)}, ${mm.getLong(1)}] straddle the high-water " +
        s"mark $h — falling back to the exact stored-id anti-join for " +
        "this batch (pass monotoneIds=false if the producer interleaves ids)")
    straddles
  }

  /** Append an embedding batch (vec_id, embedding) to the latest
    * version: assign cells against the STORED centroids, encode with the
    * stored codebooks (PQ), and write one new file per affected cell —
    * existing files are never rewritten, so cost ∝ batch at any corpus
    * size. Returns the refreshed loader of the latest version.
    *
    * Redelivery guard — ingest batches get replayed, and a re-appended
    * vec_id would be a duplicate candidate in every probe of its cell:
    *
    *   - `monotoneIds = true` (the streaming-ingest contract: upstream
    *     assigns strictly increasing ids): rows at or under the hwm are
    *     dropped by a plain filter, no stored-id scan. A batch that
    *     straddles the hwm falls back to the exact anti-join instead of
    *     dropping its new-but-low ids. Crash safety is the [[IvfMeta]]
    *     pending two-phase. Do not pass true for an id space that
    *     interleaves with stored ids at file granularity.
    *   - `monotoneIds = false` (default): the exact anti-join against
    *     the stored id column, correct for any id order at a per-batch
    *     cost ∝ corpus. It maintains the hwm too, so a store can move to
    *     the monotone form later.
    */
  def append[I](path: String, batch: DataFrame, monotoneIds: Boolean = false)
               (implicit codec: IvfCodec[I]): I = {
    val spark = batch.sparkSession
    val dir = latestDir(spark, path)
    val dataDir = s"$dir/${codec.dataDir}"
    val meta = readMeta(spark, path)
    val preparedB = Similarity.prepared(batch)
    def storedIds = spark.read.parquet(dataDir).select(col("vec_id"))
    val guarded = (if (monotoneIds) meta.hwm else None) match {
      case Some(h) if straddlesHwm(preparedB, h, path) =>
        preparedB.join(storedIds, Seq("vec_id"), "left_anti")
      case Some(h) =>
        meta.pending match {
          case Some(p) if p > h =>
            // crash window: a prior append may have committed rows for
            // ids in (h, p] without promoting hwm — verify exactly that
            // window; rows > p are provably new, rows ≤ h provably old
            preparedB.filter(col("vec_id") > h)
              .join(storedIds.filter(col("vec_id") > h), Seq("vec_id"), "left_anti")
          case _ => preparedB.filter(col("vec_id") > h)
        }
      case None => preparedB.join(storedIds, Seq("vec_id"), "left_anti")
    }
    val assigned = Similarity.assignCells(spark.read.parquet(s"$dir/centroids"), guarded,
      spreadKernel = true).persist()
    try {
      val st = assigned.agg(max(col("vec_id")), countDistinct(col("cell")), count(lit(1))).head()
      if (st.getLong(2) == 0L) {
        // full redelivery (or empty batch): nothing lands and the stamp
        // stays (no spurious serving reload); a pending mark this guard
        // just verified resolves to its promoted hwm
        meta.pending match {
          case Some(p) if meta.hwm.exists(p > _) =>
            writeMeta(spark, path, meta.copy(hwm = Some(p), pending = None))
          case _ => ()
        }
      } else {
        val storedMax = meta.hwm.orElse(meta.pending).getOrElse {
          val r = storedIds.agg(max(col("vec_id"))).head()
          if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
        }
        val newHwm = math.max(st.getLong(0), storedMax)
        writeMeta(spark, path, meta.copy(pending = Some(newHwm)))
        codec.encode(spark, dir, assigned)
          .repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(dataDir)
        writeMeta(spark, path, IvfMeta(math.max(0L, meta.stamp) + 1, Some(newHwm), None,
          if (meta.files >= 0) meta.files + st.getLong(1) else -1L))
      }
    } finally assigned.unpersist()
    codec.read(spark, dir)
  }

  /** Republish the latest version coalesced, one file per cell, as
    * v+1 — same centroids, codebooks and rows, no refit — and retire
    * every version older than the one compacted. A reader pinned to
    * that version keeps its directory for one compaction cycle and
    * picks up v+1 at its next stamp poll. Continuous ingest needs this:
    * each append adds ~one file per affected cell, and a 20-batch sf100
    * ingest ratcheted 1 056 files to 10 794 until serving was file-open
    * overhead. The declared geometry intent carries over. Returns v+1.
    */
  def compact[I](spark: SparkSession, path: String)(implicit codec: IvfCodec[I]): Long = {
    val before = versions(spark, path)
    val v = publish(load[I](spark, path), path, intentOf(spark, path))
    val fs = fsOf(spark, path)
    before.dropRight(1).foreach(old => fs.delete(versionDir(path, old), true))
    v
  }

  /** Retention-K GC: delete all but the newest `keepVersions` versions
    * plus any `.tmp-*` staging a crashed publish left behind. The latest
    * version is never deleted; a reader pinned to a reclaimed version
    * fails on its next scan — the same trade as
    * [[graft.sources.SnapshotTable.vacuum]], run on the owner's cadence
    * and never concurrently with a publish. Returns directories deleted.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) return 0
    val versionsGone = versions(spark, path).dropRight(keepVersions)
      .count(v => fs.delete(versionDir(path, v), true))
    val stagingGone = fs.listStatus(p).count(s =>
      s.getPath.getName.startsWith(".tmp-") && fs.delete(s.getPath, true))
    versionsGone + stagingGone
  }

  /** (data files, cells) of the latest version, by listing its cell
    * directories — the fragmentation probe [[graft.Maintain]] reports.
    * None when no version is published.
    */
  private[graft] def cellFiles[I](spark: SparkSession, path: String)
                                 (implicit codec: IvfCodec[I]): Option[(Long, Long)] =
    versions(spark, path).lastOption.map { v =>
      val data = new Path(versionDir(path, v), codec.dataDir)
      val fs = fsOf(spark, path)
      val cells = if (fs.exists(data))
        fs.listStatus(data).filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
      (cells.map(c => fs.listStatus(c.getPath)
        .count(_.getPath.getName.endsWith(".parquet")).toLong).sum, cells.length.toLong)
    }

  /** The newest version's declared geometry intent, if any declares one. */
  private def intentOf(spark: SparkSession, path: String): Option[Boolean] = {
    val fs = fsOf(spark, path)
    versions(spark, path).reverseIterator.map { v =>
      val p = new Path(versionDir(path, v), "_geometry_intent")
      try {
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(), "UTF-8").trim == "explicit") finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    }.collectFirst { case Some(b) => b }
  }

  /** Whether the store's geometry was chosen by an EXPLICIT nCells
    * override — read by the serving drift dashboard so a deliberately
    * chosen geometry never nags `rebuild_recommended`. Versions without
    * a marker inherit the newest declared intent; none means derived.
    */
  private[graft] def geometryIntentExplicit(spark: SparkSession, path: String): Boolean =
    intentOf(spark, path).getOrElse(false)
}
