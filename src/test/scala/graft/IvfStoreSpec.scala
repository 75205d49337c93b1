package graft

import graft.ops.{IvfCodec, IvfStore, Similarity}
import graft.ops.Similarity.{IvfIndex, IvfPqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The append guard and the publish contract of [[graft.ops.IvfStore]],
  * run once per codec from one table: every case below is registered
  * for the float codec and for the PQ codec, against the same corpus
  * split and the same fixed quantizer models.
  */
class IvfStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val n = emb.count()
  // one quantizer pair for every store the table builds: a case needs
  // fixed models, not a fresh fit per store
  private lazy val ivf = Similarity.buildIvf(emb)
  private lazy val pq = Similarity.trainPq(emb)

  /** One codec's row: its index form over a row subset, and its stored rows. */
  private abstract class Codec[I](val name: String, val dataDir: String)
                                 (implicit val codec: IvfCodec[I]) {
    def index(rows: IvfIndex): I
    def stored(index: I): DataFrame
    def publish(base: DataFrame): String = {
      val path = java.nio.file.Files.createTempDirectory(s"graft_store_$name").toString
      publishAt(base, path)
      path
    }
    def publishAt(base: DataFrame, path: String): Long =
      IvfStore.publish(index(IvfIndex(ivf.centroids,
        ivf.assigned.join(base.select("vec_id"), Seq("vec_id"), "left_semi"))), path)
    def append(path: String, batch: DataFrame, monotoneIds: Boolean = true): Unit =
      IvfStore.append[I](path, batch, monotoneIds)
    def rows(path: String): DataFrame = stored(IvfStore.load[I](spark, path))
    def cellFiles(path: String): Option[(Long, Long)] = IvfStore.cellFiles[I](spark, path)
  }
  private object FloatCodec extends Codec[IvfIndex]("float", "assigned") {
    def index(rows: IvfIndex) = rows
    def stored(index: IvfIndex) = index.assigned
  }
  private object PqCodec extends Codec[IvfPqIndex]("pq", "codes") {
    def index(rows: IvfIndex) = Similarity.ivfPq(rows, pq)
    def stored(index: IvfPqIndex) = index.codes
  }

  /** Rows scanned from `path`'s stored data (any version) while `body` runs. */
  private def storedRowsScanned(path: String, dataDir: String)(body: => Unit): Long = {
    val scanned = new java.util.concurrent.atomic.AtomicLong(0)
    // listener delivery is async: a query that finished just before the
    // tap was registered can still reach it, so only executions created
    // after this marker count
    val armedAt = spark.range(1).queryExecution.id
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
        if (qe.id > armedAt) walk(qe.executedPlan).foreach {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(p =>
              p.toString.contains(path) && p.toString.endsWith(s"/$dataDir")) =>
            scanned.addAndGet(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
          case _ => ()
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(tap)
    try {
      body
      Thread.sleep(2000) // listener delivery is async
    } finally spark.listenerManager.unregister(tap)
    scanned.get()
  }

  for (c <- Seq[Codec[_]](FloatCodec, PqCodec)) {

    test(s"[${c.name}] redelivery is a no-op that scans zero stored rows") {
      val late = emb.filter(col("vec_id") >= n / 2)
      val path = c.publish(emb.filter(col("vec_id") < n / 2))
      c.append(path, late)
      val m1 = IvfStore.readMeta(spark, path)
      assert(m1.hwm === Some(n - 1) && m1.pending.isEmpty,
        "the first monotone append must promote the hwm")
      assert(c.rows(path).count() === n)
      // a lost checkpoint replays the whole batch: the guard must no-op
      // from the sidecar alone
      val scanned = storedRowsScanned(path, c.dataDir)(c.append(path, late))
      assert(c.rows(path).count() === n, "redelivery must be a no-op")
      assert(scanned === 0L,
        s"the hwm guard must not scan stored rows on redelivery, scanned $scanned")
    }

    test(s"[${c.name}] a straddling batch falls back to the exact anti-join") {
      // store ids [0, n/2) EXCEPT [n/4, n/3) — a hole of new-but-low ids
      val path = c.publish(emb.filter(col("vec_id") < n / 2 &&
        !(col("vec_id") >= n / 4 && col("vec_id") < n / 3)))
      assert(IvfStore.readMeta(spark, path).hwm === Some(n / 2 - 1))
      // the hole (ids ≤ hwm, NOT stored) + new high ids + a stored
      // redelivered slice: min ≤ hwm < max breaks the monotone contract
      c.append(path, emb.filter(
        (col("vec_id") >= n / 4 && col("vec_id") < n / 3) ||
          col("vec_id") >= n / 2 ||
          col("vec_id") < n / 8))
      val stored = c.rows(path)
      assert(stored.count() === n, "the hole's rows must land exactly once")
      assert(stored.select("vec_id").distinct().count() === n,
        "redelivered rows must not duplicate under the fallback")
    }

    test(s"[${c.name}] a crash between commit and promote still dedups") {
      val base = emb.filter(col("vec_id") < n / 2)
      val batchA = emb.filter(col("vec_id") >= n / 2)
      // crash AFTER the data job committed, BEFORE the promote: rows on
      // disk, hwm still at the base, pending staked
      val path = c.publish(base)
      c.append(path, batchA)
      val done = IvfStore.readMeta(spark, path)
      assert(done.hwm === Some(n - 1) && done.pending.isEmpty)
      IvfStore.writeMeta(spark, path, done.copy(hwm = Some(n / 2 - 1), pending = Some(n - 1)))
      c.append(path, batchA)
      val stored = c.rows(path)
      assert(stored.count() === n, "no duplicates after crash-window redelivery")
      assert(stored.select("vec_id").distinct().count() === n)
      val resolved = IvfStore.readMeta(spark, path)
      assert(resolved.hwm === Some(n - 1) && resolved.pending.isEmpty,
        "the verified pending mark must promote into hwm")
      // crash BEFORE the data job: pending staked, no rows on disk —
      // redelivery must land the batch exactly once
      val path2 = c.publish(base)
      IvfStore.writeMeta(spark, path2,
        IvfStore.readMeta(spark, path2).copy(pending = Some(n - 1)))
      c.append(path2, batchA)
      assert(c.rows(path2).count() === n,
        "a staked-but-uncommitted batch must land on redelivery")
      // and the grown store is the in-memory append, cell-for-cell
      val mem = Similarity.appendToIvf(IvfIndex(ivf.centroids,
        ivf.assigned.join(base.select("vec_id"), Seq("vec_id"), "left_semi")), batchA)
      assert(c.rows(path2).select("vec_id", "cell").as[(Long, Int)].collect().toSet ===
        mem.assigned.select("vec_id", "cell").as[(Long, Int)].collect().toSet)
    }

    test(s"[${c.name}] a multi-file backlog lands in full") {
      val base = emb.filter(col("vec_id") < n / 2)
      val mid = (n / 2 + n) / 2
      val low = emb.filter(col("vec_id") >= n / 2 && col("vec_id") < mid)
      val high = emb.filter(col("vec_id") >= mid)
      // ascending id ranges, one append per file — the monotone contract
      val ok = c.publish(base)
      Seq(low, high).foreach(c.append(ok, _))
      assert(c.rows(ok).count() === n,
        "an ascending multi-file backlog must fully land under the hwm guard")
      // the same rows out of order need the exact anti-join form
      val outOfOrder = c.publish(base)
      Seq(high, low).foreach(c.append(outOfOrder, _, monotoneIds = false))
      assert(c.rows(outOfOrder).count() === n,
        "an out-of-order backlog must fully land under the anti-join form")
    }

    test(s"[${c.name}] republishing resets the sidecar: ids below the old hwm land") {
      val path = c.publish(emb.filter(col("vec_id") < n / 2))
      c.append(path, emb.filter(col("vec_id") >= n / 2))
      assert(IvfStore.readMeta(spark, path).hwm === Some(n - 1))
      // a fresh, smaller index published over the appended store
      c.publishAt(emb.filter(col("vec_id") < n / 4), path)
      val fresh = IvfStore.readMeta(spark, path)
      assert(fresh.hwm === Some(n / 4 - 1) && fresh.pending.isEmpty,
        "publish must reset the hwm from the published data")
      assert(c.cellFiles(path).map(_._1) === Some(fresh.files))
      // ids below the OLD hwm are new to this index: every row must land
      c.append(path, emb.filter(col("vec_id") >= n / 4 && col("vec_id") < n / 2))
      val stored = c.rows(path)
      assert(stored.count() === n / 2 && stored.select("vec_id").distinct().count() === n / 2,
        "an append below a stale hwm must not be filtered as redelivered")
      assert(c.cellFiles(path).map(_._1) === Some(IvfStore.readMeta(spark, path).files),
        "appends must keep the sidecar's file count equal to the listing")
    }
  }
}
