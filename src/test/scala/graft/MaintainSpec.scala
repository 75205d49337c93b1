package graft

import graft.sources.{ResultCache, ServingLayouts, SnapshotTable}
import graft.ops.{IvfStore, Similarity}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The operational maintenance loop (r10 verdict item 5): one entry
  * point reclaims debris across every retention system — stale serving
  * layouts + crashed stages, superseded IVF quantizer versions,
  * vacuumed snapshot versions, expired result-cache keys — while LIVE
  * stores survive untouched.
  */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  test("one sweep reclaims debris in all four systems; live stores survive") {
    // ---- serving layouts: one stale, one hot, one crashed stage ----
    val staleCorpus = Files.createTempDirectory("graft_mt_stale").toString
    val hotCorpus = Files.createTempDirectory("graft_mt_hot").toString
    val staleDir = ServingLayouts.dirFor("mt", staleCorpus)
    val hotDir = ServingLayouts.dirFor("mt", hotCorpus)
    Files.write(Paths.get(staleDir, "data"), "x".getBytes)
    Files.write(Paths.get(hotDir, "data"), "y".getBytes)
    ServingLayouts.markComplete(staleDir)
    ServingLayouts.markComplete(hotDir)
    Files.setLastModifiedTime(Paths.get(staleDir, "_layout_complete"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10_000_000))
    ServingLayouts.touch(hotDir)
    val crashedStage = ServingLayouts.privateStage("mt", hotCorpus)
    Files.setLastModifiedTime(Paths.get(crashedStage),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10_000_000))

    // ---- versioned IVF store with superseded versions, inside the
    // live ivf layout home of a corpus ----
    val ivfCorpus = Files.createTempDirectory("graft_mt_ivf").toString
    val ivfHome = ServingLayouts.dirFor("ivf", ivfCorpus)
    val store = ivfHome + "/ivf"
    val emb = Tables.embeddings(spark, sfDir)
    val index = Similarity.buildIvf(emb, 4)
    IvfStore.publish(index, store)
    IvfStore.publish(index, store)
    IvfStore.publish(index, store)
    ServingLayouts.markComplete(ivfHome)
    ServingLayouts.touch(ivfHome)
    assert(IvfStore.versions(spark, store).length === 3)

    // ---- snapshot table whose history contains an UNREFERENCED file:
    // the upsert rewrites partition a, orphaning v1's a-file ----
    val snap = Files.createTempDirectory("graft_mt_snap").toString + "/t"
    SnapshotTable.create(spark, snap,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "p", "ord"), Seq("p"))
    SnapshotTable.upsertKeepLast(spark, snap,
      Seq((1L, "a", 2L), (3L, "a", 2L)).toDF("k", "p", "ord"), Seq("k"), "ord")
    SnapshotTable.append(spark, snap, Seq((4L, "c", 3L)).toDF("k", "p", "ord"))

    // ---- result cache: one expired key, one fresh key ----
    val cacheRoot = Files.createTempDirectory("graft_mt_rc").toString
    val longAgo = System.currentTimeMillis() - 10_000_000
    ResultCache.getOrCompute(spark, cacheRoot, "expiredkey", ttlMs = 1000L,
      nowMs = () => longAgo)(Seq(1L).toDF("v"))
    ResultCache.getOrCompute(spark, cacheRoot, "freshkey", ttlMs = 1000000L)(
      Seq(2L).toDF("v"))

    // ---- the sweep ----
    // retention chosen WAY above any live suite's marker age (suites
    // share the layout root and run in parallel): only the two dirs
    // this test aged by 10_000_000 ms can cross the threshold
    val report = Maintain.run(spark, ivfCorpus,
      layoutAgeMs = 5_000_000,
      keepIvfVersions = 1,
      snapshotPaths = Seq(snap), snapshotKeep = 1,
      cacheRoots = Seq(cacheRoot), cacheTtlMs = 1000L)

    assert(report.ivfVersions === 2, "two superseded quantizer versions reclaimed")
    assert(IvfStore.versions(spark, store) === Seq(3L), "latest version survives")
    assert(report.layouts >= 2, "stale layout + crashed stage reclaimed")
    assert(!Files.exists(Paths.get(staleDir)), "stale layout gone")
    assert(!Files.exists(Paths.get(crashedStage)), "crashed stage gone")
    assert(Files.exists(Paths.get(hotDir, "data")), "recently-served layout survives")
    assert(Files.exists(Paths.get(ivfHome)), "the live ivf home survives its version GC")
    assert(report.snapshots > 0, "snapshot vacuum reclaimed the orphaned a-partition file")
    assert(SnapshotTable.read(spark, snap).select("k").as[Long].collect().toSet
      === Set(1L, 2L, 3L, 4L),
      "latest snapshot version reads intact after vacuum")
    assert(report.cacheDirs >= 1, "expired cache key reclaimed")
    assert(!Files.exists(Paths.get(cacheRoot, "expiredkey")), "expired key gone")
    assert(ResultCache.getOrCompute(spark, cacheRoot, "freshkey", ttlMs = 1000000L)(
      sys.error("fresh key must still serve from cache")).count() === 1)
  }

  test("scratch sweep reclaims a dead stale root; young, live, and unmarked roots survive") {
    import graft.sources.ScratchDirs
    // fixtures live in java.io.tmpdir — under GRAFT_SCRATCH the sweep
    // universe is elsewhere and this test's contrasts are meaningless
    assume(sys.env.get("GRAFT_SCRATCH").forall(_.trim.isEmpty))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 60 * 1000)
    // a DEAD root: owner marker present, everything backdated past the
    // age window — the crashed-JVM survivor the sweep exists for
    val dead = Files.createTempDirectory("graft-lsh-verify-dead")
    Files.write(dead.resolve("_scratch_owner"), "pid=0\n".getBytes("UTF-8"))
    Files.createDirectories(dead.resolve("verified"))
    Files.setLastModifiedTime(dead.resolve("_scratch_owner"), old)
    Files.setLastModifiedTime(dead, old)
    // a YOUNG dead root: marker present, fresh mtimes — could be a
    // concurrent JVM's active run, must survive
    val young = Files.createTempDirectory("graft-lsh-verify-young")
    Files.write(young.resolve("_scratch_owner"), "pid=0\n".getBytes("UTF-8"))
    // a LIVE root acquired by THIS JVM, backdated: exit-queue
    // membership protects it even past the age window
    val live = ScratchDirs.acquire(spark, "graft-lsh-verify-live")
    Files.setLastModifiedTime(Paths.get(live, "_scratch_owner"), old)
    Files.setLastModifiedTime(Paths.get(live), old)
    // an unmarked lookalike, backdated: not provably ours, never touched
    val unmarked = Files.createTempDirectory("graft-unmarked")
    Files.setLastModifiedTime(unmarked, old)

    val corpus = Files.createTempDirectory("graft_mt_scratch").toString
    val report = Maintain.run(spark, corpus,
      layoutAgeMs = Long.MaxValue, scratchAgeMs = 60000L)
    assert(report.scratchRoots >= 1, "the dead stale root is reclaimed")
    assert(!Files.exists(dead), "dead root gone")
    assert(Files.exists(young), "young root survives the age gate")
    assert(Files.exists(Paths.get(live)), "live root survives via the exit queue")
    assert(Files.exists(unmarked), "unmarked lookalike is never touched")
    ScratchDirs.release(spark, live)
    Files.delete(young.resolve("_scratch_owner")); Files.delete(young)
    Files.delete(unmarked)
  }

  test("ivf fragmentation signal: a slivered store recommends compaction, a compact one is quiet") {
    val corpus = Files.createTempDirectory("graft_mt_frag").toString
    val home = ServingLayouts.dirFor("ivf", corpus)
    // a fragmented latest version: 4 cells x 12 sliver files (the shape
    // continuous ingest leaves without the cell-coalescing write)
    val v1 = Paths.get(home, "ivf", "v00000001", "assigned")
    for (c <- 0 until 4) {
      Files.createDirectories(v1.resolve(s"cell=$c"))
      for (f <- 0 until 12)
        Files.write(v1.resolve(s"cell=$c/part-$f.parquet"), Array[Byte](1))
    }
    val r = Maintain.run(spark, corpus, layoutAgeMs = Long.MaxValue)
    assert(r.ivfFragmentation === Some((48L, 4L, true)),
      s"slivered store must recommend compaction, got ${r.ivfFragmentation}")
    // a compacted NEWER version (one file per cell) clears the signal —
    // the probe reads the latest version, which is what serving loads
    val v2 = Paths.get(home, "ivf", "v00000002", "assigned")
    for (c <- 0 until 4) {
      Files.createDirectories(v2.resolve(s"cell=$c"))
      Files.write(v2.resolve(s"cell=$c/part-0.parquet"), Array[Byte](1))
    }
    // --compact-ivf on an already-compact store must SKIP the
    // republish (r15 review: an ungated compact would full-rewrite the
    // corpus on every cron tick): these fixture files are not real
    // parquet, so an attempted compactIvf here would throw — the gate
    // not throwing IS the assertion, plus no new version appearing
    val r2 = Maintain.run(spark, corpus, layoutAgeMs = Long.MaxValue,
      compactIvfStore = true)
    assert(r2.ivfFragmentation === Some((4L, 4L, false)),
      s"compact latest version must be quiet, got ${r2.ivfFragmentation}")
    assert(IvfStore.versions(spark,
        ServingLayouts.dirFor("ivf", corpus) + "/ivf") === Seq(1L, 2L),
      "an already-compact store must not gain a version from --compact-ivf")
  }

  test("sweep of a corpus with no serving state reclaims nothing and creates nothing") {
    val empty = Files.createTempDirectory("graft_mt_none").toString
    val before = ServingLayouts.existingDirFor("ivf", empty)
    val report = Maintain.run(spark, empty, layoutAgeMs = Long.MaxValue)
    assert(before.isEmpty)
    assert(ServingLayouts.existingDirFor("ivf", empty).isEmpty,
      "a maintenance probe must not manufacture layout homes")
    assert(report.ivfVersions === 0 && report.snapshots === 0 && report.cacheDirs === 0)
  }
}
