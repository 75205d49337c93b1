package graft

import graft.ops.{IvfStore, Similarity}
import graft.ops.Similarity.{IvfIndex, IvfPqIndex}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("brute-force knn: k rows per query, ranked by descending cosine") {
    val out = Similarity.knnBruteForce(Tables.embeddings(spark, sfDir))
      .as[(Long, Long, Double, Long)].collect()
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size === 10)
    assert(byQuery.values.forall(_.length === 5))
    byQuery.values.foreach { rows =>
      val ordered = rows.sortBy(_._4)
      assert(ordered.map(_._3).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("near-dup pairs are above threshold and a<b") {
    val out = Similarity.embeddingNearDups(Tables.embeddings(spark, sfDir))
      .as[(Long, Long, Double)].collect()
    assert(out.forall(p => p._1 < p._2 && p._3 >= 0.45))
  }

  test("LSH near-dup pairs equal the exact all-pairs result") {
    val e = Tables.embeddings(spark, sfDir)
    val exact = Similarity.embeddingNearDups(e)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val lsh = Similarity.embeddingNearDupsLsh(e)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("sliced exact verify produces the single-pass row set bit-for-bit") {
    // r12 verdict: at sf100 the verify join's in-flight intermediate is
    // ~0.7 TB in one plan; the sliced path bounds it by verifying one
    // hash-slice of the distinct candidate set per job. Slicing is a
    // partition of the pair set and verification is per-pair, so output
    // must be IDENTICAL — forced here by a tiny slice budget (the spec
    // corpus's candidate mass is ~200k, so this drives the real
    // multi-slice loop, temp layout and all).
    val e = Tables.embeddings(spark, sfDir)
    val single = Similarity.embeddingNearDupsLsh(e)
      .as[(Long, Long, Double)].collect().toSeq
    val sliced = Similarity.embeddingNearDupsLsh(e, slicePairsOverride = 60000L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(single.nonEmpty)
    assert(sliced === single, "sliced verify must be a pure partition of the verify work")
  }

  test("brute-force query-batch form equals the self-query form") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val base = Similarity.prepared(e)
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val a = Similarity.knnBruteForceQueries(base, q, excludeSelf = true)
      .collect().map(_.toSeq)
    val b = Similarity.knnBruteForce(e).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("external queries keep corpus rows whose vec_id collides with query_id") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val base = Similarity.prepared(e)
    // external query that reuses id 0 but is NOT corpus row 0: the
    // corpus vector 0 must stay in its candidate set (default
    // excludeSelf=false), so rank-1 is vec 0 itself at cos 1.0 when the
    // query vector IS vector 0's embedding under a colliding id
    val q = base.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val top = Similarity.knnBruteForceQueries(base, q, k = 1)
      .as[(Long, Long, Double, Long)].collect()
    assert(top.length === 1 && top.head._2 === 0L && top.head._3 === 1.0)
    val lshTop = Similarity.knnLshQueries(base, q, k = 1)
      .as[(Long, Long, Double, Long)].collect()
    assert(lshTop.length === 1 && lshTop.head._2 === 0L && lshTop.head._3 === 1.0)
  }

  test("LSH query-batch form equals the self-query form") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val base = Similarity.prepared(e)
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val a = Similarity.knnLshQueries(base, q, excludeSelf = true)
      .collect().map(_.toSeq)
    val b = Similarity.knnLsh(e).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("IVF index built once serves repeated query batches identically") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val index = Similarity.buildIvf(e)
    def queries(lo: Long, hi: Long) = index.assigned
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val batch1 = Similarity.queryIvf(index, queries(0, 5), excludeSelf = true)
      .collect().map(_.toSeq)
    val batch2 = Similarity.queryIvf(index, queries(5, 10), excludeSelf = true)
      .collect().map(_.toSeq)
    assert(batch1.nonEmpty && batch2.nonEmpty)
    // the composed form over the union of both batches gives the same rows
    val composed = Similarity.knnIvf(e, nQueries = 10).collect().map(_.toSeq)
    assert((batch1 ++ batch2).toSeq.sortBy(_.toString) === composed.toSeq.sortBy(_.toString))
  }

  test("served IVF query form is row-identical and statically partition-pruned") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_served").toString
    val index = Similarity.writeIvfPartitioned(Similarity.buildIvf(e), dir)
    val queries = index.assigned.filter(col("vec_id") < 7)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    // identical rows: the served form may only change the scan set,
    // never the result (same probes head, same rank tail)
    val batchForm = Similarity.queryIvf(index, queries, excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    val servedForm = Similarity.queryIvfServed(index, queries, excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    assert(batchForm.nonEmpty && servedForm === batchForm)
    // and the served plan's index scan carries a STATIC cell partition
    // filter — the property the equi-join form lacks (measured in r15:
    // without it every serving micro-batch scanned all cells)
    val served = Similarity.queryIvfServed(index, queries, excludeSelf = true)
    // walk THROUGH the AQE wrapper: its initial plan carries the scans
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: walk(a.initialPlan)
        case o => o +: (o.children ++ o.subqueries).flatMap(walk)
      }
    val scans = walk(served.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivf_served")) => f
    }
    // the queries in this test are themselves corpus rows, so SOME
    // assigned/ scans (the query source, the probe head) are rightly
    // unpruned — the contract is that the rank-tail index scan carries
    // the static IN-set over the probed cells
    assert(scans.exists(_.partitionFilters.exists(_.toString.contains("INSET"))),
      s"served index scan must carry a static cell IN-set, got:\n${scans.mkString("\n")}")
  }

  test("IVF writes coalesce per cell; appends bound fragmentation; compactIvf restores it") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val e = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_frag").toString
    def filesPerCell(assigned: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get(assigned)
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("cell="))
          .map { p =>
            val c = java.nio.file.Files.list(p)
            try p.getFileName.toString ->
              c.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
            finally c.close()
          }.toMap
      } finally s.close()
    }
    // fresh build: ONE file per cell (the write path shuffles by cell —
    // without it every task writes a sliver into every cell dir; the
    // r12 sf100 build left 46 504 files for 2 M rows and serving paid
    // ~15 s/batch opening them)
    Similarity.writeIvfPartitioned(Similarity.buildIvf(e), dir)
    val fresh = filesPerCell(s"$dir/v00000001/assigned")
    assert(fresh.nonEmpty && fresh.values.forall(_ == 1),
      s"fresh layout must be one file per cell, got $fresh")
    // three appends: at most one NEW file per affected cell per batch
    val maxId = e.agg(smax("vec_id")).head.getLong(0)
    (1 to 3).foreach { i =>
      IvfStore.append[IvfIndex](dir,
        e.withColumn("vec_id", col("vec_id") + (maxId + 1) * i))
    }
    val grown = filesPerCell(s"$dir/v00000001/assigned")
    assert(grown.values.forall(_ <= 4),
      s"3 appends may add at most 3 files per cell, got ${grown.values.max}")
    // fabricate a fragmented STORE version (the flat layout above, with
    // its per-append files, is exactly the shape continuous ingest
    // leaves) and compact it: v2 is ~one file per cell, rows identical
    val store = java.nio.file.Files.createTempDirectory("graft_ivf_store").toString + "/ivf"
    val v1 = java.nio.file.Paths.get(store, "v00000001")
    java.nio.file.Files.createDirectories(v1)
    def cp(src: String, dst: java.nio.file.Path): Unit = {
      val s = java.nio.file.Paths.get(src)
      val w = java.nio.file.Files.walk(s)
      try w.forEach { p =>
        val d = dst.resolve(s.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
        else java.nio.file.Files.copy(p, d)
      } finally w.close()
    }
    cp(s"$dir/v00000001/assigned", v1.resolve("assigned"))
    cp(s"$dir/v00000001/centroids", v1.resolve("centroids"))
    val before = IvfStore.load[IvfIndex](spark, store)
    val rowsBefore = before.assigned.orderBy(col("vec_id")).collect().map(_.toSeq).toSeq
    val v2 = IvfStore.compact[IvfIndex](spark, store)
    assert(v2 === 2L)
    val compacted = filesPerCell(
      java.nio.file.Paths.get(store, "v00000002", "assigned").toString)
    assert(compacted.values.forall(_ == 1),
      s"compacted version must be one file per cell, got $compacted")
    val after = IvfStore.load[IvfIndex](spark, store)
    assert(after.assigned.orderBy(col("vec_id")).collect().map(_.toSeq).toSeq === rowsBefore,
      "compaction must not change a single row")
  }

  test("int8 quantization bounds codes and round-trip error") {
    import org.apache.spark.sql.functions.{col, expr}
    val q = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
    // codes live in the int8 range
    val agg = q.selectExpr("min(array_min(codes))", "max(array_max(codes))")
      .as[(Long, Long)].collect().head
    assert(agg._1 >= -127L && agg._2 <= 127L)
    // dequantization error is within half a quantization step everywhere
    val viol = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
      .join(Similarity.prepared(Tables.embeddings(spark, sfDir)), "vec_id")
      .withColumn("err", expr("array_max(zip_with(v, codes, (x, c) -> abs(x - c * scale)))"))
      .filter(col("err") > col("scale") * 0.5 + 1e-12).count()
    assert(viol === 0)
  }

  test("cell-partitioned IVF probes prune to the probed cells' files") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val built = Similarity.buildIvf(e)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val loaded = Similarity.writeIvfPartitioned(built, dir)
    // results through the persisted index match the in-memory index
    def q(ix: Similarity.IvfIndex) = ix.assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val a = Similarity.queryIvf(built, q(built), excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    val b = Similarity.queryIvf(loaded, q(loaded), excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
    // a single-cell read plans a partition-pruned scan, not a full scan
    val pruned = loaded.assigned.filter(col("cell") === 0)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("cell"),
      scan.metadata.mkString("\n"))
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files)
    val allFiles = new java.io.File(s"$dir/v00000001/assigned").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(files.nonEmpty && allFiles > 1)
    assert(files.forall(_.getPath.toString.contains("cell=0")),
      files.map(_.getPath.toString).mkString("\n"))
  }

  test("quantized-code search preserves brute-force recall") {
    import org.apache.spark.sql.functions.{col, expr}
    val e = Tables.embeddings(spark, sfDir)
    // dequantized corpus: codes * scale stand in for the float vectors
    val deq = Similarity.quantizeInt8(e)
      .select(col("vec_id"),
        expr("transform(codes, c -> c * scale)").as("embedding"))
    val exact = Similarity.knnBruteForce(e)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val viaCodes = Similarity.knnBruteForce(deq)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, nbrs) =>
      viaCodes.get(qid).map(s => (s intersect nbrs).size.toDouble / nbrs.size).getOrElse(0.0)
    }
    assert(recalls.sum / recalls.size >= 0.8,
      s"int8 recall ${recalls.sum / recalls.size}")
  }

  test("LSH ANN achieves decent recall of the exact top-5") {
    val e = Tables.embeddings(spark, sfDir)
    val exact = Similarity.knnBruteForce(e)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.knnLsh(e)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, nbrs) =>
      approx.get(q).map(a => (a intersect nbrs).size.toDouble / nbrs.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // 2×8-bit bands over random data: useful-but-lossy is expected; the
    // operator contract is "bucketed candidates, exact rerank".
    assert(mean > 0.2, s"mean LSH recall $mean too low")
  }

  test("incremental IVF append assigns like the trained model and serves the union") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val built = Similarity.buildIvf(e)
    // fixed-centroid assignment reproduces KMeans.transform cell-for-cell
    val reassigned = Similarity.appendToIvf(
      Similarity.IvfIndex(built.centroids, built.assigned.limit(0)), e)
    val drift = built.assigned.select("vec_id", "cell")
      .except(reassigned.assigned.select("vec_id", "cell")).count()
    assert(drift === 0)
    // index grown from half the corpus + appended other half ≡ the
    // full index under the same quantizer (same cells, same answers)
    val half = e.filter(col("vec_id") % 2 === 0)
    val rest = e.filter(col("vec_id") % 2 === 1)
    val grown = Similarity.appendToIvf(
      Similarity.IvfIndex(built.centroids,
        Similarity.appendToIvf(Similarity.IvfIndex(built.centroids,
          built.assigned.limit(0)), half).assigned), rest)
    def q(ix: Similarity.IvfIndex) = ix.assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val a = Similarity.queryIvf(reassigned, q(reassigned), excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    val b = Similarity.queryIvf(grown, q(grown), excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    assert(a === b && a.nonEmpty)
    // the persisted layout appends the same way: half written, half
    // appended file-level ≡ the full in-memory index
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.writeIvfPartitioned(
      Similarity.IvfIndex(built.centroids,
        built.assigned.join(half.select("vec_id"), Seq("vec_id"), "left_semi")), dir)
    val appended = IvfStore.append[IvfIndex](dir, rest)
    val c = Similarity.queryIvf(appended, q(appended), excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    assert(c === a)
  }

  test("IVF-SQ8 (codes-served cells) loses no recall vs float IVF") {
    val e = Tables.embeddings(spark, sfDir)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.knnBruteForce(e)
        .as[(Long, Long, Double, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = df.as[(Long, Long, Double, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.map { case (q, nbrs) =>
        got.get(q).map(a => (a intersect nbrs).size.toDouble / nbrs.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    // the claim under test: serving from int8 codes costs (almost) no
    // recall ON TOP of IVF probing — probing loss itself is a tuning
    // choice (nProbe/nCells) already visible in the float path on this
    // deliberately fragmented tiny-corpus geometry (500 vecs, 16 cells)
    val floatIvf = recallOf(Similarity.knnIvf(e))
    val sq8Ivf = recallOf(Similarity.knnIvfSq8(e))
    assert(sq8Ivf >= floatIvf - 0.05, s"sq8 $sq8Ivf vs float $floatIvf")
    assert(sq8Ivf > 0.5, s"IVF-SQ8 recall $sq8Ivf")
    // and with every cell probed, the int8 step alone keeps ≥0.8 —
    // consistent with the quantized-code spec above
    val full = recallOf(Similarity.knnIvfSq8(e, nProbe = 16))
    assert(full >= 0.8, s"full-probe IVF-SQ8 recall $full")
  }

  test("PQ codes are m small ints; IVF-PQ with full probe + rerank keeps recall") {
    val e = Tables.embeddings(spark, sfDir)
    val pq = Similarity.trainPq(e)
    val codes = Similarity.encodePq(pq, Similarity.prepared(e)).cache()
    assert(codes.count() === e.count())
    // every vector encodes to exactly mSubs codes in [0, kCentroids)
    import org.apache.spark.sql.functions.{col, expr, size}
    val badShape = codes.filter(size(col("codes")) =!= 8).count()
    val badRange = codes.filter(expr(
      "exists(codes, c -> c < 0 OR c >= 32)")).count()
    assert(badShape === 0 && badRange === 0)
    // deterministic encode (seeded kmeans, argmin tie-broken on cid)
    val again = Similarity.encodePq(pq, Similarity.prepared(e.repartition(7)))
    assert(codes.except(again).count() === 0)
    codes.unpersist()

    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.knnBruteForce(e)
        .as[(Long, Long, Double, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = df.as[(Long, Long, Double, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.map { case (q, nbrs) =>
        got.get(q).map(a => (a intersect nbrs).size.toDouble / nbrs.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    // full probe isolates the PQ/ADC step from IVF probing loss; the
    // exact rerank over the ADC shortlist is what restores precision —
    // 8-byte codes steering a 50-candidate exact pass (geometry chosen
    // against this corpus's weak cluster structure; a clustered corpus
    // tolerates far coarser codes)
    val full = recallOf(Similarity.knnIvfPq(e, nProbe = 16))
    assert(full >= 0.75, s"full-probe IVF-PQ recall $full")
    // default probing stays within sane loss of float IVF on the same
    // fragmented tiny-corpus geometry
    val dflt = recallOf(Similarity.knnIvfPq(e))
    val floatIvf = recallOf(Similarity.knnIvf(e))
    assert(dflt >= floatIvf - 0.25, s"ivf-pq $dflt vs float ivf $floatIvf")
  }

  test("persisted IVF-PQ serves identically and prunes code reads by cell") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val ivf = Similarity.buildIvf(e)
    val pq = Similarity.trainPq(e)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    IvfStore.publish(Similarity.ivfPq(ivf, pq), dir)
    val IvfPqIndex(centroids, pqLoaded, codes) = IvfStore.load[IvfPqIndex](spark, dir)
    assert(pqLoaded.mSubs === pq.mSubs && pqLoaded.subDim === pq.subDim)
    val queries = Similarity.prepared(e).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val stored = Similarity.queryIvfPq(centroids, pqLoaded, codes, queries,
      Similarity.prepared(e), excludeSelf = true).collect().map(_.toSeq).toSeq
    val mem = Similarity.knnIvfPq(e).collect().map(_.toSeq).toSeq
    assert(stored === mem)
    // the codes table is the cell-partitioned layout and prunes like IVF
    val scan = codes.filter(col("cell") === 0).queryExecution.executedPlan
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(scan.metadata("PartitionFilters").contains("cell"))
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files)
    assert(files.nonEmpty &&
      files.forall(_.getPath.toString.contains("cell=0")))
  }

  test("IVF-PQ append encodes against stored models and only adds files") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val initial = e.filter(col("vec_id") % 5 =!= 4)
    val batch = e.filter(col("vec_id") % 5 === 4)
    // models trained on the INITIAL corpus only — the realistic shape
    val ivf = Similarity.buildIvf(initial)
    val pq = Similarity.trainPq(initial)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    IvfStore.publish(Similarity.ivfPq(ivf, pq), dir)
    val before = new java.io.File(s"$dir/v00000001/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .map(_.getAbsolutePath).toSet
    IvfStore.append[IvfPqIndex](dir, batch)
    // existing files untouched, new files appended
    val after = new java.io.File(s"$dir/v00000001/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).flatMap(_.listFiles())
      .map(_.getAbsolutePath).toSet
    assert(before.subsetOf(after) && after.size > before.size)
    // the grown stored index serves exactly like the in-memory union
    // encoded with the same fixed models
    val IvfPqIndex(centroids, pqL, codes) = IvfStore.load[IvfPqIndex](spark, dir)
    assert(codes.count() === e.count())
    val grownIvf = Similarity.appendToIvf(ivf, batch)
    val memCodes = Similarity.encodePq(pq, grownIvf.assigned)
      .join(grownIvf.assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val queries = Similarity.prepared(e).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val stored = Similarity.queryIvfPq(centroids, pqL, codes, queries,
      Similarity.prepared(e), excludeSelf = true).collect().map(_.toSeq).toSeq
    val mem = Similarity.queryIvfPq(ivf.centroids, pq, memCodes, queries,
      Similarity.prepared(e), excludeSelf = true).collect().map(_.toSeq).toSeq
    assert(stored === mem)
  }

  test("IVF-PQ monotone hwm guard: redelivery is a no-op with zero stored-code scan; crash window dedups") {
    import org.apache.spark.sql.functions.col
    // r16: appendToIvfPq gets the same O(batch) redelivery guard as the
    // float path — under the monotone-producer contract the guard is one
    // filter vs the stamped hwm (the general anti-join read the FULL
    // stored vec_id column per batch; at sf100 that is 2 M rows).
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val initial = e.filter(col("vec_id") < n / 2)
    val batch = e.filter(col("vec_id") >= n / 2)
    val ivf = Similarity.buildIvf(initial)
    val pq = Similarity.trainPq(initial)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_hwm").toString
    IvfStore.publish(Similarity.ivfPq(ivf, pq), dir)
    IvfStore.append[IvfPqIndex](dir, batch, monotoneIds = true)
    val m1 = IvfStore.readMeta(spark, dir)
    assert(m1.hwm === Some(n - 1) && m1.pending.isEmpty,
      "the first monotone append must initialize and promote the hwm")
    assert(IvfStore.load[IvfPqIndex](spark, dir).codes.count() === n)
    // lost checkpoint → full redelivery: the guard must no-op from the
    // sidecar alone, scanning ZERO stored code rows
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
              p.toString.contains(dir) && p.toString.endsWith("/codes")) =>
            scannedRows.addAndGet(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
          case _ => ()
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(tap)
    try {
      IvfStore.append[IvfPqIndex](dir, batch, monotoneIds = true)
      Thread.sleep(2000) // listener delivery is async
    } finally spark.listenerManager.unregister(tap)
    assert(IvfStore.load[IvfPqIndex](spark, dir).codes.count() === n, "redelivery must be a no-op")
    assert(scannedRows.get() === 0L,
      s"the hwm guard must not scan stored codes on redelivery, scanned ${scannedRows.get()}")
    // crash AFTER data commit, BEFORE promote: pending staked, rows on
    // disk — redelivery verifies exactly the (h, hwm] window, no dupes
    val done = IvfStore.readMeta(spark, dir)
    IvfStore.writeMeta(spark, dir,
      done.copy(hwm = Some(n / 2 - 1), pending = Some(n - 1)))
    IvfStore.append[IvfPqIndex](dir, batch, monotoneIds = true)
    val codes = IvfStore.load[IvfPqIndex](spark, dir).codes
    assert(codes.count() === n && codes.select("vec_id").distinct().count() === n,
      "no duplicate code rows after crash-window redelivery")
    val resolved = IvfStore.readMeta(spark, dir)
    assert(resolved.hwm === Some(n - 1) && resolved.pending.isEmpty,
      "the verified pending mark must promote into hwm")
  }

  test("recall report scores every served family with consistent counts and sane floors") {
    import graft.ops.AnnServing
    val r = AnnServing.recallReport(spark, sfDir)
      .as[(String, Long, Long, Long, Double, Double, Boolean)].collect()
    val kinds = r.map(_._1).toSet
    assert(kinds === Set("lsh", "ivf", "ivf_sq8", "ivf_pq"))
    assert(r.length === 40) // 4 families × 10 queries
    r.foreach { case (_, _, nExact, nHits, recall, famRecall, ok) =>
      assert(nExact === 5L)
      assert(nHits >= 0 && nHits <= nExact)
      assert(math.abs(recall - nHits.toDouble / nExact) < 1e-9)
      assert(ok, s"family recall $famRecall below its gated floor")
    }
    // the r10 gate columns: family_recall is the family mean, and
    // recall_ok asserts the per-family floor IN THE DRIVER-VISIBLE
    // OUTPUT (not only in CI)
    kinds.foreach { kind =>
      val rs = r.filter(_._1 == kind)
      val mean = rs.map(_._5).sum / rs.length
      assert(math.abs(rs.head._6 - mean) < 1e-3,
        s"$kind family_recall ${rs.head._6} != mean $mean")
      assert(mean > 0.2, s"$kind mean recall $mean")
    }
  }

  test("SemDeDup: within-cell exactness, cross-cell contract, min-id keeps, determinism") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.semDedup(emb).cache()
    val n = emb.count()
    assert(out.count() === n, "every vector reports")
    // exact reference: all-pairs cosine at the same threshold
    val exactPairs = Similarity.embeddingNearDups(emb)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val cellOf = out.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val kept = out.filter(col("is_kept")).select("vec_id").as[Long].collect().toSet
    // (1) a same-cell exact pair always drops the larger id
    val sameCell = exactPairs.filter { case (a, b) => cellOf(a) == cellOf(b) }
    sameCell.foreach { case (_, b) =>
      assert(!kept(b), s"vec $b has a smaller same-cell neighbor but was kept")
    }
    // (2) every dropped vector has a smaller same-cell exact neighbor
    //     (no false drops; cross-cell pairs never justify one)
    val smaller = sameCell.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    out.filter(!col("is_kept")).select("vec_id").as[Long].collect().foreach { b =>
      assert(smaller.contains(b), s"vec $b dropped without a same-cell neighbor")
    }
    // (3) seeded KMeans → the whole report is run-deterministic
    assert(out.collect().toSeq === Similarity.semDedup(emb).collect().toSeq)
    out.unpersist()
  }

  test("IVF cell stats cover the whole corpus with nonnegative shares") {
    import graft.ops.AnnServing
    val e = Tables.embeddings(spark, sfDir)
    val s = AnnServing.ivfCellStats(spark, sfDir)
      .select("cell", "n_vecs", "share").as[(Long, Long, Double)].collect()
    assert(s.length <= 16 && s.nonEmpty)
    assert(s.map(_._2).sum === e.count())
    assert(s.forall(x => x._2 > 0 && x._3 >= 0.0 && x._3 <= 1.0))
    assert(math.abs(s.map(_._3).sum - 1.0) < 0.01)
    // the histogram is run-reproducible (seeded quantizer): two
    // INDEPENDENT builds agree cell-for-cell. This is the strongest
    // gate available — the DuckDB oracle cannot execute KMeans, so the
    // driver row is rows-only by necessity, and this spec carries the
    // determinism claim instead.
    import org.apache.spark.sql.functions.col
    val rebuilt = Similarity.buildIvf(e, 16).assigned
      .groupBy(col("cell")).count()
      .as[(Int, Long)].collect().map(x => x._1.toLong -> x._2).toMap
    assert(s.map(x => x._1 -> x._2).toMap === rebuilt,
      "independent seeded builds must produce identical cell histograms")
  }

  test("versioned IVF rebuild publishes atomically; pinned readers keep the old version") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft_ivf_ver").toString + "/ivf"
    assert(IvfStore.publish(Similarity.buildIvf(e, 16), store) === 1L)
    val pinned = IvfStore.load[IvfIndex](spark, store)
    def q(ix: Similarity.IvfIndex) = ix.assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    val before = Similarity.queryIvf(pinned, q(pinned), excludeSelf = true)
      .collect().map(_.toSeq).toSeq

    // retrain with a different geometry and publish as v2
    assert(IvfStore.publish(Similarity.buildIvf(e, 8), store) === 2L)
    assert(IvfStore.versions(spark, store) === Seq(1L, 2L))

    // the pinned reader still evaluates against v1 — old-or-new, no mix
    val after = Similarity.queryIvf(pinned, q(pinned), excludeSelf = true)
      .collect().map(_.toSeq).toSeq
    assert(after === before, "a reader pinned pre-rebuild must see the old index unchanged")

    // a fresh load serves the rebuilt quantizer, internally consistent
    val fresh = IvfStore.load[IvfIndex](spark, store)
    assert(fresh.centroids.count() === 8L)
    assert(fresh.assigned.select("cell").distinct()
      .join(fresh.centroids, Seq("cell"), "left_anti").count() === 0,
      "every assigned cell must exist in the same version's centroids")
    assert(fresh.assigned.count() === e.count(), "rebuild must preserve the corpus")

    // recall is preserved post-rebuild (nProbe 4 of the 8 new cells)
    val exact = Similarity.knnBruteForce(e)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val served = Similarity.queryIvf(fresh, q(fresh), k = 5, nProbe = 4, excludeSelf = true)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, nbrs) =>
      served.get(qid).map(s => (s intersect nbrs).size.toDouble / nbrs.size).getOrElse(0.0)
    }
    assert(recalls.sum / recalls.size >= 0.8,
      s"post-rebuild recall ${recalls.sum / recalls.size}")

    // a crashed rebuild (inert staging dir) changes nothing for readers
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(store, ".tmp-crashed"))
    assert(IvfStore.versions(spark, store) === Seq(1L, 2L))
    assert(IvfStore.load[IvfIndex](spark, store).centroids.count() === 8L)

    // GC: superseded v1 and the torn staging reclaim; v2 stays served
    assert(IvfStore.vacuum(spark, store) === 2,
      "vacuum must reclaim the superseded version AND the torn staging")
    assert(IvfStore.versions(spark, store) === Seq(2L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store, ".tmp-crashed")))
    val survivor = IvfStore.load[IvfIndex](spark, store)
    assert(survivor.centroids.count() === 8L &&
      survivor.assigned.count() === e.count(),
      "the retained latest version must stay fully readable")
    // idempotent when nothing is reclaimable; never deletes the latest
    assert(IvfStore.vacuum(spark, store) === 0)
    intercept[IllegalArgumentException] {
      IvfStore.vacuum(spark, store, keepVersions = 0)
    }
    assert(IvfStore.versions(spark, store) === Seq(2L))
  }

  test("geometry intent publishes atomically inside the version directory") {
    // r13 advisor: a store-level marker written AFTER the version
    // rename could be lost on a crash between publish and marker (an
    // explicit-geometry store then nags rebuild_recommended forever)
    // and torn by concurrent rebuilds. Staged inside the version dir,
    // intent and version publish under ONE atomic rename.
    val store = java.nio.file.Files.createTempDirectory("graft_intent").toString + "/ivf"
    val e = Tables.embeddings(spark, sfDir)
    IvfStore.publish(Similarity.buildIvf(e, 16), store)
    assert(!IvfStore.geometryIntentExplicit(spark, store),
      "a marker-less store defaults to derived intent")
    IvfStore.publish(Similarity.buildIvf(e, 8), store,
      geometryIntent = Some(true))
    assert(new java.io.File(s"$store/v00000002/_geometry_intent").exists(),
      "the marker must live inside the version it describes")
    assert(IvfStore.geometryIntentExplicit(spark, store))
    // a marker-less later publish inherits the newest DECLARED intent
    // instead of silently flipping it
    assert(IvfStore.publish(Similarity.buildIvf(e, 8), store) === 3L)
    assert(IvfStore.geometryIntentExplicit(spark, store))
    // a later derived-intent publish re-arms drift flagging
    IvfStore.publish(Similarity.buildIvf(e, 8), store,
      geometryIntent = Some(false))
    assert(!IvfStore.geometryIntentExplicit(spark, store))
  }

  test("served-IVF rebuild flips the serving layer to the new quantizer") {
    import graft.ops.AnnServing
    import java.nio.file.{Files, Path, Paths}
    // ISOLATED corpus home: since round 10 serving layouts are stable
    // ACROSS processes (ServingLayouts), so publishing retrained
    // versions into the shared sfDir store would leak a non-v1
    // quantizer into every later test RUN (the cell-stats determinism
    // spec compares the served index against a fresh seeded build).
    // Rebuild-lifecycle tests therefore get their own corpus copy.
    val corpus = Files.createTempDirectory("graft_rebuild_corpus")
    def copyRec(src: Path, dst: Path): Unit = {
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        val s = Files.list(src)
        try s.toArray.toSeq.map(_.asInstanceOf[Path])
          .foreach(c => copyRec(c, dst.resolve(c.getFileName)))
        finally s.close()
      } else Files.copy(src, dst)
    }
    copyRec(Paths.get(sfDir, "embeddings.parquet"),
      corpus.resolve("embeddings.parquet"))
    val dir = corpus.toString
    val e = Tables.embeddings(spark, dir)
    // serve first (16 cells), then act on the drift signal: retrain to 8
    val before = AnnServing.ivfCellStats(spark, dir).count()
    assert(before > 8L && before <= 16L)
    val v = AnnServing.rebuildServedIvf(spark, dir, nCells = 8)
    assert(v >= 2L, "rebuild must publish a NEW version of the serving store")
    val statsAfter = AnnServing.ivfCellStats(spark, dir)
      .select("cell", "n_vecs", "share").as[(Long, Long, Double)].collect()
    assert(statsAfter.length <= 8, "cell stats must reflect the rebuilt quantizer")
    assert(statsAfter.map(_._2).sum === e.count(), "rebuild preserves the corpus")
    // and the served queries still hold their recall floor on the new index
    val exact = Similarity.knnBruteForce(e)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val served = AnnServing.knnIvf(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, nbrs) =>
      served.get(qid).map(s => (s intersect nbrs).size.toDouble / nbrs.size).getOrElse(0.0)
    }
    assert(recalls.sum / recalls.size >= 0.8,
      s"served recall after rebuild ${recalls.sum / recalls.size}")
  }

  test("geometry drift: corpus growth flags the stored layout, versioned rebuild clears it") {
    import graft.ops.{AnnServing, LshGeometry}
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    // r11 verdict item 3: layouts serve at their STORED geometry
    // forever; this drives the full operational loop — grow → flag →
    // rebuild (versioned publish) → flag clears — through
    // ivf_cell_stats, Maintain's report, and rebuildServedIvf.
    val corpus = Files.createTempDirectory("graft_drift_corpus")
    val dir = corpus.toString
    val base = Tables.embeddings(spark, sfDir)
    val n0 = base.count()
    base.write.parquet(dir + "/embeddings.parquet")
    AnnServing.knnIvf(spark, dir, nQueries = 3, k = 2).collect() // publish v1 at 16 cells
    assert(AnnServing.ivfGeometryDrift(spark, dir) === Some((16, 16, false)),
      "fresh small-corpus layout is at the derived geometry")
    assert(AnnServing.ivfCellStats(spark, dir)
      .select("rebuild_recommended").distinct().as[Boolean].collect().toSeq === Seq(false))
    // grow past the small-N tier (> 4000 vectors → derived cells jump)
    val copies = (4100 / n0 + 1).toInt
    (1 to copies).foreach { i =>
      base.withColumn("vec_id", col("vec_id") + i * 1000000L)
        .write.mode("append").parquet(dir + "/embeddings.parquet")
    }
    val expect = LshGeometry.ivf(Tables.embeddings(spark, dir).count())._1
    assert(expect > 16, "growth must actually cross a geometry tier")
    assert(AnnServing.ivfGeometryDrift(spark, dir) === Some((16, expect, true)),
      "grown corpus must flag the stored geometry")
    assert(AnnServing.ivfCellStats(spark, dir)
      .select("stored_cells", "derived_cells", "rebuild_recommended").distinct()
      .as[(Long, Long, Boolean)].collect().toSeq === Seq((16L, expect.toLong, true)),
      "ivf_cell_stats output must carry the drift signal (rows-gated)")
    // the cron loop surfaces the same signal without building anything
    assert(Maintain.run(spark, dir).geometryDrift === Some((16, expect, true)))
    // act on it through the versioned path (the grown corpus rotated
    // the home, so the current-stamp store seeds at version 1)
    assert(AnnServing.rebuildServedIvf(spark, dir) >= 1L)
    assert(AnnServing.ivfGeometryDrift(spark, dir) === Some((expect, expect, false)),
      "rebuild at the derived geometry must clear the flag")
    assert(AnnServing.ivfCellStats(spark, dir)
      .select("rebuild_recommended").distinct().as[Boolean].collect().toSeq === Seq(false))
    // explicit-geometry override (r12 advisor): a store DELIBERATELY
    // built with rebuildServedIvf(nCells = …) must keep reporting its
    // stored/derived numbers but never recommend a rebuild — the
    // override is an operator decision, not drift.
    AnnServing.rebuildServedIvf(spark, dir, nCells = 8)
    assert(AnnServing.ivfGeometryDrift(spark, dir) === Some((8, expect, false)),
      "explicit-geometry store reports drift numbers, never nags rebuild")
    assert(AnnServing.ivfCellStats(spark, dir)
      .select("rebuild_recommended").distinct().as[Boolean].collect().toSeq === Seq(false))
    // returning to the derived geometry re-arms the drift logic
    AnnServing.rebuildServedIvf(spark, dir)
    assert(AnnServing.ivfGeometryDrift(spark, dir) === Some((expect, expect, false)))
  }

  test("lsh bucket cache: a second call retires exactly the previous occupant") {
    import org.apache.spark.sql.functions.col
    // r15 verdict item 7: the one-slot retire logic is subtle enough to
    // deserve its own direct assertion — two successive single-pass
    // verifies, the first call's cache must be GONE after the second.
    val e = Tables.embeddings(spark, sfDir)
    Similarity.embeddingNearDupsLsh(e).collect()
    val c1 = Similarity.liveBucketsCache
      .getOrElse(fail("the single-pass verify must register its bucket cache"))
    assert(c1.storageLevel.useMemory || c1.storageLevel.useDisk,
      "the registered occupant is persist-marked")
    Similarity.embeddingNearDupsLsh(e.filter(col("vec_id") % 2 === 0)).collect()
    val c2 = Similarity.liveBucketsCache
      .getOrElse(fail("the second call must register its own cache"))
    assert(c2 ne c1, "the slot must hold the NEW call's cache")
    assert(c2.storageLevel.useMemory || c2.storageLevel.useDisk)
    assert(!c1.storageLevel.useMemory && !c1.storageLevel.useDisk,
      "the previous occupant must be unpersisted — one live cache per JVM")
    // PLAN-EQUAL repeat (same corpus re-verified): CacheManager keys by
    // plan, so retiring the predecessor would evict the new entry too —
    // the retire must skip it and the cache must survive
    Similarity.embeddingNearDupsLsh(e.filter(col("vec_id") % 2 === 0)).collect()
    val c3 = Similarity.liveBucketsCache.get
    assert(c3.storageLevel.useMemory || c3.storageLevel.useDisk,
      "a plan-equal repeat call must keep its cache live")
    assert(c2.storageLevel.useMemory || c2.storageLevel.useDisk,
      "retiring a plan-equal predecessor must not evict the shared entry")
  }
}
