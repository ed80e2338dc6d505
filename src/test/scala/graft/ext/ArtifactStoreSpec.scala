package graft.ext

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.ArtifactStore

/** Durable index artifacts (VERDICT r3 #7): build-once, reload from
  * a SECOND session, invalidate on in-place corpus rewrite — for
  * both the dedup cluster labeling and the IVF centroid model.
  */
class ArtifactStoreSpec extends AnyFunSuite with SparkTestBase {

  /** Copy the sf0.001 corpus to a writable dir (the testdata dir is
    * read-only; invalidation needs an in-place rewrite).
    */
  private def copyCorpus(): Path = {
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("artifact-corpus")
    for (name <- Seq("documents.parquet", "embeddings.parquet")) {
      val from = src.resolve(name)
      if (Files.isDirectory(from)) {
        val to = Files.createDirectories(dst.resolve(name))
        Files.list(from).forEach(f =>
          Files.copy(f, to.resolve(f.getFileName.toString)))
      } else Files.copy(from, dst.resolve(name))
    }
    dst
  }

  /** Bump every file's mtime so the metadata fingerprint changes —
    * the observable effect of an in-place rewrite.
    */
  private def rewriteInPlace(corpus: Path, table: String): Unit = {
    val p = corpus.resolve(s"$table.parquet")
    val files = if (Files.isDirectory(p)) {
      val it = Files.list(p).iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toList :+ p
    } else List(p)
    val t = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 5000)
    files.foreach(f => Files.setLastModifiedTime(f, t))
  }

  test("cluster labeling: build once, reload cross-session, rebuild on rewrite") {
    val corpus = copyCorpus().toString
    val before = ArtifactStore.builds("dedup-labels-v1")
    val pairsBefore = ArtifactStore.builds("dedup-pairs-v1")

    val first = Dedup.clusterLabels(spark, corpus).collect()
    assert(ArtifactStore.builds("dedup-labels-v1") == before + 1)
    assert(first.nonEmpty)
    // dedup_cluster labels its components over the same pair index
    Dedup.dedupCluster(spark, corpus).collect()
    assert(ArtifactStore.builds("dedup-pairs-v1") == pairsBefore + 1)

    // artifact published with a completion marker
    val ap = ArtifactStore.artifactPath(spark, corpus, "documents", "dedup-labels-v1")
    val fs = ap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(ap, "_SUCCESS")))

    // a SECOND session (fresh sessionUUID -> in-session memo misses)
    // must reload the artifact, not rebuild
    val s2 = spark.newSession()
    val second = Dedup.clusterLabels(s2, corpus).collect()
    assert(ArtifactStore.builds("dedup-labels-v1") == before + 1, "second session rebuilt")
    assert(second.map(_.toString).sorted.sameElements(first.map(_.toString).sorted))

    // in-place rewrite -> fingerprint changes -> rebuild
    rewriteInPlace(java.nio.file.Paths.get(corpus), "documents")
    Dedup.clusterLabels(spark.newSession(), corpus).collect()
    assert(ArtifactStore.builds("dedup-labels-v1") == before + 2, "rewrite did not invalidate")
  }

  test("IVF model: train once, reload cross-session, retrain on rewrite") {
    val corpus = copyCorpus().toString
    val before = ArtifactStore.builds("ivf-model-v1")

    val first = Similarity.simIvf(spark, corpus).collect()
    assert(ArtifactStore.builds("ivf-model-v1") == before + 1)
    assert(first.nonEmpty)

    val s2 = spark.newSession()
    val second = Similarity.simIvf(s2, corpus).collect()
    assert(ArtifactStore.builds("ivf-model-v1") == before + 1, "second session retrained")
    assert(second.map(_.toString).sameElements(first.map(_.toString)))

    rewriteInPlace(java.nio.file.Paths.get(corpus), "embeddings")
    Similarity.simIvf(spark.newSession(), corpus).collect()
    assert(ArtifactStore.builds("ivf-model-v1") == before + 2, "rewrite did not retrain")
  }

  test("IVF assignment: published once as the inverted-list artifact, " +
    "served to later sessions as a plain bucket-major scan") {
    // VERDICT r12 #8: the durable-index pattern's second instance —
    // sim_ivf / sim_ivfpq / dedup_semantic share one persisted
    // (vec_id, embedding, bucket) assignment instead of re-assigning
    // per session (and per hot rep).
    val corpus = copyCorpus().toString
    Similarity.assignedBuckets(spark, corpus).collect()
    val ap = ArtifactStore.artifactPath(spark, corpus, "embeddings", "ivf-assign-v1")
    val fs = ap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(ap, "_SUCCESS")
    assert(fs.exists(marker))
    val publishedAt = fs.getFileStatus(marker).getModificationTime

    // a fresh session serves the artifact: the plan is a parquet scan
    // of the artifact path, not the assignment mapPartitions lineage,
    // and nothing republishes
    val s2 = spark.newSession()
    val served = Similarity.assignedBuckets(s2, corpus)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("ivf-assign-v1"), plan)
    assert(!plan.contains("SerializeFromObject"),
      s"fresh session re-ran the assignment instead of scanning:\n$plan")
    assert(fs.getFileStatus(marker).getModificationTime == publishedAt,
      "second session republished the artifact")

    // the served assignment is CORRECT: each bucket is the nearest
    // centroid under the (same-fingerprint) durable model
    val model = Similarity.centroidModel(s2, corpus)
    val rows = served.collect()
    assert(rows.nonEmpty)
    for (r <- rows)
      assert(r.getInt(2) ==
        Similarity.nearestCentroid(model, r.getSeq[Float](1).toArray),
        s"vec ${r.getLong(0)} served a stale/wrong bucket")
  }

  test("ivf-assign-v1 serves ALL three consumers' plans: " +
    "sim_ivf, sim_ivfpq, dedup_semantic") {
    // VERDICT r13 ask #8: the durable assignment must demonstrably
    // serve every consumer, not only sim_ivf — each query's physical
    // plan must scan the artifact path (not re-run the assignment
    // mapPartitions lineage) in a FRESH session, where any per-session
    // memo is cold and only the on-disk artifact can explain the scan.
    val corpus = copyCorpus().toString
    Similarity.assignedBuckets(spark, corpus).collect() // publish once
    val s2 = spark.newSession()
    val consumers = Seq(
      "sim_ivf" -> Similarity.simIvf(s2, corpus),
      "sim_ivfpq" -> Similarity.simIvfPq(s2, corpus),
      "dedup_semantic" -> Dedup.dedupSemantic(s2, corpus))
    for ((name, df) <- consumers) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ivf-assign-v1"),
        s"$name plan does not scan the ivf-assign-v1 artifact:\n" +
          plan.linesIterator.take(40).mkString("\n"))
    }
  }

  test("session tier: concurrent cold callers build once; a build may " +
    "call another kind's build") {
    val corpus = copyCorpus().toString
    val outer = s"spec-outer-${java.util.UUID.randomUUID()}"
    val inner = s"spec-inner-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(() =>
        ArtifactStore.memo(spark, outer, corpus, "documents", "embeddings") {
          Thread.sleep(200)
          ArtifactStore.memo(spark, inner, corpus, "embeddings")(41) + 1
        }))
      assert(calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)) == Seq.fill(4)(42))
    } finally pool.shutdown()
    assert(ArtifactStore.builds(outer) == 1)
    assert(ArtifactStore.builds(inner) == 1)
    assert(ArtifactStore.hits(outer) == 3)
    // an in-place rewrite of either input table re-keys
    rewriteInPlace(java.nio.file.Paths.get(corpus), "embeddings")
    ArtifactStore.memo(spark, outer, corpus, "documents", "embeddings")(0)
    assert(ArtifactStore.builds(outer) == 2)
  }

  test("session tier: the wholesale clear counts entries per kind") {
    val kept = s"spec-kept-${java.util.UUID.randomUUID()}"
    val churn = s"spec-churn-${java.util.UUID.randomUUID()}"
    val corpus = copyCorpus().toString
    ArtifactStore.memo(spark, kept, corpus, "documents")(1)
    // 20 corpora of another kind: that kind clears, `kept` does not
    val dirs = (1 to 20).map(i => s"$corpus/churn-$i")
    dirs.foreach(d => ArtifactStore.memo(spark, churn, d, "documents")(1))
    ArtifactStore.memo(spark, kept, corpus, "documents")(1)
    assert(ArtifactStore.builds(kept) == 1, "another kind's corpora evicted this kind")
    ArtifactStore.memo(spark, churn, dirs.head, "documents")(1)
    assert(ArtifactStore.builds(churn) == 21, "past 16 entries the kind clears")
  }

  test("no hand-rolled memo under graft/ext, sources or streaming: no TrieMap") {
    // sources/pdf is exempt: its per-document object caches are not memos
    val pdf = java.nio.file.Paths.get("src/main/scala/graft/sources/pdf")
    val files = List("ext", "sources", "streaming").flatMap { d =>
      val root = java.nio.file.Paths.get(s"src/main/scala/graft/$d")
      val it = Files.walk(root).iterator()
      val found = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(f => f.toString.endsWith(".scala") && !f.startsWith(pdf)).toList
      assert(found.nonEmpty, s"no sources under ${root.toAbsolutePath}")
      found
    }
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if line.contains("TrieMap") || line.contains("getOrElseUpdate")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "session memos go through graft.sources.ArtifactStore:\n" + offenders.mkString("\n"))
  }

  test("half-written artifact (no _SUCCESS) is discarded and rebuilt") {
    val corpus = copyCorpus().toString
    val ap = ArtifactStore.artifactPath(spark, corpus, "documents", "dedup-pairs-v1")
    val fs = ap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crashed writer: directory exists, marker absent
    fs.mkdirs(ap)
    val out = fs.create(new org.apache.hadoop.fs.Path(ap, "part-garbage.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()

    val before = ArtifactStore.builds("dedup-pairs-v1")
    val rows = Dedup.dedupCluster(spark.newSession(), corpus).collect()
    assert(ArtifactStore.builds("dedup-pairs-v1") == before + 1)
    assert(rows.nonEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(ap, "_SUCCESS")))
  }
}
