package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the deep green forest where tall trees grow near the cold river"

  private lazy val corpus = Seq(
    (0L, base),
    (1L, base),                                   // exact dup of 0
    (2L, base.replace("quick", "fast")),          // near dup of 0
    (3L, base.replace("dog and runs", "cat and walks")), // near dup of 0
    (4L, "completely different text about spark catalyst optimizer rules " +
         "and tungsten code generation for vectorized columnar execution engines"),
    (5L, "yet another unrelated document discussing minhash signatures bands " +
         "and locality sensitive hashing for large scale deduplication work")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exact(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 5) // 6 docs, one exact dup
    val dupRow = out.find(_.getLong(1) == 0L).get
    assert(dupRow.getLong(2) == 2) // ids 0 and 1 share text
  }

  test("minhash LSH finds planted near-dups and nothing else") {
    val pairs = Dedup.minHashLsh(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // near-dup cluster {0,1,2,3}; 4 and 5 unrelated
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(pairs.contains((0L, 3L)))
    assert(pairs.forall { case (a, b) => a < b && Set(0L, 1L, 2L, 3L)(a) && Set(0L, 1L, 2L, 3L)(b) })
  }

  test("minhash exact-dup pair has jaccard 1.0") {
    val j = Dedup.minHashLsh(corpus, "doc_id", "text", threshold = 0.5)
      .filter($"id_a" === 0L && $"id_b" === 1L)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("staged shingle sets evaluate ngram_hashes once per document") {
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val aqe = new AdaptiveSparkPlanHelper {}
    /** `ngram_hashes` evaluations per row: in projections and filters (a
      * scan's data filters list the predicate too, but parquet cannot
      * evaluate it).
      */
    def ngramCalls(plan: SparkPlan): Int =
      aqe.collect(plan) { case p @ (_: ProjectExec | _: FilterExec) =>
        p.expressions.map(_.collect { case n: graft.functions.NgramHashes => n }.size).sum
      }.sum
    // read from files: over a local relation the optimizer would fold the sets away
    val dir = java.nio.file.Files.createTempDirectory("graft-shingles").toString + "/docs"
    corpus.union(Seq((6L, ""), (7L, "   ")).toDF("doc_id", "text")).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    // the control: over the projection, pushdown inlines the set into the filter
    val unstaged = docs.select(col("doc_id").as("id"),
        Dedup.shingleHashSet(col("text"), 3).as("h"))
      .where(size(col("h")) > 0)
    assert(ngramCalls(unstaged.queryExecution.executedPlan) == 2)

    val sets = Dedup.stagedShingleSets(docs, col("text"), 3, col("doc_id").as("id"))
    try {
      val cached = sets.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      assert(cached.size == 1, "the shingle sets are staged")
      assert(ngramCalls(cached.head.cachedPlan) == 1, "the staged plan computes h once")
      assert(ngramCalls(sets.queryExecution.executedPlan) == 0,
        "the filter reads the staged h")
      assert(sets.select("id").as[Long].collect().sorted.toSeq == (0L to 5L),
        "documents without a shingle drop")
    } finally Staged.release()
  }

  test("exactJaccardPairs: complete ground truth, same metric as the LSH verify") {
    // truth must hold every pair >= t regardless of banding — on the
    // fixture it equals the LSH result at a full-recall config, and it
    // must CONTAIN any aggressive config's result (found ⊆ truth)
    val truth = Dedup.exactJaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val lsh = Dedup.minHashLsh(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(lsh.subsetOf(truth),
      s"LSH found a pair the exact truth misses: ${lsh -- truth}")
    assert(truth == lsh, // full-recall config on this fixture
      s"truth drifted from the full-recall LSH result: $truth vs $lsh")
    // jaccard values ride the identical native verify — the (0,1)
    // exact-dup pair reads 1.0 from both
    assert(truth.exists(t => t._1 == 0L && t._2 == 1L && t._3 == 1.0))
    // partitioning-independent (inverted-index join + distinct)
    val re = Dedup.exactJaccardPairs(corpus.repartition(7), "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(re == truth)
    Staged.releaseAll()
  }

  test("droppedShingles: a capped hot shingle is accounted, and its pairs leave the truth") {
    // two near-identical docs (the planted pair) plus filler docs that
    // all share ONE hot shingle ("x y z") — cap at 4 so the filler
    // shingle trips the cap while the pair's other shingles survive
    val planted = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta eta")) ++
      (2L to 9L).map(i => (i, s"x y z unique$i marker$i"))
    val docs = planted.toDF("doc_id", "text")
    // maxBucket=4: the "x y z" shingle occurs in 8 docs -> dropped;
    // the accounting row must surface exactly it
    val acct = Dedup.droppedShingles(docs, "doc_id", "text", maxBucket = 4)
      .select($"shingle_hash", $"n_docs").as[(Long, Long)].collect()
    assert(acct.length == 1 && acct.head._2 == 8L,
      s"hot-shingle accounting drifted: ${acct.toSeq}")
    // an adequate cap reads empty — the "trust the truth pass" check
    assert(Dedup.droppedShingles(docs, "doc_id", "text", maxBucket = 100)
      .isEmpty, "an adequate cap must account nothing")
    // the planted pair survives the cap (its shingles are cold); pairs
    // that ONLY shared the hot shingle never reach the verify
    val truth = Dedup.exactJaccardPairs(docs, "doc_id", "text",
      threshold = 0.3, maxBucket = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(truth == Set((0L, 1L)), s"truth drifted under the cap: $truth")
    Staged.releaseAll()
  }

  test("minhash signature is deterministic across runs and partitionings") {
    val sig1 = corpus.repartition(4).select($"doc_id", Dedup.minHashSignature($"text").as("s"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    val sig2 = corpus.repartition(2).select($"doc_id", Dedup.minHashSignature($"text").as("s"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
    assert(sig1 == sig2)
    assert(sig1.head._2.size == 128)
  }

  test("simhash: identical docs distance 0, near dups close, unrelated far") {
    val sims = corpus.select($"doc_id", Dedup.simHash($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(0L), sims(1L)) == 0)
    assert(hamming(sims(0L), sims(2L)) <= 8)
    assert(hamming(sims(0L), sims(4L)) > 10)
  }

  test("simhash near-dup pairs respect the hamming bound") {
    val out = Dedup.simHashNearDup(corpus, "doc_id", "text", maxHamming = 8)
      .as[(Long, Long, Int)].collect()
    assert(out.forall(_._3 <= 8))
    assert(out.map(p => (p._1, p._2)).contains((0L, 1L)))
  }

  test("ngram jaccard blocked join is exact within blocks") {
    val blocked = corpus.withColumn("block", lit("all"))
    val pairs = Dedup.ngramJaccardBlocked(blocked, "doc_id", "text", "block",
      n = 3, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // only the exact dup survives 0.99
  }

  test("containment: planted quotation is caught A→B, asymmetric, invisible to Jaccard") {
    // doc 20 (the quotation) rides verbatim INSIDE doc 21's much longer
    // text: containment(20→21) ≈ 1, containment(21→20) tiny, Jaccard
    // tiny — exactly the pair symmetric dedup structurally misses
    val quote = "to be or not to be that is the question whether tis nobler in the mind"
    val host = "the play opens with a long scene " + quote +
      " and then continues into an extended meditation about many other " +
      "matters entirely unrelated to the famous passage including politics " +
      "war family revenge madness and the slow machinery of the court of " +
      "denmark across five acts of dense dialogue and shifting alliances"
    val docs = corpus.unionByName(
      Seq((20L, quote), (21L, host)).toDF("doc_id", "text"))
      .withColumn("block", lit("all"))
    val out = Dedup.ngramContainmentBlocked(docs, "doc_id", "text", "block",
      n = 3, threshold = 0.6)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect()
    val byPair = out.map { case (a, b, c) => (a, b) -> c }.toMap
    assert(byPair.get((20L, 21L)).exists(_ >= 0.9),
      s"quotation must be contained in host: $byPair")
    assert(!byPair.contains((21L, 20L)),
      "host is NOT contained in the quotation (asymmetry)")
    // the same pair is invisible to symmetric Jaccard at the same bar
    val jac = Dedup.ngramJaccardBlocked(docs, "doc_id", "text", "block",
      n = 3, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((20L, 21L)) && !jac.contains((21L, 20L)))
  }

  test("containment: blocked prefix-filter join ≡ brute force (lossless)") {
    val docs = corpus.unionByName(Seq(
      (30L, base + " with an appended tail of extra words spanning more ground"),
      (31L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
      .withColumn("block", lit("all"))
    val got = Dedup.ngramContainmentBlocked(docs, "doc_id", "text", "block",
      n = 3, threshold = 0.6)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the same hashed shingle sets
    val sets = docs.select($"doc_id",
        Dedup.shingleHashSet($"text", 3).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, ha) <- sets.toSeq; (b, hb) <- sets.toSeq if a != b
      c = BigDecimal(ha.toSet.intersect(hb.toSet).size.toDouble / ha.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.6
    } yield (a, b, c)).toSet
    assert(got == want, s"blocked=$got brute=$want")
    assert(want.nonEmpty)
  }

  test("containment: threshold outside (0,1] is rejected up front") {
    val blocked = corpus.withColumn("block", lit("all"))
    intercept[IllegalArgumentException] {
      Dedup.ngramContainmentBlocked(blocked, "doc_id", "text", "block",
        threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.ngramContainmentBlocked(blocked, "doc_id", "text", "block",
        threshold = 1.5)
    }
  }

  test("connected components cluster transitive chains, keep min-id rep") {
    // chain 1-2-3 (1~2, 2~3 but never 1~3), separate pair 7-9, plus a
    // star 10-{11,12}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (10L, 11L), (10L, 12L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // drop-all-but-rep removes the chain ends even though they never
    // paired directly
    assert(cc.count { case (id, rep) => id != rep } == 5)
  }

  test("connected components: string doc ids propagate fully (no sum-witness false convergence)") {
    // the Σlab decimal-sum witness is only valid for integral labels;
    // string ids cast to NULL, which once made labelSum return ZERO
    // every round — the loop declared convergence after round 1 and
    // returned partially-propagated labels. This chain has diameter 4:
    // a correct run labels everything "a"; the false-convergence bug
    // left "d"/"e" pointing at intermediate nodes.
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).as[(String, String)].collect().toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
    // two separate string clusters keep separate min reps
    val two = Seq(("m", "n"), ("x", "y"), ("y", "z")).toDF("id_a", "id_b")
    val cc2 = Dedup.connectedComponents(two).as[(String, String)].collect().toMap
    assert(cc2 == Map("m" -> "m", "n" -> "m", "x" -> "x", "y" -> "x", "z" -> "x"))
  }

  test("connected components: string-id non-convergence raises under strict") {
    // with the broken witness this returned silently; now the
    // inequality-join witness detects the unfinished propagation.
    // Diameter 199: propagate+jump covers at most ~2^(r+1) hops in r
    // rounds, so 3 rounds (≤ 31 hops) cannot finish this path.
    val chain = (0 until 199).map(i => (s"n%03d".format(i), s"n%03d".format(i + 1)))
      .toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 3).count()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connected components: non-convergence raises instead of mislabeling") {
    // a 200-node path has diameter 199 — propagate+jump covers at most
    // ~2^(r+1) hops in r rounds, so 3 rounds (≤ 31 hops) cannot finish,
    // and partial labels would silently mislabel
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 3).count()
    }
    assert(ex.getMessage.contains("did not converge"))
    // strict=false: best-effort partial labels come back (with a log
    // warning), every node still present
    val partial = Dedup.connectedComponents(chain, maxIter = 3, strict = false)
    assert(partial.count() == 200)
  }

  test("incremental near-dup against a persisted index equals the full batch run") {
    import org.apache.spark.sql.functions.col
    val batch1 = corpus.where(col("doc_id").isin(0L, 1L, 4L))
    val batch2 = corpus.where(col("doc_id").isin(2L, 3L, 5L))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
    Dedup.writeLshIndex(batch1, "doc_id", "text", dir, threshold = 0.5)

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet

    val full = pairSet(Dedup.minHashLsh(corpus, "doc_id", "text", threshold = 0.5))
    val internal1 = pairSet(Dedup.minHashLsh(batch1, "doc_id", "text", threshold = 0.5))
    val incr = pairSet(Dedup.incrementalNearDup(batch2, dir, "doc_id", "text",
      threshold = 0.5))
    assert(full == (internal1 ++ incr),
      s"full=$full\nvs split=${internal1 ++ incr}")
    // cross-batch pairs must have come from the index join, not a rebuild
    assert(incr.exists { case (a, b, _) => Set(0L, 1L)(a) && Set(2L, 3L)(b) },
      "expected cross-batch near-dup pairs")

    // growing the index: after appending batch2, a re-ingested copy of
    // doc 2 pairs with both its original and the batch1 cluster
    Dedup.appendToLshIndex(batch2, dir, "doc_id", "text")
    val copy = Seq((99L, base.replace("quick", "fast"))).toDF("doc_id", "text")
    val reIngest = pairSet(Dedup.incrementalNearDup(copy, dir, "doc_id", "text",
      threshold = 0.5))
    assert(reIngest.contains((2L, 99L, 1.0)), "exact copy of doc 2 must pair at 1.0")
    assert(reIngest.exists { case (a, b, _) => a == 0L && b == 99L },
      "copy must also pair with the batch1 cluster via the index")
  }

  test("appended index tails compact to one file per bucket; the probe is unchanged") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-compact").toString
    Dedup.writeLshIndex(corpus.where(col("doc_id") < 2), "doc_id", "text", dir,
      threshold = 0.5)
    // three single-doc appends: each adds a file per touched bucket
    (2L to 4L).foreach { id =>
      Dedup.appendToLshIndex(corpus.where(col("doc_id") === id), dir,
        "doc_id", "text")
    }
    def dataFiles(sub: String): Int =
      Option(new java.io.File(s"$dir/$sub").listFiles()).toSeq.flatten
        .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    def pairSet() = Dedup.incrementalNearDup(
      corpus.where(col("doc_id") === 5L).unionByName(
        Seq((99L, base.replace("quick", "fast"))).toDF("doc_id", "text")),
      dir, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val before = (dataFiles("bands"), dataFiles("shingles"))
    val probeBefore = pairSet()
    assert(probeBefore.nonEmpty, "probe must find the planted near-dups")
    Dedup.compactLshIndex(spark, dir)
    val after = (dataFiles("bands"), dataFiles("shingles"))
    // bands carried the real append tail (~3 appends x ~32 touched
    // buckets); shingles is tiny (5 docs -> <= 5 nonempty buckets), so
    // its floor IS its pre-compaction count
    assert(after._1 < before._1,
      s"compaction must shrink the appended table: $before -> $after")
    assert(after._1 <= 32 && after._2 <= 32, // one file per bucket at most
      s"expected <= nBuckets files per table, got $after")
    // the bucket marker survives the swap (probe stays Exchange-free)
    assert(new java.io.File(s"$dir/bands/_graft_buckets").exists())
    assert(new java.io.File(s"$dir/shingles/_graft_buckets").exists())
    assert(pairSet() == probeBefore, "compaction must not change the probe")
    // crash recovery (legacy state): a committed tmp with the live dir
    // MISSING is promoted by the next invocation
    assert(new java.io.File(s"$dir/bands").renameTo(
      new java.io.File(s"${dir}/bands__compact_tmp")))
    Dedup.compactIndexTable(spark, s"$dir/bands")
    assert(new java.io.File(s"$dir/bands").exists() &&
      !new java.io.File(s"${dir}/bands__compact_tmp").exists())
    assert(pairSet() == probeBefore, "recovery must restore the full index")
    // crash mid rename-swap, between rename(dir->old) and rename(tmp->dir):
    // old holds the PRE-swap table, tmp the committed compacted one —
    // recovery must promote tmp and drop old, never resurrect old over it
    val oldDir = new java.io.File(s"${dir}/bands__compact_old")
    assert(oldDir.mkdir())
    val junk = new java.io.File(oldDir, "stale.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3)): Unit
    assert(new java.io.File(s"$dir/bands").renameTo(
      new java.io.File(s"${dir}/bands__compact_tmp")))
    Dedup.compactIndexTable(spark, s"$dir/bands")
    assert(new java.io.File(s"$dir/bands").exists() &&
      !new java.io.File(s"${dir}/bands__compact_tmp").exists() &&
      !oldDir.exists(), "mid-swap recovery must finish the swap")
    assert(pairSet() == probeBefore, "mid-swap recovery must keep the index")
    // crash between rename(tmp->dir) and delete(old): dir is live, old is
    // the superseded copy — recovery deletes old and leaves dir untouched
    assert(oldDir.mkdir())
    java.nio.file.Files.write(junk.toPath, Array[Byte](4, 5, 6)): Unit
    Dedup.compactIndexTable(spark, s"$dir/bands")
    assert(new java.io.File(s"$dir/bands").exists() && !oldDir.exists(),
      "post-commit recovery must drop the superseded copy")
    assert(pairSet() == probeBefore, "post-commit recovery must keep the index")
    graft.ops.Staged.releaseAll()
  }

  test("incremental dedup caps buckets the index side already saturates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-hot").toString
    // 4 identical corpus docs saturate every band bucket they occupy
    val spam = (0 until 4).map(i => (100L + i, base)).toDF("doc_id", "text")
    Dedup.writeLshIndex(spam, "doc_id", "text", dir, threshold = 0.5)
    val probe = Seq((200L, base)).toDF("doc_id", "text")
    // combined population 4 (index) + 1 (new) exceeds maxBucket=3 →
    // the bucket is degenerate and must be dropped, not joined
    val capped = Dedup.incrementalNearDup(probe, dir, "doc_id", "text",
      threshold = 0.5, maxBucket = 3)
    assert(capped.count() == 0, "saturated buckets must not produce candidates")
    // with a sane cap the exact-dup pairs come back
    val uncapped = Dedup.incrementalNearDup(probe, dir, "doc_id", "text",
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped == (0 until 4).map(i => (100L + i, 200L)).toSet)
  }

  test("stats publish is crash-safe: uncommitted versions are ignored, gaps raise") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-crash").toString
    Dedup.writeLshIndex(corpus.where(col("doc_id").isin(0L, 1L, 4L)),
      "doc_id", "text", dir, threshold = 0.5)
    val batch = corpus.where(col("doc_id").isin(2L, 3L, 5L))
    def run() = Dedup.incrementalNearDup(batch, dir, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = run()
    assert(expected.nonEmpty)
    // a publish that died after writing files but BEFORE the _SUCCESS
    // commit marker: the torn higher-version dir must be ignored and
    // the previous committed stats stay authoritative (the old
    // delete-then-rename publish left NO readable stats in this window)
    val torn = new java.io.File(s"$dir/bucket_counts_v99")
    assert(torn.mkdirs())
    assert(new java.io.File(torn, "part-00000.parquet").createNewFile())
    assert(run() == expected, "torn publish must not change the stats read")
    // the next successful publish retires both the superseded version
    // and the debris
    Dedup.appendToLshIndex(batch, dir, "doc_id", "text")
    assert(!torn.exists(), "crashed-publish debris must be retired")
    assert(run().nonEmpty)
    // pre-versioning indexes (legacy unversioned bucket_counts) read fine
    val cur = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("bucket_counts_v\\d+")).head
    assert(cur.renameTo(new java.io.File(s"$dir/bucket_counts")))
    assert(run().nonEmpty, "legacy stats layout must stay readable")
    // no committed stats at all: a clear rebuild error, not a crash
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(s"$dir/bucket_counts"))
    val ex = intercept[IllegalStateException] { run() }
    assert(ex.getMessage.contains("rebuild the index"))
  }

  test("passage dedup: first occurrence survives, boilerplate-only docs drop") {
    // w=2 passages; "x y" boilerplate rides inside docs 1-3, and doc 3
    // is NOTHING BUT already-seen passages
    val docs = Seq(
      (1L, "a b x y c d"), // passages: "a b" "x y" "c d" — all first
      (2L, "e f x y"),     // "e f" first, "x y" dropped (seen in doc 1)
      (3L, "x y a b"),     // both passages first-occurred in doc 1 → doc drops
      (4L, "a b g")        // "a b" dropped, short tail "g" kept
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, "doc_id", "text", window = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out == Map(
      1L -> (("a b x y c d", 3, 0)),
      2L -> (("e f", 1, 1)),
      4L -> (("g", 1, 1))),
      s"got $out")
    // global invariants on real docs: every distinct passage is kept
    // exactly once corpus-wide, and kept+dropped accounts for every
    // passage of the SURVIVING docs (fully-deduped docs are absent
    // from the result — their passages all won first occurrence
    // elsewhere, so the distinct-passage identity still closes)
    val real = graft.sources.Tables(spark, sf, "documents")
    val w = 3
    val chunks = Chunking.slidingChunks(real, "doc_id", "text", w, w)
    val nDistinct = chunks.select("chunk_text").distinct().count()
    val nTotal = chunks.count()
    val result = Dedup.passageDedup(real, "doc_id", "text", w)
    val agg = result.agg(sum($"n_kept"), sum($"n_dropped")).head()
    assert(agg.getLong(0) == nDistinct,
      "each distinct passage must survive exactly once")
    val survTotal = chunks
      .join(result.select($"doc_id"), Seq("doc_id")).count()
    assert(agg.getLong(0) + agg.getLong(1) == survTotal,
      "kept+dropped must cover every passage of surviving docs")
    assert(survTotal <= nTotal)
    Staged.releaseAll()
  }

  test("incremental passage dedup equals the full run restricted to the batch") {
    // corpus ids all precede batch ids → first-occurrence winners agree
    val real = graft.sources.Tables(spark, sf, "documents")
    val split = 250L
    val dir = java.nio.file.Files.createTempDirectory("graft-passidx").toString
    Dedup.writePassageIndex(real.where($"doc_id" < split),
      "doc_id", "text", window = 3, path = dir)
    val inc = Dedup.incrementalPassageDedup(real.where($"doc_id" >= split),
        dir, "doc_id", "text", window = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    Staged.releaseAll()
    val full = Dedup.passageDedup(real, "doc_id", "text", window = 3)
      .where($"doc_id" >= split)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    Staged.releaseAll()
    assert(inc == full,
      s"batch-vs-index must equal the full run on batch docs " +
        s"(${inc.size} vs ${full.size} docs)")
    // append registers only NEW passages; a re-ingested batch then
    // dedups to nothing
    Dedup.appendToPassageIndex(real.where($"doc_id" >= split),
      dir, "doc_id", "text", window = 3)
    val replay = Dedup.incrementalPassageDedup(real.where($"doc_id" >= split),
      dir, "doc_id", "text", window = 3).count()
    Staged.releaseAll()
    assert(replay == 0, "a re-ingested batch must dedup to nothing")
  }

  test("passage dedup: repeats INSIDE one doc collapse to the first index") {
    val docs = Seq((7L, "p q r s p q")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, "doc_id", "text", window = 2).head()
    assert(out.getString(1) == "p q r s" && out.getInt(2) == 2 && out.getInt(3) == 1)
  }

  test("stats tie-break: committed bucket_counts_v0 beats legacy bucket_counts") {
    // both dirs carry version 0; before the explicit tie-break the
    // winner fell to filesystem listing order — two different stats
    // tables, nondeterministically chosen
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-tie").toString
    assert(new java.io.File(s"$dir/bucket_counts").mkdirs())
    val v0 = new java.io.File(s"$dir/bucket_counts_v0")
    assert(v0.mkdirs())
    assert(new java.io.File(v0, "_SUCCESS").createNewFile())
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Dedup.committedBucketCounts(fs, dir).map(_._1.getName)
      == Some("bucket_counts_v0"),
      "on a version tie the versioned committed dir must win")
    // a higher committed version still beats both
    val v1 = new java.io.File(s"$dir/bucket_counts_v1")
    assert(v1.mkdirs())
    assert(new java.io.File(v1, "_SUCCESS").createNewFile())
    assert(Dedup.committedBucketCounts(fs, dir).map(_._1.getName)
      == Some("bucket_counts_v1"))
  }

  test("connected components: result checkpoint blocks are reclaimed by release") {
    // the returned leaf is localCheckpoint'ed (re-execution must not
    // replay the loop); without Staged registration every bench run
    // would leak those blocks for the session's lifetime
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.count() == 3)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.nonEmpty, "the result leaf should be persisted pre-release")
    Staged.releaseAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"release() must reclaim the loop's blocks, still held: $after")
  }

  test("connected components: deep chain converges through checkpoints") {
    // diameter 29 forces many rounds through the localCheckpoint seam
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 40)
      .as[(Long, Long)].collect()
    assert(cc.length == 30)
    assert(cc.forall(_._2 == 0L), "all nodes must take the chain-min label")
  }

  test("incremental probes leave the persisted index off the shuffle path") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // Worst-case shape on purpose: AQE off so the static plan is
    // assertable, broadcast off so the sort-merge path — the one that
    // re-shuffled a plain-parquet index every batch — is the one
    // pinned. (AQE can only improve on this by broadcasting the batch.)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val lshDir = java.nio.file.Files.createTempDirectory("graft-lsh-plan").toString
      Dedup.writeLshIndex(corpus.where($"doc_id".isin(0L, 1L, 4L)),
        "doc_id", "text", lshDir, threshold = 0.5)
      val passDir = java.nio.file.Files.createTempDirectory("graft-pass-plan").toString
      Dedup.writePassageIndex(corpus.where($"doc_id" < 3),
        "doc_id", "text", window = 3, path = passDir)

      // staged intermediates hide their subplan inside InMemoryRelation;
      // the index scans must be found (and judged) wherever they live
      def deepPlans(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
          .flatMap(deepPlans)
      // only the probe-joined index tables — the bucket_counts stats
      // table lives in the same dir but is a (tiny) plain-parquet read
      val indexTables = Set("bands", "shingles", "passages")
      def isIndexScan(f: FileSourceScanExec, dir: String): Boolean =
        f.relation.location.rootPaths.exists(rp =>
          rp.toString.contains(new java.io.File(dir).getName) &&
            indexTables(rp.getName))
      // Every root→scan path for the index tables, ancestors nearest-
      // first. The invariant is NOT "no Exchange anywhere above the
      // scan" — joins DERIVE small frames (candidate pairs, semi-join
      // survivors) whose later shuffles are O(batch) and fine. It is:
      // between the index scan and the FIRST join it feeds there is no
      // ShuffleExchange — the full-size index never crosses the wire.
      def pathsToIndexScans(p: SparkPlan, dir: String,
          anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
        p match {
          case f: FileSourceScanExec if isIndexScan(f, dir) => Seq((f, anc))
          case other =>
            other.children.flatMap(pathsToIndexScans(_, dir, other :: anc))
        }
      def assertIndexOffShufflePath(df: org.apache.spark.sql.DataFrame,
          dir: String): Unit = {
        val paths = deepPlans(df.queryExecution.executedPlan)
          .flatMap(pathsToIndexScans(_, dir, Nil))
        assert(paths.nonEmpty, "expected the probe plan to scan the index")
        paths.foreach { case (scan, ancestors) =>
          assert(scan.bucketedScan,
            s"index scan must be bucketed:\n$scan")
          val preJoin = ancestors.takeWhile {
            case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
            case _ => true
          }
          assert(!preJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
            s"Exchange between the index scan and its probe join:\n" +
              s"${df.queryExecution.executedPlan}")
        }
      }

      val probe = Dedup.incrementalNearDup(corpus.where($"doc_id".isin(2L, 3L, 5L)),
        lshDir, "doc_id", "text", threshold = 0.5)
      probe.collect() // materialize so staged subplans exist
      assertIndexOffShufflePath(probe, lshDir)

      val pprobe = Dedup.incrementalPassageDedup(corpus.where($"doc_id" >= 3),
        passDir, "doc_id", "text", window = 3)
      pprobe.collect()
      assertIndexOffShufflePath(pprobe, passDir)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      Staged.releaseAll()
    }
  }

  test("duplication profile counts repeated passages, incl. in-doc repeats") {
    val docs = Seq(
      (1L, "a b c d e f"),       // 'a b c' repeated corpus-wide
      (2L, "a b c x y z"),
      (3L, "p q r"),             // fully unique
      (4L, "a b c a b c")        // in-doc repetition counts too
    ).toDF("doc_id", "text")
    val out = Dedup.duplicationProfile(docs, "doc_id", "text", window = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((2L, 2L, 1.0)),
      "both instances of a self-repeated passage are duplicated content")
  }

  test("substring dedup: unaligned cross-doc span, within-doc stamp, short/tokenless pass-through") {
    val span = (1 to 8).map(i => s"a$i").mkString(" ")       // 8-token span
    val bspan = (1 to 8).map(i => s"b$i").mkString(" ")      // a second span
    val docs = Seq(
      (1L, s"$span tail1 tail2"),          // global first occurrence
      // the same span at offset 2 — UNALIGNED: an aligned window-8
      // passage pass splits it x1..a6 / a7..y1 and suppresses nothing
      (2L, s"x1 x2 $span y1"),
      (3L, "one two"),                     // shorter than the window
      (4L, s"$bspan $bspan"),              // within-doc template stamp
      (5L, "!!!")                          // tokenless
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", window = 8)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((10L, 0L, s"$span tail1 tail2")),
      s"the first occurrence must survive whole: ${out(1L)}")
    assert(out(2L) == ((11L, 8L, "x1 x2 y1")),
      s"the unaligned repeat must drop exactly the span: ${out(2L)}")
    assert(out(3L) == ((2L, 0L, "one two")),
      s"short docs pass through: ${out(3L)}")
    assert(out(4L) == ((16L, 8L, bspan)),
      s"the second stamp drops, the first survives: ${out(4L)}")
    assert(out(5L) == ((0L, 0L, "")), s"tokenless doc keeps a row: ${out(5L)}")
    // the aligned passage face genuinely misses doc 2's repeat — the
    // differential this operator exists for
    val aligned = Dedup.passageDedup(docs, "doc_id", "text", window = 8)
      .where(col("doc_id") === 2L)
      .select(col("n_dropped")).as[Long].head()
    assert(aligned == 0L,
      s"fixture must straddle the aligned boundaries: passage dropped $aligned")
    // deterministic across partitionings (min-struct attribution, no
    // content-partitioned windows)
    val again = Dedup.substringDedup(docs.repartition(7), "doc_id", "text", 8)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(again == out, "substring dedup must be layout-independent")
    Staged.releaseAll()
  }

  test("incremental substring dedup: committed spans always lose; one-shot identity on corpus ∪ batch") {
    val span = (1 to 8).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$span alpha beta"),
      (2L, "unrelated words entirely here for this other document body"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"pre1 $span post1"),   // committed span at offset 1
      // within-batch template stamp of a span the index has never seen
      (11L, "fresh f2 f3 f4 f5 f6 f7 f8 fresh f2 f3 f4 f5 f6 f7 f8"),
      (12L, "short one"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-spanidx").toString
    Dedup.writeSpanIndex(corpus, "doc_id", "text", window = 8, root)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val inc = m(Dedup.incrementalSubstringDedup(batch, root,
      "doc_id", "text", window = 8))
    assert(inc(10L) == ((10L, 8L, "pre1 post1")),
      s"the committed span must cover its batch occurrence: ${inc(10L)}")
    assert(inc(11L) ==
      ((16L, 8L, "fresh f2 f3 f4 f5 f6 f7 f8")),
      s"fresh spans keep first-wins within the batch: ${inc(11L)}")
    assert(inc(12L) == ((2L, 0L, "short one")),
      s"short docs pass through: ${inc(12L)}")
    // the x33 differential identity: corpus ids < batch ids ⇒ the
    // incremental probe equals the one-shot over corpus ∪ batch
    // restricted to the batch
    val oneShot = m(Dedup.substringDedup(corpus.unionByName(batch),
      "doc_id", "text", window = 8)
      .where(col("doc_id") >= 10L))
    assert(inc == oneShot,
      s"incremental must equal the restricted one-shot: $inc vs $oneShot")
    Staged.releaseAll()
  }

  test("hashed substring dedup ≡ string-keyed on the fixtures and at sf0.001 (x98 ≡ x95)") {
    // the production keying (xxhash64 span keys, 8-byte shuffle) must
    // be byte-identical to the oracle-parity string keying wherever no
    // 64-bit collision exists — i.e. everywhere we can test
    val span = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span tail1 tail2"),
      (2L, s"x1 x2 $span y1"),
      (3L, "one two"),
      (4L, s"$span $span"),
      (5L, "")
    ).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m(Dedup.substringDedupHashed(docs, "doc_id", "text", 8)) ==
      m(Dedup.substringDedup(docs, "doc_id", "text", 8)),
      "hashed and string keyings must coincide on the fixture")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    assert(m(Dedup.substringDedupHashed(real, "doc_id", "text", 8)) ==
      m(Dedup.substringDedup(real, "doc_id", "text", 8)),
      "hashed and string keyings must coincide at sf0.001")
    Staged.releaseAll()
  }

  test("span-index append: a multi-batch loop sees earlier batches' spans") {
    // the ADVICE r17 gap: incrementalSubstringDedup probes only
    // COMMITTED spans, so batch 2's repeat of a batch-1 span was
    // invisible until appendToSpanIndex existed
    val span = (1 to 8).map(i => s"c$i").mkString(" ")
    val fresh = (1 to 8).map(i => s"f$i").mkString(" ")
    val corpus = Seq((1L, s"$span alpha beta")).toDF("doc_id", "text")
    val batch1 = Seq((10L, s"pre $fresh post")).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, s"x $fresh y"),     // repeats batch 1's fresh span
      (21L, s"w $span z"))      // repeats the day-1 corpus span
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-spanidx-append").toString
    Dedup.writeSpanIndex(corpus, "doc_id", "text", window = 8, root)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // without the append, batch 2 misses the cross-batch repeat
    val blind = m(Dedup.incrementalSubstringDedup(batch2, root,
      "doc_id", "text", window = 8))
    assert(blind(20L)._2 == 0L,
      s"pre-append probe must not see batch 1's span: ${blind(20L)}")
    // batch 1 cleans, then registers; batch 2 now sees both sources
    Dedup.incrementalSubstringDedup(batch1, root, "doc_id", "text", 8)
      .collect(): Unit
    Dedup.appendToSpanIndex(batch1, root, "doc_id", "text", window = 8)
    val seen = m(Dedup.incrementalSubstringDedup(batch2, root,
      "doc_id", "text", window = 8))
    assert(seen(20L) == ((10L, 8L, "x y")),
      s"appended batch-1 span must cover batch 2's repeat: ${seen(20L)}")
    assert(seen(21L) == ((10L, 8L, "w z")),
      s"the day-1 span must still cover: ${seen(21L)}")
    // the append is idempotent on content: re-appending the same batch
    // adds nothing (anti-join), so the probe verdict is unchanged
    Dedup.appendToSpanIndex(batch1, root, "doc_id", "text", window = 8)
    assert(m(Dedup.incrementalSubstringDedup(batch2, root,
      "doc_id", "text", window = 8)) == seen,
      "re-appending the same spans must not change any verdict")
    Staged.releaseAll()
  }

  test("hashed span-index family ≡ text-keyed across write/probe/append; mismatched keying refuses") {
    // the x98 keying on the PERSISTED artifact (x99): the committed
    // index stores 8-byte xxhash64 keys, and the whole
    // write → probe → append loop must verdict identically to the
    // text-keyed family wherever no 64-bit collision exists
    val span = (1 to 8).map(i => s"c$i").mkString(" ")
    val fresh = (1 to 8).map(i => s"f$i").mkString(" ")
    val corpus = Seq((1L, s"$span alpha beta")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, s"pre $fresh post"),
      (11L, s"q1 $span q2"),       // corpus span at an interior offset
      (12L, "tiny"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, s"x $fresh y"),        // repeats batch 1's fresh span
      (21L, s"w $span z"))         // repeats the day-1 corpus span
      .toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def loop(root: String, hashed: Boolean) = {
      Dedup.writeSpanIndex(corpus, "doc_id", "text", window = 8, root,
        hashed = hashed)
      val b1 = m(Dedup.incrementalSubstringDedup(batch1, root,
        "doc_id", "text", 8, hashed = hashed))
      Dedup.appendToSpanIndex(batch1, root, "doc_id", "text", window = 8,
        hashed = hashed)
      val b2 = m(Dedup.incrementalSubstringDedup(batch2, root,
        "doc_id", "text", 8, hashed = hashed))
      (b1, b2)
    }
    val textRoot = java.nio.file.Files
      .createTempDirectory("graft-spanidx-txt").toString
    val hashRoot = java.nio.file.Files
      .createTempDirectory("graft-spanidx-hsh").toString
    val (t1, t2) = loop(textRoot, hashed = false)
    val (h1, h2) = loop(hashRoot, hashed = true)
    assert(h1 == t1, s"batch-1 probe must match across keyings: $h1 vs $t1")
    assert(h2 == t2, s"batch-2 probe (incl. the appended cross-batch " +
      s"span) must match across keyings: $h2 vs $t2")
    // the committed layout really is 8-byte keys
    val idx = Dedup.readIndexTable(spark, s"$hashRoot/spans")
    assert(idx.schema("gram").dataType ==
      org.apache.spark.sql.types.LongType,
      "hashed index must store long keys")
    // one index, one keying: a probe against the wrong layout refuses
    // loudly instead of silently casting the join keys
    val boom = intercept[IllegalArgumentException] {
      Dedup.incrementalSubstringDedup(batch2, hashRoot,
        "doc_id", "text", 8, hashed = false).collect()
    }
    assert(boom.getMessage.contains("keying mismatch"), boom.getMessage)
    val boom2 = intercept[IllegalArgumentException] {
      Dedup.appendToSpanIndex(batch2, textRoot, "doc_id", "text", 8,
        hashed = true)
    }
    assert(boom2.getMessage.contains("keying mismatch"), boom2.getMessage)
    Staged.releaseAll()
  }

  test("LSH index append is idempotent per id: a replayed append adds no rows and no counts") {
    // the r19 ADVICE gap: the capstone's lazy day-registration is
    // marker-gated but the append itself re-appended the whole batch
    // when a crash landed between append and marker — duplicated
    // shingle/band rows and double-merged bucket counts, breaking the
    // distinctness invariant the _APPEND_LOCK scaladoc declares
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lsh-idem").toString
    Dedup.writeLshIndex(corpus.where(col("doc_id").isin(0L, 1L)),
      "doc_id", "text", dir, threshold = 0.5)
    val batch = corpus.where(col("doc_id").isin(2L, 3L))
    def faceRows(sub: String): Long =
      Dedup.readIndexTable(spark, s"$dir/$sub").count()
    def bucketCounts(): Map[(Int, Long), Long] = {
      val cur = new java.io.File(dir).listFiles()
        .filter(_.getName.matches("bucket_counts_v\\d+"))
        .maxBy(_.getName.stripPrefix("bucket_counts_v").toInt)
      spark.read.parquet(cur.getAbsolutePath)
        .select(col("band_idx"), col("band_key"), col("n"))
        .as[(Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }
    Dedup.appendToLshIndex(batch, dir, "doc_id", "text")
    val (sh1, bd1, bc1) = (faceRows("shingles"), faceRows("bands"),
      bucketCounts())
    def probe() = Dedup.incrementalNearDup(
      corpus.where(col("doc_id") === 5L), dir, "doc_id", "text",
      threshold = 0.5)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val pairs1 = probe()
    // the replay: the marker-gated caller crashed post-append, pre-
    // marker — the re-run must be a byte-level no-op on every face
    Dedup.appendToLshIndex(batch, dir, "doc_id", "text")
    assert((faceRows("shingles"), faceRows("bands")) == ((sh1, bd1)),
      s"replayed append duplicated rows: ${(faceRows("shingles"),
        faceRows("bands"))} vs ${(sh1, bd1)}")
    assert(bucketCounts() == bc1,
      "replayed append must not double-merge the bucket counts")
    assert(probe() == pairs1, "replayed append changed a probe verdict")
    // a MIXED batch (one committed id, one fresh) appends only the
    // fresh id — the per-id anti-join, which is also what makes a
    // crash between the shingle and band appends RESUME instead of
    // duplicating: each face skips exactly the ids it already holds
    Dedup.appendToLshIndex(corpus.where(col("doc_id").isin(3L, 4L)),
      dir, "doc_id", "text")
    val shIds = Dedup.readIndexTable(spark, s"$dir/shingles")
      .groupBy(col("id")).count().where(col("count") > 1).count()
    assert(shIds == 0, "no id may hold two shingle rows after a mixed append")
    assert(Dedup.readIndexTable(spark, s"$dir/bands")
      .groupBy(col("id"), col("band_idx")).count()
      .where(col("count") > 1).count() == 0,
      "no (id, band) may duplicate after a mixed append")
    graft.ops.Staged.releaseAll()
  }

  test("batch append faces are single-writer: a held _APPEND_LOCK refuses loudly; clearAppendLock recovers") {
    // r19, the maintenance-lease discipline on the appendable
    // artifacts: append = read-distinct-then-write, not atomic — a
    // second concurrent appender must refuse, never interleave
    val span = (1 to 8).map(i => s"c$i").mkString(" ")
    val corpus = Seq((1L, s"$span alpha beta")).toDF("doc_id", "text")
    val batch = Seq((10L, "n1 n2 n3 n4 n5 n6 n7 n8 end")).toDF("doc_id", "text")
    val spanRoot = java.nio.file.Files
      .createTempDirectory("graft-lock-span").toString
    val pasRoot = java.nio.file.Files
      .createTempDirectory("graft-lock-pas").toString
    val lshRoot = java.nio.file.Files
      .createTempDirectory("graft-lock-lsh").toString
    Dedup.writeSpanIndex(corpus, "doc_id", "text", 8, spanRoot)
    Dedup.writePassageIndex(corpus, "doc_id", "text", 8, pasRoot)
    Dedup.writeLshIndex(corpus, "doc_id", "text", lshRoot, threshold = 0.8)
    def hold(root: String): Unit =
      assert(new java.io.File(root, "_APPEND_LOCK").createNewFile())
    Seq(spanRoot, pasRoot, lshRoot).foreach(hold)
    val e1 = intercept[IllegalStateException] {
      Dedup.appendToSpanIndex(batch, spanRoot, "doc_id", "text", 8)
    }
    val e2 = intercept[IllegalStateException] {
      Dedup.appendToPassageIndex(batch, pasRoot, "doc_id", "text", 8)
    }
    val e3 = intercept[IllegalStateException] {
      Dedup.appendToLshIndex(batch, lshRoot, "doc_id", "text")
    }
    Seq(e1, e2, e3).foreach { e =>
      assert(e.getMessage.contains("_APPEND_LOCK") &&
        e.getMessage.contains("clearAppendLock"),
        s"the refusal must name the lock and the recovery: ${e.getMessage}")
    }
    // operator recovery: clear the crashed holder's lock, append runs,
    // and the lock is RELEASED after (a second append needs no clear)
    Seq(spanRoot, pasRoot, lshRoot).foreach(r =>
      Dedup.clearAppendLock(spark, r))
    Dedup.appendToSpanIndex(batch, spanRoot, "doc_id", "text", 8)
    Dedup.appendToPassageIndex(batch, pasRoot, "doc_id", "text", 8)
    Dedup.appendToLshIndex(batch, lshRoot, "doc_id", "text")
    assert(!new java.io.File(spanRoot, "_APPEND_LOCK").exists(),
      "a completed append must release its lock")
    Dedup.appendToSpanIndex(batch, spanRoot, "doc_id", "text", 8)
    Staged.releaseAll()
  }
}
