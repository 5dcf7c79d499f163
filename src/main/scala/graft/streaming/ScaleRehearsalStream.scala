package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{Dedup, Staged, TextAnalysis}
import graft.sources.Tables

/** Scale rehearsal for the STREAMING passage-dedup epoch index (round
  * 10): hold the probe batch FIXED while the number of committed epoch
  * partitions grows — the curve that must stay flat for the
  * continuous-ingest face to mean anything at 100 TB, now that each
  * epoch partition is a bucketed table probed via chained
  * Exchange-free anti-joins (see [[Streams.passageDedupStream]]).
  *
  * Epoch content is DECORRELATED (per-epoch token suffix): each day
  * contributes fresh passages, so the index grows E× while the batch's
  * true suppressions stay those against epoch 0 — constant across E, a
  * built-in correctness face. Each epoch count is measured twice: with
  * the live per-epoch partitions (chain length = E), then after
  * [[Streams.compactPassageIndex]] (chain length ≤ 2) — the pair shows
  * both that the chained probe does not degrade with E and what
  * compaction buys back when E gets long.
  *
  * `--live [nEpochs] [maxChain]` (default 32, 8) instead drives the
  * REAL stream — MemoryStream → [[Streams.passageDedupStream]] with
  * its auto-compaction policy — one decorrelated batch per epoch, and
  * reports per-epoch wall time plus the on-disk chain length. This is
  * the unattended-operation face: the chain must stay ≤ maxChain+1
  * and per-epoch cost flat with ZERO manual compaction calls.
  *
  * Usage: runMain graft.streaming.ScaleRehearsalStream [epochCounts...]
  * (default 1 4 8 16)
  */
object ScaleRehearsalStream {

  private case class Doc(doc_id: Long, text: String)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--live")) return runLive(
      args.lift(1).map(_.toInt).getOrElse(32),
      args.lift(2).map(_.toInt).getOrElse(8))
    if (args.headOption.contains("--hh")) return runHeavyHitters(
      args.lift(1).map(_.toInt).getOrElse(32),
      args.lift(2).map(_.toInt).getOrElse(64))
    if (args.headOption.contains("--quote")) return runQuotation(
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 8, 16))
    if (args.headOption.contains("--novelty")) return runNovelty(
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 8, 16))
    if (args.headOption.contains("--health")) return runHealth(
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 8, 16))
    if (args.headOption.contains("--qlive")) return runQuotationLive(
      args.lift(1).map(_.toInt).getOrElse(24),
      args.lift(2).map(_.toInt).getOrElse(6))
    if (args.headOption.contains("--maintain")) return runMaintain(
      args.lift(1).map(_.toInt).getOrElse(5),
      args.lift(2).map(_.toInt).getOrElse(2))
    if (args.headOption.contains("--maintain-bpe")) return runMaintainBpe(
      args.lift(1).map(_.toInt).getOrElse(5),
      args.lift(2).map(_.toInt).getOrElse(2),
      args.lift(3).map(_.toInt).getOrElse(1024))
    if (args.headOption.contains("--span-bytes")) return runSpanBytes(
      args.lift(1).map(_.toInt).getOrElse(8))
    if (args.headOption.contains("--ladder")) return runLadder(
      args.lift(1).map(_.toInt).getOrElse(8),
      args.lift(2).map(_.toInt).getOrElse(4))
    val epochCounts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 8, 16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-stream")
    import spark.implicits._

    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    require(nDocs > 0, s"no documents under $sfDir — nothing to rehearse")
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    val w = 8

    // epoch e's corpus: replica of the base with an e-suffix on every
    // token (e > 0), so passage universes are disjoint across epochs
    def epochDocs(e: Int) = {
      val text =
        if (e == 0) $"text"
        else array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ")
      base.select(($"doc_id" + lit(e * stride)).as("doc_id"), text.as("text"))
    }
    // fixed probe batch: a re-crawled 10% slice of epoch 0's content
    // (every passage must die against epoch 0, whatever E is) plus a
    // 10% slice of genuinely fresh content (must survive) — so the
    // E-invariance check covers both fates
    val batch = base.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + lit(1000L * stride)).as("doc_id"), $"text")
      .unionByName(base.where($"doc_id" % 10 === 5)
        .select(($"doc_id" + lit(1001L * stride)).as("doc_id"),
          array_join(transform(TextAnalysis.tokens($"text"),
            x => concat(x, lit("fresh"))), " ").as("text")))

    var expect = (-1L, -1L)
    epochCounts.foreach { ec =>
      val idxPath = s"/tmp/graft-scale-streamidx-$ec"
      // the cached dir is only valid if it still holds the LIVE
      // E-epoch chain: the compaction below MUTATES it (merging down
      // to <= 2 partitions), so a rerun that trusted the _OK marker
      // alone would measure the "live chain" probe against an
      // already-compacted index — rebuild whenever the partition
      // count no longer matches the requested epoch count
      val cachedParts = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      if (!new java.io.File(s"$idxPath/_OK").exists() || cachedParts != ec) {
        val root = new org.apache.hadoop.fs.Path(idxPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) fs.delete(root, true): Unit
        (0 until ec).foreach { e =>
          Dedup.writeBucketedIndex(
            Dedup.passages(epochDocs(e), "doc_id", "text", w)
              .select($"chunk_text").distinct(),
            s"$idxPath/epoch=$e", Seq("chunk_text"), 32)
        }
        new java.io.File(s"$idxPath/_OK").createNewFile(): Unit
      }
      def probe(): (Double, Long, Long) = {
        val parts = Streams.indexPartsBefore(spark, idxPath, Long.MaxValue)
        val t0 = System.nanoTime()
        val r = Dedup.incrementalPassageDedup(batch, parts, "doc_id", "text", w)
          .agg(coalesce(sum($"n_kept"), lit(0L)),
            coalesce(sum($"n_dropped"), lit(0L))).head()
        val sec = (System.nanoTime() - t0) / 1e9
        Staged.releaseAll()
        (sec, r.getLong(0), r.getLong(1))
      }
      val (liveSec, liveKept, liveDropped) = probe()
      // correctness face: suppression is E-invariant by construction
      if (expect._1 < 0) expect = (liveKept, liveDropped)
      require((liveKept, liveDropped) == expect,
        s"suppression drifted with epoch count $ec: ($liveKept,$liveDropped) != $expect")
      Streams.compactPassageIndex(spark, idxPath, upToEpoch = Long.MaxValue)
      val (compactSec, cKept, cDropped) = probe()
      require((cKept, cDropped) == expect,
        s"compaction changed the probe result at $ec: ($cKept,$cDropped) != $expect")
      val nLive = Streams.indexPartsBefore(spark, idxPath, Long.MaxValue).size
      println(f"""{"epochs":$ec,"docs_indexed":${nDocs * ec},""" +
        f""""probe_sec":$liveSec%.2f,"post_compact_sec":$compactSec%.2f,""" +
        f""""post_compact_parts":$nLive,"kept":$liveKept,"dropped":$liveDropped}""")
    }
    spark.stop()
  }

  /** Fixed quotation-probe batch vs a GROWING committed shingle-set
    * index ([[Streams.quotationFlagStream]]'s layout): epoch shingle
    * universes are disjoint (per-epoch token suffix), the probe batch
    * quotes only epoch-0 content plus a fresh slice, so its flag count
    * is E-invariant by construction — the correctness face — and the
    * probe's wall time must stay flat as E grows, because each
    * committed epoch is a bucketed posting table the batch equi-joins
    * WITHOUT re-exploding anything committed (the first-cut design
    * re-exploded every committed hash array per batch: O(corpus) per
    * epoch, exactly what this curve would have exposed).
    */
  private def runQuotation(epochCounts: Seq[Int]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-quote")
    import spark.implicits._
    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    def epochDocs(e: Int) = {
      val text =
        if (e == 0) $"text"
        else array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ")
      base.select(($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
        text.as("text"))
    }
    // probe: 10% of epoch-0 re-crawled verbatim (containment 1.0 in
    // epoch 0, whatever E is) + 10% fresh (no flags ever)
    val batch = base.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + lit(1000L * stride)).as("doc_id"), $"text")
      .unionByName(base.where($"doc_id" % 10 === 5)
        .select(($"doc_id" + lit(1001L * stride)).as("doc_id"),
          array_join(transform(TextAnalysis.tokens($"text"),
            x => concat(x, lit("fresh"))), " ").as("text")))
    var expect = -1L
    epochCounts.foreach { ec =>
      val idxPath = s"/tmp/graft-scale-quoteidx-$ec"
      // rebuild when the cached dir no longer holds the LIVE ec-epoch
      // chain — the compaction below MUTATES it (the passage
      // rehearsal's rule), so a rerun trusting _OK alone would measure
      // the "live chain" probe against an already-compacted index
      val cachedParts = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      if (!new java.io.File(s"$idxPath/_OK").exists() || cachedParts != ec) {
        val root = new org.apache.hadoop.fs.Path(idxPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) fs.delete(root, true): Unit
        (0 until ec).foreach { e =>
          Streams.registerQuotationEpoch(epochDocs(e), e.toLong, idxPath,
            "doc_id", "text", n = 3, nBuckets = 32)
          Staged.releaseAll()
        }
        new java.io.File(s"$idxPath/_OK").createNewFile(): Unit
      }
      def probe(): (Double, Long) = {
        val t0 = System.nanoTime()
        val flags = Streams.quotationFlags(batch, Long.MaxValue, idxPath,
          "doc_id", "text", n = 3, threshold = 0.6).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Staged.releaseAll()
        (sec, flags)
      }
      val (sec, flags) = probe()
      if (expect < 0) expect = flags
      require(flags == expect,
        s"flag count drifted with epoch count $ec: $flags != $expect")
      // the r14 compaction face: fold the chain to <= 2 partitions and
      // re-probe — the flag set must be invariant (same container set,
      // one candidates+verify leg instead of ec of them)
      Streams.compactQuotationIndex(spark, idxPath, upToEpoch = Long.MaxValue)
      val (cSec, cFlags) = probe()
      require(cFlags == expect,
        s"compaction changed the probe result at $ec: $cFlags != $expect")
      val nLive = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      println(f"""{"epochs":$ec,"docs_indexed":${nDocs * ec},""" +
        f""""probe_sec":$sec%.2f,"post_compact_sec":$cSec%.2f,""" +
        f""""post_compact_parts":$nLive,"flags":$flags}""")
    }
    spark.stop()
  }

  /** Fixed novelty-probe batch vs a GROWING first-seen gram index
    * ([[Streams.noveltyMonitorStream]]'s layout): epoch gram universes
    * are disjoint (per-epoch token suffix), the probe batch re-crawls
    * only epoch-0 content plus a fresh slice, so its (grams, novel)
    * counts are E-invariant by construction — the correctness face —
    * and the per-batch cost curve shows what the chained anti-join fold
    * costs as E grows LIVE vs after [[Streams.compactNoveltyIndex]]
    * folds the chain to ≤ 2 partitions (the r14 compaction face: the
    * residual growth is CHAIN length, and compaction removes it).
    * Timed work is the full [[Streams.processNoveltyBatch]] — probe +
    * snapshot write + registration — i.e. the real per-epoch bill.
    */
  private def runNovelty(epochCounts: Seq[Int]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-novelty")
    import spark.implicits._
    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    def epochDocs(e: Int) = {
      val text =
        if (e == 0) $"text"
        else array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ")
      base.select(($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
        text.as("text"))
    }
    val batch = base.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + lit(1000L * stride)).as("doc_id"), $"text")
      .unionByName(base.where($"doc_id" % 10 === 5)
        .select(($"doc_id" + lit(1001L * stride)).as("doc_id"),
          array_join(transform(TextAnalysis.tokens($"text"),
            x => concat(x, lit("fresh"))), " ").as("text")))
    var expect = (-1L, -1L)
    epochCounts.foreach { ec =>
      val idxPath = s"/tmp/graft-scale-novidx-$ec"
      val outPath = s"/tmp/graft-scale-novout-$ec"
      val cachedParts = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      if (!new java.io.File(s"$idxPath/_OK").exists() || cachedParts != ec) {
        val root = new org.apache.hadoop.fs.Path(idxPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) fs.delete(root, true): Unit
        (0 until ec).foreach { e =>
          Streams.processNoveltyBatch(epochDocs(e), e.toLong, idxPath,
            outPath, "doc_id", "text", n = 3, alertBelow = 0.0,
            maxChain = 0)
        }
        new java.io.File(s"$idxPath/_OK").createNewFile(): Unit
      }
      // measure one probe epoch, then DELETE its registration so the
      // cached index keeps exactly ec committed partitions
      def probe(): (Double, Long, Long) = {
        val probeEpoch = 1000000L
        val t0 = System.nanoTime()
        Streams.processNoveltyBatch(batch, probeEpoch, idxPath, outPath,
          "doc_id", "text", n = 3, alertBelow = 0.0, maxChain = 0)
        val sec = (System.nanoTime() - t0) / 1e9
        val r = spark.read.parquet(s"$outPath/epoch=$probeEpoch")
          .select($"n_grams", $"n_novel").as[(Long, Long)].head()
        val fs = new org.apache.hadoop.fs.Path(idxPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$idxPath/epoch=$probeEpoch"), true): Unit
        spark.sql("DROP TABLE IF EXISTS " + graft.ops.Dedup
          .indexTableName(s"$idxPath/epoch=$probeEpoch")): Unit
        (sec, r._1, r._2)
      }
      val (sec, nGrams, nNovel) = probe()
      if (expect._1 < 0) expect = (nGrams, nNovel)
      require((nGrams, nNovel) == expect,
        s"novelty drifted with epoch count $ec: ($nGrams,$nNovel) != $expect")
      Streams.compactNoveltyIndex(spark, idxPath, upToEpoch = Long.MaxValue)
      val (cSec, cGrams, cNovel) = probe()
      require((cGrams, cNovel) == expect,
        s"compaction changed the probe result at $ec: ($cGrams,$cNovel) != $expect")
      val nLive = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      println(f"""{"epochs":$ec,"docs_indexed":${nDocs * ec},""" +
        f""""probe_sec":$sec%.2f,"post_compact_sec":$cSec%.2f,""" +
        f""""post_compact_parts":$nLive,"grams":$nGrams,"novel":$nNovel}""")
    }
    spark.stop()
  }

  /** `--health`: [[Streams.sourceHealthSnapshot]]'s read path against a
    * GROWING epoch-partitioned gram index — the novelty curve's
    * question asked of the per-source monitor, which reads EVERY
    * committed gram partition per epoch (one anti-join leg each, the
    * chained Exchange-free probe): the per-source verdicts must be
    * E-invariant (the re-crawl source reads novelty 0, the fresh
    * source high, at every E) while probe time must stay flat in E and
    * drop to the ≤2-partition cost after [[Streams.compactNoveltyIndex]]
    * — the same compaction the index OWNER (the novelty stream) runs
    * under `maxChain`, so a health monitor pointed at a live novelty
    * index inherits bounded chains for free.
    */
  private def runHealth(epochCounts: Seq[Int]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-health")
    import spark.implicits._
    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    def epochDocs(e: Int) = {
      val text =
        if (e == 0) $"text"
        else array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ")
      base.select(($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
        text.as("text"))
    }
    // frozen day-1 vocab + merge list, built once per sf fixture
    val artPath = "/tmp/graft-scale-health-art"
    if (!new java.io.File(s"$artPath/_OK").exists()) {
      TextAnalysis.fitVocab(base, "text", vocabSize = 200)
        .write.mode("overwrite").parquet(s"$artPath/vocab")
      graft.ops.Bpe.fitAuto(base, "text", nMerges = 16)
        .mergeTable(spark).write.mode("overwrite")
        .parquet(s"$artPath/merges")
      Staged.releaseAll()
      new java.io.File(s"$artPath/_OK").createNewFile(): Unit
    }
    // the probe batch names its sources: a re-crawl slice of epoch 0's
    // content (novelty must read 0 whatever E is) and a fresh slice
    // (must read novel) — the per-source E-invariance is the
    // correctness face of the curve
    val batch = base.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + lit(1000L * stride)).as("doc_id"), $"text",
        lit("recrawl").as("source"))
      .unionByName(base.where($"doc_id" % 10 === 5)
        .select(($"doc_id" + lit(1001L * stride)).as("doc_id"),
          array_join(transform(TextAnalysis.tokens($"text"),
            x => concat(x, lit("fresh"))), " ").as("text"),
          lit("fresh").as("source")))
    var expect: Map[String, (Double, Double, Double)] = null
    epochCounts.foreach { ec =>
      val idxPath = s"/tmp/graft-scale-healthidx-$ec"
      val outPath = s"/tmp/graft-scale-healthout-$ec"
      val cachedParts = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      if (!new java.io.File(s"$idxPath/_OK").exists() || cachedParts != ec) {
        val root = new org.apache.hadoop.fs.Path(idxPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) fs.delete(root, true): Unit
        (0 until ec).foreach { e =>
          Streams.processNoveltyBatch(epochDocs(e), e.toLong, idxPath,
            outPath, "doc_id", "text", n = 3, alertBelow = 0.0,
            maxChain = 0)
        }
        new java.io.File(s"$idxPath/_OK").createNewFile(): Unit
      }
      def probe(): (Double, Map[String, (Double, Double, Double)]) = {
        val t0 = System.nanoTime()
        val rows = Streams.sourceHealthSnapshot(batch, idxPath,
            s"$artPath/vocab", s"$artPath/merges", "text", "source")
          .select($"source", $"novelty", $"oov_rate", $"fertility")
          .as[(String, Double, Double, Double)].collect()
        val sec = (System.nanoTime() - t0) / 1e9
        Staged.releaseAll()
        (sec, rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap)
      }
      val (sec, health) = probe()
      if (expect == null) expect = health
      require(health == expect,
        s"per-source health drifted with epoch count $ec: $health != $expect")
      require(health("recrawl")._1 == 0.0 && health("fresh")._1 > 0.5,
        s"source verdicts must name the re-crawler at E=$ec: $health")
      Streams.compactNoveltyIndex(spark, idxPath, upToEpoch = Long.MaxValue)
      val (cSec, cHealth) = probe()
      require(cHealth == expect,
        s"compaction changed the verdicts at $ec: $cHealth != $expect")
      val nLive = Option(new java.io.File(idxPath).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("epoch="))
      println(f"""{"epochs":$ec,"docs_indexed":${nDocs * ec},""" +
        f""""probe_sec":$sec%.2f,"post_compact_sec":$cSec%.2f,""" +
        f""""post_compact_parts":$nLive,""" +
        f""""recrawl_novelty":${expect("recrawl")._1}%.6f,""" +
        f""""fresh_novelty":${expect("fresh")._1}%.6f}""")
    }
    spark.stop()
  }

  private case class Vec(vec_id: Long, embedding: Seq[Float])

  /** `--maintain [nEpochs] [debounce]` (default 5, 2): price the
    * STREAMING refit-maintenance loop end to end at the fixture scale —
    * the operational rehearsal of
    * [[VectorStreams.refitMaintenanceStream]], which the specs verify
    * at toy scale but nothing had measured. Day 1 commits the IVF/PQ
    * index over the corpus embeddings; a model-swap drift (the whole
    * corpus re-embedded far from the fit distribution) appends under
    * frozen centroids; then a drifted QUERY stream drives the loop
    * (both geometry gauges armed, so each epoch's wall bills the full
    * instrument) while a CONCURRENT [[VectorStreams.stagedServeStream]]
    * answers an in-fit query batch every epoch — serving must continue
    * across the swap, epochs-to-repair must equal the debounce, the
    * repair must fire exactly once, and the post-repair agreement must
    * clear the drifted value by the refit-spec differential (all
    * REQUIREd, not just printed).
    */
  private def runMaintain(nEpochs: Int, debounce: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-maintain")
    import spark.implicits._
    val emb = Tables(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    val nBase = emb.count()
    require(nBase > 0, s"no embeddings under $sfDir — nothing to rehearse")
    val root = java.nio.file.Files.createTempDirectory("graft-maintain").toString
    val dir = s"$root/index"
    var t0 = System.nanoTime()
    graft.ops.Ivf.buildPersistent(emb, dir, "vec_id", "embedding", k = 16): Unit
    graft.ops.Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 4, ksub = 16)
    // the drift: a far offset blob with REAL angular spread (5x the
    // base variation riding a +15-per-coordinate offset) — far enough
    // that the frozen codebooks saturate on its residuals, spread
    // enough that round-6 cosine still ranks its members distinctly (a
    // tighter blob collapses to ties and reads a vacuous 1.0
    // agreement). The IvfRefitSpec recipe at fixture scale.
    graft.ops.Ivf.appendToIndex(
      emb.select(($"vec_id" + 10000000L).as("vec_id"),
        transform($"embedding", x => x * lit(5.0f) + lit(10.0f))
          .as("embedding")),
      dir, "vec_id", "embedding"): Unit
    val day1Sec = (System.nanoTime() - t0) / 1e9
    // drifted maintenance queries (the snapshot samples the lowest 32):
    // the arriving drifted traffic is what the degraded codes mis-rank,
    // so it is what the gate measures — the r17 loop spec's recipe
    val maintBatch = spark.read.parquet(s"$dir/assigned")
      .where($"vec_id" >= 10000000L).orderBy($"vec_id").limit(256)
      .select($"vec_id", $"embedding").as[Vec].collect().toSeq
    val serveBatch = emb.where($"vec_id" % 97 === 0)
      .select($"vec_id", $"embedding").as[Vec].collect().toSeq
    val (mon, ref) = (s"$root/mon", s"$root/ref")
    val maintIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Vec](spark)
    val serveIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Vec](spark)
    val maintQ = VectorStreams.refitMaintenanceStream(maintIn.toDF(), dir,
      mon, ref, s"$root/mcp", "vec_id", "embedding", k = 10, kCand = 100,
      maxQueries = 32, alertBelow = 0.5, debounce = debounce,
      // targetCell=128: the corpus DOUBLED under the drift append, so
      // the policy recommends k=32 (a 2x gap from the built 16) and the
      // fired repair rides the resize — halved cells, which is also
      // what restores the staged gate's candidate coverage
      resizePolicy = Some((128, 4)),
      // both geometry gauges ARMED (ceilings no drift here can reach):
      // every epoch's wall prices the full instrument, not just the
      // serving gate
      residualCeiling = Some(1e9), balanceCeiling = Some(1e9))
    val serveQ = VectorStreams.stagedServeStream(serveIn.toDF(), dir,
      s"$root/serve", s"$root/scp", "vec_id", "embedding",
      k = 10, kCand = 50, nprobe = 4)
    var agreeBefore = -1.0
    var repairWall = -1.0
    try {
      (0 until nEpochs).foreach { e =>
        var t = System.nanoTime()
        maintIn.addData(maintBatch: _*); maintQ.processAllAvailable()
        val maintSec = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        serveIn.addData(serveBatch: _*); serveQ.processAllAvailable()
        val serveSec = (System.nanoTime() - t) / 1e9
        val (agree, alert) = spark.read.parquet(s"$mon/epoch=$e")
          .select($"staged_agreement", $"alert").as[(Double, Boolean)].head()
        val repaired = new java.io.File(s"$ref/epoch=$e").exists()
        if (repaired) repairWall = maintSec
        if (!repaired && agreeBefore < 0 && alert) agreeBefore = agree
        val served = spark.read.parquet(s"$root/serve/epoch=$e").count()
        require(served > 0,
          s"serving starved at epoch $e — the swap must not stall it")
        println(f"""{"epoch":$e,"maint_sec":$maintSec%.2f,""" +
          f""""serve_sec":$serveSec%.2f,"staged_agreement":$agree%.6f,""" +
          f""""alert":$alert,"repaired":$repaired,"served":$served}""")
      }
    } finally { maintQ.stop(); serveQ.stop() }
    // single fire, exactly at the debounce boundary
    val fired = VectorStreams.epochsBefore(spark, ref, Long.MaxValue)
    require(fired == Seq(debounce - 1L),
      s"the repair must fire once at epoch ${debounce - 1}: $fired")
    val agreeAfter = spark.read.parquet(s"$ref/epoch=${debounce - 1}")
      .select($"staged_agreement").as[Double].head()
    // the refit-spec differential: the promoted faces must clear the
    // drifted agreement by a wide gap on the SAME query sample
    require(agreeAfter >= math.min(agreeBefore + 0.4, 0.75),
      s"post-repair agreement must clear the drifted value: " +
        s"$agreeAfter vs $agreeBefore")
    // post-swap serving is byte-consistent with the promoted faces
    val last = nEpochs - 1L
    val replay = graft.ops.Pq.topKStagedBatch(spark, dir,
        graft.ops.Ivf.readIndex(spark, dir),
        serveBatch.toDF().select($"vec_id", $"embedding"),
        "vec_id", "embedding", "vec_id", k = 10, kCand = 50, nprobe = 4)
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    val committed = spark.read.parquet(s"$root/serve/epoch=$last")
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    require(replay == committed,
      "post-swap serve epoch must equal a direct staged probe of the " +
        "promoted faces")
    println(f"""{"mode":"maintain","n_base":$nBase,"day1_sec":$day1Sec%.1f,""" +
      f""""epochs_to_repair":$debounce,"repair_wall_sec":$repairWall%.1f,""" +
      f""""agreement_before":$agreeBefore%.6f,"agreement_after":$agreeAfter%.6f,""" +
      f""""serve_epochs_ok":$nEpochs}""")
    spark.stop()
  }

  /** `--ladder [nDays] [maxChain]` (default 8, 4): price the rolling
    * day-N capstone ladder's TIME axis (r20 — the r19 verdict's top
    * ask: the space axis was closed by epoch-chain compaction, but
    * nothing MEASURED per-day wall as N grows). Drives days
    * 2..nDays+1 of [[graft.CurateMain.ingestDay]] on ONE workDir at
    * the fixture sf with the default mixed fresh/re-crawl batches —
    * each day COLD, then WARM (the head-day replay, REQUIREd
    * byte-identical before the ladder advances) — and REQUIREs the
    * ladder's two boundedness claims:
    *  - probe-plan chain lengths stay ≤ maxChain+1 on disk for both
    *    the passage and span indexes at every day (the auto-compaction
    *    policy at daily cadence, exercised repeatedly at sf scale);
    *  - per-day COLD wall is FLAT — a function of the day's batch,
    *    not of the day number: the mean of the ladder's last half must
    *    not exceed 1.6× the mean of its first half (days ≥ 4; day 2
    *    pays the one-time day-1 index builds and day 3 the first
    *    lazy-registration, so both are reported but exempt), and each
    *    day's suppression ladder must actually act
    *    (spanKept ≤ survivors ≤ passageKept < batch).
    * The 1.6 bound is generous for box noise (the bench notes' ~1.3×
    * session inflation) while failing the actual bug class this exists
    * for: a probe or registration whose cost reads the CORPUS or the
    * chain length — at 8 days that reads ≥ 2× and climbing.
    */
  private def runLadder(nDays: Int, maxChain: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.builder("graft-scale-ladder")
      .master(s"local[${GraftSession.cpus}]")
      // one JVM hosts 2·nDays day-jobs back to back (production runs
      // one driver per day): without a bound the SQL status store
      // retains 1000 executions' plan metrics/descriptions (~1M
      // SQLPlanMetric instances, GBs, measured by heap histogram at
      // day 6) — an artifact of the REHEARSAL shape, capped here so
      // the per-day heap_mb column reads the engine, not the UI store
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(nDays >= 4, s"the flatness gate needs >= 4 days, got $nDays")
    val work = java.nio.file.Files
      .createTempDirectory("graft-ladder").toString
    def chainOf(idx: String): Int = Option(
      new java.io.File(s"$work/$idx").listFiles()).toSeq.flatten
      .count(_.getName.startsWith("epoch="))
    val coldWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    (2 to nDays + 1).foreach { day =>
      var t0 = System.nanoTime()
      val s = graft.CurateMain.ingestDay(spark, sfDir, work, day,
        maxChain = maxChain)
      val coldSec = (System.nanoTime() - t0) / 1e9
      // the suppression ladder must ACT every day: exact re-crawls die
      // at the passage probe, near re-crawls at the LSH probe, quoted
      // spans strip (some quote docs drop to the short-remainder rule)
      require(s.batch > 0 && s.passageKept < s.batch &&
        s.survivors <= s.passageKept && s.spanKept <= s.survivors,
        s"day $day suppression ladder inverted: $s")
      val (spanChain, pasChain) =
        (chainOf("span_index"), chainOf("passage_index"))
      require(spanChain <= maxChain + 1 && pasChain <= maxChain + 1,
        s"day $day chain escaped the bound: span=$spanChain " +
          s"passage=$pasChain > ${maxChain + 1}")
      // head-day warm replay: byte-identical summary before advancing
      t0 = System.nanoTime()
      val s2 = graft.CurateMain.ingestDay(spark, sfDir, work, day,
        maxChain = maxChain)
      val warmSec = (System.nanoTime() - t0) / 1e9
      require(s2 == s, s"day $day warm replay drifted: $s2 vs $s")
      // post-GC driver heap per day: the boundedness evidence for the
      // one axis the wall clock can't see (a slow driver-side leak
      // would OOM a long ladder before it slowed one)
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      if (day >= 4) coldWalls += coldSec
      println(f"""{"day":$day,"batch":${s.batch},"passage_kept":${s.passageKept},""" +
        f""""survivors":${s.survivors},"span_kept":${s.spanKept},""" +
        f""""cold_sec":$coldSec%.1f,"warm_sec":$warmSec%.1f,""" +
        f""""span_chain":$spanChain,"passage_chain":$pasChain,""" +
        f""""alerts":${s.monitorAlerts},"heap_mb":$heapMb}""")
      // day boundary = job boundary in production (one driver per day);
      // the rehearsal holds 2·nDays day-jobs in ONE JVM, so it must
      // also drop anything that escaped Staged tracking (CacheManager
      // entries, lingering listing caches) or the LADDER's own heap —
      // not the engine's — trends with day number
      graft.ops.Staged.releaseAll()
      spark.catalog.clearCache()
    }
    // the flatness gate: wall follows the batch, not the day number
    val half = coldWalls.size / 2
    val firstHalf = coldWalls.take(half).sum / half
    val lastHalf = coldWalls.takeRight(half).sum / half
    require(lastHalf <= 1.6 * firstHalf,
      f"per-day wall TRENDS with day number: first-half mean " +
        f"$firstHalf%.1f s -> last-half mean $lastHalf%.1f s")
    println(f"""{"mode":"ladder","days":${nDays},"max_chain":$maxChain,""" +
      f""""first_half_mean_sec":$firstHalf%.1f,""" +
      f""""last_half_mean_sec":$lastHalf%.1f,""" +
      f""""trend_ratio":${lastHalf / firstHalf}%.2f}""")
    spark.stop()
  }

  /** `--span-bytes [window]` (default 8): the r19 hash-keyed span
    * index's storage differential, measured — build the PERSISTED
    * span index over the corpus in BOTH keyings and report committed
    * parquet bytes, bytes/span, and build wall. The transient probe's
    * shuffle savings are the x98 plan pin's business; this prices the
    * artifact that LIVES FOREVER, which at 100 TB is where the bytes
    * bill. A differential probe REQUIREs the two layouts verdict
    * identically on a fresh batch before the sizes are reported.
    */
  private def runSpanBytes(window: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-span-bytes")
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val batch = docs.where($"doc_id" % 10 === 0)
    val root = java.nio.file.Files
      .createTempDirectory("graft-span-bytes").toString
    def bytesUnder(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(new java.io.File(p))
    }
    val out = Seq(false, true).map { hashed =>
      val dir = s"$root/${if (hashed) "hashed" else "text"}"
      val t0 = System.nanoTime()
      Dedup.writeSpanIndex(corpus, "doc_id", "text", window, dir,
        hashed = hashed)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val nSpans = Dedup.readIndexTable(spark, s"$dir/spans").count()
      val bytes = bytesUnder(s"$dir/spans")
      (hashed, nSpans, bytes, buildSec)
    }
    // the two layouts must VERDICT identically before sizes mean
    // anything (no 64-bit collision at fixture scale)
    def m(hashed: Boolean) = Dedup.incrementalSubstringDedup(batch,
        s"$root/${if (hashed) "hashed" else "text"}", "doc_id", "text",
        window, hashed = hashed)
      .select($"doc_id", $"n_dropped", $"clean_text")
      .as[(Long, Long, String)].collect().toSet
    require(m(false) == m(true),
      "the hashed index must verdict identically to the text-keyed one")
    out.foreach { case (hashed, n, b, sec) =>
      println(f"""{"keying":"${if (hashed) "hashed" else "text"}",""" +
        f""""n_spans":$n,"bytes":$b,""" +
        f""""bytes_per_span":${b.toDouble / n}%.2f,"build_sec":$sec%.1f}""")
    }
    val ratio = out(0)._3.toDouble / out(1)._3
    println(f"""{"mode":"span-bytes","window":$window,""" +
      f""""text_over_hashed_bytes":$ratio%.2f}""")
    spark.stop()
  }

  /** `--maintain-bpe [nEpochs] [debounce] [nMerges]` (default 5, 2,
    * 1024): price the TOKENIZER maintenance loop end to end at the
    * fixture scale — the operational rehearsal of
    * [[Streams.bpeMaintenanceStream]], which the specs verify at
    * 4-merge toy scale while the real bill is the full-merge fit
    * (r16's `fitLocal` collapsed it, but nothing had priced the LOOP:
    * fit + debounced decision + mid-stream `Bpe.refitCommitted` +
    * consumers reading the committed artifact across the swap).
    *
    * Day 1 fits `nMerges` over the corpus widened by one 32-hex
    * pseudo-word per doc (the r15 recipe — the fixture's ~31-word
    * vocabulary otherwise exhausts a real merge budget); the drift is
    * every corpus token letter-rotated (same length statistics,
    * disjoint from the learned pairs, so the committed merges shred it
    * to near-characters); the caller-maintained fit corpus is
    * base ∪ absorbed drift, so the ONE mid-stream re-fit restores
    * fertility. Every epoch a CONSUMER (`Bpe.readFit` +
    * `Bpe.tokenize` — the packing path) prices a fixed drifted sample
    * against whatever artifact is committed: it must never starve, and
    * its post-swap token bill must drop (the context-window-slots
    * differential). REQUIREd: the repair fires exactly once at the
    * debounce boundary, pre-repair fertility alerts, post-repair
    * fertility clears the alert by a wide gap, and the consumer's
    * drifted-sample subword count shrinks across the swap.
    */
  private def runMaintainBpe(nEpochs: Int, debounce: Int,
      nMerges: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-maintain-bpe")
    import spark.implicits._
    val docsAll = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = docsAll.count()
    require(nDocs > 0, s"no documents under $sfDir — nothing to rehearse")
    val base = docsAll.select($"doc_id",
      concat_ws(" ", $"text", md5($"doc_id".cast("string"))).as("text"))
    val drift = docsAll.select(($"doc_id" + 10000000L).as("doc_id"),
      translate(lower($"text"),
        "abcdefghijklmnopqrstuvwxyz0123456789",
        "nopqrstuvwxyzabcdefghijklm5678901234").as("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-maintain-bpe").toString
    val bpePath = s"$root/bpe"
    var t0 = System.nanoTime()
    graft.ops.Bpe.fitCached(base, "text", nMerges, bpePath,
      corpusTag = "day1"): Unit
    val day1FitSec = (System.nanoTime() - t0) / 1e9
    // the caller-maintained fit corpus the repair re-fits over: the
    // base plus the ABSORBED drifted ingest (re-fitting on one drifted
    // batch alone would whiplash the vocabulary — the stream scaladoc's
    // contract)
    val corpusPath = s"$root/fitcorpus"
    t0 = System.nanoTime()
    base.unionByName(drift).write.mode("overwrite").parquet(corpusPath)
    val corpusWriteSec = (System.nanoTime() - t0) / 1e9
    val driftBatch = drift.orderBy($"doc_id").limit(512)
      .as[Doc].collect().toSeq
    val consumerSample = drift.orderBy($"doc_id").limit(64)
      .select($"doc_id", $"text")
    val (mon, ref) = (s"$root/mon", s"$root/ref")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Doc](spark)
    val alertAbove = 3.0
    val q = Streams.bpeMaintenanceStream(input.toDF(), bpePath, corpusPath,
      mon, ref, s"$root/cp", "doc_id", "text",
      alertAbove = alertAbove, debounce = debounce)
    // CONCURRENT consumer (r20 — pricing the production-merge repair,
    // where the re-fit wall dwarfs an epoch): a reader thread polls the
    // committed artifact continuously, INCLUDING all through the long
    // swap — every read must see a complete fit (the versioned _BPE_OK
    // marker swap is what makes that true: readers hold the retired
    // generation until the promote lands atomically). The sequential
    // per-epoch consumer below still prices the token-bill
    // differential; this thread proves no reader ever starves or tears.
    val stopConsumer = new java.util.concurrent.atomic.AtomicBoolean(false)
    val repairing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val readsDuringRepair = new java.util.concurrent.atomic.AtomicLong(0L)
    val consumerErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val consumer = new Thread(() => {
      while (!stopConsumer.get()) {
        try {
          val inRepair = repairing.get()
          val fit = graft.ops.Bpe.readFit(spark, bpePath)
          require(fit.merges.nonEmpty, "torn read: empty merge list")
          reads.incrementAndGet(): Unit
          if (inRepair) readsDuringRepair.incrementAndGet(): Unit
        } catch { case t: Throwable => consumerErrors.add(t): Unit }
        Thread.sleep(100)
      }
    }, "graft-bpe-concurrent-consumer")
    consumer.setDaemon(true)
    consumer.start()
    var fertBefore = -1.0
    var repairWall = -1.0
    var consumedBefore = -1L
    var consumedAfter = -1L
    try {
      (0 until nEpochs).foreach { e =>
        // the repair fires inside the debounce-boundary epoch: flag the
        // window so overlapping reads are attributable to the swap
        if (e == debounce - 1) repairing.set(true)
        val t = System.nanoTime()
        input.addData(driftBatch: _*); q.processAllAvailable()
        val maintSec = (System.nanoTime() - t) / 1e9
        if (e == debounce - 1) repairing.set(false)
        val (fert, alert) = spark.read.parquet(s"$mon/epoch=$e")
          .select($"fertility", $"alert").as[(Double, Boolean)].head()
        val repaired = new java.io.File(s"$ref/epoch=$e").exists()
        if (repaired) repairWall = maintSec
        if (!repaired && fertBefore < 0 && alert) fertBefore = fert
        // the CONSUMER face: packing's token pricing reads whatever
        // artifact is committed — it must never starve across the
        // swap. tokenizeWith (the applyMerges extension path), not the
        // fit-word-table join: the drifted sample's words are exactly
        // the ones a pre-swap word table has never seen, and the join
        // face would silently drop them all (the x74 pitfall)
        val fit = graft.ops.Bpe.readFit(spark, bpePath)
        val consumed = graft.ops.Bpe.tokenizeWith(consumerSample,
            "doc_id", "text", fit.merges.map(m => (m.left, m.right)))
          .agg(coalesce(sum($"n_bpe_tokens"), lit(0L))).as[Long].head()
        require(consumed > 0L,
          s"the consumer starved at epoch $e — the swap must not stall it")
        if (!repaired && consumedBefore < 0) consumedBefore = consumed
        consumedAfter = consumed
        println(f"""{"epoch":$e,"maint_sec":$maintSec%.2f,""" +
          f""""fertility":$fert%.6f,"alert":$alert,"repaired":$repaired,""" +
          f""""consumer_subwords":$consumed}""")
      }
    } finally {
      q.stop()
      stopConsumer.set(true)
      consumer.join(30000)
    }
    // the concurrent reader never starved or tore — including across
    // the swap epoch (at production merge scale the repair wall is
    // many epochs long, and THIS is the claim that matters there)
    require(consumerErrors.isEmpty,
      s"concurrent consumer failed ${consumerErrors.size} reads: " +
        s"${Option(consumerErrors.peek()).map(_.toString).getOrElse("")}")
    require(readsDuringRepair.get() > 0,
      "no concurrent read overlapped the repair epoch — the rehearsal " +
        "did not exercise the swap window (poll faster or fit bigger)")
    // single fire, exactly at the debounce boundary
    val fired = Streams.epochsBefore(spark, ref, Long.MaxValue)
    require(fired == Seq(debounce - 1L),
      s"the re-fit must fire once at epoch ${debounce - 1}: $fired")
    val fertAfter = spark.read.parquet(s"$ref/epoch=${debounce - 1}")
      .select($"fertility").as[Double].head()
    require(fertBefore > alertAbove,
      s"fixture sanity: the drift must alert pre-repair: $fertBefore")
    // fertility restored: the promoted merges price the SAME drifted
    // sample under the alert floor, by a wide gap
    require(fertAfter <= alertAbove && fertAfter < fertBefore - 1.0,
      s"the repair must restore fertility: $fertAfter vs $fertBefore")
    // the packing-facing differential: the same 64-doc drifted sample
    // costs fewer context-window slots under the promoted artifact
    require(consumedAfter < consumedBefore,
      s"the consumer's token bill must drop across the swap: " +
        s"$consumedAfter vs $consumedBefore")
    val mergesDone = spark.read.parquet(s"$bpePath/merges").count()
    println(f"""{"mode":"maintain-bpe","n_docs":$nDocs,""" +
      f""""n_merges":$nMerges,"merges_done":$mergesDone,""" +
      f""""day1_fit_sec":$day1FitSec%.1f,""" +
      f""""corpus_write_sec":$corpusWriteSec%.1f,""" +
      f""""epochs_to_repair":$debounce,"repair_wall_sec":$repairWall%.1f,""" +
      f""""fertility_before":$fertBefore%.6f,""" +
      f""""fertility_after":$fertAfter%.6f,""" +
      f""""consumer_subwords_before":$consumedBefore,""" +
      f""""consumer_subwords_after":$consumedAfter,""" +
      f""""concurrent_reads":${reads.get()},""" +
      f""""reads_during_repair":${readsDuringRepair.get()},""" +
      f""""consumer_read_errors":${consumerErrors.size}}""")
    spark.stop()
  }

  /** Drive the REAL quotation-flag stream (MemoryStream →
    * [[Streams.quotationFlagStream]]) `nEpochs` micro-batches under
    * the r14 auto-compaction policy — the unattended-operation face of
    * the `--quote` curve. Each epoch ingests a decorrelated fresh
    * slice (new shingle universe) PLUS a verbatim re-crawl of the same
    * epoch-0 slice under fresh ids, so every epoch ≥ 1 must flag
    * exactly that re-crawled slice against epoch 0's containers — a
    * per-epoch correctness invariant that crosses every compaction
    * boundary — while the on-disk chain must never exceed maxChain+1
    * with ZERO manual compaction calls.
    */
  private def runQuotationLive(nEpochs: Int, maxChain: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-qlive")
    import spark.implicits._

    val docsAll = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val fresh = docsAll.where($"doc_id" % 10 === 0)
    val quoted = docsAll.where($"doc_id" % 50 === 5) // re-crawled every epoch
    val stride = docsAll.agg(max($"doc_id")).head().getLong(0) + 1L
    // only docs with >= n tokens have shingles and can flag
    val nQuoted = quoted
      .where(size(TextAnalysis.tokens($"text")) >= 3).count()
    def epochBatch(e: Int): Seq[Doc] = {
      // fresh content is token-suffixed (new shingle universe per
      // epoch); epoch 0 ALSO carries the quoted slice VERBATIM at its
      // original (< stride) ids — the containers every later epoch's
      // re-crawl must flag against
      val f = fresh.select(($"doc_id" + lit(e.toLong * 2 * stride)).as("doc_id"),
        array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ").as("text"))
      val q =
        if (e == 0) quoted
        else quoted.select(
          ($"doc_id" + lit((e.toLong * 2 + 1) * stride)).as("doc_id"), $"text")
      f.unionByName(q).as[Doc].collect().toSeq
    }
    val root = java.nio.file.Files.createTempDirectory("graft-qlive").toString
    val idxPath = s"$root/index"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Doc](spark)
    val q = Streams.quotationFlagStream(input.toDF(), idxPath, s"$root/out",
      s"$root/cp", "doc_id", "text", n = 3, threshold = 0.6,
      maxChain = maxChain)
    def chain: Int = Option(new java.io.File(idxPath).listFiles()).toSeq
      .flatten.count(_.getName.startsWith("epoch="))
    try {
      (0 until nEpochs).foreach { e =>
        val batch = epochBatch(e)
        val t0 = System.nanoTime()
        input.addData(batch: _*)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val c = chain
        require(c <= maxChain + 1,
          s"auto-compaction failed to bound the chain: $c at epoch $e")
        // every epoch >= 1 must flag its whole re-crawled slice against
        // the ORIGINAL epoch-0 docs (ids < stride), across any number
        // of compactions of the containers' partition
        if (e >= 1) {
          val vsOriginal = spark.read.parquet(s"$root/out/epoch=$e")
            .where(col("quoted_from") < stride)
            .select(countDistinct(col("doc_id"))).head().getLong(0)
          require(vsOriginal == nQuoted,
            s"epoch $e flagged $vsOriginal of $nQuoted re-crawls vs epoch 0")
        }
        println(f"""{"epoch":$e,"batch_docs":${batch.size},""" +
          f""""batch_sec":$sec%.2f,"chain_parts":$c}""")
      }
    } finally q.stop()
    spark.stop()
  }

  /** Drive the real stream `nEpochs` micro-batches under the
    * auto-compaction policy. Each epoch ingests a decorrelated 10%
    * slice of the corpus (fresh passages every epoch — worst case for
    * index growth), so without the policy the chain would reach
    * `nEpochs`; with it the on-disk partition count must never exceed
    * `maxChain + 1`. Reported per epoch: batch wall time (probe +
    * epoch writes + any auto-compaction) and the chain length the NEXT
    * batch will probe.
    */
  private def runLive(nEpochs: Int, maxChain: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // explicit type: the implicit SQLContext below otherwise drags this
    // definition into its own inference cycle via spark.implicits._
    val spark: SparkSession = GraftSession.local("graft-scale-stream-live")
    import spark.implicits._

    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    def epochBatch(e: Int): Seq[Doc] =
      base.select(($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
        array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ").as("text"))
        .as[Doc].collect().toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-live-stream").toString
    val idxPath = s"$root/index"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Doc](spark)
    val q = Streams.passageDedupStream(input.toDF(), idxPath, s"$root/out",
      s"$root/cp", "doc_id", "text", window = 8, maxChain = maxChain)
    def chain: Int = Option(new java.io.File(idxPath).listFiles()).toSeq
      .flatten.count(_.getName.startsWith("epoch="))
    try {
      (0 until nEpochs).foreach { e =>
        val batch = epochBatch(e)
        val t0 = System.nanoTime()
        input.addData(batch: _*)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val c = chain
        require(c <= maxChain + 1,
          s"auto-compaction failed to bound the chain: $c at epoch $e")
        println(f"""{"epoch":$e,"batch_docs":${batch.size},""" +
          f""""batch_sec":$sec%.2f,"chain_parts":$c}""")
      }
    } finally q.stop()
    spark.stop()
  }

  /** Drive [[Streams.heavyHittersStream]] `nEpochs` micro-batches,
    * each a decorrelated 10% corpus slice with epoch-suffixed tokens
    * (fresh vocabulary every batch — worst case for Misra-Gries
    * churn: nothing repeats, every counter fights for its slot).
    * The flat-cost claim: per-batch wall time must not trend with the
    * number of epochs already ingested (chain state is ONE k-sized
    * map), and every committed summary must respect capacity k.
    */
  private def runHeavyHitters(nEpochs: Int, k: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.local("graft-scale-stream-hh")
    import spark.implicits._

    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    def epochBatch(e: Int): Seq[Doc] =
      base.select(($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
        array_join(transform(TextAnalysis.tokens($"text"),
          x => concat(x, lit("e" + e))), " ").as("text"))
        .as[Doc].collect().toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-hh-stream").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Doc](spark)
    val q = Streams.heavyHittersStream(input.toDF(), s"$root/out",
      s"$root/cp", "text", k)
    try {
      (0 until nEpochs).foreach { e =>
        val batch = epochBatch(e)
        val t0 = System.nanoTime()
        input.addData(batch: _*)
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val summary = spark.read.parquet(s"$root/out/epoch=$e").count()
        require(summary <= k,
          s"summary exceeded capacity at epoch $e: $summary > $k")
        println(f"""{"epoch":$e,"batch_docs":${batch.size},""" +
          f""""batch_sec":$sec%.2f,"summary_rows":$summary}""")
      }
    } finally q.stop()
    spark.stop()
  }
}
