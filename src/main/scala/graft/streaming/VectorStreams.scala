package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.ops.{Dedup, Ivf, Similarity, Staged}

/** Streaming faces of the vector family: continuous-ingest semantic
  * dedup against a persisted IVF index, with epoch-partitioned
  * replay-idempotent index maintenance — the online form of the batch
  * SemDeDup (x31), structured exactly like the passage-dedup stream
  * ([[Streams.passageDedupStream]]).
  *
  * Layout: the BASE corpus index (centroids + `cluster=`-partitioned
  * assigned table, [[Ivf.buildPersistent]]) is built offline and never
  * mutated by the stream; each micro-batch's surviving vectors land in
  * `indexPath/epoch=<e>` (itself `cluster=`-partitioned), so batch e
  * dedups against base + epochs < e and OVERWRITES only epoch-e
  * locations — every step is a pure function of (batch, committed
  * prefix) and crash replay rewrites identical bytes, the same
  * contract as the passage stream. Centroids stay fixed (drift only on
  * explicit rebuilds, like [[Ivf.appendToIndex]]).
  *
  * Contract: streamed ids must exceed every indexed id (the min-id
  * representative election below — shared with the batch family —
  * depends on it, exactly like `CurateMain.runIncremental`).
  */
object VectorStreams {

  /** Committed stream-index epoch labels strictly below `epoch`,
    * ascending. Inside foreachBatch(e) every partition ≤ e-1 is
    * committed (the engine logs batch e-1's commit before planning e)
    * and the only replay target is e itself, which this never lists.
    */
  def epochsBefore(spark: SparkSession, indexPath: String,
      epoch: Long): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong)
      .filter(_ < epoch).sorted
  }

  /** Cross pairs between an indexed frame and a small probe batch:
    * (id_a = indexed id, id_b = batch id) where the two share a cell
    * and rounded cosine exceeds `threshold` — the two-sided form of
    * [[Similarity.cosinePairsBlocked]]'s convention (round-6 cosine,
    * strict >, zero-norm rows excluded from both roles).
    *
    * Plan shape (spec-pinned): the batch side BROADCASTS, so the
    * indexed frame streams through a BroadcastHashJoin with no
    * Exchange — and when `index` is a `cluster=`-partitioned scan
    * pre-filtered to the batch's cells, the scan partition-prunes.
    * Per-batch network cost is O(batch), independent of index size.
    */
  def crossPairs(index: DataFrame, probe: DataFrame, idCol: String,
      vecCol: String, threshold: Double, roundTo: Int = 6): DataFrame = {
    val i = index.select(col(idCol).as("id_a"), col("cluster"),
        col(vecCol).as("__iv"), Similarity.l2Norm(col(vecCol)).as("__inrm"))
      .where(col("__inrm") > 0)
    val b = broadcast(probe.select(col(idCol).as("id_b"), col("cluster"),
        col(vecCol).as("__bv"), Similarity.l2Norm(col(vecCol)).as("__bnrm"))
      .where(col("__bnrm") > 0))
    i.join(b, Seq("cluster"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("__iv"), col("__bv")) /
          (col("__inrm") * col("__bnrm")), roundTo).as("cos_sim"))
      .where(col("cos_sim") > threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** One micro-batch of [[semanticDedupStream]], exposed so the spec
    * can replay an epoch exactly as the engine would after a crash.
    * Suppression rule — the streaming form of the incremental LSH
    * face's rule (`CurateMain.runIncremental`): connected components
    * over cross pairs (batch × [base + committed epochs], same cell,
    * cosine > threshold) plus within-batch pairs; a batch vector
    * survives iff its component touches no indexed vector and it is
    * the component's min id. Survivors (only) register into
    * `indexPath/epoch=<e>` — a vector that died is NOT a valid dedup
    * anchor for later epochs (it was never kept), which the spec pins
    * with a chain v→v'→v'' where cos(v'', v) is below threshold.
    *
    * `probes` (default 1, the registered x31 convention) widens the
    * BATCH side's candidate blocking to each vector's `probes` nearest
    * cells via [[Ivf.multiAssign]] — the streaming escape hatch for
    * boundary-straddling near-dups (an indexed vector and its near-copy
    * split by a Voronoi boundary are invisible at probes=1; the copy
    * arriving in a LATER epoch is exactly the case a stream hits). The
    * INDEX side stays single-assigned: survivors register once, in
    * their primary cell, so per-batch network stays O(probes · batch)
    * and the index never grows multiplied.
    */
  def processVectorBatch(batch: DataFrame, epoch: Long, basePath: String,
      indexPath: String, outPath: String, idCol: String, vecCol: String,
      threshold: Double, maxChain: Int = 16,
      probes: Int = 1): Unit = Staged.scoped {
    val spark = batch.sparkSession
    val base = Ivf.readIndex(spark, basePath)
    val batchVecs = batch.select(col(idCol), col(vecCol))
    // pair-finding frame: one row per (vector, probed cell)
    val assigned = Staged(
      Ivf.multiAssign(base, batchVecs, idCol, vecCol, probes))
    // registration/output frame: the primary (nearest-cell) assignment
    // only — identical to `assigned` at probes=1, a second closed-form
    // argmin pass otherwise (batch-sized, no shuffle)
    val primary =
      if (probes == 1) assigned
      else Staged(Ivf.multiAssign(base, batchVecs, idCol, vecCol, 1))
    // the batch's touched cells: O(probes·k)-bounded driver list, turned
    // into partition filters so every index scan below prunes to them
    val cells = assigned.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val epochs = epochsBefore(spark, indexPath, epoch)
    val sides = (base.assigned +:
      epochs.map(e => spark.read.parquet(s"$indexPath/epoch=$e")))
      .map(_.where(col("cluster").isInCollection(cells)))
    val cross = sides.map(s => crossPairs(s, assigned, idCol, vecCol, threshold))
      .reduce(_ unionByName _)
    // within-batch pairs over the multi-assigned frame: a pair sharing
    // BOTH probed cells yields a duplicate edge — harmless to CC
    val internal = Similarity.cosinePairsBlocked(
      assigned, idCol, vecCol, "cluster", threshold)
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.connectedComponents(cross.unionByName(internal))
    // rename the CC output before the anti-join: a caller whose idCol
    // is literally "doc_id" would otherwise hit an ambiguous condition
    val survivors = Staged(primary.join(
      broadcast(clusters.where(col("doc_id") =!= col("cluster_rep"))
        .select(col("doc_id").as("__dead"))),
      col(idCol) === col("__dead"), "left_anti"))
    survivors.select(col(idCol), col(vecCol))
      .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
    // register ONLY survivors, cell-aligned: one file per touched cell
    survivors.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$indexPath/epoch=$epoch")
    // auto-compaction, the passage stream's policy verbatim: fires when
    // the NEXT batch's chain would exceed the bound; runs after this
    // epoch's writes so a crash inside compaction replays epoch e
    // against the same — merged or unmerged — vector set
    if (maxChain > 0 && epochs.size + 1 > maxChain)
      compactVectorIndex(spark, indexPath, upToEpoch = epoch - 1)
    // scoped (the `= Staged.scoped` wrapping): only THIS epoch's staged
    // frames release here, never a concurrent pipeline's
  }

  /** Continuous-ingest semantic dedup: every micro-batch is suppressed
    * against the base corpus index plus all earlier epochs' survivors
    * via cell-pruned broadcast joins, then its survivors are written
    * to `outPath/epoch=<e>` and registered into the stream index.
    * `maxChain` bounds the epoch chain without operator action (0 =
    * manual compaction only); `probes` widens the batch-side candidate
    * blocking for boundary-straddling recall (see
    * [[processVectorBatch]]).
    */
  def semanticDedupStream(vecs: DataFrame, basePath: String,
      indexPath: String, outPath: String, checkpoint: String,
      idCol: String, vecCol: String, threshold: Double,
      maxChain: Int = 16, probes: Int = 1): StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processVectorBatch(batch, epoch, basePath, indexPath, outPath,
          idCol, vecCol, threshold, maxChain, probes)
      }
      .start()

  /** Offline compaction for the epoch-partitioned stream index: merge
    * epoch dirs ≤ `upToEpoch` — never the globally newest, which may
    * be a restarted stream's replay target — into one dir carrying the
    * HIGHEST absorbed label, so `epochsBefore` for any later epoch
    * sees exactly the same vector set. Plain-parquet version of
    * [[Streams.compactPassageIndex]]'s discipline: merged set written
    * to `__compact_tmp_<label>` (parquet `_SUCCESS` = commit point);
    * every invocation FIRST finishes any committed tmp found on disk
    * and discards uncommitted ones, so a crashed swap completes on the
    * next run instead of stranding data; all delete/rename results are
    * checked.
    */
  def compactVectorIndex(spark: SparkSession, indexPath: String,
      upToEpoch: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    def mustDelete(p: org.apache.hadoop.fs.Path): Unit =
      require(fs.delete(p, true), s"vector compaction: delete failed for $p")
    def committed(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    def promote(tmp: org.apache.hadoop.fs.Path, label: Long): Unit = {
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch=") &&
          s.getPath.getName.stripPrefix("epoch=").toLong <= label)
        .foreach(s => mustDelete(s.getPath))
      val dest = new org.apache.hadoop.fs.Path(root, s"epoch=$label")
      require(fs.rename(tmp, dest),
        s"vector compaction: rename $tmp -> $dest failed")
    }
    // recovery: finish (or discard) any swap a previous run left behind
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__compact_tmp_"))
      .foreach { s =>
        val label = s.getPath.getName.stripPrefix("__compact_tmp_").toLong
        if (committed(s.getPath)) promote(s.getPath, label)
        else mustDelete(s.getPath)
      }
    val all = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).sorted
    if (all.size <= 1) return
    val victims = all.filter(e => e <= upToEpoch && e != all.max)
    if (victims.size <= 1) return
    val label = victims.max
    val tmp = new org.apache.hadoop.fs.Path(root, s"__compact_tmp_$label")
    victims.map(e => spark.read.parquet(s"$indexPath/epoch=$e"))
      .reduce(_ unionByName _)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(tmp.toString)
    promote(tmp, label)
  }

  /** One epoch's recall snapshot, exposed for crash-replay testing —
    * a pure function of (batch, index files, corpus files): sample up
    * to `maxQueries` of the batch's queries (lowest ids — determinism
    * under replay beats representativeness here), run the IVF probe
    * and the brute-force ground truth, micro-average |ANN ∩ BF| / |BF|.
    * Returns one row: (n_queries, n_truth, n_hit, recall, alert).
    */
  def recallSnapshot(batch: DataFrame, basePath: String, corpusPath: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      maxQueries: Int, alertBelow: Double): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // checkpoint via Staged so the per-epoch sample blocks are tracked:
    // a continuous monitor's foreachBatch wraps the epoch in
    // Staged.scoped, releasing the sample with the scope after the
    // snapshot write instead of accumulating one unreleasable block
    // set per epoch (and without touching concurrent pipelines)
    val q = Staged.checkpointed(batch.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(maxQueries))
    val n = q.count()
    if (n == 0L)
      // idle epoch: nothing measured means nothing degraded — recall
      // holds at 1.0 and no alert, mirroring the quality gate's
      // n_docs=0 convention
      return Seq((0L, 0L, 0L, 1.0, false))
        .toDF("n_queries", "n_truth", "n_hit", "recall", "alert")
    val index = Ivf.readIndex(spark, basePath)
    val ann = Ivf.topKBatch(index, q, idCol, vecCol, idCol, k,
        nprobe = nprobe)
      .select(col("query_id"), col(idCol))
    val bf = Similarity.bruteForceTopKBatch(
        spark.read.parquet(corpusPath), q, idCol, vecCol, idCol, k)
      .select(col("query_id"), col(idCol))
    // queries arrived but brute-force truth is EMPTY: the corpus path
    // is empty or mispointed — a broken monitor must read as broken
    // (recall 0.0 + alert), never as perfectly healthy; the recall=1.0
    // idle convention is reserved for the n_queries=0 early return
    bf.join(ann.withColumn("__hit", lit(1)),
        Seq("query_id", idCol), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("n_hit"))
      .select(lit(n).as("n_queries"), col("n_truth"), col("n_hit"),
        round(when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth")).otherwise(0.0), 6)
          .as("recall"))
      .withColumn("alert",
        col("n_truth") === 0 || col("recall") < alertBelow)
  }

  /** Streaming ANN recall monitor — the operational face of the a07
    * batch report: per micro-batch of ARRIVING queries, recall@k of
    * the static IVF index at `basePath` against the brute-force truth
    * over the corpus at `corpusPath`, one epoch-keyed snapshot row
    * (overwrite ⇒ crash replay rewrites identical bytes). The corpus
    * is re-listed EVERY epoch while the index is read as built — so
    * corpus appends the index hasn't absorbed surface as exactly the
    * recall drop this watches for (a07 is the point-in-time report;
    * nothing else watches drift continuously after appends).
    *
    * 100 TB shape: the query sample is driver-small by construction
    * (`maxQueries`), so the BF side is ONE broadcast-queries corpus
    * pass per epoch — the corpus is never shuffled — and the ANN side
    * partition-prunes to the probed cells. Run it on a sampled query
    * stream; the monitor's cost knob is (maxQueries × corpus scan),
    * bounded and independent of arrival rate.
    */
  def annRecallStream(queries: DataFrame, basePath: String,
      corpusPath: String, outPath: String, checkpoint: String,
      idCol: String, vecCol: String, k: Int = 10, nprobe: Int = 4,
      maxQueries: Int = 32, alertBelow: Double = 0.9): StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // Staged.scoped: the snapshot's checkpointed query sample is
        // consumed by the write, then released WITH the scope — never
        // via a global drain, which could destroy another concurrent
        // pipeline's in-flight checkpointed results in this session
        Staged.scoped {
          recallSnapshot(batch, basePath, corpusPath, idCol, vecCol,
            k, nprobe, maxQueries, alertBelow)
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        }
      }
      .start()

  /** One epoch's compressed-face QC snapshot — pure function of
    * (batch, persisted index + PQ face): sample up to `maxQueries` of
    * the batch's queries (lowest ids, replay-deterministic), probe the
    * float face, the raw PQ face, and the staged pipeline at SHARED
    * cells, micro-average raw and staged agreement against the float
    * probe's top-k. Returns one row: (n_queries, n_float, n_pq,
    * n_staged, pq_agreement, staged_agreement, alert).
    *
    * Alert semantics mirror [[recallSnapshot]]: an idle epoch reads
    * healthy (agreements 1.0, no alert); queries arriving against an
    * EMPTY float probe (mispointed index, empty faces) read broken
    * (0.0 + alert), never healthy; otherwise alert fires when the
    * STAGED agreement — the number actually served — drops below
    * `alertBelow` (staged ⊇ raw per query, so a raw-only threshold
    * would alert on reconstruction noise staging already absorbs).
    */
  def pqAgreementSnapshot(batch: DataFrame, basePath: String,
      idCol: String, vecCol: String, k: Int, kCand: Int,
      maxQueries: Int, alertBelow: Double): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // tracked checkpoint — see recallSnapshot: the monitor's
    // foreachBatch releases the sample per epoch via its Staged.scoped
    val q = Staged.checkpointed(batch.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(maxQueries))
    val n = q.count()
    if (n == 0L)
      return Seq((0L, 0L, 0L, 0L, 1.0, 1.0, false))
        .toDF("n_queries", "n_float", "n_pq", "n_staged",
          "pq_agreement", "staged_agreement", "alert")
    val index = Ivf.readIndex(spark, basePath)
    val fl = Ivf.topKBatch(index, q, idCol, vecCol, idCol, k)
      .select(col("query_id"), col(idCol))
    // raw and staged faces off ONE candidate frame (a13/a14's plan):
    // the raw face is the adc_rank <= k cut of the same kCand frame
    val (sc0, qidOut) = graft.ops.Pq.stagedCandidates(spark, basePath,
      index, q, idCol, vecCol, idCol, kCand)
    val sc = Staged(sc0)
    val pq = sc.where(col("adc_rank") <= k)
      .select(col(qidOut).as("query_id"), col(idCol))
    val st = graft.ops.Pq.topKFromCandidates(sc, qidOut, idCol, k, kCand)
      .select(col(qidOut).as("query_id"), col(idCol))
    fl.join(pq.withColumn("__p", lit(1)), Seq("query_id", idCol), "left")
      .join(st.withColumn("__s", lit(1)), Seq("query_id", idCol), "left")
      .agg(count(lit(1)).as("n_float"), count(col("__p")).as("n_pq"),
        count(col("__s")).as("n_staged"))
      .select(lit(n).as("n_queries"), col("n_float"), col("n_pq"),
        col("n_staged"),
        round(when(col("n_float") > 0,
          col("n_pq").cast("double") / col("n_float")).otherwise(0.0), 6)
          .as("pq_agreement"),
        round(when(col("n_float") > 0,
          col("n_staged").cast("double") / col("n_float")).otherwise(0.0), 6)
          .as("staged_agreement"))
      .withColumn("alert",
        col("n_float") === 0 || col("staged_agreement") < alertBelow)
  }

  /** One epoch of [[stagedServeStream]], exposed so the spec can
    * replay it and pin the stream ≡ batch differential: answer the
    * whole arriving QUERY batch from the persisted index's staged
    * pipeline ([[graft.ops.Pq.topKStagedBatch]] — one ADC pass over
    * the m-bytes/vector face at the batch's probed cells, one
    * cluster-pruned float re-rank of the candidates), one epoch-keyed
    * overwrite-committed result table (query_id, id, cos_sim) — a
    * pure function of (batch, persisted faces), so crash replay
    * rewrites identical bytes. An empty epoch commits an empty (but
    * schema-complete) result — serving an empty request batch.
    */
  def stagedServeBatch(batch: DataFrame, epoch: Long, basePath: String,
      outPath: String, idCol: String, vecCol: String, k: Int,
      kCand: Int, nprobe: Int): Unit = {
    val spark = batch.sparkSession
    // seqlock read side (Ivf.withStableGen): the refit swap promotes
    // five faces by sequential renames, so an epoch that starts
    // mid-swap could pair new centroids with an old compressed face
    // and silently mis-rank — instead the whole epoch (probe + ADC +
    // re-rank + overwrite-committed write) re-runs when the index
    // generation moved underneath it; the write is overwrite-
    // idempotent, so a retried epoch rewrites consistent bytes
    Ivf.withStableGen(spark, basePath) {
      val index = Ivf.readIndex(spark, basePath)
      graft.ops.Pq.topKStagedBatch(spark, basePath, index,
          batch.select(col(idCol), col(vecCol)), idCol, vecCol, idCol,
          k, kCand, nprobe)
        .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
    }
  }

  /** The ONLINE form of a13's batched staged retrieval — the serving
    * path itself as a stream, where [[pqAgreementStream]] is only its
    * monitor: arriving query batches are answered from the persisted
    * index (epoch-keyed snapshots, overwrite ⇒ replay-idempotent),
    * k/kCand/nprobe the a14/a16-tuned serving configuration. The
    * index is re-read per epoch, so maintenance lands without a
    * restart: an [[Ivf.appendToIndex]] batch is servable next epoch,
    * and an [[Ivf.refitIndex]] swap takes effect atomically at an
    * epoch boundary — each epoch runs under [[Ivf.withStableGen]]
    * (the index-generation seqlock), so an epoch that overlapped the
    * swap's rename window detects the generation change and re-runs
    * against the committed faces; old and new faces are never mixed
    * within one served epoch.
    *
    * 100 TB shape: per epoch, stage 1 scans m bytes/vector over ONLY
    * the batch's probed cells (static partition filters from the
    * plan-time probe), stage 2 reads full floats for candidate rows
    * via broadcast joins; per-epoch network is O(batch · kCand),
    * independent of index size.
    */
  def stagedServeStream(queries: DataFrame, basePath: String,
      outPath: String, checkpoint: String, idCol: String, vecCol: String,
      k: Int = 10, kCand: Int = 50, nprobe: Int = 4): StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        stagedServeBatch(batch, epoch, basePath, outPath, idCol, vecCol,
          k, kCand, nprobe)
      }
      .start()

  /** Streaming compressed-face QC monitor — the operational face of
    * the a11/a13 reports and the capstone's serving epilogue: per
    * micro-batch of ARRIVING queries, raw-PQ and staged agreement@k
    * vs the float probe over the persisted index, one epoch-keyed
    * overwrite-committed snapshot row. What it watches for: appends
    * register new vectors under FROZEN codebooks
    * ([[Ivf.appendToIndex]] + `Pq.encodeRows`), so as the corpus
    * drifts away from the fit distribution the reconstructions
    * degrade and agreement falls — THE signal that the codebooks need
    * an explicit refit, invisible to the recall monitor (which reads
    * the float face) and to any point-in-time report.
    *
    * 100 TB shape: all three probes partition-prune to the sampled
    * queries' cells, the staged re-rank reads only candidate rows off
    * the pruned float face, and nothing corpus-sized shuffles — cost
    * knob is `maxQueries`, independent of arrival rate.
    */
  /** The maintenance loop's ownership lease file: `fence:owner`, the
    * marker discipline the repo's other artifacts use. Two concurrent
    * maintenance loops against one index would interleave refits — the
    * generation seqlock only protects READERS — so the loop's contract
    * is enforced, not documented: an epoch run under a different
    * committed owner refuses loudly, and a crashed owner's lease is
    * recovered by an explicit epoch-fenced [[takeoverMaintLease]]
    * (after which the OLD owner's resumed loop is the one that
    * refuses — the fence only ever moves through takeovers, so two
    * parties cannot silently ping-pong the index).
    */
  private val MaintOwnerFile = "_MAINT_OWNER"

  /** The committed lease, if any: (fence, owner). A torn lease file (a
    * crash mid-write) parses to fence 0 with an owner no loop can hold
    * (the empty string is rejected by [[writeMaintLease]]), so every
    * epoch REFUSES against it while [[takeoverMaintLease]] — the
    * recovery path — can still bump past it; a torn write must never
    * brick its own recovery.
    */
  def maintLease(spark: SparkSession,
      basePath: String): Option[(Long, String)] = {
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$basePath/$MaintOwnerFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val i = txt.indexOf(':')
      val fence = scala.util.Try(txt.take(math.max(i, 0)).toLong).toOption
      if (i > 0 && fence.isDefined) Some((fence.get, txt.drop(i + 1)))
      else Some((0L, ""))
    }
  }

  private def writeMaintLease(spark: SparkSession, basePath: String,
      fence: Long, owner: String): Unit = {
    require(!owner.contains('\n') && owner.nonEmpty,
      s"invalid maintenance owner token: '$owner'")
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$basePath/$MaintOwnerFile"), true)
    try out.write(s"$fence:$owner".getBytes("UTF-8")) finally out.close()
  }

  /** Recover a crashed owner's lease: bump the fence and install
    * `newOwner` as the index's one maintenance loop. The retired
    * owner's next epoch then refuses loudly instead of interleaving.
    * Returns the new fence.
    */
  def takeoverMaintLease(spark: SparkSession, basePath: String,
      newOwner: String): Long = {
    val fence = maintLease(spark, basePath).map(_._1).getOrElse(0L) + 1L
    writeMaintLease(spark, basePath, fence, newOwner)
    fence
  }

  /** Acquire-or-verify the lease for `owner`: first caller commits it,
    * the committed owner passes, anyone else fails loudly. Initial
    * acquisition is ATOMIC (create-no-overwrite, then re-read): two
    * loops racing an empty path cannot both observe None, both write,
    * and each believe it owns the index — exactly one create wins, and
    * the loser re-reads the winner's lease and refuses.
    */
  def requireMaintLease(spark: SparkSession, basePath: String,
      owner: String): Unit = {
    def refuse(f: Long, o: String): Nothing = throw new IllegalStateException(
      s"index at $basePath is maintenance-owned by '$o' (fence $f) — " +
        s"refusing a second maintenance loop ('$owner'); if that owner " +
        "crashed, recover with VectorStreams.takeoverMaintLease")
    maintLease(spark, basePath) match {
      case None =>
        require(!owner.contains('\n') && owner.nonEmpty,
          s"invalid maintenance owner token: '$owner'")
        val fs = new org.apache.hadoop.fs.Path(basePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val p = new org.apache.hadoop.fs.Path(s"$basePath/$MaintOwnerFile")
        fs.mkdirs(p.getParent): Unit
        // overwrite=false: the filesystem arbitrates the race
        try {
          val out = fs.create(p, false)
          try out.write(s"1:$owner".getBytes("UTF-8")) finally out.close()
        } catch { case _: java.io.IOException => () }
        // re-read: whoever's bytes landed owns the index — this also
        // covers filesystems whose create is not strictly exclusive
        maintLease(spark, basePath) match {
          case Some((_, o)) if o == owner => ()
          case Some((f, o)) => refuse(f, o)
          case None => throw new IllegalStateException(
            s"maintenance lease at $basePath failed to commit")
        }
      case Some((_, o)) if o == owner => ()
      case Some((f, o)) => refuse(f, o)
    }
  }

  /** The index-GEOMETRY gauges of the unified trigger table, each read
    * only when its ceiling is armed: `max_mean_residual` = the worst
    * cell's mean residual norm (a15's axis — stale centroids), and
    * `max_over_mean` = the hottest cell's population over the mean
    * (a20's axis — probe-latency skew). Cost note for 100 TB: the
    * balance gauge reads ONLY the partition column of the assigned
    * face (a footer-weight scan); the residual gauge is one cluster-
    * pruned map-side aggregation over the float face per epoch — arm
    * it on the monitor's sampled-query stream, not on every serving
    * epoch.
    */
  private def geometryGauges(spark: SparkSession, basePath: String,
      vecCol: String, residualCeiling: Option[Double],
      balanceCeiling: Option[Double])
      : (Option[Double], Boolean, Option[Double], Boolean) = {
    val res = residualCeiling.map { ceil =>
      val m = Ivf.cellResidualProfile(spark, basePath, vecCol)
        .agg(coalesce(max(col("mean_res_norm")), lit(0.0)))
        .head().getDouble(0)
      (m, m > ceil)
    }
    val bal = balanceCeiling.map { ceil =>
      val kCells = Ivf.readIndex(spark, basePath).centroids.length
      val r = spark.read.parquet(s"$basePath/assigned")
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L)),
          coalesce(sum(col("n")), lit(0L))).head()
      val mom =
        if (r.getLong(1) == 0L) 0.0
        else BigDecimal(r.getLong(0).toDouble * kCells / r.getLong(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (mom, mom > ceil)
    }
    (res.map(_._1), res.exists(_._2), bal.map(_._1), bal.exists(_._2))
  }

  /** One epoch of [[refitMaintenanceStream]], exposed for crash-replay
    * testing: write the epoch's QC snapshot (the [[pqAgreementSnapshot]]
    * instrument extended with the armed geometry gauges), then DECIDE
    * from committed artifacts only — the repair fires when, for ANY of
    * the three triggers (serving agreement, residual ceiling, balance
    * ceiling — each independently debounced over the SAME committed
    * window), the last `debounce` committed monitor epochs all alert on
    * it, and no earlier repair already covers any of them (the refit
    * record at `refitPath` is the actuation log: a replayed epoch
    * re-reads the same committed rows and reaches the same verdict, so
    * a crash between snapshot and repair resumes into the same decision
    * instead of double-firing). Why three triggers feed ONE decision:
    * a skew-poisoned (hot-cell) or drift-poisoned (residual) index
    * whose staged agreement happens to hold would otherwise never
    * repair, yet the advisory gauges exist precisely because those
    * axes are orthogonal to agreement. On fire: [[Ivf.refitIndex]]
    * under the enforced single-writer lease, the a19 size policy
    * riding the same swap, then the SAME instrument re-measures the
    * promoted faces into `refitPath/epoch=<e>` — the repair judged by
    * every gauge that could have demanded it. Returns whether a repair
    * ran.
    */
  def maintainEpoch(batch: DataFrame, epoch: Long, basePath: String,
      monitorPath: String, refitPath: String, idCol: String,
      vecCol: String, k: Int, kCand: Int, maxQueries: Int,
      alertBelow: Double, debounce: Int,
      resizePolicy: Option[(Int, Int)] = None,
      residualCeiling: Option[Double] = None,
      balanceCeiling: Option[Double] = None,
      owner: Option[String] = None): Boolean = {
    require(debounce >= 1, s"debounce must be >= 1, got $debounce")
    val spark = batch.sparkSession
    owner.foreach(o => requireMaintLease(spark, basePath, o))
    def gauged(df: DataFrame): DataFrame = {
      val (resVal, resAlert, balVal, balAlert) =
        geometryGauges(spark, basePath, vecCol, residualCeiling,
          balanceCeiling)
      df.withColumn("max_mean_residual",
          lit(resVal.map(Double.box).orNull).cast("double"))
        .withColumn("residual_alert", lit(resAlert))
        .withColumn("max_over_mean",
          lit(balVal.map(Double.box).orNull).cast("double"))
        .withColumn("balance_alert", lit(balAlert))
    }
    gauged(pqAgreementSnapshot(batch, basePath, idCol, vecCol, k, kCand,
        maxQueries, alertBelow))
      .write.mode("overwrite").parquet(s"$monitorPath/epoch=$epoch")
    val window = epochsBefore(spark, monitorPath, epoch + 1)
      .takeRight(debounce)
    val windowRows = window.map { e =>
      val df = spark.read.parquet(s"$monitorPath/epoch=$e")
      // epochs written before the geometry gauges existed lack the
      // residual/balance columns; default them to false so a loop
      // resuming over an old monitorPath reads its history instead of
      // throwing on its first post-upgrade epoch
      val have = df.columns.toSet
      def alertCol(n: String) = if (have(n)) col(n) else lit(false)
      df.select(col("alert"), alertCol("residual_alert"),
        alertCol("balance_alert")).head()
    }
    // each trigger debounces independently over the same window: one
    // hot sample of any single gauge must not bill a refit, but any
    // gauge alerting `debounce` epochs straight is sufficient cause
    def trig(i: Int): Boolean =
      window.size == debounce && windowRows.forall(_.getBoolean(i))
    val fire = (trig(0) || trig(1) || trig(2)) &&
      // an alert the previous repair already acted on is not fresh
      // evidence: every alerting epoch in the window must postdate the
      // last repair (post-repair alerts re-arm the loop from scratch)
      epochsBefore(spark, refitPath, Long.MaxValue).forall(_ < window.head)
    if (fire) {
      // a refit re-derives every face, so it is exactly when k can
      // change (the capstone's rule, r17): with a `resizePolicy`
      // ((targetCell, kMin)), consult a19's kForCells over the CURRENT
      // population and ride the policy k into the same committed swap
      // when the 2x hysteresis fires; None = ride the committed k
      // as-is (the a04-family oracle indexes are k-pinned by path)
      val resize = resizePolicy.flatMap { case (targetCell, kMin) =>
        val kCur = Ivf.readIndex(spark, basePath).centroids.length
        val nIdx = spark.read.parquet(s"$basePath/assigned").count()
        val kPol = Ivf.kForCells(nIdx, targetCell = targetCell, kMin = kMin)
        if (Ivf.resizeRecommended(kCur, kPol)) Some(kPol) else None
      }
      Ivf.refitIndex(spark, basePath, idCol, vecCol, resizeTo = resize)
      // the refit record re-measures EVERY gauge (gauged re-reads the
      // promoted faces), so a geometry-triggered repair is judged on
      // the geometry axis that demanded it, not only on agreement
      gauged(pqAgreementSnapshot(batch, basePath, idCol, vecCol, k, kCand,
          maxQueries, alertBelow))
        .write.mode("overwrite").parquet(s"$refitPath/epoch=$epoch")
    }
    fire
  }

  /** The maintenance loop the monitors exist for — [[pqAgreementStream]]
    * RECORDS that the compressed face degraded; this stream ACTS on it:
    * per arriving query micro-batch, measure the serving gate plus any
    * ARMED geometry gauge (`residualCeiling` — a15's stale-centroid
    * axis; `balanceCeiling` — a20's hot-cell axis), debounce each
    * trigger independently (`debounce` consecutive alerting epochs —
    * one bad sample of any gauge must not bill a full refit), invoke
    * [[Ivf.refitIndex]] when any trigger sustains, and re-measure the
    * promoted faces with the same instruments. The streaming form of
    * the capstone's refit-on-alert, closing the detect-without-repair
    * gap for the axes agreement can't see: a hot-cell or residual-
    * drifted index whose staged agreement holds still repairs here.
    * Single-writer is ENFORCED: the loop owns the index through the
    * `_MAINT_OWNER` lease (`owner` defaults to the checkpoint path —
    * stable across restarts of the same stream, distinct between
    * accidental second loops, which refuse loudly; a crashed owner is
    * recovered with [[takeoverMaintLease]]). Concurrent SERVING
    * ([[stagedServeStream]]) stays safe across the swap via the
    * index-generation seqlock ([[Ivf.withStableGen]]).
    *
    * 100 TB shape: the decision reads `debounce` one-row parquet files
    * per epoch; the balance gauge scans only the partition column, the
    * residual gauge one cluster-pruned map-side aggregation (run the
    * loop on a sampled query stream — the gauges bill per epoch, not
    * per query); the repair costs one index build, paid exactly when a
    * sustained trigger says so, and the swap is the crash-recoverable
    * committed multi-face promote.
    */
  def refitMaintenanceStream(queries: DataFrame, basePath: String,
      monitorPath: String, refitPath: String, checkpoint: String,
      idCol: String, vecCol: String, k: Int = 10, kCand: Int = 50,
      maxQueries: Int = 32, alertBelow: Double = 0.5,
      debounce: Int = 2,
      resizePolicy: Option[(Int, Int)] = None,
      residualCeiling: Option[Double] = None,
      balanceCeiling: Option[Double] = None,
      owner: Option[String] = None): StreamingQuery = {
    val own = owner.getOrElse(checkpoint)
    queries.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Staged.scoped {
          maintainEpoch(batch, epoch, basePath, monitorPath, refitPath,
            idCol, vecCol, k, kCand, maxQueries, alertBelow,
            debounce, resizePolicy, residualCeiling, balanceCeiling,
            owner = Some(own)): Unit
        }
      }
      .start()
  }

  def pqAgreementStream(queries: DataFrame, basePath: String,
      outPath: String, checkpoint: String, idCol: String, vecCol: String,
      k: Int = 10, kCand: Int = 50, maxQueries: Int = 32,
      alertBelow: Double = 0.5): StreamingQuery =
    queries.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // the snapshot stages its candidate frame AND checkpoints its
        // query sample; a continuous monitor must not pin one
        // persisted plan — or one checkpointed block set — per epoch
        // forever. Staged.scoped releases exactly this epoch's handles
        // when the write completes; a global drain here could destroy
        // a concurrent monitor's in-flight checkpointed sample
        Staged.scoped {
          pqAgreementSnapshot(batch, basePath, idCol, vecCol, k, kCand,
            maxQueries, alertBelow)
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        }
      }
      .start()
}
