package graft.streaming

import graft.operators.TextAnalysis
import graft.plans.StoreOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingest — the curation gate run as a continuous
  * ETL: documents stream in, every micro-batch passes through the
  * SAME batch `TextAnalysis.corpusGate` (one codepath, the
  * Alerts/Dashboard pattern), keepers append to the clean corpus and
  * rejects to a quarantine table that KEEPS the per-component flags —
  * at 100 TB the quarantine audit is how a curation regression is
  * diagnosed without re-running the gate.
  *
  * Scale notes: foreachBatch gives exactly-once appends under the
  * checkpoint (batch id dedup on replay); the gate itself is
  * scan-shaped per batch (see corpusGate), so the stream's throughput
  * is the scan bandwidth of each micro-batch. The canonical-dup
  * component is per-batch here — cross-batch exact dedup at ingest is
  * `dropDuplicatesWithinWatermark` on the fingerprint (ST11), the
  * bounded-state form.
  */
object CorpusIngest {

  /** One micro-batch: gate, split, write. Public so the spec can
    * drive it directly and the stream wiring stays 3 lines.
    *
    * REPLAY-IDEMPOTENT (round 13): foreachBatch re-runs a batch id
    * after a crash-before-commit, and a plain append would then
    * double every row of the replayed batch. Both sinks therefore
    * write mode(overwrite) into a batchId-keyed partition subdir —
    * the same device the ANN store's ingest tail uses
    * (Similarity.scala ingestStoreStream) — so replaying batch k
    * rewrites `batch=k` instead of appending beside it: same batch
    * twice ⇒ same table, the law StreamPropertySpec pins. Readers
    * `spark.read.parquet(cleanDir)` unchanged (partition discovery;
    * the batch column rides along as lineage metadata).
    */
  def processBatch(batch: DataFrame, cleanDir: String,
                   quarantineDir: String, batchId: Long): Unit = {
    // batchId is deliberately NOT defaulted: the old 3-arg signature
    // appended, and a defaulted 0 would keep old call sites compiling
    // while silently overwriting batch=0 on every call
    if (!batch.isEmpty) {
      // gate once per batch; both sinks consume the same result
      val gated = TextAnalysis.corpusGate(batch).localCheckpoint()
      gated.filter(col("keep") === 1)
        .join(batch.select(col("doc_id"), col("text"), col("source")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("text"), col("quality"))
        .write.mode("overwrite").parquet(s"$cleanDir/batch=$batchId")
      gated.filter(col("keep") === 0)
        .select(col("doc_id"), col("quality"), col("q_keep"),
          col("r_keep"), col("l_keep"), col("is_canonical"))
        .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
    }
  }

  def run(docs: DataFrame, cleanDir: String, quarantineDir: String,
          checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, cleanDir, quarantineDir, id)
      }
      .start()

  // ---- stream-static near-dup filter (Dedup.incrementalDedup's
  // streaming twin) ----

  /** The two static index tables previous ingests persist to the
    * lake: MinHash band signatures (the candidate join key) and the
    * shingle-hash table (the exact-verify side). Built by the SAME
    * signature pass the batch dedup family runs — at 100 TB these
    * are parquet tables appended per ingest, and the stream below
    * only ever reads them.
    */
  def corpusBands(corpus: DataFrame): DataFrame =
    graft.operators.Dedup.bandSignaturesFrom(
      graft.operators.Dedup.minhashSignaturesFrom(
        graft.operators.Dedup.docShingleHashes(corpus)))

  def corpusShingles(corpus: DataFrame): DataFrame =
    graft.operators.Dedup.docShingleHashes(corpus)

  /** One micro-batch of the streaming near-dup gate: sign the batch,
    * band-join the static corpus index for candidates, exact-verify
    * candidates against the static shingle table, drop batch docs
    * with a verified corpus near-dup (Jaccard ≥ t). Identical
    * semantics to `Dedup.incrementalDedup` restricted to this batch —
    * CorpusIngestSpec asserts exactly that equivalence. Per batch the
    * cost is batch-sized: the corpus is touched only through the
    * band join (index-keyed) and the candidate verify (pair-keyed);
    * neither corpus² nor batch×corpus scans exist.
    */
  def nearDupFilterBatch(batch: DataFrame, bands: DataFrame,
                         corpusSh: DataFrame,
                         t: Double = graft.operators.Dedup.JaccardT)
  : DataFrame = {
    val D = graft.operators.Dedup
    val bsh = D.docShingleHashes(batch).localCheckpoint(false)
    val bBands = D.bandSignaturesFrom(D.minhashSignaturesFrom(bsh))
    val cand = bands.as("x")
      .join(bBands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    val nC = corpusSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val nB = bsh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dropIds = cand
      .join(corpusSh.as("a"), col("i") === col("a.doc_id"))
      .join(bsh.as("b"),
        col("j") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("common"))
      .join(nC.as("na"), col("i") === col("na.doc_id"))
      .join(nB.as("nb"), col("j") === col("nb.doc_id"))
      .filter(round(col("common").cast("double") /
        (col("na.n") + col("nb.n") - col("common")), 6) >= t)
      .select(col("j").as("doc_id")).distinct()
    batch.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** The wired stream: each micro-batch passes the near-dup gate
    * against the static index, survivors append to the clean corpus.
    */
  def runNearDup(docs: DataFrame, bands: DataFrame, corpusSh: DataFrame,
                 cleanDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val kept = nearDupFilterBatch(batch, bands, corpusSh)
        if (!kept.isEmpty) kept.write.mode("append").parquet(cleanDir)
      }
      .start()

  // ---- stream-static eval decontamination
  //      (Dedup.trainContamination's streaming twin, round 13) ----

  /** The static eval-side index previous publications persist: the
    * benchmark/eval suite's distinct shingle hashes — 8-byte keys,
    * broadcast-sized for any real eval suite.
    */
  def evalShingleIndex(evalDocs: DataFrame): DataFrame =
    graft.operators.Dedup.docShingleHashes(evalDocs)
      .select(col("sh")).distinct()

  /** One micro-batch of the ingest-time decontamination gate: score
    * every incoming training doc against the eval index through the
    * ONE shared overlap kernel (Dedup.overlapAgainstIndex — the same
    * code the registered dedup_train_contamination row runs) and drop
    * docs at overlap ≥ t; docs too short to shingle carry no eval
    * content and pass. Per batch the eval side is touched only
    * through the 8-byte key semi-join — batch-sized cost.
    */
  def evalGuardBatch(batch: DataFrame, evalSh: DataFrame,
                     t: Double = graft.operators.Dedup.ContamT)
  : DataFrame = {
    val D = graft.operators.Dedup
    val flagged = D.overlapAgainstIndex(D.docShingleHashes(batch),
        evalSh, t)
      .filter(col("contaminated") === 1).select(col("doc_id"))
    batch.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** The wired stream: survivors append under batchId-keyed overwrite
    * partitions (replay-idempotent, the processBatch device).
    */
  def runEvalGuard(docs: DataFrame, evalSh: DataFrame, cleanDir: String,
                   checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val kept = evalGuardBatch(batch, evalSh)
        if (!kept.isEmpty)
          kept.write.mode("overwrite").parquet(s"$cleanDir/batch=$id")
      }
      .start()

  // ---- stream-static exact-substring span dedup
  //      (TextAnalysis.spanMergeIncremental's streaming twin) ----

  /** The static window-fingerprint index previous ingests persist to
    * the lake — the corpus side of exact-substring span dedup.
    * Distinct fps only (membership is all the batch test needs;
    * positions stay with their documents), built by the SAME window
    * pass the batch family runs.
    */
  def corpusWindowFps(corpus: DataFrame,
                      w: Int = TextAnalysis.ChunkW): DataFrame =
    TextAnalysis.spanWindows(corpus, w).select(col("fp")).distinct()

  /** The wired stream: per micro-batch, detect duplicated spans of
    * the incoming docs against the static fp index through the ONE
    * shared batch kernel (TextAnalysis.spanAgainstIndex — the same
    * semi-join + interval merge the registered incremental query
    * runs) and append the span table; a downstream cut consumes it.
    * foreachBatch is the right shape because the interval merge is a
    * per-doc rank window, which streaming append mode cannot host —
    * same reasoning as serveStoreStream.
    *
    * INDEX-SNAPSHOT SEMANTICS (stated plainly, round 13 ADVICE):
    * `corpusFps` is a STATIC frame — every micro-batch checks
    * against the index as of stream start, so a span duplicated only
    * BETWEEN documents ingested after that snapshot (batch 3 vs
    * batch 7) goes undetected until the index is rebuilt; the
    * operator's contract is batch-vs-corpus, exactly like the
    * registered incremental query. A production ingest cycle
    * refreshes the index per ingest — that refreshed form is
    * `runSpanCut` below, which reads the index dir anew every batch
    * AND appends each batch's own window fps to it, closing the
    * cross-micro-batch blind spot.
    */
  def runSpanDedup(docs: DataFrame, corpusFps: DataFrame,
                   spansDir: String, checkpointDir: String,
                   w: Int = TextAnalysis.ChunkW): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          TextAnalysis.spanAgainstIndex(batch, corpusFps, w)
            .write.mode("append").parquet(spansDir)
      }
      .start()

  // ---- the full span-dedup ingest: cut against a LIVE fp index
  //      (dedup_span_cut_incremental's streaming twin, round 13) ----

  /** Seed the persisted window-fp index dir from the existing corpus
    * — one `batch=seed` partition of distinct fps, the same relation
    * corpusWindowFps derives. Later ingest batches land beside it as
    * `batch=<id>` partitions, so one plain partition-discovery read
    * returns the whole index. The dir is stamped with the window
    * size: fp universes are disjoint across w (a w=25 window never
    * hashes like a w=50 one), so an ingest at the wrong w would
    * silently detect NOTHING — the same failure class the ANN
    * store's `_encode_contract` stamp exists for, handled the same
    * way (contradiction refuses, absence warns).
    */
  def seedSpanIndex(corpus: DataFrame, fpIndexDir: String,
                    w: Int = TextAnalysis.ChunkW): Unit = {
    corpusWindowFps(corpus, w)
      .write.mode("overwrite").parquet(s"$fpIndexDir/batch=seed")
    StoreOps.writeStamp(corpus.sparkSession, fpIndexDir, wStamp(w))
  }

  /** The index dir's w stamp: a contradiction refuses (the index is
    * for a DIFFERENT window size — every semi-join would silently
    * miss); absence warns, and the ingest adopts and stamps its w so
    * the next mismatch is caught.
    */
  private def wStamp(w: Int) = StoreOps.Stamp("_w_contract", "w", w.toString,
    "the fp universes are disjoint across window sizes, so every span " +
      "would be silently missed; rebuild the index at the new w " +
      "(seedSpanIndex) or run the stamped w")

  /** One span-ingest micro-batch — the production preprocessing shape
    * (Lee et al. §4 cuts at preprocessing time): read the CURRENT fp
    * index (refreshed every cycle — earlier micro-batches' windows
    * are visible, no cross-batch blind spot), detect + cut the batch
    * through the ONE shared kernel pair
    * (TextAnalysis.spanCutAgainstIndex = spanAgainstIndex +
    * spanCutWith — the same code the registered
    * dedup_span_cut_incremental row runs), write the cleaned
    * doc-grain rows, then publish this batch's own distinct window
    * fps into the index for the NEXT batch to check against.
    *
    * Replay-idempotent: both writes are mode(overwrite) into
    * batchId-keyed partitions, so a replayed batch rewrites its own
    * output and its own index contribution instead of appending
    * duplicates — and the index read is pinned to the INDEX AS OF
    * THIS BATCH: the seed partition plus batches with a strictly
    * smaller id. That is exactly what a first run sees (the
    * checkpointed stream runs batch k only after 0..k−1 committed
    * and before any k+1 exists), and it is what makes replay safe
    * twice over: a crash between the fp publish and the checkpoint
    * commit would otherwise replay the batch against its OWN fps
    * (every window self-matched ⇒ the whole batch cut to nothing),
    * and a replay ordered after later batches committed would see
    * THEIR fps (time-travel: the replayed output differs from the
    * committed first run — CorpusIngestSpec pins this exact case).
    * Batch-internal duplication stays the spanMerge-at-batch-scale
    * contract, same as the batch operator. The index dir is owned by
    * one checkpointed stream — restarting with a FRESH checkpoint
    * restarts batchIds at 0, which rewrites the same partitions from
    * the beginning, the same ownership contract as the ANN store's
    * ingest tail (Similarity.ingestStoreStream).
    */
  def spanIngestBatch(batch: DataFrame, fpIndexDir: String,
                      cleanDir: String, batchId: Long,
                      w: Int = TextAnalysis.ChunkW): Unit = {
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      if (!StoreOps.checkStamp(spark, fpIndexDir, wStamp(w)))
        StoreOps.writeStamp(spark, fpIndexDir, wStamp(w))
      // partition-discovery `batch` column = the as-of key (the ONE
      // shared StoreOps.asOfBatch device, also the LSH index's):
      // numeric partitions keep iff id < batchId; the non-numeric
      // seed and compacted partitions try_cast to NULL (ANSI-safe)
      // and coalesce to kept
      val idx = spark.read.parquet(fpIndexDir)
        .filter(StoreOps.asOfBatch(batchId))
        .select(col("fp"))
      // ONE window-fingerprint pass per batch: detection and the fp
      // publish both read it (the explode+md5 pipeline is the
      // dominant per-batch cost — the batch operator checkpoints it
      // for the same reason); the cut's tokenize is a separate,
      // cheaper relation (full token arrays, not windows)
      val wfp = TextAnalysis.spanWindows(batch, w).localCheckpoint(false)
      TextAnalysis.spanCutWith(batch,
          TextAnalysis.spanFromIndex(wfp, idx, w))
        .write.mode("overwrite").parquet(s"$cleanDir/batch=$batchId")
      wfp.select(col("fp")).distinct()
        .write.mode("overwrite").parquet(s"$fpIndexDir/batch=$batchId")
    }
  }

  /** The wired stream over spanIngestBatch: seed the index dir first
    * (seedSpanIndex), then every micro-batch cuts against everything
    * ingested before it and contributes its own windows. At 100 TB
    * the index dir is the lake table this pass maintains — per-batch
    * cost stays batch-sized (batch windows semi-join the index; the
    * index is only ever READ through the fp key and APPENDED at
    * vocabulary grain).
    */
  def runSpanCut(docs: DataFrame, fpIndexDir: String, cleanDir: String,
                 checkpointDir: String,
                 w: Int = TextAnalysis.ChunkW): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        spanIngestBatch(batch, fpIndexDir, cleanDir, id, w)
      }
      .start()

  /** Streaming NEAR-DUP ingest over the persisted MinHash-LSH index —
    * the runSpanCut live-index loop applied to the cluster tier: every
    * micro-batch folds into the store through `Dedup.lshIndexAppend`
    * (candidates against the index AS OF the batch id, quotient-graph
    * label fold, staged labels swap, batchId-keyed bands/shingles
    * publish for the NEXT batch), so cross-micro-batch near-dups ARE
    * caught and the labels table always holds the current clustering
    * of everything ingested. Append is replay-idempotent, so
    * foreachBatch crash replays converge; the sequential-fold algebra
    * (fold ∘ fold = CC of the union — the quotient theorem applied
    * per cycle) makes the final labels EQUAL the one-shot full
    * recompute, which the spec pins. Same single-owner /
    * same-checkpoint contract as runSpanCut: batch ids must keep
    * rising over a given index dir.
    *
    * Scale honesty: the fold COMPUTE is batch-sized, but the labels
    * SWAP rewrites the doc-grain label table — the one corpus-sized
    * step per cycle. At daily cadence that is one doc-grain write per
    * day; if ingest cadence ever outpaces it, the optimization is a
    * delta-labels table (write only relabeled docs, serve base ⟕
    * delta), not a different fold.
    */
  def runLshDedup(docs: DataFrame, indexDir: String,
                  checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          graft.operators.Dedup.lshIndexAppend(batch.sparkSession,
            indexDir, batch, id)
      }
      .start()

  /** Offline compaction of the span fp index — the lifecycle verb the
    * per-batch partitions make necessary (each ingest cycle adds a
    * `batch=<id>` partition; after thousands of cycles the index read
    * pays a file-listing and small-file tax the fp SET doesn't
    * justify). Folds every partition into one `batch=compacted`
    * partition of distinct fps. Returns the distinct-fp count.
    *
    * Contract: run with the owning stream STOPPED (cleanly — its
    * checkpoint committed), then restart it with the SAME checkpoint:
    * batch ids continue monotonically, so the as-of read keeps
    * working (the compacted partition is non-numeric → kept for
    * every batch, and post-compaction batches are newer than every
    * folded id), replay can never reach below the fold, and —
    * crucially — cleanDir's batchId-keyed partitions are never
    * re-numbered, so no cleaned output is ever overwritten. A FRESH
    * checkpoint restarts batch ids at 0 and must only ever be paired
    * with a fresh cleanDir (ids would collide with the old epoch's
    * partitions and overwrite them) — the same single-owner contract
    * as the ANN store's ingest tail.
    *
    * Crash-safe by ORDER, not by atomicity: (1) the union of
    * EVERYTHING under batch=* (including any previous attempt's
    * leftovers) is staged OUTSIDE the dir; (2) the staged fold moves
    * IN under a fresh batch=compactedN name — from here the new fold
    * alone covers the whole set; (3) only then are the old
    * partitions deleted; (4) the fold is renamed to its final
    * batch=compacted name (free since the old one was deleted in 3).
    * Every intermediate state keeps the dir a SUPERSET of the true
    * fp set (membership semantics: supersets answer every semi-join
    * identically), every rename is require-checked rather than
    * ignored, and a re-run after any crash folds the leftovers like
    * any other partition because compactedN names live under
    * batch=*. The non-numeric compactedN names are kept by the
    * as-of read like the seed, so even a crashed state serves reads
    * correctly.
    */
  def compactSpanIndex(s: SparkSession, fpIndexDir: String): Long = {
    val stage = s"$fpIndexDir._compact"
    // stale staging never holds the only copy (it is renamed away the
    // instant it becomes load-bearing) — safe to drop
    StoreOps.delete(s, stage)
    val old = StoreOps.list(s, fpIndexDir)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
    s.read.parquet(fpIndexDir).select(col("fp")).distinct()
      .write.parquet(s"$stage/batch=compacted")
    val fresh = Iterator.from(0).map(i => s"batch=compacted$i")
      .find(!old.contains(_)).get
    StoreOps.move(s, s"$stage/batch=compacted", s"$fpIndexDir/$fresh")
    old.foreach(p => StoreOps.delete(s, s"$fpIndexDir/$p"))
    StoreOps.move(s, s"$fpIndexDir/$fresh", s"$fpIndexDir/batch=compacted")
    StoreOps.delete(s, stage)
    s.read.parquet(fpIndexDir).count()
  }
}
