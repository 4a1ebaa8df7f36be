package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming corpus curation — the ingest-time form of the batch
  * curation pipeline (`graft.PipelineDemo`): documents land continuously
  * (crawl output, upload feeds), and the gate + dedup run per micro-batch
  * instead of as a nightly batch.
  *
  * Scale shape: the quality gate is per-row (scan-fused, no state); exact
  * dedup keys on the 64-bit content fingerprint so state per seen document
  * is one long, never the text. State growth is the real design decision
  * at 100 TB:
  *   - [[dedupeExact]] keeps all fingerprints (exact global dedup — state
  *     grows with DISTINCT content; bounded only by corpus cardinality);
  *   - [[dedupeWithin]] bounds state with an ingest-time watermark
  *     (`dropDuplicatesWithinWatermark`): duplicates separated by more
  *     than the horizon pass through and are swept by the periodic batch
  *     compaction (`Dedup.exact`) — the standard lambda split: streaming
  *     handles the near-duplicate-in-time mass (replays, double uploads),
  *     batch owns the long tail.
  */
object DocStream {

  /** Streaming view of a documents parquet directory (file-source
    * micro-batch discovery, same pattern as [[EventStream.events]]).
    */
  def documents(spark: SparkSession, docsDir: String): DataFrame = {
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
  }

  /** Content fingerprint column: the dedup state unit (8 bytes/doc). */
  private def withFp(docs: DataFrame): DataFrame =
    docs.withColumn("fp", xxhash64(col("text")))

  /** Exact streaming dedup on the content fingerprint — first occurrence
    * wins across all micro-batches. State = one long per distinct text.
    */
  def dedupeExact(docs: DataFrame): DataFrame =
    withFp(docs).dropDuplicates("fp")

  /** Watermark-bounded streaming dedup: duplicates arriving within
    * `horizon` of each other collapse; state is evicted past the
    * watermark. `tsCol` is the event/ingest timestamp column.
    */
  def dedupeWithin(docs: DataFrame, tsCol: String, horizon: String): DataFrame =
    withFp(docs)
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming BM25 match: score arriving documents against FROZEN corpus
    * statistics (published with the index snapshot — the standing-query /
    * alerting shape) and keep docs at or above `minScoreMicro`. Stateless
    * per-row arithmetic via [[graft.operators.Retrieval.bm25ScoreAgainst]]
    * — the SAME column pipeline as the batch scorer, so stream ≡ batch by
    * construction (pinned across micro-batch cuts in RetrievalStreamSpec).
    * No state, no watermark: a 100 TB/day firehose pays one codegen'd
    * projection per row.
    */
  def matchBm25(docs: DataFrame, nTotal: Long, sumDl: Long,
      dfs: Seq[Long], minScoreMicro: Long): DataFrame =
    graft.operators.Retrieval.bm25ScoreAgainst(docs, nTotal, sumDl, dfs)
      .filter(col("score_micro") >= minScoreMicro)

  /** Full streaming curation: the per-row Gopher-rules gate AND the
    * hashed-n-gram classifier gate (both stateless scan projections —
    * Catalyst fuses them into one pass), then exact dedup. Composes the
    * SAME operator code as the batch pipeline (`TextAnalysis
    * .qualityFilter` + `TextAnalysis.classifierScore`, exactly
    * PipelineDemo's stage 1), so stream and batch answers agree by
    * construction — asserted in DocStreamSpec.
    */
  def curate(docs: DataFrame): DataFrame =
    dedupeExact(
      graft.operators.TextAnalysis.classifierScore(
          graft.operators.TextAnalysis.qualityFilter(docs))
        .filter(col("quality_pass") && col("label") === "keep")
        .select(docs.columns.map(col): _*))

  /** foreachBatch append sink (exactly-once-per-batch parquet appends),
    * the document counterpart of [[EventStream.ingest]].
    */
  def ingest(stream: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** One winnowed span occurrence with its event time (watermark rides
    * on `et`).
    */
  final case class SpanOccT(doc_id: Long, fp: String, et: java.sql.Timestamp)

  /** One flagged span: `is_dup` marks an occurrence whose fingerprint was
    * seen in an earlier trigger (within the state horizon) or at least
    * twice within this trigger.
    */
  final case class SpanFlag(doc_id: Long, fp: String, is_dup: Boolean)

  /** Streaming SPAN-level dedup flags — the incremental twin of the batch
    * d13 winnowed-substring profile ([[graft.operators.Paragraphs]]),
    * matching the transitions/nearDupIngest pattern: the SAME row-local
    * winnowing code computes fingerprints ([[Paragraphs.spanFingerprints]]
    * carries the event-time column through), and cross-batch duplicate
    * state lives in `flatMapGroupsWithState` keyed on the fingerprint.
    *
    * Contract (pinned in DocStreamSpec):
    *   - WITHIN a trigger the flags equal the batch profile exactly — a
    *     fingerprint occurring ≥ 2 times in the trigger flags ALL its
    *     occurrences, first included, exactly like d13's corpus-wide
    *     `n_occ >= 2`;
    *   - ACROSS triggers the first occurrence was already emitted (and
    *     possibly acted on) before any duplicate arrived, so only the
    *     later occurrences flag — the inherent stream/batch asymmetry
    *     every first-wins ingest has;
    *   - state per distinct fingerprint is ONE long (last-seen ms) and is
    *     evicted on an event-time timeout once the watermark passes
    *     last-seen + [[EventStream.StateTtlMs]] — a span recurring after
    *     that horizon is NOT flagged (the emission sacrificed for bounded
    *     state; the periodic batch d13 sweep owns the long tail, the same
    *     lambda split as [[dedupeWithin]]).
    *
    * Scale shape: fingerprint density is ≈ 2/(winnow+1) per token, so the
    * fp-keyed state shuffle moves ~0.4 rows/token of (doc_id, fp, et) —
    * never the text, which stays in the document lane ([[ingest]]) and
    * re-joins decisions by doc_id. A trigger's occurrences of ONE
    * fingerprint materialize in its state call (bounded by per-fp
    * per-trigger volume — the hot-key caveat [[EventStream.transitions]]
    * documents).
    */
  def spanFlags(docs: DataFrame, tsCol: String, horizon: String = "2 hours",
      width: Int = graft.operators.Paragraphs.SpanWords,
      winnow: Int = graft.operators.Paragraphs.WinnowS): Dataset[SpanFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlMs = EventStream.StateTtlMs

    def update(fp: String, batch: Iterator[SpanOccT],
        state: GroupState[Long]): Iterator[SpanFlag] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val occ = batch.toSeq
        val seenBefore = state.exists
        val dupHere = occ.size >= 2
        val lastMs = math.max(occ.map(_.et.getTime).max,
          state.getOption.getOrElse(Long.MinValue))
        state.update(lastMs)
        state.setTimeoutTimestamp(
          math.max(lastMs + ttlMs, state.getCurrentWatermarkMs() + 1))
        occ.iterator.map(o => SpanFlag(o.doc_id, fp, seenBefore || dupHere))
      }
    }

    graft.operators.Paragraphs.spanFingerprints(
        docs.select(col("doc_id"), col(tsCol).cast("timestamp").as("et"),
          col("text")), width, winnow)
      .withWatermark("et", horizon)
      .select(col("doc_id"), col("fp"), col("et"))
      .as[SpanOccT]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Per-document curation decisions from [[spanFlags]]: each trigger
    * appends (doc_id, n_fp, n_dup_fp, dup_fraction, keep) to
    * `profileDir` — the streaming form of the batch
    * [[graft.operators.Paragraphs.dropSpanDuplicates]] gate. Decisions
    * are doc_id-keyed so the text never rides the fp shuffle; pair with
    * [[ingest]] on the document lane and join downstream.
    */
  def spanDedupIngest(docs: DataFrame, tsCol: String, profileDir: String,
      maxDupFraction: Double, horizon: String = "2 hours",
      width: Int = graft.operators.Paragraphs.SpanWords,
      winnow: Int = graft.operators.Paragraphs.WinnowS): org.apache.spark.sql.streaming.StreamingQuery =
    spanFlags(docs, tsCol, horizon, width, winnow).toDF()
      .writeStream
      .foreachBatch { (flags: DataFrame, _: Long) =>
        flags.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp"),
            count(when(col("is_dup"), 1)).as("n_dup_fp"))
          .withColumn("dup_fraction",
            col("n_dup_fp") * lit(1.0) / col("n_fp"))
          .withColumn("keep", col("dup_fraction") <= maxDupFraction)
          .write.mode("append").parquet(profileDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Incremental NEAR-dup ingest: each micro-batch is screened against
    * the accumulated index with the full batch kernel
    * ([[graft.operators.Dedup.deduplicateAgainst]] — exact collapse +
    * LSH candidates + exact Jaccard verification), survivors append to
    * both the output and the index. The index carries only (doc_id,
    * text); at 100 TB the screen is the same linear band join the batch
    * pipeline runs, amortized per micro-batch, and the index can be
    * periodically compacted/re-bucketed offline without touching this
    * loop. Exactly-once per batch via foreachBatch; batches run
    * sequentially, so batch N+1 sees batch N's survivors.
    */
  def nearDupIngest(stream: DataFrame, indexDir: String, outDir: String,
      jaccardThreshold: Double = 0.6): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = graft.hep.HadoopIo.fs(spark, indexDir)
        val hasIndex = fs.exists(new org.apache.hadoop.fs.Path(indexDir))
        val index =
          if (hasIndex) spark.read.parquet(indexDir)
          else batch.select(col("doc_id"), col("text")).limit(0)
        val kept = graft.operators.Dedup
          .deduplicateAgainst(batch, index, jaccardThreshold)
          .persist()
        kept.write.mode("append").parquet(outDir)
        kept.select(col("doc_id"), col("text"))
          .write.mode("append").parquet(indexDir)
        kept.unpersist()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** [[nearDupIngest]] with the Bloom screen kept current incrementally —
    * the 100 TB shape of the ingest loop. Per micro-batch:
    *
    *   1. the batch screens against the carried
    *      [[graft.operators.Dedup.IndexScreen]] (all-novel batches never
    *      read an index byte — DedupScreenSpec);
    *   2. survivors append to the output and the index, exactly as the
    *      unscreened loop;
    *   3. a batch-sized [[graft.operators.Dedup.buildIndexScreen]] over
    *      JUST the survivors merges into the carried screen
    *      ([[graft.operators.Dedup.mergeScreens]] — a bitwise OR), so
    *      keeping the screen current costs O(batch), never an index scan.
    *
    * `capacityDocs` fixes the bloom sizing once for the deployment (all
    * merged filters must be identically sized); size it for the index's
    * TARGET cardinality — overfilling degrades the false-positive rate
    * (extra confirm work), never correctness. On restart the screen
    * rebuilds from the index once (two aggregate scans), then stays
    * incremental.
    */
  def nearDupIngestScreened(stream: DataFrame, indexDir: String,
      outDir: String, capacityDocs: Long, jaccardThreshold: Double = 0.6,
      fpp: Double = 0.01): org.apache.spark.sql.streaming.StreamingQuery = {
    val screenRef = new java.util.concurrent.atomic.AtomicReference[
      graft.operators.Dedup.IndexScreen](null)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = graft.hep.HadoopIo.fs(spark, indexDir)
        val hasIndex = fs.exists(new org.apache.hadoop.fs.Path(indexDir))
        val index =
          if (hasIndex) spark.read.parquet(indexDir)
          else batch.select(col("doc_id"), col("text")).limit(0)
        val screen = Option(screenRef.get()).getOrElse {
          if (hasIndex) // restart: one rebuild from the index, then incremental
            graft.operators.Dedup.buildIndexScreen(index, capacityDocs, fpp)
          else graft.operators.Dedup.IndexScreen(null, null, fpp)
        }
        val kept = graft.operators.Dedup
          .deduplicateAgainst(batch, index, screen, jaccardThreshold)
          .persist()
        kept.write.mode("append").parquet(outDir)
        kept.select(col("doc_id"), col("text"))
          .write.mode("append").parquet(indexDir)
        val batchScreen = graft.operators.Dedup.buildIndexScreen(
          kept.select(col("doc_id"), col("text")), capacityDocs, fpp)
        screenRef.set(graft.operators.Dedup.mergeScreens(screen, batchScreen))
        kept.unpersist()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The FULL composed streaming curation pipeline — quality gate →
    * hashed-n-gram classifier → streaming span dedup → Bloom-screened
    * near-dup ingest → deterministic training shards — over one staged
    * input directory, each stage the SAME operator code the batch pipeline
    * (`graft.PipelineDemo`) composes.
    *
    * Execution shape: two AvailableNow streaming passes + one batch
    * finalization, the lambda pairing the [[spanDedupIngest]] scaladoc
    * states:
    *
    *   1. span lane — the gated stream's winnowed span decisions append
    *      to `workDir/span-profile` (fp-keyed state, doc_id-keyed output);
    *   2. document lane — the gated stream semi-joins the completed span
    *      decisions (stream-static join on doc_id; the text never rode
    *      the fp shuffle) and runs the screened incremental near-dup
    *      ingest against `workDir/index`, survivors appending to
    *      `workDir/kept`;
    *   3. shard finalization — ONE batch pass shuffles `kept` into
    *      `workDir/shards` (deterministic per-shard order).
    *
    * Composed contract (CurationPipelineSpec): over a multi-batch stream
    * whose span duplicates are co-trigger and whose exact/near duplicates
    * arrive first-occurrence-first, the surviving rows AND the shard
    * layout are row-identical to the batch composition
    * `gate → classifier → dropSpanDuplicates → deduplicate → shards`.
    * The two inherent stream/batch asymmetries stay what their operator
    * contracts say: a span duplicate arriving in a LATER trigger flags
    * only the later occurrences (the earlier copy already shipped), and
    * near-dup chains resolve per arrival order rather than corpus-wide.
    * Returns the shards directory.
    *
    * `workDir` must be FRESH: all three lanes append and the near-dup
    * lane dedups against `workDir/index`, so a silent rerun over a used
    * workDir would double-append span profiles, dedup the corpus against
    * its own prior index (emptying `kept`), and rewrite shards from
    * stale rows. Guarded by a `require` at entry rather than auto-delete
    * — a curation workDir can hold hours of ingest state, and destroying
    * it on a typo'd path is worse than failing fast.
    */
  def curationPipeline(spark: SparkSession, inDir: String, workDir: String,
      tsCol: String, capacityDocs: Long, maxDupFraction: Double = 0.5,
      jaccardThreshold: Double = 0.6, numShards: Int = 4,
      maxFilesPerTrigger: Int = 1): String = {
    val wdFs = graft.hep.HadoopIo.fs(spark, workDir)
    // Absent or EMPTY, not merely missing the four output subdirs: a crash
    // can leave only streaming checkpoint state behind, and a rerun that
    // passed a subdir-only guard would silently resume from those stale
    // checkpoints (skipping input files the failed run had already claimed).
    val wdPath = new org.apache.hadoop.fs.Path(workDir)
    require(!wdFs.exists(wdPath) || wdFs.listStatus(wdPath).isEmpty,
      s"curationPipeline: $workDir exists and is non-empty — the pipeline " +
        "is not idempotent over a used workDir (appends would double-count, " +
        "the prior index would swallow the corpus, and leftover streaming " +
        "checkpoints would resume from stale offsets); pass a fresh workDir " +
        "or delete the old one explicitly")
    val schema = spark.read.parquet(inDir).schema
    def stream: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString).parquet(inDir)
    def gated(df: DataFrame): DataFrame =
      graft.operators.TextAnalysis.classifierScore(
          graft.operators.TextAnalysis.qualityFilter(df))
        .filter(col("quality_pass") && col("label") === "keep")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // 1. span lane
    spanDedupIngest(gated(stream), tsCol, s"$workDir/span-profile",
      maxDupFraction).awaitTermination()
    // 2. document lane, gated by the span decisions
    val keeps = spark.read.parquet(s"$workDir/span-profile")
      .filter(col("keep")).select("doc_id")
    nearDupIngestScreened(
      gated(stream).join(keeps, Seq("doc_id"), "left_semi"),
      s"$workDir/index", s"$workDir/kept", capacityDocs, jaccardThreshold)
      .awaitTermination()
    // 3. shard finalization
    graft.operators.Sampling.writeTrainingShards(
      spark.read.parquet(s"$workDir/kept"), col("doc_id"), numShards,
      s"$workDir/shards")
    s"$workDir/shards"
  }

  /** Small-files maintenance for the ingest index: every micro-batch of
    * [[nearDupIngest]]/[[nearDupIngestScreened]] appends one parquet file
    * batch, so a long-lived loop leaves thousands of tiny files — the
    * classic scan killer (per-file open/footer cost, starved vectorized
    * reads, driver-side listing bloat). Rewrites the index to
    * ~`targetBytesPerFile` files via a shuffle-free coalesce and the
    * Hadoop-FS swap `hep.HepMaintenance.compact` also uses
    * (`hep.HadoopIo.swapRewrite`: write temp → rename aside → rename in;
    * single-owner, run between batches — exactly the offline compaction
    * window the ingest scaladoc reserves).
    * Content is byte-identical, so carried [[graft.operators.Dedup
    * .IndexScreen]]s stay exactly valid. Returns (filesBefore,
    * filesAfter).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      targetBytesPerFile: Long = 128L << 20): (Int, Int) = {
    graft.hep.HadoopIo.swapRewrite(spark, indexDir, "compactIndex") { tmp =>
      val bytes = graft.hep.HadoopIo.fs(spark, indexDir)
        .getContentSummary(new org.apache.hadoop.fs.Path(indexDir)).getLength
      val nFiles = math.max(1L, (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
      spark.read.parquet(indexDir).coalesce(nFiles)
        .write.mode("overwrite").parquet(tmp)
    }
  }
}
