package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{DedupClusters, TextOps}

/** Continuous corpus maintenance: the ingest loop a 100 TB training-data
  * pipeline runs as batches of documents land, composing the engine's
  * incremental primitives so NO step ever re-pays a full-corpus pass:
  *
  *  1. exact dedup of the batch against the landed corpus's fingerprint
  *     store (`TextOps.incrementalDedup` — in-batch collapse + anti-join);
  *  2. append survivors to the corpus and their hashes to the store;
  *  3. near-dup candidate pairs from the RESTRICTED (batch × corpus)
  *     inverted-index join (`TextOps.ngramJaccardPairsIncr`);
  *  4. fold those pairs into the persistent cluster map touching only
  *     affected components (`DedupClusters.augment`);
  *  5. downstream consumers (e.g. `TextOps.leakproofSplitSummary`) read
  *     the maintained map — split membership is a pure function of the
  *     cluster rep, so untouched components keep their split forever.
  *
  * State layout under `stateDir` (all plain parquet — readable by any
  * engine, no custom formats):
  *   docs/epoch=N/       corpus rows (doc_id, text, …) landed by epoch N
  *   hashes/epoch=N/     fingerprint rows (h) landed by epoch N
  *   shingles/epoch=N/   hashed-shingle index rows (doc_id, s) of epoch
  *                       N's docs — the persisted inverted index, so an
  *                       ingest shingles ONLY its batch (the corpus text
  *                       is never re-read; measured in SCALING.md, this
  *                       is what keeps ingest cost flat as the corpus
  *                       grows — the index scan is columnar longs, and
  *                       at cluster scale lays out bucketed by `s`)
  *   <store>_base_v<B>/  compacted base generation: epochs 1..B folded
  *                       into one directory ([[compactEpochs]]) so a
  *                       long-running loop's committed listing stays
  *                       O(1) dirs instead of one epoch dir per ingest
  *   cluster_map_v<N>/   versioned cluster maps — blue/green
  *   _CURRENT_MAP        one-line pointer file naming the live epoch
  *   _BASE_EPOCH         compacted-through pointer (see [[EpochStore]])
  *   _PARAMS             (k, threshold) pinned at bootstrap — an ingest
  *                       with different values is rejected rather than
  *                       silently mixing incompatible shingle indexes
  *
  * EPOCH COMMIT (crash atomicity): the shared [[EpochStore.Loop]]
  * protocol — one ingest = one epoch N = one map version N, the batch's
  * docs, hashes, shingles and merged map all staged, none of it visible
  * until the single `_CURRENT_MAP` flip. A crash before the flip leaves
  * the old epoch live and redelivery recomputes the SAME epoch; a
  * redelivery after it admits nothing (the batch's hashes are now
  * committed) and is a pure no-op — exactly-once mid-batch, not just for
  * whole-batch replay. CorpusMaintenanceSpec pins both crash positions.
  */
object CorpusMaintenance
    extends EpochStore.Loop(Seq("docs", "hashes", "shingles"), "docs", "corpus") {

  final case class IngestStats(nBatch: Long, nAdmitted: Long, nNewPairs: Long, mapVersion: Int)

  private def params(k: Int, threshold: Double) = Seq("k" -> k, "threshold" -> threshold)

  /** A POINTER-CONSISTENT view of the whole state: the live epoch is
    * resolved ONCE and every member serves from it, so a consumer that
    * joins the corpus against the cluster map (the leakproof-split
    * shape) can never straddle an ingest that commits between two
    * accessor calls — `corpus`/`currentMap` each re-read the pointer,
    * which is correct for single-surface reads and the single-writer
    * loop itself, but hands a cross-surface reader corpus@v+1 against
    * map@v for the instant of a commit. Generation/epoch paths resolve
    * eagerly here; the retirement grace window protects them for the
    * snapshot's lifetime, exactly as for any other reader. */
  final case class StateSnapshot(version: Int, corpus: DataFrame, clusterMap: DataFrame)

  def snapshot(spark: SparkSession, stateDir: String): StateSnapshot = {
    val (v, rows, map) = resolve(spark, stateDir)
    StateSnapshot(v, rows, map)
  }

  /** TIME-TRAVEL read: the corpus exactly as committed at `version` — a
    * training run pinned to corpus@v stays reproducible while the loop
    * keeps ingesting. Bounded by compaction (a folded-away version
    * rejects loudly); choose `compactEvery` with the travel horizon in
    * mind. */
  def corpusAt(spark: SparkSession, stateDir: String, version: Int): DataFrame =
    rowsAt(spark, stateDir, version)

  /** TIME-TRAVEL read of the cluster map at `version`. Map versions are
    * retained per [[retain]]'s `keep` policy — a swept version fails
    * loudly here, naming the policy that reclaimed it. */
  def clusterMapAt(spark: SparkSession, stateDir: String, version: Int): DataFrame = {
    val live = currentMapVersion(spark, stateDir)
    require(version >= 1 && version <= live,
      s"clusterMapAt($version): committed versions are 1..$live")
    val p = new org.apache.hadoop.fs.Path(mapPath(stateDir, version))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"cluster map v$version was reclaimed by the retention policy (retain/keep) — " +
        "only versions the policy kept are time-travelable")
    spark.read.parquet(mapPath(stateDir, version))
  }

  /** Bootstrap the state from an initial corpus (runs the one full-graph
    * CC the maintenance loop exists to never run again). Epoch 1 — see
    * [[EpochStore.Loop.bootstrapEpoch]]. */
  def bootstrap(
      spark: SparkSession,
      initial: DataFrame,
      stateDir: String,
      k: Int = 3,
      threshold: Double = 0.5,
      writerId: Option[String] = None,
      leaseGraceMs: Long = EpochStore.DefaultLeaseGraceMs
  ): Unit =
    bootstrapEpoch(spark, stateDir, params(k, threshold), writerId, leaseGraceMs) {
      case Seq(docs, hashes, shingles, map) =>
        initial.write.mode(SaveMode.Overwrite).parquet(docs)
        initial.select(md5(lower(trim(col("text")))).as("h"))
          .distinct()
          .write.mode(SaveMode.Overwrite).parquet(hashes)
        TextOps.hashedShingles(initial, k).write.mode(SaveMode.Overwrite).parquet(shingles)
        val pairs = TextOps.ngramJaccardPairs(initial, k, threshold).select(col("d1"), col("d2"))
        DedupClusters.connectedComponents(pairs).write.mode(SaveMode.Overwrite).parquet(map)
    }

  /** One ingest step (a pure batch function — call it from foreachBatch
    * or a scheduled job). `batch` must carry `doc_id` and `text`; rows
    * whose normalized text already landed are dropped, survivors join
    * the corpus and the cluster map in one affected-components pass.
    * All state derives from COMMITTED epochs and lands staged under
    * epoch v+1; the pointer flip at the end is the only commit.
    */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      stateDir: String,
      k: Int = 3,
      threshold: Double = 0.5,
      writerId: Option[String] = None,
      leaseGraceMs: Long = EpochStore.DefaultLeaseGraceMs
  ): IngestStats = {
    val entry = begin(spark, stateDir, params(k, threshold), writerId, leaseGraceMs)
    val nBatch = batch.count()
    val v = entry.version
    // Materialize the admitted set once: it feeds the corpus append, the
    // hash append, and the pair generation.
    val admitted = TextOps
      .incrementalDedup(batch, EpochStore.committed(spark, stateDir, "hashes", v))
      .localCheckpoint()
    val nAdmitted = admitted.count()
    if (nAdmitted == 0) return IngestStats(nBatch, 0, 0, v)

    commitEpoch(spark, stateDir, writerId, entry, v + 1) {
      case Seq(docs, hashes, shingles, map) =>
        admitted.drop("__hash").write.mode(SaveMode.Overwrite).parquet(docs)
        admitted.select(col("__hash").as("h")).write.mode(SaveMode.Overwrite).parquet(hashes)
        // Only the BATCH is shingled from text; its rows join the persisted
        // index (the whole point of the shingle store — ingest cost no
        // longer re-reads the landed corpus text, see SCALING.md).
        TextOps.hashedShingles(admitted.drop("__hash"), k)
          .write.mode(SaveMode.Overwrite).parquet(shingles)
        // Restricted (batch × corpus) candidate join over the committed
        // shingle index plus THIS attempt's staged rows (read back from
        // the staging path). Batch membership joins onto the index as a
        // flag — never a driver-side id literal, so any batch size is fine.
        val idxNow =
          if (v == 0) spark.read.parquet(shingles)
          else EpochStore.committed(spark, stateDir, "shingles", v)
            .unionByName(spark.read.parquet(shingles))
        val newPairs = TextOps
          .ngramJaccardPairsIncrFromIndex(idxNow, admitted.select(col("doc_id")), threshold)
          .select(col("d1"), col("d2")).localCheckpoint()
        val nPairs = newPairs.count()
        foldPairs(spark, stateDir, v, newPairs).write.mode(SaveMode.Overwrite).parquet(map)
        IngestStats(nBatch, nAdmitted, nPairs, v + 1)
    }
  }

  /** Streaming entry: every micro-batch of (doc_id, text, …) runs one
    * [[ingestBatch]] step through the shared foreachBatch body
    * ([[EpochStore.Loop.sinkVia]]).
    *
    * @param retainVersions when set, [[retain]] sweeps superseded map
    *   versions after every ingest (keep = this many, including live).
    *   `retainGraceMs` is the mtime window protecting versions a
    *   concurrent reader may still hold.
    * @param compactEvery when set, the committed epoch tail folds into
    *   the base generation whenever it reaches this length, so the loop
    *   keeps its own committed listing at O(compactEvery) directories.
    * @param majorEvery tiered-compaction escalation: when set alongside
    *   `compactEvery`, each fold is a cheap O(tail) MINOR generation and
    *   only every `majorEvery`-th escalates to the O(corpus) base
    *   rewrite — see [[EpochStore.maybeCompact]]. */
  def sink(
      stream: DataFrame,
      stateDir: String,
      checkpoint: String,
      k: Int = 3,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow(),
      retainVersions: Option[Int] = None,
      retainGraceMs: Long = 10 * 60 * 1000L,
      compactEvery: Option[Int] = None,
      majorEvery: Option[Int] = None
  ): StreamingQuery =
    sinkVia(stream, stateDir, checkpoint, trigger, retainVersions, retainGraceMs,
      compactEvery, majorEvery)(b => ingestBatch(b.sparkSession, b, stateDir, k, threshold))
}
