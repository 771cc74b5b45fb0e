package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{DedupClusters, Similarity}

/** Continuous SEMANTIC-dedup maintenance — the embedding loop over the
  * shared epoch loop ([[EpochStore.Loop]]): as batches of vectors land,
  * it keeps a semantic cluster map (connected components of the cosine ≥
  * threshold near-dup graph) current without ever re-pairing the landed
  * corpus:
  *
  *  1. identity dedup of the batch against landed ids (vec_id is the
  *     document key — a re-delivered or re-crawled vector never lands
  *     twice);
  *  2. append survivors to the vector store and their sign-LSH band-key
  *     rows to the persisted index ([[Similarity.bandKeyRows]] — only
  *     the BATCH is ever signatured; the corpus index is read back as
  *     columnar longs);
  *  3. restricted (batch × all) candidates from the stored index
  *     ([[Similarity.lshCandidatesIncrFromKeys]]), verified by exact
  *     cosine against the vector store;
  *  4. [[DedupClusters.augment]] folds the verified pairs into the
  *     persistent map touching only affected components;
  *  5. downstream consumers read the maintained map — e.g. keep-one-
  *     per-cluster selection (dedup_semantic's `kept` flag) stays
  *     current for the whole corpus at per-batch cost.
  *
  * State layout under `stateDir` (plain parquet; the [[EpochStore]]
  * layout and epoch commit):
  *   vecs/epoch=N/       (vec_id, v) vector rows landed by epoch N
  *   keys/epoch=N/       (vec_id, band_idx, band_key) sign-LSH index rows
  *   <store>_base_v<B>/  compacted base generation ([[compactEpochs]])
  *   cluster_map_v<N>/   versioned cluster maps — blue/green
  *   _CURRENT_MAP        one-line pointer naming the live epoch
  *   _BASE_EPOCH         compacted-through pointer (see [[EpochStore]])
  *   _PARAMS             (threshold, bitsPerBand, bands) pinned at
  *                       bootstrap — the stored band keys are only
  *                       meaningful under ONE parameter set, so an
  *                       ingest with different values is rejected
  *                       instead of silently mixing incompatible keys
  *
  * SemanticMaintenanceSpec pins maintained ≡ rebuild, replay
  * idempotence, and staged-epoch invisibility.
  *
  * The maintained ≡ rebuild contract is cap-relative: the hot-bucket
  * guard is evaluated over the index as of each ingest, so a bucket that
  * crosses the cap mid-history can leave the maintained map a strict
  * superset of a from-scratch rebuild's — see the caveat on
  * [[Similarity.embedNearDupLshIncr]]. Exact whenever no bucket crosses
  * the cap between bootstrap and now (all fixture gates).
  */
object SemanticMaintenance extends EpochStore.Loop(Seq("vecs", "keys"), "vecs", "vectors") {

  final case class IngestStats(nBatch: Long, nAdmitted: Long, nNewPairs: Long, mapVersion: Int)

  private def params(threshold: Double, bitsPerBand: Int, bands: Int) =
    Seq("threshold" -> threshold, "bitsPerBand" -> bitsPerBand, "bands" -> bands)

  /** Pointer-consistent (vectors, cluster map) view: one pointer read
    * serves both surfaces, so a keep-one-per-cluster consumer can never
    * join vectors@v+1 against map@v across a commit. */
  final case class StateSnapshot(version: Int, vectors: DataFrame, clusterMap: DataFrame)

  def snapshot(spark: SparkSession, stateDir: String): StateSnapshot = {
    val (v, rows, map) = resolve(spark, stateDir)
    StateSnapshot(v, rows, map)
  }

  /** TIME-TRAVEL read: the vector store exactly as committed at
    * `version` (bounded by compaction; a folded-away version rejects
    * loudly). */
  def vectorsAt(spark: SparkSession, stateDir: String, version: Int): DataFrame =
    rowsAt(spark, stateDir, version)

  /** Bootstrap from an initial corpus — runs the one full banded
    * pair-join the loop exists to never run again. Epoch 1. */
  def bootstrap(
      spark: SparkSession,
      initial: DataFrame,
      stateDir: String,
      threshold: Double = 0.4,
      bitsPerBand: Int = 4,
      bands: Int = 64,
      writerId: Option[String] = None,
      leaseGraceMs: Long = EpochStore.DefaultLeaseGraceMs
  ): Unit =
    bootstrapEpoch(spark, stateDir, params(threshold, bitsPerBand, bands), writerId,
        leaseGraceMs) {
      case Seq(vecs, keys, map) =>
        initial.write.mode(SaveMode.Overwrite).parquet(vecs)
        Similarity.bandKeyRows(initial, bitsPerBand, bands)
          .write.mode(SaveMode.Overwrite).parquet(keys)
        DedupClusters.connectedComponents(
          Similarity.embedNearDupLsh(initial, threshold, bitsPerBand, bands)
            .select(col("v1").as("d1"), col("v2").as("d2")))
          .write.mode(SaveMode.Overwrite).parquet(map)
    }

  /** One ingest step — a pure batch function (call from foreachBatch or
    * a scheduled job). `batch` must carry (vec_id, v); rows whose vec_id
    * already landed are dropped, survivors join the store and the map in
    * one affected-components pass. All reads derive from COMMITTED
    * epochs; everything stages under epoch v+1; the pointer flip is the
    * only commit. */
  def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      stateDir: String,
      threshold: Double = 0.4,
      bitsPerBand: Int = 4,
      bands: Int = 64,
      writerId: Option[String] = None,
      leaseGraceMs: Long = EpochStore.DefaultLeaseGraceMs
  ): IngestStats = {
    val entry = begin(spark, stateDir, params(threshold, bitsPerBand, bands), writerId,
      leaseGraceMs)
    val nBatch = batch.count()
    val v = entry.version
    val landedIds = EpochStore.committed(spark, stateDir, "vecs", v).select(col("vec_id"))
    val admitted = batch
      .dropDuplicates("vec_id")
      .join(landedIds, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nAdmitted = admitted.count()
    if (nAdmitted == 0) return IngestStats(nBatch, 0, 0, v)

    commitEpoch(spark, stateDir, writerId, entry, v + 1) {
      case Seq(vecs, keys, map) =>
        admitted.write.mode(SaveMode.Overwrite).parquet(vecs)
        // Only the BATCH is signatured; the corpus index is read back.
        Similarity.bandKeyRows(admitted, bitsPerBand, bands)
          .write.mode(SaveMode.Overwrite).parquet(keys)
        // committed index/vectors ∪ this attempt's staged rows (read back
        // from the staging paths)
        val keysNow = EpochStore.committed(spark, stateDir, "keys", v)
          .unionByName(spark.read.parquet(keys))
        val vecsNow = EpochStore.committed(spark, stateDir, "vecs", v)
          .unionByName(spark.read.parquet(vecs))
        val newPairs = Similarity.verifyCosine(
            Similarity.lshCandidatesIncrFromKeys(keysNow, admitted.select(col("vec_id"))),
            vecsNow, threshold)
          .select(col("v1").as("d1"), col("v2").as("d2"))
          .localCheckpoint()
        val nPairs = newPairs.count()
        foldPairs(spark, stateDir, v, newPairs).write.mode(SaveMode.Overwrite).parquet(map)
        IngestStats(nBatch, nAdmitted, nPairs, v + 1)
    }
  }

  /** Streaming entry: every micro-batch of (vec_id, v) runs one
    * [[ingestBatch]] step through the shared foreachBatch body
    * ([[EpochStore.Loop.sinkVia]]: `retainVersions`, `compactEvery` and
    * `majorEvery` make the loop self-maintaining). */
  def sink(
      stream: DataFrame,
      stateDir: String,
      checkpoint: String,
      threshold: Double = 0.4,
      bitsPerBand: Int = 4,
      bands: Int = 64,
      trigger: Trigger = Trigger.AvailableNow(),
      retainVersions: Option[Int] = None,
      retainGraceMs: Long = 10 * 60 * 1000L,
      compactEvery: Option[Int] = None,
      majorEvery: Option[Int] = None
  ): StreamingQuery =
    sinkVia(stream, stateDir, checkpoint, trigger, retainVersions, retainGraceMs,
      compactEvery, majorEvery)(b =>
      ingestBatch(b.sparkSession, b, stateDir, threshold, bitsPerBand, bands))
}
