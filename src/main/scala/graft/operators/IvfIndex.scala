package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.CosineSimilarity

/** IVF (inverted-file) approximate-nearest-neighbor index: a trained
  * k-means codebook partitions the corpus into clusters; a query probes
  * only the `nProbe` nearest clusters and runs exact cosine inside them.
  *
  * Training is classic sampled Lloyd (the same scheme Spark MLlib KMeans
  * uses): a deterministic hash-sample of the corpus, k deterministic
  * seeds, a few assign→mean iterations. The per-iteration collect is
  * k×dim doubles — O(KB) METADATA, not data (MLlib collects exactly the
  * same thing every iteration); the assignment step itself is a single
  * codegen'd expression over the distributed sample, no join, no shuffle.
  *
  * Determinism (required for the driver's hash gate to cover the recall
  * bound): seeds come from xxhash64 order, distances from the quantized
  * native cosine (order-independent integral-double sums), centroid means
  * are floor-quantized at 1e-6 after each iteration, and all argmin ties
  * break on cluster id — so the trained codebook is a pure function of
  * the data.
  *
  * Scale posture:
  * - assignment = `least()` over k codegen'd cosine structs against
  *   LITERAL centroids — zero shuffle, zero row expansion, stays inside
  *   whole-stage codegen. At 100 TB the assignment runs once at ingest
  *   and the corpus is written partitioned by `cl`, so a probe reads
  *   nProbe partitions instead of the full table.
  * - search broadcasts the (query × nProbe) probe set; the corpus never
  *   shuffles. Per-query top-K via window over the probed subset only.
  */
object IvfIndex {

  /** Trained codebook: centroid i = cluster id i. */
  final case class Model(centroids: Array[Seq[Double]]) {
    def k: Int = centroids.length
  }

  /** Corpus-size-derived IVF parameters — the classical sizing instead
    * of hand-tuned constants: k ≈ √N coarse clusters (cluster size ≈ √N
    * balances the centroid scan k against the probed-cluster scan
    * nProbe·N/k), and nProbe = ceil(targetScanFrac·k) so the EXPECTED
    * SCANNED FRACTION of the corpus stays constant as N grows — recall
    * is governed by that fraction (plus whatever structure k-means
    * finds), so quality is scale-stable by construction.
    *
    * k is capped at [[LiteralAssignMaxK]] = 256 HERE because auto-sized
    * indexes should stay on the fused-literal codegen assignment (zero
    * shuffle, whole-stage-codegen'd; generated source grows linearly in
    * k). Larger k is fully supported: [[assignAuto]] switches to the
    * bit-equivalent broadcast-variable probe ([[assignBroadcast]]) past
    * the cap, so a hand-sized index with thousands of centroids works —
    * the cap is a codegen-quality preference, not an architecture limit.
    */
  def autoParams(n: Long, targetScanFrac: Double = 0.3): (Int, Int) = {
    val k = math.max(4, math.min(256, math.round(math.sqrt(n.toDouble)).toInt))
    val nProbe = math.max(1, math.min(k, math.ceil(k * targetScanFrac).toInt))
    (k, nProbe)
  }

  /** Quantize to the same 1e-6 lattice the cosine arithmetic uses, so
    * ulp-level nondeterminism in the distributed mean sum can never flip
    * a downstream argmin (the sum's error is ~1e-13, the lattice 1e-6). */
  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Nearest-centroid cluster id for the vector column `v`, as one
    * codegen'd expression (k fused cosine loops + a `least` over structs;
    * CASE-free, shuffle-free). Ties break on the lower cluster id via the
    * struct's second field. */
  def assignExpr(model: Model, v: Column): Column =
    least(model.centroids.zipWithIndex.map { case (c, i) =>
      struct((-CosineSimilarity.column(v, typedLit(c))).as("d"), lit(i).as("cl"))
    }: _*).getField("cl")

  /** k above which [[assignAuto]] switches from the fused-literal
    * expression to the broadcast-variable path: the generated code of
    * [[assignExpr]] grows linearly in k and falls out of JIT-friendly
    * territory past a few hundred centroids. Matches [[autoParams]]'s
    * k cap, so auto-sized indexes stay on the codegen path. */
  val LiteralAssignMaxK = 256

  /** Nearest-centroid assignment via a BROADCAST VARIABLE +
    * mapPartitions — the k-switchover path [[LiteralAssignMaxK]] gates:
    * centroids ship once per executor as one broadcast instead of k
    * fused expression literals, so k is unbounded. Still zero shuffle
    * and zero row expansion — an O(k·dim) probe per row inside a
    * partition scan (the shape a BLAS batch kernel would slot into).
    *
    * Arithmetic is REPLICATED from CosineSimilarity.nullSafeEval
    * term-for-term (per-product floor-quantization at 1e-6, sum order,
    * final division) and ties break on the lower cluster id, so the two
    * paths agree bit-for-bit; degenerate vectors (null / dim mismatch /
    * zero norm) reproduce the expression path's null-first struct
    * ordering (the first null-distance centroid wins).
    * IvfIndexLayoutSpec pins path equivalence on a shared model.
    */
  def assignBroadcast(
      corpus: DataFrame,
      model: Model,
      vCol: String = "v",
      outCol: String = "cl"
  ): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(model.centroids.map(_.toArray))
    val vIdx = corpus.schema.fieldIndex(vCol)
    val outSchema = corpus.schema.add(outCol, org.apache.spark.sql.types.IntegerType, nullable = false)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    corpus.mapPartitions { it =>
      val cents = bc.value
      it.map { r =>
        // A null ELEMENT nulls the cosine against every centroid on the
        // expression path (first-null-candidate wins, = cl 0); surface
        // it as a null vector here so both paths agree instead of an
        // unboxing NPE mid-loop.
        val raw = if (r.isNullAt(vIdx)) null else r.getSeq[Double](vIdx)
        val v: Seq[Double] =
          if (raw == null || raw.asInstanceOf[Seq[Any]].exists(_ == null)) null else raw
        var bestCl = -1
        var bestD = 0.0
        var nullCl = -1
        var i = 0
        while (i < cents.length) {
          val c = cents(i)
          if (v == null || v.length != c.length) {
            if (nullCl < 0) nullCl = i
          } else {
            var dot = 0.0; var nx = 0.0; var ny = 0.0
            var j = 0
            while (j < c.length) {
              val xi = v(j); val yi = c(j)
              dot += math.floor(xi * yi * 1e6 + 0.5)
              nx += math.floor(xi * xi * 1e6 + 0.5)
              ny += math.floor(yi * yi * 1e6 + 0.5)
              j += 1
            }
            val denom = math.sqrt((nx / 1e6) * (ny / 1e6))
            if (denom == 0.0) {
              if (nullCl < 0) nullCl = i
            } else {
              val d = -((dot / 1e6) / denom)
              if (bestCl < 0 || d < bestD) { bestCl = i; bestD = d }
            }
          }
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (if (nullCl >= 0) nullCl else bestCl))
      }
    }
  }

  /** Assignment with the k-gated path choice: fused-literal codegen up
    * to [[LiteralAssignMaxK]] centroids, broadcast-variable probe past
    * it. Both paths are bit-equivalent (spec-pinned), so callers never
    * observe the switch. */
  def assignAuto(
      corpus: DataFrame,
      model: Model,
      vCol: String = "v",
      outCol: String = "cl"
  ): DataFrame =
    if (model.k <= LiteralAssignMaxK) corpus.withColumn(outCol, assignExpr(model, col(vCol)))
    else assignBroadcast(corpus, model, vCol, outCol)

  /** SPILLED (multi-)assignment — the corpus-side recall lever, the IVF
    * analog of the LSH path's multi-probe: a vector whose SECOND-nearest
    * centroid is within `spillMargin` cosine of its nearest is indexed
    * under BOTH clusters. IVF's misses are boundary vectors (a query's
    * true neighbor sits just across the Voronoi edge of an unprobed
    * cluster); replicating exactly those vectors into their runner-up
    * cluster recovers them while the probed-PARTITION count (nProbe,
    * the planning-time pruning) stays unchanged. Costs, honestly:
    * storage and per-query scanned rows both grow by the spill fraction
    * — margin-controlled, and TARGETED at boundary vectors, which is
    * why it beats raising nProbe on clustered data (real clusters have
    * thin boundaries; the near-uniform fixture is the worst case and
    * spills ~1.4–1.7× at margin 0.05–0.1, see SCALING.md's IVF
    * grid). Same trade the published IVF-spill/SPANN family makes.
    *
    * One codegen'd expression: k fused cosine structs → `array_sort` →
    * top-2 → conditional explode. Rows: (corpus columns ++ `cl`), 1 or 2
    * rows per vector. Ties and quantization follow [[assignExpr]]'s
    * lattice, so the PRIMARY assignment is bit-identical to it
    * (spec-pinned); k is capped at [[LiteralAssignMaxK]] (auto-sized
    * indexes always are — a broadcast twin is mechanical if ever
    * needed). */
  def assignSpilled(
      corpus: DataFrame,
      model: Model,
      spillMargin: Double,
      vCol: String = "v",
      outCol: String = "cl"
  ): DataFrame = {
    require(model.k <= LiteralAssignMaxK,
      s"assignSpilled is codegen-only (k <= $LiteralAssignMaxK), got k=${model.k}")
    require(model.k >= 2, "spilled assignment needs at least 2 centroids")
    val v = col(vCol)
    val arr = sort_array(array(model.centroids.zipWithIndex.map { case (c, i) =>
      struct((-CosineSimilarity.column(v, typedLit(c))).as("d"), lit(i).as("cl"))
    }: _*))
    val best = element_at(arr, 1)
    val second = element_at(arr, 2)
    corpus
      .withColumn("__cls",
        when(second.getField("d") - best.getField("d") <= lit(spillMargin),
          array(best.getField("cl"), second.getField("cl")))
          .otherwise(array(best.getField("cl"))))
      .withColumn(outCol, explode(col("__cls")))
      .drop("__cls")
  }

  /** Train a k-means codebook on a deterministic hash-sample of `corpus`
    * (expects columns `vec_id`, `v: array<double>`).
    *
    * @param samplePct      percent of rows in the training sample
    *                       (hash-gated, deterministic — not Bernoulli RNG
    *                       sampling)
    * @param maxSampleRows  hard ROW cap on the sample: a percentage alone
    *                       scales with the corpus (40% of 100 TB is 40 TB
    *                       cached on executors); when the pct-sample
    *                       exceeds the cap, the hash threshold is
    *                       tightened rows-proportionally on the SAME hash
    *                       lattice, so the refined sample is a
    *                       deterministic subset of the coarse one and the
    *                       cached/iterated volume is bounded regardless
    *                       of corpus size. Lower samplePct too at real
    *                       scale — the cap is the guarantee, not the tool.
    */
  def train(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      samplePct: Int = 40,
      maxSampleRows: Long = 100000L
  ): Model = {
    val spark = corpus.sparkSession
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._

    // 1e6-point lattice (not pmod 100) so the row-cap refinement below
    // has resolution to express maxSampleRows/n as a nested threshold
    val lat = 1000000L
    val h = pmod(xxhash64(col("vec_id"), lit(42)), lit(lat))
    val coarseThresh = samplePct * (lat / 100)
    val coarse = corpus.filter(h < lit(coarseThresh)).select(col("vec_id"), col("v"))
    val nCoarse = coarse.count()
    val sample =
      if (nCoarse <= maxSampleRows) coarse
      else {
        val thresh = math.max(1L, coarseThresh * maxSampleRows / nCoarse)
        corpus.filter(h < lit(thresh)).select(col("vec_id"), col("v"))
      }
    sample.cache()
    try {
      // Deterministic seeds: the k sample vectors with the smallest
      // independent hash — a uniform draw without RNG state.
      var cents: Array[Seq[Double]] = sample
        .withColumn("h", xxhash64(col("vec_id"), lit(7)))
        .orderBy(col("h"), col("vec_id"))
        .limit(k)
        .select(col("v"))
        .collect()
        .map(_.getSeq[Double](0).map(q6))

      val vecSum = udaf(
        new graft.functions.VecAgg.VecSum(cents.head.length),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
      )
      // Iteration assignment goes through the BROADCAST path regardless
      // of k: each iteration's centroids are fresh literals, so the
      // fused-codegen expression would be generated, janino-compiled
      // (seconds at k in the low hundreds — measured ~5-7 s/iteration by
      // the assign_fused rehearsal, SCALING.md) and then used exactly
      // once. Literal fusion only pays when the SAME model is probed
      // repeatedly (search paths, where the codegen cache amortizes it);
      // in the Lloyd loop it is pure compile overhead. Bit-equivalent by
      // the assignAuto parity spec.
      for (_ <- 1 to iters) {
        val stats = assignBroadcast(sample, Model(cents))
          .groupBy(col("cl"))
          .agg(vecSum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.clone() // empty clusters keep their old centroid
        stats.foreach { r =>
          val cl = r.getInt(0)
          val s = r.getSeq[Double](1)
          val n = r.getLong(2).toDouble
          next(cl) = s.map(x => q6(x / n))
        }
        cents = next
      }
      Model(cents)
    } finally sample.unpersist()
  }

  /** Materialize the index: the corpus written PARTITIONED BY cluster id
    * (Hive-style `cl=<k>/` dirs). This is the 100 TB layout the codebook
    * exists for — a probe touches `nProbe` partition directories instead
    * of the full table; everything else (ingest-time assignment cost,
    * file counts bounded by k × tasks) is the standard partitioned-write
    * trade. */
  def writeIndexed(corpus: DataFrame, model: Model, path: String): Unit =
    assignAuto(corpus, model)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cl")
      .parquet(path)

  /** [[writeIndexed]] with spilled multi-assignment — the high-recall
    * materialized layout ([[assignSpilled]]); [[searchIndexed]] reads it
    * unchanged apart from deduping pairs (a vector can sit in two probed
    * partitions). */
  def writeIndexedSpilled(
      corpus: DataFrame, model: Model, path: String, spillMargin: Double): Unit =
    assignSpilled(corpus, model, spillMargin)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cl")
      .parquet(path)

  /** Search a materialized index: the probed cluster ids (a metadata-
    * scale driver-side set, like the centroids themselves) become an
    * `IN` filter on the partition column, so the scan PRUNES to nProbe
    * directories at planning time — visible as PartitionFilters in
    * explain, and the property IvfIndexLayoutSpec pins. Returns
    * (q_id, rnk, vec_id, cos), identical to [[search]] on the same
    * corpus+model. */
  def searchIndexed(
      indexPath: String,
      probes: DataFrame,
      model: Model,
      nProbe: Int,
      topK: Int,
      spilled: Boolean = false
  ): DataFrame = {
    val spark = probes.sparkSession
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._

    val probed = probedClustersDf(probes, model, nProbe)

    // Q × nProbe cluster ids — metadata-scale, safe to collect for the
    // planning-time partition filter (same class of driver-side state as
    // the k×dim codebook).
    val probedClusters = probed.select(col("cl")).distinct().as[Int].collect().toSeq

    val assigned = spark.read
      .parquet(indexPath)
      .filter(col("cl").isin(probedClusters: _*))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val joined = assigned
      .join(broadcast(probed), Seq("cl"))
      .filter(col("vec_id") =!= col("q_id"))
    // a spilled layout ([[writeIndexedSpilled]]) can surface one vector
    // through two probed partitions — dedupe before ranking
    val cands =
      if (spilled)
        joined.select(col("q_id"), col("vec_id"), col("qv"), col("v"))
          .dropDuplicates("q_id", "vec_id")
      else joined
    cands
      .withColumn("cos", CosineSimilarity.column(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cos"))
  }

  /** The nProbe nearest clusters per query: (q_id, qv, cl), Q × nProbe
    * rows — driver/broadcast-scale. */
  private def probedClustersDf(probes: DataFrame, model: Model, nProbe: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val centDf = model.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toSeq
      .toDF("cl", "cv")
    val wq = Window.partitionBy(col("q_id")).orderBy(col("d").asc, col("cl").asc)
    probes
      .crossJoin(broadcast(centDf))
      .withColumn("d", -CosineSimilarity.column(col("qv"), col("cv")))
      .withColumn("crn", row_number().over(wq))
      .filter(col("crn") <= nProbe)
      .select(col("q_id"), col("qv"), col("cl"))
  }

  /** Probe `nProbe` clusters of a pre-assigned corpus (vec_id, v, cl) and
    * rank exact cosine inside them. A SPILLED corpus can surface the same
    * (q_id, vec_id) through two probed clusters — deduped before the
    * ranking window, so top-K semantics are identical to the unspilled
    * index. */
  private def searchAssigned(
      assigned: DataFrame,
      probes: DataFrame,
      model: Model,
      nProbe: Int,
      topK: Int,
      dedupe: Boolean = false
  ): DataFrame = {
    graft.functions.GraftExtensions.register(assigned.sparkSession)
    val probed = probedClustersDf(probes, model, nProbe)
    val wr = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val joined = assigned
      .join(broadcast(probed), Seq("cl"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("qv"), col("v"))
    // spilled corpora only — the plain index can't duplicate a pair, so
    // it skips the extra (q_id, vec_id) exchange entirely
    val cands = if (dedupe) joined.dropDuplicates("q_id", "vec_id") else joined
    cands
      .withColumn("cos", CosineSimilarity.column(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cos"))
  }

  /** Exact top-K cosine search restricted to the `nProbe` clusters whose
    * centroids are nearest each query. `corpus` = (vec_id, v),
    * `probes` = (q_id, qv). Returns (q_id, rnk, vec_id, cos). */
  def search(
      corpus: DataFrame,
      probes: DataFrame,
      model: Model,
      nProbe: Int,
      topK: Int
  ): DataFrame =
    searchAssigned(assignAuto(corpus, model), probes, model, nProbe, topK)

  /** [[search]] over a SPILL-assigned corpus ([[assignSpilled]]): same
    * probe set and per-query cost, higher recall — boundary vectors are
    * reachable through their runner-up cluster too. */
  def searchSpilled(
      corpus: DataFrame,
      probes: DataFrame,
      model: Model,
      nProbe: Int,
      topK: Int,
      spillMargin: Double
  ): DataFrame =
    searchAssigned(
      assignSpilled(corpus, model, spillMargin), probes, model, nProbe, topK, dedupe = true)

  /** Persist the trained codebook next to its data — the missing third
    * of the index lifecycle (writeIndexed persists the LAYOUT, this
    * persists the MODEL that makes the layout searchable): one parquet
    * row per centroid at `path`. The quantized centroid doubles survive
    * a parquet round trip bit-exactly (no float narrowing), so a loaded
    * model assigns and searches identically to the in-memory original —
    * IvfIndexLayoutSpec pins load(save(m)) ≡ m and search parity.
    * k×dim rows — metadata-scale, same class as the training collects.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toSeq
      .toDF("cl", "cv")
      .coalesce(1)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
  }

  /** Load a codebook persisted by [[saveModel]]. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("cl"), col("cv"))
      .as[(Int, Seq[Double])]
      .collect()
      .sortBy(_._1)
    require(rows.nonEmpty, s"no centroids at $path")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"centroid ids at $path are not dense 0..k-1 — not a saveModel artifact")
    Model(rows.map(_._2))
  }
}
