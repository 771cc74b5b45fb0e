package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupClusters, TextOps}
import graft.streaming.{CorpusMaintenance, EpochStore}

/** TIERED (minor/major) epoch compaction: minor folds cost O(tail) and
  * must leave the committed view row-identical; the major rewrite runs
  * once per `majorEvery` minors, so its O(corpus) cost amortizes to
  * corpus/(compactEvery·majorEvery) per ingest; listing stays bounded;
  * crash-mid-fold is invisible; all the usual guards fail loudly. */
class TieredCompactionSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def freshDir(): String = {
    val p = Files.createTempDirectory("graft_tiered")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def docs(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"tier doc $i alpha${i % 5} beta${i % 3} tail")).toDF("doc_id", "text")
  }

  private def corpusRows(st: String): Seq[(Long, String)] =
    CorpusMaintenance.corpus(spark, st)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def mapRows(st: String): Map[Long, Long] =
    CorpusMaintenance.currentMap(spark, st)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("minor fold leaves the committed view row-identical; guards reject gaps and over-reach") {
    val st = freshDir()
    val d = docs(40)
    CorpusMaintenance.bootstrap(spark, d.filter(col("doc_id") < 10), st)
    (1 to 3).foreach { i =>
      CorpusMaintenance.ingestBatch(
        spark, d.filter(col("doc_id") >= i * 10 && col("doc_id") < (i + 1) * 10), st)
    }
    val before = corpusRows(st)
    val hashesBefore = EpochStore.committed(spark, st, "hashes", 4)
      .orderBy(col("h")).collect().map(_.getString(0)).toSeq

    // guards first: gap, overlap, beyond-pointer
    intercept[IllegalArgumentException] {
      EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 3, upTo = 4)
    }
    intercept[IllegalArgumentException] {
      EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 1, upTo = 9)
    }

    EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 1, upTo = 3)
    assert(EpochStore.minorFolds(spark, st) === Seq((1, 3)))
    assert(corpusRows(st) === before, "minor fold changed the committed corpus")
    val hashesAfter = EpochStore.committed(spark, st, "hashes", 4)
      .orderBy(col("h")).collect().map(_.getString(0)).toSeq
    assert(hashesAfter === hashesBefore, "minor fold changed the committed hash store")

    // the next fold must start at the first uncovered epoch (4)
    intercept[IllegalArgumentException] {
      EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 3, upTo = 4)
    }
    EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 4, upTo = 4)
    assert(EpochStore.minorFolds(spark, st) === Seq((1, 3), (4, 4)))
    assert(corpusRows(st) === before)

    // ingest on top of minors reads through them (restricted join included)
    CorpusMaintenance.ingestBatch(spark, d.filter(col("doc_id") >= 40), st)
    assert(corpusRows(st) === before, "empty batch must admit nothing")
  }

  test("crash-mid-minor is invisible: staged dirs without the pointer rewrite change nothing") {
    val st = freshDir()
    val d = docs(30)
    CorpusMaintenance.bootstrap(spark, d.filter(col("doc_id") < 10), st)
    CorpusMaintenance.ingestBatch(spark, d.filter(col("doc_id").between(10, 19)), st)
    val before = corpusRows(st)
    // a crashed fold attempt staged its generation but died before the
    // _MINOR_FOLDS rewrite — the dir is debris, not state
    d.filter(col("doc_id") >= 900) // empty
      .write.mode("overwrite").parquet(EpochStore.minorGenDir(st, "docs", 1, 2))
    assert(EpochStore.minorFolds(spark, st).isEmpty)
    assert(corpusRows(st) === before, "staged minor debris leaked into the committed view")
    // the rerun overwrites the debris and commits
    EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 1, upTo = 2)
    assert(corpusRows(st) === before)
  }

  test("major compact supersedes minors; retire sweeps covered epochs, dead minors, old bases") {
    val st = freshDir()
    val d = docs(40)
    CorpusMaintenance.bootstrap(spark, d.filter(col("doc_id") < 10), st)
    (1 to 3).foreach { i =>
      CorpusMaintenance.ingestBatch(
        spark, d.filter(col("doc_id") >= i * 10 && col("doc_id") < (i + 1) * 10), st)
    }
    EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 1, upTo = 2)
    val before = corpusRows(st)
    // covered epochs reclaimable already (grace 0), minors still live
    CorpusMaintenance.retireCompactedEpochs(spark, st, graceMs = 0)
    assert(!new java.io.File(s"$st/docs/epoch=1").exists(),
      "epoch covered by a live minor fold must be reclaimable")
    assert(corpusRows(st) === before, "retire of covered epochs changed the view")

    CorpusMaintenance.compactEpochs(spark, st, upTo = 4)
    assert(EpochStore.baseEpoch(spark, st) === 4)
    assert(EpochStore.minorFolds(spark, st).isEmpty, "major fold must supersede all minors")
    assert(corpusRows(st) === before, "major fold over minors changed the view")
    CorpusMaintenance.retireCompactedEpochs(spark, st, graceMs = 0)
    assert(!new java.io.File(s"$st/docs_minor_1_2").exists(), "dead minor dir must be swept")
    assert(corpusRows(st) === before)
  }

  test("no GC starvation: retirement is gated on each victim's OWN fold commit, not the shared file's mtime") {
    // The starvation scenario: a loop folding MORE OFTEN than the grace
    // window rewrites _MINOR_FOLDS every fold, refreshing its mtime —
    // under mtime-of-the-shared-file gating, covered epochs would never
    // age out and disk would grow forever. The fix records a commit
    // timestamp PER RANGE; an old fold's victims are reclaimable even
    // while the file itself is seconds old.
    val st = freshDir()
    val d = docs(40)
    CorpusMaintenance.bootstrap(spark, d.filter(col("doc_id") < 10), st)
    (1 to 3).foreach { i =>
      CorpusMaintenance.ingestBatch(
        spark, d.filter(col("doc_id") >= i * 10 && col("doc_id") < (i + 1) * 10), st)
    }
    EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 1, upTo = 2)
    // a FRESH fold under a long grace: nothing reclaimable yet
    assert(CorpusMaintenance.retireCompactedEpochs(spark, st, graceMs = 600000L).isEmpty,
      "grace window failed to protect a fresh fold's victims")
    // age ONLY the fold's recorded commit time (rewrite its line with an
    // old ts), then refresh the file's mtime to NOW — the starvation
    // setup: old commit, fresh file
    val f = new java.io.File(s"$st/_MINOR_FOLDS")
    val lines = scala.io.Source.fromFile(f).getLines().toSeq
    val aged = lines.map { l =>
      val range = l.split("\\s+")(0)
      s"$range ${System.currentTimeMillis() - 3600 * 1000L}"
    }
    java.nio.file.Files.write(f.toPath, aged.mkString("\n").getBytes("UTF-8"))
    assert(f.setLastModified(System.currentTimeMillis()))
    // the raw rewrite invalidates Hadoop LocalFileSystem's checksum sidecar
    new java.io.File(s"$st/._MINOR_FOLDS.crc").delete()
    // victims' own dir mtimes must also be past the grace (they are the
    // mid-write guard) — age them explicitly
    for (store <- Seq("docs", "hashes", "shingles"); n <- 1 to 2) {
      val dir = new java.io.File(s"$st/$store/epoch=$n")
      if (dir.exists()) assert(dir.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    }
    val before = corpusRows(st)
    val swept = CorpusMaintenance.retireCompactedEpochs(spark, st, graceMs = 600000L)
    assert(swept.exists(_.contains("epoch=1")),
      s"old fold's covered epochs must be reclaimable despite the fresh _MINOR_FOLDS mtime, got $swept")
    assert(!new java.io.File(s"$st/docs/epoch=1").exists())
    assert(corpusRows(st) === before, "starvation-fix sweep changed the committed view")
  }

  test("tiered sink end-to-end: bounded listing, majors rare, map rebuild-exact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val st = freshDir(); val ck = freshDir()
    // the rehearsal generator: ~8% near-dups (ids ≥ 184 near-copy seeds
    // 0-15), so the maintained map carries REAL pairs through the tiers
    val d = graft.tools.ScaleFixtures.genDocs(spark, 200).localCheckpoint()
    CorpusMaintenance.bootstrap(spark, d.filter(col("doc_id") < 40), st)
    val ms = MemoryStream[(Long, String)]
    val q = CorpusMaintenance.sink(
      ms.toDF().toDF("doc_id", "text"), st, ck,
      trigger = Trigger.ProcessingTime(0), retainVersions = Some(2),
      retainGraceMs = 0, compactEvery = Some(2), majorEvery = Some(2))
    def listing(): Int = {
      def dirs(p: String, pfx: String): Int =
        Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
          .count(f => f.isDirectory && f.getName.startsWith(pfx))
      dirs(s"$st/docs", "epoch=") +
        dirs(st, "docs_base_v") + dirs(st, "docs_minor_")
    }
    var maxListing = 0
    for (i <- 0 until 8) {
      val lo = 40 + i * 20
      ms.addData(d.filter(col("doc_id") >= lo && col("doc_id") < lo + 20)
        .as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      maxListing = math.max(maxListing, listing())
    }
    q.stop()
    // 9 epochs through (compactEvery=2, majorEvery=2): minor folds at
    // live 2/4/6/8, every second escalating to a major — listing never
    // grows past base + one minor + the loose tail
    assert(maxListing <= 5, s"tiered sink listing reached $maxListing dirs")
    assert(EpochStore.baseEpoch(spark, st) >= 5, "no major fold escalated")
    assert(CorpusMaintenance.currentMapVersion(spark, st) === 9)
    // exact-dedup may legitimately drop a dup whose word flip was a no-op
    assert(CorpusMaintenance.corpus(spark, st).count() >= 195)
    val maintained = mapRows(st)
    assert(maintained.nonEmpty, "generator's planted near-dups produced no clusters")
    val rebuilt = DedupClusters.connectedComponents(
        TextOps.ngramJaccardPairs(CorpusMaintenance.corpus(spark, st), 3, 0.5)
          .select(col("d1"), col("d2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(maintained === rebuilt, "tiered sink's maintained map diverged from rebuild")
  }

  test("pointer reset below a live minor fold is rejected") {
    val st = freshDir()
    val d = docs(30)
    CorpusMaintenance.bootstrap(spark, d.filter(col("doc_id") < 10), st)
    CorpusMaintenance.ingestBatch(spark, d.filter(col("doc_id").between(10, 19)), st)
    EpochStore.minorFold(spark, st, Seq("docs", "hashes", "shingles"), from = 1, upTo = 2)
    intercept[IllegalArgumentException] {
      EpochStore.committed(spark, st, "docs", upTo = 1).count()
    }
  }

  test("semantic loop's tiered sink: bounded listing, majors escalate, map rebuild-exact") {
    import graft.streaming.SemanticMaintenance
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val st = freshDir(); val ck = freshDir()
    val rnd = new scala.util.Random(17)
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val seeds = (0 until 140).map(_ => unit(Seq.fill(64)(rnd.nextGaussian())))
    // every 5th vector past the bootstrap set is a near-copy of an earlier
    // one (cosine ≈ 0.99), so clusters grow across batches and tiers
    val vecs = seeds.indices.map { i =>
      if (i >= 20 && i % 5 == 0) i.toLong -> unit(seeds(i / 5).map(_ + 0.02 * rnd.nextGaussian()))
      else i.toLong -> seeds(i)
    }
    SemanticMaintenance.bootstrap(spark, vecs.take(20).toDF("vec_id", "v"), st,
      threshold = 0.9, bitsPerBand = 4, bands = 32)
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = SemanticMaintenance.sink(
      ms.toDF().toDF("vec_id", "v"), st, ck, threshold = 0.9, bitsPerBand = 4, bands = 32,
      trigger = Trigger.ProcessingTime(0), retainVersions = Some(2),
      retainGraceMs = 0, compactEvery = Some(2), majorEvery = Some(2))
    def listing(): Int = {
      def dirs(p: String, pfx: String): Int =
        Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
          .count(f => f.isDirectory && f.getName.startsWith(pfx))
      dirs(s"$st/vecs", "epoch=") + dirs(st, "vecs_base_v") + dirs(st, "vecs_minor_")
    }
    var maxListing = 0
    for (i <- 0 until 6) {
      ms.addData(vecs.slice(20 + i * 20, 40 + i * 20))
      q.processAllAvailable()
      maxListing = math.max(maxListing, listing())
    }
    q.stop()
    // 7 epochs through (compactEvery=2, majorEvery=2): minor folds at
    // live 2/4/6, the second escalating to a major over epochs 1..4
    assert(maxListing <= 5, s"tiered semantic sink listing reached $maxListing dirs")
    assert(EpochStore.baseEpoch(spark, st) === 4, "no major fold escalated")
    assert(EpochStore.minorFolds(spark, st) === Seq((5, 6)))
    assert(SemanticMaintenance.currentMapVersion(spark, st) === 7)
    val landed = SemanticMaintenance.corpus(spark, st)
    assert(landed.count() === 140)
    def mapOf(d: DataFrame): Map[Long, Long] =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maintained = mapOf(SemanticMaintenance.currentMap(spark, st))
    assert(maintained.get(135L).nonEmpty && maintained.get(135L) === maintained.get(27L),
      "a near-copy ingested in the last batch did not join its seed's cluster")
    val rebuilt = mapOf(DedupClusters.connectedComponents(
      graft.operators.Similarity.embedNearDupLsh(landed, threshold = 0.9, bitsPerBand = 4,
        bands = 32).select(col("v1").as("d1"), col("v2").as("d2"))))
    assert(maintained === rebuilt, "tiered semantic sink's maintained map diverged from rebuild")
  }
}
