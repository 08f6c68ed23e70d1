package graft.benchstage

import org.apache.spark.sql.SparkSession

/** The staged builds `graft.Bench` runs before its query pass, tier by
  * tier, as the same dependency chains. graft has no public entry point
  * for them: the builders are package-private, so this one object sits
  * under the `graft` package. Everything else in the benchmark calls
  * public functions only. */
object Staging {
  type Chain = Seq[(String, () => Unit)]

  /** Tiers in declaration order; a chain's tiers run in sequence, the
    * chains concurrently. */
  def chains(spark: SparkSession, dir: String): Seq[Chain] = Seq(
    Seq(
      "graph" -> (() => {
        val g = graft.graph.TripleStore.staged(spark, dir)
        g.triples.count(); g.objects.count(); g.relationships.count()
        g.half.count(); g.so.count(); ()
      }),
      "walks" -> (() => { graft.graph.GraphQueries.stagedWalks(spark, dir).count(); () })),
    Seq(
      "dedup_features" -> (() => {
        val f = graft.dedup.Dedup.stagedDocFeatures(spark, dir)
        f.feats.count(); f.ws.count(); ()
      }),
      "wordset_pairs" -> (() => { graft.dedup.Dedup.stagedWordSetPairs(spark, dir).count(); () }),
      "clusters" -> (() => { graft.dedup.Dedup.stagedClusters(spark, dir).count(); () })),
    Seq(
      "term_index" -> (() => { graft.textfn.TermIndex.stagedIndex(spark, dir); () }),
      "rag_snapshot" -> (() => graft.similarity.Similarity.warmStagedSnapshot(spark, dir))),
    Seq(
      "whiten" -> (() => {
        graft.similarity.Similarity.stagedWhitenFrame(spark, dir).count()
        graft.dedup.AngularBlocking.warmWhitenedStaged(spark, dir)
      }),
      "ann_train" -> (() => graft.similarity.Similarity.warmAnnTrainings(spark, dir))),
    Seq(
      "containment_ids" -> (() => { graft.dedup.Dedup.stagedContainment(spark, dir).count(); () }),
      "chunk_vectors" -> (() => { graft.dedup.Dedup.stagedChunkBlocking(spark, dir).assigned.count(); () })),
    Seq(
      "angular" -> (() => graft.dedup.AngularBlocking.warmStaged(spark, dir)),
      "band_index" -> (() => { graft.dedup.BandIndex.stagedBaseIndex(spark, dir); () })))

  val Tiers: Seq[String] = Seq("graph", "walks", "dedup_features", "wordset_pairs", "clusters",
    "term_index", "rag_snapshot", "whiten", "ann_train", "containment_ids", "chunk_vectors",
    "angular", "band_index")

  /** StageCache lookups since the previous call, as (hits, misses). */
  def cacheEvents(): (Int, Int) = {
    val es = graft.operators.StageCache.drainEvents()
    (es.count(_._2 == "hit"), es.count(_._2 == "miss"))
  }
}
