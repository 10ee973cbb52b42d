package graft

import org.apache.spark.sql.SparkSession

/** Registry of the engine's run-scoped corpus assets — the expensive
  * once-per-(run, dir) passes ([[RunAssets]]-registered parquet tables)
  * that consumer queries compose over.
  *
  * Why a registry exists (r13 verdict, directive 5): rehearsal
  * batteries price consumer queries, but an asset builds lazily on
  * FIRST TOUCH, so whichever query touches it first absorbs the build
  * into its own number (the r12 d32b 7-vs-34 s spread) — and per-query
  * JVM rehearsals pay every build inside every JVM's warmup, where it
  * distorts nothing but also gets PRICED nowhere. [[ScaleBench]] uses
  * this registry to force-build requested assets as named, separately
  * timed "asset-build" rows BEFORE any consumer pass, so every consumer
  * number is pure marginal cost and the build cost — the number a
  * production pipeline budgets per corpus snapshot — is a first-class
  * measurement of its own.
  *
  * Ordering is dependency-first (winnow selection → pairs → labels;
  * dup pairs → component labels → unified labels): each row's timing
  * is that asset's OWN build, never a dependency's, because the
  * dependency row already materialized it.
  */
object Assets {
  import graft.queries.TextDedup
  import graft.multimodal.Multimodal

  /** name → force-build (build the asset if absent; reading the frame's
    * count materializes the parquet and pins first-touch here).
    */
  val builders: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "minhash_signatures" ->
      ((s, d) => TextDedup.minhashSignatures(s, d).count(): Unit),
    "winnow_selection" ->
      ((s, d) => TextDedup.winnowSelectionAsset(s, d).count(): Unit),
    "winnow_pairs" ->
      ((s, d) => TextDedup.winnowPairs(s, d).count(): Unit),
    "winnow_labels" ->
      ((s, d) => TextDedup.winnowLabels(s, d).count(): Unit),
    "winnow_tagged_pairs" ->
      ((s, d) => TextDedup.winnowTaggedPairs(s, d).count(): Unit),
    "d34w_standing" ->
      ((s, d) => { val (p, l) = TextDedup.d34wStandingAssets(s, d)
        p.count(); l.count(): Unit }),
    "dup_pairs" ->
      ((s, d) => TextDedup.dupPairs(s, d).count(): Unit),
    "component_labels" ->
      ((s, d) => TextDedup.componentLabels(s, d).count(): Unit),
    "unified_labels" ->
      ((s, d) => TextDedup.unifiedLabels(s, d).count(): Unit),
    "d34_standing" ->
      ((s, d) => { val (p, l) = TextDedup.d34StandingAssets(s, d)
        p.count(); l.count(): Unit }),
    "unigram_xent" ->
      ((s, d) => TextDedup.unigramXentAsset(s, d).count(): Unit),
    "term_freq" ->
      ((s, d) => TextDedup.termFreqAsset(s, d).count(): Unit),
    "bigram_freq" ->
      ((s, d) => TextDedup.bigramFreqAsset(s, d).count(): Unit),
    "phash" ->
      ((s, d) => Multimodal.phashAsset(s, d).count(): Unit),
    "media_features" ->
      ((s, d) => Multimodal.mediaFeaturesAsset(s, d).count(): Unit))

  val names: Seq[String] = builders.map(_._1)

  /** Force-build the named assets in registry (dependency) order,
    * returning (name, seconds) rows.
    */
  def buildTimed(spark: SparkSession, dir: String,
      wanted: Set[String]): Seq[(String, Double)] = {
    val unknown = wanted -- names.toSet
    require(unknown.isEmpty, s"unknown assets: ${unknown.mkString(",")}")
    builders.filter(b => wanted(b._1)).map { case (name, build) =>
      name -> Bench.timed(build(spark, dir))._2
    }
  }
}
