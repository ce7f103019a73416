package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableLayout

/** The standing dedup state of a corpus snapshot — the LSH-verified
  * near-dup PAIR set and its connected-component ASSIGNMENT — computed
  * once and composed over by every downstream report (cluster
  * histogram, canonical-survivor choice, leakage-safe splits,
  * incremental merge replay, graph censuses).
  *
  * Why a record instead of each report recomputing: the pair pipeline
  * (shingle → portable MinHash → banded candidates → exact-Jaccard
  * verify → contraction) is the most expensive stage of the dedup
  * family, and at 100 TB "recompute the pair set per report" is the
  * wrong engine API — a production run materializes pairs+components
  * once per corpus snapshot and every report reads the staging table.
  * The oracle side of each report keeps its own full SQL replay
  * (standalone reproducibility), so staging changes COST, never
  * answers.
  *
  * Two staging forms:
  *  - [[DedupArtifacts.buildPinned]] memoized per application by
  *    [[graft.ops.Staged]] — the suite/notebook form (state dies with
  *    the SparkContext).
  *  - [[DedupArtifacts.save]]/[[DedupArtifacts.load]]: durable
  *    hash-bucketed staging tables keyed by each frame's join key
  *    (the ContainmentIndex convention) — the cross-session form; a
  *    co-bucketed join on `id` plans without an Exchange on the big
  *    side.
  */
final case class DedupArtifacts(pairs: DataFrame, components: DataFrame)

object DedupArtifacts {

  /** Build both frames from the corpus — un-pinned lineage (each
    * consumer action recomputes); use [[buildPinned]] or [[save]] when more
    * than one report will read them. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            threshold: Double): DedupArtifacts = {
    val pairs = Dedup.lshVerifiedJaccardPairs(docs, idCol, textCol,
      threshold)
    DedupArtifacts(pairs,
      Dedup.connectedComponents(pairs, "id_a", "id_b"))
  }

  /** [[build]] with both frames pinned via `localCheckpoint`: the pair
    * pipeline runs once, the contraction runs once, and every
    * downstream report reads materialized rows. */
  def buildPinned(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double): DedupArtifacts = {
    val pairs = Dedup.lshVerifiedJaccardPairs(docs, idCol, textCol,
      threshold).localCheckpoint()
    DedupArtifacts(pairs,
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .localCheckpoint())
  }

  /** Durable staging: both frames as hash-bucketed tables keyed by
    * their join keys (`id_a` for pairs, `id` for components), so a
    * later session's report joins corpus-side frames without a
    * corpus-sized Exchange. */
  def save(a: DedupArtifacts, prefix: String, buckets: Int = 8): Unit = {
    TableLayout.writeBucketed(a.pairs, s"${prefix}_pairs", "id_a",
      buckets, sortCol = Some("id_b"))
    TableLayout.writeBucketed(a.components, s"${prefix}_components",
      "id", buckets)
  }

  def load(spark: SparkSession, prefix: String): DedupArtifacts =
    DedupArtifacts(
      TableLayout.readTable(spark, s"${prefix}_pairs"),
      TableLayout.readTable(spark, s"${prefix}_components"))
}
