package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

import graft.ext.{Dedup, Retrieval, Similarity}

/** The composed corpus ingest: one micro-batch of documents through the
  * content screen, the curation predicate and the decontamination gate
  * into every index tier — the shape of the reference's `StreamingJob`
  * `run` template (PAPER.md §1.1), with the stages declared and the
  * composition owned here. Records carry `doc_id`, `text` and
  * `embedding` (plus `label`, the IVF build's list column).
  *
  *  - `screen`: the stored bloom+fps archive
  *    ([[Dedup.writeBloomIndex]]) — content-keyed dedup of every batch
  *    against everything ever ingested, curated or not.
  *  - `curation`: a row predicate over the batch's columns.
  *  - `gate`: the stored eval index ([[Dedup.writeContaminationIndex]])
  *    — colliding docs are quarantined. The caller owns the suite, and
  *    each batch probes it as it stands at that batch's ingest.
  *  - `tiers`: the index tiers, each a [[Pipeline.Tier]].
  *
  * The ordering rules that carry correctness, all enforced in [[ingest]]:
  *  1. The admitted set freezes BEFORE any store grows: the screen is
  *     lazy over the stored fingerprints, so evaluating it after the
  *     fps ingest would see the batch's own fingerprints and admit
  *     nothing. One action materializes it, and every tier reads the
  *     frozen copy.
  *  2. The decontamination gate runs before any append: a contaminated
  *     doc never enters any artifact version.
  *  3. An emptied batch (a full redelivery) writes nothing: the appends
  *     are guarded on a non-empty admitted set, so no tier's segment or
  *     version history moves.
  *  4. fps/bloom commit LAST. Committed fingerprints are the screen's
  *     memory: landed before the appends, a crash in between would make
  *     the redelivered batch screen to empty and lose it from every
  *     index tier. Landed last, every crash point heals — redelivery
  *     re-admits the batch and each tier's own id anti-join absorbs
  *     whatever already landed.
  *
  * The tiers are independent (disjoint stores, each reading only its own
  * artifact and the frozen batch), so each verb runs its tiers as
  * concurrent driver jobs; a landed subset heals on redelivery by
  * rule 4. */
final case class Pipeline(screen: Option[String], curation: Column,
                          gate: Option[String],
                          tiers: Seq[Pipeline.Tier]) {

  /** The rows the index tiers hold out of `docs`: curated, then
    * decontaminated against the gate's current suite (the two filters
    * commute; curating first means the shingle probe pays only for
    * curated docs). */
  def indexed(docs: DataFrame): DataFrame = {
    val cur = docs.where(curation)
    gate.fold(cur)(quarantine(cur, _))
  }

  /** Build every store over `all`: the bloom over all of it (re-arrivals
    * must dedup away even if they failed the screen), every tier over
    * [[indexed]]`(all)`. The gate's eval index must already be written. */
  def build(all: DataFrame): Unit = {
    val idx = indexed(all)
    eachOf(screen.toSeq.map(d => () => Dedup.writeBloomIndex(all, "text", d)) ++
      tiers.map(t => () => t.build(idx)))
  }

  /** One micro-batch, in the order the class scaladoc states. Returns
    * the number of admitted docs (0 for a full redelivery). */
  def ingest(batch: DataFrame): Long = {
    val screened = screen.fold(batch)(d => batch.join(
      Dedup.dedupIncrementalBloomFromIndex(batch, "doc_id", "text", d)
        .select("doc_id"), Seq("doc_id"), "left_semi"))
    // the curated set persists too, so the gate's probe and its anti-join
    // share one screen pass; the one count materializes both caches
    val cur = screened.where(curation)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val admitted = gate.fold(cur)(quarantine(cur, _)
      .persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val n = admitted.count()
      if (n > 0) eachOf(tiers.map(t => () => t.append(admitted)))
      screen.foreach(d => Dedup.ingestBloomBatch(batch, "text", d))
      n
    } finally {
      admitted.unpersist(blocking = false)
      cur.unpersist(blocking = false)
    }
  }

  /** Take `ids` (a `doc_id` frame) down from every tier. The screen keeps
    * their fingerprints, so a taken-down doc cannot re-enter. */
  def forget(ids: DataFrame): Unit =
    eachOf(tiers.map(t => () => t.forget(ids)))

  /** `docs` minus every doc colliding with the eval index at `ev`. */
  private def quarantine(docs: DataFrame, ev: String): DataFrame =
    docs.join(Dedup.contaminationPairsFromIndex(docs, "doc_id", "text", ev)
      .select("doc_id").distinct(), Seq("doc_id"), "left_anti")

  private def eachOf(actions: Seq[() => Unit]): Unit =
    graft.core.Par.concurrently(actions: _*)
}

object Pipeline {

  /** One index tier's verbs over the pipeline's records. */
  final case class Tier(build: DataFrame => Unit, append: DataFrame => Unit,
                        forget: DataFrame => Unit)

  object Tier {
    /** BM25 postings ([[Retrieval.writePostingsIndex]]). */
    def postings(dir: String): Tier = Tier(
      df => Retrieval.writePostingsIndex(df, "doc_id", "text", dir),
      df => Retrieval.appendToPostingsIndex(df, "doc_id", "text", dir),
      ids => Retrieval.forgetFromPostingsIndex(ids, "doc_id", dir))

    /** IVF lists keyed by `label` ([[Similarity.writeIvfIndex]]). */
    def ivf(dir: String): Tier = Tier(
      df => Similarity.writeIvfIndex(df, "doc_id", "embedding", "label", dir),
      df => Similarity.appendToIvfIndex(df, "doc_id", "embedding", dir),
      ids => Similarity.forgetFromIvfIndex(ids, "doc_id", dir))

    /** PQ codes under codebooks trained at build and frozen
      * ([[Similarity.writePqIndex]]). */
    def pq(dir: String, dims: Int, m: Int, ksub: Int, iters: Int): Tier = Tier(
      df => Similarity.writePqIndex(df, "doc_id", "embedding", dir,
        dims = dims, m = m, ksub = ksub, iters = iters),
      df => Similarity.appendToPqIndex(df, "doc_id", "embedding", dir),
      ids => Similarity.forgetFromPqIndex(ids, "doc_id", dir))

    /** The exact kNN graph ([[Similarity.writeKnnGraph]]). */
    def knn(dir: String, k: Int): Tier = Tier(
      df => Similarity.writeKnnGraph(df, "doc_id", "embedding", dir, k = k),
      df => Similarity.ingestKnnBatch(df, "doc_id", "embedding", dir),
      ids => Similarity.forgetFromKnnGraph(ids, "doc_id", dir))
  }
}
