package graft

import graft.plans.PlanGuard

/** Registry-wide scale-lint: every registered query's executed plan
  * must be PlanGuard-clean, except a PINNED list of audited
  * exceptions whose flagged relation is contract-bounded (each entry
  * says why). A new query that introduces a cartesian product, a
  * global window, or a conditionless nested loop — or an edit that
  * sneaks one into an existing query — fails here with the query
  * name and the guard's fix text, long before a bench or a cluster
  * sees it. */
class RegistryGuardSpec extends SparkTestBase {

  // query -> rules it is allowed to trip, with the boundedness
  // argument a reviewer should be able to check in the query source.
  // This list is DISCOVERED, not guessed: the spec also fails when an
  // entry stops firing, so it can never accrete stale allowances.
  private val Audited: Map[String, Set[String]] = Map(
    // one-row aggregate outputs (share totals / frequency totals /
    // exact-hit counts) crossJoined back onto data — bounded by
    // construction as single-row relations
    "e8_drift_psi" -> Set("unconditional-nested-loop"),
    // st10: e8's pattern twice — the one-row reference total
    // broadcast, and the (distinct windows × reference bins) frame,
    // both config-bounded (calendar × bin width), never corpus-sized
    "st10_stream_drift_psi" -> Set("unconditional-nested-loop"),
    "t12_oov_rate" -> Set("unconditional-nested-loop"),
    // (a28 needs NO allowance: its registered frame is the
    // localCheckpointed ≤|qs|-row report, so the audited plan is a
    // checkpoint scan. The quantile computation's own shapes — a
    // bounded cumulative window and the 1-row total crossJoin over
    // O(bins) gauge rows — are e8's one-row-totals class, argued at
    // Sketches.histQuantile.)
    // (e13 is keyless by design — every (corpus, eval) pair is scored,
    // so an accidental cross-namespace id collision cannot suppress a
    // hit — yet needs NO allowance here: Catalyst pushes the cosine
    // threshold filter into the broadcast nested loop as its
    // condition, so the plan is conditioned-BNLJ, the audited-benign
    // shape.)
    // x5 was on this list until its single-pass rewrite removed the
    // exact-vs-quant hit join entirely — the audit's staleness check
    // forced this removal, exactly as designed
    // one-row corpus stats (N, Σdl / doc count) attach the same way
    // in the relevance scorers
    "t6_tfidf_topterms" -> Set("unconditional-nested-loop"),
    // t15: the ONE-ROW bigram → log2 P map cross join (alphabet²-
    // bounded by construction — the same one-row-totals shape as e8)
    "t15_bigram_xent" -> Set("unconditional-nested-loop"),
    // t16: the N1×N2 one-row totals pair (1-row × 1-row, then onto
    // the minCount-floored candidates) — e8's shape twice; the
    // marginal joins are keyed on the bigram's words
    "t16_pmi_collocations" -> Set("unconditional-nested-loop"),
    "t7_bm25_rank" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // t7's final rank window is global BUT its input is the
    // per-partition pre-truncated candidate set (≤ topN × partitions
    // rows — the two-phase pattern PlanSpec locks for x1/t7); its
    // deferred HOF term counts sit under the ONE-ROW stats join, so
    // the per-pair multiplier is exactly 1 — benign by construction
    // k-family (stored keyword index, KeywordIndex.probe): the two
    // ONE-ROW corpus-stat broadcasts (live N/Σdl and the per-query-
    // term df vector — both single-row aggregates by construction,
    // t7's shape); the final rank window is global BUT bounded: its
    // input is per-partition pre-truncated candidates (≤ topN ×
    // partitions) unioned with the ≤ topN zero-fill page (orderBy+
    // limit). Unlike t7, NO deferred-derivation finding: the stored
    // probe carries no HOF — the tokenize pass it would defer is
    // exactly what the index amortized away at build time.
    "k1_keyword_topk" ->
      Set("unconditional-nested-loop", "global-window"),
    "k2_keyword_append" ->
      Set("unconditional-nested-loop", "global-window"),
    "k3_keyword_retract" ->
      Set("unconditional-nested-loop", "global-window"),
    "k4_keyword_lifecycle" ->
      Set("unconditional-nested-loop", "global-window"),
    "k6_keyword_shard_merge" ->
      Set("unconditional-nested-loop", "global-window"),
    "k8_keyword_versioned" ->
      Set("unconditional-nested-loop", "global-window"),
    "k9_keyword_absorb" ->
      Set("unconditional-nested-loop", "global-window"),
    "k10_keyword_staged_rebuild" ->
      Set("unconditional-nested-loop", "global-window"),
    // k7: k1's probe chain + rrfFuse's SECOND global window — over
    // the full-outer union of two ≤ topN result PAGES (≤ 40 rows by
    // the caller's contract; the fusion never sees the corpus)
    "k7_hybrid_rrf" ->
      Set("unconditional-nested-loop", "global-window"),
    // k7b: k7's fusion shapes with the STORED dense page — the x9
    // probe chain's one-row centroid/codebook broadcasts and their
    // benign deferred l2normalize (one-row build side, per-pair
    // multiplier 1) join k1's audited shapes
    "k7b_hybrid_stored" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // k14: k7b's audited shapes with both sides ACL-restricted — the
    // lexical side adds k11g's keyed allowed semi-join, the dense
    // side x11's keyed nid semi-join; neither adds a new unbounded
    // relation (the flagged shapes are still the one-row stat/asset
    // broadcasts, their benign deferred l2normalize, and the bounded
    // two-page RRF windows)
    "k14_hybrid_filtered" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // k21: the batched hybrid — k13's one-row stats-gauge broadcast
    // on the lexical side and x9's one-row centroid/codebook assets
    // (with their benign deferred l2normalize) on the dense side;
    // NO global-window allowance: the fusion window is
    // qid-partitioned, the batched serves' rule
    "k21_hybrid_multi" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // k22: the batched tenant hybrid's symmetric-difference pin —
    // the batched side is k21's audited shapes (one-row stat/asset
    // broadcasts, qid-partitioned fusion windows) with keyed
    // (qid, id) grant restrictions; the one-call twins are k19's
    // k14 compositions, whose single-page RRF windows are global
    // but two-page-bounded
    "k22_hybrid_multi_tenant" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // k19: k14's audited shapes on BOTH sides of the symmetric
    // difference (the one-call tenant hybrid and its ad-hoc twin are
    // each a k14 composition: one-row kw stat broadcasts, x9's
    // one-row assets with their benign deferred l2normalize, the
    // bounded two-page RRF windows); the tenant overlay slice and
    // the allowed restrictions are keyed/pushed, adding no flagged
    // relation
    "k19_hybrid_tenant" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // k11: k1's probe chain with the allowed set broadcast-semi-
    // joined on id (keyed) and the subset stats as ANOTHER one-row
    // aggregate broadcast — same audited shapes as k1
    "k11_keyword_filtered" ->
      Set("unconditional-nested-loop", "global-window"),
    // k11f: k11's audited shapes at a fixed-size literal-pushdown
    // subset (same plan class, the restriction is a pushed predicate)
    "k11f_keyword_filtered_fixed" ->
      Set("unconditional-nested-loop", "global-window"),
    // k11g: the same shapes with the stored gauge on the stats side
    // (the allowed-set and df joins are keyed; the 1-row broadcasts
    // and the bounded final rank window are k1's audited shapes)
    "k11g_keyword_filtered_global" ->
      Set("unconditional-nested-loop", "global-window"),
    // k15/k16: k11's audited shapes with the subset-stats side now a
    // ONE-ROW tstats gauge slice (tenant = … filter over the tenant-
    // count-sized asset — 1 row by the one-gauge-row-per-tenant
    // construction) instead of the per-probe doclens aggregate; the
    // candidate restriction is a pushed id IN literal (no join at
    // all), the final rank window is k1's bounded two-phase shape
    "k15_keyword_tenant_serve" ->
      Set("unconditional-nested-loop", "global-window"),
    "k16_keyword_tenant_lifecycle" ->
      Set("unconditional-nested-loop", "global-window"),
    // st20: the returned frame IS KeywordIndex.probe over the
    // stream-maintained index (the ingest/takedown side effects run
    // eagerly outside the probed plan) — k1's audited shapes
    "st20_keyword_ingest_retract" ->
      Set("unconditional-nested-loop", "global-window"),
    // st21: the joint alignment audit unioned with the symmetric
    // difference of TWO BM25 pages — the stored probe (k1's audited
    // shapes) and the IN-QUERY scorer over the live corpus, which
    // carries t7's audited deferred-HOF-under-one-row-stats-join
    // (per-pair multiplier exactly 1 — benign by construction)
    "st21_joint_keyword_serve" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // st23: the symmetric difference of two HYBRID pages — served
    // (k7b's audited shapes: kw one-row broadcasts + x9's one-row
    // assets with their benign deferred l2normalize + the two
    // bounded RRF windows) vs the twin (t7's deferred HOF under
    // one-row stats + the replay ANN probe chain)
    "st23_joint_hybrid_serve" ->
      Set("unconditional-nested-loop", "global-window",
        "bnlj-deferred-derivation"),
    // centroid-array / exact-top-k one-row sides in the ANN chain
    "x2_sim_ivf_topk" -> Set("unconditional-nested-loop"),
    "x2_recall" -> Set("unconditional-nested-loop"),
    // d9_recall_mp: the same one-row centroid-array broadcast, on
    // BOTH sides of the near-dup self-join (the multi-probe explode
    // sits between the join and the aggregate that lets the
    // single-probe variant's one-row side be optimized away)
    "d9_recall_mp" -> Set("unconditional-nested-loop"),
    // x7: the one-row PQ codebook broadcast (encode pass + per-query
    // LUT build) — 25 KB by construction, the asset PQ exists to
    // broadcast; the corpus-side scoring join is conditioned and
    // BARRIERED (the repartition after encode). The deferred
    // l2normalize flagged under the CODEBOOK joins is benign: their
    // build side is one row, so the per-pair multiplier is 1
    "x7_pq_topk" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    "x7_recall" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x8: IVF's one-row centroid broadcast + PQ's one-row codebook
    // broadcast, composed (the candidate/scoring joins are keyed);
    // same one-row-side argument for the deferred l2normalize
    "x8_ivfpq_topk" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    "x8_recall" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x9 probe: the SAME query-side chain as x8 (it IS
    // Similarity.ivfPqProbe) over the stored assets — the centroid
    // and codebook broadcasts are one-row/cap-bounded parquet reads,
    // so the keyless joins and the deferred l2normalize under them
    // keep x8's one-row-side benign argument; the postings join is
    // keyed on cid
    "x9_ann_index_probe" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x9v: the SAME ivfPqProbe chain as x9 — only the ensure()
    // posture (versioned 1-row meta read vs fingerprint scan)
    // differs, and ensure runs eagerly outside the probed plan
    "x9v_ann_probe_versioned" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x10: the returned frame is the SAME ivfPqProbe chain as x9
    // (the build/append side effects run eagerly and are not part of
    // the probed plan) — x9's one-row-asset argument verbatim
    "x10_ann_index_append" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x10_recall: x8_recall's shape (brute-force side + probe side)
    "x10_recall" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x9c: x10's probe chain after a compaction — same plan, the
    // build/append/compact side effects run eagerly outside it
    "x9c_compact_probe" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x11: the x9 probe chain with a broadcast-semi-joined allowed
    // set on the postings side — the keyless one-row-asset joins are
    // x8's audited shapes; the filter join is keyed on nid
    "x11_filtered_ann" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x20: x11's audited shapes on the batched filtered serve — the
    // one-row centroid/codebook broadcasts and their benign deferred
    // l2normalize; the per-(qid, nid) restriction is a keyed
    // semi-join, adding no flagged relation
    "x20_ann_multi_filtered" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x21: x11's filtered chain with the grant drawn from the stored
    // tenant overlay (id-IN literals under the cap — no join at all;
    // semi-join keyed on nid above it) over tombstoned postings —
    // x8's one-row-asset argument verbatim; register/remove run
    // eagerly outside the probed plan
    "x21_ann_tenant" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x22: x20's batched filtered shapes with the (qid, nid) pairs
    // expanded from the tenant overlay slice — the expansion join is
    // keyed on tenant against the broadcast query-count-sized map,
    // the restriction is a keyed semi-join; same one-row-asset
    // argument
    "x22_ann_multi_tenant" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x23: x17's no-window threshold chain with x21's grant posture
    // (id-IN literals under the cap — no join at all) — the same
    // one-row centroid/codebook broadcasts and benign deferred
    // l2normalize; register/remove run eagerly outside the plan
    "x23_ann_tenant_range" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x24: x22's batched tenant shapes served over the post-
    // reassignment overlay (the un/reassign mutations and the
    // compact run eagerly outside the probed plan; the overlay
    // tombstone anti-join, when pending, is a broadcast on the
    // control-plane-sized tdels list)
    "x24_ann_tenant_reassign" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x12: the x9 probe chain over tombstone-filtered postings (the
    // deletes anti-join is keyed on nid; remove() runs eagerly
    // outside the probed plan)
    "x12_ann_retract" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x13: x11's filtered chain over x12's tombstoned postings —
    // both filters are keyed on nid; same one-row-asset argument
    "x13_ann_filtered_retract" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x14: the x9 probe chain after the full lifecycle chain (build/
    // append/remove/compact/append run eagerly outside the probed
    // plan) — x9's one-row-asset argument verbatim
    "x14_ann_lifecycle" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x19: the x9 probe chain over a staged-retrained index — the
    // build/append/remove/rebuildStaged side effects run eagerly
    // outside the probed plan; x9's one-row-asset argument verbatim
    "x19_staged_retrain" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x15: the x9 probe chain over a shard-merged index — the
    // trainer/shardFrom/merge side effects run eagerly outside the
    // probed plan; x9's one-row-asset argument verbatim
    "x15_ann_shard_merge" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x17/d20: the x9 serve chain minus (x17) or with (d20) the
    // rank window, same one-row centroid/codebook broadcasts
    "x17_ann_range" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    "d20_semantic_gate" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // x16: the x9 probe chain over an absorbed index — the
    // build/shardFrom/absorb side effects run eagerly outside the
    // probed plan; x9's one-row-asset argument verbatim
    "x16_ann_absorb" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // st12: the symmetric difference of TWO x9 probe chains (the
    // streamed-lifecycle index vs the batch-lifecycle twin) — the
    // one-row centroid/codebook broadcasts appear on both sides;
    // every data-sized join is keyed on cid/nid
    "st12_ann_ingest_retract" ->
      Set("unconditional-nested-loop", "bnlj-deferred-derivation"),
    // z3: three one-row pruning aggregates (linear scan stats,
    // z-order scan stats, true hit count) side by side — the e8
    // one-row-totals shape
    "z3_prune_fraction" -> Set("unconditional-nested-loop"),
    // z5: the one-row block-count total crossJoined onto the probe
    // summary — e8's one-row-totals shape; every other join in the
    // bloom probe chain is keyed (word_idx / probe_key / key)
    "z5_bloom_skipping" -> Set("unconditional-nested-loop"),
    // w4's running sum windows over ONE ROW PER DAY (first-seen
    // counts, pre-aggregated) — calendar-bounded, see
    // Sessions.cumulativeNewKeys
    "w4_cumulative_users" -> Set("global-window"),
    // w7: the sweep-line running sum over per-MINUTE boundary deltas
    // — concurrency has no partition key, but the window input is
    // pre-aggregated to calendar-bounded rows (w4's argument; see
    // Sessions.hourlyConcurrency)
    "w7_concurrency" -> Set("global-window")
  )

  test("every registry query is scale-lint-clean or audited") {
    val dir = sf001
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val found = try PlanGuard.findings(fn(spark, dir))
        catch { case e: Throwable =>
          fail(s"$name failed to plan: $e")
        }
        val allowed = Audited.getOrElse(name, Set.empty)
        val bad = found.filterNot(f => allowed.contains(f.rule))
        val stale = allowed.diff(found.map(_.rule).toSet)
        val msgs =
          bad.map(f => s"$name: [${f.rule}] ${f.node} — ${f.fix}") ++
            stale.map(r => s"$name: audited exception '$r' no longer " +
              "fires — remove it so the audit stays tight")
        msgs
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}
