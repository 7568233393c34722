package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (extension beyond the reference — SURVEY §7.4).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, O(|queries|·|corpus|).
  *    The correctness baseline; right answer when the query set is
  *    small (broadcast) even over a huge corpus.
  *  - [[ivfTopK]]: IVF-style bucketed search — assign the corpus to
  *    centroids once (one shuffle, reusable), probe only the nearest
  *    nprobe buckets per query. This is the 100 TB path: per-query
  *    work drops from |corpus| to |corpus|·nprobe/ncentroids.
  *
  * All arithmetic is double, evaluated left-to-right by the aggregate
  * HOF in array index order — deterministic, so brute-force results
  * oracle-compare bit-exactly.
  */
object Similarity {

  /** Dot product of two array<double> columns (index-ordered fold).
    * HOF reference implementation; [[cosine]] uses the fused custom
    * expression instead. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two array<double> columns — the fused,
    * whole-stage-codegen'd [[graft.functions.CosineSimilarity]]
    * expression (one pass instead of three interpreted HOF folds;
    * identical accumulation order, so bit-identical results). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Exact cosine top-k: for every query vector, the k corpus
    * neighbors with highest cosine (self excluded), rank-numbered.
    * Queries are broadcast; the corpus is never collected. Ties break
    * deterministically toward the lower neighbor id ((cosine, nid) is
    * a total order per query, so the result is unique).
    *
    * Two-phase partial top-k: a naive `Window.partitionBy(qid)` puts
    * ALL |corpus| candidate rows for one query into a single
    * partition/task — a driver-visible hotspot at scale. Instead the
    * first window ranks within (qid, corpus-partition) — key space
    * |q|·numPartitions, each group bounded by partition size — and
    * keeps k rows per group; the global window then ranks only
    * ≤ k·numPartitions rows per query. Per-partition top-k retains
    * every global top-k member, so the result is identical. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val wPart = Window.partitionBy(col("qid"), col("__pid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cosine", graft.ops.Ops.roundDet(cosine(col("qvec"), col("nvec")), 4))
      // corpus-side partition id: the broadcast join preserves c's
      // partitioning, so this bounds every (qid, __pid) group by the
      // corpus partition size
      .withColumn("__pid", spark_partition_id())
      .withColumn("__prank", row_number().over(wPart))
      .filter(col("__prank") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "cosine")
      .orderBy("qid", "rank")
  }

  /** Deterministic IVF centroid set: every strideth corpus vector.
    * (A k-means refinement would drop in here; centroid choice only
    * affects recall, not the mechanism.)
    *
    * The set is CAPPED at `maxCentroids` (default 4096) by WIDENING
    * the effective stride: stride' = max(stride,
    * ceil((max_id + 1) / maxCentroids)), computed as a one-row
    * aggregate the filter joins against (the predicate references
    * both sides, so Catalyst plans it as a CONDITIONED broadcast
    * nested loop — keyless but filtered, never a cross product).
    * Uncapped, K = |corpus| / stride makes every [[ivfAssign]] pass
    * O(N·K) = O(N²/stride) and grows the broadcast centroid row with
    * the corpus — the exact asymptote class whose PQ twin cost x7 a
    * measured 55× wall before [[pqCodebook]]'s maxK cap. Like there,
    * a fixed centroid budget is the IVF contract, not a compromise:
    * corpus growth widens the sample stride (coarser buckets, more
    * rows per probe — linear work), it never adds codebook entries
    * (quadratic work). Below the cap the widened stride equals
    * `stride`, so small-corpus results are unchanged bit-for-bit.
    * Measured on key-shifted replicas of the sf0.1 embeddings (40×,
    * 80×, 160×; the cap binds past 81 920 ids): uncapped, doubling
    * the corpus quadrupled the assign pass; capped, it doubled. */
  def centroids(corpus: DataFrame, stride: Int,
                vecCol: String = "embedding",
                idCol: String = "vec_id",
                maxCentroids: Int = 4096): DataFrame = {
    require(maxCentroids >= 1, s"maxCentroids must be >= 1, got $maxCentroids")
    val bound = corpus.agg(
      greatest(lit(stride.toLong),
        ceil((max(col(idCol)).cast("double") + 1.0) / maxCentroids))
        .as("__cstride"))
    corpus.join(broadcast(bound),
        pmod(col(idCol), col("__cstride")) === 0)
      .select(col(idCol).as("cid"),
        col(vecCol).cast("array<double>").as("cvec"))
  }

  /** Lloyd-refined (k-means) centroids, seeded from the deterministic
    * stride set: each iteration is one broadcast argmax assignment
    * pass ([[ivfAssign]] — zero corpus shuffle) plus one elementwise
    * mean (posexplode → groupBy (cid, pos) — shuffle keyed on bounded
    * (cid, dim) space). No driver-side math; empty clusters drop out.
    * Centroid quality only affects IVF recall, never the mechanism,
    * so the oracle-able stride path stays the default for x2 while
    * this is the measured-recall upgrade (see x2_recall / ExtSpec).
    * Means are FP-order-dependent (avg over a shuffle) — fine here,
    * because recall is a count, not a hash-compared value. */
  def kmeansCentroids(corpus: DataFrame, stride: Int, iters: Int = 2,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      maxCentroids: Int = 4096): DataFrame = {
    var cents = centroids(corpus, stride, vecCol, idCol, maxCentroids)
    for (_ <- 1 to iters) {
      cents = ivfAssign(corpus, cents, vecCol, idCol)
        .select(col("cid"), posexplode(col("nvec")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
        .localCheckpoint()
    }
    cents
  }

  /** Assign every corpus vector to its nearest centroid (by cosine).
    *
    * Zero-shuffle, codegen'd formulation: the centroid set is first
    * collapsed to a single array row (it is small by construction —
    * |corpus|/stride rows) and broadcast-cross-joined onto the corpus;
    * the argmax then runs INSIDE the projection as the fused
    * [[graft.functions.ArgMaxCosine]] expression — one whole-stage-
    * codegen'd loop over the centroids per corpus row, ties toward
    * the lower centroid id. Each corpus row is touched exactly once
    * where it already lives (no corpus exchange, unlike a
    * per-(row, centroid) join + max_by reduction), and nothing is
    * interpreted (unlike a `transform`/`array_max` HOF argmax, which
    * never enters codegen and measured 13× slower at sf0.1). The
    * result is reusable across queries — persist it bucketed by cid
    * at scale. */
  def ivfAssign(corpus: DataFrame, cents: DataFrame,
                vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    val v = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    // one row holding all centroids (order irrelevant: the argmax is
    // a total order over (cosine, -cid))
    val centArr = cents.agg(
      collect_list(struct(col("cid"), col("cvec"))).as("__cents"))
    v.join(broadcast(centArr))
      .select(col("nid"), col("nvec"),
        graft.functions.GraftFunctions.argmax_cosine(
          col("nvec"), col("__cents")).as("cid"))
  }

  /** Multi-probe IVF assignment: every corpus vector is indexed under
    * its `nprobe` nearest centroids (by cosine, ties to lower cid) —
    * the standard recall dial for bucket-blocked near-dup mining:
    * a true pair straddling a single-probe bucket boundary is still
    * found when ANY of the two vectors' probe sets intersect.
    * Output is one row per (vector, probed centroid): ~nprobe× the
    * single-probe index size, the explicit storage-for-recall trade.
    *
    * Same zero-shuffle posture as [[ivfAssign]]: the centroid set
    * collapses to one broadcast array row and the bounded top-p
    * selection runs inside whole-stage codegen
    * ([[graft.functions.ArgTopCosine]]); the explode multiplies rows
    * in the scan stage without any exchange. nprobe=1 reproduces
    * [[ivfAssign]]'s assignment exactly (same comparator). */
  def ivfAssignMulti(corpus: DataFrame, cents: DataFrame, nprobe: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val v = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    val centArr = cents.agg(
      collect_list(struct(col("cid"), col("cvec"))).as("__cents"))
    v.join(broadcast(centArr))
      .select(col("nid"), col("nvec"),
        explode(graft.functions.GraftFunctions.arg_top_cosine(
          col("nvec"), col("__cents"), nprobe)).as("cid"))
  }

  /** Cosine-LSH near-neighbor pairs over the whole corpus — the
    * bucketed scale path when there is no query set (all-pairs
    * near-dup mining over embeddings without a blocking column).
    *
    * Banded sign-random-projection ([[graft.functions
    * .HyperplaneLshExplode]], the MinHash AND/OR scheme on angular
    * hashes): each vector gets `numBands` independent `bandBits`-bit
    * signatures; two vectors become a candidate pair iff some band
    * matches exactly, and exact cosine verifies every candidate.
    * Shuffles are keyed on (band, value) — never an unblocked cross
    * join — and only (id, band, bval) enters the bucket shuffle, never
    * the embedding.
    *
    * Scale contract (the dials are independent, unlike the former
    * pigeonhole chunking of ONE 64-bit signature, whose chunk width —
    * and therefore bucket-key space, 256 values at radius 28 — was
    * forced by the mining radius, making candidates O(n²/256)):
    *  - `bandBits` sizes the bucket-key space, 2^bandBits keys per
    *    band. Pick bandBits ≳ log2(corpus): random-pair collisions per
    *    band are then ≈ n²/2^bandBits ≈ O(n), so candidate volume
    *    scales with the true near-neighbor mass, not a fixed ceiling.
    *  - `numBands` buys recall: P[pair found] =
    *    1 − (1 − (1 − θ/π)^bandBits)^numBands. At a production
    *    near-dup threshold (cosine ≥ 0.9) the defaults give ~94%
    *    recall; mining at low cosine needs narrower bands or more of
    *    them (see x3's registration for the synthetic-corpus knobs).
    *  - `maxBucket` drops degenerate buckets (a band value shared by
    *    more members carries ~no angular information, and a single
    *    hot bucket would emit O(maxBucket²) candidate pairs); pairs
    *    lost there remain findable through their other bands. The
    *    drop is a visible dial, not a silent truncation.
    */
  /** @param broadcastVerify hint the candidate-vector joins broadcast
    *   (right for the usual small candidate set). Pass false when the
    *   hyperplanes separate the corpus poorly and the candidate
    *   vectors outgrow broadcast memory — the joins fall back to
    *   shuffled hash, same result (the minhashNearDups knob). */
  def lshNearDups(corpus: DataFrame, threshold: Double,
                  numBands: Int = 32, bandBits: Int = 16,
                  maxBucket: Int = 1024,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id",
                  broadcastVerify: Boolean = true): DataFrame = {
    val hinted = graft.ops.Ops.maybeBroadcast(broadcastVerify)
    val banded = corpus.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.hyperplane_lsh_explode(
        col(vecCol).cast("array<double>"), numBands, bandBits)
        .as(Seq("band", "bval")))

    // Bucket-grouped pair generation (the minhashNearDups pattern):
    // one aggregation keyed on (band, bval) collects each bucket's
    // sorted ids; within-bucket id_a < id_b pairs come from a nested
    // transform over that array, so the signature pass runs once and
    // no self-join re-evaluates it.
    val buckets = banded.groupBy("band", "bval")
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
    // candidate pairs are small by the LSH contract; materialize so
    // the two vector-attach joins don't re-run the bucket aggregate
    val cands = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      .localCheckpoint()

    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val vecs = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .join(hinted(candIds), Seq("id"), "left_semi")
      .localCheckpoint()

    cands
      .join(hinted(vecs.select(col("id").as("id_a"), col("vec").as("vec_a"))), "id_a")
      .join(hinted(vecs.select(col("id").as("id_b"), col("vec").as("vec_b"))), "id_b")
      .withColumn("cosine",
        graft.ops.Ops.roundDet(cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** IVF top-k: probe the nprobe centroids nearest to each query and
    * brute-force only inside those buckets. Approximate — recall
    * depends on stride/nprobe/centroid quality — but every step is a
    * keyed join. `kmeansIters` > 0 refines the stride seeds with that
    * many Lloyd iterations ([[kmeansCentroids]]); 0 keeps the
    * deterministic stride set the x2 oracle reproduces in SQL. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              stride: Int = 20, nprobe: Int = 4,
              vecCol: String = "embedding",
              idCol: String = "vec_id",
              kmeansIters: Int = 0,
              maxCentroids: Int = 4096): DataFrame = {
    val cents =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, stride, kmeansIters, vecCol, idCol, maxCentroids)
      else centroids(corpus, stride, vecCol, idCol, maxCentroids)
    val assigned = ivfAssign(corpus, cents, vecCol, idCol)

    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qvec"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("cid").asc)
    val probed = q.join(broadcast(cents))
      .withColumn("qcos", cosine(col("qvec"), col("cvec")))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= nprobe)
      .select("qid", "qvec", "cid")

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    probed.join(assigned, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine", graft.ops.Ops.roundDet(cosine(col("qvec"), col("nvec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "cosine")
      .orderBy("qid", "rank")
  }

  /** MMR-diversified top-k (Carbonell & Goldstein 1998): for each
    * query, greedily select k results from a score-ordered candidate
    * pool, each step maximizing
    * `λ·score(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance
    * traded against redundancy, the curation pass that stops a
    * score-only top-k from returning k near-copies of one document.
    *
    * Structure at scale: the EXPENSIVE part — scoring the corpus per
    * query — is exactly [[bruteForceTopK]] (swap in [[ivfTopK]]'s
    * chain for the approximate path) run at `poolSize`; the greedy
    * re-rank then touches only the pooled candidates. Pools are
    * collected per query (one shuffle keyed on qid, each group
    * bounded by poolSize), and the selection runs as a per-row HOF
    * fold over that bounded array — interpreted, but O(k·poolSize·d)
    * on poolSize rows per query, a rounding error next to the corpus
    * scan that built the pool.
    *
    * Determinism contract (what x6_precision re-verifies through the
    * independent join/window formulation): every pairwise cosine is
    * rounded to 4dp BEFORE the max (max of rounded = rounded max,
    * order-free), score is the pool's 4dp cosine, and the gain is
    * `roundDet(λ·score − (1−λ)·maxSim, 4)` — one fixed expression
    * tree, so any recomputation is bit-identical; ties break to the
    * lower neighbor id. The first pick (empty selected set) has
    * maxSim 0, so it is the pool's top-scored row.
    *
    * Emits (qid, sel_rank, nid, score, gain), sel_rank 1-based in
    * selection order; gain is the MMR objective AT SELECTION TIME. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              poolSize: Int = 20, lambdaDiv: Double = 0.7,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    require(lambdaDiv >= 0.0 && lambdaDiv <= 1.0,
      s"lambda must be in [0,1], got $lambdaDiv")
    val lam = lit(lambdaDiv)
    val oneMinusLam = lit(1.0 - lambdaDiv)

    val pool = bruteForceTopK(corpus, queries, poolSize, vecCol, idCol)
    val vecs = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nvec"))
    // attach candidate vectors (pool is |q|·poolSize rows — the small
    // side, broadcast onto the corpus scan), then collect each
    // query's pool sorted by (score desc, nid): qid-keyed shuffle,
    // every group bounded by poolSize
    val pooled = vecs.join(broadcast(pool), "nid")
      .groupBy("qid")
      .agg(array_sort(collect_list(struct(
        (-col("cosine")).as("ns"), col("nid"),
        col("cosine").as("score"), col("nvec").as("vec")))).as("pool"))

    // greedy fold: state = (sel: picked-so-far with gains, rem: the
    // rest). k fixed iterations; steps past pool exhaustion no-op
    // (empty rem → empty sorted → both arrays pass through). Each
    // step re-scores rem once into a (−gain, nid)-sorted array and
    // derives BOTH the pick (head) and the survivors (tail) from it —
    // expression land has no let-binding, so the sorted subtree is
    // inlined twice (the minimum; a named `best` referenced per
    // output field would inline the scoring pass five times).
    val emptySel = array().cast(
      "array<struct<nid:bigint,score:double,gain:double,vec:array<double>>>")
    val selected = aggregate(
      sequence(lit(1), lit(k)),
      struct(emptySel.as("sel"), col("pool").as("rem")),
      (st, _) => {
        val sel = st.getField("sel")
        val rem = st.getField("rem")
        // argmax gain with ties to lower nid = ascending sort on
        // (−gain, nid); nid is unique so the order is total
        val sorted = array_sort(transform(rem, c => {
          val maxSim = coalesce(
            array_max(transform(sel, s => graft.ops.Ops.roundDet(
              cosine(c.getField("vec"), s.getField("vec")), 4))),
            lit(0.0))
          val gain = graft.ops.Ops.roundDet(
            lam * c.getField("score") - oneMinusLam * maxSim, 4)
          struct((-gain).as("ng"), c.getField("nid").as("nid"),
            c.getField("score").as("score"), gain.as("gain"),
            c.getField("vec").as("vec"))
        }))
        struct(
          concat(sel, transform(slice(sorted, 1, 1), b =>
            struct(b.getField("nid").as("nid"),
              b.getField("score").as("score"),
              b.getField("gain").as("gain"),
              b.getField("vec").as("vec")))).as("sel"),
          transform(slice(sorted, lit(2), greatest(size(sorted) - 1, lit(0))),
            b => struct((-b.getField("score")).as("ns"),
              b.getField("nid").as("nid"),
              b.getField("score").as("score"),
              b.getField("vec").as("vec"))).as("rem"))
      })

    pooled
      .select(col("qid"), posexplode(selected.getField("sel"))
        .as(Seq("__pos", "__s")))
      .select(col("qid"), (col("__pos") + 1).as("sel_rank"),
        col("__s.nid").as("nid"), col("__s.score").as("score"),
        col("__s.gain").as("gain"))
      .orderBy("qid", "sel_rank")
  }

  // ------------------------------------------------------------ quantize

  /** Int8 scalar quantization of an embedding column — the storage
    * form a 100 TB vector corpus actually persists (4× smaller than
    * float32, 8× smaller than the double compute form): per vector,
    * code_i = floor((x_i − mn)/(mx − mn)·255 + 0.5) ∈ [0, 255] with
    * (mn, mx) the vector's own range. Per-row HOF chain in the scan
    * stage — no shuffle, no state; half-up rounding via floor(+0.5)
    * (the [[graft.ops.Ops.roundDet]] discipline) so every engine
    * computes identical codes. Constant vectors (mx = mn) map to
    * code 0. Emits (idCol, mn, mx, codes array<int>). */
  def quantize(embs: DataFrame, vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    // mn/mx are hoisted into their OWN projection before the
    // transform: referenced from inside the lambda they would be
    // re-evaluated per ELEMENT (O(d²) per row — measured 28× slower
    // at d=64), because a lambda body is outside the project-level
    // subexpression elimination. As multi-use non-trivial aliases
    // they survive CollapseProject, so the codegen'd plan computes
    // each exactly once per row.
    val v = col(vecCol).cast("array<double>")
    val (mn, mx) = (col("mn"), col("mx"))
    val code = (x: Column) => when(mx === mn, lit(0)).otherwise(
      floor((x - mn) / (mx - mn) * 255.0 + 0.5).cast("int"))
    embs.select(col(idCol), array_min(v).as("mn"), array_max(v).as("mx"),
        v.as("__arr"))
      .select(col(idCol), mn, mx,
        transform(col("__arr"), x => code(x)).as("codes"))
  }

  /** Reconstruction-error report for [[quantize]]: per vector, the
    * max and mean |x_i − dequant(code_i)| plus the code range
    * actually used. The acceptance gate before switching a corpus to
    * int8 storage — error is bounded by scale/2 = (mx−mn)/510 per
    * element, and this query proves it on real data rather than
    * asserting it. Same scan-stage HOF posture as [[quantize]];
    * errors are deterministic double arithmetic (rounded 6dp) so the
    * whole report oracle-compares exactly. */
  def quantizeError(embs: DataFrame, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    // Same hoist discipline as [[quantize]] (mn/mx once per row, not
    // per element), plus the `errs` and `codes` ARRAYS are hoisted:
    // each feeds 2 output columns, and an un-aliased transform would
    // be evaluated once per consumer.
    val v = col(vecCol).cast("array<double>")
    val (mn, mx) = (col("__mn"), col("__mx"))
    val scale = (mx - mn) / 255.0
    val err = (x: Column) => when(mx === mn, lit(0.0)).otherwise(
      abs(x - (mn + floor((x - mn) / (mx - mn) * 255.0 + 0.5) * scale)))
    val codeL = (x: Column) => when(mx === mn, lit(0L)).otherwise(
      floor((x - mn) / (mx - mn) * 255.0 + 0.5).cast("long"))
    embs.select(col(idCol), array_min(v).as("__mn"),
        array_max(v).as("__mx"), v.as("__arr"))
      .select(col(idCol),
        transform(col("__arr"), x => codeL(x)).as("__codes"),
        transform(col("__arr"), x => err(x)).as("__errs"),
        size(col("__arr")).as("__d"))
      .select(
        col(idCol),
        array_min(col("__codes")).as("code_min"),
        array_max(col("__codes")).as("code_max"),
        graft.ops.Ops.roundDet(array_max(col("__errs")), 6).as("max_err"),
        graft.ops.Ops.roundDet(
          aggregate(col("__errs"), lit(0.0), (acc, e) => acc + e)
            / col("__d"), 6)
          .as("avg_err"))
  }

  // ---- product quantization (PQ) -------------------------------------

  /** L2-normalize the vector column: (id, vn) — the fused
    * [[graft.functions.L2Normalize]] expression. A declarative
    * `transform(v, x -> x / nrm)` cannot hold the hoist here: nrm
    * has a single consumer, so CollapseProject inlines the alias
    * back into the lambda and the norm re-evaluates per element
    * (PlanGuard flagged exactly that on the HOF draft of this
    * helper — see the expression's scaladoc). */
  private def normalized(df: DataFrame, vecCol: String,
                         idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.l2_normalize(
        col(vecCol).cast("array<double>")).as("vn"))

  /** Product-quantization codebook over the L2-normalized corpus:
    * the vector space is split into `m` contiguous subspaces of
    * dim/m dims, and each subspace gets the deterministic stride
    * sample of corpus subvectors as its codewords (cid = the
    * codeword's RANK in id order, 0..K-1 — dense by CONSTRUCTION,
    * never derived from the id value: [[pqScore]] indexes the flat
    * ADC LUT positionally, so a value-derived cid (the old
    * vec_id/stride) was only correct for corpora whose ids are
    * contiguous multiples of stride from 0, and silently misranked
    * neighbors on any gapped frame, e.g. a [[graft.ext.Decontaminate
    * .semanticClean]] output. The spherical analog of [[centroids]];
    * a per-subspace k-means refinement would drop in without
    * changing the mechanism). Returns ONE ROW with `cb`:
    * array over subspace of array over cid of struct(cid, cvec),
    * both levels cid/m-ordered so positional indexing works — the
    * whole codebook is m·K·(dim/m) doubles (25 KB here), the
    * broadcast-everywhere asset of the PQ design.
    *
    * K is CAPPED at `maxK` (default 256 — the PQ standard: one BYTE
    * per subspace code): an uncapped stride sample grows the
    * codebook with the corpus, which silently turns the encode pass
    * O(N·K) = O(N²/stride) and bloats every per-query LUT — exactly
    * what the sf1synth scaling sentinel caught on the first x7
    * sweep (2.7 s → 148 s at 10×; linear again after the cap).
    * A fixed-size codebook is not a compromise, it is the PQ
    * contract: quantization grain is a model constant, corpus
    * growth adds rows, not codewords. */
  def pqCodebook(corpus: DataFrame, stride: Int = 20, m: Int = 4,
                 dim: Int = 64, maxK: Int = 256,
                 vecCol: String = "embedding",
                 idCol: String = "vec_id"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    // first maxK sampled vectors in id order: orderBy+limit plans as
    // TakeOrderedAndProject (distributed partial top-k — no global
    // window, no unbounded collect), so the cap is scale-safe even on
    // a corpus whose stride sample alone is huge
    val sample = normalized(
        corpus.filter(pmod(col(idCol), lit(stride)) === 0), vecCol, idCol)
      .orderBy(col("id")).limit(maxK)
    sample
      .select(col("id"),
        explode(array((0 until m).map(i =>
          struct(lit(i).as("mi"),
            slice(col("vn"), i * sub + 1, sub).as("cvec"))): _*)).as("s"))
      .select(col("id"), col("s.mi").as("mi"), col("s.cvec").as("cvec"))
      .groupBy("mi")
      // dense cid = position in the id-sorted collect (0-based): the
      // two-arg transform lambda's index IS the rank, so density holds
      // for any id distribution — gapped, sparse, or shifted
      .agg(transform(
        array_sort(collect_list(struct(col("id"), col("cvec")))),
        (s, i) => struct(i.cast("long").as("cid"),
          s.getField("cvec").as("cvec"))).as("cands"))
      .agg(transform(array_sort(collect_list(struct(col("mi"), col("cands")))),
        s => s.getField("cands")).as("cb"))
  }

  /** PQ-encode the corpus against a [[pqCodebook]] row: each vector
    * becomes `m` codeword ids (argmax cosine per subspace, ties to
    * the lower cid — the fused [[graft.functions.ArgMaxCosine]]
    * pass, zero corpus shuffle exactly as [[ivfAssign]]). The codes
    * column is the PQ compression claim made concrete: m small ints
    * (m·log2(K) bits) instead of dim doubles — 64× here — which is
    * what lets a 100 TB embedding corpus's searchable form live in
    * executor memory. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int = 4,
               dim: Int = 64, vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    val sub = dim / m
    normalized(corpus, vecCol, idCol)
      .join(broadcast(codebook))
      .select(col("id").as("nid"),
        array((0 until m).map(i =>
          graft.functions.GraftFunctions.argmax_cosine(
            slice(col("vn"), i * sub + 1, sub),
            element_at(col("cb"), i + 1))): _*).as("codes"))
  }

  /** [[pqEncode]]'s codes AND [[ivfAssign]]'s centroid assignment in
    * ONE corpus pass — the (nid, codes, cid) posting rows an IVFADC
    * build derives. The former build shape,
    * `pqEncode(corpus) ⨝_{nid} ivfAssign(corpus)`, scanned the
    * corpus twice and paid a corpus-sized equi-join shuffle on nid
    * just to glue two per-row projections back together (guide §2.4:
    * a shuffle the operation never fundamentally required); both are
    * row-local functions of the embedding, so one projection over
    * one scan with the same two broadcast asset rows emits identical
    * rows — codes over the L2-normalized vector, cid over the raw
    * cast vector, exactly as the two halves computed them. */
  def pqEncodeAssign(corpus: DataFrame, cents: DataFrame,
                     codebook: DataFrame, m: Int = 4, dim: Int = 64,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val sub = dim / m
    val centArr = cents.agg(
      collect_list(struct(col("cid"), col("cvec"))).as("__cents"))
    corpus.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("nvec"),
        graft.functions.GraftFunctions.l2_normalize(
          col(vecCol).cast("array<double>")).as("vn"))
      .join(broadcast(codebook))
      .join(broadcast(centArr))
      .select(col("nid"),
        array((0 until m).map(i =>
          graft.functions.GraftFunctions.argmax_cosine(
            slice(col("vn"), i * sub + 1, sub),
            element_at(col("cb"), i + 1))): _*).as("codes"),
        graft.functions.GraftFunctions.argmax_cosine(
          col("nvec"), col("__cents")).as("cid"))
  }

  /** PQ approximate cosine top-k via asymmetric distance computation
    * (ADC): per query, ONE pass over the codebook builds a lookup
    * table lut[m][cid] = dot(query subvector, codeword) — m·K dots
    * total — after which scoring a corpus row costs m ARRAY LOOKUPS
    * (sum over subspaces of lut[m][code_m]) instead of a dim-wide
    * dot: the per-pair scan cost drops ~dim/m (16× here) and touches
    * only the m-int codes column, never the embedding. That is the
    * PQ trade: pair COUNT is unchanged (compose with IVF bucketing
    * to prune pairs); pair COST collapses. Dots decompose exactly
    * (dot(q,x) = Σ_m dot(q_m, x_m)), so on L2-normalized vectors the
    * score approximates cosine with per-subspace quantization error
    * — measured honestly by the x7_recall row.
    *
    * Determinism for the DuckDB oracle: LUT entries are roundDet(6),
    * the m per-row terms are summed in explicit subspace order (a
    * literal 4-term chain, not an unordered SUM), the total is
    * roundDet(4), ties rank toward the lower nid. Ranking reuses
    * [[bruteForceTopK]]'s two-phase partial top-k (no global
    * single-task window). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             stride: Int = 20, m: Int = 4, dim: Int = 64,
             vecCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame = {
    val sub = dim / m
    val cb = pqCodebook(corpus, stride, m, dim, vecCol = vecCol, idCol = idCol)
    // The exchange after encode is LOAD-BEARING, not incidental:
    // whole-stage codegen defers the stream side's deferred columns
    // into the broadcast-join loop, so without a materialization
    // barrier the 4-argmax `codes` derivation re-evaluates per
    // (corpus row × query) PAIR instead of per corpus row — measured
    // 41 s → 3.6 s at the 10× replica from this one line. It is also
    // the production shape: the encoded corpus is the build-once
    // stored index (32 bytes/row — the cheapest shuffle in the
    // chain), and the exchange spreads the scoring scan across the
    // cluster where the raw single-file fixture gave only 2 splits.
    // (x8's equi-join route gets the same barrier for free from its
    // cid shuffle.)
    val enc = pqEncode(corpus, cb, m, dim, vecCol, idCol)
      .repartition(col("nid"))

    val lut = pqLut(queries, cb, sub, vecCol, idCol)
    val wPart = Window.partitionBy(col("qid"), col("__pid"))
      .orderBy(col("score").desc, col("nid").asc)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    enc.join(broadcast(lut), col("qid") =!= col("nid"))
      .withColumn("score", graft.ops.Ops.roundDet(pqScore(m), 4))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__prank", row_number().over(wPart))
      .filter(col("__prank") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "score")
      .orderBy("qid", "rank")
  }

  /** Per-query ADC lookup table as ONE FLAT array (subspace-major,
    * cid-ordered), one row per query: a single projection over the
    * queries × the broadcast one-row codebook — for each subspace mi
    * and each of its codewords, the roundDet(6) dot of the query's
    * matching subvector with the codeword, flattened. No aggregate:
    * the codebook's array positions already ARE the (mi, cid) ranks
    * by [[pqCodebook]]'s construction, so walking the arrays in
    * order lays the entries out exactly as regrouping sorted
    * (mi, cid) keys would. Flat on purpose — an earlier 2-level
    * array-of-arrays shape made every lookup
    * `element_at(element_at(lut, m), code)`, and the INNER
    * element_at materializes a copy of the 2 KB subspace array per
    * evaluation; the ranking path re-evaluates the score expression
    * enough times that x7 spent 37 of its 40 s there at 10× scale
    * (measured: same window ranking 0.9 s on a materialized column).
    * A flat array lookup is a direct getDouble — nothing to copy —
    * so the score stays cheap no matter how many times the plan
    * re-evaluates it. */
  private[graft] def pqLut(queries: DataFrame, cb: DataFrame, sub: Int,
                           vecCol: String, idCol: String): DataFrame =
    normalized(queries, vecCol, idCol)
      .join(broadcast(cb))
      .select(col("id").as("qid"),
        lutOf(col("vn"), col("cb"), sub).as("lut"))

  /** [[pqLut]]'s column over an L2-normalized query vector `vn` and
    * the codebook column `cb` of the same row. */
  private def lutOf(vn: Column, cb: Column, sub: Int): Column =
    flatten(transform(cb, (cands, mi) => transform(cands, c =>
      graft.ops.Ops.roundDet(
        dot(slice(vn, mi * sub + 1, lit(sub)), c.getField("cvec")), 6))))

  /** ADC score against a flat [[pqLut]] column: K is read from the
    * lut's own length (size/m), so the expression needs no
    * plan-time codebook size. Explicit subspace-ordered sum — the
    * FP-determinism contract the oracle replays. */
  private def pqScore(m: Int): Column = {
    val kCol = (size(col("lut")) / m).cast("int")
    (0 until m).map(i =>
      element_at(col("lut"),
        kCol * i + element_at(col("codes"), i + 1).cast("int") + 1))
      .reduce(_ + _)
  }

  /** IVF×PQ composed top-k — the production ANN shape: IVF bucketing
    * prunes pair COUNT (each query scores only its nprobe probed
    * buckets' members, |corpus|·nprobe/ncentroids candidates instead
    * of |corpus|), PQ ADC prunes pair COST (m LUT lookups instead of
    * a dim-wide dot, and only the m-int codes column moves — the
    * full embedding is never read past the one-time assign+encode
    * passes). Both index sides are build-once/reusable; the
    * per-query work is the product of the two reductions, which is
    * why this composition (IVFADC) is the standard billion-scale
    * layout. The candidate join is the same equi-join on cid as
    * [[ivfTopK]] — keyed, broadcast-probed, no corpus shuffle.
    *
    * Same determinism contract as [[pqTopK]]/[[ivfTopK]]
    * (stride centroids, roundDet'd LUT + score, ties to lower
    * cid/nid), so the composed pipeline is DuckDB-oracle-able. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                stride: Int = 20, nprobe: Int = 12, m: Int = 4,
                dim: Int = 64, vecCol: String = "embedding",
                idCol: String = "vec_id",
                maxCentroids: Int = 4096): DataFrame = {
    val cents = centroids(corpus, stride, vecCol, idCol, maxCentroids)
    val assigned = ivfAssign(corpus, cents, vecCol, idCol)
      .select("nid", "cid")
    val cb = pqCodebook(corpus, stride, m, dim, vecCol = vecCol, idCol = idCol)
    val enc = pqEncode(corpus, cb, m, dim, vecCol, idCol)
      .join(assigned, "nid") // (nid, codes, cid) — the stored index row
    ivfPqProbe(cents, cb, enc, queries, k, nprobe, m, dim, vecCol, idCol)
  }

  /** The QUERY side of [[ivfPqTopK]], taking the three index assets
    * as frames: probe the nprobe nearest centroids per query, ADC-
    * score only the probed buckets' postings, rank. The query side is
    * ONE row per query until the centroid probe: its [[pqLut]] is a
    * projection over that row and the broadcast codebook, not an
    * aggregate, and rides the probed (qid, cid) rows into the
    * candidate join (no LUT shuffle, no LUT broadcast). Factored out so
    * the in-query path (x8) and the stored-index path
    * ([[AnnIndex.probeTopK]], x9) run LITERALLY the same chain — the
    * build-once/serve-many split is a storage decision, never a
    * semantics fork. `index` rows are (nid, codes, cid) — the
    * [[pqEncode]]×[[ivfAssign]] join, whether computed in-query or
    * read back from parquet. `restrict` (identity by default — the
    * plan is unchanged for every existing caller) hooks a
    * per-(qid, nid) candidate restriction in BEFORE the ADC fold —
    * the batched-filtered serve's per-query allowed subsets, applied
    * where disallowed candidates cost nothing.
    * `excludeSelf` (default true — the near-dup/self-search posture,
    * where queries ARE corpus vectors and a vector must not match
    * itself) drops candidates with nid == qid; set it false when the
    * qids are BATCH LABELS rather than corpus ids (a batched hybrid
    * serve), where an accidental label/doc-id collision must not
    * silently drop that document from the page. */
  def ivfPqProbe(cents: DataFrame, cb: DataFrame, index: DataFrame,
                 queries: DataFrame, k: Int, nprobe: Int = 12,
                 m: Int = 4, dim: Int = 64,
                 vecCol: String = "embedding",
                 idCol: String = "vec_id",
                 restrict: DataFrame => DataFrame = df => df,
                 excludeSelf: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    val cand0 = probedWithLut(cents, cb, queries, nprobe, dim / m, vecCol,
      idCol).join(index, Seq("cid"))
    restrict(if (excludeSelf) cand0.filter(col("qid") =!= col("nid"))
        else cand0)
      .withColumn("score", graft.ops.Ops.roundDet(pqScore(m), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "nid", "score")
      .orderBy("qid", "rank")
  }

  /** The query side [[ivfPqProbe]] and [[ivfPqRange]] share: ONE row
    * per query carries its [[pqLut]] column (computed before the
    * centroid broadcast), then the nprobe nearest centroids per query
    * (cosine desc, ties to the lower cid) — (qid, cid, lut) rows, so
    * the candidate join hands every posting its query's LUT with no
    * LUT aggregate, shuffle or broadcast join. */
  private def probedWithLut(cents: DataFrame, cb: DataFrame,
                            queries: DataFrame, nprobe: Int, sub: Int,
                            vecCol: String, idCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qvec"),
        graft.functions.GraftFunctions.l2_normalize(
          col(vecCol).cast("array<double>")).as("vn"))
      .join(broadcast(cb))
      .select(col("qid"), col("qvec"),
        lutOf(col("vn"), col("cb"), sub).as("lut"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("cid").asc)
    q.join(broadcast(cents))
      .withColumn("qcos", cosine(col("qvec"), col("cvec")))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= nprobe)
      .select("qid", "cid", "lut")
  }

  /** RANGE (threshold) search over the same IVFADC chain as
    * [[ivfPqProbe]]: every candidate in the probed buckets whose ADC
    * score clears `threshold`, unranked — what a semantic dedup gate
    * consumes (all matches above a similarity bar), where top-k
    * serves retrieval (the best k regardless of bar). No window
    * function: the per-query ROW_NUMBER rank is the one piece of
    * [[ivfPqProbe]] a threshold filter makes unnecessary, so the
    * plan is join→score→filter, fully pipelined, no per-qid sort
    * shuffle. The query side is [[ivfPqProbe]]'s: one row per query,
    * its LUT a projection carried on the probed (qid, cid) rows. Same
    * approximation contract as top-k: candidates outside the nprobe
    * probed buckets are not seen. */
  def ivfPqRange(cents: DataFrame, cb: DataFrame, index: DataFrame,
                 queries: DataFrame, threshold: Double,
                 nprobe: Int = 12, m: Int = 4, dim: Int = 64,
                 vecCol: String = "embedding",
                 idCol: String = "vec_id"): DataFrame =
    probedWithLut(cents, cb, queries, nprobe, dim / m, vecCol, idCol)
      .join(index, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("score", graft.ops.Ops.roundDet(pqScore(m), 4))
      .filter(col("score") >= threshold)
      .select("qid", "nid", "score")
      .orderBy("qid", "nid")
}
