package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables._

/** SURVEY.md §2.8 — dedup + similarity-search operators (the LLM-data
  * north star).
  *
  * Scale design:
  *  - exact dedup: hash-groupBy — shuffles only (hash, doc_id) pairs.
  *  - n-gram Jaccard: shingle-explode + per-shingle pair generation
  *    on one representative per distinct text. This is the exact
  *    ground truth; it is quadratic per shared shingle, so at 100 TB
  *    you run [[q_dedup_minhash]] instead and reserve this for
  *    candidate verification.
  *  - MinHash-LSH: per-doc signature (narrow map), band-explode, and an
  *    equi-join on (band, signature) — no all-pairs stage anywhere, the
  *    100 TB path. Deterministic seeded xxhash64 permutations
  *    (SURVEY.md A.6 — no runtime randomness).
  *  - cosine top-k: brute-force baseline over id1<id2 with norms
  *    precomputed once per vector; the LSH-bucketed variant for scale is
  *    in graft.functions (library surface).
  */
object DedupQueries extends QSet {

  /** Distinct 3-gram shingles per doc: (doc_id, sh). */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(t(s, dir, "documents"))

  /** The shingle array of a text column: its space-split tokens'
    * distinct word 3-grams in first-occurrence order, from the native
    * [[graft.functions.ShingleKernels.trigrams]] kernel. Texts of fewer
    * than three tokens give an empty array, NULL text a NULL one. */
  private def trigramsOf(text: Column): Column =
    graft.functions.ShingleKernels.trigrams(split(text, " "))

  /** Same shingle pipeline over an arbitrary (doc_id, text) frame:
    * (doc_id, sh), one row per distinct shingle of each doc. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(trigramsOf(col("text"))).as("sh"))

  private val MinhashPerms = 32
  private val Bands = 8 // × 4 rows per band

  val queries: Map[String, QFn] = Map(
    "q_dedup_exact" -> ((s, dir) => {
      // keep the lowest doc_id per md5(text): one shuffle on the hash,
      // no self-join (row_number over the hash partition).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"), col("lang"),
          col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("doc_id")
    }),

    "q_dedup_near_ngram" -> ((s, dir) =>
      ngramPairs(s, dir)
        .select("d1", "d2", "inter", "jaccard")
        .orderBy("d1", "d2")),

    // Near-SUBSET duplication: containment |A∩B| / min(|A|,|B|) ≥ 0.9
    // catches a short doc embedded in a longer one — pairs symmetric
    // Jaccard misses because the size imbalance caps it (jaccard ≤
    // min/max). The quote/excerpt/boilerplate-wrapper case corpus
    // dedup has to handle beyond whole-doc near-dups.
    "q_dedup_containment" -> ((s, dir) => containmentPairs(s, dir)),

    // PREFIX FILTERING for containment — the deterministic scale path
    // (zero false negatives by pigeonhole on the smaller side's
    // rare-first prefix); shares the exhaustive containment oracle.
    "q_dedup_containment_prefix" ->
      ((s, dir) => containmentPrefixPairs(s, dir)),

    // Transitive closure of the near-dup pairs: every document maps to
    // the smallest doc_id reachable through jaccard ≥ 0.8 edges (its
    // cluster representative) plus the cluster size — the form corpus
    // dedup actually ships (drop all but one per CLUSTER, not per
    // pair). Oracled via a DuckDB recursive CTE over the same pairs.
    "q_dedup_components" -> ((s, dir) => componentReps(s, dir)),

    // Non-oracle (implementation-defined signatures): property-tested to
    // cover every pair q_dedup_near_ngram finds at jaccard ≥ 0.9.
    "q_dedup_minhash" -> ((s, dir) => minhashCandidates(s, dir)),

    // The LSH pipeline END-TO-END (candidates → exact jaccard verify →
    // final pairs): oracle-compared against the exhaustive ground truth.
    "q_dedup_minhash_jaccard" -> ((s, dir) => minhashVerifiedPairs(s, dir)),

    // PREFIX FILTERING (AllPairs-style): the EXACT scale path for
    // similarity self-joins — candidates only where the two docs'
    // rarest-token prefixes share a token, then exact-jaccard verify.
    // Unlike minhash-LSH this has NO false-negative risk by
    // construction; it shares the exhaustive oracle, so completeness is
    // hash-proven at every graded SF rather than recall-tested.
    "q_dedup_prefix_filter" -> ((s, dir) => prefixFilterPairs(s, dir)),

    // Incremental against-existing dedup (continuous-ingest shape):
    // incoming 10% batch vs the accepted corpus, LSH buckets + exact
    // verify; oracle-compared against the exhaustive cross-set pairs.
    "q_dedup_incremental" -> ((s, dir) => incrementalDedup(s, dir)),

    "q_dedup_simhash" -> ((s, dir) => simhashPairs(s, dir, 3)),

    "q_dedup_embedding" -> ((s, dir) => embeddingDedup(s, dir, 0.40)),

    // The scale companion to q_dedup_embedding, whose all-pairs guard
    // refuses large corpora by design: EXACT cell-pruned threshold
    // dedup, provably the same output (shares the exhaustive DuckDB
    // oracle). See [[embeddingDedupBanded]] for the pruning proof.
    "q_dedup_embedding_banded" -> ((s, dir) =>
      embeddingDedupBanded(s, dir, 0.40)),

    "q_sim_cosine_topk" -> ((s, dir) => cosineTopK(s, dir, 10)),

    // The scale companion to q_sim_cosine_topk (the last guarded
    // all-pairs baseline to get one): EXACT cell-pruned global top-k,
    // same output provably, same exhaustive oracle. See
    // [[cosineTopKBanded]] for the floor + cap pruning proof.
    "q_sim_cosine_topk_banded" -> ((s, dir) =>
      cosineTopKBanded(s, dir, 10)),

    // Non-oracle (random-hyperplane LSH is impl-defined): LibrarySpec
    // measures its recall against the exact brute-force top-k — ≥9/10
    // for this declared multiprobe config, ≥7/10 for the single-probe
    // default. Multiprobe lets HALF the tables beat the single-probe
    // recall: each table also visits all 6 Hamming-1 neighbour buckets,
    // so a near pair split by one hyperplane is still found. Interleaved
    // A/B medians at sf0.1 (AnnBench, 5 rounds round-robin in one
    // session — back-to-back process benches drift 2-3× on this host):
    // 32 tables single-probe 1.07 s, 32×7-probe 1.84 s, 16×7-probe
    // 1.36 s — the declared config buys the recall floor for +0.3 s AND
    // halves signature storage/shuffle vs doubling tables.
    "q_sim_ann_lsh" -> ((s, dir) =>
      graft.functions.Ann.approxCosineTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", 10, tables = 16, probes = 6)),

    // Non-oracle (coarse-quantizer cells are impl-defined): the IVF
    // scale path — candidates only within shared centroid cells, exact
    // re-rank after. LibrarySpec measures recall vs brute force.
    "q_sim_ann_ivf" -> ((s, dir) =>
      graft.functions.Ann.ivfCosineTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", 10)),

    // Non-oracle (LSH candidate set is impl-defined): PER-VECTOR top-k
    // neighbours — the kNN-graph building block (each vector gets its k
    // best candidates ranked by exact cosine). LibrarySpec pins the
    // structure (dense ranks, sorted scores) and score-exactness.
    "q_sim_ann_neighbors" -> ((s, dir) =>
      graft.functions.Ann.approxNeighbors(
        t(s, dir, "embeddings"), "vec_id", "embedding", 5))
  )

  /** Brute-force cosine top-k, declared as a self-join: norms are
    * computed once per vector by the codegen'd native dot product, the
    * id1 < id2 pair space is a nested-loop join Spark executes as
    * broadcast-nested-loop while one side is small and as a distributed
    * cartesian beyond broadcast size (never a driver-side collect
    * either way), and TakeOrdered picks the global top-k — a
    * per-partition top-k merge, never a full sort. Dot products fold
    * elements in array order in double, exactly like the oracle's
    * list_sum fold, and cos rounds HALF_UP to 4dp before ranking (id
    * tiebreaks) so both engines rank identical values. Brute force is
    * inherently O(n²) — at 100 TB use the LSH/IVF variants in
    * [[graft.functions.Ann]] and keep this as the verification path.
    */
  /** Hard ceiling on rows entering a DECLARED all-pairs verification
    * baseline. The two exact-by-construction queries below are O(n²)
    * on purpose — the scale path is the banded candidate generation in
    * [[graft.functions.Ann]] with the same exact re-rank — and this
    * guard turns that documented boundary into an enforced invariant:
    * past the cap the query fails loudly BEFORE the quadratic join
    * ever schedules, instead of melting a cluster. One count job on
    * the skinny (id, vector) frame is the price, paid only by the
    * baselines themselves.
    *
    * 14000 rows ≈ a 10^8-pair budget (n·(n-1)/2): the most quadratic
    * work a single verification query should ever schedule — about a
    * minute of native dot products on one node, and a bounded, explicit
    * cost on a cluster. The previous 100k-row cap allowed 5·10^9 pairs,
    * which is exactly the melt-the-cluster case the guard exists for;
    * the sf1.0 scale rehearsal (SCALE.md) is what exposed that the cap
    * must trip at 20k embeddings (2·10^8 pairs), not wave it through.
    */
  private[graft] val AllPairsMaxRows = 14000L


  private[graft] def guardAllPairs(df: DataFrame, what: String,
      maxRows: Long): DataFrame = {
    val n = df.count()
    if (n > maxRows) throw new IllegalStateException(
      s"$what is an exact all-pairs verification baseline and refuses " +
        s"$n input rows (cap $maxRows): at this scale use the banded " +
        "candidate generation in graft.functions.Ann (LSH/IVF) with the " +
        "same exact re-rank")
    df
  }

  /** Row cap under which a verify-tier frame may carry an explicit
    * broadcast() hint. An unconditional hint on a frame whose
    * cardinality tracks the corpus (per-doc shingle sizes) or the data
    * (candidate pair lists on a boilerplate-heavy corpus) is a driver
    * OOM at 100×; below the cap a hint is a certain win (skips the
    * shuffle AQE's conversion would still write). 1M skinny rows ≈
    * tens of MB as a broadcast hash relation — far under any broadcast
    * limit, far over every graded-SF cardinality.
    */
  private[graft] val BroadcastHintMaxRows = 1000000L

  /** Count-guarded broadcast hint: hint only while `n` (a count the
    * caller already has or pays one cheap job for — every call site
    * counts a persisted or aggregate-output frame, never a raw scan)
    * is under the cap; past it, return the frame unhinted and let AQE
    * pick the join strategy from runtime sizes — semantics identical,
    * the hint is only ever a physical-plan accelerator.
    */
  private[graft] def maybeBroadcast(df: DataFrame, n: Long,
      maxRows: Long = BroadcastHintMaxRows): DataFrame =
    if (n <= maxRows) broadcast(df) else df

  /** Default for the verify-tier candidate-frame hint toggles: a
    * candidate frame that feeds exactly one join needs no persist, no
    * count job and no hint — its own distinct/aggregate exchange
    * already materializes runtime stats AQE broadcasts from when
    * small, and the docArr/posting side reuses its aggregate
    * partitioning when large. Flipped to false in round 10 on
    * interleaved same-JVM A/B medians at sf0.1 (ABBench, 5 rounds):
    * minhash_jaccard 2.46 s unhinted vs 2.84 s hinted, prefix_filter
    * 2.58 vs 2.86, components 2.87 vs 3.53 — the count job and the
    * extra cache materialization were pure overhead. The ONE site
    * where the hint measurably wins — containmentPrefixPairs, whose
    * unpruned candidate set AQE mis-sizes into a sort-merge join
    * (3.63 s unhinted vs 2.84 hinted; a SHUFFLE_HASH replacement
    * also lost the r11 three-way A/B) — keeps its own default=true.
    * The parameter stays so the A/B harness and pins can exercise
    * both shapes.
    */
  private[graft] val HintVerifyCands = false

  /** The exact-verify intersection count. merge=true swaps
    * `size(array_intersect(a, b))` for the codegen'd merge walk
    * (Native.intersectSizeSorted — one O(|a|+|b|) pass, no hash-set
    * build, no intersected-array allocation), equal on
    * LEXICOGRAPHICALLY sorted element-distinct arrays
    * (LibrarySpec-pinned). MEASURED LOSER on the prefix family
    * (ABBench r12, 7 interleaved same-JVM rounds: containment 3.24 s
    * merge vs 2.98 array_intersect, prefix-filter 3.07 vs 2.70 —
    * their fa arrays are (dfq, sh)-ordered, and the in-row
    * lexicographic re-sort the walk's precondition requires costs
    * more than the hash set it saves). On the verify tiers whose
    * arrays are born lexicographic (minhash-verified, incremental,
    * components) the walk measured a TIE once the A/B protocol was
    * corrected for codegen-reuse adjacency (duo warm medians: mv
    * 2.16 vs 2.25, cc 2.41 vs 2.43, inc 1.10 vs 1.10 — Addendum 19),
    * so default = false everywhere per keep-the-incumbent-on-a-tie.
    * The toggle + expression stay for the A/B harness and the pin.
    */
  private[graft] def interSizeCol(a1: Column, a2: Column,
      merge: Boolean): Column =
    if (merge) graft.functions.Native.intersectSizeSorted(a1, a2)
    else size(array_intersect(a1, a2)).cast(LongType)

  def cosineTopK(s: SparkSession, dir: String, k: Int,
      maxRows: Long = AllPairsMaxRows): DataFrame = {
    val vn = guardAllPairs(
      t(s, dir, "embeddings").select(
        col("vec_id"), col("embedding"),
        graft.functions.Native.l2NormF(col("embedding")).as("nrm")),
      "cosineTopK", maxRows)
    vn.select(col("vec_id").as("id1"), col("embedding").as("e1"),
        col("nrm").as("n1"))
      .join(vn.select(col("vec_id").as("id2"), col("embedding").as("e2"),
        col("nrm").as("n2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(graft.functions.Native.dotF(col("e1"), col("e2")) /
          (col("n1") * col("n2")), 4).as("cos"))
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(k)
  }

  /** CACHE LIFECYCLE (the one place this policy lives): the exact-dup
    * frame ([[textGroups]]) and the pair expansion ([[expandRepPairs]])
    * are lazy, and so are [[ngramPairs]] and [[containmentPairs]] end
    * to end: building them runs no Spark job beyond `Tables.t`'s
    * schema read, and every stage runs inside the caller's action,
    * where its metrics show. The prefix-filter, containment-prefix,
    * minhash-verify and incremental queries persist the per-query
    * shingle, docArr and candidate frames that several joins read, for
    * the duration of ONE query execution, and deliberately do NOT
    * unpersist — the returned DataFrame is lazy, so there is no
    * in-query point after the action where the query itself could
    * release them. The harness-side contract is that the caller clears
    * between queries: Bench.scala and Verify.scala call
    * `spark.catalog.clearCache()` after every query action. A
    * long-lived interactive session embedding this library should do
    * the same, or rely on Spark's LRU eviction — every persist here is
    * the default MEMORY_AND_DISK and an optimization only, never a
    * correctness requirement.
    */
  /** Exact-duplicate text groups as ONE lazy aggregate with one row per
    * distinct (non-NULL) text: `rep` (its smallest doc_id, the group's
    * representative), `gn` (its multiplicity), `ids` (every member
    * doc_id, ascending), `arr` (the text's distinct 3-gram shingles,
    * from the native kernel) and `sz` (= size(arr), in-row). Grouping
    * is by the text itself, so it is exact. The ground-truth pair scans
    * below run on representatives only and expand back through `ids`:
    * the production pipeline order (exact dedup BEFORE near-dup
    * detection), and the reason the shingle pair stage's cost tracks
    * DISTINCT texts instead of growing quadratically with duplicate
    * multiplicity (measured at the 10×-duplicated sf1.0: 19.3 s /
    * 33.2 s for jaccard / containment on raw rows vs 2-3 s compressed,
    * identical output). Shingles are computed once per distinct text,
    * after the aggregate; the member array is linear in its group's
    * multiplicity. NULL texts have no shingles and form no group, so
    * they pair with nothing and label no component.
    */
  private[graft] def textGroups(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gn"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("rep"), col("gn"), col("ids"),
        trigramsOf(col("text")).as("arr"))
      .withColumn("sz", size(col("arr")).cast(LongType))

  /** (doc_id, sh) over the representatives of [[textGroups]]. */
  private def repShingles(groups: DataFrame): DataFrame =
    groups.select(col("rep").as("doc_id"), explode(col("arr")).as("sh"))

  /** Expand representative-level pairs `(r1 < r2, inter, metric)` back
    * to ALL doc pairs (d1 < d2). Cross-group pairs carry the rep pair's
    * exact metric to every member combination; within-group pairs
    * (identical texts) have intersection = the group's shingle-set
    * size and metric exactly 1.0 — which passes every ≥-threshold
    * filter, so expansion after the rep-level filter loses nothing.
    * Only multi-member groups have anything to expand, so the member
    * arrays come from ONE left join per pair side against the
    * `gn ≥ 2` rows of `groups` (a singleton's members are just its
    * rep), and the member combinations are two in-row explodes.
    * Identical-text groups enter as rep SELF-pairs and ride the same
    * expansion; `r1 ≠ r2 || da < db` keeps each unordered doc pair
    * exactly once in both cases. Groups whose text yields no shingles
    * (sz = 0) pair with nothing, matching the raw formulation.
    */
  private[graft] def expandRepPairs(repPairs: DataFrame, groups: DataFrame,
      metric: String): DataFrame = {
    val multi = groups.filter(col("gn") >= 2)
    val selfPairs = multi.filter(col("sz") > 0)
      .select(col("rep").as("r1"), col("rep").as("r2"),
        col("sz").as("inter"), lit(1.0).as(metric))
    def members(side: String): DataFrame =
      multi.select(col("rep").as(s"r$side"), col("ids").as(s"m$side"))
    repPairs.unionAll(selfPairs)
      .join(members("1"), Seq("r1"), "left")
      .join(members("2"), Seq("r2"), "left")
      .select(col("r1"), col("r2"), col("inter"), col(metric), col("m2"),
        explode(coalesce(col("m1"), array(col("r1")))).as("da"))
      .select(col("r1"), col("r2"), col("inter"), col(metric), col("da"),
        explode(coalesce(col("m2"), array(col("r2")))).as("db"))
      .filter(col("r1") =!= col("r2") || col("da") < col("db"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        col("inter"), col(metric))
  }

  /** Representative pairs sharing at least one shingle, with sizes
    * `den·min(sz) ≥ num·max(sz)`: (r1 < r2, sz1, sz2, inter), `inter`
    * the number of shingles they share. Each representative's shingles
    * explode with its in-row size; ONE shuffle on the shingle
    * (xxhash64(sh) leads the key so the shuffle hashes and the
    * aggregate compares a fixed-width long first; the string stays in
    * the key, so the pair set is EXACT) collects each shingle's
    * (doc_id, sz) members; the native
    * [[graft.functions.ShingleKernels.boundedPairs]] generator streams
    * the member pairs within the bound, normalized r1 < r2; and a
    * group-by on the pair counts the intersection. The generator holds
    * only the f member ids and sizes of a shingle of document
    * frequency f, so a boilerplate gram shared corpus-wide never
    * materializes its f² pairs in one row.
    */
  private def sharedShinglePairs(groups: DataFrame, num: Int,
      den: Int): DataFrame =
    groups
      .select(col("rep"), col("sz"), explode(col("arr")).as("sh"))
      .groupBy(xxhash64(col("sh")).as("hb"), col("sh"))
      .agg(collect_list(struct(col("rep").as("doc_id"), col("sz")))
        .as("ds"))
      .select(graft.functions.ShingleKernels.boundedPairs(col("ds"), num,
        den))
      .groupBy("r1", "r2", "sz1", "sz2").agg(count(lit(1)).as("inter"))

  /** Exact 3-gram Jaccard ≥ 0.8 near-dup pairs (d1 < d2): the ground
    * truth the approximate operators are measured against. One lazy
    * plan over [[textGroups]]: [[sharedShinglePairs]] under the Jaccard
    * length bound (jaccard ≤ min(sz)/max(sz), so ≥ 0.8 needs
    * 5·min ≥ 4·max), the exact Jaccard filter, then
    * [[expandRepPairs]]. No frame is persisted and nothing is counted
    * to size a join: AQE chooses the joins from runtime sizes. This
    * query is the exhaustive verification baseline — the scale paths
    * are the banded/prefix-filtered candidates.
    */
  def ngramPairs(s: SparkSession, dir: String): DataFrame = {
    val groups = textGroups(s, dir)
    val repPairs = sharedShinglePairs(groups, 4, 5)
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select("r1", "r2", "inter", "jaccard")
    expandRepPairs(repPairs, groups, "jaccard")
  }

  /** Exact 3-gram jaccard ≥ 0.8 pairs via PREFIX FILTERING — the
    * published exact set-similarity-join family (Bayardo et al.
    * "Scaling Up All Pairs", WWW'07; Xiao et al. PPJoin): order each
    * doc's shingles by GLOBAL document frequency (rarest first, ties by
    * the string) and keep only the first |x| − ⌈t·|x|⌉ + 1 as its
    * "prefix". Soundness of the candidate filter: jaccard(x,y) ≥ t ⟹
    * |x∩y| ≥ t·max(|x|,|y|) (from α(1+t) ≥ t(|x|+|y|) with α ≤
    * min(|x|,|y|)), and a set sharing that many tokens with x cannot
    * avoid x's prefix — so every qualifying pair collides on at least
    * one PREFIX token and the equi-join on prefix tokens finds it.
    * Rare-first ordering makes prefixes maximally selective (the
    * frequent grams every doc shares never generate candidates).
    *
    * Scale shape vs the exhaustive ground truth: the self-join touches
    * only prefix tokens (≈ |x|/5 of the explode at t = 0.8) and the
    * per-token blowup is that token's PREFIX frequency, not corpus
    * frequency — the worst shared-by-everyone gram contributes zero.
    * Measured at sf0.1: candidate pairs 401,019 → 43,537 (9.2×) and
    * join-output rows 467k → 46k (10.1×) vs the exhaustive self-join.
    * The quadratic term shrinks 9×; what it buys that back with is two
    * LINEAR passes (the dfreq aggregate + per-doc rank window), so
    * fixture wall-clock is 2.7 s vs the baseline's 2.1 s — the
    * crossover is where the join term dominates, i.e. everywhere at
    * corpus scale. The jaccard size-ratio bound prunes inside the join
    * condition like [[ngramPairs]]; the exact-intersection verify then
    * runs on candidates only. Same oracle as the ground truth —
    * exactness is the graded contract, not a recall target.
    */
  def prefixFilterPairs(s: SparkSession, dir: String,
      hintCands: Boolean = HintVerifyCands,
      mergeIntersect: Boolean = false,
      hashOnlyCands: Boolean = true): DataFrame = {
    val groups = textGroups(s, dir)
    val sh = repShingles(groups).persist()
    // global document frequency = the canonical rare-first token order;
    // vocab-bounded, joined back by shingle (keyed shuffle — the vocab
    // of a 100 TB corpus outgrows a broadcast)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("dfq"))
    // ONE hash aggregate serves BOTH stages: collect each doc's
    // (dfq, sh) structs once; sort_array orders them (dfq, sh)
    // ascending — exactly the old rank window's order. The rare-first
    // prefix (length |x| − ⌈0.8·|x|⌉ + 1; ⌈4·sz/5⌉ = (4·sz + 4) div 5)
    // is an in-row slice of that array, and the verify stage's full
    // token array is an in-row transform of the same array — so the
    // per-doc row_number window (a full shuffle + sort of the ranked
    // token stream) AND the separate verify-side docArr aggregate
    // (a second full shuffle of the shingle stream) both collapse into
    // this one groupBy. sz = size(fa) in-row (each representative's
    // shingles are distinct), so the sizes broadcast join
    // disappears too. Persisted: the candidate self-join reads the
    // exploded prefix twice and the verify join reads the full arrays
    // twice.
    // arr order: fa is (dfq, sh)-sorted for the prefix slice; the
    // merge-walk intersect needs LEXICOGRAPHIC arrays (array_intersect
    // is order-insensitive, the walk is not — a dfq-ordered walk
    // miscounts), so the merge package re-sorts in-row. Set-equal
    // either way: output unchanged.
    val docArr = sh.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("dfq"), col("sh"))))
        .as("fa"))
      .select(col("doc_id"),
        (if (mergeIntersect) expr("sort_array(transform(fa, x -> x.sh))")
         else expr("transform(fa, x -> x.sh)")).as("arr"),
        expr("slice(fa, 1, size(fa) - (4 * size(fa) + 4) div 5 + 1)")
          .as("pa"))
      .persist()
    // hashOnlyCands (ADOPTED default, r14): join on the 8-byte gram
    // hash only and drop the gram string from the exploded prefix — a
    // collision SUPERSET the exact verify kills, output unchanged
    // (R14TogglesSpec), narrower candidate exchange (guide §2.3). Duo
    // B slots: sf0.1 tie across two windows (-8%/+5%), sf1.0 -9%;
    // adopted like containmentPrefixPairs.
    val prefix = docArr
      .select(col("doc_id"), size(col("arr")).cast(LongType).as("sz"),
        explode(col("pa")).as("p"))
      .select(Seq(col("doc_id"), xxhash64(col("p.sh")).as("hb"),
        col("sz")) ++
        (if (hashOnlyCands) Nil else Seq(col("p.sh").as("sh"))): _*)
    // candidate pairs: prefix-prefix equi-join (hash-led key like
    // ngramPairs), jaccard length bound inside the join condition; the
    // distinct carries ids only — the verify stage re-derives sizes
    // from its arrays
    val candKey =
      if (hashOnlyCands) col("hb") === col("hb2")
      else col("hb") === col("hb2") && col("sh") === col("sh2")
    val cands = prefix.select(Seq(col("doc_id").as("r1"), col("hb"),
        col("sz").as("sz1")) ++
        (if (hashOnlyCands) Nil else Seq(col("sh"))): _*)
      .join(prefix.select(Seq(col("doc_id").as("r2"),
        col("hb").as("hb2"), col("sz").as("sz2")) ++
        (if (hashOnlyCands) Nil else Seq(col("sh").as("sh2"))): _*),
        candKey && col("r1") < col("r2") &&
          col("sz1") * 5 >= col("sz2") * 4 &&
          col("sz2") * 5 >= col("sz1") * 4)
      .select("r1", "r2").distinct()
    // exact verify on candidates only — per-doc array intersect (the
    // shape the minhash-verified pipeline A/B'd at 3.03 s vs 3.60 s
    // against the double candidate-into-shingle-stream join this query
    // used before), reading the SAME persisted arrays the prefixes
    // came from; candidate frame feeds one join → no persist/count/
    // hint, AQE broadcasts from the distinct's runtime stats (see
    // HintVerifyCands)
    val candsH = if (hintCands) {
      val c = cands.persist()
      maybeBroadcast(c, c.count())
    } else cands
    val repPairs = candsH
      .join(docArr.select(col("doc_id").as("r1"), col("arr").as("a1")),
        "r1")
      .join(docArr.select(col("doc_id").as("r2"), col("arr").as("a2")),
        "r2")
      .withColumn("inter",
        interSizeCol(col("a1"), col("a2"), mergeIntersect))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a1")) + size(col("a2")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select("r1", "r2", "inter", "jaccard")
    expandRepPairs(repPairs, groups, "jaccard")
      .select("d1", "d2", "inter", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Exact 3-gram containment ≥ 0.9 pairs (d1 < d2): the same lazy plan
    * as [[ngramPairs]] minus the Jaccard size-ratio prune — containment
    * has no size bound (a tiny doc inside a huge one is exactly the
    * positive case), so [[sharedShinglePairs]] runs with bound (0, 1)
    * and every gram-sharing pair is a candidate. No persist, no count,
    * no hint. At 100 TB the banded analogue signs ONLY the smaller
    * set's minhash per pair-direction (containment LSH); this exact
    * form is the verification tier, and stays bounded by the
    * shared-gram pair count like the Jaccard ground truth.
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val groups = textGroups(s, dir)
    val repPairs = sharedShinglePairs(groups, 0, 1)
      .withColumn("containment",
        col("inter").cast(DoubleType) / least(col("sz1"), col("sz2")))
      .filter(col("containment") >= 0.9)
      .select("r1", "r2", "inter", "containment")
    expandRepPairs(repPairs, groups, "containment")
      .select(col("d1"), col("d2"), col("inter"), col("containment"))
      .orderBy("d1", "d2")
  }

  /** Containment ≥ 0.9 pairs via PREFIX FILTERING — the deterministic
    * scale path for [[containmentPairs]] (the q_dedup_prefix_filter
    * recipe adapted to the asymmetric metric). Soundness (zero false
    * negatives, by pigeonhole): for a qualifying pair let S be the
    * smaller shingle set — |A∩B| ≥ ⌈0.9·|S|⌉, so the partner cannot
    * avoid all p = |S| − ⌈0.9·|S|⌉ + 1 of S's rare-first prefix tokens
    * (missing all p caps the intersection at ⌈0.9|S|⌉ − 1). Candidates
    * are therefore prefix(X) ⋈ FULL token set of Y restricted to
    * |X| ≤ |Y| — the guaranteed direction — normalized and deduped;
    * the exact docArr intersect verifies. Unlike Jaccard prefixes
    * there is no size-ratio prune (a tiny doc inside a huge one IS the
    * positive case), but only the ~|x|/10 rarest grams of each doc
    * probe the posting lists, so the worst shared-by-everyone gram
    * contributes candidates only for docs where it is among the
    * rarest — the quadratic term the exhaustive baseline pays in full.
    * Exactness is the graded contract: shares q_dedup_containment's
    * exhaustive oracle.
    */
  def containmentPrefixPairs(s: SparkSession, dir: String,
      hintCands: Boolean = true,
      mergeIntersect: Boolean = false,
      hashOnlyCands: Boolean = true): DataFrame = {
    val groups = textGroups(s, dir)
    val sh = repShingles(groups).persist()
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("dfq"))
    // ONE per-doc aggregate serves every stage (same collapse as
    // prefixFilterPairs): the sorted (dfq, sh) array yields the
    // rare-first prefix (length |x| − ⌈0.9·|x|⌉ + 1; ⌈9·sz/10⌉ =
    // (9·sz + 9) div 10) as an in-row slice, the posting-list ("full
    // token set") side of the candidate join as an in-row transform +
    // explode, and the verify arrays — the r8 shape paid a rank window
    // plus a second docArr aggregate plus two sizes broadcast joins for
    // the same consumers
    // arr order: see prefixFilterPairs — lexicographic on the merge
    // package (the walk's precondition), dfq-projected otherwise;
    // set-equal either way.
    val docArr = sh.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("dfq"), col("sh"))))
        .as("fa"))
      .select(col("doc_id"),
        (if (mergeIntersect) expr("sort_array(transform(fa, x -> x.sh))")
         else expr("transform(fa, x -> x.sh)")).as("arr"),
        expr("slice(fa, 1, size(fa) - (9 * size(fa) + 9) div 10 + 1)")
          .as("pa"))
      .persist()
    // hashOnlyCands (ADOPTED default, r14): the candidate join
    // compares ONLY the 8-byte xxhash64 of the gram and drops the gram
    // string from both exploded sides — candidates are a
    // (hash-collision) SUPERSET and the exact verify below kills every
    // false candidate, so the output is unchanged
    // (R14TogglesSpec pins both shapes row-identical) while the
    // candidate exchange narrows by the string column (guide §2.3,
    // shuffle fewer bytes — the string is most of the exploded row's
    // bytes and the quadratic term's width at corpus scale). Duo B
    // slots: sf0.1 tie across two windows (+4%/-7%), sf1.0 -3% with
    // the cold A slots -35%; adopted on the sf1.0 direction plus the
    // structural bytes argument, incumbent one flag away.
    val prefix = docArr
      .select(col("doc_id").as("dp"),
        size(col("arr")).cast(LongType).as("szp"),
        explode(col("pa")).as("p"))
      .select(Seq(col("dp"), xxhash64(col("p.sh")).as("hb"), col("szp"))
        ++ (if (hashOnlyCands) Nil else Seq(col("p.sh").as("sh"))): _*)
    val full = docArr
      .select(col("doc_id").as("dq"), size(col("arr")).cast(LongType)
        .as("szq"), explode(col("arr")).as("sh2"))
      .select(Seq(col("dq"), xxhash64(col("sh2")).as("hb2"), col("szq"))
        ++ (if (hashOnlyCands) Nil else Seq(col("sh2"))): _*)
    val candKey =
      if (hashOnlyCands) col("hb") === col("hb2")
      else col("hb") === col("hb2") && col("sh") === col("sh2")
    val cands = prefix.join(full,
        candKey && col("dp") =!= col("dq") && col("szp") <= col("szq"))
      .select(least(col("dp"), col("dq")).as("r1"),
        greatest(col("dp"), col("dq")).as("r2"))
      .distinct()
    // Verify-join strategy, measured THREE ways (ABBench r11, same-JVM
    // interleaved medians) - the r10 count-guarded broadcast hint
    // SURVIVES both challengers and stays:
    //  (a) a PPJoin-style POSITIONAL prune (overlap <= 1 +
    //      min(|S|-i, |Y|-j) at each matched position, max over
    //      matches) - REJECTED: near-subset pairs here collide on
    //      their rarest grams at EARLY positions, so it pruned
    //      69,095 -> 67,160 candidates (3%) while the positional
    //      columns widened the candidate join (4.26 s vs 3.24
    //      hinted);
    //  (b) an ungated SHUFFLE_HASH hint (no count job, no driver-side
    //      build) - tied in one 2x host window (7.66 vs 7.71) but
    //      LOST the cleaner one (5.55 vs 4.45): broadcasting the
    //      pair-id list keeps the wide docArr sides as bare scans,
    //      while SHJ exchanges them twice - shuffling the array rows
    //      costs more than the count job the guard needs.
    // The count job is the price of the measured-best plan; it also
    // materializes the candidate cache the verify join reuses, and
    // the guard keeps it scale-safe (past the row cap the hint
    // vanishes and AQE decides from runtime sizes).
    val candsH = if (hintCands) {
      val c = cands.persist()
      maybeBroadcast(c, c.count())
    } else cands
    val repPairs = candsH
      .join(docArr.select(col("doc_id").as("r1"), col("arr").as("a1")),
        "r1")
      .join(docArr.select(col("doc_id").as("r2"), col("arr").as("a2")),
        "r2")
      .withColumn("inter",
        interSizeCol(col("a1"), col("a2"), mergeIntersect))
      .withColumn("containment", col("inter").cast(DoubleType) /
        least(size(col("a1")), size(col("a2"))))
      .filter(col("containment") >= 0.9)
      .select("r1", "r2", "inter", "containment")
    expandRepPairs(repPairs, groups, "containment")
      .select(col("d1"), col("d2"), col("inter"), col("containment"))
      .orderBy("d1", "d2")
  }

  /** Connected-components clustering over the near-dup pair graph:
    * iterative min-label propagation — each round every node takes the
    * minimum of its own label and its neighbours' labels — until the
    * label sum reaches a fixpoint (labels only decrease, so the sum is
    * a strictly decreasing convergence witness). Per round this is one
    * hash join + one aggregate, the standard large-graph CC shape;
    * rounds ≈ cluster diameter (single digits for dedup graphs).
    * Tables.cutLineage truncates the growing lineage each round
    * (localCheckpoint in-image; set `spark.graft.checkpointDir` for a
    * reliable filesystem checkpoint on a real cluster, where
    * localCheckpoint is lossy under executor failure). The driver
    * reads ONE scalar per round — no row data ever collects.
    */
  def componentReps(s: SparkSession, dir: String,
      hintCands: Boolean = HintVerifyCands,
      countSizedParts: Boolean = false,
      mergeVerify: Boolean = false): DataFrame = {
    import org.apache.spark.HashPartitioner
    // the RDD cache below is the only materialization the loop needs —
    // a DF-level persist on top of it would build a second (columnar)
    // copy of the pair list for nothing
    //
    // Edge source: the LSH-verified pipeline, NOT the exhaustive
    // self-join — the pair SETS are identical (shared oracle at the
    // graded SFs; set-exact 250,600-pair comparison at sf1.0,
    // SCALING.md) but the banded path stays near-linear where the
    // exhaustive baseline grows quadratically with duplicate density
    // (measured at sf1.0: 10.2 s exhaustive vs 6.3 s banded on a
    // 10×-duplicated corpus; the gap widens with scale).
    // The iteration runs on the REPRESENTATIVE graph (one vertex per
    // distinct text): the doc-level cluster of any document is its
    // group rep's cluster, and since each rep IS its group's min
    // doc_id, min-rep-reachable equals min-doc-reachable — so labels
    // expand through the membership afterwards instead of iterating
    // over duplicate-inflated edges (the expansion pairs would multiply
    // edge volume by multiplicity² for zero extra information).
    val (repPairs, groups) =
      verifiedRepContext(s, dir, hintCands, mergeVerify)
    val pairs = repPairs.select(col("r1").as("d1"), col("r2").as("d2"))
    // Iterate ONLY over edge-endpoint vertices: isolated documents are
    // their own singleton cluster by definition and re-labelling them
    // every round would make each iteration corpus-sized instead of
    // dup-graph-sized (the dup graph is orders of magnitude smaller at
    // any scale where dedup is worth running).
    //
    // The iteration itself runs as RDD ops — the one place this engine
    // drops below the DataFrame API, and the textbook case for it: a
    // DataFrame loop re-plans and re-codegens a fresh join+agg EVERY
    // round (~0.5 s/round measured at sf0.1, 3+ s total on a 256-edge
    // graph), while the RDD join/reduceByKey pair reuses a fixed
    // co-partitioning with zero per-round planning. Edges are
    // hash-partitioned once and cached; each round is a neighbor-min
    // hop (the co-partitioned join emits (dst, label) straight into
    // reduceByKey(min) on the same partitioner) followed by a pointer
    // jump label(v) ← label(label(v)) — the jump collapses chains
    // exponentially, so rounds track log(diameter) instead of diameter
    // (GraphX/connected-components-in-MapReduce-style two-hop
    // acceleration), and its shuffle is vertex-sized where the
    // neighbor-min is edge-sized. The driver sees one label-sum scalar
    // per round (labels only decrease, so an unchanged sum — neither
    // hop moved any label — is the fixpoint witness), never rows.
    // Self-loops (v, v) fold "keep your own label" into the same join.
    val pairRdd = pairs.rdd
      .map(r => (r.getLong(0), r.getLong(1))).cache()
    // Partitioner width (countSizedParts=false, the default since
    // r11): AQE's OWN runtime sizing, read for free. Materializing
    // `pairs.rdd` finalizes the adaptive plan (intermediate stages
    // execute either way — the loop's first action pays them under
    // both shapes), after which getNumPartitions is the COALESCED
    // result-stage width: 1 on a fixture-sized dup graph (the width
    // the r10 count-sizing computed with a dedicated pairRdd.count()
    // job), growing with edge volume at AQE's target partition size
    // on a real corpus — the same data-adaptive signal, no job.
    // A flat defaultParallelism default was tried first and LOST the
    // A/B (ABBench r11, same-JVM interleaved medians at sf0.1:
    // 5.16 s vs 4.10 counted — ~6 rounds × 3 shuffles of 32
    // near-empty tasks cost more than the count job they avoided).
    // The toggle keeps the counted shape for the A/B harness.
    // Defensive clamp on the AQE-read width: with partition coalescing
    // disabled (or a large spark.sql.shuffle.partitions) the
    // result-stage width is the raw shuffle width (e.g. 200), and
    // feeding that to the HashPartitioner recreates exactly the
    // many-near-empty-task regime the flat-width A/B rejected. 4×
    // defaultParallelism keeps every core busy on a genuinely large
    // dup graph while bounding the per-round task count.
    val nParts =
      if (countSizedParts)
        math.max(1, math.min(s.sparkContext.defaultParallelism,
          (pairRdd.count() / 100000L).toInt + 1))
      else math.max(1, math.min(pairRdd.getNumPartitions,
        4 * s.sparkContext.defaultParallelism))
    val part = new HashPartitioner(nParts)
    // initial labels fold round 1's neighbor-min in for free: label(v)
    // starts at min(v, neighbors(v)) from one reduceByKey — one round
    // (join + two shuffles + fold) cheaper than initializing
    // label(v) = v and paying the first neighbor-min as a full loop
    // iteration. Its output is also vertex-DISTINCT by construction,
    // so the self-loop side of the edge frame reads the label keys
    // instead of paying the former separate distinct() shuffle.
    var labels = pairRdd
      .flatMap { case (a, b) =>
        val m = math.min(a, b); Iterator((a, m), (b, m)) }
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      .cache()
    val edgesR = pairRdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .union(labels.map { case (v, _) => (v, v) })
      .partitionBy(part).cache()
    var prevSum = labels.values.fold(0L)(_ + _)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 32) {
      val mins = edgesR.join(labels)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      // pointer jump: every label value is itself a vertex of the same
      // component (labels start as vertex ids and min() only selects
      // among them), so label(label(v)) exists, stays in-component, and
      // is ≤ label(v) by the label(x) ≤ x invariant — chase it one hop
      val next = mins.map { case (v, l) => (l, v) }
        .join(mins)
        .map { case (_, (v, l2)) => (v, l2) }
        .partitionBy(part)
        .cache()
      val s2 = next.values.fold(0L)(_ + _)
      labels.unpersist(blocking = false)
      labels = next
      converged = s2 == prevSum
      prevSum = s2
      rounds += 1
    }
    // cutLineage (localCheckpoint in-image; a reliable checkpoint dir
    // via spark.graft.checkpointDir on a cluster) cuts the lineage
    // back to the RDD caches so they can be freed here —
    // catalog.clearCache() (what Bench/Verify call between queries)
    // never sees raw RDD persists
    val labelDf = cutLineage(
      s.createDataFrame(labels).toDF("doc_id", "label"))
    labels.unpersist(blocking = false)
    edgesR.unpersist(blocking = false)
    pairRdd.unpersist(blocking = false)
    // Expand rep labels to every document through the exact-dup
    // member arrays; groups whose rep touched no edge (including gn ≥ 2
    // identical-text cliques) default to their own rep — which is the
    // group's min doc_id, exactly the label the doc-level iteration
    // would have produced.
    val all = groups.select(col("rep"), explode(col("ids")).as("doc_id"))
      .join(labelDf.withColumnRenamed("doc_id", "rep"), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep")).as("rep_id"))
    val sizes = all.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, "rep_id")
      .select("doc_id", "rep_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** MinHash-LSH candidate pairs (d1 < d2, distinct). Signature h_i =
    * min over shingles of xxhash64(shingle || '#' || i); `bands` bands of
    * MinhashPerms/bands minhashes hash to one bucket key; docs sharing any
    * (band, key) bucket become candidates via equi-join — never an
    * all-pairs scan. More bands (shorter rows) = higher recall, more
    * false candidates: 8×4 is the standalone candidate query; 16×2 is
    * the verified-pipeline config (miss prob < 1e-7 at jaccard 0.8).
    */
  /** (doc_id, band, key) LSH bucket assignments — the shared candidate
    * substrate for in-corpus pairs ([[minhashCandidates]]) and
    * incremental against-existing dedup ([[incrementalDedup]]).
    */
  private[graft] def minhashBuckets(sh: DataFrame, bands: Int): DataFrame = {
    val rows = MinhashPerms / bands
    require(bands * rows == MinhashPerms, s"bands $bands must divide 32")
    // hash each shingle STRING once, then derive the 32 permutation
    // hashes by chaining xxhash64 over (base, seed) — fixed-width long
    // mixing instead of 32 string hashes per row (the string pass was
    // the minhash hot spot: ~32M variable-length hashes at sf0.1).
    // Min-aggregates fold map-side, so the shuffle carries one 32-long
    // row per (doc, partition). Callers pass the UNPERSISTED shingle
    // frame: feeding this from a persisted string-shingle cache was
    // measured ~1.5x SLOWER (same-session A/B at sf0.1) than letting
    // codegen fuse tokenize→shingle→hash with the scan and prune the
    // strings before the aggregate.
    val hashed = sh
      .select(col("doc_id"), xxhash64(col("sh")).as("hb"))
      .select(col("doc_id") +: (0 until MinhashPerms).map(i =>
        xxhash64(col("hb"), lit(i)).as(s"x$i")): _*)
    val sig = hashed.groupBy("doc_id").agg(
      min(col("x0")).as("h0"),
      (1 until MinhashPerms).map(i => min(col(s"x$i")).as(s"h$i")): _*)
    val bandCols: Seq[Column] = (0 until bands).map { band =>
      struct(lit(band).as("band"),
        xxhash64((rows * band until rows * band + rows)
          .map(i => col(s"h$i")): _*).as("key"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** LSH candidate pairs over the whole corpus (the declared
    * q_dedup_minhash), computed on ONE doc per distinct text and
    * expanded through the exact-dup membership. Output is IDENTICAL to
    * raw-row banding: identical texts carry identical signatures, so
    * every within-group pair of a shingled group is a raw candidate by
    * construction (all bands collide), and a rep-level band collision
    * holds for every member combination. The bucket join then grows
    * with DISTINCT texts instead of duplicate multiplicity² — raw-row
    * banding measured 96 s at the 100×-duplicated sf10 (161× the
    * sf0.1 time: the one superlinear query in the rehearsal) vs 9.4 s
    * compressed (16× for 100× data); the fixture-scale cost is the
    * usual ~1.2 s of expansion stages (sf0.1: 0.6 s raw → 1.8 s) —
    * the Addendum-5 trade applied to the candidate generator itself.
    */
  def minhashCandidates(s: SparkSession, dir: String,
      bands: Int = Bands): DataFrame = {
    val groups = textGroups(s, dir)
    val repPairs = bucketPairs(minhashBuckets(repShingles(groups), bands))
      .select(col("d1").as("r1"), col("d2").as("r2"),
        lit(0L).as("inter"), lit(1.0).as("m"))
    expandRepPairs(repPairs, groups, "m")
      .select("d1", "d2").orderBy("d1", "d2")
  }

  /** The raw-row banding twin, kept ONLY as the equality oracle for
    * [[minhashCandidates]]'s compression (LibrarySpec pins set
    * equality) — never declared: it grows multiplicity²-quadratic on
    * duplicated corpora. */
  private[graft] def minhashCandidatesRaw(s: SparkSession, dir: String,
      bands: Int = Bands): DataFrame =
    bucketPairs(minhashBuckets(shingles(s, dir), bands))

  // NO trailing sort: every consumer either re-sorts after expansion
  // (minhashCandidates), broadcasts the pair list into the verify stage
  // (verifiedRepContext), or compares as a set (the raw-banding twin) —
  // a global orderBy here was a wasted range exchange + sort on every
  // LSH pipeline
  private[graft] def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.select(col("doc_id").as("d1"), col("band"), col("key"))
      .join(buckets.select(col("doc_id").as("d2"), col("band").as("band2"),
        col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("d1") < col("d2"))
      .select("d1", "d2").distinct()

  /** Exact 3-gram Jaccard over an (a, b) candidate id-pair list: shared
    * verify stage of the LSH pipelines. The pair list is tiny by
    * construction (near-dups are rare — that is why dedup pays off), so
    * it broadcasts onto the per-doc shingle arrays. One grouped pass
    * folds each doc's (distinct) shingles into a sorted array; the
    * intersection is an in-row array_intersect over the two candidates'
    * arrays — STRING arrays, so exactness is by equality, never by
    * hash. The former shape joined the candidate list back into the
    * exploded shingle stream twice, which shuffled the full shingle
    * frame by (doc, sh) for the second equi-join; the array frame is
    * doc-count-sized (one row per doc, array bounded by doc length) and
    * replaces both shuffles (interleaved A/B at sf0.1 on the verified
    * minhash pipeline: 3.03 s vs 3.60 s medians). sz = size of the
    * collected array (shinglesOf emits distinct shingles per doc), so
    * the separate sizes aggregate and its two joins fold away too.
    * Pairs with empty intersection surface as jaccard 0 here (the old
    * count join dropped them); both fall to the ≥ 0.8 filter — output
    * identical, DuckDB-oracle-proven at sf0.001/0.01/0.1.
    */
  private[graft] def verifyJaccard(sh: DataFrame, cand: DataFrame,
      a: String, b: String, hintCands: Boolean = HintVerifyCands,
      mergeIntersect: Boolean = false)
      : DataFrame = {
    val docArr = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("arr"))
    // The candidate frame feeds EXACTLY ONE join, so the r9
    // persist + count + count-guarded hint bought nothing AQE does
    // not already do: the distinct's exchange materializes the frame,
    // AQE reads its runtime size and broadcasts it when small —
    // identical physical join, one fewer job per dedup query (the
    // docArr side reuses its groupBy(doc_id) partitioning either
    // way, so no corpus-sized exchange appears in the unhinted plan;
    // interleaved A/B medians in SCALING.md round-10 notes). The
    // toggle keeps the old shape callable for the A/B harness and
    // gate-flip pins. No trailing sort: every caller either feeds
    // expandRepPairs (whose joins discard order) or sorts its own
    // final output.
    val c0 = if (hintCands) {
      val c = cand.persist()
      maybeBroadcast(c, c.count())
    } else cand
    c0
      .join(docArr.select(col("doc_id").as(a), col("arr").as("a1")), Seq(a))
      .join(docArr.select(col("doc_id").as(b), col("arr").as("a2")), Seq(b))
      // these arrays ARE lexicographic (sort_array over the shingle
      // strings), so the merge walk needs no re-sort here — toggle
      // kept for the A/B harness (prefix-family result: see
      // interSizeCol)
      .withColumn("inter",
        interSizeCol(col("a1"), col("a2"), mergeIntersect))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a1")) + size(col("a2")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col(a), col(b), col("inter"), col("jaccard"))
  }

  /** The persisted text-LSH index of an accepted corpus — the
    * artifact [[incrementalDedup]] serves against, the text twin of
    * [[CellIndex]]:
    *  - `buckets` (band, key, doc_id): the 16-band MinHash bucket
    *    assignments candidate generation equi-joins against.
    *  - `arrs` (doc_id, arr): each doc's SORTED distinct-shingle
    *    array, the exact-Jaccard verify side (string arrays — the
    *    verifyJaccard docArr shape, so verification is by string
    *    equality, never by hash).
    * Both frames are per-doc computations, so the artifact ONLY EVER
    * APPENDS as documents are accepted ([[appendLshIndex]] is a
    * parquet append — no rebuild, no rewrite of existing rows), and
    * an index assembled by any sequence of appends equals the
    * from-scratch build on the union corpus row-for-row.
    */
  private[graft] final case class LshIndex(buckets: DataFrame,
      arrs: DataFrame)

  /** Build the LSH index frames from a (doc_id, text) corpus: one
    * fused tokenize→shingle→hash pass for the signatures (the
    * minhashBuckets posture — feeding it a persisted string-shingle
    * cache was measured slower than letting codegen fuse and prune),
    * one grouped pass for the verify arrays.
    */
  private[graft] def buildLshIndex(docs: DataFrame): LshIndex =
    LshIndex(
      minhashBuckets(shinglesOf(docs), bands = 16),
      shinglesOf(docs).groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("arr")))

  /** Persist the index as a parquet artifact (build-once shape).
    * writeLshIndex DEFINES the full artifact at `path`: any
    * tombstone table left by a previous occupant is dropped, because
    * a stale tombstones.parquet would make [[loadLshIndex]] silently
    * anti-join freshly written doc_ids away (a missed-duplicate risk
    * with no error surface). Compaction gets its
    * tombstones-are-dropped semantics from this same drop.
    *
    * Crash posture (ADVICE r12): the whole artifact stages into a
    * sibling `.<name>.staging` dir, then swaps in (delete old,
    * rename). The pre-r13 order — delete tombstones, THEN overwrite
    * the frames — had a window where a crash left the OLD artifact
    * intact but tombstone-free: taken-down doc_ids silently
    * resurfacing on the next load, a takedown regression with no
    * error surface. Now a crash before the swap leaves the old
    * artifact (tombstones included) untouched; a crash between
    * delete and rename leaves NO artifact — a loud load failure,
    * recoverable from the staging dir, never silent. Staging also
    * makes SAME-PATH compaction safe: the source parquet is read in
    * full while writing the stage, before the destination delete
    * ([[maintainLshIndex]] relies on this).
    */
  private[graft] def writeLshIndex(idx: LshIndex, path: String): Unit = {
    val s = idx.buckets.sparkSession
    val dst0 = new org.apache.hadoop.fs.Path(path)
    val fs = dst0.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dst = fs.makeQualified(dst0)
    val stage = new org.apache.hadoop.fs.Path(dst.getParent,
      s".${dst.getName}.staging")
    if (fs.exists(stage)) fs.delete(stage, true)
    idx.buckets.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(stage, "buckets.parquet")
        .toString)
    idx.arrs.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(stage, "arrs.parquet")
        .toString)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(stage, dst))
      throw new java.io.IOException(
        s"writeLshIndex: swap rename $stage -> $dst failed; the " +
          "staged artifact is intact at the staging path")
  }

  /** Append newly-accepted documents to a persisted artifact: both
    * index frames are per-doc, so this is a pure parquet APPEND —
    * existing rows are never rewritten, and the artifact after any
    * append sequence equals a from-scratch [[writeLshIndex]] of the
    * union corpus (IndexLifecycleSpec pins the served output). The
    * caller owns dedup of re-submitted doc_ids (append twice and the
    * doc banding/verification rows double).
    */
  private[graft] def appendLshIndex(path: String, docs: DataFrame): Unit = {
    val idx = buildLshIndex(docs)
    idx.buckets.write.mode("append").parquet(s"$path/buckets.parquet")
    idx.arrs.write.mode("append").parquet(s"$path/arrs.parquet")
  }

  /** Remove documents from a persisted artifact — the takedown path
    * (a training corpus must honor deletion requests). The artifact
    * stays append-only: removal writes doc_ids to a TOMBSTONE table;
    * [[loadLshIndex]] anti-joins both index frames against it, so a
    * tombstoned doc can never again surface as a dedup partner.
    * Tombstones are permanent for that doc_id (re-admission under the
    * same id requires [[compactLshIndex]] first — takedown semantics,
    * documented rather than guessed); they accumulate until
    * compaction, costing one bounded anti-join per load.
    */
  private[graft] def removeFromLshIndex(path: String,
      ids: DataFrame): Unit =
    ids.select(col("doc_id"))
      .write.mode("append").parquet(s"$path/tombstones.parquet")

  /** Rewrite an artifact to a FRESH path with tombstones applied and
    * dropped — reclaims space and re-opens tombstoned ids. */
  private[graft] def compactLshIndex(s: SparkSession, src: String,
      dst: String): Unit =
    writeLshIndex(loadLshIndex(s, src), dst)

  /** The measured compaction trigger [[compactLshIndex]] was missing:
    * compact when the tombstone table reaches `tau` (default 20%) of
    * the artifact's doc rows — below that, the per-load anti-join is
    * cheaper than rewriting the corpus-sized arrs table. Both counts
    * are filter-free COUNT(*)s, which Spark answers from the parquet
    * FOOTERS (row-group metadata — no row is read), so the check is
    * metadata-only like the driver-side cell-index trigger. Raw row
    * counts, deliberately: duplicate tombstone appends inflate the
    * numerator, erring toward compacting an artifact whose tombstone
    * table itself has bloated — also what a maintainer wants.
    */
  private[graft] def shouldCompactLsh(s: SparkSession, path: String,
      tau: Double = 0.2): Boolean = {
    val tomb = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    tomb.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(tomb) && {
      val nTomb = s.read.parquet(tomb.toString).count()
      val nDocs = s.read.parquet(s"$path/arrs.parquet").count()
      nDocs > 0L && nTomb.toDouble / nDocs >= tau
    }
  }

  /** The composed per-batch maintenance step for the text-LSH
    * artifact — the twin of [[maintainCellIndex]], closing the one
    * lifecycle asymmetry round 12 left (the cell index had its
    * composed call; a deployment scripting the LSH firehose had to
    * re-derive append-then-compact-at-trigger by hand). Per accepted
    * batch: a pure parquet APPEND of the batch's per-doc rows
    * (tombstones untouched — below the trigger the per-load
    * anti-join stays cheaper than rewriting the corpus-sized arrs
    * table), then, when the tombstone ratio reaches `tau`
    * ([[shouldCompactLsh]] — metadata-only, parquet footers), an
    * in-place compaction: tombstones applied and dropped, ratio
    * reset. Same-path compaction is crash-safe via
    * [[writeLshIndex]]'s stage-then-swap (the source is read in full
    * while staging, before the destination delete). Serving
    * ([[loadLshIndex]] → [[incrementalDedupOn]]) is identical on
    * both sides of the compaction boundary (IndexLifecycleSpec pins
    * it).
    */
  private[graft] def maintainLshIndex(s: SparkSession, path: String,
      docs: DataFrame, tau: Double = 0.2): Unit = {
    appendLshIndex(path, docs)
    if (shouldCompactLsh(s, path, tau))
      writeLshIndex(loadLshIndex(s, path), path)
  }

  private[graft] def loadLshIndex(s: SparkSession, path: String)
      : LshIndex = {
    val buckets = s.read.parquet(s"$path/buckets.parquet")
    val arrs = s.read.parquet(s"$path/arrs.parquet")
    val tomb = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    if (tomb.getFileSystem(s.sparkContext.hadoopConfiguration)
        .exists(tomb)) {
      val ts = s.read.parquet(tomb.toString).select("doc_id").distinct()
      LshIndex(buckets.join(ts, Seq("doc_id"), "left_anti"),
        arrs.join(ts, Seq("doc_id"), "left_anti"))
    } else LshIndex(buckets, arrs)
  }

  /** Incremental (against-existing) near-dedup of an incoming batch
    * against a built (or [[loadLshIndex]]-loaded) index — the
    * production serve path: incoming docs band themselves (per-doc,
    * bit-identical hash chain to the index build), candidates come
    * from the (band, key) equi-join against the index buckets, and
    * exact Jaccard verifies on the incoming arrays vs the index
    * arrays. Incoming docs never join each other and nothing is ever
    * all-pairs; the index side is only ever probed, never rebuilt.
    */
  private[graft] def incrementalDedupOn(idx: LshIndex,
      incoming: DataFrame,
      mergeIntersect: Boolean = false): DataFrame = {
    // persisted: banding and the verify arrays both read the incoming
    // shingles (a bounded batch, not the corpus)
    val shIn = shinglesOf(incoming).persist()
    val cand = minhashBuckets(shIn, bands = 16)
      .select(col("doc_id").as("d_in"), col("band"), col("key"))
      .join(idx.buckets
        .select(col("doc_id").as("d_ex"), col("band").as("band2"),
          col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2"))
      .select("d_in", "d_ex").distinct()
    val inArr = shIn.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("arr"))
    cand
      .join(inArr.select(col("doc_id").as("d_in"), col("arr").as("a1")),
        Seq("d_in"))
      .join(idx.arrs.select(col("doc_id").as("d_ex"),
        col("arr").as("a2")), Seq("d_ex"))
      .withColumn("inter",
        interSizeCol(col("a1"), col("a2"), mergeIntersect))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a1")) + size(col("a2")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("d_in"), col("d_ex"), col("inter"), col("jaccard"))
      .orderBy("d_in", "d_ex")
  }

  /** Incremental (against-existing) near-dedup — the production shape
    * for a continuously-ingesting corpus: new documents are checked
    * against the ALREADY-ACCEPTED corpus only, never against each
    * other or all-pairs. Here "incoming" = doc_id % 10 == 0 (a
    * deterministic 10% batch), "existing" = the rest; the declared
    * query builds the existing side's [[LshIndex]] in place and
    * serves the batch through [[incrementalDedupOn]] — the exact code
    * path a deployment runs against a [[loadLshIndex]]-loaded
    * artifact (IndexLifecycleSpec pins loaded == in-corpus
    * byte-identically). Candidates come from the same 16-band MinHash
    * buckets the in-corpus pipeline uses, then exact Jaccard
    * verifies, so the output equals the exhaustive cross-set ground
    * truth (same < 1e-7 miss bound) and is DuckDB-oracle-compared.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    incrementalDedupOn(
      buildLshIndex(docs.filter(col("doc_id") % 10 =!= 0)),
      docs.filter(col("doc_id") % 10 === 0))
  }

  /** The full LSH dedup pipeline at its 100 TB shape, made
    * oracle-checkable end-to-end: banded MinHash candidate generation →
    * EXACT 3-gram Jaccard computed only on the candidate pairs → final
    * jaccard ≥ 0.8 pairs. With 16 bands × 2 rows the probability a true
    * jaccard-0.8 pair shares no band is (1 − 0.8²)¹⁶ < 1e-7, so the
    * verified output equals the exhaustive ground truth and this query
    * shares q_dedup_near_ngram's oracle SQL — the approximate path is
    * hash-compared against DuckDB, not just recall-tested. Unlike the
    * ground-truth query, nothing here is corpus-quadratic: candidates
    * come from the bucket equi-join, and the verification join is
    * candidate-pair-sized (near-dup pairs are rare by construction —
    * that is why dedup is worth running), broadcast into the shingle
    * stream.
    */
  /** Shared representative-level LSH + verify context: (verified rep
    * pairs, [[textGroups]]). Identical texts carry
    * identical minhash signatures, so raw-row banding grows
    * quadratically with duplicate multiplicity for no information —
    * the pipeline runs on one doc per distinct text (measured at the
    * 10×-duplicated sf1.0: 17.5 s raw vs ~5 s compressed, identical
    * pair set).
    */
  private[graft] def verifiedRepContext(s: SparkSession, dir: String,
      hintCands: Boolean = HintVerifyCands,
      mergeIntersect: Boolean = false)
      : (DataFrame, DataFrame) = {
    val groups = textGroups(s, dir)
    val sh = repShingles(groups).persist()
    // the signature pass reads the PERSISTED shingle frame: verify
    // materializes it anyway, so re-fusing tokenize→shingle→hash from
    // the scan (the q_dedup_minhash-alone trade) pays the string pass
    // twice here — interleaved A/B at sf0.1: 3.70 s vs 4.64 s medians
    // for the verified pipeline
    val repPairs = verifyJaccard(sh,
      bucketPairs(minhashBuckets(sh, bands = 16))
        .select(col("d1").as("r1"), col("d2").as("r2")),
      "r1", "r2", hintCands, mergeIntersect)
    (repPairs, groups)
  }

  /** Group-level output of the verified LSH pipeline: one row per
    * qualifying REPRESENTATIVE pair with both groups' multiplicities,
    * for consumers that do not need the doc-level expansion. The
    * expansion's output grows with duplicate multiplicity² (the sf1.0
    * rehearsal's one 3× wall-clock mover is exactly its 250,600-pair
    * doc-level blow-up of ~2.5k group pairs); a dedup pipeline that
    * only drops duplicates needs the group pairs + `gn` counts, not
    * every (d1, d2) combination. Doc-level `q_dedup_minhash_jaccard`
    * stays the declared oracle query; LibrarySpec pins the exact
    * arithmetic between the two (declared rows = Σ n1·n2 over these
    * pairs + Σ gn·(gn−1)/2 over exact-dup cliques).
    */
  def minhashVerifiedGroupPairs(s: SparkSession, dir: String,
      hintCands: Boolean = HintVerifyCands): DataFrame = {
    val (repPairs, groups) = verifiedRepContext(s, dir, hintCands)
    repPairs
      .join(groups.select(col("rep").as("r1"), col("gn").as("n1")), "r1")
      .join(groups.select(col("rep").as("r2"), col("gn").as("n2")), "r2")
      .select(col("r1"), col("r2"), col("inter"), col("jaccard"),
        col("n1"), col("n2"))
      .orderBy("r1", "r2")
  }

  def minhashVerifiedPairs(s: SparkSession, dir: String,
      hintCands: Boolean = HintVerifyCands,
      mergeIntersect: Boolean = false): DataFrame = {
    val (repPairs, groups) =
      verifiedRepContext(s, dir, hintCands, mergeIntersect)
    expandRepPairs(repPairs, groups, "jaccard")
      .orderBy("d1", "d2")
  }

  /** SimHash near-dup pairs within `maxHam` Hamming distance, fully
    * oracle-able: the 60-bit signature derives every token hash from
    * md5 (identical on both engines — the top 15 hex digits parse into
    * a non-negative BIGINT on both), bits vote weighted by term
    * frequency, and candidates come from 4×15-bit chunk banding
    * (pigeonhole: hamming ≤ 3 ⇒ ≥1 chunk equal) — an equi-join on
    * (chunk_idx, chunk_value), never all-pairs: the 100 TB path. The
    * oracle verifies with a plain all-pairs scan, which is exhaustive
    * at oracle scale, so both sides produce the identical pair set.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHam: Int): DataFrame = {
    // Token occurrences flow STRAIGHT into the vote aggregation: a
    // per-occurrence ±1 sums to exactly the cnt-weighted vote a
    // (doc, tok, cnt) pre-aggregation would produce, and skipping that
    // pre-agg removes a corpus-sized shuffle — the vote agg itself
    // already folds map-side to one row per doc.
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h",
        expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)"))
    // one codegen'd aggregation with 60 per-bit vote columns (no 60×
    // row explode — same shape as the minhash signature computation):
    // shuffle carries 1 row × 60 longs per doc, votes fold map-side.
    val voteCols = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1L)
        .otherwise(-1L)).as(s"v$b"))
    val sigs = toks
      .groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("sig"))
    // persist the per-doc signatures: both banding-join sides otherwise
    // re-run the whole tokenize → md5 → 60-column vote pipeline. One
    // row per doc — tiny at any scale.
    val chunks = sigs.persist()
      .select(col("doc_id"), col("sig"), explode(expr("sequence(0, 3)")).as("c"))
      .withColumn("ck", expr("shiftright(sig, 15 * c) & 32767"))
    // Hamming check lives IN the join condition: it runs as the join's
    // post-match filter, so only true near-dup pairs (~tens) reach the
    // dedup shuffle instead of every bucket collision (~277k at sf0.1 —
    // the tiny shared vocabulary makes signatures cluster heavily).
    chunks.select(col("doc_id").as("d1"), col("sig").as("sig1"),
        col("c"), col("ck"))
      .join(chunks.select(col("doc_id").as("d2"), col("sig").as("sig2"),
        col("c").as("c2"), col("ck").as("ck2")),
        col("c") === col("c2") && col("ck") === col("ck2") &&
          col("d1") < col("d2") &&
          bit_count(col("sig1").bitwiseXOR(col("sig2"))) <= maxHam)
      .select(col("d1"), col("d2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast("long")
          .as("hamming"))
      .dropDuplicates("d1", "d2")
      .orderBy("d1", "d2")
  }

  /** Embedding-cosine near-dup: each vector's representative is the
    * lowest-id earlier vector with rounded cosine ≥ tau (itself if
    * none). Declared as a self-join with the threshold INSIDE the join
    * condition — only true near-dup pairs survive the join, and Spark
    * picks broadcast-nested-loop while one side is small, distributed
    * cartesian beyond that (no driver-side collect either way). At
    * 100 TB swap this candidate generator for the LSH banding in
    * [[graft.functions.Ann]] and keep the representative stage
    * unchanged. Cosine rounds HALF_UP to 4dp BEFORE thresholding so
    * both engines make identical keep/drop decisions. Guarded by
    * [[guardAllPairs]]: past the cap it refuses to run rather than
    * schedule the quadratic join.
    */
  def embeddingDedup(s: SparkSession, dir: String, tau: Double,
      maxRows: Long = AllPairsMaxRows): DataFrame = {
    val vn = guardAllPairs(
      t(s, dir, "embeddings").select(
        col("vec_id"), col("embedding"),
        graft.functions.Native.l2NormF(col("embedding")).as("nrm")),
      "embeddingDedup", maxRows)
    val pairs = vn.select(col("vec_id").as("vid"), col("embedding").as("e1"),
        col("nrm").as("n1"))
      .join(vn.select(col("vec_id").as("nbr"), col("embedding").as("e2"),
        col("nrm").as("n2")),
        col("nbr") < col("vid") &&
          round(graft.functions.Native.dotF(col("e1"), col("e2")) /
            (col("n1") * col("n2")), 4) >= tau)
      .select("vid", "nbr")
    repExpandEmbedding(t(s, dir, "embeddings"), pairs)
  }

  /** The shared √N-cell index every exact banded vector operator
    * builds on (kNN accuracy, threshold dedup, global top-k):
    *  - `vn`      (vec_id, label, embedding, nrm) persisted corpus
    *  - `nVec`    its count (the one job the count-guarded hints ride)
    *  - `memVec`  (vec_id, cell, own_theta, embedding, nrm) — the
    *              n-row member frame every scoring join carries the
    *              arrays through, persisted. This is the WIDEST frame
    *              the index ever materializes or exchanges.
    *  - `bcCent`  the √N (cid, embedding, nrm) centroid rows as a
    *              broadcast array — bounded by construction, and every
    *              executor needs all of them (the Ann.ivfCosineTopK
    *              precedent), so the collect is the point, not a leak
    *  - `bcRadii` cell → max member angle (the pruning radius), √N
    *              entries riding the same broadcast channel
    *  - `cellSizes` cell → member count, √N entries, DRIVER-side only
    *              (floor-cell selection in the banded top-k): derived
    *              in the same single stats pass as the radii, never
    *              broadcast — executors don't read it
    * Centroids are the √N smallest xxhash64(id) mixes — deterministic
    * on any run/partitioning. Assignment and probe generation are TWO
    * LINEAR mapPartitions passes against the broadcast state: each
    * vector scores all √N centroid cosines IN-ROW (double fold in
    * array order — bit-identical to the codegen'd native expressions,
    * the brute baselines and the DuckDB oracle) and emits one
    * assignment row, then only its SURVIVING (vec_id, cell) probes.
    * Nothing n×√n-sized is ever exchanged or persisted — the round-9
    * shape cross-joined the centroid frame and ranked assignments
    * with a row_number window, which hash-partitioned and cached the
    * full n×√n probe frame (3×10^10 rows at 10M vectors, through one
    * exchange: the one scale hazard of the round-9 banded family).
    *
    * Precondition (fail-fast, not silent): every embedding has a
    * positive finite norm. A zero/NaN norm makes cosine undefined —
    * the brute baselines sort those NaN cosines first while cap
    * predicates would silently prune them, so the build REFUSES the
    * corpus instead of letting the twins diverge on degenerate input.
    *
    * Cache ownership: the index persists `vn` and `memVec`; the
    * probe/scoring/serving consumers all read memVec (which carries
    * embedding+nrm), so a vn-less index is one flag away
    * (persistVn=false) for memory-tight deployments — but the
    * CACHED default measured faster or tied on every banded operator
    * under the r12 duo protocol (warm medians: kNN 1.89 s cached vs
    * 2.24, topk/dedup/incremental ties; the uncached "wins" from the
    * adjacent-slot protocol were codegen-reuse artifacts — SCALING.md
    * Addendum 19). Callers that build many indexes in one session
    * own cleanup via [[CellIndex.unpersist]]; the Verify/Bench
    * harness clears all caches between queries.
    */
  /** Build-time baseline the rebuild trigger compares against —
    * captured at [[buildCellIndexOf]] (and re-captured by
    * [[rebuildCellIndex]]), carried UNCHANGED through append/remove
    * maintenance, persisted in the artifact ([[writeCellIndex]]'s
    * meta.parquet) so [[shouldRebuild]] stays checkable on a loaded
    * index after any append sequence.
    */
  private[graft] final case class CellBuildMeta(nVecAtBuild: Long,
      meanRadiusAtBuild: Double)

  private[graft] final case class CellIndex(vn: DataFrame, nVec: Long,
      nCells: Int, memVec: DataFrame,
      bcCent: org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Float], Double)]],
      bcRadii: org.apache.spark.broadcast.Broadcast[Map[Long, Double]],
      cellSizes: Map[Long, Long],
      buildMeta: CellBuildMeta,
      // the build/load-time vn cache posture, recorded so maintenance
      // (append/remove/rebuild/maintain) PRESERVES it — before r13 a
      // persistVn=false caller's memory posture was silently lost the
      // first time the rebuild trigger fired (ADVICE r12)
      persistVn: Boolean = true) {

    /** Memoized √N-row (cell, members-array) frame the streaming kNN
      * twins and the banded top-k's block kernel join against — built
      * and persisted ONCE per index (the
      * per-serving-call persist accumulated un-releasable caches:
      * repeated knnQueryStream construction leaked a new √N-row frame
      * each time, releasable only by a global clearCache). Released
      * by [[unpersist]] with the index's other frames.
      */
    @transient private var cellMembersFrame: DataFrame = _
    private[graft] def cellMembers: DataFrame = this.synchronized {
      if (cellMembersFrame == null)
        cellMembersFrame = memVec
          .groupBy("cell")
          .agg(collect_list(struct(col("vec_id").as("nbr"),
            col("embedding").as("e2"), col("nrm").as("n2"))).as("ms"))
          .persist()
      cellMembersFrame
    }

    /** Pass 2: the surviving probe list (id1, cell, e1, n1), emitted
      * in-row per vector against the broadcast centroid/radii state.
      * `withFloor` is (vec_id, embedding, nrm, floor) — floor NULL
      * means "prune nothing for this vector" (kNN vectors with fewer
      * than k in-cell neighbours; the void global floor). A live cell
      * C survives for q iff its spherical cap
      * cos(max(0, θ(q,c_C) − r_C)) ≥ floor − 1e-3 (the slack dominates
      * the 4-dp rounding half-step plus acos/cos float error — see the
      * per-operator proofs). `includeOwn=false` (the member-frame
      * default) skips q's own cell — its members are scanned by the
      * within tier; external query vectors (incoming dedup, kNN
      * serving) pass true, since they are not members and their
      * nearest cell is a candidate like any other, and so does the
      * banded top-k, whose own cell always passes the cap test
      * (θ ≤ r gives cap = 1) so one pass covers within-cell pairs.
      * Each probe row CARRIES the querying vector (e1, n1): the scoring join
      * consumes it in-row, so consumers never re-join a frame by id
      * just to re-attach what this pass already held — one less join
      * (and one less potential exchange) per operator, and on a
      * STREAMING source the re-join would be an illegal stream-stream
      * self-join, so carrying it is what keeps the serve path
      * stateless. Output is at most the survivor list — never a dense
      * n×√n frame — and nothing here shuffles: the pass is a narrow
      * map over the caller's frame.
      */
    def probes(withFloor: DataFrame,
        includeOwn: Boolean = false): DataFrame = {
      val sp = withFloor.sparkSession
      import sp.implicits._
      val bc = bcCent
      val br = bcRadii
      withFloor
        .as[(Long, Array[Float], Double, Option[Double])]
        .mapPartitions { it =>
          val cs = bc.value
          val rm = br.value
          it.flatMap { case (id, e, n1, fl) =>
            // same fail-fast posture as assign/build: on the
            // probes-only serving paths (embeddingDedupIncoming,
            // StreamTransforms.dedupIncomingVec) a zero/NaN-norm
            // incoming vector would score NaN centroid cosines, fail
            // every cap test, and surface as a silent is_dup=0 — the
            // exact divergence the build's docstring refuses
            require(n1 > 0.0,
              s"CellIndex.probes refuses a zero/NaN-norm vector " +
                s"(vec_id=$id): cosine is undefined")
            val cos = CellIndex.centroidCosines(e, n1, cs)
            val own = CellIndex.ownCell(cos, cs)
            val out =
              Seq.newBuilder[(Long, Long, Array[Float], Double)]
            var i = 0
            while (i < cs.length) {
              val cid = cs(i)._1
              if (includeOwn || cid != own) rm.get(cid) match {
                case Some(r) =>
                  val keep = fl match {
                    case Some(f) =>
                      val theta = math.acos(
                        math.min(1.0, math.max(-1.0, cos(i))))
                      math.cos(math.max(0.0, theta - r)) >= f - 1e-3
                    case None => true
                  }
                  if (keep) out += ((id, cid, e, n1))
                case None => () // dead cell: no members, no partners
              }
              i += 1
            }
            out.result()
          }
        }.toDF("id1", "cell", "e1", "n1")
    }

    /** In-row assignment of EXTERNAL vectors to their nearest cell —
      * the serving-side twin of the build's pass 1. `vecs` is
      * (vec_id, embedding, nrm); output (vec_id, cell, embedding,
      * nrm) — the vector rides along like [[probes]]' rows so the
      * own-cell scoring join consumes it in-row. Same deterministic
      * (cos DESC, cid ASC) pick, same zero-norm fail-fast posture, no
      * shuffle.
      */
    def assign(vecs: DataFrame): DataFrame = {
      val sp = vecs.sparkSession
      import sp.implicits._
      val bc = bcCent
      vecs.as[(Long, Array[Float], Double)]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (id, e, n1) =>
            require(n1 > 0.0,
              s"CellIndex.assign refuses a zero/NaN-norm vector " +
                s"(vec_id=$id): cosine is undefined")
            (id, CellIndex.ownCell(
              CellIndex.centroidCosines(e, n1, cs), cs), e, n1)
          }
        }.toDF("vec_id", "cell", "embedding", "nrm")
    }

    /** [[assign]] plus the member angle to the assigned centroid —
      * exactly the build pass's per-row computation against THIS
      * index's frozen centroids, emitting the memVec schema. This is
      * the append-maintenance primitive: new members join the member
      * frame with an own_theta the merged radii stay an upper bound
      * over. No shuffle, same fail-fast posture.
      */
    def assignTheta(vecs: DataFrame): DataFrame = {
      val sp = vecs.sparkSession
      import sp.implicits._
      val bc = bcCent
      vecs.as[(Long, Array[Float], Double)]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (id, e, n1) =>
            require(n1 > 0.0,
              s"CellIndex.assignTheta refuses a zero/NaN-norm vector " +
                s"(vec_id=$id): cosine is undefined and the banded " +
                "and brute paths would diverge silently on it")
            CellIndex.assignRow(id, e, n1, cs)
          }
        }.toDF("vec_id", "cell", "own_theta", "embedding", "nrm")
    }

    /** Release the index's cached frames (the broadcasts are
      * context-cleaner-collected once unreferenced). Only call after
      * every derived result is materialized — the frames recompute
      * correctly but un-cached if read again. */
    def unpersist(): Unit = {
      memVec.unpersist(blocking = false)
      vn.unpersist(blocking = false)
      this.synchronized {
        if (cellMembersFrame != null) {
          cellMembersFrame.unpersist(blocking = false)
          cellMembersFrame = null
        }
      }
    }
  }

  private[graft] object CellIndex {
    /** All √N centroid cosines of one vector, computed in-row: double
      * fold in array order — bit-identical to ArrayDotProductF (and so
      * to the brute baselines and the DuckDB oracle). */
    private[graft] def centroidCosines(e: Array[Float], n1: Double,
        cs: Array[(Long, Array[Float], Double)]): Array[Double] = {
      val cos = new Array[Double](cs.length)
      var i = 0
      while (i < cs.length) {
        val ce = cs(i)._2
        var acc = 0.0
        var j = 0
        while (j < e.length) {
          acc += e(j).toDouble * ce(j).toDouble
          j += 1
        }
        cos(i) = acc / (n1 * cs(i)._3)
        i += 1
      }
      cos
    }

    /** Nearest-centroid id under the assignment total order
      * (cos DESC, cid ASC) — java.lang.Double.compare matches Spark's
      * double sort semantics (NaN largest), so the in-row pick equals
      * the round-9 row_number window decision on every input. */
    private[graft] def ownCell(cos: Array[Double],
        cs: Array[(Long, Array[Float], Double)]): Long = {
      var bestCid = Long.MaxValue
      var bestCos = Double.NegativeInfinity
      var first = true
      var i = 0
      while (i < cs.length) {
        val cmp = java.lang.Double.compare(cos(i), bestCos)
        if (first || cmp > 0 || (cmp == 0 && cs(i)._1 < bestCid)) {
          bestCos = cos(i)
          bestCid = cs(i)._1
          first = false
        }
        i += 1
      }
      bestCid
    }

    /** One memVec row from one vector: nearest cell + the member's
      * angle to its centroid — shared by the index build's pass 1 and
      * [[CellIndex.assignTheta]] so append-maintenance assignments
      * are bit-identical to build-time ones. */
    private[graft] def assignRow(id: Long, e: Array[Float], n1: Double,
        cs: Array[(Long, Array[Float], Double)])
        : (Long, Long, Double, Array[Float], Double) = {
      val cos = centroidCosines(e, n1, cs)
      val own = ownCell(cos, cs)
      var best = 0.0
      var i = 0
      while (i < cs.length) {
        if (cs(i)._1 == own) { best = cos(i); i = cs.length }
        else i += 1
      }
      (id, own, math.acos(math.min(1.0, math.max(-1.0, best))), e, n1)
    }
  }

  /** Per-cell (max own_theta, member count) of a memVec-shaped frame
    * in ONE pass and ZERO shuffle: per-partition hash maps (√N entries
    * each) collect to the driver and merge there — the same bounded
    * channel the centroid/radii broadcasts ride. Running it is also
    * the action that materializes the frame's cache (it replaced the
    * former groupBy(cell).agg(max) job, whose exchange shipped the
    * √N-keyed partials the maps now carry). Exactly-once by
    * construction — the maps are the job's RESULT, not accumulators,
    * so task retries cannot double-count.
    */
  private def cellStats(mem: DataFrame): Map[Long, (Double, Long)] = {
    val sp = mem.sparkSession
    import sp.implicits._
    mem.select(col("cell"), col("own_theta")).as[(Long, Double)]
      .rdd
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Long, (Double, Long)]
        it.foreach { case (c, th) =>
          val cur = m.getOrElse(c, (0.0, 0L))
          m(c) = (math.max(cur._1, th), cur._2 + 1L)
        }
        Iterator(m)
      }
      .collect()
      .flatten
      .groupMapReduce(_._1)(_._2)((a, b) =>
        (math.max(a._1, b._1), a._2 + b._2))
  }

  private[graft] def buildCellIndex(s: SparkSession, dir: String,
      persistVn: Boolean = true): CellIndex =
    // metadata-only count on the RAW scan: no filter sits between the
    // footer and the corpus projection, so the counts are equal — and
    // unlike vn.count() this deserializes no embedding arrays (Spark
    // answers it from the parquet row-group metadata).
    buildCellIndexOf(
      t(s, dir, "embeddings").select("vec_id", "label", "embedding"),
      Some(s.read.parquet(s"$dir/embeddings.parquet").count()),
      persistVn)

  /** Rebuild an index from its OWN corpus frame — the documented
    * response to append-driven radius drift ([[appendToCellIndex]]'s
    * rebuild policy), for deployments whose corpus lives as the index
    * artifact rather than a raw directory: fresh √nVec centroids,
    * fresh assignment, fresh (tight) radii, zero count jobs (nVec is
    * already bookkept). Centroid choice depends only on the SET of
    * vec_ids (smallest xxhash64 mixes, takeOrdered — partitioning- and
    * source-independent), so rebuilding an appended index equals a
    * from-scratch [[buildCellIndex]] of the union corpus
    * byte-identically (IndexLifecycleSpec pins it).
    */
  private[graft] def rebuildCellIndex(ci: CellIndex): CellIndex =
    buildCellIndexOf(ci.vn.select("vec_id", "label", "embedding"),
      Some(ci.nVec), persistVn = ci.persistVn)

  /** [[buildCellIndex]] over an arbitrary (vec_id, label, embedding)
    * corpus frame. `nVecHint`: the corpus row count when the caller
    * already holds it (parquet footer, index bookkeeping) — otherwise
    * one count job on the persisted corpus pays for it. */
  private[graft] def buildCellIndexOf(corpus: DataFrame,
      nVecHint: Option[Long] = None,
      persistVn: Boolean = true): CellIndex = {
    val s = corpus.sparkSession
    import s.implicits._
    // persistVn=false: the A/B challenger shape — memVec carries
    // (embedding, nrm) for every serving/probe consumer, so the vn
    // cache's only repeat reader is the skinny label column (a
    // column-pruned parquet re-scan when uncached)
    val vn0 = corpus.select(col("vec_id"),
        col("label"), col("embedding"),
        graft.functions.Native.l2NormF(col("embedding")).as("nrm"))
    val vn = if (persistVn) vn0.persist() else vn0
    val nVec = nVecHint.getOrElse(vn.count())
    val nCells = math.max(16, math.ceil(math.sqrt(nVec.toDouble)).toInt)
    // bounded collect (√N rows): every executor needs every centroid,
    // so the broadcast IS the distribution plan — same posture as
    // Ann.ivfCosineTopK. Nothing data-sized touches the driver.
    // rdd.takeOrdered, NOT orderBy().limit(): under the Dataset
    // deserializer the limit is no longer the plan root, so Catalyst
    // cannot fuse it into TakeOrderedAndProject and falls back to a
    // full range-sort exchange of all n wide rows (measured: the
    // ShuffleMetricsSpec index-build pin caught n extra shuffled
    // records). takeOrdered merges per-partition top-√N slices on the
    // driver — zero shuffle at any corpus size. vec_id tie-break keeps
    // the pick total even on a (2^-64-rare) mix collision.
    val centroids = vn
      .select(xxhash64(col("vec_id")).as("mix"), col("vec_id"),
        col("embedding"), col("nrm"))
      .as[(Long, Long, Array[Float], Double)]
      .rdd
      .takeOrdered(nCells)(Ordering.by(t => (t._1, t._2)))
      .map(t => (t._2, t._3, t._4))
    val bcCent = s.sparkContext.broadcast(centroids)
    // pass 1: one linear in-row assignment pass — n rows out, no
    // exchange (the radii aggregate below shuffles √N-keyed partials)
    val memVec = vn.select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions { it =>
        val cs = bcCent.value
        it.map { case (id, e, n1) =>
          require(n1 > 0.0,
            s"buildCellIndex refuses a zero/NaN-norm embedding " +
              s"(vec_id=$id): cosine is undefined and the banded and " +
              "brute paths would diverge silently on it")
          CellIndex.assignRow(id, e, n1, cs)
        }
      }.toDF("vec_id", "cell", "own_theta", "embedding", "nrm")
      .persist()
    // per-cell pruning radius + member count in one shuffle-free pass,
    // collected onto the broadcast channel the probe pass already
    // rides (this is also the job that populates the memVec cache)
    val stats = cellStats(memVec)
    val radii = stats.map { case (c, (r, _)) => (c, r) }
    CellIndex(vn, nVec, centroids.length, memVec,
      bcCent,
      s.sparkContext.broadcast(radii),
      stats.map { case (c, (_, n)) => (c, n) },
      CellBuildMeta(nVec, meanRadius(radii)),
      persistVn)
  }

  /** Unweighted mean pruning radius over live cells — the drift
    * signal the rebuild trigger compares against its build-time
    * value. Driver-side arithmetic over the √N-entry radii map. */
  private def meanRadius(radii: Map[Long, Double]): Double =
    if (radii.isEmpty) 0.0 else radii.valuesIterator.sum / radii.size

  /** The documented append-maintenance rebuild policy, executable:
    * radii grow monotonically under append and nCells stays √(build
    * corpus), so pruning weakens (never breaks) as the corpus drifts.
    * Rebuild when the corpus has doubled since build (within-cell
    * work has too) or the mean live-cell radius grew > 20% over its
    * build-time value. Both inputs are driver-held ([[CellIndex]]
    * bookkeeping + the broadcast radii map — no job), and the
    * baseline survives the artifact round-trip via meta.parquet, so
    * the check works on a loaded index after any append sequence.
    * False on a fresh build/rebuild by construction (nVec == build
    * count, radii == build radii).
    */
  private[graft] def shouldRebuild(ci: CellIndex): Boolean =
    ci.nVec >= 2L * ci.buildMeta.nVecAtBuild ||
      meanRadius(ci.bcRadii.value) >
        1.2 * ci.buildMeta.meanRadiusAtBuild

  /** Persist the cell index as a parquet artifact — the repeated-query
    * production shape: build once, [[loadCellIndex]] per query batch
    * instead of re-paying the centroid/assignment build on every
    * invocation (every banded query used to rebuild it from scratch).
    * Stored: the n-row member frame, the corpus frame, the √N centroid
    * rows. Radii re-derive from the member frame's own_theta on load;
    * doubles round-trip parquet bit-for-bit, so banded outputs from a
    * loaded index are byte-identical to the in-memory build
    * (KnnOpsSpec pins all three operators).
    */
  private[graft] def writeCellIndex(ci: CellIndex, path: String): Unit = {
    val s = ci.vn.sparkSession
    import s.implicits._
    ci.memVec.write.mode("overwrite").parquet(s"$path/member.parquet")
    ci.vn.write.mode("overwrite").parquet(s"$path/corpus.parquet")
    s.createDataset(ci.bcCent.value.toIndexedSeq)
      .toDF("vec_id", "embedding", "nrm")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids.parquet")
    // build-time baseline (1 row): without it the rebuild trigger is
    // uncheckable after load + appends — the appended member frame
    // re-derives CURRENT radii/count on load, but the build-time
    // denominator would be gone
    s.createDataset(Seq(
        (ci.buildMeta.nVecAtBuild, ci.buildMeta.meanRadiusAtBuild)))
      .toDF("nvec_at_build", "mean_radius_at_build")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
  }

  /** Rebuild a [[CellIndex]] from a [[writeCellIndex]] artifact: two
    * linear scans (persisted) + the two bounded collects every
    * executor needs anyway (√N centroids, √N radii). No assignment
    * recompute — the member frame IS the assignment.
    */
  private[graft] def loadCellIndex(s: SparkSession, path: String,
      persistVn: Boolean = true)
      : CellIndex = {
    import s.implicits._
    val vn0 = s.read.parquet(s"$path/corpus.parquet")
    val vn = if (persistVn) vn0.persist() else vn0
    val memVec = s.read.parquet(s"$path/member.parquet").persist()
    val centroids = s.read.parquet(s"$path/centroids.parquet")
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Array[Float], Double)]
      .collect()
    // the one stats pass yields radii, sizes AND the total count — the
    // former separate memVec.count() job folds into it
    val stats = cellStats(memVec)
    val radii = stats.map { case (c, (r, _)) => (c, r) }
    val nVec = stats.valuesIterator.map(_._2).sum
    // pre-meta artifacts (no meta.parquet) load with the CURRENT
    // state as baseline: the trigger degrades to measuring drift
    // since load — never a crash on an old artifact
    val metaP = new org.apache.hadoop.fs.Path(s"$path/meta.parquet")
    val meta =
      if (metaP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .exists(metaP)) {
        val r = s.read.parquet(metaP.toString)
          .select(col("nvec_at_build"), col("mean_radius_at_build"))
          .head()
        CellBuildMeta(r.getLong(0), r.getDouble(1))
      } else CellBuildMeta(nVec, meanRadius(radii))
    CellIndex(vn, nVec, centroids.length,
      memVec,
      s.sparkContext.broadcast(centroids),
      s.sparkContext.broadcast(radii),
      stats.map { case (c, (_, n)) => (c, n) },
      meta, persistVn)
  }

  /** Append newly-accepted vectors to a built (or loaded) index — the
    * maintenance half of the vector serving story. The cell GEOMETRY
    * is frozen at build time: incoming vectors assign against the
    * EXISTING centroids (CellIndex.assignTheta — bit-identical to the
    * build pass), the member/corpus frames grow by union, and only
    * TOUCHED cells' radii/sizes update (radius = max(old, batch max) —
    * radii stay upper bounds over every member, so all three banded
    * operators' pruning proofs hold unchanged on the appended index:
    * IndexLifecycleSpec pins their outputs against the brute
    * baselines on the union corpus). `vecs` is the corpus-table shape
    * (vec_id, label, embedding); the caller owns id uniqueness.
    *
    * Rebuild policy (executable — [[shouldRebuild]]): radii grow
    * MONOTONICALLY under append — a drifting corpus inflates them
    * past what fresh √N' centroids would measure, so pruning weakens
    * (never breaks) and nCells stays √N of the ORIGINAL corpus.
    * [[shouldRebuild]] fires a fresh [[rebuildCellIndex]] when the
    * appended fraction reaches ~1× the built corpus (nVec ≥ 2× the
    * build-time count — cell occupancy doubles, so within-cell work
    * does too) or when the mean live-cell radius grew > ~20% over its
    * build-time value: both driver-side checks on bookkept state, and
    * the build-time baseline survives the artifact round-trip
    * ([[writeCellIndex]]'s meta.parquet), so the trigger stays
    * checkable on a loaded index. Persisting: [[writeCellIndex]] the RETURNED
    * index to a FRESH path (writing over the path a loaded index is
    * still reading is a read-under-overwrite hazard), then swap.
    *
    * Cache note: the returned index's unions re-read the parent's
    * cached frames plus a recomputed (narrow, deterministic)
    * assignment of the batch; [[CellIndex.unpersist]] on the returned
    * index releases the union caches, the parent's remain the
    * caller's.
    */
  private[graft] def appendToCellIndex(ci: CellIndex, vecs: DataFrame)
      : CellIndex = {
    val s = ci.vn.sparkSession
    val vnNew = vecs.select(col("vec_id"), col("label"), col("embedding"),
      graft.functions.Native.l2NormF(col("embedding")).as("nrm"))
    val memNew = ci.assignTheta(
      vnNew.select(col("vec_id"), col("embedding"), col("nrm")))
    // touched-cell stats: bounded by the batch, one shuffle-free job
    val batchStats = cellStats(memNew)
    val nNew = batchStats.valuesIterator.map(_._2).sum
    val radii = ci.bcRadii.value
    val mergedRadii = radii ++ batchStats.map { case (c, (r, _)) =>
      (c, math.max(r, radii.getOrElse(c, 0.0))) }
    val mergedSizes = ci.cellSizes ++ batchStats.map { case (c, (_, n)) =>
      (c, n + ci.cellSizes.getOrElse(c, 0L)) }
    val vnU = ci.vn.unionByName(vnNew)
    CellIndex(if (ci.persistVn) vnU.persist() else vnU, ci.nVec + nNew,
      ci.nCells, ci.memVec.unionByName(memNew).persist(), ci.bcCent,
      s.sparkContext.broadcast(mergedRadii), mergedSizes,
      ci.buildMeta, ci.persistVn)
  }

  /** The composed maintenance step a deployment actually calls per
    * accepted batch: append against the frozen geometry, then check
    * the executable rebuild trigger and re-derive fresh √nVec
    * geometry when it fires. Returns the index to serve next batches
    * from. Appends are cheap (touched-cell merges) and rebuilds are
    * rare by construction (the trigger needs 2× growth or >20% mean
    * radius drift), so the amortized cost per batch stays the append.
    * Cache note: on the rebuild branch the appended intermediate's
    * caches are released (only its corpus union feeds the rebuild,
    * which re-persists its own frames); the caller still owns the
    * PARENT index's caches either way.
    */
  private[graft] def maintainCellIndex(ci: CellIndex,
      batch: DataFrame): CellIndex = {
    val appended = appendToCellIndex(ci, batch)
    if (!shouldRebuild(appended)) appended
    else {
      val rebuilt = rebuildCellIndex(appended)
      appended.unpersist()
      rebuilt
    }
  }

  /** Remove vectors from a built (or loaded) index — the takedown
    * twin of [[appendToCellIndex]]. `ids` is a (vec_id) frame. The
    * member/corpus frames shrink by anti-join; per-cell sizes
    * decrement from one bounded stats pass over the REMOVED members;
    * surviving cells KEEP their old radius — removal can only shrink
    * a cell's true max member angle, so the stored radius stays a
    * valid (looser) upper bound and every pruning proof holds;
    * emptied cells drop out of the radii map entirely (probes treats
    * them as dead). Like append, removal weakens pruning but never
    * correctness — the documented rebuild policy
    * ([[rebuildCellIndex]]) is what re-tightens geometry. Outputs on
    * the shrunk index exactly match brute baselines on the remaining
    * corpus (IndexLifecycleSpec pin).
    */
  private[graft] def removeFromCellIndex(ci: CellIndex, ids: DataFrame)
      : CellIndex = {
    val s = ci.vn.sparkSession
    val key = ids.select(col("vec_id"))
    val removedStats = cellStats(
      ci.memVec.join(key, Seq("vec_id"), "left_semi"))
    val nGone = removedStats.valuesIterator.map(_._2).sum
    val sizes2 = (ci.cellSizes ++ removedStats.map { case (c, (_, n)) =>
      (c, ci.cellSizes.getOrElse(c, 0L) - n) }).filter(_._2 > 0)
    val radii2 = ci.bcRadii.value.filter { case (c, _) =>
      sizes2.contains(c) }
    val vnR = ci.vn.join(key, Seq("vec_id"), "left_anti")
    CellIndex(if (ci.persistVn) vnR.persist() else vnR,
      ci.nVec - nGone, ci.nCells,
      ci.memVec.join(key, Seq("vec_id"), "left_anti").persist(),
      ci.bcCent, s.sparkContext.broadcast(radii2), sizes2,
      ci.buildMeta, ci.persistVn)
  }

  /** The rounded pair cosine every banded operator scores with —
    * identical expression shape to the guarded baselines. */
  private[graft] def pairCosCol(e1: Column, n1: Column,
      e2: Column, n2: Column): Column =
    round(graft.functions.Native.dotF(e1, e2) / (n1 * n2), 4)

  /** In-row scored top-k of one cell's member array
    * (CellIndex.cellMembers rows) for one query vector: the same
    * rounded-4dp cosine expression shape as [[pairCosCol]], ranked by
    * the same (cos DESC, nbr ASC) total order. Shared by the streaming
    * kNN twins (where per-query windows are illegal) and the batch
    * banded-kNN array path (where it caps the vote tail's sort input
    * at k rows per (query, cell) instead of one row per scored pair).
    */
  private[graft] def topkScoredCol(k: Int)(ms: Column, e1: Column,
      n1: Column): Column = {
    import graft.functions.Native
    val scored = transform(ms, m =>
      struct(
        round(Native.dotF(e1, m.getField("e2")) /
          (n1 * m.getField("n2")), 4).as("cos"),
        m.getField("nbr").as("nbr")))
    slice(array_sort(scored, (a, b) =>
      when(a.getField("cos") > b.getField("cos"), -1)
        .when(a.getField("cos") < b.getField("cos"), 1)
        .when(a.getField("nbr") < b.getField("nbr"), -1)
        .when(a.getField("nbr") > b.getField("nbr"), 1)
        .otherwise(0)), 1, k)
  }

  /** Incremental (against-existing) EMBEDDING dedup — the vector twin
    * of the LSH text path (q_dedup_incremental) and the serving half
    * of the persisted cell index: INCOMING vectors (vec_id, embedding)
    * check against an already-built or [[loadCellIndex]]-loaded corpus
    * only, never against each other and never all-pairs. Per incoming
    * q the in-row cap pass keeps only cells that can hold a τ-partner
    * (own cell INCLUDED — q is not a member, so there is no self pair
    * and its nearest cell is a candidate like any other); surviving
    * cells' members score exactly with the same rounded-cosine ≥ τ
    * predicate; the min-id existing match is the rep. Zero false
    * negatives by the cap bound: round(cos(q,x),4) ≥ τ ⇒
    * cap_q(C_x) ≥ cos(q,x) ≥ τ − ε ⇒ C_x survives the probe filter
    * (LibrarySpec-pinned against the exhaustive incoming×existing
    * scan). Output: (vec_id, match_id NULL-able, is_dup).
    *
    * Cache ownership (the serving APIs' contract): this call persists
    * the derived `inc` frame for its own two reads; in the
    * build-once/serve-many-batches loop those per-call caches
    * accumulate (CellIndex.unpersist covers only the index's frames).
    * [[serveEmbeddingDedupBatch]] is the scoped release — it
    * unpersists exactly this call's frame after the caller consumes
    * the result, leaving the index's caches warm; callers using this
    * entry point directly own per-batch release themselves (the
    * persist is MEMORY_AND_DISK and an optimization only).
    */
  def embeddingDedupIncoming(ci: CellIndex, incoming: DataFrame,
      tau: Double,
      wideHintCap: Long = BroadcastHintMaxRows / 8): DataFrame =
    embeddingDedupIncomingTracked(ci, incoming, tau, wideHintCap)._1

  /** Serve one incoming-dedup batch and release exactly this call's
    * persisted frame once `use` returns — the per-batch cleanup that
    * does not evict the index's caches. `use` must materialize what
    * it needs before returning. */
  def serveEmbeddingDedupBatch[T](ci: CellIndex, incoming: DataFrame,
      tau: Double,
      wideHintCap: Long = BroadcastHintMaxRows / 8)
      (use: DataFrame => T): T = {
    val (res, frames) =
      embeddingDedupIncomingTracked(ci, incoming, tau, wideHintCap)
    try use(res)
    finally frames.foreach(_.unpersist(blocking = false))
  }

  private def embeddingDedupIncomingTracked(ci: CellIndex,
      incoming: DataFrame, tau: Double, wideHintCap: Long)
      : (DataFrame, Seq[DataFrame]) = {
    val inc = incoming.select(col("vec_id"), col("embedding"),
        graft.functions.Native.l2NormF(col("embedding")).as("nrm"))
      .persist()
    def bcWide(df: DataFrame): DataFrame =
      maybeBroadcast(df, ci.nVec, wideHintCap)
    // probe rows carry the incoming vector — the scoring join below is
    // the ONLY place incoming and corpus meet (stream-static-friendly)
    val probes = ci.probes(inc.select(col("vec_id"), col("embedding"),
      col("nrm"), lit(tau).cast(DoubleType).as("floor")),
      includeOwn = true)
    val matched = probes
      .join(bcWide(ci.memVec.select(col("vec_id").as("id2"), col("cell"),
        col("embedding").as("e2"), col("nrm").as("n2"))), "cell")
      .filter(pairCosCol(col("e1"), col("n1"),
        col("e2"), col("n2")) >= tau)
      .groupBy(col("id1").as("vec_id"))
      .agg(min(col("id2")).as("match_id"))
    val res = inc.select(col("vec_id"))
      .join(matched, Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id"),
        col("match_id").isNotNull.cast(LongType).as("is_dup"))
      .orderBy("vec_id")
    (res, Seq(inc))
  }

  /** EXACT global cosine top-k at the banded shape — the scale
    * companion to [[cosineTopK]] (which refuses corpora past its
    * all-pairs guard). Same centroid/cap machinery as
    * [[embeddingDedupBanded]], with the threshold replaced by a
    * data-derived GLOBAL floor and every pair scored in-row by the
    * block kernel ([[graft.functions.BlockTopK]]):
    *  1. Floor. The densest cells, picked driver-side from the index's
    *     sizes map until they cover 16·k within-cell pairs, are scored
    *     against themselves (each member's top-k inside its cell); the
    *     k-th best of those pairs, L, is a floor on the true k-th best
    *     overall — k pairs ≥ L exist, so a pair scoring below L cannot
    *     displace them. Any subset gives a valid floor; only pruning
    *     strength varies, and dense cells are where near-dup geometry
    *     concentrates its best cosines. Fewer than k within-cell pairs
    *     anywhere voids the floor (read off the sizes map, zero jobs):
    *     nothing prunes and every live cell is scanned. The floor is
    *     one scalar collected from one k-row TakeOrdered.
    *  2. One probe pass, own cell INCLUDED. A cell C prunes for q iff
    *     its spherical cap cos(max(0, θ(q,c_C) − r_C)) < L − 1e-3 (the
    *     slack dominates the 4-dp rounding half-step plus float error,
    *     so a pruned pair satisfies round(cos,4) < L strictly). q's own
    *     cell always survives: θ(q,c_own) ≤ r_own, since the radius is
    *     the maximum member angle, so its cap is cos(0) = 1 ≥ L − 1e-3
    *     — this is what lets one pass replace a separate within-cell
    *     self-join. For a pair (a, b) with round(cos) ≥ L, cap_a(C_b)
    *     ≥ cos(a,b) ≥ L − ε, so a probes b's cell.
    *  3. Each probe row (q, C) meets C's member block in the join and
    *     the kernel scores q against the members with id > q only, so
    *     every unordered pair is scored exactly once — at its smaller
    *     id's probe of the larger id's cell — and nothing needs a
    *     distinct. The kernel keeps q's top-k in that block at or above
    *     L: under the total order (cos DESC, id1, id2), a pair outside
    *     its (q, C) top-k has k better pairs in the same row, so it is
    *     outside the global top-k too.
    *  4. TakeOrdered keeps the top-k of each partition and merges them.
    *     Per-partition top-k under a TOTAL order merges exactly: the
    *     global top-k's members are each in their partition's top-k.
    * So the candidates ⊇ every pair in the true top-k, ranked by the
    * baseline's order — byte-identical to the guarded baseline, shared
    * DuckDB oracle. Nothing pair-sized is materialized: the join emits
    * one row per surviving (vector, cell) probe and the kernel at most
    * k entries per row. The member blocks (`cellMembers`, memoized on
    * the index) follow the count-guarded hint: broadcast under
    * `wideHintCap` member rows, shuffled by cell past it.
    */
  def cosineTopKBanded(s: SparkSession, dir: String, k: Int,
      wideHintCap: Long = BroadcastHintMaxRows / 8): DataFrame =
    cosineTopKBandedOn(buildCellIndex(s, dir), k, wideHintCap)

  /** [[cosineTopKBanded]] against an already-built (or
    * [[loadCellIndex]]-loaded) index — the repeated-query shape. */
  private[graft] def cosineTopKBandedOn(ci: CellIndex, k: Int,
      wideHintCap: Long = BroadcastHintMaxRows / 8): DataFrame = {
    val floorOpt = cosineTopKFloor(ci, k)
    // probe input from memVec, not vn: same rows, and the cached
    // member frame already carries (embedding, nrm) — vn stays a
    // label-only consumer so its cache is optional (persistVn)
    val probes = ci.probes(ci.memVec.select(col("vec_id"),
      col("embedding"), col("nrm"),
      floorOpt.map(lit(_)).getOrElse(lit(null))
        .cast(DoubleType).as("floor")), includeOwn = true)
    // probe rows carry (e1, n1): the kernel scores them in-row against
    // the joined cell's member block
    probes
      .join(maybeBroadcast(ci.cellMembers, ci.nVec, wideHintCap),
        Seq("cell"))
      .select(col("id1"), explode(graft.functions.BlockTopK.queryTopK(
        col("id1"), col("e1"), col("n1"), col("ms"), k, floorOpt)).as("p"))
      .select(col("id1"), col("p.id").as("id2"), col("p.cos").as("cos"))
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(k)
  }

  /** Step 1 of [[cosineTopKBanded]]: the k-th best within-cell pair
    * cosine of the densest cells covering 16·k pairs, or None when
    * fewer than k within-cell pairs exist (void floor) or the k-th
    * pair scores NULL. Each member's in-cell top-k holds every pair of
    * the cells' global top-k (a pair in it has fewer than k better
    * pairs, so fewer than k better partners at either end), so the
    * k-th best over those lists, each pair counted once by
    * `qid < id`, is the exact k-th best.
    */
  private def cosineTopKFloor(ci: CellIndex, k: Int): Option[Double] = {
    val totalPairs = ci.cellSizes.valuesIterator
      .map(n => n * (n - 1) / 2).sum
    if (totalPairs < k) None
    else {
      val ordered = ci.cellSizes.toSeq.sortBy { case (c, n) => (-n, c) }
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      var acc = 0L
      val it = ordered.iterator
      while (acc < 16L * k && it.hasNext) {
        val (c, n) = it.next()
        if (n >= 2) { sel += c; acc += n * (n - 1) / 2 }
      }
      val top = ci.cellMembers
        .filter(col("cell").isin(sel.toSeq: _*))
        .select(explode(graft.functions.BlockTopK.neighbours(col("ms"),
          k)).as("m"))
        .select(col("m.qid").as("qid"), explode(col("m.top")).as("t"))
        .filter(col("t.id") > col("qid"))
        .select(col("t.cos").as("cos"))
        .orderBy(col("cos").desc)
        .limit(k)
        .collect()
      // the selection covers ≥ min(16k, total) ≥ k pairs, so the k-th
      // best exists
      if (top.length < k || top(k - 1).isNullAt(0)) None
      else Some(top(k - 1).getDouble(0))
    }
  }

  /** Shared representative tail of both embedding-dedup variants:
    * `pairs` is (vid, nbr) with nbr < vid and rounded cosine ≥ tau;
    * each vector's representative is its minimum qualifying earlier
    * neighbour (itself if none).
    */
  private def repExpandEmbedding(ids: DataFrame,
      pairs: DataFrame): DataFrame = {
    val rep = pairs.groupBy("vid").agg(min(col("nbr")).as("rep"))
    ids.select(col("vec_id"))
      .join(rep, col("vec_id") === col("vid"), "left").drop("vid")
      .select(col("vec_id"),
        coalesce(col("rep"), col("vec_id")).as("rep_id"),
        (coalesce(col("rep"), col("vec_id")) =!= col("vec_id")).cast("long")
          .as("is_dup"))
      .orderBy("vec_id")
  }

  /** EXACT threshold dedup at the banded shape — the scale companion to
    * [[embeddingDedup]] (which REFUSES corpora past its all-pairs
    * guard). Same machinery as KnnOpsQueries.bandedKnnAccuracy, with a
    * SIMPLER proof (fixed threshold, no per-query floor):
    *  1. √N deterministic centroids (smallest xxhash64(id) mix, kept as
    *     a DataFrame — nothing but the broadcast centroid rows is ever
    *     driver-resident), one n×√n probe pass scores every
    *     (vector, centroid) cosine/angle exactly, and each vector's
    *     own cell is its nearest centroid (the same assignment window).
    *  2. For q and a foreign cell C with radius r_C (C's max member
    *     angle to its centroid), every x ∈ C satisfies
    *     angle(q,x) ≥ θ(q,c_C) − r_C, so
    *     cos(q,x) ≤ cos(max(0, θ(q,c_C) − r_C)) =: cap. If
    *     cap < τ − 1e-3 the cell cannot hold a qualifying partner even
    *     after HALF_UP 4-dp rounding (the 1e-3 slack dominates the
    *     5e-5 rounding half-step plus acos/cos float error by >10×) —
    *     prune it; otherwise scan its members exactly with the same
    *     rounded-cosine ≥ τ predicate the baseline uses.
    *  3. Both endpoints of any qualifying cross-cell pair (a,b) probe
    *     each other's cell (cap_a(C_b) ≥ cos(angle(a,b)) ≥ τ − ε by
    *     the same inequality), so generating candidates from the probe
    *     side with id1 < id2 inside the join emits every qualifying
    *     pair EXACTLY once — no distinct, nothing pair-sized ever
    *     shuffles (scores compute in-row at pair birth; the rep
    *     aggregate consumes qualifying pairs only). Within-cell pairs
    *     come from the member self-join, id1 < id2, once each.
    * The candidate set therefore provably contains every rounded-
    * cosine-≥ τ pair and nothing the baseline would not also keep —
    * same output, same DuckDB oracle, at any corpus size. Hints follow
    * the count-guard pattern (from the one count already paid): BHJ
    * under the cap, shuffled member-frame joins past it — the widest
    * exchange is the wide n-row member frame, never a pair list.
    */
  def embeddingDedupBanded(s: SparkSession, dir: String, tau: Double,
      wideHintCap: Long = BroadcastHintMaxRows / 8): DataFrame =
    embeddingDedupBandedOn(buildCellIndex(s, dir), tau, wideHintCap)

  /** [[embeddingDedupBanded]] against an already-built (or
    * [[loadCellIndex]]-loaded) index — the repeated-query shape. */
  private[graft] def embeddingDedupBandedOn(ci: CellIndex, tau: Double,
      wideHintCap: Long = BroadcastHintMaxRows / 8): DataFrame = {
    def bcWide(df: DataFrame): DataFrame =
      maybeBroadcast(df, ci.nVec, wideHintCap)
    def scoredGe(e1: Column, n1: Column, e2: Column, n2: Column) =
      pairCosCol(e1, n1, e2, n2) >= tau
    val within = ci.memVec
      .select(col("vec_id").as("id1"), col("cell"),
        col("embedding").as("e1"), col("nrm").as("n1"))
      .join(bcWide(ci.memVec.select(col("vec_id").as("id2"),
        col("cell").as("c2"), col("embedding").as("e2"),
        col("nrm").as("n2"))),
        col("cell") === col("c2") && col("id1") < col("id2") &&
          scoredGe(col("e1"), col("n1"), col("e2"), col("n2")))
      .select("id1", "id2")
    // probe input from memVec (same rows; vn's cache becomes optional)
    val probes = ci.probes(ci.memVec.select(col("vec_id"),
      col("embedding"), col("nrm"),
      lit(tau).cast(DoubleType).as("floor")))
    // probe rows carry (e1, n1) — scored in-row, no id1 re-attach join
    val cross = probes
      .join(bcWide(ci.memVec.select(col("vec_id").as("id2"), col("cell"),
        col("embedding").as("e2"), col("nrm").as("n2"))),
        Seq("cell"))
      .filter(col("id1") < col("id2") &&
        scoredGe(col("e1"), col("n1"), col("e2"), col("n2")))
      .select("id1", "id2")
    // ids from memVec (same vec_id set as vn, already cached) — the
    // whole banded-dedup path is vn-free, so the index's optional vn
    // cache (persistVn) costs this operator nothing either way
    repExpandEmbedding(ci.memVec, within.unionAll(cross)
      .select(col("id2").as("vid"), col("id1").as("nbr")))
  }

  /** Exhaustive embedding-dedup oracle — shared by the all-pairs
    * baseline AND the exact-by-construction banded path. */
  private val embeddingDedupSql: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      |  FROM v),
      |pairs AS (
      |  SELECT b.vec_id AS vid, a.vec_id AS nbr
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  JOIN n na ON na.vec_id = a.vec_id
      |  JOIN n nb ON nb.vec_id = b.vec_id
      |  WHERE round(list_sum(list_transform(generate_series(1, len(a.e)),
      |    i -> a.e[i] * b.e[i])) / (na.nrm * nb.nrm), 4) >= 0.40),
      |rep AS (SELECT vid, min(nbr) AS rep FROM pairs GROUP BY vid)
      |SELECT e.vec_id,
      |  coalesce(r.rep, e.vec_id) AS rep_id,
      |  CAST(coalesce(r.rep, e.vec_id) != e.vec_id AS BIGINT) AS is_dup
      |FROM embeddings e LEFT JOIN rep r ON r.vid = e.vec_id
      |ORDER BY e.vec_id""".stripMargin

  /** Exhaustive 3-gram jaccard ≥ 0.8 pair SQL — the oracle for BOTH the
    * declared ground-truth query and the LSH-verified pipeline (which
    * must reproduce it exactly; see [[minhashVerifiedPairs]]).
    */
  /** Exhaustive containment ≥ 0.9 ground truth — shared by the
    * all-pairs baseline AND the exact-by-construction prefix path. */
  private val containmentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk) - 2),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, inter,
      |  CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) AS containment
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = d1
      |JOIN sizes sb ON sb.doc_id = d2
      |WHERE CAST(inter AS DOUBLE) / least(sa.sz, sb.sz) >= 0.9
      |ORDER BY d1, d2""".stripMargin

  private val ngramPairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk) - 2),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, inter,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = d1
      |JOIN sizes sb ON sb.doc_id = d2
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
      |ORDER BY d1, d2""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT doc_id, md5(text) AS h, lang, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_near_ngram" -> ngramPairsSql,

    "q_dedup_containment" -> containmentSql,

    // exact by construction — must reproduce the exhaustive containment
    // ground truth bit-for-bit, so it shares its oracle (the
    // q_dedup_prefix_filter precedent for the asymmetric metric)
    "q_dedup_containment_prefix" -> containmentSql,

    "q_dedup_minhash_jaccard" -> ngramPairsSql,

    // prefix filtering is EXACT by construction — it must reproduce the
    // exhaustive ground truth bit-for-bit, so it shares its oracle
    "q_dedup_prefix_filter" -> ngramPairsSql,

    // exhaustive CROSS-SET ground truth: incoming (doc_id%10=0) vs
    // existing, jaccard ≥ 0.8 — the incremental pipeline must equal it
    "q_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d_in, b.doc_id AS d_ex, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s
        |    AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |  GROUP BY 1, 2)
        |SELECT d_in, d_ex, inter,
        |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = d_in
        |JOIN sizes sb ON sb.doc_id = d_ex
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
        |ORDER BY d_in, d_ex""".stripMargin,

    "q_dedup_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |good AS (
        |  SELECT d1, d2 FROM pairs
        |  JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8),
        |edges AS (SELECT d1 AS a, d2 AS b FROM good UNION SELECT d2, d1 FROM good),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |reps AS (SELECT a AS doc_id, MIN(b) AS rep_id FROM reach GROUP BY a),
        |csize AS (SELECT rep_id, COUNT(*) AS cluster_size FROM reps GROUP BY rep_id)
        |SELECT r.doc_id, r.rep_id, c.cluster_size
        |FROM reps r JOIN csize c USING (rep_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH tc AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnts AS (SELECT doc_id, tok, count(*) AS cnt FROM tc GROUP BY 1, 2),
        |hashed AS (SELECT doc_id, cnt,
        |  CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM cnts),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(cnt * (CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS v
        |  FROM hashed, unnest(generate_series(0, 59)) AS t(b) GROUP BY 1, 2),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
        |             ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY d1, d2""".stripMargin,

    "q_dedup_embedding" -> embeddingDedupSql,
    // the banded path is provably output-identical (see
    // embeddingDedupBanded's pruning proof) — same exhaustive oracle
    "q_dedup_embedding_banded" -> embeddingDedupSql,

    "q_sim_cosine_topk" -> cosineTopKSql,
    // the banded path is provably output-identical (see
    // cosineTopKBanded's floor + cap pruning proof) — same oracle
    "q_sim_cosine_topk_banded" -> cosineTopKSql
  )

  /** Exhaustive global top-10 cosine-pair oracle — shared by the
    * all-pairs baseline AND the exact-by-construction banded path.
    * (lazy: referenced by the `oracle` val declared above it.) */
  private lazy val cosineTopKSql: String =
    """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        |  FROM v)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_sum(list_transform(generate_series(1, len(a.e)),
        |    i -> a.e[i] * b.e[i])) / (na.nrm * nb.nrm), 4) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |JOIN n na ON na.vec_id = a.vec_id
        |JOIN n nb ON nb.vec_id = b.vec_id
        |ORDER BY cos DESC, id1, id2 LIMIT 10""".stripMargin
}
