package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate nearest neighbours over an Array[Float] embedding column
  * (SURVEY.md §2.8 breadth: "IVF or LSH-bucketed variant as the scale
  * path"; the exact baseline is DedupQueries.cosineTopK).
  *
  * Random-hyperplane LSH: each table hashes a vector to a `bits`-bit
  * bucket (sign of dot with a fixed plane per bit); near-cosine vectors
  * collide with probability (1 - θ/π) per bit. Candidates = pairs
  * sharing any table's bucket — an equi-join on (table, bucket), never
  * all-pairs — then exact cosine re-ranks candidates only. Planes are
  * derived from a FIXED seed (deterministic across runs, SURVEY.md A.6).
  *
  * Nothing here collects the vector table to the driver: candidate
  * generation carries ids only, and exact re-rank scores the skinny
  * pair list by joining ids back to the (id, vector, norm) frame — a
  * broadcast hash join while the table is small, a shuffled join at
  * scale, but never a driver-memory wall.
  */
object Ann {

  /** (id, e, nrm): the vector frame with its L2 norm computed once, by
    * the codegen'd native dot product — the frame every scoring join
    * reattaches vectors from.
    */
  private def withNorm(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("e"),
      Native.l2NormF(col(vecCol)).as("nrm"))

  /** Exact-cosine scoring of a skinny (id1, id2) candidate list: two
    * equi-joins back to `vn` reattach (vector, norm) per side — the
    * wide arrays never ride the candidate dedup shuffle (measured: wide
    * embeddings through the bucket join cost ~10s at sf0.1), and the
    * corpus never collects to the driver. Cosine folds in array order
    * in DOUBLE (identical to the brute-force baseline and the DuckDB
    * oracle fold) and rounds HALF_UP at 4dp before ranking so every
    * engine ranks identical values.
    */
  private def scorePairs(cand: DataFrame, vn: DataFrame): DataFrame =
    cand
      .join(vn.select(col("id").as("id1"), col("e").as("e1"),
        col("nrm").as("n1")), "id1")
      .join(vn.select(col("id").as("id2"), col("e").as("e2"),
        col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(Native.dotF(col("e1"), col("e2")) /
          (col("n1") * col("n2")), 4).as("cos"))

  /** Approximate top-k neighbour pairs by cosine: (id1, id2, cos),
    * global top-k over candidate pairs (compare to the exact brute-force
    * top-k to measure recall).
    */
  /** bits/nCentroids auto-sizing: a FIXED bucket count is a scale trap —
    * with constant buckets, bucket occupancy grows linearly with the
    * corpus and per-bucket candidate pairs grow QUADRATICALLY (measured
    * in the sf1.0 rehearsal: 10× data → 27× LSH / 49× IVF wall time
    * with the round-5 fixed configs). Sizing buckets to the data keeps
    * expected occupancy bounded (LSH: ~`lshTargetBucket` rows/bucket)
    * or √n-shaped (IVF: √n cells of √n rows → n^1.5 candidate work,
    * the standard IVF operating point).
    */
  private val lshTargetBucket = 32L

  private[graft] def autoBits(n: Long): Int =
    math.max(6, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, (n - 1) / lshTargetBucket)))

  private def autoCentroids(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  def approxCosineTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int = 64, bits: Int = 0, tables: Int = 32,
      seed: Long = 42L, probes: Int = 0): DataFrame =
    scoredCandidates(df, idCol, vecCol, dim, bits, tables, seed, probes)
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(k)

  /** All LSH candidate pairs with exact cosine scores, UNRANKED —
    * [[approxCosineTopK]] ranks them with one TakeOrdered.
    */
  private[graft] def scoredCandidates(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, bits: Int, tables: Int,
      seed: Long, probes: Int): DataFrame = {
    // one pass computes norms + signatures; persisted because the
    // scoring joins re-read it (twice) after the candidate shuffle.
    // Signatures come from the codegen'd native expression (all tables
    // in one primitive pass over the unsafe array — the former Scala
    // UDF boxed each vector into Seq[Float] and broke codegen).
    val vn = withNorm(df, idCol, vecCol).persist()
    // bits <= 0 = auto-size to the corpus (the count rides the persisted
    // norm frame, so it is one cheap columnar pass, paid once)
    val nBits = if (bits > 0) bits else autoBits(vn.count())
    val sigs = vn
      .select(col("id"), posexplode(
        Native.lshSignatures(col("e"), dim, nBits, tables, seed))
        .as(Seq("tbl", "sig")))
    // Multiprobe (probes > 0): one side of the candidate join also
    // visits the `probes` Hamming-1 neighbour buckets (sig with one bit
    // flipped). A near pair whose signatures differ in exactly one bit
    // of some table — the dominant miss mode, since per-bit collision
    // is (1 - θ/π) — is then still found via that table, trading a
    // bounded (1 + probes)× probe-row fan-out for recall instead of
    // paying ~2× tables. Only the probe SIDE expands; bucket contents
    // are unchanged, so the join stays an equi-join on (tbl, sig) and
    // the Hamming-1 pair is found when the smaller id probes the
    // larger id's home bucket.
    val nProbe = math.min(probes, nBits)
    val probeSide =
      if (nProbe <= 0) sigs.select(col("id").as("id1"), col("tbl"),
        col("sig"))
      else sigs.select(col("id").as("id1"), col("tbl"),
        explode(array(col("sig") +: (0 until nProbe).map(b =>
          col("sig").bitwiseXOR(lit(1 << b))): _*)).as("sig"))
    val cand = probeSide
      .join(sigs.select(col("id").as("id2"), col("tbl").as("tbl2"),
        col("sig").as("sig2")),
        col("tbl") === col("tbl2") && col("sig") === col("sig2") &&
          col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
    scorePairs(cand, vn)
  }

  /** IVF (inverted-file) ANN: coarse-quantize vectors to centroid
    * buckets, generate candidates ONLY within shared buckets, exact
    * cosine re-rank. The scale path when the corpus outgrows LSH table
    * tuning: centroids = √N-ish coarse cells, each vector probes its
    * `nprobe` nearest cells, candidate generation is an equi-join on
    * cell id — never all-pairs.
    *
    * Determinism (SURVEY.md A.6): the coarse quantizer is NOT k-means
    * (iterative, init-sensitive) but a fixed data-driven sample —
    * centroids are the `nCentroids` vectors with the smallest
    * xxhash64(id) mix, reproducible on any run/partitioning (swapped
    * from a byteswap64 UDF in round 8: xxhash64 is a codegen'd builtin
    * with the same deterministic-mix property, removing the only
    * per-row JVM UDF on a declared query's path). The pick
    * is a distributed TakeOrdered over the mix column; only the
    * nCentroids centroid rows themselves reach the driver (they must —
    * every executor needs all of them — and they are few by
    * construction).
    */
  def ivfCosineTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int = 0, nprobe: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vn = withNorm(df, idCol, vecCol).persist()
    // nCentroids <= 0 = auto: √n cells keeps candidate work ~n^1.5
    val nC = if (nCentroids > 0) nCentroids else autoCentroids(vn.count())
    // rdd.takeOrdered, not orderBy().limit(): under the Dataset
    // deserializer the limit loses TakeOrderedAndProject fusion and
    // the pick pays a full range-sort exchange of all n wide rows
    // (the buildCellIndex find, applied here for the same reason);
    // takeOrdered merges per-partition top-nC slices on the driver —
    // zero shuffle at any corpus size, id tie-break keeps the pick
    // total on a mix collision
    val centroids = vn
      .select(xxhash64(col("id")).as("mix"), col("id"), col("e"),
        col("nrm"))
      .as[(Long, Long, Array[Float], Double)]
      .rdd
      .takeOrdered(nC)(Ordering.by(t => (t._1, t._2)))
      .map(t => (t._2, t._3, t._4))
    val bcC = spark.sparkContext.broadcast(centroids)
    // assignment: nprobe nearest cells per vector (cos desc, cell asc).
    // The assignment rows CARRY (e, nrm) — the mapPartitions pass has
    // them in hand anyway, and the cell self-join below then scores
    // every candidate IN-ROW at pair birth. The former shape emitted
    // skinny (id, cell) rows and re-joined the vector frame onto the
    // candidate list by id — fine while AQE broadcast-rescues the
    // corpus side, but at scale IVF candidates are n^1.5-sized
    // (√n cells × in-cell pairs), so the dedup + two scoring joins
    // each exchanged an n^1.5-row frame; the wide assignment exchange
    // is nprobe·n rows — linear — and nothing pair-sized ever
    // shuffles again (the scored dedup reuses the join's output
    // partitioning; the global top-k is a TakeOrdered).
    val assigned = vn.select(col("id"), col("e"), col("nrm"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions { it =>
        val cs = bcC.value
        it.flatMap { case (id, e, n1) =>
          cs.map { case (cid, ce, cn) =>
            var dot = 0.0; var j = 0
            while (j < e.length) { dot += e(j).toDouble * ce(j).toDouble; j += 1 }
            (cid, dot / (n1 * cn))
          }.sortBy { case (cid, cos) => (-cos, cid) }
            .take(nprobe)
            .map { case (cid, _) => (id, cid, e, n1) }
        }
      }.toDF("id", "cell", "e", "nrm")
    assigned.select(col("id").as("id1"), col("cell"),
        col("e").as("e1"), col("nrm").as("n1"))
      .join(assigned.select(col("id").as("id2"), col("cell").as("cell2"),
        col("e").as("e2"), col("nrm").as("n2")),
        col("cell") === col("cell2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(Native.dotF(col("e1"), col("e2")) /
          (col("n1") * col("n2")), 4).as("cos"))
      // a pair sharing >1 probed cell scores identically in each —
      // dedup the SCORED skinny rows (id, id, cos), never a wide frame
      .dropDuplicates("id1", "id2")
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(k)
  }

  /** Per-query top-k: for every vector, its k nearest candidates —
    * the vectors sharing at least one (table, signature) bucket with
    * it — as (qid, nid, cos, rnk) ranked by (cos DESC, nid ASC).
    *
    * Each bucket becomes one member block (autoBits keeps its expected
    * occupancy near `lshTargetBucket`), and the block kernel
    * ([[BlockTopK.neighbours]]) scores every pair inside it once, in-row,
    * keeping each member's top-k within the block. A vector's final
    * top-k is the merge of its per-block lists, each neighbour once
    * ([[BlockTopK.merge]]). That is exact for the candidate set: a
    * neighbour in the true top-k has fewer than k better candidates
    * overall, so fewer than k in any block it shares with the query,
    * and it is in that block's list; a pair that meets in several
    * tables scores identically in each. Nothing pair-sized is ever a
    * row: the bucket shuffle carries each vector once per table, the
    * merge shuffle at most one k-entry list per (vector, block).
    * Ids must be integral (they are ranked as bigint).
    */
  def approxNeighbors(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int = 64, bits: Int = 0, tables: Int = 32,
      seed: Long = 42L): DataFrame = {
    val nBits = if (bits > 0) bits else autoBits(df.count())
    val idType = df.schema(idCol).dataType
    // a NULL id never ranks as a candidate, as under `id1 < id2`
    val blocks = withNorm(df, idCol, vecCol)
      .filter(col("id").isNotNull)
      .select(struct(col("id").cast("long"), col("e"), col("nrm")).as("m"),
        posexplode(Native.lshSignatures(col("e"), dim, nBits, tables, seed))
          .as(Seq("tbl", "sig")))
      .groupBy("tbl", "sig")
      .agg(collect_list(col("m")).as("ms"))
    blocks.select(explode(BlockTopK.neighbours(col("ms"), k)).as("b"))
      .groupBy(col("b.qid").as("qid"))
      .agg(collect_list(col("b.top")).as("tops"))
      .select(col("qid"), posexplode(BlockTopK.merge(col("tops"), k))
        .as(Seq("pos", "t")))
      .select(col("qid").cast(idType).as("qid"),
        col("t.id").cast(idType).as("nid"), col("t.cos").as("cos"),
        (col("pos") + 1).as("rnk"))
      .orderBy("qid", "rnk")
  }
}
