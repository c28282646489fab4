package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Ring
import graft.functions.Native

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim `Array[Float]`, 10-way `label` partitioning) — the north-star
  * similarity-search component.
  *
  * Two paths, per the brief:
  *  - [[cosineTopK]] — brute-force cosine top-k: the exact baseline. Query
  *    set is broadcast; the corpus is scanned ONCE with norms precomputed
  *    per row; ranking is a per-query window. Cost O(|Q|·N·d) — correct at
  *    any scale where |Q| is small, and embarrassingly parallel (no shuffle
  *    of the corpus, only of the top candidates).
  *  - [[ivfTopK]] — the scale path: IVF-style partition pruning. Vectors are
  *    coarsely clustered (here the table's own `label` plays the centroid
  *    assignment); a query probes ONLY its own cluster (nprobe=1), cutting
  *    scanned rows by the cluster fan-out. On a real lake the table would be
  *    partitioned/bucketed by the cluster id so probing is a partition-pruned
  *    scan, not a filter.
  *
  * All arithmetic is double (floats are cast up LOSSLESSLY), accumulated
  * sequentially via the `aggregate` higher-order function — bit-identical to
  * the DuckDB oracle's `list_reduce` left-fold, which is what makes an
  * IEEE-float query hash-comparable across engines. No UDFs.
  */
object Similarity {

  /** The query set: a FIXED literal ID list (≤ 20 vectors at every SF).
    *
    * Round-2 verdict finding: the previous definition (`vec_id % 50 == 0`)
    * was 2% OF THE CORPUS — scale-proportional, so `broadcast(q)` meant
    * shipping ~20M vectors at a 1e9-row corpus (driver/executor OOM), the
    * same class of bug as round 1's `broadcast(customer)`. A literal ID
    * list is what a real ANN query actually is: K externally-chosen probe
    * vectors, constant in corpus size. With |Q| bounded, broadcasting the
    * query side is the CORRECT plan at any scale (the corpus never
    * shuffles; each scan task gets the 20 queries). PlanSpec asserts the
    * broadcast side carries the pushed `In(vec_id, ...)` filter. */
  val QueryIds: Seq[Long] = (0L to 950L by 50L)
  private def isQuery: Column = col("vec_id").isin(QueryIds: _*)
  private val queryIdsSql: String = QueryIds.mkString("(", ", ", ")")

  /** Elementwise-double view of the embedding + its L2 norm, computed once
    * per row (not once per pair). */
  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Sequential-fold dot product — the native kernel; same fold order as
    * `aggregate(zip_with(...))` and the oracle's `list_reduce`, so float
    * results stay bit-identical (NativeSpec asserts it). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.Native.dotProduct(a, b)

  /** Micro-units similarity: floor(sim*1e6 + 0.5) — same literal IEEE ops as
    * the oracle, so equality is exact. */
  private def simMicro(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("long")

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), simMicro(col("sim"))
        .as("sim_micro"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ── q23: brute-force cosine top-k (exact baseline) ──────────────────────
  /** Core of the brute-force scan over an already-normalized corpus frame
    * `(vec_id, label, v, nrm)` — factored out so the recall spec can drive
    * the SAME operator over a constructed corpus (ground truth for the
    * IVF recall gate). */
  private[graft] def bruteTopK(e: DataFrame, k: Int): DataFrame = {
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qn"))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    rankTopK(pairs, k)
  }

  def cosineTopK(s: SparkSession, d: String): DataFrame =
    bruteTopK(withNorm(Tables.embeddings(s, d)), 10)

  private val normedSql: String =
    """n AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings)""".stripMargin

  /** DuckDB dot product with the same left-fold order as Spark's
    * `aggregate(..., 0.0, _+_)`: prepend the 0.0 init so the reduction
    * sequence is identical (0+x1)+x2+… */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 65), i -> $a[i] * $b[i])), (x, y) -> x + y)""".stripMargin

  /** `pairs`: each query vector's cosine `sim` to every vector `e` of
    * `corpus` that satisfies `on`. */
  private def queryPairsSql(corpus: String, on: String): String =
    s"""pairs AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    ${dotSql("q.v", "e.v")} / (q.nrm * e.nrm) AS sim
       |  FROM n q JOIN $corpus e ON q.vec_id IN $queryIdsSql AND $on)""".stripMargin

  /** The top-`k` of `pairs(q_id, n_id, sim)` per query, ranked by
    * (sim desc, n_id), with the cosine in integer micros. */
  private def simMicroTopKSql(k: Int): String =
    s"""SELECT q_id, rank, n_id, CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
       |      FROM pairs)
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** q86's quantized centroids of the vectors `rows(label, v)`: `perdim`
    * (each dimension in integer milli-units) and `cents`. */
  private def centroidsSql(rows: String): String =
    s"""perdim AS (
       |  SELECT label, i AS pos, CAST(floor(v[i + 1] * 1000.0 + 0.5) AS BIGINT) AS qx
       |  FROM $rows, range(0, 64) t(i)),
       |cents AS (
       |  SELECT label, list(c ORDER BY pos) AS cv FROM (
       |    SELECT label, pos,
       |      CAST(sum(qx) AS DOUBLE) / 1000.0 / CAST(count(*) AS DOUBLE) AS c
       |    FROM perdim GROUP BY label, pos)
       |  GROUP BY label)""".stripMargin

  /** The centroid probe after [[centroidsSql]]: `assigned` (each query's
    * `nprobe` nearest centroids as `probe_label`) and `pairs` (its cosine
    * to the other vectors of `corpus` under those labels). */
  private def probePairsSql(nprobe: Int, corpus: String): String =
    s"""assigned AS (
       |  SELECT q_id, label AS probe_label FROM (
       |    SELECT q.vec_id AS q_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_transform(range(1, 65),
       |            i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))),
       |          (a, b) -> a + b) ASC, c.label ASC) AS arank
       |    FROM n q, cents c WHERE q.vec_id IN $queryIdsSql)
       |  WHERE arank <= $nprobe),
       |pairs AS (
       |  SELECT a.q_id, e.vec_id AS n_id,
       |    ${dotSql("q.v", "e.v")} / (q.nrm * e.nrm) AS sim
       |  FROM assigned a
       |  JOIN n q ON q.vec_id = a.q_id
       |  JOIN $corpus e ON e.label = a.probe_label AND e.vec_id <> a.q_id)""".stripMargin

  val cosineTopKSql: String =
    s"""WITH $normedSql,
       |${queryPairsSql("n", "e.vec_id <> q.vec_id")}
       |${simMicroTopKSql(10)}""".stripMargin

  // ── q24: IVF-style partition-pruned top-k (nprobe=1) ────────────────────
  /** Probes only the query's own coarse cluster: the equi-join on `label`
    * replaces the cross join, so each corpus row is compared against only
    * the queries that landed in its cluster — at 1000 clusters that is
    * ~0.1% of the brute-force work, the IVF trade (exactness within the
    * probed cluster, recall loss only across cluster boundaries). */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
              col("v").as("qv"), col("nrm").as("qn"))
    val pairs = e.join(broadcast(q),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    rankTopK(pairs, 5)
  }
  val ivfTopKSql: String =
    s"""WITH $normedSql,
       |${queryPairsSql("n", "e.label = q.label AND e.vec_id <> q.vec_id")}
       |${simMicroTopKSql(5)}""".stripMargin

  // ── q81: metadata-filtered vector search (pre-filter, then exact) ───────
  /** Filtered ANN — "find the 5 nearest ENGLISH documents": top-k cosine
    * restricted to corpus vectors whose document row satisfies a metadata
    * predicate (`lang = 'en'`, joined on `vec_id = doc_id`). The design
    * point is PRE-filtering: the predicate lands on the corpus BEFORE any
    * dot product, as a semi-join standing in for the pushed-down scan
    * predicate it would be on a lake where metadata and vectors share a
    * row (post-filtering a top-k instead silently returns < k results
    * whenever the filter eats a neighborhood — the classic filtered-ANN
    * failure).
    *
    * Scale shape: the metadata side never carries vectors (doc_id +
    * pushed `lang` filter only, column-pruned at the scan), the semi-join
    * co-partitions on the id, and the query set stays the one broadcast —
    * the corpus still never shuffles its embeddings. Queries are NOT
    * filtered: probes come from outside the predicate's world, as in a
    * real retrieval API. */
  def filteredTopK(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val keys = Tables.documents(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qn"))
    val pairs = e.join(keys, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    rankTopK(pairs, 5)
  }
  val filteredTopKSql: String =
    s"""WITH $normedSql,
       |f AS (
       |  SELECT n.vec_id AS vec_id, n.v AS v, n.nrm AS nrm
       |  FROM n JOIN documents d ON n.vec_id = d.doc_id
       |  WHERE d.lang = 'en'),
       |${queryPairsSql("f", "e.vec_id <> q.vec_id")}
       |${simMicroTopKSql(5)}""".stripMargin

  // ── q35: embedding-cosine near-dup via random-hyperplane LSH ────────────
  /** Fixed pseudo-random hyperplanes (Knuth-hash doubles in [-0.5, 0.5)).
    * The sketch is computed by the fused native `sign_sketch_bands` kernel
    * ([[graft.functions.Native.signSketchBands]]), which derives exactly
    * these values inline; this generator remains as the executable spec —
    * NativeSpec asserts the fused kernels match a literal-array
    * reconstruction built from it, sign for sign. */
  private[graft] def hyperplane(j: Int): Seq[Double] =
    (0 until 64).map(i =>
      (((j.toLong * 64 + i) * 2654435761L) % 1000L) / 1000.0 - 0.5)

  // private[graft]: NearDupRecallSpec reconstructs the sketch from the
  // same constants so the geometry can't silently drift from its spec
  private[graft] val SketchBits = 120
  private[graft] val NChunks    = 5
  private val ChunkBits  = SketchBits / NChunks // 5 × 24-bit chunks

  /** Near-duplicate vectors by cosine, found through a sign-bit sketch:
    * bit j = sign(v·h_j) over [[SketchBits]] fixed hyperplanes; the sketch
    * is split into [[NChunks]] disjoint [[ChunkBits]]-bit chunks
    * (pigeonhole banding); vectors sharing ANY chunk become candidates
    * (bucketed join — never all-pairs), then candidates are verified with
    * exact cosine >= 0.999.
    *
    * Geometry is the scale knob, and BOTH axes matter (r2 verdict, r5
    * sf1 ladder, r5 advice, r8 sf10 ladder):
    *  - CHUNK WIDTH bounds random collisions: NChunks/2^ChunkBits per
    *    pair, so candidates grow quadratically in corpus size and the
    *    bucket count must scale ahead of N². 8-bit chunks (256 buckets)
    *    died at sf0.01; 15-bit were fine to sf0.1 but BENCH_sf1 measured
    *    q35 at 20× the sf0.1 time on 10× the data (~30M random candidate
    *    pairs at a 22k corpus). 20-bit chunks (1M buckets) cut that 42×,
    *    then hit the same wall one decade up: the r8 sf10 spot-bench
    *    (1M-vector corpus) measured 22× on 10× the data — ~2M random
    *    collisions at 4/2^20 per pair, right on the law's prediction.
    *  - CHUNK COUNT bounds false negatives: NChunks disjoint chunks
    *    guarantee a shared chunk whenever Hamming(sketch) ≤ NChunks−1 —
    *    and the needed budget GROWS with the sketch: a genuine
    *    0.999-cosine pair flips each bit with probability
    *    arccos(0.999)/π ≈ 1.4%, i.e. ~SketchBits/70 expected flips, so
    *    widening chunks without adding one risks exactly the silent
    *    Hamming-tail drop the r5 3×20 interim shipped.
    * Current 5×24 geometry (r8): 16.8M buckets/band cuts sf10's random
    * collisions ~13×, and the 5th chunk raises the guarantee to
    * Hamming ≤ 4, covering the ~1.7 expected flips over 120 bits with
    * the same margin the 80-bit/4-chunk shape had. The fused
    * [[graft.functions.Native.signSketchBands]] kernel emits band structs
    * directly (no 63-bit Long cap), so the next decade is the same move
    * again: grow ChunkBits ahead of N², add a chunk when expected flips
    * approach the budget.
    *
    * Round 9 (sf100 ladder) found the SECOND collision regime, the one
    * geometry cannot touch: sub-threshold near-dup FAMILIES (perturbed
    * replicas here; boilerplate/template embeddings in production) sit at
    * small sketch Hamming — [[graft.tools.LshDiag]] measured the family
    * distribution centered at ~5 flips ≈ cosine 0.99, INSIDE the
    * pigeonhole band that recall requires — so every family pair is a
    * candidate at any chunk width, and candidate count grows with the
    * square of family size while true output stays linear. The fix is
    * not fewer candidates (information-theoretically impossible for a
    * sketch-based generator honoring the Hamming ≤ NChunks−1 contract)
    * but a candidate set that never MATERIALIZES: see the inline-verify
    * note in [[nearDupPairs]].
    *
    * The harness embeddings have no natural near-dups (all pairs < 0.8),
    * so every vec_id % 25 == 0 gains a SCALED twin (×1.0001, id+100000) —
    * same direction ⇒ identical sign sketch ⇒ candidate with NO LSH
    * false-negative risk, the property that makes the exact oracle safe.
    * Angular near-dups would carry the usual LSH miss probability — that
    * trade (recall vs candidate count) is tuned via bits-per-chunk. */
  def cosineNearDup(s: SparkSession, d: String): DataFrame =
    nearDupPairs(twinCorpus(s, d))

  /** The q35/q90 corpus: the non-null embeddings as double vectors
    * `(vec_id, v)`, plus a twin of every `vec_id % 25 == 0` vector scaled
    * by 1.0001 under `vec_id + 100000` (the planted near-dups). */
  private[graft] def twinCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    base.unionByName(
      base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("v"), x => x * 1.0001).as("v")))
  }

  /** Core of the sketch-bucketed near-dup scan over a `(vec_id, v)` corpus
    * frame — factored out so NearDupRecallSpec can drive the SAME operator
    * over a corpus with ORGANIC near-dup pairs (sketches differing in 1–3
    * bits), the false-negative scenario the 4-chunk geometry exists for
    * (r5 advice, medium). */
  private[graft] def nearDupPairs(corpus0: DataFrame): DataFrame = {
    val corpus = corpus0
      // coalesce: same nullability launder as the sketch below — without
      // it the verify join's sim predicate infers isnotnull(nrm) and
      // pushes a Filter that re-inlines a SECOND 64-mult dot_product per
      // row below this Project. The 0.0 arm never fires (embedding is
      // null-filtered; a null element nulls the sim numerator anyway).
      .withColumn("nrm", coalesce(sqrt(dot(col("v"), col("v"))), lit(0.0)))
    // fused native sketch→bands: ONE generator expression, so explode
    // evaluates the kernel once per row (the per-bit literal-hyperplane
    // form built a ~4000-node tree whose planning + codegen compilation
    // alone cost ~1.2 s/run, r4; the array(struct(..sketch..)×4) form
    // inlined the sketch subtree into the generator 4×, and a separate
    // nullable sketch COLUMN invited isnotnull constraint pushdown to
    // re-inline it into per-branch Filters — both PlanSpec-pinned).
    // Null semantics: a null-element vector yields a null band array and
    // explode drops the row — same observable outcome as before (its
    // verify-stage cosine was null → filtered, like the oracle's
    // null-sim drop), and base is already null-vector-filtered.
    val chunks = corpus.select(col("vec_id"), col("v"), col("nrm"),
        explode(Native.signSketchBands(col("v"), SketchBits, NChunks)).as("ch"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("ch.band").as("chunk"), col("ch.bh").as("cv"))
    // Exact verify INLINE at band-match time (r9 — the sf100 ladder's
    // second catch): the previous shape materialized the candidate-pair
    // set (distinct, then two id-joins re-attaching vectors) — payload
    // O(candidates)·|v|, and candidates are what sub-threshold near-dup
    // FAMILIES grow quadratically (LshDiag at sf1: 376k band matches
    // centered at Hamming ~5, i.e. perturbed-replica pairs INSIDE the
    // pigeonhole band no geometry can exclude — at sf100 the rerank
    // joins spilled the disk past 60 GB before failing). Here each band
    // row carries its vector ONCE — payload O(N·NChunks)·|v| — and every
    // match streams through the exact cosine filter with no pair ever
    // hitting disk; only the (linear) survivors are deduped. Output set
    // IDENTICAL: the same pairs meet, the same exact predicate decides,
    // duplicates (a pair sharing ≤NChunks bands) collapse on the
    // deterministic (a_id, b_id, sim_micro) triple — at the contracted
    // price of re-verifying a surviving pair once per shared band.
    val matches = chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
          .as("sim"))
      .filter(col("sim") >= 0.999)
    matches.select(col("a_id"), col("b_id"), simMicro(col("sim"))
        .as("sim_micro"))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))
  }
  val cosineNearDupSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |corpus AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(v, x -> x * 1.0001)
       |  FROM base WHERE vec_id % 25 = 0),
       |n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
       |  FROM corpus),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS sim
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT a_id, b_id, CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
       |FROM pairs WHERE sim >= 0.999
       |ORDER BY a_id, b_id""".stripMargin

  // ── q38: IVF with COMPUTED centroids (coarse quantizer from the data) ───
  /** Full IVF shape: train the coarse quantizer (per-cluster centroid),
    * assign each query to its nearest centroid, probe that cluster only.
    *
    * Determinism trick that makes float centroids oracle-exact: per-dim
    * components are quantized to integers (floor(x*1000+0.5)) BEFORE the
    * per-cluster sum, so the sum is order-independent (integer addition
    * commutes; float summation would depend on shuffle order), and the
    * centroid is the exact double sum/n. Assignment = argmin L2 with
    * (dist, label) tie-break; probe = cosine top-5 within the cluster.
    *
    * Scale: centroid training is one posexplode + two partial-aggregated
    * shuffles of (cluster, dim) pairs; assignment is a broadcast of the
    * tiny centroid table; the probe joins each query against one cluster
    * — the IVF pruning that replaces the full-corpus scan. */
  /** Core of the computed-centroid IVF probe over an already-normalized
    * corpus frame `(vec_id, label, v, nrm)`. `nprobe` is the recall knob:
    * each query scans its `nprobe` nearest clusters instead of one —
    * multi-probe is the standard fix for the single-probe recall cliff
    * (a query near a cluster boundary finds its cross-boundary neighbors
    * in probe 2+). Cost scales linearly: nprobe/nlist of the corpus per
    * query. IvfRecallSpec measures recall@k against [[bruteTopK]] ground
    * truth on a clustered corpus with deliberate boundary queries. */
  private[graft] def ivfCentroidProbe(e: DataFrame, nprobe: Int, k: Int)
      : DataFrame =
    ivfProbeWith(e, trainCentroids(e), nprobe, k)

  /** Coarse-quantizer training half, factored out so the amortized q86
    * can materialize it: per-cluster exact centroid over integer-quantized
    * components (the determinism trick above). One posexplode + two
    * partial-aggregated shuffles of (cluster, dim) longs; output is
    * nlist rows of (label, cv) — the entire model. */
  private[graft] def trainCentroids(e: DataFrame): DataFrame = {
    val perDim = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("qx", floor(col("x") * 1000.0 + lit(0.5)).cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qx")).as("sx"), count(lit(1)).as("n"))
    perDim.groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("sx").cast("double") / lit(1000.0) / col("n").cast("double"))
            .as("c")))),
        s => s.getField("c")).as("cv"))
  }

  /** Assignment + probe half against a GIVEN centroid table (trained
    * in-query by q38/q59, read from the materialized warehouse index by
    * q86). */
  private[graft] def ivfProbeWith(e: DataFrame, cents: DataFrame,
                                  nprobe: Int, k: Int,
                                  dedupPairs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qn"))
    val l2 = aggregate(
      zip_with(col("qv"), col("cv"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, x) => a + x)
    val wAssign = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("label").asc)
    val assigned = q.crossJoin(broadcast(cents))
      .withColumn("dist", l2)
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"),
              col("label").as("probe_label"))
    val pairs0 = e.join(broadcast(assigned),
        col("label") === col("probe_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    // q141's replay tolerance: a crashed-and-replayed ingest batch leaves
    // byte-identical posting rows, which would rank the same neighbor
    // twice; dedup at PAIR grain so the cost is bounded by the probed
    // cells, never a corpus-wide shuffle before the join
    val pairs = if (dedupPairs) pairs0.dropDuplicates(Seq("q_id", "n_id"))
                else pairs0
    rankTopK(pairs, k)
  }

  def ivfCentroidTopK(s: SparkSession, d: String): DataFrame =
    ivfCentroidProbe(withNorm(Tables.embeddings(s, d)), nprobe = 1, k = 5)

  // ── q86: IVF through a MATERIALIZED centroid index — the serving path ──
  /** q38's amortized form, completing the q82 story for the ANN family:
    * the coarse quantizer is a pure function of the standing corpus, so
    * it is trained ONCE into the session warehouse (crash-safe
    * writeAndSwap, path-keyed) and every subsequent query batch pays
    * only assignment (a broadcast of nlist centroid rows) + the
    * single-cluster probe. The training pass — a posexplode over every
    * corpus vector × dimension, BY FAR the dominant cost at scale — is
    * gone from the steady state, exactly like q82's corpus-linear prefix
    * work moving into its one-time index. Same oracle as q38: reading
    * the model from parquet instead of recomputing it must not change a
    * single row. */
  def ivfIndexedTopK(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val tag = Tables.datasetTag(s, d, "embeddings") // stale-proof key
    val cents = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "ivf_cents", tag), trainCentroids(e))
    ivfProbeWith(e, cents, nprobe = 1, k = 5)
  }

  // ── q141: INCREMENTAL IVF ingest — the ANN family's arrival path ────────
  /** The lifecycle hole between q86 (build once) and q89/refresh (drift
    * → rebuild): what a serving deployment does with vectors that ARRIVE.
    * Real IVF systems never rebuild per batch — under a FROZEN coarse
    * quantizer, cell assignment is per-vector-independent, so an incoming
    * batch appends its posting rows into a standing CELL-PARTITIONED
    * postings table (`partitionBy(label)` — the on-disk twin of an IVF
    * inverted list) and is immediately searchable. The registered query
    * folds the corpus through two hash-carved batches (presence-keyed:
    * a missing batch id is appended, an existing one skipped — the
    * idempotent crash contract, exercised every run against the standing
    * table) and probes — against q86's ORACLE VERBATIM: the gate itself
    * proves ingest-decomposition ≡ one-shot index (the q112/q137 stance).
    *
    * Scale shape, and the reason the table is partitioned: the probe
    * joins postings to the broadcast query-assignment on the PARTITION
    * column, so Spark's dynamic partition pruning reads only the probed
    * cells — the corpus-wide scan q24/q38/q86 pay per probe batch becomes
    * nprobe inverted lists (PlanSpec pins `dynamicpruning` on the
    * postings scan). The query-vector fetch itself stays a pushed
    * `In(vec_id, …)` scan because the harness draws probes from the
    * corpus; an external probe set skips even that. Replay duplicates are
    * absorbed at pair grain ([[ivfProbeWith]]'s dedup, cell-bounded) and
    * GC'd permanently by [[compactIvfPostings]] — partition-preserving,
    * through [[IvfLedger]]'s `partitionBy`.
    * Batches must be new vec_ids (the append contract everywhere);
    * centroid staleness is q89's department — the drift loop composes
    * unchanged because both read the same shared quantizer artifact. */
  private[graft] def appendIvfBatch(postPath: String, vecs: DataFrame,
                                    batchId: String): Unit =
    IvfLedger.append(postPath,
      vecs.select(col("vec_id"), col("v"), col("nrm"), col("label")), batchId)

  /** The cell-partitioned postings: one row per vector, `label=` cells. */
  val IvfLedger = graft.etl.Ledger(clusterKey = "label",
    rowKey = Seq("vec_id"), partitionBy = Some("label"))

  /** The postings table in [[ivfProbeWith]]'s corpus shape (label is a
    * partition directory on disk; cast back to the source column type). */
  private[graft] def readPostings(s: SparkSession,
                                  postPath: String): DataFrame =
    graft.etl.Merge.readArtifact(s, postPath)
      .select(col("vec_id"), col("label").cast("int").as("label"),
        col("v"), col("nrm"))

  /** Partition-preserving compaction (the `label=` layout the probe's
    * dynamic pruning needs survives). Returns (files before, after). */
  def compactIvfPostings(s: SparkSession, postPath: String): (Int, Int) =
    IvfLedger.compact(s, postPath)

  def ivfIncremental(s: SparkSession, d: String): DataFrame = {
    val e = Ring.carve(withNorm(Tables.embeddings(s, d)), "vec_id")
    val tag = Tables.datasetTag(s, d, "embeddings")
    val postPath = graft.etl.Artifacts.path(s, "ivf_post", tag)
    Ring.fold(s, postPath, e, 50, 100)(appendIvfBatch(postPath, _, _))
    val post = readPostings(s, postPath)
    // the SAME quantizer artifact q86/q133 serve from — one coarse model
    // for the whole ANN family; content is identical whichever query
    // builds it first (trainCentroids is order-independent integer sums).
    // Train on vec_id-deduped rows: in the crash-replay window (data
    // visible, marker absent) the healing re-append leaves duplicate
    // postings rows; the pair-grain dedup protects ranking but NOT the
    // cell means a frozen quantizer is built from (ADVICE r18) — a
    // skewed centroid artifact would diverge q141 from its q86 oracle
    // permanently once materialized.
    val cents = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "ivf_cents", tag),
      trainCentroids(post.dropDuplicates(Seq("vec_id"))))
    ivfProbeWith(post, cents, nprobe = 1, k = 5, dedupPairs = true)
  }

  // ── q149: TAKEDOWN propagation through the IVF postings ────────────────
  /** The q144/q145 retraction verb reaching the ANN ring: a takedown of
    * indexed vectors must stop them surfacing as neighbors WITHOUT a
    * corpus re-embed or full index rebuild. Postings rows are per-vector
    * (not mergeable sums), so deletion is the TOMBSTONE half of the
    * retraction pattern: the deleted vec_id set appends to a `del`
    * member (batch-keyed, replay-absorbed by distinct), every probe
    * anti-joins it — O(deleted) rows broadcast, never a corpus shuffle —
    * and [[IvfLedger]]`.compact` with `del` physically drops the masked rows on the
    * normal partition-preserving compaction cadence.
    *
    * The coarse quantizer is NOT patched in place: centroids are means
    * over the corpus, and a deletion shifts them. The registered query
    * retrains the (nlist-row) quantizer from the NET postings into its
    * own artifact — the honest post-takedown model — which is exactly
    * what the gate needs: the ORACLE is q86's one-shot SQL on the
    * REDUCED corpus, so fold(appends + deletes) ≡ rebuild-on-what-
    * remains covers training AND serving. In production the retrain is
    * the q89 drift loop's department; serving correctness (deleted
    * vectors never returned) holds from the tombstone write onward
    * regardless of quantizer staleness. Query vectors are never
    * retracted (a probe needs its probe set), mirroring the harness
    * carve everywhere else. */
  /** [[readPostings]] minus the tombstoned vectors — the NET index every
    * q149 consumer (probe AND retrain) reads. The anti-join broadcasts
    * the retention-bounded tombstone set above the partitioned scan, so
    * cell-pruned reads stay cell-pruned. */
  private[graft] def readPostingsNet(s: SparkSession, postPath: String,
                                     delPath: String): DataFrame =
    graft.etl.Ledger.mask(s, readPostings(s, postPath), delPath)

  /** q149: ANN serving under takedown — the corpus folds in as two
    * ingest batches (q141's lifecycle), the bucket-[20,30) slice
    * retracts as tombstones, the quantizer trains on the net postings,
    * and the probe answers from the net index. Gated against q86's
    * one-shot oracle on the REDUCED corpus. */
  def ivfRetract(s: SparkSession, d: String): DataFrame = {
    val e = Ring.carve(withNorm(Tables.embeddings(s, d)), "vec_id")
    val tag = Tables.datasetTag(s, d, "embeddings")
    val postPath = graft.etl.Artifacts.path(s, "ivfr_post", tag)
    val delPath = graft.etl.Artifacts.path(s, "ivfr_del", tag)
    Ring.fold(s, postPath, e, 50, 100)(
      appendIvfBatch(postPath, _, _),
      // query vectors are never retracted: a probe needs its probe set
      Some((b, id) => IvfLedger.tombstone(postPath, delPath,
        b.filter(!isQuery).select(col("vec_id")), id)))
    val post = readPostingsNet(s, postPath, delPath)
    val cents = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "ivfr_cents", tag),
      trainCentroids(post.dropDuplicates(Seq("vec_id"))))
    ivfProbeWith(post, cents, nprobe = 1, k = 5, dedupPairs = true)
  }

  // ── q89: centroid drift statistic — the q86 refresh decision ────────────
  /** Mean distance-to-assigned-centroid of an incoming vector batch vs
    * the standing corpus, under a model FROZEN on the corpus — the
    * refresh-decision statistic for the materialized q86 quantizer
    * (VERDICT r10 item 1b). The split is the q42 portable-hash carve
    * (vec_id buckets [0, 90) = standing corpus, [90, 100) = incoming) so
    * both engines see the identical sides; centroids train on the CORPUS
    * side only and land as their own warehouse artifact (the held-out
    * model a drift test needs — q86's all-corpus artifact would leak the
    * batch into its own baseline). Interpretation: batch mean tracking
    * corpus mean = the frozen quantizer still fits arriving data; batch
    * mean pulling away = embedding drift, and the refresh is an artifact
    * delete away (datasetTag re-keys on any source regeneration).
    *
    * Determinism: per-vector distance uses the same quantized-centroid +
    * sequential-fold arithmetic as q38/q86 (bit-identical cross-engine,
    * proven by those gates), floored to integer micros PER VECTOR before
    * the mean, which is integer sum-div-count — no float aggregation
    * order anywhere. Scale shape: nlist centroid rows broadcast;
    * assignment is map-side; ONE partial-agg'd two-row aggregate. The
    * corpus×dim posexplode runs only at model build, exactly like q86. */
  /** Nearest-centroid assignment with integer-micros distance: for each
    * input vector (any passthrough columns + `vec_id`, `v`), the L2
    * distance to its argmin centroid — (dist, label) tie-break, floored
    * to micros per vector, the q38/q86 determinism arithmetic. Broadcast
    * of the nlist-row model; map-side otherwise. Shared by the q89 drift
    * statistic and [[refreshIfDrifted]]. */
  private def nearestDistMicro(vecs: DataFrame, cents: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l2 = aggregate(
      zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, x) => a + x)
    vecs.crossJoin(broadcast(cents.select(col("label").as("c_label"),
        col("cv"))))
      .withColumn("dist", l2)
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("dist").asc, col("c_label").asc)))
      .filter(col("arank") === 1)
      .withColumn("dist_micro",
        floor(col("dist") * lit(1000000.0) + lit(0.5)).cast("long"))
      .drop("arank", "dist", "cv", "c_label")
  }

  def centroidDrift(s: SparkSession, d: String): DataFrame = {
    val e = Ring.carve(withNorm(Tables.embeddings(s, d)), "vec_id")
    val tag = Tables.datasetTag(s, d, "embeddings")
    val cents = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "ivf_cents_c90", tag),
      trainCentroids(e.filter(Ring.corpus)
        .select(col("label"), col("v"))))
    nearestDistMicro(e.select(col("vec_id"), col("bucket"), col("v")), cents)
      .groupBy(when(Ring.incoming, lit("batch")).otherwise(lit("corpus"))
        .as("side"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(dist_micro) div count(1)").as("mean_dist_micro"))
      .orderBy(col("side"))
  }

  /** Drift-triggered REFRESH — the ACTION half of the q89 decision,
    * closing the materialized-model lifecycle (build: q86 → drift
    * statistic: q89 → refresh: this, mirroring the q82 index's
    * append/compact pair). Computes the q89 statistic under the FROZEN
    * model at `modelPath` (building it from `corpus` if absent); when the
    * batch's mean distance-to-assigned-centroid exceeds the corpus's by
    * more than `maxDriftBp` basis points, the quantizer retrains on
    * corpus ∪ batch and REPLACES the artifact through the crash-safe
    * [[graft.etl.Merge.writeAndSwap]] — an in-flight reader keeps the old
    * generation (its plan holds the old file listing), the next read
    * picks up the new model. Returns whether a refresh happened. The
    * decision arithmetic is the integer-micros / basis-points convention,
    * so it is deterministic across runs and engines; IvfRecallSpec drives
    * both branches (an in-distribution batch refreshes nothing, a shifted
    * batch triggers and the refreshed artifact equals a from-scratch
    * train on the union, byte-for-byte through the probe).
    *
    * Scale: the decision costs one broadcast assignment over corpus ∪
    * batch and a one-row aggregate per side (the q89 shape — no shuffle
    * of vectors); the retrain is the one-time q86 build cost, paid on
    * drift EVENTS, not query traffic. */
  def refreshIfDrifted(s: SparkSession, modelPath: String, corpus: DataFrame,
                       batch: DataFrame, maxDriftBp: Long = 2000L): Boolean = {
    val cents = graft.etl.Merge.materialize(s, modelPath,
      trainCentroids(corpus.select(col("label"), col("v"))))
    def meanMicro(vecs: DataFrame): Long =
      nearestDistMicro(vecs.select(col("vec_id"), col("v")), cents)
        .agg(expr("sum(dist_micro) div count(1)")).head.getLong(0)
    val drifted =
      meanMicro(batch) * 10000L > meanMicro(corpus) * (10000L + maxDriftBp)
    if (drifted)
      graft.etl.Merge.writeAndSwap(
        trainCentroids(corpus.select(col("label"), col("v"))
          .unionByName(batch.select(col("label"), col("v")))),
        modelPath, "refresh")
    drifted
  }

  /** Oracle: corpus-side quantized centroids, full-table assignment,
    * per-side integer mean. */
  val centroidDriftSql: String =
    s"""WITH $normedSql,
       |b AS (
       |  SELECT vec_id, label, v, ${Ring.bucketSql("vec_id")} AS bucket
       |  FROM n),
       |${centroidsSql(s"(SELECT * FROM b WHERE ${Ring.corpusSql("bucket")}) bc")},
       |ass AS (
       |  SELECT vec_id, bucket, dist, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist ASC, label ASC) AS arank
       |  FROM (
       |    SELECT e.vec_id, e.bucket, c.label,
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(1, 65),
       |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))),
       |        (a, b) -> a + b) AS dist
       |    FROM b e, cents c))
       |SELECT CASE WHEN ${Ring.incomingSql("bucket")} THEN 'batch' ELSE 'corpus' END
       |    AS side,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT)) // count(*) AS BIGINT) AS mean_dist_micro
       |FROM ass WHERE arank = 1
       |GROUP BY 1 ORDER BY side""".stripMargin

  // ── q133: hybrid retrieval — reciprocal-rank fusion of BM25 + dense ─────
  /** RRF constant k (Cormack/Clarke/Buettcher 2009: k = 60 dominates
    * most tunings) and the integer scale: a list contributes
    * floor(10⁹ / (k + rank)) — exact integers, so fusion is order-free
    * and hash-exact cross-engine (no float reciprocal sums). */
  val RrfK = 60L
  val RrfScale = 1000000000L
  /** Candidates taken from each list before fusion; final cut. */
  val RrfListK = 20
  val RrfTopK = 10

  /** Dense-arm probe width: 2 of the coarse cells — the q59 multi-probe
    * recall point, matched exactly by the oracle's replay. */
  val RrfNprobe = 2

  /** q133: HYBRID ranked retrieval — the fusion step every RAG stack
    * runs between its two recall arms: the DENSE arm is the engine's
    * ANN SERVING PATH (q86's materialized-centroid IVF probe,
    * nprobe = [[RrfNprobe]]) over the embeddings (vec_id ≡ doc_id in
    * this corpus — the standard doc-with-its-embedding layout); the
    * LEXICAL arm is a per-query disjunctive BM25 (q122's integer-exact
    * scoring) whose query terms are the query DOCUMENT's own distinct
    * words (more-like-this retrieval — the hybrid-recall shape used for
    * near-dup triage and RAG). Fusing the ANN list — not the exact scan
    * — is the production shape: RRF exists precisely because each arm
    * is individually approximate. An exact-arm draft measured 37.7 s at
    * sf10 (5M vectors), all of it q23's linear scan; the IVF arm's cost
    * per query is ∝ the probed cells, corpus-independent at fixed cell
    * balance. Reciprocal-rank fusion then needs only the two RANK
    * columns: rrf(q,d) = Σ_arms floor(10⁹/(60+rank)), absent
    * contributing 0; ties break on id. Emits [[RrfTopK]] per query with
    * both arm ranks (0 = not in that arm's list) for interpretability.
    *
    * Scale shape: BOTH arms probe standing artifacts — the dense arm
    * the q86 centroid model ([[graft.etl.Merge.materialize]], shared
    * path, datasetTag-keyed), the lexical arm the SAME materialized
    * search snapshot as q99/q122 ([[graft.etl.Manifest.ensureMembers]]
    * — one generation pairs corpus, AND-index, BM25 index, stats;
    * whichever query runs first builds, the others widen): postings
    * join a BROADCAST of the tiny (q_id, term) set (|Q|·words-per-doc
    * rows, corpus-independent), df is a READ of the materialized
    * per-term df ledger restricted to the probed terms (VERDICT r17
    * item 1 — df is a mergeable per-batch sum, so it lives in the
    * artifact like n_docs/total_tokens; the probe no longer pays a
    * corpus-proportional (term, doc) distinct), stats are the 1-row
    * broadcast.
    * Because the term set is data-dependent the index scan has no
    * static pushdown — a production probe would runtime-filter the
    * term-clustered index with a Bloom of the query terms (the q128
    * move; at this index size the scan is the cheaper plan). Fusion
    * joins two K-bounded lists per query — domain-sized. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Documents
    val e = withNorm(Tables.embeddings(s, d))
    val etag = Tables.datasetTag(s, d, "embeddings")
    val cents = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "ivf_cents", etag), trainCentroids(e))
    val dense = ivfProbeWith(e, cents, RrfNprobe, RrfListK)
      .select(col("q_id"), col("n_id").as("id"),
        col("rank").cast("long").as("d_rank"))
    val tag = Tables.datasetTag(s, d, "documents")
    val docs = Tables.documents(s, d)
    val snap = graft.etl.Manifest.ensureMembers(s,
      graft.etl.Artifacts.path(s, "search", tag), Map(
        "corpus"    -> (() => docs),
        "postings"  -> (() => Documents.postings(docs)),
        "bm25"      -> (() => Documents.bm25Postings(docs)),
        "bm25stats" -> (() => Documents.bm25StatsLedger(docs, "build")),
        "bm25df"    -> (() => Documents.bm25DfLedger(docs, "build"))))
    val stats = Documents.bm25StatsTotal(graft.etl.Merge.readArtifact(s, snap("bm25stats")))
    // qTerms is |Q|·words-per-doc rows — checkpoint it eagerly so its
    // consumers don't each re-scan the documents table (the plan audit
    // counted 8 documents scans before staging)
    val qTerms = docs.filter(col("doc_id").isin(QueryIds: _*))
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(graft.functions.Text.toWords(col("text"))))
          .as("term"))
      .filter(length(col("term")) > 0)
      .localCheckpoint()
    val idx = graft.etl.Merge.readArtifact(s, snap("bm25"))
    // DF CAP — the Lucene more-like-this convention, and the term that
    // decides whether this query scales: an UNCAPPED disjunctive probe
    // drags the full posting list of every stopword-ish query term
    // through the candidate set (measured: the probe tracked the
    // corpus, 40.9 s at sf10, because common words' df ≈ N). Terms
    // with df·10 > n_docs carry ~no idf signal and O(N) postings —
    // drop them BEFORE any posting list fans out. df comes from the
    // MATERIALIZED per-term ledger (r18 — the probe's last
    // corpus-proportional pass, a (term, doc) distinct over the query
    // terms' postings, moved into the artifact where it is a mergeable
    // per-batch sum): one vocabulary-sized index scan, semi-joined down
    // to the query terms BEFORE the dedup+sum shuffle, so everything
    // past the scan is |query terms| · batches rows. Values are
    // identical to the oracle's tf-derived df by construction (the
    // ledger is built from the same postings).
    val dfq = Documents.bm25DfTotal(
      graft.etl.Merge.readArtifact(s, snap("bm25df"))
        .join(broadcast(qTerms.select(col("term")).distinct()),
          Seq("term"), "left_semi"))
    val informative = dfq.crossJoin(broadcast(stats))
      .filter(col("df") * 10 <= col("n_docs"))
      .select(col("term"), col("df"))
    // the replay-absorbing dedup now runs on the INFORMATIVE terms'
    // postings only — rare-term lists, candidate-bounded
    val post = idx.join(broadcast(informative), Seq("term"))
      .dropDuplicates()
    val lexScored = post.join(broadcast(qTerms), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(stats))
      .withColumn("sc", Documents.bm25Score)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("sc")).as("score_bp"))
    val wl = Window.partitionBy(col("q_id"))
      .orderBy(col("score_bp").desc, col("doc_id").asc)
    val lex = lexScored
      .withColumn("l_rank", row_number().over(wl).cast("long"))
      .filter(col("l_rank") <= RrfListK)
      .select(col("q_id"), col("doc_id").as("id"), col("l_rank"))
    rrfFuse(dense, lex)
  }

  /** The fusion step over two (q_id, id, rank) lists — factored so
    * RrfSpec can pin the arithmetic (floor(10⁹/(60+rank)) per present
    * arm, 0 when absent), the both-arms-beat-one-arm property, and the
    * id tie-break on constructed lists. */
  private[operators] def rrfFuse(dense: DataFrame,
                                 lex: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = dense.join(lex, Seq("q_id", "id"), "full_outer")
      .select(col("q_id"), col("id"),
        coalesce(col("d_rank"), lit(0L)).as("d_rank"),
        coalesce(col("l_rank"), lit(0L)).as("l_rank"))
      .withColumn("rrf_score",
        expr(s"CASE WHEN d_rank > 0 THEN $RrfScale div ($RrfK + d_rank) " +
             "ELSE 0L END") +
        expr(s"CASE WHEN l_rank > 0 THEN $RrfScale div ($RrfK + l_rank) " +
             "ELSE 0L END"))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_score").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= RrfTopK)
      .select(col("q_id"), col("rank"), col("id"), col("rrf_score"),
        col("d_rank"), col("l_rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val hybridRrfSql: String =
    s"""WITH $normedSql,
       |${centroidsSql("n")},
       |${probePairsSql(RrfNprobe, "n")},
       |dns AS (
       |  SELECT q_id, n_id AS id, CAST(rank AS BIGINT) AS d_rank FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rank
       |    FROM pairs)
       |  WHERE rank <= $RrfListK),
       |${Documents.bm25StatsSql("TRUE")},
       |qt AS (
       |  SELECT DISTINCT doc_id AS q_id, term FROM toks
       |  WHERE doc_id IN $queryIdsSql AND length(term) > 0),
       |dfq AS (
       |  SELECT term, count(*) AS df FROM tf
       |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       |inf AS (
       |  SELECT term, df FROM dfq CROSS JOIN st
       |  WHERE df * 10 <= st.n_docs),
       |lsc AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    CAST(sum(CAST(floor(10000 * ln((st.n_docs + 1.0) / (inf.df + 1)) *
       |      ((22 * tf.tf * st.t) /
       |       (10 * tf.tf * st.t + 3 * st.t + 9 * dl.dl * st.n_docs)))
       |      AS BIGINT)) AS BIGINT) AS score_bp
       |  FROM qt JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
       |       JOIN inf USING (term) CROSS JOIN st
       |  WHERE tf.doc_id <> qt.q_id
       |  GROUP BY qt.q_id, tf.doc_id),
       |lex AS (
       |  SELECT q_id, doc_id AS id, CAST(rank AS BIGINT) AS l_rank FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY score_bp DESC, doc_id ASC) AS rank
       |    FROM lsc)
       |  WHERE rank <= $RrfListK),
       |fused AS (
       |  SELECT coalesce(dns.q_id, lex.q_id) AS q_id,
       |    coalesce(dns.id, lex.id) AS id,
       |    coalesce(d_rank, 0) AS d_rank,
       |    coalesce(l_rank, 0) AS l_rank,
       |    (CASE WHEN coalesce(d_rank, 0) > 0
       |          THEN $RrfScale // ($RrfK + d_rank) ELSE 0 END) +
       |    (CASE WHEN coalesce(l_rank, 0) > 0
       |          THEN $RrfScale // ($RrfK + l_rank) ELSE 0 END) AS rrf_score
       |  FROM dns FULL OUTER JOIN lex
       |    ON dns.q_id = lex.q_id AND dns.id = lex.id)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, id,
       |  CAST(rrf_score AS BIGINT) AS rrf_score,
       |  CAST(d_rank AS BIGINT) AS d_rank, CAST(l_rank AS BIGINT) AS l_rank
       |FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY rrf_score DESC, id ASC) AS rank
       |  FROM fused)
       |WHERE rank <= $RrfTopK
       |ORDER BY q_id, rank""".stripMargin

  // ── q90: SEMANTIC dedup — canopy leader quantizer, exact recall ─────────
  /** The semantic member of the dedup ladder (exact q17 → chunk q77 →
    * lexical near-dup q18/q68 → SEMANTIC), SemDeDup-style: duplicates
    * that share no n-gram — paraphrases, translations-of-boilerplate,
    * re-embedded templates — surface only in embedding space. All-pairs
    * cosine over a corpus is O(N²·d) and never runs at scale; SemDeDup's
    * move is to bound the candidate set with a COARSE QUANTIZER and
    * compare only within a cluster.
    *
    * Drop rule, declarative on purpose: vector v is dropped iff some
    * EARLIER vector u (u.vec_id < v.vec_id) has cosine ≥ 0.95; the
    * reported witness is the lowest-id such u (q80's canonical-election
    * policy). This is the order-free closure of SemDeDup's greedy scan —
    * on a chain a~b, b~c, a≁c greedy keeps c while this rule drops it
    * (b witnesses, though b itself dropped) — the same min-label
    * transitive stance as q63/q80, needing no sequential pass.
    *
    * QUANTIZER (r12, replacing the r11 in-cluster banded form — VERDICT
    * r11 item 1): a CANOPY LEADER model with k ∝ N and a PROVABLE exact
    * recall guarantee, instead of a fixed-count centroid table whose
    * cluster populations grow with the corpus (the measured Σn_c²
    * quadratic: 2.9 → 161.5 s on the sf1→sf10 decade bare; banding
    * bought that decade back but cost −37%/−15% boundary recall at
    * sf1/sf10). Leaders are hash-sampled corpus vectors, thinned by
    * min-id election, so the leader count tracks the corpus's NATURAL
    * cluster count (one leader per dense region + one per sampled
    * sparse vector) — k grows with the data, never a harness constant:
    *
    *  1. coarse seeds = portableHash(vec_id) ≡ 0 (mod 256), deduped
    *     min-id-first at the cover radius T (a seed with an earlier seed
    *     at cosine ≥ T is absorbed) — (N/256)² exact dot products, the
    *     only superlinear term, 6.4e7 at a 2M-vector corpus;
    *  2. fine seeds = hash ≡ 0 (mod 16) not coarse, absorbed first
    *     against the coarse leaders (linear in fine seeds × leaders),
    *     then deduped among the SURVIVORS only — survivors are seeds of
    *     regions the coarse sample missed, a small set precisely when
    *     the coarse pass covered the mass (two fixed levels keep the
    *     oracle SQL fixed-shape; a third nested level is the same move
    *     again if (N/256)² ever dominates).
    *
    * The leader table is a pure function of the corpus and materializes
    * once into the warehouse ([[graft.etl.Merge.materialize]], datasetTag
    * keyed — the q82/q86/q87 amortized-model plumbing); the steady state
    * pays only assignment + within-cluster compare.
    *
    * EXACT RECALL by triangle inequality (the canopy-clustering
    * overlap argument, CanopySpec property-checks it against brute
    * force): every vector joins the COMPARE set of every leader within
    * A_c = 0.76 cosine, and is COVERED if some leader is within
    * T = 0.93; uncovered vectors form the outlier set, compared
    * all-pairs among themselves. For any pair (u,w) with cos ≥ τ = 0.95:
    * if u is covered by leader L then angle(w,L) ≤ angle(w,u) +
    * angle(u,L) ≤ acos(0.95) + acos(0.93) = 39.77°, so cos(w,L) ≥
    * 0.7688 > A_c and BOTH sit in L's compare set; symmetrically if w is
    * covered; if neither is covered both are outliers. Every τ-pair is
    * therefore co-located somewhere — recall 1.0 BY CONSTRUCTION, no
    * banding trade (the integer-micro thresholds keep ~0.0088 cosine of
    * slack above A_c for the floor-rounding). Overlap double-counts
    * collapse in the one witness window.
    *
    * Scale shape: leader training is one-time and hash-bounded;
    * assignment is a broadcast nested-loop of N × L exact dots (the IVF
    * assignment shape, map-side, embarrassingly parallel — L tracks
    * natural-region count, not N); within-cluster compare is an
    * equi-join on the leader id with cluster populations bounded by the
    * compare radius's region size; the outlier self-compare broadcasts
    * the outlier set (sparse-region vectors — on clustered corpora a
    * small residue; its size is the operator's monitorable health
    * statistic). The checkpoint after membership cuts the N × L
    * assignment to ONE execution across its three consumers (the q96
    * chained-plan lesson). Harness embeddings carry no organic
    * high-cosine pairs (measured max pairwise cosine ≈ 0.51), so the
    * corpus augments with planted duplicates exactly as q35 does (every
    * 25th vector scaled by 1.0001 under id+100000); the DuckDB oracle
    * replays seeds, election, assignment, and outliers bit-exactly. */
  val SemDedupTauMicro = 950000L
  /** Cover radius T: a vector within this of a leader is quantized. */
  val CanopyCoverMicro = 930000L
  /** Compare radius A_c < cos(acos(T) + acos(τ)) = 0.76876 — the overlap
    * that makes recall exact; the gap to 760000 absorbs micro-rounding. */
  val CanopyCompareMicro = 760000L
  val CanopySeedModFine = 16L
  val CanopySeedModCoarse = 256L

  private def cosMicro(av: Column, an: Column, bv: Column, bn: Column)
      : Column = simMicro(Native.dotProduct(av, bv) / (an * bn))

  /** The corpus under dedup: embeddings ∪ planted scaled twins, with
    * elementwise-double vectors and norms (q35's planting convention). */
  private[graft] def semDedupCorpus(s: SparkSession, d: String)
      : DataFrame =
    twinCorpus(s, d).withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Canopy leader election over an `(vec_id, v, nrm)` corpus — the k ∝ N
    * model build (steps 1–2 of the q90 scaladoc). Pure function of the
    * corpus; [[semanticDedup]] materializes it, CanopySpec drives it over
    * constructed corpora. */
  private[graft] def canopyLeaders(aug: DataFrame): DataFrame = {
    val h = graft.functions.Text.portableHash(col("vec_id").cast("string"))
    def ren(df: DataFrame, p: String) = df.select(
      col("vec_id").as(s"${p}_id"), col("v").as(s"${p}v"),
      col("nrm").as(s"${p}n"))
    def cov(a: String, b: String) =
      cosMicro(col(s"${a}v"), col(s"${a}n"), col(s"${b}v"), col(s"${b}n")) >=
        lit(CanopyCoverMicro)
    // min-id-first election: b dies if an earlier member of `pool` covers
    // it (self-pairs excluded by the strict id order)
    def dedup(pool: DataFrame): DataFrame = {
      val dropped = ren(pool, "b").crossJoin(broadcast(ren(pool, "a")))
        .filter(col("a_id") < col("b_id") && cov("a", "b"))
        .select(col("b_id").as("vec_id")).distinct()
      pool.join(dropped, Seq("vec_id"), "left_anti")
    }
    val sc = aug.filter(pmod(h, lit(CanopySeedModCoarse)) === 0)
      .select("vec_id", "v", "nrm").localCheckpoint()
    val leadC = dedup(sc).localCheckpoint()
    val sfSurv = ren(aug.filter(pmod(h, lit(CanopySeedModFine)) === 0 &&
          pmod(h, lit(CanopySeedModCoarse)) =!= 0)
        .select("vec_id", "v", "nrm"), "b")
      .join(broadcast(ren(leadC, "a")), cov("a", "b"), "left_anti")
      .select(col("b_id").as("vec_id"), col("bv").as("v"), col("bn").as("nrm"))
      .localCheckpoint()
    leadC.unionByName(dedup(sfSurv))
      .select(col("vec_id").as("lead_id"), col("v"), col("nrm"))
  }

  /** Outlier-compare broadcast gate: below this row count the outlier
    * residue self-compares through a broadcast nested loop (streamed
    * side parallel, ~50 MB of vectors broadcast at the limit); above it
    * the same pair set computes through a TRIANGULAR BLOCK join — each
    * side replicates across [[CanopyOutlierBlocks]] block keys so every
    * (i, j) block pair lands on its own reducer: exact, no broadcast,
    * B²-way parallel (the q104 advisor lesson: an unconditional
    * broadcast of a corpus-proportional side is the thing that dies
    * first at scale — a structureless corpus makes the residue
    * corpus-sized, and all-pairs over it is then the operator's honest
    * intrinsic cost, which must distribute rather than OOM). */
  val CanopyOutlierBroadcastLimit = 100000L
  val CanopyOutlierBlocks = 64

  /** Assignment + within-cluster/outlier compare + witness election over
    * an `(vec_id, v, nrm)` corpus and a given leader table — factored so
    * CanopySpec can drive the full operator on constructed corpora
    * (including the blocked outlier branch via `outlierBroadcastLimit`). */
  private[graft] def canopyDedup(aug: DataFrame, leaders: DataFrame,
      outlierBroadcastLimit: Long = CanopyOutlierBroadcastLimit)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lead = broadcast(leaders.select(col("lead_id"),
      col("v").as("lv"), col("nrm").as("ln")))
    // ONE N×L assignment pass feeds memberships, coverage, and both pair
    // joins — checkpointed so the three consumers don't re-run it
    val mem = aug.repartition(col("vec_id")).crossJoin(lead)
      .withColumn("lsim", cosMicro(col("v"), col("nrm"), col("lv"), col("ln")))
      .filter(col("lsim") >= lit(CanopyCompareMicro))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("lead_id").as("cluster"), col("lsim"))
      .localCheckpoint()
    val covered = mem.filter(col("lsim") >= lit(CanopyCoverMicro))
      .select("vec_id").distinct()
    // checkpointed: the residue feeds a driver-stat size gate + both
    // sides of its self-compare
    val outliers = aug.join(covered, Seq("vec_id"), "left_anti")
      .select("vec_id", "v", "nrm").localCheckpoint()
    def side(df: DataFrame, p: String, extra: Column*) = df.select(
      (extra :+ col("vec_id").as(s"${p}_id") :+ col("v").as(s"${p}v")
        :+ col("nrm").as(s"${p}n")): _*)
    val sim = Native.dotProduct(col("av"), col("bv")) / (col("an") * col("bn"))
    val memPairs = side(mem, "a", col("cluster"))
      .join(side(mem, "b", col("cluster").as("bc")),
        col("cluster") === col("bc") && col("a_id") < col("b_id"))
    val outPairs = (
      if (outliers.count() <= outlierBroadcastLimit)
        side(outliers, "b").crossJoin(broadcast(side(outliers, "a")))
      else {
        // TRIANGULAR block join (ADVICE r12: the old form exploded both
        // sides over all B blocks, materializing every unordered pair
        // twice — at (i,j) AND (j,i) — before the id filter). Here block
        // pair (i,j) exists only for i ≤ j: the a-side row of block i
        // replicates over column keys j ∈ [i, B), the b-side row of
        // block j over row keys i ∈ [0, j] — so each unordered block
        // pair lands on exactly ONE reducer and the candidate stream is
        // halved. Off-diagonal pairs then carry ids in arbitrary order
        // (the pair {x,y} appears once, sides fixed by block, not id),
        // so instead of filtering on id order — which would LOSE the
        // descending half — the diagonal dedups on a_id < b_id and the
        // off-diagonal REORIENTS min-id onto the a (witness) side; the
        // similarity is symmetric, so the swap is free.
        val B = CanopyOutlierBlocks
        val blk = pmod(col("vec_id"), lit(B.toLong))
        val ja = side(outliers.withColumn("bi", blk), "a", col("bi"))
          .withColumn("bj", explode(sequence(col("bi"), lit(B - 1L))))
        val jb = side(outliers.withColumn("bj", blk), "b", col("bj"))
          .withColumn("bi", explode(sequence(lit(0L), col("bj"))))
        val flip = col("a_id") > col("b_id")
        ja.join(jb, Seq("bi", "bj"))
          .filter(col("bi") =!= col("bj") || col("a_id") < col("b_id"))
          .select(
            when(flip, col("b_id")).otherwise(col("a_id")).as("a_id"),
            when(flip, col("bv")).otherwise(col("av")).as("av"),
            when(flip, col("bn")).otherwise(col("an")).as("an"),
            when(flip, col("a_id")).otherwise(col("b_id")).as("b_id"),
            when(flip, col("av")).otherwise(col("bv")).as("bv"),
            when(flip, col("an")).otherwise(col("bn")).as("bn"))
      })
      .filter(col("a_id") < col("b_id"))
      .withColumn("cluster", lit(-1L))
    val pairs = memPairs.drop("bc").unionByName(outPairs)
      .withColumn("sim_micro", simMicro(sim))
      .filter(col("sim_micro") >= lit(SemDedupTauMicro))
    val wD = Window.partitionBy(col("b_id"))
      .orderBy(col("a_id").asc, col("cluster").asc)
    pairs.withColumn("wrank", row_number().over(wD))
      .filter(col("wrank") === 1)
      .select(col("b_id").as("drop_id"), col("cluster"),
        col("a_id").as("keep_id"), col("sim_micro"))
      .orderBy(col("drop_id"))
  }

  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val aug = semDedupCorpus(s, d)
    val tag = Tables.datasetTag(s, d, "embeddings")
    val leaders = graft.etl.Merge.materialize(s,
      graft.etl.Artifacts.path(s, "canopy_leaders", tag), canopyLeaders(aug))
    canopyDedup(aug, leaders)
  }

  /** Oracle: the identical seed sampling, min-id leader election,
    * compare/cover assignment, and outlier residue, replayed in DuckDB
    * over the same planted corpus — every threshold in integer micros. */
  val semanticDedupSql: String = {
    def cosM(a: String, b: String): String =
      s"""CAST(floor(${dotSql(s"$a.v", s"$b.v")}
         |      / ($a.nrm * $b.nrm) * 1000000.0 + 0.5) AS BIGINT)""".stripMargin
    s"""WITH $normedSql,
       |corpus AS (
       |  SELECT vec_id, v FROM n
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(v, x -> x * 1.0001)
       |  FROM n WHERE vec_id % 25 = 0),
       |m AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm,
       |    ${graft.functions.Text.portableHashSql("CAST(vec_id AS VARCHAR)")} AS h
       |  FROM corpus),
       |sc AS (SELECT vec_id, v, nrm FROM m WHERE h % $CanopySeedModCoarse = 0),
       |dropc AS (SELECT DISTINCT b.vec_id FROM sc a, sc b
       |  WHERE a.vec_id < b.vec_id AND ${cosM("a", "b")} >= $CanopyCoverMicro),
       |lc AS (SELECT * FROM sc WHERE vec_id NOT IN (SELECT vec_id FROM dropc)),
       |sfs AS (SELECT vec_id, v, nrm FROM m
       |  WHERE h % $CanopySeedModFine = 0 AND h % $CanopySeedModCoarse <> 0),
       |covf AS (SELECT DISTINCT b.vec_id FROM lc a, sfs b
       |  WHERE ${cosM("a", "b")} >= $CanopyCoverMicro),
       |sfv AS (SELECT * FROM sfs WHERE vec_id NOT IN (SELECT vec_id FROM covf)),
       |dropf AS (SELECT DISTINCT b.vec_id FROM sfv a, sfv b
       |  WHERE a.vec_id < b.vec_id AND ${cosM("a", "b")} >= $CanopyCoverMicro),
       |lf AS (SELECT * FROM sfv WHERE vec_id NOT IN (SELECT vec_id FROM dropf)),
       |leaders AS (SELECT vec_id AS lead_id, v, nrm FROM lc
       |  UNION ALL SELECT vec_id, v, nrm FROM lf),
       |mem AS (
       |  SELECT e.vec_id, e.v, e.nrm, l.lead_id AS cluster,
       |    ${cosM("e", "l")} AS lsim
       |  FROM m e, leaders l WHERE ${cosM("e", "l")} >= $CanopyCompareMicro),
       |cov AS (SELECT DISTINCT vec_id FROM mem WHERE lsim >= $CanopyCoverMicro),
       |outl AS (SELECT vec_id, v, nrm FROM m
       |  WHERE vec_id NOT IN (SELECT vec_id FROM cov)),
       |pairs AS (
       |  SELECT b.vec_id AS drop_id, a.cluster, a.vec_id AS keep_id,
       |    ${cosM("a", "b")} AS sim_micro
       |  FROM mem a JOIN mem b ON a.cluster = b.cluster
       |    AND a.vec_id < b.vec_id
       |  UNION ALL
       |  SELECT b.vec_id, CAST(-1 AS BIGINT), a.vec_id, ${cosM("a", "b")}
       |  FROM outl a JOIN outl b ON a.vec_id < b.vec_id)
       |SELECT drop_id, cluster, keep_id, sim_micro
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY drop_id ORDER BY keep_id ASC, cluster ASC) AS wrank
       |      FROM pairs WHERE sim_micro >= $SemDedupTauMicro)
       |WHERE wrank = 1 ORDER BY drop_id""".stripMargin
  }

  // ── q59: multi-probe IVF (nprobe = 3) ───────────────────────────────────
  /** Same computed-centroid IVF, probing the query's 3 nearest clusters.
    * On the harness embeddings (labels are NOT cosine clusters — measured:
    * same-label mean cosine ≈ cross-label ≈ 0) label-IVF recall is
    * structurally nprobe/nlist, so the ≥0.95 recall gate lives in
    * IvfRecallSpec over a corpus with real cluster structure; THIS query
    * is the correctness pin — the probe set, per-cluster scan, and global
    * re-rank must match the oracle exactly. */
  def ivfMultiProbeTopK(s: SparkSession, d: String): DataFrame =
    ivfCentroidProbe(withNorm(Tables.embeddings(s, d)), nprobe = 3, k = 5)
  /** `corpusWhere` reduces the CORPUS side (centroid training + probe
    * candidates) without touching the query vectors — q149's takedown
    * oracle; "TRUE" yields the classic q38/q86/q141 one-shot. */
  private def ivfCentroidSqlFor(nprobe: Int, k: Int,
                                corpusWhere: String = "TRUE"): String =
    s"""WITH $normedSql,
       |nc AS (SELECT * FROM n WHERE $corpusWhere),
       |${centroidsSql("nc")},
       |${probePairsSql(nprobe, "nc")}
       |${simMicroTopKSql(k)}""".stripMargin

  val ivfCentroidTopKSql: String = ivfCentroidSqlFor(nprobe = 1, k = 5)
  val ivfMultiProbeTopKSql: String = ivfCentroidSqlFor(nprobe = 3, k = 5)

  /** q149's oracle: q86's one-shot on the REDUCED corpus — the takedown
    * slice (hash bucket [20,30), query vectors exempt) neither trains the
    * quantizer nor appears as a candidate. */
  val ivfRetractSql: String = ivfCentroidSqlFor(nprobe = 1, k = 5,
    corpusWhere = s"NOT (${Ring.takedownSql(Ring.bucketSql("vec_id"))}) " +
      s"OR vec_id IN $queryIdsSql")

  // ── q62: LSH-bucketed ANN top-k (sign-sketch buckets + exact rerank) ────
  /** The LSH-bucketed similarity-search path, complementing IVF: corpus
    * and queries sketch into 10 disjoint 8-BIT sign chunks
    * (`sign_sketch_bands(v, 80, 10)`), a query's candidates are the rows
    * sharing ANY chunk (≈ 10/2^8 ≈ 4% of a random corpus, concentrated on
    * angular neighbors), and candidates are exactly reranked to cosine
    * top-5. No training step (vs IVF's centroid fit) and no full scan per
    * query (vs brute force) — the trade is recall tuned by chunk width:
    * NARROW 8-bit chunks here (vs q35's 20-bit) because search wants
    * moderate-cosine neighbors recalled, while near-dup wants only
    * 0.999-pairs and minimal candidates. Scale shape: the bucket join
    * ships (vec_id, chunk, cv) triples, never vectors; the rerank joins
    * fetch vectors for candidate pairs only. The oracle reconstructs the
    * sketch from the same integer hyperplane arithmetic and same fold
    * order, so buckets — and therefore the candidate SET — are
    * bit-identical cross-engine. */
  private val LshSearchBits = 80
  private val LshSearchChunks = 10
  def lshTopK(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val chunks = e.select(col("vec_id"),
        explode(Native.signSketchBands(col("v"), LshSearchBits,
          LshSearchChunks)).as("ch"))
      .select(col("vec_id"), col("ch.band").as("chunk"), col("ch.bh").as("cv"))
    val cand = chunks
      .join(chunks.filter(isQuery)
        .select(col("vec_id").as("q_id"), col("chunk"), col("cv")),
        Seq("chunk", "cv"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    val pairs = cand
      .join(e.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn")), Seq("q_id"))
      .join(e.select(col("vec_id").as("n_id"), col("v"), col("nrm")),
        Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("sim"))
    rankTopK(pairs, 5)
  }
  val lshTopKSql: String = {
    // the sign of hyperplane j against v, as the oracle-exact fold:
    // h_j[i] = (((j*64 + i) * 2654435761) % 1000) / 1000 - 0.5, i 0-based
    def dotHyper(j: String): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list_transform(range(1, 65), i -> v[i] *
         |            (CAST((($j * 64 + (i - 1)) * 2654435761) % 1000 AS DOUBLE)
         |              / 1000.0 - 0.5))), (a, b) -> a + b)""".stripMargin
    s"""WITH $normedSql,
       |sk AS (
       |  SELECT vec_id, CAST(t.c AS INT) AS chunk,
       |    CAST(list_sum(list_transform(range(0, 8), p ->
       |      CASE WHEN ${dotHyper("(t.c * 8 + p)")} >= 0
       |        THEN 1 << p ELSE 0 END)) AS BIGINT) AS cv
       |  FROM n, range(0, $LshSearchChunks) t(c)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM sk q JOIN sk e ON q.chunk = e.chunk AND q.cv = e.cv
       |  WHERE q.vec_id IN $queryIdsSql AND e.vec_id <> q.vec_id),
       |pairs AS (
       |  SELECT c.q_id, c.n_id,
       |    ${dotSql("q.v", "e.v")} / (q.nrm * e.nrm) AS sim
       |  FROM cand c
       |  JOIN n q ON q.vec_id = c.q_id
       |  JOIN n e ON e.vec_id = c.n_id)
       |${simMicroTopKSql(5)}""".stripMargin
  }

  // ── q39: int8 embedding quantization with error-bound verification ─────
  /** Per-vector symmetric int8 quantization (scale = max|x|/127,
    * q = round-half-up(x/scale)) — the compression step before an ANN
    * index ships to serving. Integer outputs + a boolean reconstruction
    * bound make the float pipeline exactly verifiable. */
  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    // scale and qarr are staged as columns referenced MANY times — a
    // single-use alias would be CollapseProject-inlined into the
    // per-element lambdas below and array_max would re-run per element
    // (measured 7.3 s -> ~1 s at sf0.1); multi-use non-cheap aliases
    // survive collapse
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("qarr",
        transform(col("v"), x => floor(x / col("scale") + 0.5).cast("long")))
      .select(col("vec_id"),
        floor(col("scale") * 1e9 + lit(0.5)).cast("long").as("scale_nano"),
        aggregate(col("qarr"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("qarr")).as("q_min"),
        array_max(col("qarr")).as("q_max"),
        forall(
          zip_with(col("v"), col("qarr"), (x, qx) =>
            abs(x - qx * col("scale")) <= col("scale") * 0.5 + lit(1e-12)),
          p => p).as("recon_ok"))
      .orderBy(col("vec_id"))
  }
  val quantizeInt8Sql: String =
    """WITH b AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM b),
      |qq AS (
      |  SELECT vec_id, v, scale,
      |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qarr
      |  FROM sc)
      |SELECT vec_id,
      |  CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_nano,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qarr), (a, x) -> a + x) AS BIGINT) AS q_sum,
      |  CAST(list_min(qarr) AS BIGINT) AS q_min,
      |  CAST(list_max(qarr) AS BIGINT) AS q_max,
      |  list_reduce(list_prepend(TRUE,
      |    list_transform(range(1, 65),
      |      i -> abs(v[i] - qarr[i] * scale) <= scale * 0.5 + 1e-12)),
      |    (a, x) -> a AND x) AS recon_ok
      |FROM qq ORDER BY vec_id""".stripMargin

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q23_cosine_topk"   -> (cosineTopK _),
    "q24_ivf_topk"      -> (ivfTopK _),
    "q35_cosine_neardup"-> (cosineNearDup _),
    "q38_ivf_centroids" -> (ivfCentroidTopK _),
    "q86_ivf_indexed"   -> (ivfIndexedTopK _),
    "q141_ivf_incremental" -> (ivfIncremental _),
    "q149_ivf_retract"  -> (ivfRetract _),
    "q89_centroid_drift"-> (centroidDrift _),
    "q90_semantic_dedup"-> (semanticDedup _),
    "q39_quantize_int8" -> (quantizeInt8 _),
    "q59_ivf_multiprobe"-> (ivfMultiProbeTopK _),
    "q62_lsh_topk"      -> (lshTopK _),
    "q81_filtered_topk" -> (filteredTopK _),
    "q133_hybrid_rrf"   -> (hybridRrf _))

  val oracles: Seq[(String, String)] = Seq(
    "q23_cosine_topk"   -> cosineTopKSql,
    "q24_ivf_topk"      -> ivfTopKSql,
    "q35_cosine_neardup"-> cosineNearDupSql,
    "q38_ivf_centroids" -> ivfCentroidTopKSql,
    "q86_ivf_indexed"   -> ivfCentroidTopKSql,
    // q141's oracle IS q86's one-shot SQL — the gate itself proves
    // ingest-decomposition ≡ one-shot index (the q112/q137 stance)
    "q141_ivf_incremental" -> ivfCentroidTopKSql,
    // q149's oracle is the one-shot on the REDUCED corpus — the gate
    // proves fold(appends + deletes) ≡ rebuild on what remains
    "q149_ivf_retract"  -> ivfRetractSql,
    "q89_centroid_drift"-> centroidDriftSql,
    "q90_semantic_dedup"-> semanticDedupSql,
    "q39_quantize_int8" -> quantizeInt8Sql,
    "q59_ivf_multiprobe"-> ivfMultiProbeTopKSql,
    "q62_lsh_topk"      -> lshTopKSql,
    "q81_filtered_topk" -> filteredTopKSql,
    "q133_hybrid_rrf"   -> hybridRrfSql)
}
