package graft.queries

import graft.Q
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (`Array[Float]`, dim 64):
  * brute-force cosine top-k as the exact baseline, and a bucket-pruned IVF
  * variant as the scale path (probe only the query's coarse cell — here the
  * `label` column stands in for a k-means cell id; at 100 TB the cell
  * assignment is an argmin against a broadcast centroid table).
  *
  * Dot products fold left-to-right in double precision on both engines
  * (`aggregate(zip_with(...))` in Spark, `list_sum(list_transform(...))` in
  * DuckDB), so scores match bit-for-bit.
  */
object AnnQueries {

  /** Random-hyperplane LSH planes: 8 planes × 64 dims, components are
    * dyadic rationals k/1024 from a seeded LCG — exactly representable
    * doubles, so the literal arrays parse identically in Spark and DuckDB
    * and the bucket signs match bit-for-bit. */
  private val Dim = 64
  private val NumPlanes = 8
  private val SemTau = 0.3 // component edge threshold (see dedup_semantic_components)
  private val planes: Seq[Array[Double]] = {
    var state = 0x9E3779B97F4A7C15L
    Seq.fill(NumPlanes)(Array.fill(Dim) {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 20) % 2049 - 1024).toDouble / 1024.0
    })
  }

  private def planeLits(p: Array[Double]): String = p.mkString(", ")

  /** Spark: sign bit of v·plane via the codegen'd vec_dot kernel (same
    * left-fold doubles as the zip_with form it replaced). The literal array
    * is cast to ARRAY<DOUBLE> explicitly — plain decimal literals would
    * otherwise type the array as array<decimal> — and constant-folds to a
    * single array, so the cast costs nothing per row. */
  private def sparkBucket(vecCol: String): String =
    (0 until NumPlanes).map { j =>
      val dot = s"vec_dot($vecCol, CAST(array(${planeLits(planes(j))}) AS ARRAY<DOUBLE>))"
      s"(CAST($dot >= 0 AS INT) * ${1 << j})"
    }.mkString(" + ")

  /** DuckDB: native list_dot_product against the literal plane. The earlier
    * list_transform lambda form re-constructed the 64-element literal list
    * PER LAMBDA INVOCATION (64×64×8 constructions per row — 11s for 2000
    * rows at sf0.1, and the recursive-CTE oracle re-evaluated it every
    * fixpoint iteration → 180s guard hits); the native kernel evaluates the
    * constant once. Verified bucket-for-bucket identical to the lambda fold
    * on sf0.01 and sf0.1 (sign of an exact dyadic×float product sum). */
  private def duckBucket(vecCol: String): String =
    (0 until NumPlanes).map { j =>
      val dot = s"list_dot_product(CAST($vecCol AS DOUBLE[]), " +
        s"CAST([${planeLits(planes(j))}] AS DOUBLE[]))"
      s"(CAST($dot >= 0 AS INTEGER) * ${1 << j})"
    }.mkString(" + ")

  private val dotExpr = "vec_dot(qe, be)"
  private def normExpr(c: String) = s"vec_dot($c, $c)"

  private val duckDot =
    "list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)))"
  private def duckNorm(c: String) =
    s"list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** Shared IVF+PQ plumbing (ann_ivf_pq_search, ann_two_stage_rerank):
    * M=2 sub-quantizers × 16-codeword books from the first base vectors,
    * all distances exact BIGINT sums over 1e7-scaled components. */
  private val scaledArr =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT))"
  private def pqD2(sub: Int, a: String, b: String) =
    expr(s"vec_sqdist_l($a, $b, ${sub * 32}, 32)")

  /** ADC candidates (qid, bid, code0, code1, adc_i): base rows in the
    * query's coarse cell scored by two O(1) lookups into the broadcast
    * per-query ADC arrays. */
  private def pqCandidates(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val code = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("code_id"), expr(scaledArr).as("cs"))
    val base = emb.select(col("vec_id").as("bid"), col("label"), expr(scaledArr).as("xs"))
      .crossJoin(broadcast(code))
      .select(col("bid"), col("label"), col("code_id"),
              pqD2(0, "xs", "cs").as("d0"), pqD2(1, "xs", "cs").as("d1"))
      .groupBy("bid", "label")
      .agg(min(struct(col("d0"), col("code_id"))).as("b0"),
           min(struct(col("d1"), col("code_id"))).as("b1"))
      .select(col("bid"), col("label"),
              col("b0.code_id").as("code0"), col("b1.code_id").as("code1"))
    // ADC tables pivoted to per-query arrays (code_id-ordered), so the
    // probe is ONE broadcast join + two O(1) element_at lookups — not
    // two separate broadcast builds each paying its own job round-trip.
    val adc = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), expr(scaledArr).as("qs"))
      .crossJoin(broadcast(code))
      .select(col("qid"), col("qlabel"), col("code_id"),
              pqD2(0, "qs", "cs").as("t0"), pqD2(1, "qs", "cs").as("t1"))
      .groupBy("qid", "qlabel")
      .agg(expr("transform(array_sort(collect_list(struct(code_id, t0))), s -> s.t0)").as("t0s"),
           expr("transform(array_sort(collect_list(struct(code_id, t1))), s -> s.t1)").as("t1s"))
    base.join(broadcast(adc),
        col("label") === col("qlabel") && col("qid") =!= col("bid"))
      .withColumn("adc_i",
        expr("element_at(t0s, CAST(code0 + 1 AS INT)) + element_at(t1s, CAST(code1 + 1 AS INT))"))
      .select("qid", "bid", "code0", "code1", "adc_i")
  }

  /** DuckDB CTE chain mirroring [[pqCandidates]]; yields
    * `cand(qid, bid, code0, code1, adc_i)`. */
  private val duckPqCandidates: String =
    """comps AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS xs
      |  FROM embeddings),
      |code AS (SELECT vec_id AS code_id, pos, xs AS cs FROM comps WHERE vec_id < 16),
      |dists AS (
      |  SELECT v.vec_id, v.label, v.pos // 32 AS sub, c.code_id,
      |    CAST(sum((v.xs - c.cs) * (v.xs - c.cs)) AS BIGINT) AS d2s
      |  FROM comps v JOIN code c USING (pos)
      |  GROUP BY 1, 2, 3, 4),
      |enc AS (
      |  SELECT vec_id AS bid, label,
      |    max(CASE WHEN sub = 0 THEN code_id END) AS code0,
      |    max(CASE WHEN sub = 1 THEN code_id END) AS code1
      |  FROM (SELECT vec_id, label, sub, code_id,
      |          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2s, code_id) AS rk
      |        FROM dists) t
      |  WHERE rk = 1 GROUP BY 1, 2),
      |adc AS (SELECT vec_id AS qid, label AS qlabel, sub, code_id, d2s
      |        FROM dists WHERE vec_id < 8),
      |cand AS (
      |  SELECT a0.qid, e.bid, e.code0, e.code1, a0.d2s + a1.d2s AS adc_i
      |  FROM enc e
      |  JOIN (SELECT qid, qlabel, code_id, d2s FROM adc WHERE sub = 0) a0
      |    ON a0.code_id = e.code0 AND a0.qlabel = e.label
      |  JOIN (SELECT qid, code_id, d2s FROM adc WHERE sub = 1) a1
      |    ON a1.qid = a0.qid AND a1.code_id = e.code1
      |  WHERE a0.qid <> e.bid)""".stripMargin

  private def topk(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("bid"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("bid"),
              round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy("qid", "rank")
  }

  def all: Seq[Q] = Seq(

    // Exact brute-force cosine top-10 for a fixed query set (vec_id < 8).
    Q("ann_cosine_topk", Seq("similarity", "J2", "W4"),
      (s, dir) => {
        // per-vector norms once, before the pair space (O(n·dim), not O(pairs·dim))
        val emb = Tables.embeddings(s, dir).withColumn("nrm", expr(normExpr("embedding")))
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("nq"))
        val b = emb.select(col("vec_id").as("bid"), col("embedding").as("be"), col("nrm").as("nb"))
        val pairs = q.crossJoin(b).where(col("qid") =!= col("bid"))
          .withColumn("cos_sim", expr(s"$dotExpr / sqrt(nq * nb)"))
        topk(pairs, 10)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
              |b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings),
              |p AS (SELECT qid, bid,
              |    $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) AS cos_sim
              |  FROM q, b WHERE qid <> bid)
              |SELECT qid, CAST(rank AS INTEGER) AS rank, bid, round(cos_sim, 6) AS cos_sim FROM (
              |  SELECT qid, bid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, bid) AS rank
              |  FROM p) t
              |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // IVF-bucketed ANN: probe only the query's coarse cell (label) — the
    // candidate set shrinks ~10×; at scale the bucket join is the shuffle.
    Q("ann_ivf_bucketed", Seq("similarity", "J4", "W4"),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).withColumn("nrm", expr(normExpr("embedding")))
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("nq"), col("label"))
        val b = emb.select(col("vec_id").as("bid"), col("embedding").as("be"), col("nrm").as("nb"), col("label"))
        val pairs = q.join(b, "label").where(col("qid") =!= col("bid"))
          .withColumn("cos_sim", expr(s"$dotExpr / sqrt(nq * nb)"))
        topk(pairs, 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label FROM embeddings WHERE vec_id < 8),
              |b AS (SELECT vec_id AS bid, embedding AS be, label FROM embeddings),
              |p AS (SELECT qid, bid,
              |    $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) AS cos_sim
              |  FROM q JOIN b USING (label) WHERE qid <> bid)
              |SELECT qid, CAST(rank AS INTEGER) AS rank, bid, round(cos_sim, 6) AS cos_sim FROM (
              |  SELECT qid, bid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, bid) AS rank
              |  FROM p) t
              |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Random-hyperplane LSH: bucket every vector by 8 sign bits, probe only
    // the query's bucket, exact cosine re-rank inside it. At scale the
    // bucket join is the shuffle and the candidate set is n/2^planes —
    // the approximate-but-deterministic scale path next to the exact
    // brute force above.
    Q("ann_lsh_hyperplane", Seq("similarity", "J2", "P2"),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .withColumn("bucket", expr(sparkBucket("embedding")))
          .withColumn("nrm", expr(normExpr("embedding")))
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("nq"), col("bucket"))
        val b = emb.select(col("vec_id").as("bid"), col("embedding").as("be"), col("nrm").as("nb"), col("bucket"))
        val pairs = q.join(b, "bucket").where(col("qid") =!= col("bid"))
          .withColumn("cos_sim", expr(s"$dotExpr / sqrt(nq * nb)"))
        topk(pairs, 3)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, ${duckBucket("embedding")} AS bucket FROM embeddings),
              |q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM e WHERE vec_id < 8),
              |b AS (SELECT vec_id AS bid, embedding AS be, bucket FROM e),
              |p AS (SELECT qid, bid,
              |    $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) AS cos_sim
              |  FROM q JOIN b USING (bucket) WHERE qid <> bid)
              |SELECT qid, CAST(rank AS INTEGER) AS rank, bid, round(cos_sim, 6) AS cos_sim FROM (
              |  SELECT qid, bid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, bid) AS rank
              |  FROM p) t
              |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),
      note = "8 seeded dyadic hyperplanes; bucket-pruned candidates, exact re-rank"),

    // IVF training step 1 — centroid build: per-(label, dim) mean vector in
    // long format. Components are summed as scaled integers (×1e7, exact at
    // float precision), so partition-parallel sums equal DuckDB's exactly;
    // the mean is one deterministic double division.
    Q("ann_centroid_build", Seq("similarity", "A1", "W6"),
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("label", "pos")
          .agg(sum(expr("CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)")).as("sum_scaled"),
               count(lit(1)).as("n"))
          .withColumn("mean_x", col("sum_scaled").cast("double") / 1e7 / col("n"))
          .orderBy("label", "pos"),
      Some("""SELECT label, pos, CAST(sum(x_scaled) AS BIGINT) AS sum_scaled,
             |  count(*) AS n,
             |  CAST(CAST(sum(x_scaled) AS BIGINT) AS DOUBLE) / 1e7 / count(*) AS mean_x
             |FROM (
             |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x_scaled
             |  FROM embeddings) t
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // IVF training step 2 — assignment (k-means E-step): every vector goes
    // to its nearest centroid by squared euclidean distance. At scale the
    // centroid table broadcasts and assignment is a map-side argmin.
    Q("ann_centroid_assign", Seq("similarity", "J2", "A13"),
      (s, dir) => {
        val cent = Tables.embeddings(s, dir)
          .select(col("label").as("c_label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("c_label", "pos")
          .agg((sum(expr("CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)")).cast("double") / 1e7 /
                count(lit(1))).as("c_x"))
        val vecs = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        val dists = vecs.join(broadcast(cent), "pos")
          .groupBy("vec_id", "label", "c_label")
          .agg(sum(expr("(CAST(x AS DOUBLE) - c_x) * (CAST(x AS DOUBLE) - c_x)")).as("d2"))
        val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("c_label"))
        dists.withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
          .select(col("vec_id"), col("label"), col("c_label").as("assigned"),
                  round(col("d2"), 6).as("d2"))
          .orderBy("vec_id")
      },
      Some("""WITH cent AS (
             |  SELECT label AS c_label, pos,
             |    CAST(CAST(sum(x_scaled) AS BIGINT) AS DOUBLE) / 1e7 / count(*) AS c_x
             |  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             |          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x_scaled
             |        FROM embeddings) t
             |  GROUP BY 1, 2),
             |vecs AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
             |           CAST(unnest(embedding) AS DOUBLE) AS x
             |         FROM embeddings),
             |dists AS (SELECT vec_id, label, c_label,
             |    sum((x - c_x) * (x - c_x)) AS d2
             |  FROM vecs JOIN cent USING (pos) GROUP BY 1, 2, 3)
             |SELECT vec_id, label, c_label AS assigned, round(d2, 6) AS d2 FROM (
             |  SELECT vec_id, label, c_label, d2,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
             |  FROM dists) t
             |WHERE rk = 1 ORDER BY vec_id""".stripMargin),
      note = "exact scaled-integer centroid sums; broadcast argmin assignment"),

    // Product quantization — the memory path of billion-vector ANN: split
    // each 64-dim vector into M=2 subspaces and store, per subspace, the id
    // of the nearest codeword (here a 16-entry codebook per subspace seeded
    // from the first 16 vectors — the k-means-init-by-sampling step). A
    // 64-dim float vector compresses to 2 small ints + a reconstruction
    // error. Everything is integer arithmetic on 1e7-scaled components, so
    // Spark's partition-parallel sums equal DuckDB's sequential ones
    // bit-for-bit with no float-order caveats. Plan shape: codebook is tiny
    // → broadcast; per-vector argmin is a map-side join + combiner groupBy;
    // pivot-to-wide is a second tiny groupBy. Scales to any corpus.
    Q("ann_pq_encode", Seq("similarity", "P4", "J2", "W6"),
      (s, dir) => {
        // Vectors stay as ARRAYS end-to-end: per-subspace distances are a
        // map-side native vec_sqdist_l (codegen Expression — exact BIGINT
        // Σ(x−c)² over the subspace window, replacing the interpreted
        // zip_with/aggregate fold) against the broadcast 16-row codebook
        // (a bounded nested-loop join, 16 rows — not a pair explosion), and
        // the per-sub argmin is min(struct(d2, code_id)) — struct ordering
        // compares d2 then code_id, exactly the old
        // "ORDER BY d2s, code_id LIMIT 1" window. vs the exploded form this
        // drops a |vecs|×64-row shuffle, a 16× join blow-up of it, and a
        // window sort; the one wide exchange carries |vecs| rows of 2 longs.
        val scaledArr = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT))"
        val vecs = Tables.embeddings(s, dir)
          .select(col("vec_id"), expr(scaledArr).as("xs"))
        val code = Tables.embeddings(s, dir)
          .where(col("vec_id") < 16)
          .select(col("vec_id").as("code_id"), expr(scaledArr).as("cs"))
        def d2(sub: Int) =
          expr(s"vec_sqdist_l(xs, cs, ${sub * 32}, 32)")
        vecs.crossJoin(broadcast(code)) // 16 codewords: bounded broadcast NL join
          .select(col("vec_id"), col("code_id"), d2(0).as("d0"), d2(1).as("d1"))
          .groupBy("vec_id")
          .agg(min(struct(col("d0"), col("code_id"))).as("b0"),
               min(struct(col("d1"), col("code_id"))).as("b1"))
          .select(col("vec_id"),
                  col("b0.code_id").as("code0"), col("b1.code_id").as("code1"),
                  round((col("b0.d0") + col("b1.d1")).cast("double") / lit(1e14), 6).as("err"))
          .orderBy("vec_id")
      },
      Some("""WITH comps AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS xs
             |  FROM embeddings),
             |code AS (SELECT vec_id AS code_id, pos, xs AS cs FROM comps WHERE vec_id < 16),
             |dists AS (
             |  SELECT v.vec_id, v.pos // 32 AS sub, c.code_id,
             |    CAST(sum((v.xs - c.cs) * (v.xs - c.cs)) AS BIGINT) AS d2s
             |  FROM comps v JOIN code c USING (pos)
             |  GROUP BY 1, 2, 3),
             |best AS (SELECT vec_id, sub, code_id, d2s FROM (
             |    SELECT vec_id, sub, code_id, d2s,
             |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2s, code_id) AS rk
             |    FROM dists) t WHERE rk = 1)
             |SELECT vec_id,
             |  max(CASE WHEN sub = 0 THEN code_id END) AS code0,
             |  max(CASE WHEN sub = 1 THEN code_id END) AS code1,
             |  round(CAST(CAST(sum(d2s) AS BIGINT) AS DOUBLE) / 1e14, 6) AS err
             |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      note = "M=2 sub-quantizers, 16-codeword books from sampled vectors; exact integer distances"),

    // IVF+PQ search — the composed shape of billion-vector ANN serving
    // (coarse cell probe bounds the candidate set, then asymmetric-distance
    // re-rank against the PQ codes, never touching the raw base vectors):
    //  1. offline: PQ-encode every base vector (same M=2 / 16-codeword books
    //     as ann_pq_encode) — at 100 TB this is the index build, stored
    //     columnar alongside the coarse cell id;
    //  2. per query: an ADC lookup table (query × codeword distance per
    //     subspace, 8×16 rows) — tiny, broadcast;
    //  3. probe: candidates = base rows in the query's coarse cell; their
    //     ADC distance is two broadcast-hash lookups (code0, code1) + an
    //     integer add — no per-candidate vector math, no fact shuffle beyond
    //     the per-query top-k window.
    // All distances are exact BIGINT sums over 1e7-scaled components, so the
    // ranking (and the tie-break on bid) matches DuckDB bit-for-bit.
    Q("ann_ivf_pq_search", Seq("similarity", "J2", "J4", "P4", "W4"),
      (s, dir) => {
        val w = Window.partitionBy("qid").orderBy(col("adc_i"), col("bid"))
        pqCandidates(s, dir).withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("int").as("rank"), col("bid"),
                  col("code0"), col("code1"),
                  round(col("adc_i").cast("double") / lit(1e14), 6).as("adc_d2"))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH $duckPqCandidates
              |SELECT qid, CAST(rk AS INTEGER) AS rank, bid, code0, code1,
              |  round(CAST(adc_i AS DOUBLE) / 1e14, 6) AS adc_d2
              |FROM (SELECT qid, bid, code0, code1, adc_i,
              |        row_number() OVER (PARTITION BY qid ORDER BY adc_i, bid) AS rk
              |      FROM cand) t
              |WHERE rk <= 5 ORDER BY qid, rank""".stripMargin),
      note = "IVF cell probe + PQ asymmetric-distance re-rank; broadcast ADC tables, integer-exact ranking"),

    // Two-stage retrieval — the production ANN serving recipe on top of the
    // IVF+PQ index: the ADC score is only a SHORTLISTING device (cheap,
    // slightly lossy); the returned ranking must come from exact distances
    // over the raw vectors of the R-candidate shortlist. Stage 1 reuses the
    // pqCandidates probe (broadcast ADC lookups, no fact shuffle); stage 2
    // joins raw vectors back for ONLY R=20 rows per query — at 100 TB that
    // rerank join touches R×Q rows however large the base is, which is the
    // entire point of the pattern. adc_rank is kept in the output so the
    // result doubles as a shortlist-quality audit (rank vs adc_rank drift =
    // how lossy PQ was in the top of the list).
    Q("ann_two_stage_rerank", Seq("similarity", "J2", "P4", "W4"),
      (s, dir) => {
        val R = 20 // ADC shortlist width per query
        val emb = Tables.embeddings(s, dir)
        val qRaw = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), expr(scaledArr).as("qs"))
        val bRaw = emb.select(col("vec_id").as("bid"), expr(scaledArr).as("xs"))
        val wAdc = Window.partitionBy("qid").orderBy(col("adc_i"), col("bid"))
        val short = pqCandidates(s, dir)
          .withColumn("adc_rank", row_number().over(wAdc))
          .where(col("adc_rank") <= R)
        val wExact = Window.partitionBy("qid").orderBy(col("exact_i"), col("bid"))
        // the R×Q shortlist (with its broadcast-joined query vectors) is the
        // SMALL side — broadcast it onto the streamed base table, so the
        // rerank never shuffles the base however large it is
        broadcast(short.join(broadcast(qRaw), "qid"))
          .join(bRaw, "bid")
          .withColumn("exact_i", expr(s"vec_sqdist_l(qs, xs, 0, $Dim)"))
          .withColumn("rank", row_number().over(wExact))
          .where(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("int").as("rank"), col("bid"),
                  round(col("exact_i").cast("double") / lit(1e14), 6).as("exact_d2"),
                  col("adc_rank").cast("int").as("adc_rank"))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH $duckPqCandidates,
              |short AS (SELECT qid, bid, adc_rank FROM (
              |    SELECT qid, bid, adc_i,
              |      row_number() OVER (PARTITION BY qid ORDER BY adc_i, bid) AS adc_rank
              |    FROM cand) t WHERE adc_rank <= 20),
              |ex AS (SELECT s.qid, s.bid, s.adc_rank,
              |    CAST(sum((q.xs - b.xs) * (q.xs - b.xs)) AS BIGINT) AS exact_i
              |  FROM short s
              |  JOIN comps q ON q.vec_id = s.qid
              |  JOIN comps b ON b.vec_id = s.bid AND b.pos = q.pos
              |  GROUP BY 1, 2, 3)
              |SELECT qid, CAST(rk AS INTEGER) AS rank, bid,
              |  round(CAST(exact_i AS DOUBLE) / 1e14, 6) AS exact_d2,
              |  CAST(adc_rank AS INTEGER) AS adc_rank
              |FROM (SELECT qid, bid, adc_rank, exact_i,
              |        row_number() OVER (PARTITION BY qid ORDER BY exact_i, bid) AS rk
              |      FROM ex) t
              |WHERE rk <= 5 ORDER BY qid, rank""".stripMargin),
      note = "ADC shortlist (R=20) -> exact integer rerank of raw vectors; rank-vs-adc_rank drift audits PQ loss"),

    // Contrastive-pair mining — the training-data prep step for embedding
    // models: per anchor (the 8-query set), the best POSITIVE (highest
    // cosine, same label, not self) and the HARD NEGATIVE (highest cosine,
    // different label — the confusable the loss needs). Single pass:
    // anchors broadcast onto the streamed base table, one conditional
    // max(struct) aggregation per class — no window, no second scan; at
    // 100 TB the base is read once per mining batch. Ties break to the
    // smallest base id via the negated-id struct field; the margin column
    // (pos − neg) is the curriculum/difficulty signal miners sort by.
    Q("ann_hard_negatives", Seq("similarity", "J2", "A13", "corpus"),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .withColumn("nrm", expr(normExpr("embedding")))
        val anchors = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
                  col("embedding").as("qe"), col("nrm").as("nq"))
        val base = emb.select(col("vec_id").as("bid"), col("label"),
                              col("embedding").as("be"), col("nrm").as("nb"))
        base.join(broadcast(anchors), col("qid") =!= col("bid"))
          .withColumn("cos_sim", expr(s"$dotExpr / sqrt(nq * nb)"))
          .groupBy("qid", "qlabel")
          .agg(max(when(col("label") === col("qlabel"),
                        struct(col("cos_sim"), (-col("bid")).as("nid")))).as("p"),
               max(when(col("label") =!= col("qlabel"),
                        struct(col("cos_sim"), (-col("bid")).as("nid")))).as("n"))
          .select(col("qid"), col("qlabel"),
                  (-col("p.nid")).as("pos_id"), round(col("p.cos_sim"), 6).as("pos_cos"),
                  (-col("n.nid")).as("neg_id"), round(col("n.cos_sim"), 6).as("neg_cos"),
                  round(col("p.cos_sim") - col("n.cos_sim"), 6).as("margin"))
          .orderBy("qid")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |    ${duckNorm("embedding")} AS nrm FROM embeddings),
              |p AS (SELECT q.vec_id AS qid, q.label AS qlabel,
              |    b.vec_id AS bid, b.label AS blabel,
              |    list_sum(list_transform(generate_series(1, len(q.embedding)),
              |       i -> CAST(q.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
              |      / sqrt(q.nrm * b.nrm) AS cos_sim
              |  FROM (SELECT * FROM e WHERE vec_id < 8) q
              |  JOIN e b ON q.vec_id <> b.vec_id),
              |pos AS (SELECT qid, bid, cos_sim FROM (
              |    SELECT qid, bid, cos_sim, row_number() OVER (
              |        PARTITION BY qid ORDER BY cos_sim DESC, bid) AS rk
              |    FROM p WHERE qlabel = blabel) t WHERE rk = 1),
              |neg AS (SELECT qid, bid, cos_sim FROM (
              |    SELECT qid, bid, cos_sim, row_number() OVER (
              |        PARTITION BY qid ORDER BY cos_sim DESC, bid) AS rk
              |    FROM p WHERE qlabel <> blabel) t WHERE rk = 1)
              |SELECT q.vec_id AS qid, q.label AS qlabel,
              |  pos.bid AS pos_id, round(pos.cos_sim, 6) AS pos_cos,
              |  neg.bid AS neg_id, round(neg.cos_sim, 6) AS neg_cos,
              |  round(pos.cos_sim - neg.cos_sim, 6) AS margin
              |FROM (SELECT vec_id, label FROM e WHERE vec_id < 8) q
              |JOIN pos ON q.vec_id = pos.qid
              |JOIN neg ON q.vec_id = neg.qid
              |ORDER BY qid""".stripMargin),
      note = "per-anchor best positive + hard negative in one base pass; margin = curriculum signal"),

    // One full Lloyd iteration (k-means refine) over the label-seeded
    // centroids: E-step argmin assignment, M-step re-averaging, plus the
    // per-cluster centroid shift that a training driver would test for
    // convergence. EVERYTHING is 64-bit integer arithmetic on 1e7-scaled
    // components — distances, means, and shifts are bit-identical across
    // engines with no float-order or rounding caveats. Fixed-point means
    // use an offset before the floor division ((s + n·OFF) div n − OFF)
    // so Spark's truncating `div` and DuckDB's flooring `//` agree even
    // when component sums are negative. Scale shape: centroids broadcast
    // (k·dim rows), the E-step is a map-side argmin over one base pass,
    // the M-step is one partial-aggregating shuffle — the canonical
    // distributed k-means round, O(rounds) such plans to convergence.
    Q("ann_kmeans_refine", Seq("similarity", "J2", "A1", "A13", "§2.10"),
      (s, dir) => {
        val OFF = 100000000L
        val meanFx = s"(sxs + n * $OFF) div n - $OFF"
        val xs = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("label"), col("pos"),
                  expr("CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)").as("xs"))
          .cache() // E-step distances, M-step sums, and old centroids all re-read it
        val centOld = xs.groupBy(col("label").as("c_label"), col("pos"))
          .agg(sum("xs").as("sxs"), count(lit(1)).as("n"))
          .select(col("c_label"), col("pos"), expr(meanFx).as("cx"))
          .cache() // probed by the E-step and by the final shift join
        val assigned = xs.join(broadcast(centOld), "pos")
          .groupBy(col("vec_id"), col("c_label"))
          .agg(sum(expr("(xs - cx) * (xs - cx)")).as("d2"))
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("c_label"))).as("m"))
          .select(col("vec_id"), col("m.c_label").as("assigned"))
        val centNew = xs.join(assigned, "vec_id")
          .groupBy(col("assigned"), col("pos"))
          .agg(sum("xs").as("sxs"), count(lit(1)).as("n"))
          .select(col("assigned"), col("pos"), col("n"), expr(meanFx).as("cn"))
        val centOldR = centOld.withColumnRenamed("pos", "o_pos")
        centNew.join(centOldR,
            centNew("assigned") === centOldR("c_label") && col("pos") === col("o_pos"))
          .groupBy(col("assigned").as("c_label"))
          .agg(max("n").as("n_members"),
               sum(expr("(cn - cx) * (cn - cx)")).as("shift_sq"))
          .orderBy("c_label")
      },
      Some("""WITH xs AS (
             |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS xs
             |  FROM embeddings),
             |co AS (SELECT label AS c_label, pos,
             |    (CAST(sum(xs) AS BIGINT) + count(*) * 100000000) // count(*)
             |      - 100000000 AS cx
             |  FROM xs GROUP BY 1, 2),
             |d AS (SELECT vec_id, c_label,
             |    CAST(sum((xs - cx) * (xs - cx)) AS BIGINT) AS d2
             |  FROM xs JOIN co USING (pos) GROUP BY 1, 2),
             |a AS (SELECT vec_id, c_label AS assigned FROM (
             |    SELECT vec_id, c_label,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
             |    FROM d) t WHERE rk = 1),
             |nc AS (SELECT assigned, pos, count(*) AS n,
             |    (CAST(sum(xs) AS BIGINT) + count(*) * 100000000) // count(*)
             |      - 100000000 AS cn
             |  FROM xs JOIN a USING (vec_id) GROUP BY 1, 2)
             |SELECT nc.assigned AS c_label, CAST(max(nc.n) AS BIGINT) AS n_members,
             |  CAST(sum((cn - cx) * (cn - cx)) AS BIGINT) AS shift_sq
             |FROM nc JOIN co ON co.c_label = nc.assigned AND co.pos = nc.pos
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      note = "integer-exact Lloyd iteration: broadcast E-step argmin, one-shuffle M-step, fixed-point shift diagnostic"),

    // Semantic dedup at corpus scale — the composition a production
    // pipeline actually runs: LSH-bucket the vectors (candidates only ever
    // pair INSIDE a bucket — never all-pairs), verify candidates with the
    // exact cosine, then close the verified edge set into connected
    // components by min-label propagation so each semantic cluster keeps
    // one representative. Exact-duplicate vectors collapse to a rep before
    // the pair work (the vector analog of dupMembers: copies are the
    // dominant duplicate mode in a crawl and would otherwise square the
    // candidate space), and copy edges re-attach them to the rep's
    // component afterwards. O(diameter) label rounds, lineage truncated
    // per round; the oracle computes the same fixpoint via recursive CTE.
    Q("dedup_semantic_components", Seq("dedup", "similarity", "J2", "W9", "§2.10"),
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val groups = emb.groupBy(col("embedding")).agg(min("vec_id").as("rep"))
        val members = FrameMemo(s, s"$dir#sem_members") {
          emb.select("embedding", "vec_id").join(groups, Seq("embedding"))
            .select(col("rep"), col("vec_id"))
        }
        val reps = FrameMemo(s, s"$dir#sem_reps") {
          groups.withColumn("bucket", expr(sparkBucket("embedding")))
            .withColumn("nrm", expr(normExpr("embedding")))
        }
        val a = reps.select(col("rep").as("ra"), col("embedding").as("qe"),
                            col("nrm").as("nq"), col("bucket"))
        val b = reps.select(col("rep").as("rb"), col("embedding").as("be"),
                            col("nrm").as("nb"), col("bucket"))
        val repEdges = a.join(b, "bucket").where(col("ra") < col("rb"))
          .where(expr(s"$dotExpr / sqrt(nq * nb)") >= SemTau)
          .select(col("ra").as("x"), col("rb").as("y"))
        val copyEdges = members.where(col("vec_id") =!= col("rep"))
          .select(col("rep").as("x"), col("vec_id").as("y"))
        val edges = repEdges.union(copyEdges)
        // pre-partition on the round join key, memoized (round 12): this was
        // a per-invocation localCheckpoint, i.e. every run re-ran the bucket
        // join + exact-cosine verify + repartition as an eager driver job —
        // the documents-side twin (symDupEdges) already kept its symmetric
        // edge list in the session memo; the vector analog now matches.
        // The cached partitioning satisfies every round's sym⋈labels join,
        // so only the label frame shuffles per round.
        val sym = FrameMemo(s, s"$dir#sem_sym_edges") {
          edges.union(edges.select(col("y").as("x"), col("x").as("y")))
            .repartition(col("x"))
        }
        // Iterate ONLY over edge endpoints: at corpus scale near-dup edges
        // are sparse, so |V_edges| << |V| — isolated vectors are fixpoints
        // from round 0 and re-attach with their own label after
        // convergence, instead of flowing through every join, checkpoint
        // and changed-count of every round. (sym is symmetric, so x alone
        // covers all endpoints.)
        val touched = sym.select(col("x").as("vec_id")).distinct()
        // lazy checkpoints — one action per round (see DedupQueries.clusterLabels)
        var labels = touched.withColumn("label", col("vec_id")).localCheckpoint(false)
        var changed = 1L
        var rounds = 0
        val maxRounds = 50 // O(component diameter); clusters are shallow
        while (changed > 0 && rounds < maxRounds) {
          val viaNbr = sym.join(labels, sym("x") === labels("vec_id"))
            .groupBy(col("y")).agg(min("label").as("nl"))
          // change detection rides INSIDE the round's checkpoint (a label
          // only ever decreases, so "nl < label" IS "label changed") — the
          // convergence count is a filter over the already-materialized
          // frame, not a second next⋈labels shuffle per round.
          val next = labels.as("l")
            .join(viaNbr, col("l.vec_id") === viaNbr("y"), "left")
            .select(col("l.vec_id").as("vec_id"),
                    least(col("l.label"), coalesce(col("nl"), col("l.label"))).as("label"),
                    (col("nl") < col("l.label")).as("chg"))
            .localCheckpoint(false) // lineage cut; materialized by the count below
          changed = next.where(col("chg")).count()
          labels = next.select("vec_id", "label")
          rounds += 1
        }
        // Round-13 A/Bs at sf1, both REJECTED with numbers (same-regime
        // JobTrace, steady runs): (1) converge-check every 2nd round only —
        // 2.67-3.07s vs 2.86-3.30s status quo, ~5% inside the noise band,
        // not worth the extra no-op round at odd convergence; (2) pointer
        // jumping (label <- label(label) per round) — 3.13-3.86s, WORSE:
        // semantic clusters are shallow, so the extra per-round self-join
        // costs more than the O(log d) round saving recovers.
        require(changed == 0,
          s"semantic min-label propagation did not converge in $maxRounds rounds")
        emb.select("vec_id").join(labels, Seq("vec_id"), "left")
          .select(col("vec_id"),
                  coalesce(col("label"), col("vec_id")).as("cluster_id"),
                  (col("vec_id") === coalesce(col("label"), col("vec_id"))).as("is_kept"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE
              |e AS MATERIALIZED (SELECT vec_id, embedding, ${duckBucket("embedding")} AS bucket
              |      FROM embeddings),
              |g AS (SELECT embedding, min(vec_id) AS rep FROM e GROUP BY embedding),
              |mem AS (SELECT g.rep, e.vec_id FROM e JOIN g ON e.embedding = g.embedding),
              |r AS (SELECT g.rep, e.embedding, e.bucket FROM g JOIN e ON e.vec_id = g.rep),
              |cand AS (SELECT x.rep AS ra, y.rep AS rb,
              |    x.embedding AS qe, y.embedding AS be
              |  FROM r x JOIN r y ON x.bucket = y.bucket AND x.rep < y.rep),
              |pr AS (SELECT ra, rb FROM cand
              |  WHERE $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) >= $SemTau),
              |ce AS (SELECT rep AS ra, vec_id AS rb FROM mem WHERE vec_id <> rep),
              |edges AS MATERIALIZED (SELECT ra AS a, rb AS b FROM pr UNION SELECT ra, rb FROM ce
              |          UNION SELECT rb, ra FROM pr UNION SELECT rb, ra FROM ce),
              |reach(src, node) AS (
              |  SELECT vec_id, vec_id FROM embeddings
              |  UNION
              |  SELECT r2.src, e2.b FROM reach r2 JOIN edges e2 ON r2.node = e2.a),
              |labels AS (SELECT src AS vec_id, min(node) AS label FROM reach GROUP BY src)
              |SELECT vec_id, label AS cluster_id, vec_id = label AS is_kept
              |FROM labels ORDER BY vec_id""".stripMargin),
      note = "semantic cluster dedup: LSH-bucketed candidates -> exact-cosine verify -> min-label components; never all-pairs, copies collapse before pair work"),

    // Hybrid retrieval with reciprocal-rank fusion — the production
    // retrieval shape (RAG, hard-negative mining, semantic dedup review
    // queues): a dense ranker (embedding cosine) and a lexical ranker
    // (distinct-token Jaccard against the query doc) disagree in useful
    // ways, and RRF fuses them using only the RANKS: rrf = 1/(60+r_dense)
    // + 1/(60+r_lex). Ranks kill the score-scale mismatch and — here —
    // every float subtlety: the fused score is a sum of two exact IEEE
    // divisions of small integers, so hash-exactness doesn't depend on the
    // rankers' score precision at all, only their orderings (both already
    // engine-exact: vec_dot's left fold, integer token counts). Queries
    // are the four lowest ids, fused over the full candidate grid as the
    // exact baseline (same declared role as ann_cosine_topk's BNLJ); at
    // 100 TB each ranker feeds its own bounded top-k (IVF probe, prefix-
    // filtered lexical candidates) and the fusion is a rank equi-join —
    // the grid here exists only to make the oracle total.
    Q("ann_rrf_hybrid", Seq("similarity", "text", "J2", "W4"),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir).withColumn("nrm", expr(normExpr("embedding")))
        val q = emb.where(col("vec_id") < 4)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("nq"))
        val b = emb.select(col("vec_id").as("bid"), col("embedding").as("be"), col("nrm").as("nb"))
        val dense = q.crossJoin(b).where(col("qid") =!= col("bid"))
          .withColumn("cos_sim", expr(s"$dotExpr / sqrt(nq * nb)"))
          .select("qid", "bid", "cos_sim")
        // lexical: distinct-token Jaccard of each candidate against the
        // query doc's token set (documents.doc_id ≡ embeddings.vec_id)
        // cached: tok feeds three branches (ntok rollup, query-side slice,
        // candidate-side join) — without the cache the scan+explode+distinct
        // subtree is evaluated three times (same rationale as
        // text_corpus_fluency's toks)
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term")).distinct()
          .cache()
        val ntok = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        val qtok = tok.where(col("doc_id") < 4)
          .select(col("doc_id").as("qid"), col("term"))
        val shared = tok.join(broadcast(qtok), "term")
          .where(col("qid") =!= col("doc_id"))
          .groupBy(col("qid"), col("doc_id").as("bid"))
          .agg(count(lit(1)).as("shared"))
        val lex = shared
          .join(ntok.select(col("doc_id").as("qid"), col("nt").as("nq_t")), "qid")
          .join(ntok.select(col("doc_id").as("bid"), col("nt").as("nb_t")), "bid")
          .select(col("qid"), col("bid"),
                  (col("shared").cast("double") / (col("nq_t") + col("nb_t") - col("shared"))).as("jac"))
        val wd = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("bid"))
        val wl = Window.partitionBy("qid").orderBy(col("jac").desc, col("bid"))
        val fused = dense.withColumn("r_dense", row_number().over(wd))
          .join(lex, Seq("qid", "bid"), "left")
          .withColumn("jac", coalesce(col("jac"), lit(0.0)))
          .withColumn("r_lex", row_number().over(wl))
          .withColumn("rrf", expr("1.0 / (60.0 + CAST(r_dense AS DOUBLE)) + 1.0 / (60.0 + CAST(r_lex AS DOUBLE))"))
        val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("bid"))
        fused.withColumn("rank", row_number().over(wf))
          .where(col("rank") <= 10)
          .select(col("qid"), col("rank").cast("int").as("rank"), col("bid"),
                  col("r_dense").cast("int").as("r_dense"),
                  col("r_lex").cast("int").as("r_lex"), col("rrf"))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
              |b AS (SELECT vec_id AS bid, embedding AS be FROM embeddings),
              |dense AS (SELECT qid, bid,
              |    $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) AS cos_sim
              |  FROM q, b WHERE qid <> bid),
              |tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              |ntok AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
              |shared AS (SELECT qt.doc_id AS qid, t.doc_id AS bid, count(*) AS shared
              |  FROM tok t JOIN (SELECT doc_id, term FROM tok WHERE doc_id < 4) qt USING (term)
              |  WHERE qt.doc_id <> t.doc_id GROUP BY 1, 2),
              |lex AS (SELECT s.qid, s.bid,
              |    CAST(s.shared AS DOUBLE) / (nq.nt + nb.nt - s.shared) AS jac
              |  FROM shared s JOIN ntok nq ON nq.doc_id = s.qid
              |  JOIN ntok nb ON nb.doc_id = s.bid),
              |fused AS (
              |  SELECT d.qid, d.bid,
              |    row_number() OVER (PARTITION BY d.qid ORDER BY d.cos_sim DESC, d.bid) AS r_dense,
              |    row_number() OVER (PARTITION BY d.qid ORDER BY coalesce(l.jac, 0.0) DESC, d.bid) AS r_lex
              |  FROM dense d LEFT JOIN lex l ON l.qid = d.qid AND l.bid = d.bid)
              |SELECT qid, CAST(rank AS INTEGER) AS rank, bid,
              |  CAST(r_dense AS INTEGER) AS r_dense, CAST(r_lex AS INTEGER) AS r_lex, rrf
              |FROM (
              |  SELECT qid, bid, r_dense, r_lex,
              |    1.0 / (60.0 + CAST(r_dense AS DOUBLE)) + 1.0 / (60.0 + CAST(r_lex AS DOUBLE)) AS rrf,
              |    row_number() OVER (PARTITION BY qid ORDER BY
              |      1.0 / (60.0 + CAST(r_dense AS DOUBLE)) + 1.0 / (60.0 + CAST(r_lex AS DOUBLE)) DESC, bid) AS rank
              |  FROM fused) t
              |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
      note = "reciprocal-rank fusion of dense cosine and lexical Jaccard ranks; fused score is exact small-integer arithmetic, independent of ranker score precision"),

    // Per-vector symmetric int8 scalar quantization — the embedding-STORAGE
    // scale path: a 100 TB float32 embedding store is 25 TB at int8 with
    // ~1% recall loss, and every major vector engine (FAISS SQ8, Lucene
    // KnnByteVectorField) ships exactly this codec. scale = amax/127 per
    // vector; q_i = floor(x_i/scale + 0.5) (explicit half-up — both
    // engines' floor is deterministic, unlike their round() tie rules on
    // doubles). Emits the quantized checksum/norm, saturation count and max
    // reconstruction error; every double is produced by the same op order
    // on both engines, so the comparison is bit-exact with NO rounding.
    //
    // Scale: embarrassingly parallel per-row map (all codegen'd HOFs), no
    // shuffle at all before the final sort.
    Q("ann_int8_quantize", Seq("ann", "P15", "§2.10"),
      (s, dir) =>
        Tables.embeddings(s, dir)
          .selectExpr("vec_id", "label",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
          .selectExpr("vec_id", "label", "v",
            "array_max(transform(v, x -> abs(x))) AS amax")
          .selectExpr("vec_id", "label", "v",
            "IF(amax = 0.0D, 1.0D, amax / 127.0D) AS scale")
          .selectExpr("vec_id", "label", "v", "scale",
            "transform(v, x -> CAST(floor(x / scale + 0.5D) AS INT)) AS qv")
          .selectExpr("vec_id", "label", "scale",
            "aggregate(qv, 0L, (a, x) -> a + x) AS qsum",
            "aggregate(qv, 0L, (a, x) -> a + CAST(x AS BIGINT) * x) AS qnorm",
            "CAST(size(filter(qv, x -> abs(x) = 127)) AS BIGINT) AS sat_n",
            "array_max(zip_with(v, qv, (x, q) -> abs(x - q * scale))) AS err_max")
          .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |a AS (SELECT vec_id, label, v,
             |    list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
             |sc AS (SELECT vec_id, label, v,
             |    CASE WHEN amax = 0.0 THEN 1.0 ELSE amax / 127.0 END AS scale FROM a),
             |q AS (SELECT vec_id, label, v, scale,
             |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS qv
             |  FROM sc)
             |SELECT vec_id, label, scale,
             |  CAST(list_sum(qv) AS BIGINT) AS qsum,
             |  CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS qnorm,
             |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS sat_n,
             |  list_max(list_transform(generate_series(1, len(v)),
             |    i -> abs(v[i] - qv[i] * scale))) AS err_max
             |FROM q ORDER BY vec_id""".stripMargin),
      note = "per-vector symmetric int8 quantization (FAISS-SQ8 shape) + saturation/reconstruction audit; shuffle-free per-row map, bit-exact across engines"),

    // Top principal direction of the embedding store by DISTRIBUTED POWER
    // ITERATION — the dimensionality probe every embedding pipeline runs
    // (anisotropy/whitening diagnostics, OPQ rotation seeding, drift
    // monitoring between model versions). Three unrolled Gram-matrix
    // iterations v ← X^T(Xv)/‖·‖ in ONE declarative plan. Cross-engine
    // bit-exactness for a genuinely floating-point iterative kernel:
    // per-row dots are sequential 64-element folds (engine-identical);
    // every CROSS-ROW sum — the only place parallel reduction order could
    // bite — is quantized first (floor(u·x·10¹² + 0.5)) and summed as
    // DECIMAL(38,0), so the reduce is integer arithmetic in any order.
    // PRECONDITIONS this relies on (guarded by Round8OpsSpec's norm check
    // so a testdata change fails loudly, not via a hash mismatch):
    // (a) embeddings ≈ unit-norm, so |u·x| ≤ ~1 and u·x·10¹² stays well
    // inside the range where both engines compute the identical double
    // before the floor; (b) the final DECIMAL(38,0)→DOUBLE cast (DuckDB:
    // HUGEINT→double) is correctly rounded in both engines — it holds for
    // the Spark/DuckDB pair the gate runs, but it is an engine-pair
    // property, not an algorithmic guarantee. The 64-element
    // normalization runs as an in-row fold over the pos-sorted z array. Plan shape at scale:
    // each iteration is one broadcast of the 64-float vector, a map-side
    // explode, and ONE 64-group aggregation with map-side partials — the
    // classic allreduce-as-aggregation, nothing grows with rows but the
    // linear scan.
    Q("ml_pca_power_iter", Seq("ann", "similarity", "A12", "A13", "§2.10"),
      (s, dir) => {
        val d = 64 // TESTDATA.md embedding dim
        val emb = FrameMemo(s, s"$dir#pca_xs") {
          Tables.embeddings(s, dir)
            .select(col("vec_id"),
                    expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xs"))
        }
        val v0 = s.range(1).select(
          expr(s"transform(sequence(1, $d), i -> 0.125D)").as("v")) // 1/√64 exactly
        val vK = (1 to 3).foldLeft(v0) { (vf, _) =>
          emb.crossJoin(broadcast(vf))
            .withColumn("u", expr(
              "aggregate(zip_with(xs, v, (x, y) -> x * y), 0D, (a, p) -> a + p)"))
            .select(col("u"), posexplode(col("xs")).as(Seq("pos", "xv")))
            .groupBy("pos")
            .agg(sum(expr(
              "CAST(floor(u * xv * 1000000000000D + 0.5D) AS DECIMAL(38,0))")).as("zq"))
            .select(col("pos"), col("zq").cast("double").as("zd"))
            .groupBy()
            .agg(expr("sort_array(collect_list(struct(pos, zd)))").as("zs"))
            .withColumn("nrm", expr("sqrt(aggregate(zs, 0D, (a, q) -> a + q.zd * q.zd))"))
            .select(expr("transform(zs, t -> t.zd / nrm)").as("v"))
        }
        vK.select(posexplode(col("v")).as(Seq("pos0", "loading")))
          .select((col("pos0") + 1).cast("int").as("pos"), col("loading"))
          .orderBy("pos")
      },
      Some("""WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
             |          FROM embeddings),
             |v0 AS (SELECT list_transform(generate_series(1, 64),
             |         i -> CAST(0.125 AS DOUBLE)) AS v),
             |u1 AS (SELECT xs, list_sum(list_transform(generate_series(1, 64),
             |         i -> xs[i] * v[i])) AS u FROM e, v0),
             |x1 AS (SELECT u, xs, unnest(generate_series(1, 64)) AS pos FROM u1),
             |z1 AS (SELECT pos, SUM(CAST(floor(u * xs[pos] * 1000000000000 + 0.5)
             |         AS DECIMAL(38,0))) AS zq FROM x1 GROUP BY pos),
             |a1 AS (SELECT list(CAST(zq AS DOUBLE) ORDER BY pos) AS zs FROM z1),
             |v1 AS (SELECT list_transform(zs, x -> x /
             |         sqrt(list_sum(list_transform(zs, y -> y * y)))) AS v FROM a1),
             |u2 AS (SELECT xs, list_sum(list_transform(generate_series(1, 64),
             |         i -> xs[i] * v[i])) AS u FROM e, v1),
             |x2 AS (SELECT u, xs, unnest(generate_series(1, 64)) AS pos FROM u2),
             |z2 AS (SELECT pos, SUM(CAST(floor(u * xs[pos] * 1000000000000 + 0.5)
             |         AS DECIMAL(38,0))) AS zq FROM x2 GROUP BY pos),
             |a2 AS (SELECT list(CAST(zq AS DOUBLE) ORDER BY pos) AS zs FROM z2),
             |v2 AS (SELECT list_transform(zs, x -> x /
             |         sqrt(list_sum(list_transform(zs, y -> y * y)))) AS v FROM a2),
             |u3 AS (SELECT xs, list_sum(list_transform(generate_series(1, 64),
             |         i -> xs[i] * v[i])) AS u FROM e, v2),
             |x3 AS (SELECT u, xs, unnest(generate_series(1, 64)) AS pos FROM u3),
             |z3 AS (SELECT pos, SUM(CAST(floor(u * xs[pos] * 1000000000000 + 0.5)
             |         AS DECIMAL(38,0))) AS zq FROM x3 GROUP BY pos),
             |a3 AS (SELECT list(CAST(zq AS DOUBLE) ORDER BY pos) AS zs FROM z3),
             |v3 AS (SELECT list_transform(zs, x -> x /
             |         sqrt(list_sum(list_transform(zs, y -> y * y)))) AS v FROM a3),
             |p AS (SELECT unnest(generate_series(1, 64)) AS pos)
             |SELECT CAST(p.pos AS INTEGER) AS pos, v[p.pos] AS loading
             |FROM v3, p ORDER BY pos""".stripMargin),
      note = "top principal direction by 3 power iterations: quantized-integer cross-row sums (order-free given ≈unit-norm inputs — guarded in Round8OpsSpec — and correctly-rounded decimal→double casts on both engines), in-row folds for dots and norms"),

    // Matryoshka prefix-dimension recall audit — the evaluation every
    // MRL-trained embedding deployment runs before serving truncated
    // vectors (retrieve with the first 16 of 64 dims at ¼ the memory
    // bandwidth, re-rank with the full vector): for each query, the exact
    // top-5 under the 16-dim PREFIX cosine is compared against the top-5
    // under the FULL cosine, reporting the overlap and both top-1 picks.
    // Ranking-only outputs (ids and an intersection count) make the query
    // hash-exact even though cosines are floats: both engines order by
    // the same sequentially-folded dot, and only the order is consumed.
    // Same declared exact-baseline BNLJ role as ann_cosine_topk — the
    // bounded query slice broadcasts into the candidate pool; at scale
    // the prefix leg is the IVF probe and this audit grades it.
    Q("ann_matryoshka_recall", Seq("ann", "similarity", "W4", "A12", "§2.10"),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"),
                  expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xs"))
          .withColumn("pre", expr("slice(xs, 1, 16)"))
        def fold(a: String, b: String) =
          s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, p) -> acc + p)"
        val q = emb.where(col("vec_id") < 4)
          .select(col("vec_id").as("qid"), col("xs").as("qx"), col("pre").as("qp"))
        val b = emb.select(col("vec_id").as("bid"), col("xs").as("bx"), col("pre").as("bp"))
        val grid = broadcast(q).crossJoin(b).where(col("qid") =!= col("bid"))
          .withColumn("cf", expr(
            s"${fold("qx", "bx")} / sqrt((${fold("qx", "qx")}) * (${fold("bx", "bx")}))"))
          .withColumn("cp", expr(
            s"${fold("qp", "bp")} / sqrt((${fold("qp", "qp")}) * (${fold("bp", "bp")}))"))
        val wf = Window.partitionBy("qid").orderBy(col("cf").desc, col("bid"))
        val wp = Window.partitionBy("qid").orderBy(col("cp").desc, col("bid"))
        grid
          .withColumn("rf", row_number().over(wf))
          .withColumn("rp", row_number().over(wp))
          .where(col("rf") <= 5 || col("rp") <= 5)
          .groupBy("qid")
          .agg(expr("sort_array(filter(collect_list(CASE WHEN rf <= 5 THEN bid END), x -> x IS NOT NULL))").as("full5"),
               expr("sort_array(filter(collect_list(CASE WHEN rp <= 5 THEN bid END), x -> x IS NOT NULL))").as("pre5"),
               max(when(col("rf") === 1, col("bid"))).as("top1_full"),
               max(when(col("rp") === 1, col("bid"))).as("top1_prefix"))
          .select(col("qid"), col("top1_full"), col("top1_prefix"),
                  expr("CAST(size(array_intersect(full5, pre5)) AS INT)").as("overlap_n"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs,
             |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS pre
             |  FROM embeddings),
             |g AS (SELECT q.vec_id AS qid, b.vec_id AS bid,
             |    list_sum(list_transform(generate_series(1, 64), i -> q.xs[i] * b.xs[i]))
             |      / sqrt(list_sum(list_transform(q.xs, x -> x * x))
             |             * list_sum(list_transform(b.xs, x -> x * x))) AS cf,
             |    list_sum(list_transform(generate_series(1, 16), i -> q.pre[i] * b.pre[i]))
             |      / sqrt(list_sum(list_transform(q.pre, x -> x * x))
             |             * list_sum(list_transform(b.pre, x -> x * x))) AS cp
             |  FROM e q, e b WHERE q.vec_id < 4 AND b.vec_id <> q.vec_id),
             |r AS (SELECT qid, bid,
             |    row_number() OVER (PARTITION BY qid ORDER BY cf DESC, bid) AS rf,
             |    row_number() OVER (PARTITION BY qid ORDER BY cp DESC, bid) AS rp
             |  FROM g),
             |tf AS (SELECT qid, list(bid ORDER BY bid) AS full5,
             |         min(CASE WHEN rf = 1 THEN bid END) AS top1_full
             |       FROM r WHERE rf <= 5 GROUP BY 1),
             |tp AS (SELECT qid, list(bid ORDER BY bid) AS pre5,
             |         min(CASE WHEN rp = 1 THEN bid END) AS top1_prefix
             |       FROM r WHERE rp <= 5 GROUP BY 1)
             |SELECT tf.qid, tf.top1_full, tp.top1_prefix,
             |  CAST(len(list_intersect(tf.full5, tp.pre5)) AS INTEGER) AS overlap_n
             |FROM tf JOIN tp USING (qid) ORDER BY qid""".stripMargin),
      note = "MRL truncated-dimension audit: exact top-5 under 16-dim prefix cosine vs full 64-dim cosine, overlap + top-1s; rank-only outputs keep the compare hash-exact"),

    // Greedy k-center coreset (farthest-point sampling) — the diversity-
    // selection primitive of data pruning / active learning: pick the
    // point farthest from everything selected so far, k times, giving a
    // 2-approximation of the optimal k-center cover (Gonzalez 1985). The
    // selected ids plus each step's distance-at-selection (the shrinking
    // coverage radius) summarize how spread-out the corpus is and which
    // docs anchor that spread. Greedy FPS is inherently sequential in k,
    // so the driver loop is the algorithm, not a scale compromise: each
    // of the k-1 steps is ONE distributed argmax scan (TakeOrderedAndProject
    // of a single row) against the memoized norm-precomputed base, and the
    // only driver state is the k picked vectors (k·dim doubles). d² is
    // assembled as nx - 2·dot + nc from per-point norms computed ONCE —
    // each step adds O(n·dim) dot work, never re-deriving norms. All
    // arithmetic is ordered-fold dot products + IEEE add/mul (the
    // vec_dot ≡ list_sum(list_transform) pairing proven bit-exact by the
    // cosine queries), so selection is hash-reproducible cross-engine.
    Q("sample_kcenter_coreset", Seq("sampling", "similarity", "W4", "A13", "§2.10"),
      (s, dir) => {
        val k = 8
        val base = FrameMemo(s, s"$dir#kcenter_base") {
          Tables.embeddings(s, dir)
            .select(col("vec_id"), col("embedding"),
                    expr(normExpr("embedding")).as("nx"))
        }
        // ordered-fold dot against a literal center (mirrors duckDot's
        // index-order list_sum exactly)
        def d2To(c: Array[Double], nc: Double): org.apache.spark.sql.Column = {
          val lits = c.mkString("array(", "D, ", "D)")
          col("nx") - lit(2.0) * expr(
            s"aggregate(zip_with(embedding, $lits, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)") + lit(nc)
        }
        def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
          r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
        val seed = base.orderBy("vec_id").limit(1).collect()(0)
        var picked = List((seed.getLong(0), 0.0))
        var c = vecOf(seed)
        var nc = c.foldLeft(0.0)((a, v) => a + v * v)
        var cur = base.withColumn("dmin", d2To(c, nc))
        for (_ <- 2 to k) {
          val nxt = cur.orderBy(col("dmin").desc, col("vec_id")).limit(1).collect()(0)
          picked = (nxt.getLong(0), nxt.getAs[Double]("dmin")) :: picked
          c = vecOf(nxt)
          nc = c.foldLeft(0.0)((a, v) => a + v * v)
          cur = cur.withColumn("dmin", least(col("dmin"), d2To(c, nc)))
        }
        val rows = picked.reverse.zipWithIndex.map { case ((id, d), i) => (i + 1, id, d) }
        import s.implicits._
        rows.toDF("rk", "vec_id", "d2sel").orderBy("rk")
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(generate_series(1, len($a.embedding)), " +
          s"i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"
        val steps = (2 to 8).map { j =>
          s"""c$j AS (SELECT vec_id, embedding, nx, dmin FROM d${j - 1}
             |  ORDER BY dmin DESC, vec_id LIMIT 1),
             |d$j AS (SELECT d.vec_id, d.embedding, d.nx,
             |    least(d.dmin, d.nx - 2 * ${dot("d", s"c$j")} + c$j.nx) AS dmin
             |  FROM d${j - 1} d, c$j)""".stripMargin
        }.mkString(",\n")
        s"""WITH en AS (SELECT vec_id, embedding,
           |    ${duckNorm("embedding")} AS nx FROM embeddings),
           |c1 AS (SELECT vec_id, embedding, nx FROM en ORDER BY vec_id LIMIT 1),
           |d1 AS (SELECT en.vec_id, en.embedding, en.nx,
           |    en.nx - 2 * ${dot("en", "c1")} + c1.nx AS dmin
           |  FROM en, c1),
           |$steps
           |SELECT CAST(rk AS INTEGER) AS rk, vec_id, d2sel FROM (
           |  SELECT 1 AS rk, vec_id, 0.0 AS d2sel FROM c1
           |${(2 to 8).map(j => s"  UNION ALL SELECT $j, vec_id, dmin FROM c$j").mkString("\n")}
           |) ORDER BY rk""".stripMargin
      },
      note = "Gonzalez greedy k-center (k=8) over embeddings: per-step distributed argmax (TakeOrderedAndProject of 1 row) on a norm-precomputed memoized base; driver state = k vectors only; division-free IEEE arithmetic keeps cross-engine bit parity"),

    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    // — diversified top-k retrieval: after the IVF cell probe supplies a
    // 20-candidate pool per query, five picks are made greedily by
    // score = λ·relevance − (1−λ)·max-similarity-to-already-picked
    // (λ=0.7), so near-duplicate hits can't crowd the result list — the
    // retrieval-side answer to redundant training corpora. The greedy
    // recursion is unrolled statically (k=5): every step is a pool ⋈
    // pairwise-sim ⋈ selected join keyed by qid, where the pool is 20
    // rows/query and pairwise sims ≤ 20·19 rows/query BY CONSTRUCTION —
    // the unrolled subtree is constant-size per query no matter the
    // corpus, and AQE broadcasts every side. Scale path: candidate
    // generation is the bucketed IVF probe (never all-pairs); the MMR
    // tail is O(k²·pool) per query. Same ordered-fold dot/sqrt arithmetic
    // as the cosine queries keeps cross-engine bit parity.
    Q("ann_mmr_rerank", Seq("similarity", "W4", "J4", "A13"),
      (s, dir) => {
        val lam = 0.7
        val emb = Tables.embeddings(s, dir).withColumn("nrm", expr(normExpr("embedding")))
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
                  col("nrm").as("nq"), col("label"))
        val b = emb.select(col("vec_id").as("bid"), col("embedding").as("be"),
                           col("nrm").as("nb"), col("label"))
        val wQ = Window.partitionBy("qid").orderBy(col("rel").desc, col("bid"))
        // pool and pairwise sims are memoized: every greedy step joins the
        // SAME 20-row-per-query frames; without the memo each unrolled step
        // re-plans all prior steps' subtrees and the plan grows ~3^k (the
        // first cut measured 482 exchanges)
        val pool = FrameMemo(s, s"$dir#mmr_pool") {
          q.join(b, "label").where(col("qid") =!= col("bid"))
            .withColumn("rel", expr(s"vec_dot(qe, be) / sqrt(nq * nb)"))
            .withColumn("rk", row_number().over(wQ)).where(col("rk") <= 20)
            .select("qid", "bid", "be", "nb", "rel")
        }
        val sims = FrameMemo(s, s"$dir#mmr_sims") {
          pool.select(col("qid"), col("bid").as("a"), col("be").as("ae"), col("nb").as("na"))
            .join(pool.select(col("qid"), col("bid").as("b"), col("be"), col("nb")), "qid")
            .where(col("a") =!= col("b"))
            .withColumn("sim", expr("vec_dot(ae, be) / sqrt(na * nb)"))
            .select("qid", "a", "b", "sim")
        }
        val wS = Window.partitionBy("qid").orderBy(col("score").desc, col("bid"))
        // NB: the diversity weight is the LITERAL 0.3 on both sides — the
        // Scala expression 1 - 0.7 evaluates to 0.30000000000000004.
        // Each step's pick (≤8 rows) is eagerly localCheckpoint'ed so the
        // next step joins a flat leaf, keeping the full plan LINEAR in k.
        // (Round-12 A/B: checkpointing only every SECOND step re-executes
        // the uncut pick subtrees inside both references of the next step —
        // measured ~2.5× SLOWER (3.1-3.9s vs 1.2-1.4s at sf0.1); the
        // per-step cut stays. coalesce(1) first: selected is ≤ 8·k rows,
        // so materializing one partition instead of 32+ window partitions
        // makes each eager job a single trivial task.)
        // LAZY per-step checkpoints (round 13): the Dataset-level plan cut
        // (what keeps the unrolled plan linear in k — the round-12 A/B) is
        // unchanged, but eager=false drops the five per-step driver jobs;
        // each ≤40-row single-partition RDD materializes on first reference
        // inside the next step's own builds and is persisted from then on.
        var selected = pool
          .withColumn("score", lit(lam) * col("rel") - lit(0.3) * lit(0.0))
          .withColumn("srk", row_number().over(wS)).where(col("srk") === 1)
          .select(col("qid"), lit(1).as("step"), col("bid"), col("score"))
          .coalesce(1).localCheckpoint(false)
        for (j <- 2 to 5) {
          val picked = selected.select(col("qid"), col("bid"))
          val ms = pool.join(picked, Seq("qid", "bid"), "left_anti")
            .join(sims.withColumnRenamed("a", "bid"), Seq("qid", "bid"))
            .join(picked.withColumnRenamed("bid", "b"), Seq("qid", "b"))
            .groupBy("qid", "bid").agg(first("rel").as("rel"), max("sim").as("ms"))
          val pick = ms
            .withColumn("score", lit(lam) * col("rel") - lit(0.3) * col("ms"))
            .withColumn("srk", row_number().over(wS)).where(col("srk") === 1)
            .select(col("qid"), lit(j).as("step"), col("bid"), col("score"))
          selected = selected.unionByName(pick).coalesce(1).localCheckpoint(false)
        }
        selected
          .select(col("qid"), col("step"), col("bid"),
                  round(col("score"), 6).as("mmr_score"))
          .orderBy("qid", "step")
      },
      Some {
        val dot = (a: String, b: String) =>
          s"list_sum(list_transform(generate_series(1, len($a)), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
        val steps = (2 to 5).map { j =>
          s"""c$j AS (SELECT p.qid, p.bid, any_value(p.rel) AS rel, max(ps.sim) AS ms
             |  FROM pool p ANTI JOIN sel${j - 1} s ON s.qid = p.qid AND s.bid = p.bid
             |  JOIN ps ON ps.qid = p.qid AND ps.a = p.bid
             |  JOIN sel${j - 1} t ON t.qid = ps.qid AND t.bid = ps.b
             |  GROUP BY 1, 2),
             |p$j AS (SELECT qid, $j AS step, bid, 0.7 * rel - 0.3 * ms AS score
             |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
             |          ORDER BY 0.7 * rel - 0.3 * ms DESC, bid) AS srk FROM c$j)
             |  WHERE srk = 1),
             |sel$j AS (SELECT qid, bid FROM sel${j - 1} UNION ALL SELECT qid, bid FROM p$j)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label,
           |    ${duckNorm("embedding")} AS nq FROM embeddings WHERE vec_id < 8),
           |b AS (SELECT vec_id AS bid, embedding AS be, label,
           |    ${duckNorm("embedding")} AS nb FROM embeddings),
           |pool AS (SELECT qid, bid, be, nb, rel FROM (
           |    SELECT qid, bid, be, nb,
           |      ${dot("qe", "be")} / sqrt(nq * nb) AS rel,
           |      row_number() OVER (PARTITION BY qid ORDER BY
           |        ${dot("qe", "be")} / sqrt(nq * nb) DESC, bid) AS rk
           |    FROM q JOIN b USING (label) WHERE qid <> bid) WHERE rk <= 20),
           |ps AS (SELECT pa.qid, pa.bid AS a, pb.bid AS b,
           |    ${dot("pa.be", "pb.be")} / sqrt(pa.nb * pb.nb) AS sim
           |  FROM pool pa JOIN pool pb ON pa.qid = pb.qid AND pa.bid <> pb.bid),
           |p1 AS (SELECT qid, 1 AS step, bid, 0.7 * rel - 0.3 * 0.0 AS score
           |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
           |          ORDER BY rel DESC, bid) AS srk FROM pool) WHERE srk = 1),
           |sel1 AS (SELECT qid, bid FROM p1),
           |$steps
           |SELECT qid, CAST(step AS INTEGER) AS step, bid, round(score, 6) AS mmr_score FROM (
           |  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
           |  UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5)
           |ORDER BY qid, step""".stripMargin
      },
      note = "MMR diversified top-5 (λ=0.7) over the IVF-bucketed candidate pool: statically unrolled greedy with constant-size per-query joins; candidate generation stays bucketed, never all-pairs"),

    // FILTERED vector search — the metadata-constrained top-k every vector
    // store ships (match the query's language, drop short documents)
    // done PRE-filter: candidates are restricted BEFORE any distance is
    // computed, not scored-then-discarded (post-filter wastes exactly the
    // filtered fraction of the distance work and can starve k). The
    // metadata lives in a DIFFERENT table (documents), so the shape under
    // test is the cross-table join: embeddings ⋈ documents on
    // vec_id = doc_id with the n_chars predicate pushed into the documents
    // parquet scan, then the per-language bucket join prunes candidates
    // the same way an IVF cell probe would. At 100 TB the metadata join is
    // the broadcast (doc metadata is narrow), the language bucket bounds
    // the pair space, and the scan never reads filtered rows' payloads.
    Q("ann_filtered_topk", Seq("similarity", "J1", "F4", "F5", "W4"),
      (s, dir) => {
        val meta = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val emb = Tables.embeddings(s, dir)
          .withColumn("nrm", expr(normExpr("embedding")))
        val q = emb.join(meta, col("vec_id") === col("doc_id"))
          .where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
                  col("nrm").as("nq"), col("lang").as("qlang"))
        val b = emb.join(meta.where(col("n_chars") >= 150),
                         col("vec_id") === col("doc_id"))
          .select(col("vec_id").as("bid"), col("embedding").as("be"),
                  col("nrm").as("nb"), col("lang"))
        val pairs = q.join(b, col("qlang") === col("lang") && col("qid") =!= col("bid"))
          .withColumn("cos_sim", expr(s"$dotExpr / sqrt(nq * nb)"))
        topk(pairs, 5)
      },
      Some(s"""WITH m AS (SELECT doc_id, lang, n_chars FROM documents),
              |q AS (SELECT e.vec_id AS qid, e.embedding AS qe, m.lang AS qlang
              |      FROM embeddings e JOIN m ON e.vec_id = m.doc_id
              |      WHERE e.vec_id < 8),
              |b AS (SELECT e.vec_id AS bid, e.embedding AS be, m.lang
              |      FROM embeddings e JOIN m ON e.vec_id = m.doc_id
              |      WHERE m.n_chars >= 150),
              |p AS (SELECT qid, bid,
              |    $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) AS cos_sim
              |  FROM q JOIN b ON q.qlang = b.lang AND qid <> bid)
              |SELECT qid, CAST(rank AS INTEGER) AS rank, bid, round(cos_sim, 6) AS cos_sim FROM (
              |  SELECT qid, bid, cos_sim,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, bid) AS rank
              |  FROM p) t
              |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      note = "metadata-filtered ANN: cross-table predicate (documents.n_chars) pushed to the scan and applied pre-distance, language bucket bounds the pair space, narrow metadata joins broadcast-shaped"),

    // BITEXT MINING with ratio-margin scoring — the parallel-corpus miner
    // (Artetxe & Schwenk; the CCMatrix/LASER construction): an English
    // query pairs with its best cross-lingual neighbor only when that
    // neighbor BEATS THE QUERY'S OWN BACKGROUND — cos(top1) divided by the
    // mean cos of ranks 2..5 — which suppresses hub vectors that are
    // everyone's nearest neighbor. Float discipline: the 4-element
    // background mean is summed in RANK ORDER on both engines (Spark
    // aggregate() over an array_sort'ed collect_list; DuckDB list_sum over
    // list(... ORDER BY rk)), so the left-fold doubles — and therefore the
    // margin and the >= 1.15 accept decision — are bit-identical. The
    // probe set is a bounded query slice crossed against the other-language
    // pool (same declared exact-baseline role as ann_cosine_topk's BNLJ);
    // at 100 TB candidates come from the LSH/IVF bucket path instead and
    // the margin criterion is unchanged.
    Q("mine_bitext_margin", Seq("similarity", "J1", "W4", "A1", "F4"),
      (s, dir) => {
        val meta = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        val emb = Tables.embeddings(s, dir)
          .withColumn("nrm", expr(normExpr("embedding")))
          .join(meta, col("vec_id") === col("doc_id"))
        val q = emb.where(col("lang") === "en" && col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("nq"))
        val b = emb.where(col("lang") =!= "en")
          .select(col("vec_id").as("bid"), col("embedding").as("be"),
                  col("nrm").as("nb"), col("lang").as("pair_lang"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("bid"))
        val ranked = broadcast(q).crossJoin(b)
          .withColumn("cos", expr(s"$dotExpr / sqrt(nq * nb)"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 5)
        ranked.groupBy("qid").agg(
            max(when(col("rk") === 1, col("bid"))).as("bid"),
            max(when(col("rk") === 1, col("pair_lang"))).as("pair_lang"),
            max(when(col("rk") === 1, col("cos"))).as("c1"),
            expr("""aggregate(transform(
                   |  array_sort(collect_list(CASE WHEN rk >= 2 THEN struct(rk, cos) END)),
                   |  s -> s.cos), 0D, (a, x) -> a + x) / 4""".stripMargin).as("bg"))
          .withColumn("margin_raw", col("c1") / col("bg"))
          .where(col("margin_raw") >= 1.15)
          .select(col("qid"), col("bid"), col("pair_lang"),
                  round(col("c1"), 6).as("cos_sim"),
                  round(col("margin_raw"), 6).as("margin"))
          .orderBy("qid")
      },
      Some(s"""WITH m AS (SELECT doc_id, lang FROM documents),
              |q AS (SELECT e.vec_id AS qid, e.embedding AS qe
              |      FROM embeddings e JOIN m ON e.vec_id = m.doc_id
              |      WHERE m.lang = 'en' AND e.vec_id < 40),
              |b AS (SELECT e.vec_id AS bid, e.embedding AS be, m.lang AS pair_lang
              |      FROM embeddings e JOIN m ON e.vec_id = m.doc_id
              |      WHERE m.lang <> 'en'),
              |p AS (SELECT qid, bid, pair_lang,
              |    $duckDot / sqrt((${duckNorm("qe")}) * (${duckNorm("be")})) AS cos
              |  FROM q, b),
              |r AS (SELECT qid, bid, pair_lang, cos,
              |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, bid) AS rk
              |  FROM p),
              |g AS (SELECT qid,
              |    max(bid) FILTER (WHERE rk = 1) AS bid,
              |    max(pair_lang) FILTER (WHERE rk = 1) AS pair_lang,
              |    max(cos) FILTER (WHERE rk = 1) AS c1,
              |    list_sum(list(cos ORDER BY rk) FILTER (WHERE rk >= 2)) / 4 AS bg
              |  FROM r WHERE rk <= 5 GROUP BY qid)
              |SELECT qid, bid, pair_lang, round(c1, 6) AS cos_sim,
              |  round(c1 / bg, 6) AS margin
              |FROM g WHERE c1 / bg >= 1.15 ORDER BY qid""".stripMargin),
      note = "ratio-margin bitext mining (top1 over mean of ranks 2..5, accept >= 1.15): hub-suppressing parallel-pair extraction with rank-ordered deterministic float folds; bounded query slice, LSH/IVF is the scale path")
  )
}
