package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.3 J5 / §2.8 X29 ⊕ — similarity search over the
  * `embeddings` fixture (`Array[Float]`, 64 dims).
  *
  * Vector math is native Catalyst kernels called by name: every dot
  * product and norm goes through `dot_product`
  * ([[graft.functions.DotProduct]]) and `j5_topk_native` through
  * `cosine_sim` — codegen'd expressions, no UDF. Elements are cast to
  * double BEFORE multiply so both engines accumulate the identical
  * double sequence left-to-right and results are bit-equal.
  *
  * Scale notes: brute-force top-k broadcasts the (tiny) query side — a
  * BroadcastNestedLoopJoin over the corpus, which is a single corpus scan
  * per batch of queries and the correct baseline plan; there is NO
  * CartesianProduct. The LSH variant buckets by coordinate signs and
  * equi-joins on the bucket key — a hash join whose probe side shrinks
  * 2^bits-fold, the shape that survives a 100 TB corpus (bucket key
  * becomes the shuffle/bucketing key; skewed buckets fall to AQE).
  */
object SimilarityQueries {

  private val Dims = 64

  /** Σ aᵢ·bᵢ through the native `dot_product` kernel
    * ([[graft.functions.DotProduct]]): float elements widen to double
    * before multiply, accumulation runs left to right. */
  private[queries] def dot(a: Column, b: Column): Column = call_function("dot_product", a, b)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** X29 — vector math surface: norms and per-label aggregates. */
  val x29 = Q(
    "x29_vector_norms",
    "Embedding L2 norms via the native dot_product kernel; per-label count/mean-norm roll-up.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.embeddings
        .withColumn("l2", norm(col("embedding")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), round(avg(col("l2")), 6).as("avg_norm"),
          round(min(col("l2")), 6).as("min_norm"), round(max(col("l2")), 6).as("max_norm"))
    },
    Some("""WITH n AS (
              SELECT label,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS l2
              FROM embeddings)
            SELECT label, count(*) AS n, round(avg(l2), 6) AS avg_norm,
                   round(min(l2), 6) AS min_norm, round(max(l2), 6) AS max_norm
            FROM n GROUP BY label""")
  )

  /** J5 baseline — exact brute-force top-5 cosine neighbors for a small
    * query set, broadcast over the corpus. */
  val topk = Q(
    "j5_topk_cosine",
    "Brute-force exact top-k cosine: broadcast query side over corpus scan, window rank per query (deterministic double math, no ties).",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val queries = broadcast(
        base.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      queries.join(base, col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 6).as("cosine"))
    },
    Some("""WITH n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
              FROM embeddings),
            pairs AS (
              SELECT q.vec_id AS q_id, e.vec_id,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (q.nrm * e.nrm) AS cos
              FROM n q JOIN n e ON q.vec_id < 5 AND q.vec_id <> e.vec_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM pairs)
            SELECT q_id, vec_id, rank, round(cos, 6) AS cosine FROM ranked WHERE rank <= 5""")
  )

  /** J5 scale path — sign-LSH bucketing: bucket key = sign pattern of the
    * first 8 coordinates (axis-aligned random-hyperplane LSH); candidates
    * equi-join within buckets only, then exact cosine rerank top-3. */
  val lsh = Q(
    "j5_lsh_bucketed",
    "LSH-bucketed ANN: 8-bit sign bucket key → hash equi-join within buckets (probe side shrinks ~256x) → exact cosine rerank, top-3 per query.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val bucketExpr = (1 to 8).map(i =>
        when(element_at(col("embedding"), i) >= 0f, "1").otherwise("0")).reduce(concat(_, _))
      val base = t.embeddings
        .withColumn("nrm", norm(col("embedding")))
        .withColumn("bucket", bucketExpr)
      val queries = base.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      queries.join(base, Seq("bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 6).as("cosine"))
    },
    Some("""WITH n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm,
                concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
                       CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
              FROM embeddings),
            pairs AS (
              SELECT q.vec_id AS q_id, e.vec_id,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (q.nrm * e.nrm) AS cos
              FROM n q JOIN n e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
              WHERE q.vec_id < 50),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM pairs)
            SELECT q_id, vec_id, rank, round(cos, 6) AS cosine FROM ranked WHERE rank <= 3""")
  )

  /** J5 via the native Catalyst expression (§2.10 D5,
    * [[graft.functions.CosineSimilarity]]): dot and both norms in one
    * fused zero-allocation codegen loop, where [[topk]] computes the
    * norms and the dot with separate `dot_product` calls. Bit-identical
    * semantics (the same oracle as [[topk]] proves it). */
  val topkNative = Q(
    "j5_topk_native",
    "Brute-force top-k cosine through the native cosine_sim Expression (doGenCode fused loop, whole-stage codegen).",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val queries = broadcast(
        base.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      queries.join(t.embeddings, col("q_id") =!= col("vec_id"))
        .withColumn("cos", expr("cosine_sim(q_emb, embedding)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 6).as("cosine"))
    },
    topk.oracle // identical semantics → identical oracle
  )

  /** J5 IVF scale path — inverted-file ANN: a small set of coarse
    * centroids (deterministically the first 16 corpus vectors, standing in
    * for a k-means codebook) partitions the corpus into cells via
    * argmax-cosine assignment; a query probes only its nprobe=2 nearest
    * cells and reranks exactly within them. At 100 TB the cell id is the
    * shuffle/partition key: assignment is one broadcast of the (tiny)
    * codebook over a corpus scan, and each query touches nprobe/K of the
    * data instead of all of it. */
  val ivf = Q(
    "j5_ivf_probe",
    "IVF ANN: broadcast 16-centroid codebook, argmax-cosine cell assignment, nprobe=2 probe join on cell id, exact top-3 rerank.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val cents = broadcast(base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm")))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id").asc)
      // The assignment is the IVF index build: materialized once (cache)
      // and consumed by both the cell map and the probe list — a real
      // deployment persists this as a stored index rather than
      // recomputing the corpus×codebook pass per consumer.
      val assign = base.join(cents)
        .withColumn("ccos", dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
        .withColumn("rk", row_number().over(wAssign))
        .select(col("vec_id"), col("c_id"), col("rk"))
        .filter(col("rk") <= 2)
        .cache()
      val cells = assign.filter(col("rk") === 1).select(col("vec_id"), col("c_id").as("cell"))
      val probes = assign.filter(col("rk") <= 2 && col("vec_id").between(450, 459))
        .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
      val cands = probes.join(cells, Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"))
        .distinct()
      val eq = base.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val ec = base.select(col("vec_id"), col("embedding").as("c_emb2"), col("nrm").as("c_nrm2"))
      val wRank = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      cands.join(eq, "q_id").join(ec, "vec_id")
        .withColumn("cos", dot(col("q_emb"), col("c_emb2")) / (col("q_nrm") * col("c_nrm2")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 6).as("cosine"))
    },
    Some(s"""WITH $ivfCtes
            SELECT q_id, vec_id, rank, round(cos, 6) AS cosine FROM ranked WHERE rank <= 3""")
  )

  /** The IVF pipeline's shared oracle CTE chain (norms → codebook →
    * assignment → cells → nprobe=2 probes → candidates → rerank). */
  private def ivfCtes: String =
    """n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1,64),
                  i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE)), (x,y)->x+y)) AS nrm
              FROM embeddings
            ), cent AS (
              SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm FROM n WHERE vec_id < 16
            ), assign AS (
              SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rk
              FROM (
                SELECT n.vec_id, cent.c_id,
                  list_reduce(list_transform(generate_series(1,64),
                    k -> CAST(n.embedding[k] AS DOUBLE)*CAST(cent.c_emb[k] AS DOUBLE)), (x,y)->x+y)
                    / (n.nrm * cent.c_nrm) AS cos
                FROM n, cent)
            ), cells AS (SELECT vec_id, c_id AS cell FROM assign WHERE rk = 1),
            probes AS (
              SELECT vec_id AS q_id, c_id AS cell FROM assign
              WHERE rk <= 2 AND vec_id BETWEEN 450 AND 459
            ), cand AS (
              SELECT DISTINCT p.q_id, c.vec_id
              FROM probes p JOIN cells c USING (cell) WHERE p.q_id <> c.vec_id
            ), scored AS (
              SELECT q_id, cand.vec_id,
                list_reduce(list_transform(generate_series(1,64),
                  k -> CAST(nq.embedding[k] AS DOUBLE)*CAST(nc.embedding[k] AS DOUBLE)), (x,y)->x+y)
                  / (nq.nrm * nc.nrm) AS cos
              FROM cand JOIN n nq ON nq.vec_id = q_id JOIN n nc ON nc.vec_id = cand.vec_id
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            )"""

  /** J5 depth — recall@3 of the IVF probe against the exact brute-force
    * answer, per query: the metric that closes the ANN loop (an
    * approximate index without a measured recall is not an operator, it
    * is a hope). Both rankings are deterministic (cos DESC, vec_id ASC),
    * so recall is an exact integer hit count — and the oracle recomputes
    * BOTH pipelines independently. A production run executes exactly
    * this query over a sampled probe set to tune nlist/nprobe. */
  val ivfRecall = Q(
    "j5_ivf_recall",
    "ANN quality loop: recall@3 of the nprobe=2 IVF probe vs exact brute-force top-3, per probe query; exact integer hit counts.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val approx = ivf.fn(s, dir).select(col("q_id"), col("vec_id"))
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val qs = broadcast(base.filter(col("vec_id").between(450, 459))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      val exact = qs.join(base, col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"))
      val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall", round(col("n_hits").cast("double") / 3.0, 6))
    },
    Some(s"""WITH $ivfCtes,
            ivf3 AS (SELECT q_id, vec_id FROM ranked WHERE rank <= 3),
            expairs AS (
              SELECT q.vec_id AS q_id, e.vec_id,
                list_reduce(list_transform(generate_series(1,64),
                  k -> CAST(q.embedding[k] AS DOUBLE)*CAST(e.embedding[k] AS DOUBLE)), (x,y)->x+y)
                  / (q.nrm * e.nrm) AS cos
              FROM n q JOIN n e ON q.vec_id BETWEEN 450 AND 459 AND q.vec_id <> e.vec_id
            ), exr AS (
              SELECT q_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
                FROM expairs) WHERE rank <= 3
            ), hits AS (
              SELECT q_id, CAST(count(*) AS BIGINT) AS n_hits
              FROM exr JOIN ivf3 USING (q_id, vec_id) GROUP BY 1
            )
            SELECT q.q_id, COALESCE(h.n_hits, 0) AS n_hits,
                   round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3.0, 6) AS recall
            FROM (SELECT DISTINCT q_id FROM exr) q
            LEFT JOIN hits h USING (q_id)""")
  )

  /** J5 training-data depth — contrastive hard-negative mining: for each
    * anchor, the top-3 most-similar vectors carrying a DIFFERENT label
    * (similar-but-wrong is exactly what a contrastive loss needs; random
    * negatives are too easy). Same exact-cosine plan family as
    * j5_topk_cosine — broadcast anchor side, per-anchor window rank —
    * with the label-mismatch predicate riding the join. At corpus scale
    * the anchor batch stays broadcastable and the scan side rides the
    * IVF/PQ index (j5_ivf_probe / j5_pq_adc); this is the oracle-exact
    * baseline of that path. */
  val hardNegatives = Q(
    "j5_hard_negatives",
    "Contrastive hard-negative mining: per anchor, top-3 nearest vectors with a different label; broadcast anchors, per-anchor window rank.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val anchors = broadcast(
        base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      anchors.join(base, col("q_id") =!= col("vec_id") && col("q_label") =!= col("label"))
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("q_label"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), col("rank"), round(col("cos"), 6).as("cosine"))
    },
    Some("""WITH n AS (
              SELECT vec_id, label, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
              FROM embeddings),
            pairs AS (
              SELECT q.vec_id AS q_id, q.label AS q_label, e.vec_id AS neg_id, e.label AS neg_label,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (q.nrm * e.nrm) AS cos
              FROM n q JOIN n e ON q.vec_id < 8 AND q.vec_id <> e.vec_id AND q.label <> e.label),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id ASC) AS rank
              FROM pairs)
            SELECT q_id, q_label, neg_id, neg_label, rank, round(cos, 6) AS cosine
            FROM ranked WHERE rank <= 3""")
  )

  /** J5 ⊕ — maximal-marginal-relevance re-rank (Carbonell & Goldstein
    * 1998): after ANN retrieval, greedily pick results that balance
    * query relevance against redundancy with what's already picked —
    * score = λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s), λ=0.7.
    *
    * The greedy loop is inherently sequential in k, so it's unrolled
    * relationally (3 picks): each step is a per-query window argmax over
    * the surviving candidate set joined with the previous picks. All
    * windows partition by q_id and the candidate set is the bounded
    * top-8 from retrieval, so per-query work is O(k·c) with c capped —
    * at corpus scale the expensive part stays the upstream ANN probe,
    * and this re-rank shuffles only (q_id-partitioned) candidate rows.
    * Double math follows the j5 convention: sequential fold dot products
    * are bit-identical across engines; ties broken by vec_id. */
  val mmrRerank = Q(
    "j5_mmr_rerank",
    "MMR diversity re-rank: 3 greedy picks from top-8 cosine candidates per query, lambda=0.7, unrolled per-query window argmax steps.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val queries = broadcast(
        base.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val byRel = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id").asc)
      val cands = queries.join(base, col("q_id") =!= col("vec_id"))
        .withColumn("rel", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("rk", row_number().over(byRel))
        .filter(col("rk") <= 8)
        .select(col("q_id"), col("vec_id"), col("embedding"), col("nrm"), col("rel"))
        .cache()
      val s1 = cands
        .withColumn("rk", row_number().over(byRel)).filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id").as("s1_id"), col("embedding").as("s1_emb"),
          col("nrm").as("s1_nrm"), col("rel").as("s1_score"))
      val step2 = cands.join(s1, "q_id")
        .filter(col("vec_id") =!= col("s1_id"))
        .withColumn("sim1", dot(col("embedding"), col("s1_emb")) / (col("nrm") * col("s1_nrm")))
        .withColumn("mmr", col("rel") * 0.7 - col("sim1") * 0.3)
      val byMmr = Window.partitionBy(col("q_id")).orderBy(col("mmr").desc, col("vec_id").asc)
      val s2 = step2
        .withColumn("rk", row_number().over(byMmr)).filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id").as("s2_id"), col("embedding").as("s2_emb"),
          col("nrm").as("s2_nrm"), col("mmr").as("s2_score"))
      val s3 = step2
        .drop("mmr")
        .join(s2.select(col("q_id"), col("s2_id"), col("s2_emb"), col("s2_nrm")), "q_id")
        .filter(col("vec_id") =!= col("s2_id"))
        .withColumn("sim2", dot(col("embedding"), col("s2_emb")) / (col("nrm") * col("s2_nrm")))
        .withColumn("mmr", col("rel") * 0.7 - greatest(col("sim1"), col("sim2")) * 0.3)
        .withColumn("rk", row_number().over(byMmr)).filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id"), col("mmr").as("score"))
      s1.select(col("q_id"), lit(1).as("pick_order"), col("s1_id").as("vec_id"),
          round(col("s1_score"), 6).as("score"))
        .unionByName(s2.select(col("q_id"), lit(2).as("pick_order"), col("s2_id").as("vec_id"),
          round(col("s2_score"), 6).as("score")))
        .unionByName(s3.select(col("q_id"), lit(3).as("pick_order"), col("vec_id"),
          round(col("score"), 6).as("score")))
    },
    Some("""WITH n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
              FROM embeddings),
            rel AS (
              SELECT q.vec_id AS q_id, e.vec_id, e.embedding, e.nrm,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (q.nrm * e.nrm) AS rel
              FROM n q JOIN n e ON q.vec_id < 5 AND q.vec_id <> e.vec_id),
            cands AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id ASC) AS rk
                FROM rel) WHERE rk <= 8),
            s1 AS (
              SELECT q_id, vec_id AS s1_id, embedding AS s1_emb, nrm AS s1_nrm, rel AS s1_score
              FROM cands WHERE rk = 1),
            step2 AS (
              SELECT c.q_id, c.vec_id, c.embedding, c.nrm, c.rel, s1.s1_id, s1.s1_emb, s1.s1_nrm,
                c.rel * 0.7 - (list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(s1.s1_emb[i] AS DOUBLE)),
                  (x, y) -> x + y) / (c.nrm * s1.s1_nrm)) * 0.3 AS mmr,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(s1.s1_emb[i] AS DOUBLE)),
                  (x, y) -> x + y) / (c.nrm * s1.s1_nrm) AS sim1
              FROM cands c JOIN s1 USING (q_id) WHERE c.vec_id <> s1.s1_id),
            s2 AS (
              SELECT q_id, vec_id AS s2_id, embedding AS s2_emb, nrm AS s2_nrm, mmr AS s2_score
              FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, vec_id ASC) AS rk
                    FROM step2) WHERE rk = 1),
            step3 AS (
              SELECT t.q_id, t.vec_id,
                t.rel * 0.7 - greatest(t.sim1,
                  list_reduce(list_transform(generate_series(1, 64),
                      i -> CAST(t.embedding[i] AS DOUBLE) * CAST(s2.s2_emb[i] AS DOUBLE)),
                    (x, y) -> x + y) / (t.nrm * s2.s2_nrm)) * 0.3 AS mmr
              FROM step2 t JOIN s2 USING (q_id) WHERE t.vec_id <> s2.s2_id),
            s3 AS (
              SELECT q_id, vec_id, mmr AS score
              FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, vec_id ASC) AS rk
                    FROM step3) WHERE rk = 1)
            SELECT q_id, 1 AS pick_order, s1_id AS vec_id, round(s1_score, 6) AS score FROM s1
            UNION ALL
            SELECT q_id, 2, s2_id, round(s2_score, 6) FROM s2
            UNION ALL
            SELECT q_id, 3, vec_id, round(score, 6) FROM s3""")
  )

  /** J5 ⊕ — embedding-quality diagnostic: does the representation
    * separate the labels? The pre-training sanity check a team runs
    * before fitting a classifier head — if the average intra-label
    * cosine does not exceed the inter-label one, the embeddings carry
    * no label signal and training on them is wasted compute.
    *
    * The pair set is the sign-LSH bucket candidate set (the
    * a10_embed_neardup bands), NOT all pairs — at corpus scale the
    * diagnostic runs over the same bounded bucket joins the dedup path
    * already pays for. Per-row cosine is double math (deterministic);
    * the accumulation is exact: floor(cos·1e6) Long sums, so the census
    * hash-matches DuckDB bit-for-bit. Output: one row per
    * same_label ∈ {0, 1} with pair count, fixed-point cosine sum, and
    * the min/max envelope. */
  val labelSeparation = Q(
    "j5_label_separation",
    "Representation probe: intra- vs inter-label cosine census over the sign-LSH-bounded pair set; exact fixed-point sums, min/max envelope.",
    (s, dir) => {
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", norm(col("embedding")))
      val bandStructs: Seq[Column] = (0 until 2).map { b =>
        val key = (1 to 8).map(i =>
          when(element_at(col("embedding"), 8 * b + i) >= 0f, "1").otherwise("0"))
          .reduce(concat(_, _))
        struct(lit(b).as("b"), key.as("band_key"))
      }
      val bands = base
        .select(col("vec_id"), explode(array(bandStructs: _*)).as("band"))
        .select(col("vec_id"), col("band.b").as("b"), col("band.band_key").as("band_key"))
      val cands = bands.select(col("b"), col("band_key"), col("vec_id").as("i"))
        .join(bands.select(col("b"), col("band_key"), col("vec_id").as("j")), Seq("b", "band_key"))
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"))
        .distinct()
      val ea = base.select(col("vec_id").as("i"), col("embedding").as("e_i"),
        col("nrm").as("n_i"), col("label").as("l_i"))
      val eb = base.select(col("vec_id").as("j"), col("embedding").as("e_j"),
        col("nrm").as("n_j"), col("label").as("l_j"))
      cands.join(ea, "i").join(eb, "j")
        .withColumn("cos", dot(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")))
        .withColumn("same_label", when(col("l_i") === col("l_j"), 1).otherwise(0))
        .withColumn("cos_micro", floor(col("cos") * 1000000L).cast("long"))
        .groupBy(col("same_label"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cos_micro")).as("sum_cos_micro"),
          min(col("cos_micro")).as("min_cos_micro"),
          max(col("cos_micro")).as("max_cos_micro"))
    },
    Some("""WITH n AS (
              SELECT vec_id, label, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM embeddings
            ), bands AS (
              SELECT vec_id, g.b,
                list_aggregate(list_transform(generate_series(1, 8),
                  i -> CASE WHEN embedding[8 * g.b + i] >= 0 THEN '1' ELSE '0' END),
                  'string_agg', '') AS band_key
              FROM n CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS b) g
            ), cand AS (
              SELECT DISTINCT a.vec_id AS i, bb.vec_id AS j
              FROM bands a JOIN bands bb
                ON a.b = bb.b AND a.band_key = bb.band_key AND a.vec_id < bb.vec_id
            ), scored AS (
              SELECT CASE WHEN ni.label = nj.label THEN 1 ELSE 0 END AS same_label,
                CAST(floor(1000000 * list_reduce(list_transform(generate_series(1, 64),
                    k -> CAST(ni.embedding[k] AS DOUBLE) * CAST(nj.embedding[k] AS DOUBLE)),
                    (x, y) -> x + y) / (ni.nrm * nj.nrm)) AS BIGINT) AS cos_micro
              FROM cand JOIN n ni ON ni.vec_id = cand.i JOIN n nj ON nj.vec_id = cand.j
            )
            SELECT same_label, count(*) AS n_pairs,
              CAST(sum(cos_micro) AS BIGINT) AS sum_cos_micro,
              min(cos_micro) AS min_cos_micro, max(cos_micro) AS max_cos_micro
            FROM scored GROUP BY 1""")
  )

  /** J5 extension — matryoshka-truncation quality probe (Kusupati et al.
    * 2022: MRL embeddings are trained so a PREFIX of the vector is itself
    * a usable embedding). Recall@3 of 16-of-64-dim prefix-cosine ranking
    * against the full-dim exact ranking, per probe query — the
    * measurement that decides whether a deployment can ship the 4×
    * cheaper truncated index. Plan shape: ONE broadcast-probe corpus
    * scan computes both cosines, then two row_number windows over the
    * SAME per-query partitioning (one shuffle, two sorts); the hit
    * census is a per-query conditional sum — no second corpus pass, no
    * self-join. At 100 TB the prefix ranking becomes the stored index
    * (16-dim = 4× less RAM/IO) and this query is its offline QA gate. */
  val matryoshkaProbe = Q(
    "j5_matryoshka_probe",
    "Matryoshka recall probe: recall@3 of 16-dim-prefix cosine vs full 64-dim exact ranking; one corpus pass, two windows on one shuffle.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings
        .withColumn("head", slice(col("embedding"), 1, 16))
        .withColumn("nrm", norm(col("embedding")))
        .withColumn("hnrm", norm(col("head")))
      val qs = broadcast(base.filter(col("vec_id").between(450, 459))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("head").as("q_head"), col("nrm").as("q_nrm"), col("hnrm").as("q_hnrm")))
      val wFull = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
      val wHead = Window.partitionBy(col("q_id")).orderBy(col("hcos").desc, col("vec_id").asc)
      qs.join(base, col("q_id") =!= col("vec_id"))
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .withColumn("hcos", dot(col("q_head"), col("head")) / (col("q_hnrm") * col("hnrm")))
        .withColumn("rank", row_number().over(wFull))
        .withColumn("hrank", row_number().over(wHead))
        .groupBy(col("q_id"))
        .agg(sum(when(col("rank") <= 3 && col("hrank") <= 3, 1L).otherwise(0L)).as("n_hits"))
        .withColumn("recall", round(col("n_hits").cast("double") / 3.0, 6))
    },
    Some("""WITH n AS (
              SELECT vec_id, embedding, embedding[1:16] AS head,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm,
                sqrt(list_reduce(list_transform(generate_series(1, 16),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS hnrm
              FROM embeddings
            ), pairs AS (
              SELECT q.vec_id AS q_id, e.vec_id,
                list_reduce(list_transform(generate_series(1, 64),
                  k -> CAST(q.embedding[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)),
                  (x, y) -> x + y) / (q.nrm * e.nrm) AS cos,
                list_reduce(list_transform(generate_series(1, 16),
                  k -> CAST(q.embedding[k] AS DOUBLE) * CAST(e.embedding[k] AS DOUBLE)),
                  (x, y) -> x + y) / (q.hnrm * e.hnrm) AS hcos
              FROM n q JOIN n e ON q.vec_id BETWEEN 450 AND 459 AND q.vec_id <> e.vec_id
            ), ranked AS (
              SELECT q_id, vec_id,
                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank,
                row_number() OVER (PARTITION BY q_id ORDER BY hcos DESC, vec_id ASC) AS hrank
              FROM pairs
            )
            SELECT q_id,
              CAST(sum(CASE WHEN rank <= 3 AND hrank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
              round(CAST(sum(CASE WHEN rank <= 3 AND hrank <= 3 THEN 1 ELSE 0 END) AS DOUBLE) / 3.0, 6) AS recall
            FROM ranked GROUP BY q_id""")
  )

  def all: Seq[Q] = Seq(x29, topk, topkNative, lsh, ivf, ivfRecall, hardNegatives,
    mmrRerank, labelSeparation, matryoshkaProbe)
}
