package graft.queries

import graft.Tables
import graft.queries.SimilarityQueries.dot
import org.apache.spark.sql.functions._

/** SURVEY.md §2.8 X28 ⊕ depth — lexical retrieval over the `documents`
  * fixture: BM25 keyword scoring, the ranking function behind every
  * inverted-index search engine and the standard first-stage retriever
  * in RAG pipelines (the lexical complement to J5's vector search).
  *
  * Determinism across engines: tf, df, N and dl are exact integers; avgdl
  * is one exact-integer division; the only transcendental is ln(), whose
  * ≤1-ulp libm wobble sits ~10 orders of magnitude below the 1e-6
  * rounding grid and the (tf, dl)-quantized score gaps. The three
  * per-term scores sum in a FIXED expression order (never a groupBy fold
  * over doubles), so both engines evaluate the identical double tree.
  */
object RetrievalQueries {

  private val K1 = 1.2
  private val B = 0.75
  private val Terms = Seq("spark", "join", "stream")

  /** The BM25 scoring pipeline up to per-document totals — shared by the
    * pure lexical query and the hybrid-fusion leg. Returns (doc_id,
    * tf_spark, tf_join, tf_stream, total) for documents matching ≥1
    * query term. */
  private def bm25Totals(t: Tables): org.apache.spark.sql.DataFrame = {
    val docs = t.documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfc = tf.groupBy(col("w")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfc), "w").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("score",
        col("idf") * col("tf") * (K1 + 1) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
    def termCol(w: String) = coalesce(
      max(when(col("w") === w, col("score"))), lit(0.0))
    def termTf(w: String) = coalesce(
      max(when(col("w") === w, col("tf"))), lit(0.0)).cast("long")
    scored.groupBy(col("doc_id"))
      .agg(
        termTf("spark").as("tf_spark"),
        termTf("join").as("tf_join"),
        termTf("stream").as("tf_stream"),
        (termCol("spark") + termCol("join") + termCol("stream")).as("total"))
  }

  /** X28 ⊕ — BM25 top-20 for a fixed 3-term keyword query.
    *
    * Scale shape: the (doc, term) tf table is the inverted-index posting
    * list — at 100 TB it is built once (one explode + hash aggregate,
    * shuffling only matched postings, never full documents) and
    * persisted partitioned by term; df and avgdl are tiny side
    * aggregates that broadcast; scoring is row-local on the postings of
    * the queried terms only; and the top-k is TakeOrderedAndProject —
    * no global sort ever materializes. */
  val bm25 = Q(
    "x28_bm25",
    "BM25 retrieval: posting-list tf, broadcast df/avgdl, Robertson idf, fixed-order per-term score sum, top-20 via TakeOrdered.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ranked = bm25Totals(Tables(s, dir))
        .orderBy(col("total").desc, col("doc_id").asc)
        .limit(20)
      ranked
        .withColumn("rank",
          row_number().over(Window.orderBy(col("total").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("tf_spark"), col("tf_join"), col("tf_stream"),
          round(col("total"), 6).as("bm25"), col("rank"))
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS toks,
                     CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
              FROM documents
            ), stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d
            ), tf AS (
              SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM (
                SELECT doc_id, dl, unnest(toks) AS w FROM d)
              WHERE w IN ('spark', 'join', 'stream')
              GROUP BY doc_id, dl, w
            ), dfc AS (
              SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
            ), scored AS (
              SELECT doc_id, w, tf,
                ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1)
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS score
              FROM tf JOIN dfc USING (w) CROSS JOIN stats
            ), piv AS (
              SELECT doc_id,
                CAST(COALESCE(max(CASE WHEN w = 'spark' THEN tf END), 0) AS BIGINT) AS tf_spark,
                CAST(COALESCE(max(CASE WHEN w = 'join' THEN tf END), 0) AS BIGINT) AS tf_join,
                CAST(COALESCE(max(CASE WHEN w = 'stream' THEN tf END), 0) AS BIGINT) AS tf_stream,
                COALESCE(max(CASE WHEN w = 'spark' THEN score END), 0)
                  + COALESCE(max(CASE WHEN w = 'join' THEN score END), 0)
                  + COALESCE(max(CASE WHEN w = 'stream' THEN score END), 0) AS total
              FROM scored GROUP BY doc_id
            )
            SELECT doc_id, tf_spark, tf_join, tf_stream,
                   round(total, 6) AS bm25,
                   CAST(row_number() OVER (ORDER BY total DESC, doc_id ASC) AS INT) AS rank
            FROM piv ORDER BY total DESC, doc_id ASC LIMIT 20""")
  )

  /** X28 ⊕ — count-min sketch heavy hitters: the fixed-size frequency
    * sketch (Cormode & Muthukrishnan 2005) a vocabulary/stopword pass
    * uses when the term universe is too large to count exactly. Four
    * hash rows of 16 buckets (deliberately tight so collisions actually
    * occur at fixture scale); each row's bucket is a disjoint hex-char
    * slice of the word's single md5 (the MinHash digest-slicing trick, so
    * both engines hash identically and buckets stay strings — no hex
    * parsing). The estimate is the min over rows; the output checks the
    * sketch against exact truth for the top-10 words: `overcount =
    * est - true` must be >= 0 (CMS never underestimates — a structural
    * invariant, not a tuned threshold).
    *
    * Scale shape: the sketch folds over the PRE-AGGREGATED (word, count)
    * table (add is distributive, so map-side combine does most of it)
    * into 4x16 counters — constant memory at any corpus size; the
    * probe side is 10 words x 4 rows joined against those 64 counters
    * broadcast. */
  val heavyHitters = Q(
    "x28_heavy_hitters",
    "Count-min sketch: 4x16 md5-sliced buckets over word counts, min-over-rows estimate vs exact truth for top-10 words, overcount >= 0.",
    (s, dir) => {
      val t = Tables(s, dir)
      val wc = t.documents
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      def buckets = array((0 until 4).map(r =>
        struct(lit(r).as("r"), substring(md5(col("w")), 1 + r, 1).as("bkt"))): _*)
      val cms = wc
        .select(explode(buckets).as("rb"), col("cnt"))
        .groupBy(col("rb.r").as("r"), col("rb.bkt").as("bkt"))
        .agg(sum(col("cnt")).as("bcnt"))
      val top = wc.orderBy(col("cnt").desc, col("w").asc).limit(10)
      top
        .select(col("w"), col("cnt"), explode(buckets).as("rb"))
        .select(col("w"), col("cnt"), col("rb.r").as("r"), col("rb.bkt").as("bkt"))
        .join(broadcast(cms), Seq("r", "bkt"))
        .groupBy(col("w"), col("cnt"))
        .agg(min(col("bcnt")).as("est_cnt"))
        .select(col("w"), col("cnt").as("true_cnt"), col("est_cnt"),
          (col("est_cnt") - col("cnt")).as("overcount"))
    },
    Some("""WITH wc AS (
              SELECT w, count(*) AS cnt FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents)
              GROUP BY w
            ), cms AS (
              SELECT r, substring(md5(w), 1 + r, 1) AS bkt,
                     CAST(sum(cnt) AS BIGINT) AS bcnt
              FROM wc CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
              GROUP BY 1, 2
            ), top AS (
              SELECT w, cnt FROM wc ORDER BY cnt DESC, w ASC LIMIT 10
            ), probe AS (
              SELECT w, cnt, r, substring(md5(w), 1 + r, 1) AS bkt
              FROM top CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
            )
            SELECT w, cnt AS true_cnt, min(bcnt) AS est_cnt,
                   min(bcnt) - cnt AS overcount
            FROM probe JOIN cms USING (r, bkt)
            GROUP BY w, cnt""")
  )

  /** X28/J5 ⊕ composition — hybrid search with reciprocal-rank fusion
    * (RRF, Cormack et al. 2009 — the fusion every production RAG stack
    * runs): the lexical BM25 top-20 and the dense cosine top-20 (query =
    * embedding 450, bridged doc_id == vec_id) full-outer-join on doc_id
    * and fuse as Σ 1/(60 + rank). Ranks are exact integers, each
    * reciprocal is one double division of identical inputs, and the two
    * legs sum in fixed order — deterministic across engines; absent legs
    * contribute 0 and report rank 0.
    *
    * Scale shape: each leg is its own already-scale-shaped pipeline
    * (posting-list aggregate + TakeOrdered; broadcast query vector over
    * a corpus scan + TakeOrdered); the fusion joins two 20-row lists —
    * driver-free, constant-size final stage. */
  val hybrid = Q(
    "e2e_hybrid_search",
    "Hybrid retrieval: BM25 top-20 + dense cosine top-20 fused by reciprocal-rank fusion (1/(60+rank)), top-10 with per-leg rank provenance.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val lex = bm25Totals(t)
        .orderBy(col("total").desc, col("doc_id").asc).limit(20)
        .withColumn("r_bm25",
          row_number().over(Window.orderBy(col("total").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("r_bm25"))
      val base = t.embeddings.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val qv = broadcast(base.filter(col("vec_id") === 450)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val dense = base.filter(col("vec_id") =!= 450).crossJoin(qv)
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(20)
        .withColumn("r_vec",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (col("r_bm25") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("r_vec") + 60), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)))
        .select(col("doc_id"),
          coalesce(col("r_bm25"), lit(0)).as("r_bm25"),
          coalesce(col("r_vec"), lit(0)).as("r_vec"),
          round(col("rrf"), 6).as("rrf"), col("rank"))
    },
    Some(s"""WITH $hybridCtes
            SELECT doc_id, COALESCE(r_bm25, 0) AS r_bm25, COALESCE(r_vec, 0) AS r_vec,
                   round(rrf, 6) AS rrf,
                   CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
            FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10""")
  )

  /** The hybrid-retrieval oracle CTE chain (BM25 leg → dense leg → RRF
    * fusion), shared by `e2e_hybrid_search` and `e2e_rag_context`. */
  private def hybridCtes: String =
    """d AS (
              SELECT doc_id, string_split(text, ' ') AS toks,
                     CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
              FROM documents
            ), stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d
            ), tf AS (
              SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM (
                SELECT doc_id, dl, unnest(toks) AS w FROM d)
              WHERE w IN ('spark', 'join', 'stream')
              GROUP BY doc_id, dl, w
            ), dfc AS (
              SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
            ), scored AS (
              SELECT doc_id, w, tf,
                ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1)
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS score
              FROM tf JOIN dfc USING (w) CROSS JOIN stats
            ), piv AS (
              SELECT doc_id,
                COALESCE(max(CASE WHEN w = 'spark' THEN score END), 0)
                  + COALESCE(max(CASE WHEN w = 'join' THEN score END), 0)
                  + COALESCE(max(CASE WHEN w = 'stream' THEN score END), 0) AS total
              FROM scored GROUP BY doc_id
            ), lex AS (
              SELECT doc_id, CAST(row_number() OVER (ORDER BY total DESC, doc_id ASC) AS INT) AS r_bm25
              FROM piv ORDER BY total DESC, doc_id ASC LIMIT 20
            ), n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS nrm
              FROM embeddings
            ), qv AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 450),
            cosed AS (
              SELECT vec_id AS doc_id,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (q_nrm * nrm) AS cos
              FROM n CROSS JOIN qv WHERE vec_id <> 450
            ), dense AS (
              SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS INT) AS r_vec
              FROM cosed ORDER BY cos DESC, doc_id ASC LIMIT 20
            ), fused AS (
              SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
                     lex.r_bm25, dense.r_vec,
                COALESCE(CAST(1 AS DOUBLE) / (lex.r_bm25 + 60), 0)
                  + COALESCE(CAST(1 AS DOUBLE) / (dense.r_vec + 60), 0) AS rrf
              FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
            )"""

  /** E2E ⊕ — the full RAG serving path, stage-composed: hybrid
    * retrieval (BM25 + dense fused by RRF, `e2e_hybrid_search`'s exact
    * construction) nominates a top-10 shortlist → MMR (λ=0.7, the
    * `j5_mmr_rerank` unrolled-greedy shape) picks 3 diverse passages
    * WITHIN the shortlist → the picks are packed into a context window
    * in pick order with a token budget. The budget is RELATIVE —
    * (3·total)÷4 of the picks' own token mass — so the out-of-budget
    * branch provably fires at every sf (the last pick's cumulative sum
    * is always the full total) without depending on fixture lengths.
    *
    * Scale shape: the two retrieval legs are corpus scans ending in
    * TakeOrdered top-20s; everything after operates on ≤ 20 rows
    * (broadcast, driver-free) — the assembly cost is dominated by
    * retrieval, exactly as a production RAG stack behaves. */
  val ragContext = Q(
    "e2e_rag_context",
    "RAG context assembly: hybrid RRF top-10 -> MMR 3 diverse picks -> token-budget packing with cumulative counts and in_budget flags.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val lex = bm25Totals(t)
        .orderBy(col("total").desc, col("doc_id").asc).limit(20)
        .withColumn("r_bm25",
          row_number().over(Window.orderBy(col("total").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("r_bm25"))
      val base = t.embeddings.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val qv = broadcast(base.filter(col("vec_id") === 450)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
      val dense = base.filter(col("vec_id") =!= 450).crossJoin(qv)
        .withColumn("cos", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(20)
        .withColumn("r_vec",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      val top10 = lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (col("r_bm25") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("r_vec") + 60), lit(0.0)))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"))
      val cand = broadcast(top10)
        .join(base, col("vec_id") === col("doc_id"))
        .crossJoin(qv)
        .withColumn("rel", dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
        .select(col("doc_id"), col("embedding"), col("nrm"), col("rel"))
        .cache()
      val p1 = cand.orderBy(col("rel").desc, col("doc_id").asc).limit(1)
        .select(col("doc_id").as("p1_id"), col("embedding").as("p1_emb"), col("nrm").as("p1_nrm"))
      val r2 = cand.crossJoin(broadcast(p1))
        .filter(col("doc_id") =!= col("p1_id"))
        .withColumn("sim1", dot(col("embedding"), col("p1_emb")) / (col("nrm") * col("p1_nrm")))
      val p2 = r2.orderBy((col("rel") * 0.7 - col("sim1") * 0.3).desc, col("doc_id").asc).limit(1)
        .select(col("doc_id").as("p2_id"), col("embedding").as("p2_emb"), col("nrm").as("p2_nrm"))
      val p3 = r2.crossJoin(broadcast(p2))
        .filter(col("doc_id") =!= col("p2_id"))
        .withColumn("sim2", dot(col("embedding"), col("p2_emb")) / (col("nrm") * col("p2_nrm")))
        .withColumn("mmr", col("rel") * 0.7 - greatest(col("sim1"), col("sim2")) * 0.3)
        .orderBy(col("mmr").desc, col("doc_id").asc).limit(1)
        .select(col("doc_id").as("p3_id"))
      val picks = p1.select(lit(1).as("pick_order"), col("p1_id").as("doc_id"))
        .unionByName(p2.select(lit(2).as("pick_order"), col("p2_id").as("doc_id")))
        .unionByName(p3.select(lit(3).as("pick_order"), col("p3_id").as("doc_id")))
      val toks = t.documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      // 3 rows, consumed twice (rows + their own total) — cache so the
      // MMR pick chain and the documents token scan run once
      val ctx = picks.join(toks, "doc_id")
        .withColumn("cum_toks",
          sum(col("n_toks")).over(Window.orderBy(col("pick_order"))))
        .cache()
      ctx.crossJoin(broadcast(ctx.agg(sum(col("n_toks")).as("total"))))
        .withColumn("in_budget",
          when(col("cum_toks") <= expr("(3 * total) div 4"), lit(1)).otherwise(lit(0)))
        .select(col("pick_order"), col("doc_id"), col("n_toks"),
          col("cum_toks"), col("in_budget"))
    },
    Some(s"""WITH $hybridCtes, top10 AS (
              SELECT doc_id FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
            ), cand AS (
              SELECT t.doc_id, n.embedding, n.nrm,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(qv.q_emb[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (qv.q_nrm * n.nrm) AS rel
              FROM top10 t JOIN n ON n.vec_id = t.doc_id CROSS JOIN qv
            ), p1 AS (
              SELECT doc_id, embedding, nrm FROM cand
              ORDER BY rel DESC, doc_id ASC LIMIT 1
            ), r2 AS (
              SELECT c.doc_id, c.embedding, c.nrm, c.rel,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(p1.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (c.nrm * p1.nrm) AS sim1
              FROM cand c, p1 WHERE c.doc_id <> p1.doc_id
            ), p2 AS (
              SELECT doc_id, embedding, nrm FROM r2
              ORDER BY rel * 0.7 - sim1 * 0.3 DESC, doc_id ASC LIMIT 1
            ), p3 AS (
              SELECT r2.doc_id FROM r2, p2 WHERE r2.doc_id <> p2.doc_id
              ORDER BY r2.rel * 0.7 - greatest(r2.sim1,
                list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(r2.embedding[i] AS DOUBLE) * CAST(p2.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (r2.nrm * p2.nrm)) * 0.3 DESC, r2.doc_id ASC
              LIMIT 1
            ), picks AS (
              SELECT 1 AS pick_order, doc_id FROM p1
              UNION ALL SELECT 2, doc_id FROM p2
              UNION ALL SELECT 3, doc_id FROM p3
            ), tk AS (
              SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
              FROM documents
            ), ctx AS (
              SELECT p.pick_order, p.doc_id, tk.n_toks,
                CAST(sum(tk.n_toks) OVER (ORDER BY p.pick_order) AS BIGINT) AS cum_toks
              FROM picks p JOIN tk USING (doc_id)
            ), tot AS (
              SELECT CAST(sum(n_toks) AS BIGINT) AS total FROM ctx
            )
            SELECT pick_order, doc_id, n_toks, cum_toks,
              CASE WHEN cum_toks <= (3 * total) // 4 THEN 1 ELSE 0 END AS in_budget
            FROM ctx, tot""")
  )

  def all: Seq[Q] = Seq(bm25, heavyHitters, hybrid, ragContext)
}
