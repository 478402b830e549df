package graft.queries

import graft.Tables
import graft.queries.SimilarityQueries.dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 A10 ⊕ — document deduplication over the `documents`
  * fixture: exact (hash groupBy), banded MinHash near-dup (the LSH scale
  * path), and SimHash fingerprints.
  *
  * Hashing is md5-based in BOTH engines so the DuckDB oracle reproduces
  * the exact candidate sets: each element is md5-hashed ONCE, and the k
  * MinHash functions are disjoint hex-substring slices of that single
  * 128-bit digest — independent uniform hashes (hex strings order like
  * their numeric values) at 1/k the digest cost of per-salt hashing, and
  * portable across engines unlike Spark's xxhash64 vs DuckDB's hash.
  *
  * Scale notes: the banded join shuffles on (band, band_key) — never
  * all-pairs. At 100 TB the candidate volume is controlled by the band/row
  * parameters (more rows per band → fewer, higher-precision candidates);
  * the verify join is an equi-join on doc ids. The exact-dup query is one
  * hash aggregate on the fingerprint.
  */
object DedupQueries {

  private val NumHashes = 6
  private val BandRows = 2 // 3 bands × 2 rows
  private val MaxBucket = 100 // skew cap: drop degenerate LSH buckets

  /** Distinct token set per document — the shingle basis for MinHash and
    * Jaccard (word-level 1-grams; the fixture's small vocabulary makes
    * token-set Jaccard the discriminative signal). */
  private def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks")).cache()

  /** A10 exact — md5-fingerprint dedup summary per source. */
  val exact = Q(
    "a10_dedup_exact",
    "Exact dedup: md5(lower(text)) fingerprint → per-source distinct counts + duplicate-row count. One hash aggregate.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("fp", md5(lower(col("text"))))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_distinct"),
          (count(lit(1)) - count_distinct(col("fp"))).as("n_duplicates")
        )
    },
    Some("""SELECT source, count(*) AS n_docs,
            count(DISTINCT md5(lower(text))) AS n_distinct,
            count(*) - count(DISTINCT md5(lower(text))) AS n_duplicates
            FROM documents GROUP BY source""")
  )

  /** A10 near-dup — banded MinHash LSH: 6 signatures → 3 bands of 2 →
    * bucket join → exact Jaccard verify at ≥0.9. The oracle mirrors the
    * identical md5 MinHash, so candidate sets (and therefore results)
    * match exactly. */
  /** The MinHash → banded candidates → exact-Jaccard-verify pipeline,
    * shared by the pair query ([[neardup]]), the cluster resolution
    * ([[dedupClusters]]), and the composed LLM curation pipeline
    * (e2e_llm_pipeline). Returns verified pairs (i < j, jac >= 0.9)
    * over WHATEVER document set is passed — dedup stages compose. */
  /** MinHash signature → banded (doc_id, b, band_key) rows. One md5 per
    * token; the 6 signature functions are disjoint 20-bit (5 hex char)
    * slices of the single digest — same MinHash family trick as
    * jaccardNgram at 1/6 the hashing cost.
    *
    * Stays the COMPOSED transform/md5/array_min form: the fused native
    * kernel ([[graft.functions.MinHashSigs]], bit-identity pinned by
    * MinHashSigsSpec, live in a10_minhash_quality and as SQL
    * `minhash_sigs`) measured ~10% slower here — Spark's codegen'd
    * built-ins beat the per-minimum UTF8String allocations at this
    * token width, so the built-ins keep the hot path. */
  private def bandsOf(toks: DataFrame): DataFrame = {
    val hashed = toks.withColumn("hs", transform(col("toks"), tk => md5(tk)))
    val sigs = (0 until NumHashes).foldLeft(hashed) { (df, i) =>
      df.withColumn(s"mh$i",
        array_min(transform(col("hs"), h => substring(h, 1 + 5 * i, 5))))
    }
    val bandStructs: Seq[Column] = (0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("b"),
        concat(col(s"mh${BandRows * b}"), col(s"mh${BandRows * b + 1}")).as("band_key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.band_key").as("band_key"))
  }

  /** Banded rows with degenerate mega-buckets dropped (the skew guard);
    * shared by the all-pairs and incremental variants. */
  private def cappedBandsOf(toks: DataFrame): DataFrame = {
    val allBands = bandsOf(toks)
    val keep = allBands.groupBy(col("b"), col("band_key"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2, MaxBucket))
      .select(col("b"), col("band_key"))
    allBands.join(keep, Seq("b", "band_key"))
  }

  /** Every LSH candidate pair with its exact Jaccard — the threshold-free
    * core shared by the dedup queries (which keep jac >= 0.9) and the
    * contrastive pair builder (which also wants the NEAR-misses). */
  private[queries] def scoredPairsOver(docs: DataFrame): DataFrame = {
      val toks = tokenSets(docs)

      // Skew guard (production LSH practice): drop degenerate mega-buckets.
      // A bucket holding >MaxBucket docs means the shingle basis is
      // non-discriminative there, and its O(n²) pair expansion would
      // dominate the job (observed: one bucket with 63% of the corpus →
      // 15.5M candidate pairs). Singleton buckets produce no pairs.
      //
      // Candidate generation is the j8_cooccurrence fold (r12
      // optimization): ONE bucket-keyed collect_set is simultaneously
      // the census (size gives the 2..MaxBucket cap — (doc_id, b) rows
      // are unique, so set size == bucket count), the skew guard, and
      // the pair basis; the i<j expansion is row-local over the <=100
      // element sorted array. Replaces census + join-back + bucket
      // self-join (4 exchanges, 2 joins) with bucket aggregate + pair
      // distinct (2 exchanges). Identical candidate set.
      val cands = bandsOf(toks)
        .groupBy(col("b"), col("band_key"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, MaxBucket))
        .select(explode(expr(
          "flatten(transform(ds, (x, i) -> " +
            "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS i, y AS j))))"))
          .as("pr"))
        .select(col("pr.i").as("i"), col("pr.j").as("j"))
        .distinct()

      val ta = toks.select(col("doc_id").as("i"), col("toks").as("toks_i"))
      val tb = toks.select(col("doc_id").as("j"), col("toks").as("toks_j"))
      cands.join(ta, "i").join(tb, "j")
        .withColumn("inter", size(array_intersect(col("toks_i"), col("toks_j"))))
        .withColumn("jac",
          col("inter").cast("double") /
            (size(col("toks_i")) + size(col("toks_j")) - col("inter")))
        .select(col("i"), col("j"), col("jac"))
  }

  private[queries] def verifiedPairsOver(docs: DataFrame): DataFrame =
    scoredPairsOver(docs)
      .filter(col("jac") >= 0.9)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jaccard"))

  val neardup = Q(
    "a10_neardup_minhash",
    "MinHash+LSH near-duplicate pairs: single-md5 sliced min signatures, banded bucket equi-join (no all-pairs), exact Jaccard >= 0.9 verification.",
    // NOT scan-widened (r12 A/B): the corpus payload exchange costs more
    // than the ~0.15 s single-threaded tokenize+MinHash it parallelizes
    // at this document size — unlike e2e_llm_pipeline, whose four
    // chained per-row passes do amortize it
    (s, dir) => verifiedPairsOver(Tables(s, dir).documents),
    Some("""WITH d AS (
              SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
            ), hs AS (
              SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
            ), sig AS (
              SELECT doc_id, toks,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 5*i, 5)), 'min')
                  for i in generate_series(0, 5) ] AS mh
              FROM hs
            ), all_bands AS (
              SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS band_key
              FROM sig, unnest(generate_series(0, 2)) AS t(b)
            ), keep AS (
              SELECT b, band_key FROM all_bands GROUP BY b, band_key
              HAVING count(*) BETWEEN 2 AND 100
            ), bands AS (
              SELECT all_bands.* FROM all_bands JOIN keep USING (b, band_key)
            ), cand AS (
              SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              FROM bands a JOIN bands b USING (b, band_key) WHERE a.doc_id < b.doc_id
            ), ver AS (
              SELECT i, j,
                CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE) /
                (len(da.toks) + len(db.toks)
                   - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) AS jac
              FROM cand JOIN d da ON da.doc_id = i JOIN d db ON db.doc_id = j
            )
            SELECT i, j, round(jac, 6) AS jaccard FROM ver WHERE jac >= 0.9""")
  )

  /** A10 SimHash — 16-bit sign-aggregated fingerprint from the first hex
    * quartet of each token's md5; identical bit math in both engines. */
  val simhash = Q(
    "a10_simhash",
    "SimHash fingerprints: token md5 → 16-bit value → per-bit +/-1 vote → sign → fingerprint; per-source distinct-fingerprint counts.",
    (s, dir) => {
      val t = Tables(s, dir)
      tokenSets(t.documents)
        .join(t.documents.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"), explode(col("toks")).as("tok"))
        .withColumn("hv", conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int"))
        .select(col("doc_id"), col("source"), col("hv"), explode(expr("sequence(0, 15)")).as("bit"))
        .withColumn("vote", when(expr("(hv >> bit) & 1") === 1, 1).otherwise(-1))
        .groupBy(col("doc_id"), col("source"), col("bit"))
        .agg(sum(col("vote")).as("v"))
        .withColumn("bitval", expr("CASE WHEN v > 0 THEN shiftleft(1, CAST(bit AS INT)) ELSE 0 END"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("bitval")).as("simhash"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), count_distinct(col("simhash")).as("n_fingerprints"))
    },
    Some("""WITH tok AS (
              SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS tok
              FROM documents
            ), hv AS (
              SELECT doc_id, source, CAST(concat('0x', substring(md5(tok), 1, 4)) AS INT) AS hv
              FROM tok
            ), bits AS (
              SELECT doc_id, source, b.bit,
                CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
              FROM hv, unnest(generate_series(0, 15)) AS b(bit)
            ), votes AS (
              SELECT doc_id, source, bit, sum(vote) AS v FROM bits GROUP BY doc_id, source, bit
            ), fp AS (
              SELECT doc_id, source,
                sum(CASE WHEN v > 0 THEN 1 << bit ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id, source
            )
            SELECT source, count(*) AS n_docs, count(DISTINCT simhash) AS n_fingerprints
            FROM fp GROUP BY source""")
  )

  /** A10 n-gram Jaccard — word 3-gram shingles (the C4/Gopher-style
    * near-dup basis: consecutive-word windows are far more discriminative
    * than the token set on a small-vocabulary corpus), banded MinHash
    * candidates (2 bands × 2 rows over 4 salted-md5 signatures), exact
    * 3-gram Jaccard ≥ 0.8 verification. Same md5 portability trick as
    * [[neardup]], so the oracle reproduces the exact candidate set. */
  val jaccardNgram = Q(
    "a10_jaccard_ngram",
    "Word 3-gram Jaccard near-dup: shingle windows, banded MinHash bucket join (no all-pairs), exact shingle Jaccard >= 0.8.",
    (s, dir) => {
      val t = Tables(s, dir)
      // Cached: the shingle set feeds three consumers (signatures + both
      // sides of the verify join) — materialize the per-doc shingle work
      // once instead of re-deriving it per branch.
      // scan widened on doc_id (ops/ScanLayout): unlike the unigram
      // tokenSets path (where the widen measured as a loss), the shingle
      // basis is ~one 3-gram string + md5 PER TOKEN POSITION, so the
      // single-threaded stretch is ~10x heavier and amortizes the
      // payload exchange
      val shingles = graft.ops.ScanLayout.widenByKey(t.documents, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          array_distinct(transform(
            sequence(lit(1), size(col("toks")) - 2),
            i => concat_ws(" ",
              element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))).as("sh"))
        .cache()

      // One md5 per shingle; the 4 signature functions are disjoint
      // 32-bit slices of the single 128-bit digest (independent uniform
      // hashes at 1/4 the digest cost of per-salt hashing).
      val hashed = shingles.withColumn("hs", transform(col("sh"), g => md5(g)))
      val sigs = (0 until 4).foldLeft(hashed) { (df, i) =>
        df.withColumn(s"mh$i",
          array_min(transform(col("hs"), h => substring(h, 1 + 8 * i, 8))))
      }
      val bandStructs: Seq[Column] = (0 until 2).map { b =>
        struct(lit(b).as("b"),
          concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("band_key"))
      }
      val allBands = sigs
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
        .select(col("doc_id"), col("band.b").as("b"), col("band.band_key").as("band_key"))
      // bucket fold (r12 optimization, as scoredPairsOver): one
      // collect_set is census + skew cap + pair basis; i<j expansion is
      // row-local over the sorted <=MaxBucket array — replaces census +
      // join-back + bucket self-join. Identical candidate set.
      val cands = allBands.groupBy(col("b"), col("band_key"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, MaxBucket))
        .select(explode(expr(
          "flatten(transform(ds, (x, i) -> " +
            "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS i, y AS j))))"))
          .as("pr"))
        .select(col("pr.i").as("i"), col("pr.j").as("j"))
        .distinct()

      val sa = shingles.select(col("doc_id").as("i"), col("sh").as("sh_i"))
      val sb = shingles.select(col("doc_id").as("j"), col("sh").as("sh_j"))
      cands.join(sa, "i").join(sb, "j")
        .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))))
        .withColumn("jac",
          col("inter").cast("double") /
            (size(col("sh_i")) + size(col("sh_j")) - col("inter")))
        .filter(col("jac") >= 0.8)
        .select(col("i"), col("j"), round(col("jac"), 6).as("jaccard"))
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), sh AS (
              SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
              FROM d WHERE len(toks) >= 3
            ), hs AS (
              SELECT doc_id, sh, list_transform(sh, g -> md5(g)) AS hs FROM sh
            ), sig AS (
              SELECT doc_id, sh,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 8*i, 8)), 'min')
                  for i in generate_series(0, 3) ] AS mh
              FROM hs
            ), all_bands AS (
              SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS band_key
              FROM sig, unnest(generate_series(0, 1)) AS t(b)
            ), keep AS (
              SELECT b, band_key FROM all_bands GROUP BY b, band_key
              HAVING count(*) BETWEEN 2 AND 100
            ), bands AS (
              SELECT all_bands.* FROM all_bands JOIN keep USING (b, band_key)
            ), cand AS (
              SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              FROM bands a JOIN bands b USING (b, band_key) WHERE a.doc_id < b.doc_id
            ), ver AS (
              SELECT i, j,
                CAST(len(list_filter(sa.sh, t -> list_contains(sb.sh, t))) AS DOUBLE) /
                (len(sa.sh) + len(sb.sh)
                   - len(list_filter(sa.sh, t -> list_contains(sb.sh, t)))) AS jac
              FROM cand JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j
            )
            SELECT i, j, round(jac, 6) AS jaccard FROM ver WHERE jac >= 0.8""")
  )

  /** A10 embedding-cosine near-dup — the semantic-dedup scale path:
    * sign-LSH band keys (2 bands × 8 sign bits) generate candidates with
    * an equi-join, then exact cosine filters. The fixture corpus has no
    * true semantic duplicates (max in-bucket cosine ≈ 0.43), so the
    * demonstration threshold is 0.35; production sets ~0.95 — the plan
    * shape (bucket join, never all-pairs) is identical. */
  val embedNearDup = Q(
    "a10_embed_neardup",
    "Embedding-cosine near-dup pairs: 2x8-bit sign-LSH bucket equi-join for candidates, exact cosine >= threshold verification.",
    (s, dir) => {
      val t = Tables(s, dir)
      val base = t.embeddings.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val bandStructs: Seq[Column] = (0 until 2).map { b =>
        val key = (1 to 8).map(i =>
          when(element_at(col("embedding"), 8 * b + i) >= 0f, "1").otherwise("0"))
          .reduce(concat(_, _))
        struct(lit(b).as("b"), key.as("band_key"))
      }
      val bands = base
        .select(col("vec_id"), explode(array(bandStructs: _*)).as("band"))
        .select(col("vec_id"), col("band.b").as("b"), col("band.band_key").as("band_key"))
      val left = bands.select(col("b"), col("band_key"), col("vec_id").as("i"))
      val right = bands.select(col("b"), col("band_key"), col("vec_id").as("j"))
      val cands = left.join(right, Seq("b", "band_key"))
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"))
        .distinct()
      val ea = base.select(col("vec_id").as("i"), col("embedding").as("e_i"), col("nrm").as("n_i"))
      val eb = base.select(col("vec_id").as("j"), col("embedding").as("e_j"), col("nrm").as("n_j"))
      cands.join(ea, "i").join(eb, "j")
        .withColumn("cos", dot(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")))
        .filter(col("cos") >= 0.35)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    },
    Some("""WITH n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1,64),
                  i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE)), (x,y)->x+y)) AS nrm
              FROM embeddings
            ), bands AS (
              SELECT vec_id, b,
                list_aggregate(list_transform(generate_series(8*b+1, 8*b+8),
                  i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), 'string_agg', '') AS band_key
              FROM embeddings, unnest(generate_series(0,1)) AS t(b)
            ), cand AS (
              SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
              FROM bands a JOIN bands b USING (b, band_key) WHERE a.vec_id < b.vec_id
            ), ver AS (
              SELECT i, j,
                list_reduce(list_transform(generate_series(1,64),
                  k -> CAST(na.embedding[k] AS DOUBLE)*CAST(nb.embedding[k] AS DOUBLE)), (x,y)->x+y)
                  / (na.nrm * nb.nrm) AS cos
              FROM cand JOIN n na ON na.vec_id = i JOIN n nb ON nb.vec_id = j
            )
            SELECT i, j, round(cos, 6) AS cosine FROM ver WHERE cos >= 0.35""")
  )

  /** A10 cluster resolution — the pair graph is only half of dedup: the
    * pipeline must resolve pairs into CONNECTED COMPONENTS and elect one
    * survivor per component. Min-label propagation with POINTER JUMPING
    * (label(v) ← label(label(v)) each round) converges in O(log diameter)
    * rounds — 6 rounds cover diameter ≤ 63, versus ≥ 13 rounds for plain
    * one-hop propagation on this corpus's largest component. Each round is
    * two hash-key shuffles over (node, label) pairs — the MapReduce
    * connected-components shape that holds at billions of edges. The
    * oracle computes true components via a recursive transitive closure. */
  val dedupClusters = Q(
    "a10_dedup_clusters",
    "Near-dup cluster resolution: verified pair graph -> connected components via min-label propagation + pointer jumping (log-diameter rounds) -> per-cluster survivor stats.",
    (s, dir) => {
      // NOT scan-widened — same A/B verdict as a10_neardup_minhash
      val pairs = verifiedPairsOver(Tables(s, dir).documents)
        .select(col("i").as("src"), col("j").as("dst"))
      graft.ops.ConnectedComponents.resolve(pairs)
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
    },
    Some("""WITH RECURSIVE d AS (
              SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
            ), hs AS (
              SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
            ), sig AS (
              SELECT doc_id, toks,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 5*i, 5)), 'min')
                  for i in generate_series(0, 5) ] AS mh
              FROM hs
            ), all_bands AS (
              SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS band_key
              FROM sig, unnest(generate_series(0, 2)) AS t(b)
            ), keep AS (
              SELECT b, band_key FROM all_bands GROUP BY b, band_key
              HAVING count(*) BETWEEN 2 AND 100
            ), bands AS (
              SELECT all_bands.* FROM all_bands JOIN keep USING (b, band_key)
            ), cand AS (
              SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              FROM bands a JOIN bands b USING (b, band_key) WHERE a.doc_id < b.doc_id
            ), ver AS (
              SELECT i, j,
                CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE) /
                (len(da.toks) + len(db.toks)
                   - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) AS jac
              FROM cand JOIN d da ON da.doc_id = i JOIN d db ON db.doc_id = j
            ), p AS (SELECT i, j FROM ver WHERE jac >= 0.9),
            edges AS (SELECT i AS src, j AS dst FROM p UNION SELECT j AS src, i AS dst FROM p),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            reach AS (
              SELECT node AS src, node AS dst FROM nodes
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            comp AS (SELECT src AS node, min(dst) AS cluster_id FROM reach GROUP BY src)
            SELECT cluster_id, count(*) AS n_members, max(node) AS max_member
            FROM comp GROUP BY cluster_id""")
  )

  /** A10 ⊕ depth — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * semantic deduplication that bounds the quadratic term by CLUSTERING
    * first — assign every embedding to its nearest centroid, then
    * compute pairwise cosine only WITHIN each cell and greedily drop the
    * higher-id member of every similar pair (keep-first election; no
    * component resolution needed since the relation "has a smaller-id
    * similar neighbor" is already a deterministic drop predicate).
    *
    * Scale shape: the centroid table broadcasts; assignment is one
    * corpus scan; the pairwise stage equi-joins on the cell id, so its
    * cost is Σ|cell|² not |corpus|² — exactly the paper's design (they
    * run k=110k clusters over 5B embeddings). A production run sizes k
    * so cells stay ~1k vectors and caps degenerate cells the way the
    * LSH pipeline caps mega-buckets (MaxBucket guard above).
    *
    * Threshold 0.40 is corpus-scaled (the fixture's embeddings are
    * near-random; the global max pairwise cosine is 0.479), keeping the
    * drop census non-vacuous: 19 similar pairs at sf0.001. */
  val semDedup = Q(
    "a10_semdedup",
    "SemDeDup: nearest-centroid cells, within-cell pairwise cosine >= 0.40, greedy keep-first drop; per-cell census.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val base = t.embeddings
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val cents = broadcast(base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm")))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id").asc)
      val assign = base.join(cents)
        .withColumn("ccos", dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
        .withColumn("rk", row_number().over(wAssign))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("c_id").as("cell"), col("embedding"), col("nrm"))
        .cache()
      // Skew guard, same contract as the LSH MaxBucket cap: a degenerate
      // centroid attracting far more than corpus/k vectors would make its
      // |cell|² pairwise stage dominate the job — bound it and let the
      // census still report the cell's size. No fixture cell comes near
      // the cap (max ≈ 125 at sf0.1); this is the 100 TB guard.
      val bounded = assign.join(
        broadcast(assign.groupBy(col("cell")).agg(count(lit(1)).as("bn"))
          .filter(col("bn").between(2, 500)).select(col("cell"))),
        Seq("cell"))
      val left = bounded.select(col("cell"), col("vec_id").as("i"),
        col("embedding").as("e_i"), col("nrm").as("n_i"))
      val right = bounded.select(col("cell"), col("vec_id").as("j"),
        col("embedding").as("e_j"), col("nrm").as("n_j"))
      val pairs = left.join(right, Seq("cell"))
        .filter(col("i") < col("j"))
        .withColumn("cos", dot(col("e_i"), col("e_j")) / (col("n_i") * col("n_j")))
        .filter(col("cos") >= 0.40)
        .select(col("cell"), col("i"), col("j"))
        .cache()
      assign.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .join(pairs.groupBy(col("cell")).agg(count(lit(1)).as("n_sim_pairs")), Seq("cell"), "left")
        .join(pairs.select(col("cell"), col("j")).distinct()
          .groupBy(col("cell")).agg(count(lit(1)).as("n_dropped")), Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_sim_pairs"), lit(0L)).as("n_sim_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
    },
    Some("""WITH n AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y)) AS nrm
              FROM embeddings
            ), cent AS (
              SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm FROM n WHERE vec_id < 16
            ), assign AS (
              SELECT vec_id, c_id AS cell, embedding, nrm FROM (
                SELECT n.vec_id, cent.c_id, n.embedding, n.nrm,
                  row_number() OVER (PARTITION BY n.vec_id ORDER BY
                    list_reduce(list_transform(generate_series(1, 64),
                      k -> CAST(n.embedding[k] AS DOUBLE) * CAST(cent.c_emb[k] AS DOUBLE)), (x, y) -> x + y)
                      / (n.nrm * cent.c_nrm) DESC, cent.c_id ASC) AS rk
                FROM n, cent) WHERE rk = 1
            ), keepc AS (
              SELECT cell FROM (SELECT cell, count(*) AS bn FROM assign GROUP BY 1)
              WHERE bn BETWEEN 2 AND 500
            ), pairs AS (
              SELECT a.cell, a.vec_id AS i, b.vec_id AS j
              FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
              JOIN keepc ON a.cell = keepc.cell
              WHERE list_reduce(list_transform(generate_series(1, 64),
                      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)), (x, y) -> x + y)
                    / (a.nrm * b.nrm) >= 0.40
            )
            SELECT cell, CAST(v.n_vecs AS BIGINT) AS n_vecs,
                   CAST(COALESCE(p.n_sim_pairs, 0) AS BIGINT) AS n_sim_pairs,
                   CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
            FROM (SELECT cell, count(*) AS n_vecs FROM assign GROUP BY 1) v
            LEFT JOIN (SELECT cell, count(*) AS n_sim_pairs FROM pairs GROUP BY 1) p USING (cell)
            LEFT JOIN (SELECT cell, count(*) AS n_dropped FROM
                         (SELECT DISTINCT cell, j FROM pairs) GROUP BY 1) d USING (cell)""")
  )

  /** A10 ⊕ depth — MinHash sketch calibration: the quality loop for the
    * LSH pipeline, pairing each signature-agreement count (0..6 of the 6
    * sliced-md5 signatures) with the EXACT Jaccard mass of the pairs in
    * that bin. E[sig-agreement]/6 estimates Jaccard, and this census is
    * how a production run validates that before trusting band/row
    * parameters at 100 TB — the sketch analogue of j5_ivf_recall.
    *
    * All-pairs over a 60-doc calibration SAMPLE (1770 pairs) — the
    * quadratic stage is on the sample only, by design; the sums are
    * integer token counts, exact in any fold order. */
  val minhashQuality = Q(
    "a10_minhash_quality",
    "MinHash calibration census: pairs bucketed by 0..6 signature agreements vs exact Jaccard numerator/denominator sums (sample all-pairs).",
    (s, dir) => {
      val t = Tables(s, dir)
      val toks = t.documents.filter(col("doc_id") < 60)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      // both sides of the self-join read this 60-row table: materialize
      // once instead of running the md5-signature pipeline twice (fused
      // native kernel; bit-identity pinned by MinHashSigsSpec)
      val sigs = (0 until NumHashes).foldLeft(
        toks.withColumn("mh", expr("minhash_sigs(toks)"))) { (df, i) =>
        df.withColumn(s"mh$i", element_at(col("mh"), i + 1))
      }.drop("mh").cache()
      val a = sigs.select(col("doc_id").as("i") +: col("toks").as("toks_i") +:
        (0 until NumHashes).map(k => col(s"mh$k").as(s"a_mh$k")): _*)
      val b = sigs.select(col("doc_id").as("j") +: col("toks").as("toks_j") +:
        (0 until NumHashes).map(k => col(s"mh$k").as(s"b_mh$k")): _*)
      broadcast(a).join(b, col("i") < col("j"))
        .withColumn("n_sig_match",
          (0 until NumHashes).map(k =>
            when(col(s"a_mh$k") === col(s"b_mh$k"), 1L).otherwise(0L)).reduce(_ + _))
        .withColumn("n_inter", size(array_intersect(col("toks_i"), col("toks_j"))).cast("long"))
        .withColumn("n_union",
          (size(col("toks_i")) + size(col("toks_j"))).cast("long") - col("n_inter"))
        .groupBy(col("n_sig_match"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("n_inter")).as("sum_inter"),
          sum(col("n_union")).as("sum_union"))
    },
    Some("""WITH d AS (
              SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
              FROM documents WHERE doc_id < 60
            ), hs AS (
              SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
            ), sig AS (
              SELECT doc_id, toks,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 5*i, 5)), 'min')
                  for i in generate_series(0, 5) ] AS mh
              FROM hs
            ), pairs AS (
              SELECT a.doc_id AS i, b.doc_id AS j,
                CAST(len(list_filter(generate_series(1, 6), k -> a.mh[k] = b.mh[k])) AS BIGINT) AS n_sig_match,
                CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_inter,
                CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_union
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            )
            SELECT n_sig_match, count(*) AS n_pairs,
                   CAST(sum(n_inter) AS BIGINT) AS sum_inter,
                   CAST(sum(n_union) AS BIGINT) AS sum_union
            FROM pairs GROUP BY 1""")
  )

  /** A10 ⊕ incremental — dedup an incoming batch AGAINST the existing
    * corpus, the shape every recurring crawl/snapshot ingest runs: no
    * batch×batch or history×history comparisons, only batch→history
    * probes. The split is deterministic (doc_id % 5 == 0 is "the new
    * batch") so it works at every sf. Verdict precedence per batch doc:
    * exact fingerprint hit → MinHash-verified near-dup (Jaccard ≥ 0.9) →
    * new.
    *
    * The fixture has no exact-duplicate texts, so the query PLANTS them
    * (the x28_pii_scrub pattern): every batch doc with doc_id % 25 == 0
    * takes the text of its history neighbor (doc_id - 1), and the
    * verdict census then proves the exact path catches exactly those —
    * all three verdict branches fire at every sf.
    *
    * Scale shape: at 100 TB the history side's fingerprints and LSH
    * bands are a PERSISTED index (computed once, partitioned by fp /
    * (b, band_key)); per-ingest cost is O(batch) hashing plus two hash
    * equi-joins against that index — the batch never scans history
    * row-by-row. Here both sides derive from one fixture scan, but the
    * join keys are exactly the index keys a production run would store. */
  val incremental = Q(
    "a10_incremental",
    "Incremental batch-vs-corpus dedup: exact fp semi-join + asymmetric banded MinHash probe (batch->history only), per-doc verdict census.",
    (s, dir) => {
      val t = Tables(s, dir)
      val raw = t.documents.select(col("doc_id"), col("text"))
      val partner = raw.select((col("doc_id") + 1).as("doc_id"), col("text").as("p_text"))
      val docs = raw.join(partner, Seq("doc_id"), "left")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(25)) === 0 && col("p_text").isNotNull,
            col("p_text")).otherwise(col("text")))
        .select(col("doc_id"), col("text"))
        .withColumn("fp", md5(lower(col("text"))))
        .withColumn("is_batch", pmod(col("doc_id"), lit(5)) === 0)
        .cache()
      val toks = tokenSets(docs)
      val bands = cappedBandsOf(toks)
      val flags = docs.select(col("doc_id"), col("is_batch"))

      val bBands = bands.join(flags.filter(col("is_batch")), "doc_id")
        .select(col("b"), col("band_key"), col("doc_id").as("q"))
      val hBands = bands.join(flags.filter(!col("is_batch")), "doc_id")
        .select(col("b"), col("band_key"), col("doc_id").as("h"))
      val cands = bBands.join(hBands, Seq("b", "band_key"))
        .select(col("q"), col("h")).distinct()

      val ta = toks.select(col("doc_id").as("q"), col("toks").as("toks_q"))
      val tb = toks.select(col("doc_id").as("h"), col("toks").as("toks_h"))
      val near = cands.join(ta, "q").join(tb, "h")
        .withColumn("inter", size(array_intersect(col("toks_q"), col("toks_h"))))
        .filter(col("inter").cast("double") /
          (size(col("toks_q")) + size(col("toks_h")) - col("inter")) >= 0.9)
        .groupBy(col("q")).agg(count(lit(1)).as("n_near"))
        .withColumnRenamed("q", "doc_id")

      val exactHit = docs.filter(col("is_batch")).select(col("doc_id"), col("fp"))
        .join(docs.filter(!col("is_batch")).select(col("fp")).distinct(), Seq("fp"), "left_semi")
        .select(col("doc_id"), lit(true).as("is_exact"))

      docs.filter(col("is_batch")).select(col("doc_id"))
        .join(exactHit, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          when(col("is_exact"), "exact_dup")
            .when(coalesce(col("n_near"), lit(0L)) > 0, "near_dup")
            .otherwise("new").as("verdict"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
    },
    Some("""WITH seeded AS (
              SELECT a.doc_id,
                CASE WHEN a.doc_id % 25 = 0 AND b.text IS NOT NULL
                     THEN b.text ELSE a.text END AS text
              FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
            ), d AS (
              SELECT doc_id, md5(lower(text)) AS fp,
                     list_distinct(string_split(text, ' ')) AS toks,
                     doc_id % 5 = 0 AS is_batch
              FROM seeded
            ), hs AS (
              SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM d
            ), sig AS (
              SELECT doc_id,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 5*i, 5)), 'min')
                  for i in generate_series(0, 5) ] AS mh
              FROM hs
            ), all_bands AS (
              SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS band_key
              FROM sig, unnest(generate_series(0, 2)) AS t(b)
            ), keep AS (
              SELECT b, band_key FROM all_bands GROUP BY b, band_key
              HAVING count(*) BETWEEN 2 AND 100
            ), bands AS (
              SELECT all_bands.* FROM all_bands JOIN keep USING (b, band_key)
            ), cand AS (
              SELECT DISTINCT q.doc_id AS qid, h.doc_id AS hid
              FROM bands q JOIN bands h USING (b, band_key)
              JOIN d dq ON dq.doc_id = q.doc_id
              JOIN d dh ON dh.doc_id = h.doc_id
              WHERE dq.is_batch AND NOT dh.is_batch
            ), near AS (
              SELECT qid AS doc_id, count(*) AS n_near FROM cand
              JOIN d da ON da.doc_id = qid
              JOIN d db ON db.doc_id = hid
              WHERE CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE) /
                    (len(da.toks) + len(db.toks)
                       - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) >= 0.9
              GROUP BY 1
            ), ex AS (
              SELECT DISTINCT b.doc_id
              FROM d b JOIN d h ON b.fp = h.fp AND NOT h.is_batch
              WHERE b.is_batch
            )
            SELECT b.doc_id,
              CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
                   WHEN COALESCE(near.n_near, 0) > 0 THEN 'near_dup'
                   ELSE 'new' END AS verdict,
              CAST(COALESCE(near.n_near, 0) AS BIGINT) AS n_near
            FROM d b
            LEFT JOIN ex ON ex.doc_id = b.doc_id
            LEFT JOIN near ON near.doc_id = b.doc_id
            WHERE b.is_batch""")
  )

  /** A10 extension — cross-split distinct-overlap estimation via HLL
    * inclusion-exclusion: |A∩B| ≈ hll(A) + hll(B) − hll(A∪B). The
    * question "how many distinct users appear in BOTH corpora" is the
    * train/test-contamination cardinality check, and at 100 TB the
    * exact answer costs a full user-keyed shuffle while three mergeable
    * HLL sketches cost one streaming pass — this query runs both and
    * certifies the sketch against the truth. Exact side: one per-user
    * groupBy building has-click/has-view flags (never a self-join);
    * sketch side: three approx_count_distinct over the same single
    * scan. Output pins the exact integers; the sketch lands inside a
    * 15 %/±2 envelope (structural sanity, engine-portable — same
    * discipline as a10_approx_distinct). */
  val overlapEstimate = Q(
    "a10_overlap_estimate",
    "Distinct user overlap click∩view: exact flag census vs HLL inclusion-exclusion estimate with a bounded-error verdict.",
    (s, dir) => {
      val t = Tables(s, dir)
      val e = t.events.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type"))
      val exact = e.groupBy(col("user_id"))
        .agg(max((col("event_type") === "click").cast("long")).as("hc"),
          max((col("event_type") === "view").cast("long")).as("hv"))
        .agg(sum(col("hc")).as("n_click"), sum(col("hv")).as("n_view"),
          sum(col("hc") * col("hv")).as("n_overlap"))
      val sketch = e.agg(
        approx_count_distinct(when(col("event_type") === "click", col("user_id")), 0.02).as("ac"),
        approx_count_distinct(when(col("event_type") === "view", col("user_id")), 0.02).as("av"),
        approx_count_distinct(col("user_id"), 0.02).as("au"))
      exact.crossJoin(broadcast(sketch))
        .withColumn("est_overlap", col("ac") + col("av") - col("au"))
        .withColumn("est_ok",
          abs(col("est_overlap") - col("n_overlap")) <=
            greatest(lit(2.0), col("n_overlap") * 0.15))
        .select(col("n_click"), col("n_view"), col("n_overlap"), col("est_ok"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_type FROM events
              WHERE event_type IN ('click', 'view')
            ), f AS (
              SELECT user_id,
                max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
                max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv
              FROM e GROUP BY user_id
            )
            SELECT CAST(sum(hc) AS BIGINT) AS n_click,
              CAST(sum(hv) AS BIGINT) AS n_view,
              CAST(sum(hc * hv) AS BIGINT) AS n_overlap,
              true AS est_ok
            FROM f""")
  )

  /** A10 extension — entity resolution, the record-linkage cousin of
    * near-dup dedup: blocking key → candidate pairs → pairwise
    * similarity gate → transitive closure. Records are derived
    * deterministically from customer keys (12-hex-char md5 "names");
    * every 2nd base gets a variant mutated at chars 9–10, every 4th a
    * second variant mutated at 11–12 — the two variants sit at edit
    * distance 4 from EACH OTHER (no direct edge at the ≤2 gate), so
    * only transitive closure through the base merges the 3-record
    * cluster: the census fails if ConnectedComponents shortcuts
    * transitivity. Blocking on the first 6 (unmutated) name chars keeps
    * the pair stage a hash equi-join bounded per block — never
    * all-pairs — and the levenshtein gate runs only on candidates (the
    * x28_fuzzy_match discipline). The oracle is fully INDEPENDENT: it
    * derives the expected cluster census from the planting arithmetic
    * alone, so blocking, gating, and closure are all validated against
    * ground truth rather than a re-implementation. */
  val entityResolution = Q(
    "a10_entity_resolution",
    "Entity resolution: md5-name records with planted variant chains, 6-char blocking join, levenshtein<=2 gate, connected-components closure; cluster-size census vs derivation-truth oracle.",
    (s, dir) => {
      val t = Tables(s, dir)
      // single-scan record derivation (r12 optimization): the old
      // union-of-three-selects evaluated the customer scan + md5 three
      // times inside the checkpoint's materializing job; the variant
      // fan-out is row-local, so one scan + a conditional array explode
      // emits the same record set
      val recs = t.customer.select(col("c_custkey").cast("long").as("k"))
        .withColumn("nm", substring(md5(concat(lit("ent:"), col("k").cast("string"))), 1, 12))
        .select(explode(expr(
          "filter(array(" +
            "struct(k * 10 AS rec_id, nm AS name), " +
            "IF(k % 2 = 0, struct(k * 10 + 1 AS rec_id, " +
            "  concat(substring(nm, 1, 8), 'zz', substring(nm, 11, 2)) AS name), NULL), " +
            "IF(k % 4 = 0, struct(k * 10 + 2 AS rec_id, " +
            "  concat(substring(nm, 1, 10), 'qq') AS name), NULL)" +
            "), r -> r IS NOT NULL)")).as("r"))
        .select(col("r.rec_id").as("rec_id"), col("r.name").as("name"))
        .withColumn("blk", substring(col("name"), 1, 6))
        .localCheckpoint() // self-releasing, unlike a leaked .cache()
      // blocking stage as the j8 fold (r12 optimization): ONE block-keyed
      // collect_list replaces the blocking self-join's two shuffles, and
      // the levenshtein<=2 gate runs row-locally over the tiny per-block
      // array (blocks are md5-prefix keyed — uniform, 1-3 records each).
      // least/greatest normalizes each unordered pair once, so the edge
      // SET is identical to the old src<dst join output.
      val edges = recs.groupBy(col("blk"))
        .agg(collect_list(struct(col("rec_id"), col("name"))).as("rs"))
        .select(explode(expr(
          "flatten(transform(rs, (x, i) -> " +
            "transform(filter(slice(rs, i + 2, size(rs)), " +
            "            y -> levenshtein(x.name, y.name) <= 2), " +
            "  y -> struct(least(x.rec_id, y.rec_id) AS src, " +
            "              greatest(x.rec_id, y.rec_id) AS dst))))")).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val labels = graft.ops.ConnectedComponents.resolve(edges)
      recs.select(col("rec_id").as("node"))
        .join(labels, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_member"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("min_member")).as("rep_sum"))
    },
    Some("""WITH c AS (
              SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
            ), cl AS (
              SELECT k,
                1 + CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS n_members,
                k * 10 AS min_member
              FROM c
            )
            SELECT n_members, count(*) AS n_clusters,
              CAST(sum(min_member) AS BIGINT) AS rep_sum
            FROM cl GROUP BY 1""")
  )

  /** A10 ⊕ — asymmetric CONTAINMENT near-dup (Broder's "roughly
    * contained" relation): Jaccard misses the case where a short
    * document is wholly lifted into a long one (quote farms, scraped
    * article + boilerplate wrapper) because the union in the
    * denominator is dominated by the long side. Containment
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| is direction-aware:
    * near 1 means A lives inside B regardless of B's size. Computed
    * over each document's DISCRIMINATIVE word 4-grams (document
    * frequency 2–16 — the same df-cap that keeps every gram-keyed join
    * in this file skew-safe): candidates come from the gram equi-join,
    * never doc×doc, and both numerator and denominator count kept
    * grams, so the ratio is a self-consistent exact rational reported
    * in ppm.
    *
    * Scale shape: gram census → df-capped join (Σ C(df,2) ≤ 16·|grams|
    * directed pairs), per-pair count, one broadcast-size join against
    * the per-doc gram counts, TakeOrdered top-100. No stage is
    * quadratic in documents. */
  val containment = Q(
    "a10_containment",
    "Asymmetric containment near-dup: directed |A∩B|/|A| in ppm over df-capped word 4-grams; gram-join candidates (never doc x doc), >=50% pairs, top 100.",
    (s, dir) => {
      val t = Tables(s, dir)
      // the gram STRING dies at the scan — every downstream census and
      // join keys on its xxhash64 (the round-10 sf10 leg measured the
      // string-keyed form super-linear, 14.6x wall on 10x rows: four
      // exchanges of ~30-byte grams into fixed-width partitions spill
      // where 8-byte longs stay in the hash agg). Sketch-grade keying,
      // SimHash-family policy: P(any collision) ~ n^2/2^65 — 2e-11 at
      // oracle scale; a collision merges two posting lists, it cannot
      // diverge the engines there.
      // scan widened on doc_id (ops/ScanLayout): parallel gram explosion
      val grams = graft.ops.ScanLayout.widenByKey(t.documents, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"),
          explode(array_distinct(transform(
            sequence(lit(1), size(col("w")) - 3),
            i => xxhash64(concat_ws(" ", (0 to 3).map(k => element_at(col("w"), i + k)): _*)))))
            .as("g"))
      // posting-list fold (r12 optimization, the j8 shape): ONE
      // gram-keyed collect_list is simultaneously the df census (size
      // gives the 2..16 cap — (g, doc_id) rows are pre-deduped by the
      // array_distinct above) and the pair basis; the directed a!=b
      // expansion is row-local over the <=16-element list. Replaces
      // census + join-back + gram self-join (4 exchanges, 2 joins) with
      // bucket aggregate + two downstream aggregates. Checkpointed once
      // for its two consumers (sizes, shared).
      val buckets = grams.groupBy(col("g"))
        .agg(collect_list(col("doc_id")).as("ds"))
        .filter(size(col("ds")).between(2, 16))
        .localCheckpoint()
      val sizes = buckets.select(explode(col("ds")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
      val shared = buckets
        .select(explode(expr(
          "flatten(transform(ds, x -> transform(filter(ds, y -> y != x), " +
            "y -> struct(x AS a, y AS b))))")).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      shared.join(sizes.withColumnRenamed("doc_id", "a"), "a")
        .withColumn("containment_ppm", expr("(shared * 1000000L) div na"))
        // evidence floor: a doc with <5 discriminative grams makes any
        // single shared gram look like 100% containment
        .filter(col("na") >= 5L && col("containment_ppm") >= 500000L)
        .select(col("a"), col("b"), col("na"), col("shared"), col("containment_ppm"))
        .orderBy(col("containment_ppm").desc, col("a").asc, col("b").asc)
        .limit(100)
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), gr AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
              FROM d, LATERAL unnest(generate_series(1, greatest(len(w) - 3, 0))) AS t(i)
              WHERE len(w) >= 4
            ), disc AS (
              SELECT g FROM gr GROUP BY g HAVING count(*) BETWEEN 2 AND 16
            ), kept AS (
              SELECT gr.* FROM gr JOIN disc USING (g)
            ), sizes AS (
              SELECT doc_id, count(*) AS na FROM kept GROUP BY 1
            ), sh AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
              FROM kept a JOIN kept b USING (g)
              WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
            )
            SELECT sh.a, sh.b, s.na, sh.shared,
              CAST((sh.shared * 1000000) // s.na AS BIGINT) AS containment_ppm
            FROM sh JOIN sizes s ON s.doc_id = sh.a
            WHERE s.na >= 5 AND (sh.shared * 1000000) // s.na >= 500000
            ORDER BY containment_ppm DESC, a ASC, b ASC LIMIT 100""")
  )

  def all: Seq[Q] = Seq(exact, neardup, simhash, jaccardNgram, embedNearDup,
    dedupClusters, semDedup, minhashQuality, incremental, overlapEstimate,
    entityResolution, containment)
}
