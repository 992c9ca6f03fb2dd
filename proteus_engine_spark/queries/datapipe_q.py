"""LLM-data-pipeline queries over the documents/embeddings tables: dedup,
similarity search, text analysis, multimodal plumbing.

Oracle policy: every registered query carries a full DuckDB oracle, via
one of three strategies:
- exact/portable ops (digest dedup, token Jaccard, quality stats,
  fingerprints, brute-force cosine) — direct SQL equivalents;
- approximate candidate generators whose output is exact-verified
  (MinHash-LSH, hyperplane-LSH pairs/ANN) — the oracle is the exact
  answer, with LSH parameters sized for recall 1 at the gate SF so the
  approximate path reproduces it (precision 1 comes from the exact
  verify tier by construction);
- engine-specific-by-nature ops (SimHash fingerprints, IVF cells) — an
  ALGORITHM-MIRROR oracle that rebuilds the same hash/quantizer in
  portable SQL (md5-based simhash; seed-vector centroids with n_iter=0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proteus_engine_spark.datapipe.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from proteus_engine_spark.datapipe.multimodal import attach_media_columns, decode_images
from proteus_engine_spark.datapipe.similarity import brute_force_topk, ivf_ann_topk, lsh_ann_topk
from proteus_engine_spark.datapipe.textstats import (
    document_fingerprint,
    language_id,
    quality_stats,
    token_count,
)
from proteus_engine_spark.functions.fastlit import band_struct_array
from proteus_engine_spark.queries.registry import register
from proteus_engine_spark.sources import load_table


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    tags=("datapipe", "dedup", "bench"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest — shuffles 16-byte hashes, not text."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             list_distinct(string_split_regex(lower(text), '\\s+')) AS tok_set
      FROM documents
    )
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           CAST(len(list_intersect(l.tok_set, r.tok_set)) AS DOUBLE)
             / len(list_distinct(list_concat(l.tok_set, r.tok_set))) AS jaccard
    FROM toks l JOIN toks r
      ON l.lang = r.lang AND l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id
    WHERE CAST(len(list_intersect(l.tok_set, r.tok_set)) AS DOUBLE)
             / len(list_distinct(list_concat(l.tok_set, r.tok_set))) >= 0.8
    """,
    tags=("datapipe", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs within (lang, length-bucket) blocks —
    the verification tier for LSH candidates (SURVEY §7 step 8)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100).cast("long")
    )
    return ngram_jaccard_pairs(docs, block_cols=["lang", "len_bucket"], threshold=0.8).select(
        "doc_a", "doc_b", "jaccard"
    )


@register(
    "dedup_minhash_lsh",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents)
    ),
    -- |A intersect B| = shared-gram count via a gram-keyed equi-join
    -- (s is distinct per doc) and |A union B| = na + nb - c: identical
    -- INTEGER counts to the list_intersect/list_concat formulation, so
    -- the emitted double is bit-identical — but linear in shared grams
    -- instead of quadratic in documents
    grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    common AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS c
      FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
    tags=("datapipe", "dedup", "bench"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + 16-band LSH candidates, exact-Jaccard verified
    (the standard two-tier dedup at 100 TB: 8-byte band keys generate
    candidates, heavy shingle sets are only joined to surviving pairs).
    Oracle-able because the EXACT tier's output is engine-portable and the
    LSH cut has recall 1 at this threshold: every qualifying pair in the
    corpus has J ≥ 0.9, whose band-collision probability is
    1-(1-0.9^4)^16 ≈ 1-4e-8 — the oracle is the full exact-Jaccard pair
    set, and the LSH candidate stage provably (and empirically, at both
    test SFs) misses none of it. The gate runs the PRODUCTION
    configuration: max_bucket_size caps hot-bucket pair explosion (the
    split plan + in-plan cap Observation are in the executed plan); at
    the driver SFs no bucket exceeds the cap, so the output stays the
    full exact pair set and the oracle match also proves the capped
    plan is a pure pass-through below the cap."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        jaccard_threshold=0.5,
        verify="exact",
        max_bucket_size=10_000,
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35
    """,
    tags=("datapipe", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact within label blocks — ONE
    shuffle of (id, vector) on the block key into applyInPandas, each block
    scored as a single BLAS gram matrix (V @ V.T); only pairs above the
    threshold leave the worker. The unblocked scale path (multi-table
    hyperplane LSH) is dedup_embedding_cosine_lsh."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, threshold=0.35, block_col="label")


@register(
    "dedup_embedding_cosine_lsh",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35
    """,
    tags=("datapipe", "dedup", "similarity"),
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unblocked embedding near-dup via independent hyperplane-LSH tables +
    exact-cosine verification of bucket-mates. Oracle = the full exact
    pair set: 16 tables × 2 bits are sized for recall 1 at the 0.35 cut on
    this corpus (verified pair-for-pair vs the exact self-join at sf0.01) —
    the exact-cosine tier makes precision 1 by construction, so LSH
    parameters only govern recall. At 100 TB the (table, bucket) key is
    8 bytes and the candidate join stays a plain shuffle-hash join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, threshold=0.35, block_col=None, dim=64, nbits=2, n_tables=24)


def _simhash_md5_oracle(n_bits: int = 60, prefix_bits: int = 16) -> str:
    """DuckDB SQL reproducing simhash_buckets(hash_fn='md5_60') bit-for-bit.

    The 60-bit per-token hash is the first 15 hex chars of md5 parsed base
    16; bit b of that value is bit (b % 4) of the hex digit at position
    15 - b//4, decoded portably via strpos on the hex alphabet — no
    engine-specific hash or hex-parse builtin anywhere."""
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ((strpos('0123456789abcdef', substring(hx, {15 - b // 4}, 1)) - 1) "
        f">> {b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}"
        for b in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN bit_{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        for b in range(n_bits)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents
    ),
    h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash, ({fp}) >> {n_bits - prefix_bits} AS bucket FROM bits
    """


@register("dedup_simhash", oracle=_simhash_md5_oracle(), tags=("datapipe", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + prefix buckets on the engine-portable md5_60
    hash (the oracle rebuilds every fingerprint bit-for-bit in DuckDB; the
    xxhash64 mode stays the faster production default in datapipe/dedup.py)."""
    return simhash_buckets(load_table(spark, sf_dir, "documents"), hash_fn="md5_60")


@register(
    "text_quality_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           CASE WHEN length(trim(text)) > 0
                THEN len(string_split_regex(text, '\\s+')) ELSE 0 END AS n_tokens,
           CAST(length(text) - (CASE WHEN length(trim(text)) > 0
                THEN len(string_split_regex(text, '\\s+')) ELSE 0 END) + 1 AS DOUBLE)
             / greatest(CASE WHEN length(trim(text)) > 0
                THEN len(string_split_regex(text, '\\s+')) ELSE 0 END, 1) AS mean_word_len,
           CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS digit_ratio,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS upper_ratio
    FROM documents
    """,
    tags=("datapipe", "text"),
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter feature set (lengths, ratios) — codegen'd expressions
    over the scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_stats(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "mean_word_len", "punct_ratio", "digit_ratio", "upper_ratio"
    )


@register(
    "text_language_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang AS lang_true,
             len(list_intersect(list_distinct(string_split_regex(lower(text), '\\s+')),
                 ['der','die','das','und','ist','nicht','ein','mit','auf','zu'])) AS s_de,
             len(list_intersect(list_distinct(string_split_regex(lower(text), '\\s+')),
                 ['the','and','of','to','is','in','that','it','was','for'])) AS s_en,
             len(list_intersect(list_distinct(string_split_regex(lower(text), '\\s+')),
                 ['el','la','los','que','es','no','un','una','con','por'])) AS s_es,
             len(list_intersect(list_distinct(string_split_regex(lower(text), '\\s+')),
                 ['le','la','les','et','est','pas','un','une','dans','pour'])) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang_true,
           CASE WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
                WHEN s_es > greatest(s_de, s_en) THEN 'es'
                WHEN s_en > s_de THEN 'en'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
    FROM scored
    """,
    tags=("datapipe", "text"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-anchor language ID. Argmax with ties → earliest language in
    sorted order (matches the CASE cascade in the oracle exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        language_id("text").alias("lang_pred"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\\s+'))), ' ')) AS fingerprint,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
    tags=("datapipe", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive md5 fingerprint + BPE-ish token count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        document_fingerprint("text").alias("fingerprint"),
        token_count("text", mode="bpe").alias("n_bpe_tokens"),
    )


@register(
    "sim_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings),
         scored AS (
           SELECT q_id, c_id,
                  round(list_dot_product(q_vec, c_vec)
                        / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos_sim
           FROM q, c
         )
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    tags=("datapipe", "similarity", "bench"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 5 query vectors against the whole corpus —
    broadcast queries, sequential-fold dot product (same order both engines,
    rounded at 1e-6 and de-tied by c_id for a deterministic cut)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), vec.alias("vec"))
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    return brute_force_topk(queries, corpus, k=5)


_BRUTE_FORCE_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings),
         scored AS (
           SELECT q_id, c_id,
                  round(list_dot_product(q_vec, c_vec)
                        / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos_sim
           FROM q, c
         )
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


@register("sim_ann_lsh", oracle=_BRUTE_FORCE_TOPK_ORACLE, tags=("datapipe", "similarity"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-k. Oracle = the exact
    brute-force top-k: 16 tables × 2 bits give candidate recall 1 for every
    true top-5 neighbor at sf0.01 (verified tuple-for-tuple), and the exact
    re-rank inside candidates uses the identical rounded-cosine/(c_id)
    tie-break as the brute-force cut, so the approximate path reproduces
    the exact answer while only ever scoring bucket-mates."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), vec.alias("vec"))
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    return lsh_ann_topk(queries, corpus, dim=64, k=5, nbits=2, n_tables=16)


@register(
    "sim_ann_ivf",
    oracle="""
    WITH c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl_id, embedding::DOUBLE[] AS cv
                  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
         assign AS (
           SELECT c_id, v, cl_id AS cell FROM (
             SELECT c.c_id, c.v, cent.cl_id,
                    row_number() OVER (PARTITION BY c.c_id
                                       ORDER BY list_distance(c.v, cent.cv), cent.cl_id) AS rn
             FROM c CROSS JOIN cent) t WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         qcells AS (
           SELECT q_id, qv, cl_id AS cell FROM (
             SELECT q.q_id, q.qv, cent.cl_id,
                    row_number() OVER (PARTITION BY q.q_id
                                       ORDER BY list_distance(q.qv, cent.cv), cent.cl_id) AS rn
             FROM q CROSS JOIN cent) t WHERE rn <= 4),
         scored AS (
           SELECT q_id, c_id,
                  round(list_dot_product(qv, v)
                        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
           FROM qcells JOIN assign USING (cell))
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored QUALIFY rank <= 5
    """,
    tags=("datapipe", "similarity"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with an ALGORITHM-MIRROR oracle: with n_iter=0
    the coarse quantizer's centroids are exactly the 16 lowest-id vectors
    (no float-order-dependent Lloyd means), so DuckDB reproduces the whole
    pipeline — assignment (argmin L2, (distance, cl_id) tie-break), 4-cell
    probe, exact cosine re-rank — and the oracle verifies the approximate
    semantics themselves, not an idealized answer. IVF's recall-vs-probe
    tradeoff stays genuine (this corpus is near-uniform; the probed 4/16
    cells legitimately miss some true neighbors, and the oracle agrees
    because it misses them identically). The Lloyd-refined quantizer
    (n_iter≥1) remains the production path, recall-tested in
    tests/test_datapipe.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), vec.alias("vec"))
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    return ivf_ann_topk(queries, corpus, dim=64, k=5, n_centroids=16, n_probe=4, n_iter=0)


@register(
    "dedup_semantic",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl_id,
                         embedding::DOUBLE[] AS cv
                  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
         assign AS (
           SELECT vec_id, v, cl_id AS cluster FROM (
             SELECT c.vec_id, c.v, cent.cl_id,
                    row_number() OVER (PARTITION BY c.vec_id
                                       ORDER BY list_distance(c.v, cent.cv), cent.cl_id) AS rn
             FROM c CROSS JOIN cent) t WHERE rn = 1),
         dropped AS (
           SELECT DISTINCT b.vec_id
           FROM assign a JOIN assign b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35)
    SELECT assign.vec_id, CAST(cluster AS INT) AS cluster,
           dropped.vec_id IS NULL AS kept
    FROM assign LEFT JOIN dropped ON assign.vec_id = dropped.vec_id
    """,
    tags=("datapipe", "dedup", "similarity"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup.semantic_dedup — Abbas et al.
    2023: k-means the embedding space, prune cosine near-duplicates within
    clusters; the all-pairs term is cluster-bounded, never corpus-bounded).
    ALGORITHM-MIRROR oracle, same discipline as sim_ann_ivf: with n_iter=0
    the quantizer's centroids are exactly the 16 lowest-id vectors (no
    float-order-dependent Lloyd means), so DuckDB reproduces the whole
    pipeline — argmin-L2 assignment with (distance, cl_id) tie-break,
    within-cluster cosine rounded to 1e-6 against the threshold, the
    drop-if-lower-id-near-dup keep rule — and the oracle validates the
    clustered-prune semantics themselves (cross-cluster near-dups are
    legitimately missed by BOTH engines, the approximation the paper
    accepts for scale). The Lloyd-refined quantizer (n_iter>=1) is the
    production path, property-tested in tests/test_round13.py."""
    from proteus_engine_spark.datapipe.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, dim=64, n_clusters=16, n_iter=0, threshold=0.35)


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           greatest(1, length(text) % 640) AS width,
           greatest(1, (length(text) // 7) % 480) AS height,
           3 AS n_channels,
           CAST(list_aggregate([unicode(substring(text, i, 1))
                                FOR i IN range(1, least(length(text), 64)+1)], 'avg')
                AS DOUBLE) AS mean_intensity
    FROM documents
    """,
    tags=("datapipe", "multimodal"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents' text bytes stand in for media
    payloads (binary column), decoded via the Arrow-batched mapInPandas
    path. The stub codec is pure byte arithmetic (sizes and a mean over the
    first 64 payload bytes), so the oracle reproduces it in SQL over the
    same bytes (the corpus is ASCII: code point == UTF-8 byte) — verifying
    the full distributed plumbing end-to-end: binary encode, Arrow batch
    crossing, schema contract, per-row fan-in."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    media = attach_media_columns(docs)
    return decode_images(media)


@register(
    "text_repetition_stats",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, length(text) AS n_chars,
             CASE WHEN length(trim(text)) > 0
                  THEN string_split_regex(trim(text), '\s+')
                  ELSE CAST([] AS VARCHAR[]) END AS toks
      FROM documents),
    per_doc AS (
      SELECT doc_id, n_chars, len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                         / len(toks)
                  ELSE 0.0 END AS dup_token_frac
      FROM t),
    grams AS (
      SELECT doc_id, n_chars, 2 AS n,
             toks[r] || ' ' || toks[r + 1] AS gram
      FROM (SELECT doc_id, n_chars, toks,
                   unnest(range(1, len(toks))) AS r FROM t)
      UNION ALL
      SELECT doc_id, n_chars, 3,
             toks[r] || ' ' || toks[r + 1] || ' ' || toks[r + 2]
      FROM (SELECT doc_id, n_chars, toks,
                   unnest(range(1, len(toks) - 1)) AS r FROM t)),
    counts AS (
      SELECT doc_id, n_chars, n, gram, count(*) AS cnt
      FROM grams GROUP BY ALL),
    cov AS (
      SELECT doc_id, n_chars,
             COALESCE(MAX(CASE WHEN n = 2 AND cnt >= 2
                          THEN cnt * length(gram) END), 0) AS big_cov,
             COALESCE(SUM(CASE WHEN n = 3 AND cnt >= 2
                          THEN cnt * length(gram) END), 0) AS tri_cov
      FROM counts GROUP BY doc_id, n_chars)
    SELECT p.doc_id, p.n_tokens, p.dup_token_frac,
           CASE WHEN p.n_chars > 0
                THEN CAST(COALESCE(c.big_cov, 0) AS DOUBLE) / p.n_chars
                ELSE 0.0 END AS top_bigram_cov,
           CASE WHEN p.n_chars > 0
                THEN CAST(COALESCE(c.tri_cov, 0) AS DOUBLE) / p.n_chars
                ELSE 0.0 END AS dup_trigram_cov
    FROM per_doc p LEFT JOIN cov c USING (doc_id)
    """,
    tags=("datapipe", "text", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 — the
    standard LLM-corpus repetition filters): duplicate-token fraction,
    best-repeated-bigram character coverage, duplicated-trigram character
    coverage, per document. Pure Catalyst: token stats fuse into the
    scan; the n-gram counts are one tagged explode + one (doc, n, gram)
    shuffle — line-rate at 100 TB, no corpus-wide state. The oracle
    recomputes all four signals in DuckDB list/window SQL."""
    from proteus_engine_spark.datapipe.textstats import repetition_stats
    from proteus_engine_spark.sources import load_table

    return repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "pii_redaction",
    oracle=r"""
    WITH profile AS (
      SELECT c_custkey,
             c_name || ' ph '
               || printf('%02d-%03d-%03d-%04d', 10 + c_nationkey % 90,
                         c_custkey % 1000, (c_custkey // 7) % 1000,
                         (c_custkey * 13) % 10000)
               || ' seg ' || c_mktsegment
               || ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.'
               || CAST(c_nationkey AS VARCHAR)
               || ' mail c' || CAST(c_custkey AS VARCHAR) || '@example.com'
               AS text
      FROM customer)
    SELECT c_custkey,
           CAST(len(regexp_extract_all(text,
             '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\+\d{1,3}[ -]?\(?\d{2,4}\)?(?:[ -]\d{2,4}){1,3}\b|\(\d{3}\)[ -]?\d{3}[ -]\d{4}\b|\b\d{2,4}[ -](?:\d{2,4}[ -])?\d{3}[ -]\d{4}\b')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(text,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
             '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b', '[EMAIL]', 'g'),
             '\+\d{1,3}[ -]?\(?\d{2,4}\)?(?:[ -]\d{2,4}){1,3}\b|\(\d{3}\)[ -]?\d{3}[ -]\d{4}\b|\b\d{2,4}[ -](?:\d{2,4}[ -])?\d{3}[ -]\d{4}\b', '[PHONE]', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS text_scrubbed
    FROM profile
    """,
    tags=("datapipe", "text", "pii"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub gate (the rule-based redaction tier every LLM-corpus
    pipeline runs before training): customer rows are rendered into a
    profile string carrying a synthesized phone in the TPC-H
    dd-ddd-ddd-dddd shape, a synthesized private IP and an email, then the
    email/phone/IPv4 patterns are counted and redacted — all Catalyst
    regexp expressions that fuse into the scan (no Python, no shuffle at
    100 TB). The oracle applies the identical RE2-compatible patterns in
    DuckDB, so a pattern drift, a first-match-only replace, or a count
    mismatch all fail."""
    from proteus_engine_spark.datapipe.pii import scrub_documents
    from proteus_engine_spark.sources import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit(" ph "),
            F.format_string(
                "%02d-%03d-%03d-%04d",
                F.lit(10) + F.col("c_nationkey") % 90,
                F.col("c_custkey") % 1000,
                (F.col("c_custkey") / 7).cast("long") % 1000,
                (F.col("c_custkey") * 13) % 10000,
            ),
            F.lit(" seg "), F.col("c_mktsegment"),
            F.lit(" ip 10."), (F.col("c_custkey") % 256).cast("string"),
            F.lit(".0."), F.col("c_nationkey").cast("string"),
            F.lit(" mail c"), F.col("c_custkey").cast("string"),
            F.lit("@example.com"),
        ).alias("text"),
    )
    return scrub_documents(cust).select(
        "c_custkey", "n_email", "n_phone", "n_ipv4", "text_scrubbed"
    )


@register(
    "corpus_stratified_sample",
    oracle="""
    WITH sampled AS (
      SELECT doc_id, lang, n_chars,
             CASE lang WHEN 'en' THEN 'g'
                       WHEN 'de' THEN '40000000'
                       WHEN 'fr' THEN '20000000'
                       ELSE '0ccccccc' END AS thr
      FROM documents
      WHERE substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8)
            < CASE lang WHEN 'en' THEN 'g'
                        WHEN 'de' THEN '40000000'
                        WHEN 'fr' THEN '20000000'
                        ELSE '0ccccccc' END)
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM sampled GROUP BY lang
    """,
    tags=("datapipe", "sampling"),
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-mixture sampling gate: per-language keep
    rates (en ~100%, de 25%, fr 12.5%, rest 5%) decided by an
    md5-threshold rule — a pure per-row function identical in Spark,
    DuckDB and Python, so the EXACT kept set (not just its size) is
    reproducible across engines and reruns; the salt gives independent
    resamples. The filter fuses into the scan: sampling 1% of 100 TB
    shuffles nothing. The oracle applies the same rule verbatim and
    compares kept counts + a char checksum per stratum."""
    from proteus_engine_spark.datapipe.sampling import stratified_sample
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, "doc_id", "lang",
        {"en": 1.0, "de": 0.25, "fr": 0.125},
        default_rate=0.05,
        salt="mix1:",
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


@register(
    "embedding_preprocess",
    oracle="""
    WITH idx AS (
      SELECT unnest(range(1, (SELECT len(embedding) + 1
                              FROM embeddings LIMIT 1))) AS pos),
    comp AS (
      SELECT e.vec_id, idx.pos, CAST(e.embedding[idx.pos] AS DOUBLE) AS val
      FROM embeddings e, idx),
    m AS (
      SELECT pos,
             CAST(SUM(CAST(floor(val * 1e6) AS BIGINT)) AS DOUBLE)
               / 1e6 / COUNT(*) AS mu
      FROM comp GROUP BY pos),
    c AS (
      SELECT vec_id, pos, val - mu AS cv
      FROM comp JOIN m USING (pos)),
    agg AS (
      SELECT vec_id, sqrt(SUM(cv * cv)) AS norm
      FROM c GROUP BY vec_id)
    SELECT c.vec_id,
           CAST(c.pos - 1 AS INTEGER) AS pos,
           CASE WHEN a.norm > 0 THEN c.cv / a.norm END AS component,
           a.norm
    FROM c JOIN agg a USING (vec_id)
    """,
    tags=("datapipe", "embedding"),
)
def embedding_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding preprocessing gate (mean-centering + unit L2 norm — the
    standard step in front of cosine ANN): the corpus mean is an EXACT
    integer aggregation (floor-micros; floating sums over an arbitrary
    partitioning are order-dependent in the last ulp, and floor avoids
    round()'s half-tie ambiguity across engines), broadcast back in-plan
    as a 1-row array; centering, norms and scaling are per-row Catalyst
    array expressions. The gate emits the LONG form — one scalar row per
    (vec_id, pos) — because the driver's pandas canonicalizer cannot
    sort LIST-typed cells (r8 red: TypeError before any comparison ran);
    every one of the 64 components of every vector is still verified, so
    a mean drift, a centering slip, or a zero-norm mishandling all
    fail."""
    from proteus_engine_spark.datapipe.embeddings import (
        preprocess_embeddings_long,
    )
    from proteus_engine_spark.sources import load_table

    return preprocess_embeddings_long(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_cluster_keep",
    oracle=r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
            FROM documents)),
    -- |A intersect B| via a gram-keyed equi-join over the DISTINCT
    -- shingle sets (not all-pairs list_intersect: identical math —
    -- s is distinct per doc — but linear in shared grams instead of
    -- quadratic in documents; cut this oracle from ~60s to ~1s)
    grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    common AS (
      SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS c
      FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2),
    edges AS (
      SELECT a, b FROM common
      JOIN sizes sa ON sa.doc_id = a
      JOIN sizes sb ON sb.doc_id = b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst),
    lab AS (
      SELECT src AS node, least(src, min(dst)) AS comp
      FROM reach GROUP BY src)
    SELECT d.doc_id,
           COALESCE(l.comp, d.doc_id) AS cluster_rep,
           COALESCE(l.comp, d.doc_id) = d.doc_id AS is_kept
    FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    """,
    tags=("datapipe", "dedup", "cluster"),
)
def dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution gate — the dedup END POINT (pairs
    alone don't dedup a corpus: A~B and B~C must collapse into ONE
    cluster even when A~C never passed the pair threshold). MinHash-LSH
    exact-verified pairs at J >= 0.5 feed connected components (the
    delta-iteration client); each cluster keeps its lowest doc id, and
    every document gets a keep verdict. The oracle rebuilds the same
    clusters with a recursive transitive-closure CTE over the exact
    Jaccard pair set, so a lost edge, an unmerged component, or a wrong
    representative all fail."""
    from proteus_engine_spark.datapipe.dedup import (
        dedup_cluster_keep as _cluster,
        minhash_lsh_pairs,
    )
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5, verify="exact")
    return _cluster(docs, pairs.select("doc_a", "doc_b"))


@register(
    "text_duplicate_spans",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
               FROM documents),
    w AS (SELECT doc_id,
                 unnest([array_to_string(t[i:i+9], ' ')
                         FOR i IN range(1, len(t) - 10 + 2)]) AS gram
          FROM t WHERE len(t) >= 10),
    nd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM w GROUP BY gram)
    SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (WHERE nd.nd >= 2) AS BIGINT) AS n_dup_spans,
           round(count(*) FILTER (WHERE nd.nd >= 2)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_span_frac
    FROM w JOIN nd USING (gram) GROUP BY w.doc_id
    """,
    tags=("datapipe", "dedup", "spans"),
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (dedup.duplicate_spans —
    the Lee et al. 2022 exact-substring dedup tier, rolling 10-token
    k-gram approximation): per document, how many of its span positions
    also occur in at least one OTHER document, and the fraction a
    span-removal pass would cut. Engine spans are hashed to 8 bytes in
    the scan projection (the decontam discipline — the shuffle carries
    (doc_id, hash), never span strings); the oracle recomputes with
    STRING grams, so a hash-collision miscount would fail the gate."""
    from proteus_engine_spark.datapipe.dedup import duplicate_spans

    return duplicate_spans(load_table(spark, sf_dir, "documents"), k=10)


@register(
    "text_remove_duplicate_spans",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
               FROM documents),
    w AS (SELECT doc_id,
                 unnest(range(1, len(t) - 10 + 2)) AS p,
                 unnest([array_to_string(t[i:i+9], ' ')
                         FOR i IN range(1, len(t) - 10 + 2)]) AS gram
          FROM t WHERE len(t) >= 10),
    nd AS (SELECT gram FROM w GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    rem AS (SELECT DISTINCT doc_id, unnest(range(p, p + 10)) AS pos
            FROM w JOIN nd USING (gram)),
    tp AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS tok
           FROM t),
    kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp LEFT JOIN rem
               ON tp.doc_id = rem.doc_id AND tp.pos = rem.pos
             WHERE rem.pos IS NULL),
    cln AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
                   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
    SELECT t.doc_id, coalesce(cln.text_clean, '') AS text_clean,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - coalesce(cln.n_kept, 0) AS BIGINT) AS n_removed
    FROM t LEFT JOIN cln ON t.doc_id = cln.doc_id
    """,
    tags=("datapipe", "dedup", "spans"),
)
def text_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-REMOVAL tier of exact-substring dedup
    (dedup.remove_duplicate_spans — Lee et al. 2022's operational step:
    the scoring tier above counts duplicated-span mass, this one CUTS the
    spans and reassembles each document from the surviving tokens). The
    cut is entirely shuffle-based — duplicated 10-gram starts explode
    into covered positions, a left-anti join drops them, per-doc ordered
    reassembly via array_sort over (pos, token) structs; no per-row
    Python, no quadratic HOF scans. Engine grams are 8-byte xxhash64 (the
    decontam discipline); the oracle reconstructs the identical cut with
    STRING grams, so a collision-induced over-cut would fail the gate."""
    from proteus_engine_spark.datapipe.dedup import remove_duplicate_spans

    return remove_duplicate_spans(load_table(spark, sf_dir, "documents"), k=10)


_SALT_BASE = " ".join(f"tok{i}" for i in range(60))


@register(
    "dedup_lsh_salted_recall",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id,
             '{_SALT_BASE}' || ' uniq' || doc_id || ' uniq' || doc_id || 'b' AS text
      FROM documents WHERE doc_id < 120),
    sh AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM base)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS survivors_qualify,
           TRUE AS recall_floor_met
    FROM pairs
    """,
    tags=("datapipe", "dedup", "lsh", "recall"),
)
def dedup_lsh_salted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-grade gate for the salted-split cap's recall property: a
    deterministic 120-doc near-identical hot-bucket probe (every doc =
    a shared 60-token base + 2 unique tokens, pairwise J≈0.94 — every
    band bucket is one ~120-doc mega-bucket) is derived IDENTICALLY from
    the documents table by both engines. The oracle computes the
    exact-Jaccard qualifying pair count from first principles (7140 =
    C(120,2) — every pair qualifies at threshold 0.5) plus the two
    asserted invariants as literals; the engine MEASURES them: every
    survivor of the capped run must be a qualifying exact pair
    (survivors_qualify), and the salted_split cap at 20 must retain
    >= 85% of the qualifying pairs (recall_floor_met — measured 0.903;
    the plain split measures <0.5 on this corpus, pinned by pytest). A
    recall regression in the salted chunk order flips the boolean and
    hash-fails the gate. Probe corpus and pair frames are all bounded
    (120 docs) — gate verification code, not a data-path operator."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select(
            "doc_id",
            F.concat(
                F.lit(_SALT_BASE),
                F.lit(" uniq"), F.col("doc_id").cast("string"),
                F.lit(" uniq"), F.col("doc_id").cast("string"), F.lit("b"),
            ).alias("text"),
        )
    )
    exact = minhash_lsh_pairs(base, jaccard_threshold=0.5, verify="exact").select(
        "doc_a", "doc_b"
    )
    surv = minhash_lsh_pairs(
        base,
        jaccard_threshold=0.5,
        verify="exact",
        max_bucket_size=20,
        oversize="salted_split",
    ).select("doc_a", "doc_b")
    n_ex = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_sv = surv.agg(F.count(F.lit(1)).alias("n_surv"))
    n_sv_q = surv.join(exact, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_surv_qual")
    )
    return (
        n_ex.crossJoin(n_sv)
        .crossJoin(n_sv_q)
        .select(
            "n_exact_pairs",
            (F.col("n_surv_qual") == F.col("n_surv")).alias("survivors_qualify"),
            (
                F.col("n_surv").cast("double")
                >= 0.85 * F.col("n_exact_pairs").cast("double")
            ).alias("recall_floor_met"),
        )
    )


@register(
    "text_decontaminate",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
               FROM documents),
    g AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
          FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS grams
          FROM t WHERE len(t) >= 3),
    eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
    SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM cg JOIN eg USING (gram) GROUP BY cg.doc_id
    """,
    tags=("datapipe", "decontam"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Gopher 13-gram
    style): per training document, the count of distinct n-grams shared
    with the eval split (doc_id % 97 — a stand-in benchmark set; n=3
    here so the synthetic small-vocabulary corpus yields a substantive
    overlap set — real deployments use 8-13). Corpus
    grams are hashed to 8 bytes in the scan projection and joined on the
    hash (shuffle carries (doc_id, hash), never gram strings); the eval
    side is a distinct hash set sized by the benchmark, join strategy
    left to AQE. The oracle recomputes the overlap with string grams in
    SQL, so a hash-collision miscount would also fail the gate."""
    from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts

    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_overlap_counts(corpus, eval_set, n=3)


@register(
    "corpus_mixture_weights",
    oracle=r"""
    WITH per AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(text, '\s+')) ELSE 0 END)
               AS BIGINT) AS total_size
      FROM documents GROUP BY source, lang)
    SELECT source, lang, n_docs, total_size,
           CASE WHEN sum(total_size) OVER () > 0
                THEN total_size / CAST(sum(total_size) OVER () AS DOUBLE)
           END AS share,
           CASE WHEN total_size > 0 AND sum(total_size) OVER () > 0
                THEN 1.0 / count(*) FILTER (WHERE total_size > 0) OVER ()
                     / (total_size / CAST(sum(total_size) OVER () AS DOUBLE))
           END AS weight
    FROM per
    """,
    tags=("datapipe", "sampling"),
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight planning over (source, lang) strata: token-share of
    each stratum and the uniform-target resampling weight that feeds
    stratified_sample's rate map. One corpus aggregation; totals via a
    window over the strata-sized frame (sampling.mixture_weights)."""
    from proteus_engine_spark.datapipe.sampling import mixture_weights
    from proteus_engine_spark.datapipe.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    return mixture_weights(
        docs, ["source", "lang"], size_col=token_count("text")
    )


@register(
    "text_length_percentiles",
    oracle=r"""
    WITH v AS (SELECT lang, CASE WHEN length(trim(text)) > 0
                      THEN len(string_split_regex(text, '\s+')) ELSE 0 END
                        AS n_tokens
               FROM documents),
    q AS (SELECT lang,
                 quantile_cont(n_tokens, [0.25, 0.5, 0.75, 0.9, 0.99]) AS vals
          FROM v GROUP BY lang)
    SELECT lang, unnest(CAST([0.25, 0.5, 0.75, 0.9, 0.99] AS DOUBLE[])) AS pct,
           unnest(vals) AS value
    FROM q
    """,
    tags=("datapipe", "text", "profiling"),
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language — the profiling step before
    corpus length filters. Exact tier (Spark `percentile` == DuckDB
    quantile_cont, linear interpolation at rank p*(n-1)) for the gate;
    textstats.percentile_summary(mode="approx") is the bounded-memory
    sketch tier for 100 TB."""
    from proteus_engine_spark.datapipe.textstats import (
        percentile_summary,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", token_count("text").alias("n_tokens")
    )
    return percentile_summary(docs, "n_tokens", ["lang"])


@register(
    "corpus_pack_sequences",
    oracle=r"""
    WITH v AS (SELECT doc_id,
                      CAST(CASE WHEN length(trim(text)) > 0
                           THEN len(string_split_regex(text, '\s+'))
                           ELSE 0 END AS BIGINT) AS n_tokens
               FROM documents)
    SELECT doc_id, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER
             (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
           CAST(COALESCE(sum(n_tokens) OVER
             (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS seq_bin
    FROM v
    """,
    tags=("datapipe", "packing"),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: every document's global start
    offset on the doc_id-ordered token stream and the 2048-token
    training sequence it starts in. The global prefix sum runs as the
    two-phase range-partitioned scheme (datapipe.packing) — parallel,
    no single-task global window; the oracle recomputes it with a plain
    SQL window, so a lost partition offset or a mis-ordered range fails
    the hash."""
    from proteus_engine_spark.datapipe.packing import pack_sequences
    from proteus_engine_spark.datapipe.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_sequences(docs, "n_tokens", "doc_id", ctx_len=2048).select(
        "doc_id", "n_tokens", "start_offset", "seq_bin"
    )


@register(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\s+')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
               FROM scored)
    SELECT doc_id, term, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
    tags=("datapipe", "text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (smoothed idf, term-asc
    tie-break) — tokenize explode, (doc, term) count, vocabulary-sized
    df aggregate + term-keyed idf join, one doc-keyed top-k window
    (datapipe.textstats.tfidf_top_terms)."""
    from proteus_engine_spark.datapipe.textstats import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5)


@register(
    "text_bigram_logprob",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                  FROM documents),
    big AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
            FROM toks WHERE len(t) >= 2),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v2 FROM big)
    SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((c12.c12 + 0.4) / (c1.c1 + 0.4 * v.v2))), 6) AS logprob
    FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY big.doc_id
    """,
    tags=("datapipe", "text", "quality"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring (textstats.bigram_logprob): per document,
    the mean log-probability of its bigrams under an add-0.4-smoothed
    bigram model trained on the corpus itself — the CCNet/Gopher "LM
    perplexity" quality-filter tier with the n-gram model standing in for
    the trained KenLM. The oracle reproduces the identical model and
    scores (both engines round the double mean to 1e-6), so a drifted
    count, a wrong smoothing denominator, or a lost short-doc exclusion
    all fail the hash."""
    from proteus_engine_spark.datapipe.textstats import bigram_logprob

    return bigram_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "text_bigram_logprob_pruned",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                  FROM documents),
    big AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
            FROM toks WHERE len(t) >= 2),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v2 FROM big),
    c12p AS (SELECT * FROM c12 WHERE c12 >= 3)
    SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((COALESCE(c12p.c12, 0) + 0.4) / (c1.c1 + 0.4 * v.v2))), 6)
             AS logprob
    FROM big LEFT JOIN c12p USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY big.doc_id
    """,
    tags=("datapipe", "text", "quality"),
)
def text_bigram_logprob_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LM scorer's PRODUCTION tier (textstats.bigram_logprob with
    min_count=3 + broadcast_model=True): the bigram model is pruned to
    counts >= 3 and broadcast into the scoring joins — the pruned-KenLM
    shipping pattern the 100 TB docstring prescribes, driver-proven
    rather than pytest-only. Context counts c(w1) and V stay exact, so
    at-or-above-floor bigrams score exactly as in text_bigram_logprob
    while pruned-away bigrams take the unseen α numerator via the left
    join; the oracle mirrors the same pruning (c12 >= 3, COALESCE to 0),
    so an off-by-one floor, a pruned context table, or a broadcast that
    drops rows all fail the hash."""
    from proteus_engine_spark.datapipe.textstats import bigram_logprob

    return bigram_logprob(
        load_table(spark, sf_dir, "documents"), min_count=3, broadcast_model=True
    )


@register(
    "corpus_mixture_temperature",
    oracle=r"""
    WITH per AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(text, '\s+')) ELSE 0 END)
               AS BIGINT) AS total_size
      FROM documents GROUP BY lang)
    SELECT lang, n_docs, total_size,
           CASE WHEN g > 0 THEN rs END AS share,
           CASE WHEN total_size > 0 AND g > 0
                THEN (pw / sum(pw) OVER ()) / rs END AS weight
    FROM (SELECT lang, n_docs, total_size, g, rs, power(rs, 1.0/3.0) AS pw
          FROM (SELECT lang, n_docs, total_size,
                       sum(total_size) OVER () AS g,
                       total_size / CAST(sum(total_size) OVER () AS DOUBLE) AS rs
                FROM per))
    """,
    tags=("datapipe", "sampling"),
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture planning (T=3): target share ∝
    share^(1/T) — the multilingual sampling scheme of mC4/mBERT/PaLM
    (flatten dominant languages without letting tail strata dominate,
    unlike the uniform target). Same single corpus aggregation + strata-
    sized window as the uniform planner; only the target formula changes
    (sampling.mixture_weights(temperature=3))."""
    from proteus_engine_spark.datapipe.sampling import mixture_weights
    from proteus_engine_spark.datapipe.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    return mixture_weights(
        docs, ["lang"], size_col=token_count("text"), temperature=3.0
    )


@register(
    "corpus_hash_split",
    oracle="""
    WITH d AS (SELECT doc_id,
                      substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
               FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN doc_id IS NULL THEN NULL
                      WHEN h < 'cccccccc' THEN 'train'
                      WHEN h < 'e6666666' THEN 'val'
                      ELSE 'test' END AS split
          FROM d)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(MIN(doc_id) AS BIGINT) AS id_min,
           CAST(MAX(doc_id) AS BIGINT) AS id_max
    FROM s GROUP BY split
    """,
    tags=("datapipe", "sampling"),
)
def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 bucket
    (sampling.hash_split) — stable under corpus growth (a doc keeps its
    split when new docs arrive; rank- or rand()-based splits leak eval
    docs into train between runs). The oracle reproduces the EXACT
    assignment via the same md5 thresholds (0.8 → 'cccccccc',
    0.9 → 'e6666666'); counts plus id-sum/min/max checksum each split's
    membership. One codegen CASE fused into the scan — no shuffle below
    the 3-group aggregate."""
    from proteus_engine_spark.datapipe.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    s = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.min("doc_id").alias("id_min"),
        F.max("doc_id").alias("id_max"),
    )


@register(
    "text_length_percentiles_approx",
    oracle="""
    SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_groups,
           CAST(COUNT(DISTINCT lang) * 5 AS BIGINT) AS n_checked,
           CAST(0 AS BIGINT) AS n_violations
    FROM documents
    """,
    tags=("datapipe", "text", "profiling"),
)
def text_length_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for percentile_summary's PRODUCTION tier
    (mode="approx" — the mergeable bounded-memory approx_percentile
    sketch, the 100 TB path the exact gate cannot exercise). DuckDB
    cannot reproduce the sketch, so the query verifies the sketch
    ENGINE-SIDE against the raw distribution and emits a 1-row verdict
    the oracle can hash: for every (lang, pct) the returned value's rank
    span [cnt_lt+1, cnt_le] must intersect the requested rank pct*n
    within the sketch's guaranteed rank error (n/accuracy, floored at 1,
    +1 slack for the span endpoints). The oracle independently asserts
    the group/check counts and ZERO violations — a sketch value outside
    its rank bound fails the gate. Scale shape: the sketch itself is one
    map-side-combinable aggregation; the verification join replicates
    each doc row once per requested pct against the strata-sized sketch
    frame (AQE broadcasts it)."""
    from proteus_engine_spark.datapipe.textstats import (
        percentile_summary,
        token_count,
    )

    accuracy = 10_000
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", token_count("text").alias("n_tokens")
    )
    ap = percentile_summary(docs, "n_tokens", ["lang"], mode="approx", accuracy=accuracy)
    raw = docs.select("lang", F.col("n_tokens").cast("double").alias("v"))
    chk = raw.join(ap, "lang").groupBy("lang", "pct", "value").agg(
        F.sum((F.col("v") < F.col("value")).cast("long")).alias("cnt_lt"),
        F.sum((F.col("v") <= F.col("value")).cast("long")).alias("cnt_le"),
        F.count(F.lit(1)).alias("n"),
    )
    err = F.greatest(F.lit(1.0), F.ceil(F.col("n") / accuracy).cast("double")) + F.lit(1.0)
    target = F.col("pct") * F.col("n")
    viol = (F.col("cnt_le") < target - err) | ((F.col("cnt_lt") + 1) > target + err)
    return chk.agg(
        F.countDistinct("lang").alias("n_groups"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(viol.cast("long")).alias("n_violations"),
    )


@register(
    "corpus_rebalance_sample",
    oracle=r"""
    WITH per AS (
      SELECT lang,
             CAST(sum(CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(text, '\s+')) ELSE 0 END)
               AS BIGINT) AS total_size
      FROM documents GROUP BY lang),
    w AS (SELECT lang,
                 CASE WHEN total_size > 0 AND sum(total_size) OVER () > 0
                      THEN 1.0 / count(*) FILTER (WHERE total_size > 0) OVER ()
                           / (total_size / CAST(sum(total_size) OVER () AS DOUBLE))
                 END AS weight
          FROM per),
    thr AS (SELECT lang,
                   CASE WHEN weight IS NULL THEN NULL
                        WHEN least(1.0, 0.5 * weight) >= 1.0 THEN 'g'
                        ELSE lpad(lower(to_hex(CAST(floor(
                               least(1.0, 0.5 * weight) * 4294967296.0)
                               AS BIGINT))), 8, '0') END AS t
            FROM w)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr USING (lang)
    WHERE substr(md5('rebal' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t
    """,
    tags=("datapipe", "sampling", "composition"),
)
def corpus_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END mixture rebalancing: the weight PLAN
    (mixture_weights over (lang) token shares) feeds the sampling
    EXECUTION (per-row md5-threshold rule at rate = min(1, 0.5*weight))
    in one composed query — upsampled rare languages keep more of their
    docs, dominant ones are cut. Every step is engine-portable
    (identical double arithmetic, identical md5 rule), so the oracle
    reproduces the EXACT kept set, proving the two tiers compose without
    drift. Scale shape: the weight subplan is one aggregation emitting a
    strata-sized frame (AQE broadcasts it into the join); the filter is
    per-row and fuses into the scan side of the join."""
    from proteus_engine_spark.datapipe.sampling import (
        mixture_weights,
        sample_by_rate_col,
    )
    from proteus_engine_spark.datapipe.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    w = mixture_weights(docs, ["lang"], size_col=token_count("text")).select(
        "lang", "weight"
    )
    joined = docs.join(w, "lang")
    # NULL-weight guard BEFORE the rate cap: least() skips NULLs in both
    # engines, so least(1.0, NULL) would silently become rate 1.0 and keep
    # a zero-size stratum whole — the convention is NULL weight → NULL
    # rate → stratum dropped (mixture_weights docstring).
    rate = F.when(
        F.col("weight").isNotNull(), F.least(F.lit(1.0), F.lit(0.5) * F.col("weight"))
    )
    return sample_by_rate_col(joined, "doc_id", rate, salt="rebal").select(
        "doc_id", "lang"
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text,
                      greatest(1, length(text) // 256) AS n_frames
               FROM documents),
    idx AS (SELECT media_id, text,
                   unnest(range(0, n_frames, 2)) AS frame_idx
            FROM m)
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(length(substring(text, frame_idx * 256 + 1, 256)) AS BIGINT)
             AS frame_len,
           md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5
    FROM idx
    """,
    tags=("datapipe", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: the 1-row -> n-frame fan-out
    through Arrow-batched mapInPandas with an every-2nd-frame stride.
    The stub slices the payload into 256-byte pseudo-frames, so the
    oracle reproduces each emitted frame's length and md5 from the same
    bytes — verifying the fan-out shape, stride arithmetic, and binary
    frame payloads end-to-end."""
    from proteus_engine_spark.datapipe.multimodal import sample_frames

    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    frames = sample_frames(media, every_n=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


@register(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           sqrt(CAST(COALESCE(list_aggregate(
                  [unicode(substring(text, i, 1)) * unicode(substring(text, i, 1))
                   FOR i IN range(1, least(length(text), 1024) + 1)],
                  'sum'), 0) AS DOUBLE)
                / greatest(least(length(text), 1024), 1)) AS rms_energy
    FROM documents
    """,
    tags=("datapipe", "multimodal"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature plumbing: the deterministic fake RMS (byte-squared
    mean over the first 1 KiB) crosses the Arrow batch boundary and the
    oracle recomputes it from the same bytes in SQL (ASCII corpus: code
    point == UTF-8 byte) — the schema contract and batch shape are what
    a real decoder build inherits unchanged."""
    from proteus_engine_spark.datapipe.multimodal import extract_audio_features

    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return extract_audio_features(media)


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           CASE WHEN length(text) = 0
                -- the stub zero-fills an empty payload to the budget:
                -- md5 of 192 NUL bytes (NULs don't survive VARCHAR
                -- repeat portably, so the constant is inlined)
                THEN 'b7dd5e0194ee0ac08a4b802cb73d867f'
                ELSE md5(substring(repeat(text, 192 // length(text) + 1),
                                   1, 192)) END AS resized_md5
    FROM documents
    """,
    tags=("datapipe", "multimodal"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing at a fixed 8x8x3 target: the stub cycles
    the payload to the target byte budget (192), so output partition
    sizes are bounded by the TARGET, never the source — the property
    that makes batch image preprocessing plannable at 100 TB. The
    oracle rebuilds every resized payload's md5 from the same bytes."""
    from proteus_engine_spark.datapipe.multimodal import resize_images

    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return resize_images(media, 8, 8).select(
        "media_id", "width", "height", F.md5("resized").alias("resized_md5")
    )


@register(
    "corpus_vocab_stats",
    oracle=r"""
    WITH counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents)
      GROUP BY term)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(cnt) AS BIGINT) AS n_tokens_total,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_count,
           max(cnt) / CAST(sum(cnt) AS DOUBLE) AS top1_share,
           count(*) / CAST(sum(cnt) AS DOUBLE) AS type_token_ratio
    FROM counts
    """,
    tags=("datapipe", "text", "profiling"),
)
def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus vocabulary profile (vocab size, token total, hapax
    count, top-term share, type-token ratio) — exact integer counts, one
    vocabulary-sized shuffle (datapipe.textstats.vocab_stats)."""
    from proteus_engine_spark.datapipe.textstats import vocab_stats

    return vocab_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_decontaminate_bloom",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
               FROM documents),
    g AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
          FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS grams
          FROM t WHERE len(t) >= 3),
    eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 53 = 0),
    cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 53 <> 0)
    SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM cg JOIN eg USING (gram) GROUP BY cg.doc_id
    """,
    tags=("datapipe", "decontam"),
)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — the runtime-filter
    tier of text_decontaminate (decontam.ngram_overlap_counts_bloom): the
    eval set's gram hashes build a 1 MiB broadcast bitmap, the corpus
    gram stream is pruned map-side by k vectorized numpy bitmap probes
    (positions computed JVM-side; the pandas UDF does pure array
    indexing), and only might-match grams enter the exact hash join. A
    Bloom filter has no false negatives and survivors still pass the
    exact join, so the oracle is the UNCHANGED exact-overlap SQL — a
    hash-collision or bitmap-layout bug on either the build or probe
    side would drop/invent grams and fail the hash. Eval split
    doc_id % 53 (distinct from text_decontaminate's % 97, so both gates
    exercise different overlap sets)."""
    from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts_bloom

    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 53 == 0)
    corpus = docs.filter(F.col("doc_id") % 53 != 0)
    return ngram_overlap_counts_bloom(corpus, eval_set, n=3)


@register(
    "text_decontaminate_fuzzy",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents)
    )
    SELECT doc_id, eval_id, jaccard FROM (
      SELECT c.doc_id AS doc_id, e.doc_id AS eval_id,
             CAST(len(list_intersect(c.s, e.s)) AS DOUBLE)
               / len(list_distinct(list_concat(c.s, e.s))) AS jaccard
      FROM sh c JOIN sh e ON c.doc_id % 10 <> 5 AND e.doc_id % 10 = 5)
    WHERE jaccard >= 0.5
    """,
    tags=("datapipe", "decontam", "dedup"),
)
def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination
    (decontam.fuzzy_overlap_pairs): corpus documents whose doc-level
    shingle Jaccard against some eval document (doc_id % 10 = 5 split —
    chosen so the corpus's planted near-dup pairs CROSS the boundary;
    the % 97 split of text_decontaminate crosses none, which would gate
    an empty output) clears 0.5 — the tier that
    catches paraphrased/reformatted benchmark copies exact n-gram
    overlap misses. Candidates come from a BIPARTITE MinHash band join
    (corpus band keys x eval band keys — corpus self-collisions are
    never generated; the eval side is benchmark-sized, AQE broadcasts
    it), then exact Jaccard verification on candidate docs only.
    Oracle-able on the dedup_minhash_lsh argument: the output is the
    exact-verified tier, and every qualifying cross pair in this corpus
    has J >= 0.9, where 16-band/4-row collision probability is
    1-(1-0.9^4)^16 ~ 1-4e-8 — the oracle computes the full exact
    bipartite pair set and LSH provably misses none of it."""
    from proteus_engine_spark.datapipe.decontam import fuzzy_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 10 == 5)
    corpus = docs.filter(F.col("doc_id") % 10 != 5)
    return fuzzy_overlap_pairs(corpus, eval_set, jaccard_threshold=0.5)


@register(
    "corpus_quality_buckets",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                  FROM documents),
    big AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
            FROM toks WHERE len(t) >= 2),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v2 FROM big),
    scored AS (
      SELECT big.doc_id,
             round(avg(ln((c12.c12 + 0.4) / (c1.c1 + 0.4 * v.v2))), 6) AS logprob
      FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY big.doc_id),
    cuts AS (SELECT quantile_cont(logprob,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
             FROM scored)
    SELECT doc_id, logprob,
           CAST(len(list_filter(cs, c -> c < logprob)) + 1 AS INT) AS bucket
    FROM scored CROSS JOIN cuts
    """,
    tags=("datapipe", "text", "quality"),
)
def corpus_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile assignment over the corpus-LM scores
    (textstats.quality_buckets over textstats.bigram_logprob) — the CCNet
    step after perplexity scoring: split the corpus into equal-frequency
    score buckets and sample training data per bucket. NOT ntile: a
    rank bucketing is an unpartitioned window (single-task sort of the
    corpus, the q11 scale-killer class); instead the 9 exact decile cut
    points come from ONE 1-row partial-aggregating percentile, broadcast
    back, and the bucket is a per-row count of cuts strictly below the
    score. Oracle-exact because Spark `percentile` and DuckDB
    `quantile_cont` share the lower + (upper-lower)*fraction
    interpolation over identical 1e-6-rounded inputs, and the strict-<
    tie rule is mirrored."""
    from proteus_engine_spark.datapipe.textstats import bigram_logprob, quality_buckets

    scored = bigram_logprob(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "logprob"
    )
    return quality_buckets(scored, n_buckets=10)


@register(
    "corpus_chunk_windows",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    n AS (SELECT doc_id, t, len(t) AS nt,
                 1 + CAST(ceil(greatest(nt - 32, 0) / 24.0) AS INT) AS nc
          FROM toks)
    SELECT doc_id, i - 1 AS chunk_id,
           array_to_string(t[(i-1)*24 + 1 : (i-1)*24 + 32], ' ') AS chunk_text,
           CAST(len(t[(i-1)*24 + 1 : (i-1)*24 + 32]) AS INT) AS n_chunk_tokens
    FROM n, LATERAL (SELECT unnest(range(1, nc + 1)) AS i)
    """,
    tags=("datapipe", "text", "chunking"),
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (packing.chunk_documents,
    chunk_size=32 / overlap=8): the context-window splitting step of RAG
    indexing and long-document training prep. Whole-stage-codegen per-row
    expressions (tokenize once, transform over start indices, one
    explode) — zero shuffles, output bounded by total tokens / stride.
    The oracle rebuilds every window with DuckDB list slicing: a
    misplaced start, lost tail chunk, or wrong overlap shifts some
    chunk's text and fails the hash. chunk_id is INT on both sides."""
    from proteus_engine_spark.datapipe.packing import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=32, overlap=8
    )


@register(
    "corpus_shuffle_order",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('ep1' || CAST(doc_id AS VARCHAR)), doc_id) - 1
           AS BIGINT) AS pos
    FROM documents
    """,
    tags=("datapipe", "sampling", "ordering"),
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (sampling.shuffle_order, salt='ep1'):
    every document's position in the md5-induced pseudo-random training
    permutation — reproducible across engines and re-seedable per epoch.
    Engine side is a PARALLEL range-partitioned sort on the digest plus
    the two-phase zip_with_index rank (per-partition counts -> broadcast
    offsets — never a single-task row_number over the corpus); the
    oracle, which is allowed to be naive, is exactly that single
    window."""
    from proteus_engine_spark.datapipe.sampling import shuffle_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shuffle_order(docs, salt="ep1")


@register(
    "text_winnowing_fingerprints",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                  FROM documents),
    g AS (SELECT doc_id,
                 [md5(array_to_string(t[i:i+4], ' '))
                  FOR i IN range(1, len(t) - 5 + 1 + 1)] AS g
          FROM toks WHERE len(t) >= 5)
    SELECT DISTINCT doc_id,
           unnest([list_min(g[j:j+3])
                   FOR j IN range(1, greatest(len(g) - 4 + 1, 1) + 1)])
             AS fingerprint
    FROM g
    """,
    tags=("datapipe", "text", "fingerprint", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local fingerprints (textstats.winnowing_fingerprints,
    k=5 / window=4 — the MOSS plagiarism-detection selection): per-window
    minimum gram hash, distinct per doc, guaranteeing any 8-token run
    shared between two docs yields a shared fingerprint. Zero-shuffle
    per-row JVM expressions; md5 hex grams compared lexicographically on
    both engines, so the oracle rebuilds the exact selected set — an
    off-by-one in gram starts, window starts, or the short-doc boundary
    convention changes some window's minimum and fails the hash."""
    from proteus_engine_spark.datapipe.textstats import winnowing_fingerprints

    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), k=5, window=4
    )


@register(
    "sim_ann_pq",
    oracle="""
    WITH c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                    embedding::DOUBLE[] AS cv
             FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
    sp AS (SELECT unnest(range(4)) AS s),
    cb AS (SELECT sp.s, cent.code, cent.cv[sp.s*16+1 : sp.s*16+16] AS cbv
           FROM cent, sp),
    enc AS (
      SELECT c_id, s, code FROM (
        SELECT c.c_id, cb.s, cb.code,
               row_number() OVER (PARTITION BY c.c_id, cb.s
                 ORDER BY list_sum([ (c.v[cb.s*16+i] - cb.cbv[i])
                                     * (c.v[cb.s*16+i] - cb.cbv[i])
                                     FOR i IN range(1, 17) ]),
                          cb.code) AS rn
        FROM c CROSS JOIN cb) t WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 5),
    adc AS (
      SELECT q.q_id, enc.c_id,
             SUM(list_sum([ (q.qv[enc.s*16+i] - cb.cbv[i])
                            * (q.qv[enc.s*16+i] - cb.cbv[i])
                            FOR i IN range(1, 17) ])) AS a
      FROM q CROSS JOIN enc
      JOIN cb ON cb.s = enc.s AND cb.code = enc.code
      GROUP BY q.q_id, enc.c_id),
    cand AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY a, c_id) AS crk
        FROM adc) t WHERE crk <= 32),
    scored AS (
      SELECT cand.q_id, cand.c_id,
             round(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored QUALIFY rank <= 5
    """,
    tags=("datapipe", "similarity"),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_ann_topk — Jégou et al.
    2011, the FAISS PQ/ADC kernel): 4 subspaces x 16 codes trained on
    the corpus, corpus encoded to 4 small ints per vector in ONE scan
    (codebooks ride the plan as literals — no join, no shuffle), queries
    score candidates via ADC lookup tables, top-32 by (adc, c_id) get an
    exact cosine re-rank, top-5 out. ALGORITHM-MIRROR oracle with the
    sim_ann_ivf discipline: n_iter=0 makes every codebook exactly the
    subvector slices of the 16 lowest-id vectors, so DuckDB reproduces
    training, encoding (argmin + lowest-code tie-break), the ADC
    candidate cut, and the re-rank. ADC floats order candidates but
    never reach the output — emitted cos_sim is exact. The Lloyd-refined
    codebooks (n_iter>=1) are the production path, recall-tested in
    pytest."""
    from proteus_engine_spark.datapipe.similarity import pq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), vec.alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    return pq_ann_topk(
        queries, corpus, dim=64, k=5, m_subspaces=4, n_codes=16,
        n_iter=0, n_candidates=32,
    )


@register(
    "sim_ann_ivfpq",
    oracle="""
    WITH c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl_id,
                    embedding::DOUBLE[] AS cv
             FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
    assign AS (
      SELECT c_id, v, cl_id AS cell FROM (
        SELECT c.c_id, c.v, cent.cl_id,
               row_number() OVER (PARTITION BY c.c_id
                 ORDER BY list_distance(c.v, cent.cv), cent.cl_id) AS rn
        FROM c CROSS JOIN cent) t WHERE rn = 1),
    sp AS (SELECT unnest(range(4)) AS s),
    cb AS (SELECT sp.s, cent.cl_id AS code, cent.cv[sp.s*16+1 : sp.s*16+16] AS cbv
           FROM cent, sp),
    enc AS (
      SELECT c_id, s, code FROM (
        SELECT c.c_id, cb.s, cb.code,
               row_number() OVER (PARTITION BY c.c_id, cb.s
                 ORDER BY list_sum([ (c.v[cb.s*16+i] - cb.cbv[i])
                                     * (c.v[cb.s*16+i] - cb.cbv[i])
                                     FOR i IN range(1, 17) ]),
                          cb.code) AS rn
        FROM c CROSS JOIN cb) t WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 5),
    qcells AS (
      SELECT q_id, cl_id AS cell FROM (
        SELECT q.q_id, cent.cl_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_distance(q.qv, cent.cv), cent.cl_id) AS rn
        FROM q CROSS JOIN cent) t WHERE rn <= 4),
    adc AS (
      SELECT q.q_id, assign.c_id,
             SUM(list_sum([ (q.qv[enc.s*16+i] - cb.cbv[i])
                            * (q.qv[enc.s*16+i] - cb.cbv[i])
                            FOR i IN range(1, 17) ])) AS a
      FROM q JOIN qcells USING (q_id)
      JOIN assign ON assign.cell = qcells.cell
      JOIN enc ON enc.c_id = assign.c_id
      JOIN cb ON cb.s = enc.s AND cb.code = enc.code
      GROUP BY q.q_id, assign.c_id),
    cand AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY a, c_id) AS crk
        FROM adc) t WHERE crk <= 32),
    scored AS (
      SELECT cand.q_id, cand.c_id,
             round(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored QUALIFY rank <= 5
    """,
    tags=("datapipe", "similarity"),
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed (similarity.ivfpq_ann_topk): the coarse quantizer
    prunes WHICH rows are scored (4 of 16 cells probed), PQ's ADC tables
    shrink WHAT scoring a row costs, exact cosine re-ranks the 32 best.
    The oracle is the sim_ann_ivf mirror composed with the sim_ann_pq
    mirror — cells, probe set, codes, ADC cut and re-rank all rebuilt in
    SQL from the same 16 lowest-id seed vectors (n_iter=0 discipline);
    the Lloyd production path is recall-pytested."""
    from proteus_engine_spark.datapipe.similarity import ivfpq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), vec.alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    return ivfpq_ann_topk(
        queries, corpus, dim=64, k=5, n_centroids=16, n_probe=4,
        m_subspaces=4, n_codes=16, n_iter=0, n_candidates=32,
    )


@register(
    "corpus_interleave_weighted",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5('ep1' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rg
      FROM documents),
    v AS (SELECT doc_id, source,
                 (rg + 1) / (1.0 + CAST(substr(source, 4) AS INT) % 4) AS vt
          FROM r)
    SELECT doc_id, source,
           CAST(row_number() OVER (ORDER BY vt, source, doc_id) - 1 AS BIGINT)
             AS pos
    FROM v
    """,
    tags=("datapipe", "sampling", "ordering"),
)
def corpus_interleave_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic corpus interleave
    (sampling.interleave_by_weight): sources paced into one training
    stream by virtual time (rank_in_source + 1) / weight — weight
    1 + (source index mod 4), derived identically by both engines — with
    the md5 epoch shuffle inside each source. The engine computes
    rank-in-source WITHOUT a per-source window (a whole source in one
    task at 100 TB): global (source, digest) range sort + two-phase rank
    minus broadcast per-source offsets; the oracle, allowed to be naive,
    uses the partitioned window directly."""
    from proteus_engine_spark.datapipe.sampling import interleave_by_weight

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sources = [r.source for r in docs.select("source").distinct().collect()]
    weights = {s: 1.0 + int(s[3:]) % 4 for s in sources}
    return interleave_by_weight(docs, "source", weights, salt="ep1")


@register(
    "corpus_token_budget_sample",
    oracle=r"""
    WITH t AS (SELECT doc_id, source,
                      CASE WHEN length(trim(text)) > 0
                           THEN len(string_split_regex(text, '\s+'))
                           ELSE 0 END AS sz
               FROM documents),
    c AS (SELECT doc_id, source, sz,
                 SUM(sz) OVER (PARTITION BY source
                   ORDER BY md5('q1' || CAST(doc_id AS VARCHAR)), doc_id) AS cs
          FROM t)
    SELECT doc_id, source, CAST(cs AS BIGINT) AS group_cumsum
    FROM c
    WHERE cs <= 600 + (CAST(substr(source, 4) AS INT) % 4) * 300
    """,
    tags=("datapipe", "sampling"),
)
def corpus_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-quota mixture materialization
    (sampling.sample_to_token_budget): per source, keep the maximal
    epoch-shuffled prefix whose inclusive token cumsum fits the source's
    budget (600 + 300·(source index mod 4) — derived identically by both
    engines) — the absolute-quota tier completing mixture_weights (plan)
    and stratified/rebalance (rates). Engine side computes the
    within-group cumsum with the pack_sequences two-phase prefix sum
    (range partition + broadcast partition offsets + broadcast group
    bases) — never a data-sized window; the oracle uses the naive
    per-source window cumsum."""
    from proteus_engine_spark.datapipe.sampling import sample_to_token_budget
    from proteus_engine_spark.datapipe.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    sources = [r.source for r in docs.select("source").distinct().collect()]
    budgets = {s: 600 + (int(s[3:]) % 4) * 300 for s in sources}
    return sample_to_token_budget(
        docs.select("doc_id", "source", "text"),
        "source",
        budgets,
        size_col=token_count("text"),
        salt="q1",
    ).select("doc_id", "source", "group_cumsum")


@register(
    "dedup_exact_normalized",
    oracle=r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("datapipe", "dedup", "text"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup — the tier between byte-exact md5 dedup and
    MinHash near-dup: documents canonicalize (lowercase, punctuation to
    spaces, collapsed whitespace — textstats.normalize_text, the C4-style
    pre-dedup cleanup) and the standard keep-lowest-id digest dedup runs
    on the canonical form. Catches case/punctuation/layout-only
    duplicates that byte-exact dedup misses, at byte-exact cost: the
    normalization fuses into the scan projection and the shuffle still
    carries only (digest, id). Oracle mirrors the regexp chain (DuckDB
    needs the 'g' flag for replace-ALL; Spark's regexp_replace is global
    by default)."""
    from proteus_engine_spark.datapipe.dedup import exact_dedup
    from proteus_engine_spark.datapipe.textstats import normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", normalize_text("text").alias("text")
    )
    return exact_dedup(docs)


# The Gopher rule SQL, shared VERBATIM by the batch gate
# (text_gopher_rules) and the streaming gate (stream_gopher_filter):
# both oracles interpolate this single constant, so a threshold or
# regex fix cannot reach one gate and miss the other — the exact
# batch/stream drift the streaming gate exists to catch.
_GOPHER_RULES_CTE = r"""
    base AS (
      SELECT doc_id, source, text,
             string_split_regex(lower(text), '\s+') AS t,
             string_split(text, chr(10)) AS ln,
             length(trim(text)) > 0 AS nonempty
      FROM documents),
    feat AS (
      SELECT doc_id, source,
        CAST(CASE WHEN nonempty THEN len(t) ELSE 0 END AS BIGINT) AS n_tokens,
        CAST(CASE WHEN nonempty
             THEN COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
             ELSE 0 END AS BIGINT) AS sum_word_len,
        CAST(CASE WHEN nonempty
             THEN len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
             ELSE 0 END AS BIGINT) AS n_alpha_words,
        CAST(len(list_filter(t, x -> list_contains(
             ['the','be','to','of','and','that','have','with'], x)))
          AS BIGINT) AS n_stop_hits,
        CAST(len(ln) AS BIGINT) AS n_lines,
        CAST(len(list_filter(ln, x -> regexp_matches(x, '^\s*[-*•]')))
          AS BIGINT) AS n_bullet,
        CAST(len(list_filter(ln, x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
          AS BIGINT) AS n_ell,
        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        CAST(len(regexp_extract_all(text, '\.\.\.|…')) AS BIGINT) AS n_dots
      FROM base),
    verdicts AS (
      SELECT *,
        (r_word_count AND r_mean_word_len AND r_symbol_ratio
         AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
         AND r_stopwords) AS passes
      FROM (
        SELECT *,
          (n_tokens >= 50 AND n_tokens <= 100000) AS r_word_count,
          (sum_word_len >= 3*n_tokens AND sum_word_len <= 10*n_tokens
           AND n_tokens > 0) AS r_mean_word_len,
          (10*n_hash < n_tokens AND 10*n_dots < n_tokens) AS r_symbol_ratio,
          (10*n_bullet <= 9*n_lines) AS r_bullet_lines,
          (10*n_ell <= 3*n_lines) AS r_ellipsis_lines,
          (10*n_alpha_words >= 8*n_tokens AND n_tokens > 0) AS r_alpha_words,
          (n_stop_hits >= 2) AS r_stopwords
        FROM feat) r)
"""


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH {_GOPHER_RULES_CTE}
    SELECT doc_id, n_tokens, sum_word_len, n_alpha_words, n_stop_hits,
           r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
           r_ellipsis_lines, r_alpha_words, r_stopwords, passes
    FROM verdicts
    """,
    tags=("datapipe", "text", "quality"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher heuristic quality filter (textstats.gopher_quality_flags —
    Rae et al. 2021 Appendix A1.1): the seven-rule document filter that
    fronts a pre-training pipeline, with every ratio threshold evaluated
    as an integer cross-multiplication so no float comparison exists to
    drift between engines. Zero shuffles — the whole rule set fuses into
    the parquet scan. The counters ride along in the output, so the hash
    pins the tokenizer, the line splitter, and each rule's boundary
    convention (<= at the 90%/30% caps, < at the 10% symbol cap), not
    just the final pass bit."""
    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags

    return gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@register(
    "corpus_dsir_select",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS is_t,
             unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    tb AS (SELECT doc_id, is_t, substr(md5(tok), 1, 2) AS b,
                  CAST(count(*) AS BIGINT) AS n
           FROM toks GROUP BY 1, 2, 3),
    model AS (SELECT b, sum(n) AS cr,
                     sum(CASE WHEN is_t THEN n ELSE 0 END) AS ct
              FROM tb GROUP BY b),
    tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
    m2 AS (SELECT b, ln(((ct + 1.0) / (nt + 256.0))
                        / ((cr + 1.0) / (nr + 256.0))) AS lr
           FROM model CROSS JOIN tot),
    sc AS (SELECT tb.doc_id, CAST(sum(tb.n) AS BIGINT) AS n_tokens,
                  round(sum(tb.n * m2.lr) / sum(tb.n), 6) AS dsir_score
           FROM tb JOIN m2 USING (b) GROUP BY tb.doc_id),
    nn AS (SELECT ceil(count(*) * 0.25) AS k FROM sc)
    SELECT doc_id, n_tokens, dsir_score,
           CAST(row_number() OVER (ORDER BY dsir_score DESC, doc_id)
                AS BIGINT) AS sel_rank
    FROM sc CROSS JOIN nn
    QUALIFY sel_rank <= k
    """,
    tags=("datapipe", "sampling", "quality"),
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (sampling.dsir_select — Xie et al. 2023):
    top-25% of the corpus by hashed-unigram importance weight toward the
    'src0' target domain. The 256 md5-prefix STRING buckets make the
    feature hash engine-portable; scores round to 1e-6 before the rank,
    so the oracle's naive window reproduces the engine's parallel
    two-phase rank exactly (ties break on doc_id). Engine side never
    single-tasks: (doc, bucket) counts are the only corpus-sized
    shuffle, the model and its totals are broadcast, the selection
    cut-off is a 1-row broadcast, and the rank is the zip_with_index
    two-phase scheme over a range sort."""
    from proteus_engine_spark.datapipe.sampling import dsir_select

    return dsir_select(
        load_table(spark, sf_dir, "documents"), target=F.col("source") == "src0"
    )


@register(
    "sim_ann_sq8",
    oracle="""
    WITH c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v FROM embeddings),
    mm AS (SELECT p, min(v[p]) AS lo, max(v[p]) AS hi
           FROM c CROSS JOIN (SELECT unnest(range(1, 65)) AS p) GROUP BY p),
    mml AS (SELECT list(lo ORDER BY p) AS lo,
                   list((hi - lo) / 256.0 ORDER BY p) AS st
            FROM mm),
    enc AS (SELECT c_id,
                   [ CASE WHEN mml.st[i] > 0
                          THEN least(255, greatest(0,
                               CAST(floor((v[i] - mml.lo[i]) / mml.st[i]) AS INT)))
                          ELSE 0 END
                     FOR i IN range(1, 65) ] AS codes
            FROM c CROSS JOIN mml),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 5),
    adc AS (SELECT q.q_id, enc.c_id,
                   list_sum([ (q.qv[i] - (mml.lo[i] + (enc.codes[i] + 0.5) * mml.st[i]))
                              * (q.qv[i] - (mml.lo[i] + (enc.codes[i] + 0.5) * mml.st[i]))
                              FOR i IN range(1, 65) ]) AS a
            FROM q CROSS JOIN enc CROSS JOIN mml),
    cand AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY a, c_id) AS crk
        FROM adc) t WHERE crk <= 32),
    scored AS (
      SELECT cand.q_id, cand.c_id,
             round(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM cand JOIN q USING (q_id) JOIN c USING (c_id))
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored QUALIFY rank <= 5
    """,
    tags=("datapipe", "similarity"),
)
def sim_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (similarity.sq8_ann_topk — FAISS
    QT_8bit): per-dimension (min, (max-min)/256) trained exactly from
    the corpus, uint8 encoding in one scan, asymmetric scoring against
    reconstruction centers, top-32 candidate cut, exact cosine re-rank,
    top-5 out. FULL algorithm-mirror oracle — unlike PQ there is no
    k-means, so the oracle reproduces training too (min/max are exact),
    plus encoding (identical floor/clamp arithmetic), the candidate cut,
    and the re-rank. Approx distances order candidates but never reach
    the output; emitted cos_sim is exact."""
    from proteus_engine_spark.datapipe.similarity import sq8_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), vec.alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    return sq8_ann_topk(queries, corpus, dim=64, k=5, n_candidates=32)


@register(
    "stream_gopher_filter",
    oracle=f"""
    WITH {_GOPHER_RULES_CTE}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN r_word_count THEN 1 ELSE 0 END) AS BIGINT)
             AS n_word_count_ok,
           CAST(sum(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
             AS n_stopwords_ok,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM verdicts GROUP BY source
    """,
    tags=("datapipe", "streaming", "quality"),
)
def stream_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE ingest quality filtering — the Gopher rule set applied to a
    document STREAM (the file-monitor source over documents.parquet, the
    readFile(PROCESS_CONTINUOUSLY) bridge every stream_* gate uses), with
    per-source pass/fail accounting as a continuous unbounded aggregate
    in complete mode. This is the shape of a training-data ingest
    firehose: rules evaluate per micro-batch inside the scan projection
    (stateless — the SAME gopher_quality_flags expression tree as the
    batch gate), and only the per-source counter state persists. The
    oracle recomputes the rules + rollup over the batch table, so a rule
    drifting between the batch and streaming paths fails the hash."""
    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags
    from proteus_engine_spark.streaming.sources import file_stream, run_stream

    raw = file_stream(spark, sf_dir, "documents.parquet")
    flags = gopher_quality_flags(raw, carry_cols=("source",))
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("passes").cast("long")).alias("n_pass"),
        F.sum(F.col("r_word_count").cast("long")).alias("n_word_count_ok"),
        F.sum(F.col("r_stopwords").cast("long")).alias("n_stopwords_ok"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return run_stream(
        agg, "stream_gopher_filter_sink", sf_dir, "documents", output_mode="complete"
    )[0]


@register(
    "corpus_bpe_merges",
    oracle=None,  # iterative argmax-dependent rewrites are not
    # SQL-expressible (each step's pair depends on the previous step's
    # rewritten vocabulary); correctness is pinned by the bitwise
    # pure-Python mirror in tests/test_round13.py instead — the ALS/SVM
    # rows-only discipline.
    tags=("datapipe", "text", "tokenizer"),
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (datapipe.bpe.bpe_train — Sennrich et al.
    2016): the first 8 learned merges over the documents corpus, in
    order, with their weighted pair counts. ONE corpus pass (the word
    count); every iteration is vocabulary-sized with a 1-row driver
    sync. Rows-only by design — see oracle note."""
    from proteus_engine_spark.datapipe.bpe import bpe_train, merges_frame

    merges = bpe_train(load_table(spark, sf_dir, "documents"), n_merges=8)
    return merges_frame(spark, merges)


# Fixed merge table for the BPE ENCODE gate: the gate verifies the
# APPLICATION path (bpe_segment's fold mechanics) under hash grade, so
# the merges are literals — corpus-independent, valid at every SF. The
# LEARNED table is corpus_bpe_merges' rows-only job.
_BPE_GATE_MERGES = [
    ("e", "</w>"), ("t", "a"), ("s", "</w>"), ("ta", "b"), ("q", "u"),
    ("th", "e</w>"),
]


@register(
    "corpus_bpe_token_counts",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
               FROM documents WHERE length(trim(text)) > 0),
    w AS (SELECT doc_id, unnest(t) AS w FROM t),
    rep AS (SELECT doc_id,
                   chr(1) || array_to_string(
                     list_append(regexp_extract_all(w, '.'), '</w>'),
                     chr(1) || chr(1)) || chr(1) AS s
            FROM w),
    merged AS (SELECT doc_id,
      replace(replace(replace(replace(replace(replace(s,
        chr(1)||'e'||chr(1)||chr(1)||'</w>'||chr(1), chr(1)||'e</w>'||chr(1)),
        chr(1)||'t'||chr(1)||chr(1)||'a'||chr(1),    chr(1)||'ta'||chr(1)),
        chr(1)||'s'||chr(1)||chr(1)||'</w>'||chr(1), chr(1)||'s</w>'||chr(1)),
        chr(1)||'ta'||chr(1)||chr(1)||'b'||chr(1),   chr(1)||'tab'||chr(1)),
        chr(1)||'q'||chr(1)||chr(1)||'u'||chr(1),    chr(1)||'qu'||chr(1)),
        chr(1)||'th'||chr(1)||chr(1)||'e</w>'||chr(1), chr(1)||'the</w>'||chr(1))
      AS s FROM rep)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum((length(s) - length(replace(s, chr(1), ''))) / 2)
             AS BIGINT) AS n_subwords
    FROM merged GROUP BY doc_id
    """,
    tags=("datapipe", "text", "tokenizer"),
)
def corpus_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE path under hash grade: a fixed six-merge table
    (including a second-order merge, th + e</w>, that only exists
    because earlier merges created its operands) segments every corpus
    word via bpe_segment's Catalyst folds, and the gate emits per-doc
    word/subword counts. The oracle applies the SAME merges through a
    DIFFERENT mechanism — each word rendered as \\x01-delimited symbols
    (\\x01sym\\x01 concatenated) and each merge as one string replace of
    \\x01l\\x01\\x01r\\x01 with \\x01lr\\x01, which is exactly greedy
    left-to-right non-overlapping — so a fold bug cannot hide behind a
    mirrored fold. Zero shuffles on the engine side beyond the final
    per-doc aggregation of an already-per-doc expression (scan-fused
    segmentation)."""
    from proteus_engine_spark.datapipe.bpe import Merge, bpe_segment

    merges = [
        Merge(i, l, r, l + r, 0) for i, (l, r) in enumerate(_BPE_GATE_MERGES)
    ]
    c = F.col("text")
    toks = F.split(F.lower(c), r"\s+")
    n_words = F.size(toks).cast("long")
    n_sub = F.aggregate(
        F.transform(toks, lambda w: F.size(bpe_segment(w, merges)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(c)) > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            n_sub.alias("n_subwords"),
        )
    )


@register(
    "corpus_source_report",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source, text,
             CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(lower(text), '\s+'))
                  ELSE 0 END AS n_tokens,
             md5(text) AS digest
      FROM documents),
    dup AS (SELECT digest, count(*) AS cnt FROM t GROUP BY digest),
    g AS (
      SELECT doc_id, source,
             string_split_regex(lower(text), '\s+') AS tk,
             length(trim(text)) > 0 AS nonempty
      FROM documents),
    gf AS (
      SELECT doc_id, source,
        CAST(CASE WHEN nonempty THEN len(tk) ELSE 0 END AS BIGINT) AS ntok,
        CAST(CASE WHEN nonempty
             THEN COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
             ELSE 0 END AS BIGINT) AS swl,
        CAST(CASE WHEN nonempty
             THEN len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
             ELSE 0 END AS BIGINT) AS nalpha,
        CAST(len(list_filter(tk, x -> list_contains(
             ['the','be','to','of','and','that','have','with'], x)))
          AS BIGINT) AS nstop
      FROM g),
    gp AS (
      SELECT doc_id,
        (ntok >= 50 AND ntok <= 100000
         AND swl >= 3*ntok AND swl <= 10*ntok AND ntok > 0
         AND 10*nalpha >= 8*ntok
         AND nstop >= 2) AS passes
      FROM gf)
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN gp.passes THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gopher_pass,
           CAST(sum(CASE WHEN dup.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs
    FROM t JOIN dup USING (digest) JOIN gp USING (doc_id)
    GROUP BY t.source
    """,
    tags=("datapipe", "text", "report"),
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pipeline health report — the operational rollup every
    ingest pipeline dashboards: document count, whitespace token mass,
    Gopher pass count, and byte-exact duplicate count, per source, in
    one composed query. The corpus is scanned ONCE for the per-doc
    features; the only extra movement is the (16-byte digest, source)
    duplicate-count aggregation joined back by digest. The simple-text
    ruleset here drops the line-level and symbol rules (the corpus has
    no newlines; the oracle mirrors exactly what the engine composes:
    word-count, mean-word-length, alpha-word, stopword rules)."""
    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs, carry_cols=("source", "text"))
    per_doc = flags.select(
        "doc_id",
        "source",
        "n_tokens",
        # the four text-level rules (line/symbol rules excluded — see doc)
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_alpha_words")
            & F.col("r_stopwords")
        ).alias("passes"),
        F.md5("text").alias("digest"),
    )
    dup = per_doc.groupBy("digest").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_doc.join(dup, "digest")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("passes").cast("long")).cast("long").alias("n_gopher_pass"),
            F.sum((F.col("cnt") > 1).cast("long")).cast("long").alias("n_dup_docs"),
        )
    )


@register(
    "text_bm25_topk",
    oracle=r"""
    WITH q(query_id, term) AS (VALUES
      (CAST(0 AS BIGINT), 'table'), (0, 'scan'), (0, 'filter'),
      (CAST(1 AS BIGINT), 'stream'), (1, 'window'), (1, 'agg'),
      (CAST(2 AS BIGINT), 'hash'), (2, 'join'), (2, 'merge'), (2, 'batch')),
    qdf AS (SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
            FROM q GROUP BY query_id, term),
    toks AS (SELECT doc_id,
                    unnest(string_split_regex(lower(text), '\s+')) AS term
             FROM documents),
    dl AS (SELECT doc_id,
                  CASE WHEN length(trim(text)) > 0
                       THEN CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                       ELSE 0 END AS dl
           FROM documents),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE term IN (SELECT term FROM qdf)
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    scored AS (
      SELECT qdf.query_id, tf.doc_id,
             round(sum(qdf.qtf
                       * ln(1.0 + (stats.n_docs - dfreq.df + 0.5)
                                  / (dfreq.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
                   6) AS score
      FROM tf JOIN dfreq USING (term) JOIN qdf USING (term)
              JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
      GROUP BY qdf.query_id, tf.doc_id),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
               FROM scored)
    SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 10
    """,
    tags=("datapipe", "text", "retrieval", "bench"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 batch retrieval (textstats.bm25_topk): top-10 documents
    per query for three fixed queries, Lucene idf variant, k1=1.2 b=0.75,
    query-term-frequency weighting, rounded-then-ranked scores with
    doc-id tie-break. The oracle rebuilds the identical scorer in SQL —
    a drifted df, a lost length normalization, or a wrong idf floor all
    fail the hash. The query-term table broadcasts into the token stream
    BEFORE aggregation so the tf shuffle carries only candidate
    postings.

    r17 optimization: the doc-length frame is precomputed once through
    the module's own ``doc_lengths`` + localCheckpoint path (the
    documented repeated-retrieval pattern): without it the lazy ``dl``
    subplan is referenced three times (avgdl aggregate, N aggregate,
    scoring join) and the corpus tokenize-and-count ran up to three
    times per action. Values are identical — the checkpoint only pins
    the frame."""
    from proteus_engine_spark.datapipe.textstats import bm25_topk, doc_lengths

    docs = load_table(spark, sf_dir, "documents")
    dl = doc_lengths(docs).localCheckpoint(eager=True)
    return bm25_topk(
        docs,
        ["table scan filter", "stream window agg", "hash join merge batch"],
        k=10,
        doc_lengths=dl,
    )


@register(
    "text_nb_source_classify",
    oracle=r"""
    WITH train AS (SELECT source, text FROM documents WHERE doc_id % 10 < 8),
    ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
    n_train AS (SELECT count(*) AS n FROM train),
    priors AS (SELECT source,
                      CAST(round(ln(count(*) * 1.0 / n_train.n) * 1000000, 0)
                           AS BIGINT) AS prior_micro
               FROM train CROSS JOIN n_train GROUP BY source, n_train.n),
    ttok AS (SELECT source,
                    unnest(string_split_regex(lower(text), '\s+')) AS term
             FROM train),
    ct AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_ct
           FROM ttok GROUP BY source, term),
    vocab AS (SELECT DISTINCT term FROM ct),
    nc AS (SELECT source, sum(n_ct) AS n_c FROM ct GROUP BY source),
    v1 AS (SELECT count(*) AS v FROM vocab),
    dense AS (SELECT nc.source, vocab.term,
                     CAST(round(ln((coalesce(ct.n_ct, 0) + 1.0)
                                   / (nc.n_c + 1.0 * v1.v)) * 1000000, 0)
                          AS BIGINT) AS loglik_micro
              FROM vocab CROSS JOIN nc CROSS JOIN v1
              LEFT JOIN ct ON ct.term = vocab.term AND ct.source = nc.source),
    etf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                         unnest(string_split_regex(lower(text), '\s+')) AS term
                  FROM ev)
            GROUP BY doc_id, term),
    scores AS (SELECT doc_id, source, sum(tf * loglik_micro) AS lik_sum
               FROM etf JOIN dense USING (term) GROUP BY doc_id, source),
    fulls AS (SELECT e.doc_id, p.source,
                     coalesce(s.lik_sum, 0) + p.prior_micro AS score_micro
              FROM (SELECT doc_id FROM ev) e CROSS JOIN priors p
              LEFT JOIN scores s
                ON s.doc_id = e.doc_id AND s.source = p.source),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY doc_id ORDER BY score_micro DESC, source ASC)
                 AS rk
               FROM fulls)
    SELECT doc_id, source AS predicted, CAST(score_micro AS BIGINT) AS score_micro
    FROM ranked WHERE rk = 1
    """,
    tags=("datapipe", "text", "classify"),
)
def text_nb_source_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus classification (datapipe.classify): a
    multinomial Naive Bayes source classifier trained on the doc_id%10<8
    split by pure aggregation (priors = doc counts, likelihoods =
    (class, token) counts, add-1 smoothing, DENSE over vocab × classes)
    and applied to the held-out %10>=8 split — the fastText-classifier
    stage of a CCNet-style quality/domain filter, expressed as the
    DATA-PATH tier the reference's pipeline runs inline. Every model
    log-probability is quantized ONCE to integer micro-nats, so
    per-document scores are exact integer sums — accumulation order
    cannot move them — and argmax ties break by ascending class. The
    oracle retrains the identical model in SQL."""
    from proteus_engine_spark.datapipe.classify import nb_classify, nb_token_model

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ev = docs.filter(F.col("doc_id") % 10 >= 8)
    priors, lik = nb_token_model(train, class_col="source")
    return nb_classify(ev, priors, lik, class_col="source")


@register(
    "classify_calibration_bins",
    oracle=r"""
    WITH train AS (SELECT source, text FROM documents WHERE doc_id % 10 < 8),
    ev AS (SELECT doc_id, text, source AS true_src
           FROM documents WHERE doc_id % 10 >= 8),
    n_train AS (SELECT count(*) AS n FROM train),
    priors AS (SELECT source,
                      CAST(round(ln(count(*) * 1.0 / n_train.n) * 1000000, 0)
                           AS BIGINT) AS prior_micro
               FROM train CROSS JOIN n_train GROUP BY source, n_train.n),
    ttok AS (SELECT source,
                    unnest(string_split_regex(lower(text), '\s+')) AS term
             FROM train),
    ct AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_ct
           FROM ttok GROUP BY source, term),
    vocab AS (SELECT DISTINCT term FROM ct),
    nc AS (SELECT source, sum(n_ct) AS n_c FROM ct GROUP BY source),
    v1 AS (SELECT count(*) AS v FROM vocab),
    dense AS (SELECT nc.source, vocab.term,
                     CAST(round(ln((coalesce(ct.n_ct, 0) + 1.0)
                                   / (nc.n_c + 1.0 * v1.v)) * 1000000, 0)
                          AS BIGINT) AS loglik_micro
              FROM vocab CROSS JOIN nc CROSS JOIN v1
              LEFT JOIN ct ON ct.term = vocab.term AND ct.source = nc.source),
    etf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                         unnest(string_split_regex(lower(text), '\s+')) AS term
                  FROM ev)
            GROUP BY doc_id, term),
    scores AS (SELECT doc_id, source, sum(tf * loglik_micro) AS lik_sum
               FROM etf JOIN dense USING (term) GROUP BY doc_id, source),
    fulls AS (SELECT e.doc_id, p.source,
                     CAST(coalesce(s.lik_sum, 0) + p.prior_micro AS BIGINT)
                       AS score_micro
              FROM (SELECT doc_id FROM ev) e CROSS JOIN priors p
              LEFT JOIN scores s
                ON s.doc_id = e.doc_id AND s.source = p.source),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY doc_id ORDER BY score_micro DESC, source ASC)
                 AS rk
               FROM fulls),
    top2 AS (SELECT doc_id,
                    max(CASE WHEN rk = 1 THEN source END) AS predicted,
                    max(CASE WHEN rk = 1 THEN score_micro END)
                  - coalesce(max(CASE WHEN rk = 2 THEN score_micro END),
                             max(CASE WHEN rk = 1 THEN score_micro END))
                      AS margin_micro
             FROM ranked WHERE rk <= 2 GROUP BY doc_id),
    lab AS (SELECT t.doc_id, t.predicted, t.margin_micro, ev.true_src
            FROM top2 t JOIN ev USING (doc_id)),
    cuts AS (SELECT quantile_cont(margin_micro,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
             FROM lab),
    binned AS (SELECT lab.*,
                      CAST(len(list_filter(cs, c -> c < margin_micro)) + 1
                           AS INT) AS bin
               FROM lab CROSS JOIN cuts),
    agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN predicted = true_src THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct,
                   CAST(sum(margin_micro) AS BIGINT) AS msum
            FROM binned GROUP BY bin)
    SELECT bin, n_docs, n_correct,
           (100 * n_correct) // n_docs AS acc_pct,
           msum // n_docs AS avg_margin_micro
    FROM agg
    """,
    tags=("datapipe", "text", "classify", "calibration"),
)
def classify_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CALIBRATION gate (classify.nb_margin_calibration): the
    same NB source classifier as text_nb_source_classify, but instead of
    the argmax the gate buckets the held-out docs into equal-frequency
    deciles of the top-1 − top-2 score MARGIN (the exact-integer NB
    confidence stand-in) and reports per-bin accuracy against the true
    labels — the reliability-diagram check a CCNet-style quality filter
    runs before trusting a classifier threshold. Deterministic end to
    end: integer micro-nat scores, integer margins (class-asc tie-break
    on the top-2 ranking), percentile-cut bin edges from ONE 1-row
    broadcast aggregate (quality_buckets' never-ntile discipline — the
    only window is the per-doc top-2 ranking over an enum-sized class
    frame), integer-division accuracy. The oracle retrains the identical
    model in SQL and mirrors margin, cuts, and bins."""
    from proteus_engine_spark.datapipe.classify import (
        nb_margin_calibration,
        nb_token_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 < 8)
    ev = docs.filter(F.col("doc_id") % 10 >= 8)
    priors, lik = nb_token_model(train, class_col="source")
    return nb_margin_calibration(ev, priors, lik, label_col="source")


@register(
    "dedup_incremental",
    oracle=r"""
    WITH corpus AS (SELECT DISTINCT md5(text) AS content_hash
                    FROM documents WHERE doc_id % 2 = 0),
    batch AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
                     CAST(count(*) AS BIGINT) AS n_batch_copies
              FROM documents WHERE doc_id % 3 = 0
              GROUP BY md5(text))
    SELECT b.content_hash, b.keep_id, b.n_batch_copies
    FROM batch b ANTI JOIN corpus c USING (content_hash)
    """,
    tags=("datapipe", "dedup"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (dedup.incremental_dedup): a simulated
    re-ingest batch (doc_id % 3 = 0) deduped against the existing corpus
    (doc_id % 2 = 0) — digests whose text already exists in the corpus
    drop via a 16-byte-key LEFT ANTI join (the doc_id % 6 = 0 cohort
    guarantees both the drop and the survive branch fire at every SF);
    within-batch copies collapse to the smallest id. Shuffles (digest,
    id) pairs only, never text."""
    from proteus_engine_spark.datapipe.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 2 == 0),
    )


@register(
    "corpus_ngram_diversity",
    oracle=r"""
    WITH toks AS (SELECT source, string_split_regex(lower(text), '\s+') AS t
                  FROM documents WHERE length(trim(text)) > 0),
    g1 AS (SELECT source, CAST(1 AS INTEGER) AS n, unnest(t) AS gram
           FROM toks WHERE len(t) >= 1),
    g2 AS (SELECT source, CAST(2 AS INTEGER) AS n,
                  unnest(list_transform(generate_series(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1])) AS gram
           FROM toks WHERE len(t) >= 2),
    g3 AS (SELECT source, CAST(3 AS INTEGER) AS n,
                  unnest(list_transform(generate_series(1, len(t) - 2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    AS gram
           FROM toks WHERE len(t) >= 3),
    allg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
    counted AS (SELECT source, n, gram, CAST(count(*) AS BIGINT) AS c
                FROM allg GROUP BY source, n, gram)
    SELECT source, n, CAST(sum(c) AS BIGINT) AS total_ngrams,
           CAST(count(*) AS BIGINT) AS distinct_ngrams,
           round(count(*) * 1.0 / sum(c), 6) AS distinct_ratio
    FROM counted GROUP BY source, n
    """,
    tags=("datapipe", "text", "quality"),
)
def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity (textstats.ngram_diversity): distinct-n
    over total-n for n = 1..3 — the distinct-n / rep-n repetitiveness
    metric (Li et al. 2016) that flags templated/looping sources before
    training. Within-document grams only; exact integer counts with one
    tokenize pass and a two-level (group, gram) aggregate — never a
    countDistinct expansion. The oracle regenerates the same string grams
    via list_transform windows."""
    from proteus_engine_spark.datapipe.textstats import ngram_diversity

    return ngram_diversity(load_table(spark, sf_dir, "documents"))


@register(
    "sim_knn_classify",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id % 10 >= 8),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec, label
          FROM embeddings WHERE vec_id % 10 < 8),
    scored AS (
      SELECT q_id, c_id, label,
             round(list_dot_product(q_vec, c_vec)
                   / (sqrt(list_dot_product(q_vec, q_vec))
                      * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos_sim
      FROM q, c),
    topk AS (SELECT *, row_number() OVER
               (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
             FROM scored QUALIFY rank <= 5),
    votes AS (SELECT q_id, label, CAST(count(*) AS BIGINT) AS votes,
                     CAST(sum(CAST(round(cos_sim * 1000000, 0) AS BIGINT))
                          AS BIGINT) AS sim_micro_sum
              FROM topk GROUP BY q_id, label),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY q_id
                  ORDER BY votes DESC, sim_micro_sum DESC, label ASC) AS rk
               FROM votes)
    SELECT q_id, label AS predicted, votes, sim_micro_sum
    FROM ranked WHERE rk = 1
    """,
    tags=("datapipe", "similarity", "classify"),
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label transfer (similarity.knn_classify): the vec_id%10>=8
    held-out vectors are labeled by majority vote of their 5 nearest
    cosine neighbors in the labeled %10<8 corpus — the weak-labeling step
    that bootstraps labels before any model exists. Neighbor similarities
    quantize to integer micro-units before the vote sums, so every
    tie-break layer (votes, similarity mass, label asc) is exact integer
    arithmetic. The oracle re-runs the identical vote in SQL.

    Accepted midpoint risk (r13 advice, the _gemm_block_pairs
    discipline): the gemm path sums dot products via BLAS while the
    oracle (and fold path) sums sequentially; a last-ulp difference that
    lands EXACTLY on a 0.5e-6 HALF_UP rounding midpoint could flip the
    6th decimal of cos_sim and with it a top-k cut. No gate vector sits
    on a midpoint today (verified by the gemm-vs-fold tuple-for-tuple
    parity test, test_brute_force_topk_gemm_matches_fold, which is the
    standing tripwire); an order-proof quantization would require
    fixed-point accumulation of the dot itself, which neither engine
    can express portably."""
    from proteus_engine_spark.datapipe.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") % 10 >= 8).select(
        F.col("vec_id").alias("q_id"), vec.alias("vec")
    )
    corpus = emb.filter(F.col("vec_id") % 10 < 8).select(
        F.col("vec_id").alias("c_id"), vec.alias("vec"), F.col("label")
    )
    return knn_classify(queries, corpus, k=5)


@register(
    "sim_hard_negatives",
    oracle="""
    WITH a AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec, label AS q_lbl
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec, label AS c_lbl
          FROM embeddings),
    scored AS (
      SELECT q_id, c_id,
             round(list_dot_product(q_vec, c_vec)
                   / (sqrt(list_dot_product(q_vec, q_vec))
                      * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos_sim
      FROM a, c WHERE a.q_lbl != c.c_lbl)
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, c_id) AS rank
    FROM scored QUALIFY rank <= 3
    """,
    tags=("datapipe", "similarity"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (similarity.hard_negative_topk):
    for each of the first 10 anchors, the 3 most-cosine-similar vectors
    carrying a DIFFERENT label — the near-miss negatives that make a
    contrastive batch informative. The label-inequality predicate applies
    before the rank window; rounded-then-ranked with c_id tie-break."""
    from proteus_engine_spark.datapipe.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), vec.alias("vec"), F.col("label")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), vec.alias("vec"), F.col("label")
    )
    return hard_negative_topk(anchors, corpus, k=3)


@register(
    "corpus_source_similarity",
    oracle=r"""
    WITH prof AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY source, term),
    norms AS (SELECT source, sum(c * c) AS ss FROM prof GROUP BY source),
    dots AS (SELECT a.source AS source_a, b.source AS source_b,
                    CAST(sum(a.c * b.c) AS BIGINT) AS dot
             FROM prof a JOIN prof b
               ON a.term = b.term AND a.source < b.source
             GROUP BY a.source, b.source)
    SELECT source_a, source_b, dot,
           round(dot / (sqrt(na.ss) * sqrt(nb.ss)), 6) AS cos_sim
    FROM dots JOIN norms na ON na.source = dots.source_a
              JOIN norms nb ON nb.source = dots.source_b
    """,
    tags=("datapipe", "text", "dedup"),
)
def corpus_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-source detection (textstats.source_profile_similarity):
    pairwise cosine between per-source unigram-count profiles — two feeds
    serving the same content distribution score near 1 even when no two
    documents are duplicates. Integer profiles make the dot product and
    norms exact longs; the cosine is a single double expression over
    them, portable without accumulation-order caveats. The pair join is
    term-keyed (bounded by the source enum per term), never a document
    join."""
    from proteus_engine_spark.datapipe.textstats import source_profile_similarity

    return source_profile_similarity(load_table(spark, sf_dir, "documents"))


@register(
    "sim_hybrid_rrf",
    oracle=r"""
    WITH qdf AS (
      SELECT doc_id AS query_id, term, CAST(count(*) AS BIGINT) AS qtf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents WHERE doc_id < 3)
      GROUP BY doc_id, term),
    toks AS (SELECT doc_id,
                    unnest(string_split_regex(lower(text), '\s+')) AS term
             FROM documents),
    dl AS (SELECT doc_id,
                  CASE WHEN length(trim(text)) > 0
                       THEN CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                       ELSE 0 END AS dl
           FROM documents),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE term IN (SELECT DISTINCT term FROM qdf)
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    lex_scored AS (
      SELECT qdf.query_id, tf.doc_id,
             round(sum(qdf.qtf
                       * ln(1.0 + (stats.n_docs - dfreq.df + 0.5)
                                  / (dfreq.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
                   6) AS score
      FROM tf JOIN dfreq USING (term) JOIN qdf USING (term)
              JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
      GROUP BY qdf.query_id, tf.doc_id),
    lex AS (SELECT query_id AS q_id, doc_id AS c_id, row_number() OVER
              (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
            FROM lex_scored QUALIFY rank <= 10),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
          FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings),
    dense_scored AS (
      SELECT q_id, c_id,
             round(list_dot_product(q_vec, c_vec)
                   / (sqrt(list_dot_product(q_vec, q_vec))
                      * sqrt(list_dot_product(c_vec, c_vec))), 6) AS cos_sim
      FROM q, c),
    dense AS (SELECT q_id, c_id, row_number() OVER
                (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
              FROM dense_scored QUALIFY rank <= 10),
    allr AS (SELECT q_id, c_id, rank FROM lex
             UNION ALL SELECT q_id, c_id, rank FROM dense),
    fused AS (SELECT q_id, c_id,
                     round(sum(1.0 / (60 + rank)), 6) AS rrf_score
              FROM allr GROUP BY q_id, c_id)
    SELECT q_id, c_id, rrf_score,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY rrf_score DESC, c_id) AS BIGINT)
             AS rank
    FROM fused QUALIFY rank <= 10
    """,
    tags=("datapipe", "similarity", "retrieval"),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (textstats.bm25_topk + similarity.rrf_fuse): the
    first three documents query the corpus BOTH ways — lexically (BM25
    with the query doc's own tokens as the in-plan query-term frame, the
    doc-as-query shape) and densely (cosine top-10 of the matching
    embedding, vec_id ≡ doc_id in the synthetic corpus) — and the two
    rankings merge by reciprocal-rank fusion, the calibration-free
    rank-based combiner every hybrid search stack uses. With ≤2 addends
    per candidate the RRF sum is order-proof outright; rounded scores
    rank with c_id tie-break. The BM25 leg goes through the r14
    ``doc_lengths=`` reuse path (lengths precomputed once via
    textstats.doc_lengths — the repeated-retrieval discipline; identical
    values, one fewer corpus-sized shuffle per subsequent batch)."""
    from proteus_engine_spark.datapipe.similarity import brute_force_topk, rrf_fuse
    from proteus_engine_spark.datapipe.textstats import _tokens, bm25_topk, doc_lengths

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # Pin the (doc_id, dl) frame once — without the checkpoint the lazy
    # frame re-derives the corpus tokenize-count at each of its three
    # references inside bm25_topk (n_docs, avgdl, scoring join): the r17
    # scan audit measured documents scanned 8x in this gate's plan. Same
    # fix as the text_bm25_topk gate (E11); 16 bytes/row.
    dl = doc_lengths(docs).localCheckpoint(eager=True)
    qdf = (
        docs.filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), F.explode(_tokens("text")).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
        # bm25_topk references the query-term frame twice (distinct term
        # probe + scoring join); pin the tiny doc-as-query aggregate once.
        .localCheckpoint(eager=True)
    )
    lex = bm25_topk(
        docs, query_terms=qdf, k=10, doc_lengths=dl, pin_postings=True
    ).select(
        F.col("query_id").alias("q_id"), F.col("doc_id").alias("c_id"), F.col("rk").alias("rank")
    )
    vec = F.col("embedding").cast("array<double>")
    dense = brute_force_topk(
        emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("q_id"), vec.alias("vec")),
        emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec")),
        k=10,
    ).select("q_id", "c_id", "rank")
    return rrf_fuse([lex, dense], k=60, topk=10)


@register(
    "corpus_bigram_pmi",
    oracle=r"""
    WITH toks AS (SELECT string_split_regex(lower(text), '\s+') AS t
                  FROM documents WHERE length(trim(text)) > 0),
    uni AS (SELECT unnest(t) AS term FROM toks),
    ucnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY term),
    big AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1])) AS gram
            FROM toks WHERE len(t) >= 2),
    bcnt AS (SELECT string_split(gram, ' ')[1] AS w1,
                    string_split(gram, ' ')[2] AS w2,
                    CAST(count(*) AS BIGINT) AS c12
             FROM big GROUP BY gram),
    tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM uni) AS n1,
                   (SELECT CAST(count(*) AS BIGINT) FROM big) AS n2),
    scored AS (
      SELECT b.w1, b.w2, b.c12,
             round(ln((1.0 * b.c12 * tot.n1 * tot.n1)
                      / (1.0 * tot.n2 * u1.cu * u2.cu)), 6) AS pmi
      FROM bcnt b
      JOIN ucnt u1 ON u1.term = b.w1
      JOIN ucnt u2 ON u2.term = b.w2
      CROSS JOIN tot
      WHERE b.c12 >= 5)
    SELECT w1, w2, c12, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rk
    FROM scored QUALIFY rk <= 20
    """,
    tags=("datapipe", "text", "tokenizer"),
)
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (textstats.bigram_pmi_top): the 20 adjacent
    word pairs with the highest pointwise mutual information (min bigram
    count 5) — the word2vec-phrases detector that promotes collocations
    to single vocabulary units ahead of tokenizer training. Counts are
    exact longs; the PMI formula's multiplication chain is written
    identically in both engines, so the rounded scores match bit-for-bit.
    Unigrams and bigrams ride one single-projection corpus scan; the
    top-k is TakeOrdered (orderBy+limit, rank attached over the k-row
    result — r14 rewrite of the r13-flagged unpartitioned window)."""
    from proteus_engine_spark.datapipe.textstats import bigram_pmi_top

    return bigram_pmi_top(load_table(spark, sf_dir, "documents"), min_count=5, k=20)


@register(
    "stream_incremental_dedup",
    oracle="""
    WITH corpus AS (SELECT DISTINCT md5(text) AS h
                    FROM documents WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, source, md5(text) AS h
              FROM documents WHERE doc_id % 3 = 0)
    SELECT source, CAST(count(*) AS BIGINT) AS n_new_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM batch ANTI JOIN corpus USING (h)
    GROUP BY source
    """,
    tags=("datapipe", "streaming", "dedup"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup ON THE INGEST STREAM — the continuous-crawl
    shape run continuously: the simulated re-ingest batch (doc_id % 3 =
    0) arrives as a document STREAM (the file-monitor source every
    stream_* gate uses) and is LEFT-ANTI stream-static joined against
    the STATIC existing-corpus digest set (doc_id % 2 = 0) — Structured
    Streaming's stream-static join family, which needs no watermark or
    state because the static side is fixed per micro-batch; survivors
    roll up per source as a continuous complete-mode aggregate (count +
    id checksum — streaming aggregates cannot COUNT DISTINCT, and the
    checksum makes the surviving SET, not just its size, part of the
    hash). Only digests and ids cross the join; text never shuffles."""
    from proteus_engine_spark.streaming.sources import file_stream, run_stream

    raw = file_stream(spark, sf_dir, "documents.parquet")
    # r17 optimization: pin the static digest set once per query — the
    # static side of a stream-static join re-executes per micro-batch,
    # so the scan+md5+distinct ran once per batch. Values unchanged.
    corpus_digests = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(F.col("text")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    survivors = (
        raw.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "source", F.md5(F.col("text")).alias("h"))
        .join(corpus_digests, "h", "left_anti")
    )
    agg = survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )
    return run_stream(
        agg, "stream_incr_dedup_sink", sf_dir, "documents", output_mode="complete"
    )[0]


@register(
    "dedup_cluster_keep_best",
    oracle=r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
            FROM documents)),
    grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    common AS (
      SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS c
      FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2),
    edges AS (
      SELECT a, b FROM common
      JOIN sizes sa ON sa.doc_id = a
      JOIN sizes sb ON sb.doc_id = b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst),
    lab AS (
      SELECT src AS node, least(src, min(dst)) AS comp
      FROM reach GROUP BY src),
    qual AS (
      SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS comp, d.n_chars
      FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn
      FROM qual),
    rep AS (SELECT comp, doc_id AS rep_id FROM ranked WHERE rn = 1)
    SELECT q.doc_id, r.rep_id AS cluster_rep,
           q.doc_id = r.rep_id AS is_kept
    FROM qual q JOIN rep r USING (comp)
    """,
    tags=("datapipe", "dedup", "cluster"),
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-copy duplicate resolution (dedup.cluster_keep_best): the
    same MinHash-LSH exact-verified J>=0.5 clusters as dedup_cluster_keep,
    but each cluster keeps its LONGEST copy (n_chars, ties by lowest id)
    — the production keep rule: a crawl holds one full page and several
    truncated variants, and the pipeline keeps the fullest one. The
    oracle rebuilds the clusters by transitive closure and elects the
    same representative by window, so a wrong election or a split
    cluster fails the hash."""
    from proteus_engine_spark.datapipe.dedup import cluster_keep_best, minhash_lsh_pairs
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5, verify="exact")
    return cluster_keep_best(docs, pairs.select("doc_a", "doc_b"), "n_chars")


@register(
    "corpus_bucketed_batches",
    oracle=r"""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) > 0
                  THEN CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
                  ELSE 0 END AS n_tokens
      FROM documents),
    w AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket FROM b),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY bucket ORDER BY doc_id) - 1 AS rnk
          FROM w)
    SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
           CAST(rnk // 8 AS BIGINT) AS batch_id,
           CAST(rnk % 8 AS BIGINT) AS pos_in_batch
    FROM r
    """,
    tags=("datapipe", "sampling", "batching"),
)
def corpus_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment (sampling.bucketed_batches,
    batch_size=8, bucket_width=32) — the BucketIterator shape that packs
    similar-length documents into the same inference batch so padding
    waste stays bounded by the bucket width. One parallel range sort +
    the two-phase zip_with_index rank with broadcast per-bucket offsets;
    the oracle reproduces the assignment with a plain window."""
    from proteus_engine_spark.datapipe.sampling import bucketed_batches

    return bucketed_batches(
        load_table(spark, sf_dir, "documents"), batch_size=8, bucket_width=32
    )


@register(
    "corpus_fixed_n_sample",
    oracle="""
    WITH h AS (SELECT source, doc_id,
                      md5(CAST(doc_id AS VARCHAR)) AS hh
               FROM documents),
    r AS (SELECT source, doc_id, row_number() OVER
            (PARTITION BY source ORDER BY hh, doc_id) - 1 AS rank_in_group
          FROM h)
    SELECT source, doc_id, CAST(rank_in_group AS BIGINT) AS rank_in_group
    FROM r WHERE rank_in_group < 10
    """,
    tags=("datapipe", "sampling"),
)
def corpus_fixed_n_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-N per-group sampling (sampling.fixed_n_sample, N=10 per
    source): deterministically keep the first 10 docs of each source in
    the md5 permutation — the exact-count complement to rate-based
    stratified sampling (eval sets and per-source caps need exact
    counts, not expected ones). One parallel range sort + two-phase rank
    with broadcast per-group offsets — never a per-group window on the
    engine side; the oracle uses the plain window."""
    from proteus_engine_spark.datapipe.sampling import fixed_n_sample

    return fixed_n_sample(load_table(spark, sf_dir, "documents"), n_per_group=10)


@register(
    "corpus_source_divergence",
    oracle=r"""
    WITH prof AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(string_split_regex(lower(text), '\s+')) AS term
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY source, term),
    corpus AS (SELECT term, sum(c) AS cc FROM prof GROUP BY term),
    gt AS (SELECT source, sum(c) AS nt FROM prof GROUP BY source),
    tot AS (SELECT sum(c) AS nc FROM prof),
    contrib AS (
      SELECT p.source, gt.nt,
             CAST(round(1000000.0 * (p.c / gt.nt)
                        * ln((1.0 * p.c * tot.nc)
                             / (1.0 * gt.nt * corpus.cc)), 0) AS BIGINT)
               AS k_micro
      FROM prof p JOIN corpus USING (term)
      JOIN gt ON gt.source = p.source CROSS JOIN tot)
    SELECT source, CAST(max(nt) AS BIGINT) AS n_tokens,
           CAST(sum(k_micro) AS BIGINT) AS kl_micro,
           sum(k_micro) / 1000000.0 AS kl
    FROM contrib GROUP BY source
    """,
    tags=("datapipe", "text", "quality"),
)
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift detection (textstats.source_divergence):
    KL(P_source || P_corpus) over unigram distributions per source — the
    drift detector that flags a feed whose token distribution has
    diverged even when every individual document passes the per-doc
    filters. Per-term contributions quantize to integer micro-nats
    BEFORE the per-source sum (the exact-integer accumulation
    discipline), so the oracle matches bit-for-bit; the readable double
    kl is derived from the integer, never summed."""
    from proteus_engine_spark.datapipe.textstats import source_divergence

    return source_divergence(load_table(spark, sf_dir, "documents"))


@register(
    "agg_heavy_hitters_bounds",
    oracle=r"""
    WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
    tot AS (SELECT sum(n) AS total FROM cnt)
    SELECT token, n AS exact_n, true AS within_bounds
    FROM cnt CROSS JOIN tot WHERE n >= total // 64
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_heavy_hitters_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters, verdict-gated (the
    agg_approx_distinct_bounds discipline): the engine runs the
    partition-parallel k=64 sketch over the corpus token stream AND the
    exact count, then emits within_bounds for every true heavy hitter
    (exact >= N/64): present in the merged sketch, estimate <= exact
    (MG never overcounts), and undercount <= N/64 (the mergeable-
    summaries bound, N/(k+1) rounded up to the looser integer N/k). The
    oracle computes the exact heavy set and asserts the verdict is
    uniformly true — the sketch VALUE, partition-order-dependent by
    nature, never has to match. At 100 TB the sketch replaces the
    vocabulary-cardinality shuffle with k rows per partition."""
    from proteus_engine_spark.datapipe.sketches import misra_gries_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    sk = misra_gries_heavy_hitters(toks, "token", k=64)
    # Pin the vocabulary-sized exact counts once — lazily the `total`
    # aggregate re-ran the full corpus tokenize (r17 scan audit:
    # documents 3x in this plan); the sketch pass above stays raw-stream
    # by design.
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=True)
    )
    total = exact.agg(F.sum("exact_n").alias("total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") >= F.expr("total div 64"))
        .join(sk.withColumnRenamed("item", "token"), "token", "left")
        .select(
            "token",
            "exact_n",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_n"))
                & (F.col("exact_n") - F.coalesce(F.col("est"), F.lit(0))
                   <= F.expr("total div 64"))
            ).alias("within_bounds"),
        )
    )


@register(
    "agg_heavy_hitters_grouped_bounds",
    oracle=r"""
    WITH tok AS (SELECT source,
                        unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents),
    cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY source, token),
    tot AS (SELECT source, sum(n) AS total FROM cnt GROUP BY source)
    SELECT c.source, c.token, c.n AS exact_n, true AS within_bounds
    FROM cnt c JOIN tot t ON c.source = t.source
    WHERE c.n >= t.total // 32
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_heavy_hitters_grouped_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Misra-Gries heavy hitters, verdict-gated (r16 verdict
    item 5c — the grouped lift r16 gave quantiles, applied to the
    frequency sketch; the per-source vocabulary-profile shape): the
    engine runs the per-group k=32 sketch over (source, token) AND the
    exact per-source counts, then emits within_bounds for every true
    per-source heavy hitter (exact >= N_src/32): present in that
    source's merged sketch, estimate <= exact (MG never overcounts), and
    undercount <= N_src/32 — the mergeable-summaries bound applied
    group-wise, which holds because groups never share counters. The
    oracle computes each source's exact heavy set and asserts the
    verdict is uniformly true; sketch VALUES stay partition-order-
    dependent by nature and never have to match. Scale shape: partition
    state is (groups-in-partition x k), the merge shuffles fixed-size
    partials keyed by (source, token) with map-side combine."""
    from proteus_engine_spark.datapipe.sketches import misra_gries_grouped

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    )
    sk = misra_gries_grouped(toks, "token", "source", k=32)
    # Pin the vocabulary-sized exact-count frame once: lazily it is
    # re-derived (full corpus tokenize) per reference — the `total`
    # aggregate below plus the verdict join made the r17 scan audit read
    # documents 3x in this plan. The sketch pass above still streams raw
    # tokens (that IS the gate's subject); everything else derives from
    # the pinned counts.
    exact = (
        toks.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=True)
    )
    total = exact.groupBy("source").agg(F.sum("exact_n").alias("total"))
    return (
        exact.join(F.broadcast(total), "source")
        .filter(F.col("exact_n") >= F.expr("total div 32"))
        .join(
            sk.withColumnRenamed("item", "token"),
            ["source", "token"],
            "left",
        )
        .select(
            "source",
            "token",
            "exact_n",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_n"))
                & (F.col("exact_n") - F.coalesce(F.col("est"), F.lit(0))
                   <= F.expr("total div 32"))
            ).alias("within_bounds"),
        )
    )


@register(
    "agg_heavy_hitters_merge",
    oracle=r"""
    WITH tok AS (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST((SELECT count(*) FROM tok WHERE doc_id % 2 = 0)
                        AS BIGINT) AS n_left,
                   CAST((SELECT count(*) FROM tok WHERE doc_id % 2 = 1)
                        AS BIGINT) AS n_right
            FROM cnt)
    SELECT token, n AS exact_n, n_left, n_right, true AS within_bounds
    FROM cnt CROSS JOIN tot WHERE n >= total // 64
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_heavy_hitters_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries sketch MERGE gate — the merge member of the
    heavy-hitter arc (bounds r14, grouped r17), completing the
    sketch-merge story the r16 quantile merge gate started: the token
    stream splits into two DISJOINT halves (doc_id parity), each half is
    sketched into its OWN k=64 summary, and the two finished summaries
    are merged by item-keyed count summation (the Agarwal et al. 2012
    merge; skipping the optional re-decrement keeps <= 2k counters and
    only tightens the bound). The verdict checks the MERGED sketch
    against the whole-corpus bounds: every true heavy hitter
    (exact >= N div 64) present, never overcounted, undercount <=
    N_l/(k+1) + N_r/(k+1) — loosened to the integer N div 64 — and
    n_left/n_right pin that the halves really partition the stream
    (N = n_left + n_right). A merge that dropped or double-counted
    either summary fails the bound. This is the 1000-executor story
    stated as a driver fact: per-executor sketches merge by summation
    without re-reading either side's rows."""
    from proteus_engine_spark.datapipe.sketches import misra_gries_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    )
    sk_l = misra_gries_heavy_hitters(
        toks.filter(F.col("doc_id") % 2 == 0).select("token"), "token", k=64
    )
    sk_r = misra_gries_heavy_hitters(
        toks.filter(F.col("doc_id") % 2 == 1).select("token"), "token", k=64
    )
    merged = (
        sk_l.unionByName(sk_r).groupBy("item").agg(F.sum("est").alias("est"))
    )
    # ONE pinned vocabulary-sized pass carries the exact counts plus the
    # per-parity token counts; `total` then folds the pinned frame instead
    # of re-tokenizing the corpus. Lazily, exact and total were separate
    # full tokenize passes and the r17 scan audit read documents 4x in
    # this plan; the two half-corpus sketch passes above remain raw-stream
    # by design (independent summaries are the merge gate's subject).
    exact_pt = (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("exact_n"),
            F.sum((F.col("doc_id") % 2 == 0).cast("long")).alias("__l__"),
            F.sum((F.col("doc_id") % 2 == 1).cast("long")).alias("__r__"),
        )
        .localCheckpoint(eager=True)
    )
    exact = exact_pt.select("token", "exact_n")
    total = exact_pt.agg(
        F.sum("exact_n").alias("total"),
        F.sum("__l__").alias("n_left"),
        F.sum("__r__").alias("n_right"),
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") >= F.expr("total div 64"))
        .join(merged.withColumnRenamed("item", "token"), "token", "left")
        .select(
            "token",
            "exact_n",
            "n_left",
            "n_right",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_n"))
                & (F.col("exact_n") - F.coalesce(F.col("est"), F.lit(0))
                   <= F.expr("total div 64"))
            ).alias("within_bounds"),
        )
    )


@register(
    "agg_count_min_bounds",
    oracle=r"""
    WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
    tot AS (SELECT sum(n) AS total FROM cnt)
    SELECT token, n AS exact_n, true AS within_bounds
    FROM cnt CROSS JOIN tot WHERE n >= total // 64
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_count_min_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates, verdict-gated: the engine
    builds the depth=4 × width=256 sketch as a PURE DataFrame aggregation
    (seeded xxhash64 bucketing in whole-stage codegen — no Python
    anywhere), probes it for every exact heavy hitter (the same
    probe set as agg_heavy_hitters_bounds, so the two sketches' verdicts
    are directly comparable), and asserts the CM error side: estimate >=
    exact (CM never undercounts — deterministic) and overcount <=
    3·N/width, the ANALYTIC e·N/width bound rounded up to the next
    integer factor (3 > e) rather than a tuned constant: the e·N/w
    guarantee is probabilistic over seed choice and a previous 2·N/w
    verdict could fail spuriously if a new distribution concentrated
    collision mass on one heavy hitter (r13 advice). Verdicts are
    deterministic given data + fixed seeds (collision mass is
    data-dependent, not random at run time); the measured max overcount
    is recorded by the pytest tripwire (test_count_min_measured_margin)
    so drift toward the bound stays visible. The oracle computes the
    exact heavy set and expects a uniformly true verdict."""
    from proteus_engine_spark.datapipe.sketches import (
        count_min_estimate,
        count_min_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    table = count_min_table(toks, "token", depth=4, width=256)
    # Pin the vocabulary-sized exact counts once: `heavy` below is
    # referenced twice (probe-set input and verdict join) and `total`
    # once more, each lazily re-running the full corpus tokenize — the
    # r17 scan audit read documents 5x in this plan. With the pin only
    # the sketch build above touches the raw stream.
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=True)
    )
    total = exact.agg(F.sum("exact_n").alias("total"))
    heavy = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") >= F.expr("total div 64"))
    )
    est = count_min_estimate(table, heavy.select("token"), "token", depth=4, width=256)
    return (
        heavy.join(est, "token")
        .select(
            "token",
            "exact_n",
            (
                (F.col("est") >= F.col("exact_n"))
                & (F.col("est") - F.col("exact_n") <= F.expr("3 * total div 256"))
            ).alias("within_bounds"),
        )
    )


@register(
    "agg_approx_quantile_bounds",
    oracle="""
    WITH v AS (SELECT CAST(count(*) AS BIGINT) AS n
               FROM events WHERE value IS NOT NULL)
    SELECT q_pct, n, CAST(round(q * n) AS BIGINT) AS target_rank,
           true AS within_bounds
    FROM v CROSS JOIN (VALUES (10, 0.10), (25, 0.25), (50, 0.50),
                              (75, 0.75), (90, 0.90), (99, 0.99))
         AS t(q_pct, q)
    WHERE n > 0
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate QUANTILES, verdict-gated — the sketch family's fourth
    member next to HLL++ (distinct), Misra-Gries and Count-Min
    (frequency): rank queries. Spark-first: the sketch is the built-in
    ``percentile_approx`` (ApproximatePercentile, the Greenwald-Khanna-
    family mergeable summary — JVM-side, map-side combine; a hand-rolled
    Python KLL would be strictly worse), so the gate verifies the
    ANALYTIC guarantee instead of the merge-order-dependent value: for
    each q the estimate's exact-rank window [count(v<est), count(v<=est)]
    must overlap round(q·n) ± (n div accuracy + 1) — the published
    rank-error bound (<= n/accuracy at accuracy=1000) plus one for
    target rounding (the agg_approx_distinct_bounds discipline). The
    oracle recomputes n and the target ranks and expects a uniformly
    true verdict. Scale shape: two 1-row partial aggregates over the
    scan (sketch pass, then one conditional-count pass for ALL q
    estimates together under a broadcast) — zero row shuffles at any
    corpus size. Empty/all-NULL input yields 0 rows on BOTH sides (the
    engine behavior pinned in test_quantile_sketch_bounds_empty_input;
    the oracle's ``WHERE n > 0`` matches it, closing the r15-advice
    divergence)."""
    from proteus_engine_spark.datapipe.sketches import quantile_sketch_bounds

    ev = load_table(spark, sf_dir, "events")
    return quantile_sketch_bounds(ev, "value", accuracy=1000)


@register(
    "agg_quantile_sketch_merge",
    oracle="""
    WITH v AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_left,
                      CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_right
               FROM events WHERE value IS NOT NULL)
    SELECT q_pct, n, n_left, n_right,
           CAST(round(q * n) AS BIGINT) AS target_rank,
           true AS within_bounds
    FROM v CROSS JOIN (VALUES (10, 0.10), (25, 0.25), (50, 0.50),
                              (75, 0.75), (90, 0.90), (99, 0.99))
         AS t(q_pct, q)
    WHERE n > 0
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch MERGE gate (r15 verdict item 5c): the events table
    is split into two DISJOINT halves (event_id parity), each half
    repartitioned to its own 4 partitions, then unioned — union
    concatenates partitions, so the single ``percentile_approx``
    aggregate that follows necessarily builds >=4 per-half partial
    sketches PER SIDE and merges them across the boundary
    (ApproximatePercentile's merge path — the exact mechanism a
    1000-executor partial aggregation over 100 TB relies on). The verdict
    checks the MERGED estimates against the analytic rank-error bound
    over the whole (the agg_approx_quantile_bounds discipline): a merge
    that dropped or double-counted either side fails the bound, and
    n_left/n_right pin that the two sides really partition the data
    (n = n_left + n_right). Empty input yields 0 rows on both sides."""
    from proteus_engine_spark.datapipe.sketches import quantile_sketch_merge_bounds

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_id") % 2 == 0)
    right = ev.filter(F.col("event_id") % 2 == 1)
    return quantile_sketch_merge_bounds(left, right, "value", accuracy=1000)


@register(
    "agg_quantile_grouped_bounds",
    oracle="""
    WITH v AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
               FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT event_type, q_pct, n,
           CAST(round(q * n) AS BIGINT) AS target_rank,
           true AS within_bounds
    FROM v CROSS JOIN (VALUES (25, 0.25), (50, 0.50), (90, 0.90))
         AS t(q_pct, q)
    WHERE n > 0
    """,
    tags=("datapipe", "sketch", "agg"),
)
def agg_quantile_grouped_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP quantile sketches with the analytic rank verdict — the
    grouped member of the quantile arc (r15 global bounds, r16 merge,
    r16 grouped): one grouped percentile_approx builds an independent GK
    summary per event_type, the group-cardinality sketch frame
    broadcasts back, and per-(group, q) the estimate's exact rank window
    must overlap round(q·n_g) ± (n_g div accuracy + 1). The oracle
    recomputes per-group n and targets and expects a uniformly true
    verdict — a sketch that mixed rows across groups fails its group's
    bound. Scale: both aggregates shuffle only group-keyed partial
    states; the broadcast is group-count sized, corpus-size independent."""
    from proteus_engine_spark.datapipe.sketches import (
        quantile_sketch_bounds_grouped,
    )

    ev = load_table(spark, sf_dir, "events")
    return quantile_sketch_bounds_grouped(
        ev, "value", "event_type", accuracy=500
    )


@register(
    "multimodal_phash_neardup",
    oracle="""
    WITH sums AS (
      SELECT doc_id,
             [list_sum([greatest(unicode(substring(text, i * 4 + j, 1)), 0)
                        FOR j IN range(1, 5)]) FOR i IN range(0, 61)] AS bsum
      FROM documents WHERE length(text) > 0
        AND strlen(text) = length(text)),
    h AS (
      SELECT doc_id,
             list_sum([CASE WHEN bsum[i+1] > bsum[i+2] THEN 1 ELSE 0 END << i
                       FOR i IN range(0, 60)]) AS phash
      FROM sums),
    bands AS (
      SELECT doc_id, phash, b, (phash >> (15 * b)) & 32767 AS bv
      FROM h, range(0, 4) t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             a.phash AS ph_a, c.phash AS ph_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id)
    SELECT id_a AS media_id_a, id_b AS media_id_b,
           CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ph_a, ph_b)) <= 3
    """,
    tags=("datapipe", "multimodal", "dedup"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal NEAR-DUP tier (r15 verdict item 5b — the one dedup
    modality not yet covered): perceptual-hash bucketing over media
    payloads, dedup.py's banded discipline applied to multimodal.py's
    columns. Documents' text bytes stand in for decoded media (the
    multimodal_decode convention); the fingerprint is a 60-bit dHash
    (adjacent fixed-block byte gradients — difference hash, the
    perceptual-hash family member robust to tail edits) computed in one
    Arrow-batched mapInPandas pass, then near-dup pairs at Hamming
    distance <= 3 come from 4x15-bit band-bucket equi-joins + a
    bit_count(xor) verify, all JVM-side. With max_distance < bands the
    banding is EXACT (pigeonhole: 3 differing bits cannot touch all 4
    bands), so the oracle — the same dHash in SQL over the same bytes
    (ASCII corpus: code point == byte; empty positions clamp to 0 via
    greatest) feeding an identical band join — must agree pair-for-pair
    with what a quadratic all-pairs join would emit. Scale shape: 8-byte
    fingerprints shuffle, payloads never do; each band bucket joins only
    within itself."""
    from proteus_engine_spark.datapipe.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        # ASCII pin (r16 advice): the oracle hashes per-CHARACTER code
        # points while perceptual_hash hashes UTF-8 BYTES — equivalent
        # only when every char is one byte, so both sides filter to
        # octet_length == length instead of assuming the corpus stays
        # pure-ASCII
        .filter(F.octet_length("text") == F.length("text"))
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    hashes = perceptual_hash(docs, bits=60, block_bytes=4)
    return phash_near_dup_pairs(hashes, max_distance=3, bands=4, bits=60)


@register(
    "multimodal_phash_dedup_keep",
    oracle="""
    WITH RECURSIVE sums AS (
      SELECT doc_id,
             [list_sum([greatest(unicode(substring(text, i * 4 + j, 1)), 0)
                        FOR j IN range(1, 5)]) FOR i IN range(0, 61)] AS bsum
      FROM documents WHERE length(text) > 0
        AND strlen(text) = length(text)),
    h AS (
      SELECT doc_id,
             list_sum([CASE WHEN bsum[i+1] > bsum[i+2] THEN 1 ELSE 0 END << i
                       FOR i IN range(0, 60)]) AS phash
      FROM sums),
    bands AS (
      SELECT doc_id, phash, b, (phash >> (15 * b)) & 32767 AS bv
      FROM h, range(0, 4) t(b)),
    edges AS (
      SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
      WHERE bit_count(xor(a.phash, c.phash)) <= 3),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(src, dst) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst),
    lab AS (
      SELECT src AS node, least(src, min(dst)) AS comp
      FROM reach GROUP BY src)
    SELECT d.doc_id AS media_id,
           COALESCE(l.comp, d.doc_id) AS cluster_rep,
           COALESCE(l.comp, d.doc_id) = d.doc_id AS is_kept
    FROM (SELECT doc_id FROM documents WHERE length(text) > 0
        AND strlen(text) = length(text)) d
    LEFT JOIN lab l ON l.node = d.doc_id
    """,
    tags=("datapipe", "multimodal", "dedup", "cluster"),
)
def multimodal_phash_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal dedup END POINT: perceptual-hash near-dup pairs
    become duplicate clusters (connected components — A~B and B~C must
    collapse even when A~C itself exceeds the Hamming cut) and every
    media item gets a keep verdict with its cluster representative — the
    dedup_cluster_keep contract applied to the phash modality, closing
    the pairs→clusters→verdicts pipeline for media exactly as MinHash-LSH
    closes it for text. Scale shape: the component iteration runs on the
    candidate-bounded pair graph (orders of magnitude smaller than the
    corpus); the label join back is AQE-sized. The oracle rebuilds the
    same clusters with a recursive transitive-closure CTE over the same
    SQL dHash pair set, so a lost edge, an unmerged component, or a
    wrong representative all fail."""
    from proteus_engine_spark.datapipe.dedup import (
        dedup_cluster_keep as _cluster,
    )
    from proteus_engine_spark.datapipe.multimodal import (
        perceptual_hash,
        phash_near_dup_pairs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        # ASCII pin (r16 advice): the oracle hashes per-CHARACTER code
        # points while perceptual_hash hashes UTF-8 BYTES — equivalent
        # only when every char is one byte, so both sides filter to
        # octet_length == length instead of assuming the corpus stays
        # pure-ASCII
        .filter(F.octet_length("text") == F.length("text"))
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    pairs = phash_near_dup_pairs(perceptual_hash(docs))
    return _cluster(
        docs,
        pairs,
        id_col="media_id",
        pair_a="media_id_a",
        pair_b="media_id_b",
    )


@register(
    "dedup_incremental_phash",
    oracle="""
    WITH sums AS (
      SELECT doc_id,
             [list_sum([greatest(unicode(substring(text, i * 4 + j, 1)), 0)
                        FOR j IN range(1, 5)]) FOR i IN range(0, 61)] AS bsum
      FROM documents WHERE length(text) > 0
        AND strlen(text) = length(text)),
    h AS (
      SELECT doc_id,
             list_sum([CASE WHEN bsum[i+1] > bsum[i+2] THEN 1 ELSE 0 END << i
                       FOR i IN range(0, 60)]) AS phash
      FROM sums),
    bb AS (
      SELECT doc_id, phash, b, (phash >> (15 * b)) & 32767 AS bv
      FROM h, range(0, 4) t(b) WHERE doc_id % 3 = 0),
    cb AS (
      SELECT doc_id, phash, b, (phash >> (15 * b)) & 32767 AS bv
      FROM h, range(0, 4) t(b) WHERE doc_id % 2 = 0),
    matched AS (
      SELECT DISTINCT bb.doc_id
      FROM bb JOIN cb ON bb.b = cb.b AND bb.bv = cb.bv
      WHERE bit_count(xor(bb.phash, cb.phash)) <= 3)
    SELECT d.doc_id AS media_id, d.source FROM documents d
    WHERE d.doc_id % 3 = 0 AND length(d.text) > 0
      AND d.doc_id NOT IN (SELECT doc_id FROM matched)
    """,
    tags=("datapipe", "multimodal", "dedup"),
)
def dedup_incremental_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MEDIA dedup — the multimodal tier of the continuous-
    crawl shape (dedup_incremental drops byte-exact re-ingests,
    dedup_incremental_fuzzy drops lightly-edited text; this tier drops
    re-ingested media whose perceptual fingerprint is within Hamming 3
    of anything already kept): the ingest batch (doc_id % 3 = 0) keeps
    only items with NO corpus neighbor (doc_id % 2 = 0) under the
    BIPARTITE phash band join (batch bands join corpus bands only —
    batch-batch collisions never generated; pigeonhole-exact at
    distance <= 3) and a LEFT ANTI on the matched ids. The
    doc_id % 6 = 0 cohort appears verbatim on both sides (distance 0),
    so the drop branch fires at every SF. Scale: 8-byte fingerprints
    join; in production the corpus fingerprints persist bucketed by
    (band, value) so daily batches co-locate without reshuffling."""
    from proteus_engine_spark.datapipe.multimodal import (
        perceptual_hash,
        phash_cross_dup_ids,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        # ASCII pin (r16 advice): the oracle hashes per-CHARACTER code
        # points while perceptual_hash hashes UTF-8 BYTES — equivalent
        # only when every char is one byte, so both sides filter to
        # octet_length == length instead of assuming the corpus stays
        # pure-ASCII
        .filter(F.octet_length("text") == F.length("text"))
        .select(
            F.col("doc_id").alias("media_id"),
            F.col("source"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    batch = docs.filter(F.col("media_id") % 3 == 0)
    corpus = docs.filter(F.col("media_id") % 2 == 0)
    matched = phash_cross_dup_ids(
        perceptual_hash(batch), perceptual_hash(corpus)
    )
    return batch.join(matched, "media_id", "left_anti").select(
        "media_id", "source"
    )


@register(
    "stream_dedup_media_phash",
    oracle="""
    WITH sums AS (
      SELECT doc_id,
             [list_sum([greatest(unicode(substring(text, i * 4 + j, 1)), 0)
                        FOR j IN range(1, 5)]) FOR i IN range(0, 61)] AS bsum
      FROM documents WHERE length(text) > 0
        AND strlen(text) = length(text)),
    h AS (
      SELECT doc_id,
             CAST(list_sum([CASE WHEN bsum[i+1] > bsum[i+2] THEN 1 ELSE 0
                            END << i FOR i IN range(0, 60)]) AS BIGINT)
               AS phash
      FROM sums),
    bfp AS (SELECT DISTINCT phash FROM h WHERE doc_id % 3 = 0),
    bb AS (SELECT phash, b, (phash >> (15 * b)) & 32767 AS bv
           FROM bfp, range(0, 4) t(b)),
    cb AS (SELECT doc_id AS corpus_id, phash AS corpus_ph, b,
                  (phash >> (15 * b)) & 32767 AS bv
           FROM h, range(0, 4) t(b) WHERE doc_id % 2 = 0)
    SELECT bb.phash, CAST(bb.b AS BIGINT) AS band, cb.corpus_id,
           CAST(bit_count(xor(bb.phash, cb.corpus_ph)) AS BIGINT) AS hamming
    FROM bb JOIN cb ON bb.b = cb.b AND bb.bv = cb.bv
    WHERE bit_count(xor(bb.phash, cb.corpus_ph)) <= 3
    """,
    tags=("datapipe", "multimodal", "dedup", "streaming"),
)
def stream_dedup_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING media dedup — the streaming member of the media tier
    (r16 verdict item 5b), completing the batch/incremental/streaming
    trio phash_near_dup_pairs / phash_cross_dup_ids began, mirroring the
    text tier's dedup_exact / dedup_incremental /
    stream_dedup_within_watermark progression: a continuous media ingest
    (the doc_id % 3 cohort replayed through the file source) is
    fingerprinted in-stream (perceptual_hash's mapInPandas runs on the
    unbounded frame unchanged), deduplicated on the EXACT fingerprint
    with bounded keyed state (dropDuplicatesWithinWatermark — state for
    a fingerprint is evicted once the watermark passes its synthetic
    event time + 30 minutes, so state is watermark-window-bounded, not
    corpus-bounded), and each first-seen fingerprint is then flagged
    against the STATIC reference corpus (doc_id % 2) via the bipartite
    banded stream-static join: band-bucket equi-join + bit_count(xor)
    verify, pigeonhole-exact at Hamming <= 3. Emits one row per
    (fingerprint, shared band, corpus neighbor) — the per-band row
    identity keeps the output deterministic without a post-join dedup
    (a second stateful op). The survivor row of an in-batch fingerprint
    tie is projected to the fingerprint itself, so arrival order never
    leaks into the result. The oracle recomputes the same dHash in SQL,
    the distinct batch fingerprints, and the same per-band join. Scale
    shape: the stream shuffles 8-byte fingerprints only; the corpus side
    is a fingerprint table that broadcasts (or persists bucketed by
    (band, value) in a continuous-crawl deployment)."""
    from proteus_engine_spark.datapipe.multimodal import perceptual_hash
    from proteus_engine_spark.streaming.sources import file_stream, run_stream

    ascii_docs = (
        F.length("text") > 0
    ) & (F.octet_length("text") == F.length("text"))

    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(ascii_docs)
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    # r17 optimization: the STATIC side of a stream-static join is
    # re-executed on every micro-batch — without this pin the corpus
    # fingerprint mapInPandas pass ran once per batch (~3x per run).
    # localCheckpoint runs it exactly once per query; values unchanged
    # (verified rows-identical A/B). The production analogue is the
    # docstring's persisted/bucketed corpus fingerprint table.
    corpus_h = perceptual_hash(corpus).localCheckpoint(eager=True)

    stream = file_stream(spark, sf_dir, "documents.parquet")
    batch = (
        stream.filter(ascii_docs)
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    # media_id + 1: the synthetic clock must stay strictly above epoch 0
    # (the initial watermark) — a row AT the watermark is late-dropped by
    # the stateful dedup, and media_id 0 exists
    fp = perceptual_hash(batch).withColumn(
        "ts", F.timestamp_micros((F.col("media_id") + 1) * 60_000_000)
    )
    first = (
        fp.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["phash"])
        .select("phash")
    )

    width, mask = 15, (1 << 15) - 1
    bb = first.select(
        "phash",
        F.explode(band_struct_array("phash", 4, width, mask)).alias("band"),
    ).select("phash", "band.b", "band.bv")
    cb = corpus_h.select(
        F.col("media_id").alias("corpus_id"),
        F.col("phash").alias("corpus_ph"),
        F.explode(band_struct_array("phash", 4, width, mask)).alias("band"),
    ).select("corpus_id", "corpus_ph", "band.b", "band.bv")
    out = (
        bb.join(cb, ["b", "bv"])
        .filter(
            F.bit_count(F.col("phash").bitwiseXOR(F.col("corpus_ph"))) <= 3
        )
        .select(
            "phash",
            F.col("b").cast("long").alias("band"),
            "corpus_id",
            F.bit_count(F.col("phash").bitwiseXOR(F.col("corpus_ph")))
            .cast("long").alias("hamming"),
        )
    )
    return run_stream(out, "stream_media_dedup_sink", sf_dir, "documents")[0]


@register(
    "text_concordance",
    oracle=r"""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                  FROM documents),
    hits AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
      FROM toks),
    m AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                 array_to_string(
                   t[greatest(1, pos - 3):least(len(t), pos + 3)], ' ')
                   AS context
          FROM hits WHERE t[pos] = 'spark')
    SELECT doc_id, pos, context FROM m
    """,
    tags=("datapipe", "text"),
)
def text_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC concordance (textstats.concordance): every occurrence of the
    token 'spark' with its ±3-token context — the corpus-inspection
    primitive for filter-rule debugging and tokenizer sanity checks.
    Zero shuffle: tokenize, positional explode, equality filter, and the
    context slice fuse into the scan projection; the oracle reproduces
    the identical inclusive slice arithmetic."""
    from proteus_engine_spark.datapipe.textstats import concordance

    return concordance(load_table(spark, sf_dir, "documents"), "spark", window=3)


@register(
    "corpus_pipeline_e2e",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source, text,
             CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(lower(text), '\s+'))
                  ELSE 0 END AS n_tokens,
             md5(text) AS digest
      FROM documents),
    keepers AS (SELECT digest, min(doc_id) AS keep_id FROM t GROUP BY digest),
    g AS (
      SELECT doc_id, source,
             string_split_regex(lower(text), '\s+') AS tk,
             length(trim(text)) > 0 AS nonempty
      FROM documents),
    gf AS (
      SELECT doc_id,
        CAST(CASE WHEN nonempty THEN len(tk) ELSE 0 END AS BIGINT) AS ntok,
        CAST(CASE WHEN nonempty
             THEN COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
             ELSE 0 END AS BIGINT) AS swl,
        CAST(CASE WHEN nonempty
             THEN len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
             ELSE 0 END AS BIGINT) AS nalpha,
        CAST(len(list_filter(tk, x -> list_contains(
             ['the','be','to','of','and','that','have','with'], x)))
          AS BIGINT) AS nstop
      FROM g),
    gp AS (
      SELECT doc_id,
        (ntok >= 50 AND ntok <= 100000
         AND swl >= 3*ntok AND swl <= 10*ntok AND ntok > 0
         AND 10*nalpha >= 8*ntok
         AND nstop >= 2) AS passes
      FROM gf),
    verdicts AS (
      SELECT t.source, t.n_tokens,
             (gp.passes AND t.doc_id = k.keep_id) AS kept
      FROM t JOIN gp USING (doc_id) JOIN keepers k USING (digest))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM verdicts GROUP BY source
    """,
    tags=("datapipe", "text", "report", "dedup"),
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED pipeline run end-to-end — what a user actually
    executes nightly: quality-filter (the corpus_source_report
    simple-text Gopher ruleset) ∧ exact-dedup keep (smallest id per
    digest survives) → per-source kept-document and kept-token rollup.
    One corpus scan for the per-doc features + the (digest → min id)
    keeper aggregation joined back by digest — the integration gate
    proving the filter, dedup, and reporting tiers compose without
    re-scanning, and that their combined verdict matches an
    independently-recomposed oracle."""
    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs, carry_cols=("source", "text"))
    per_doc = flags.select(
        "doc_id",
        "source",
        "n_tokens",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_alpha_words")
            & F.col("r_stopwords")
        ).alias("passes"),
        F.md5("text").alias("digest"),
    )
    keepers = per_doc.groupBy("digest").agg(F.min("doc_id").alias("keep_id"))
    return (
        per_doc.join(keepers, "digest")
        .withColumn("kept", F.col("passes") & (F.col("doc_id") == F.col("keep_id")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


@register(
    "stream_count_min_table",
    oracle=r"""
    WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
    SELECT CAST(4 * count(*) AS BIGINT) AS total_mass,
           true AS tables_match
    FROM tok
    """,
    tags=("datapipe", "streaming", "sketch"),
)
def stream_count_min_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min ON THE STREAM: the sketch's (row, bucket) cell table is
    a plain streaming aggregation (complete mode) over the seeded-hash
    bucketing of the document token stream — sketches are the
    archetypal streaming-friendly state (fixed depth×width cells, no
    per-key growth). The gate drives the streamed table to completion,
    rebuilds the SAME table in batch, and verifies cell-for-cell
    equality engine-side (xxhash64 is engine-specific, so the oracle
    cannot rebuild cells; it checks the deterministic invariants
    instead: total sketch mass = depth × token count, and the
    batch/stream match verdict — the length_percentiles_approx
    engine-side-verification discipline)."""
    from proteus_engine_spark.datapipe.sketches import count_min_table
    from proteus_engine_spark.streaming.sources import file_stream, run_stream

    raw = file_stream(spark, sf_dir, "documents.parquet")
    stream_toks = raw.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    streamed, _ = run_stream(
        count_min_table(stream_toks, "token", depth=4, width=256),
        "stream_cms_sink", sf_dir, "documents", output_mode="complete",
    )
    batch_toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    )
    batch = count_min_table(batch_toks, "token", depth=4, width=256)
    only_stream = streamed.join(batch, ["row", "bucket", "c"], "left_anti").count()
    only_batch = batch.join(streamed, ["row", "bucket", "c"], "left_anti").count()
    total = streamed.agg(F.sum("c").alias("m")).collect()[0].m
    return spark.createDataFrame(
        [(int(total), only_stream == 0 and only_batch == 0)],
        "total_mass long, tables_match boolean",
    )


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH u1 AS (
      SELECT doc_id, greatest(n_chars, 1) AS weight,
             (48271 * ((doc_id % 2147483646) + 1)) % 2147483647 AS u
      FROM documents),
    u2 AS (SELECT doc_id, weight, (48271 * u) % 2147483647 AS u FROM u1),
    u3 AS (SELECT doc_id, weight, (48271 * u) % 2147483647 AS u FROM u2),
    es AS (
      SELECT doc_id, weight,
             CAST(round(1000000.0 * ln(u * 1.0 / 2147483647)
                  / weight, 0) AS BIGINT) AS es_micro
      FROM u3)
    SELECT doc_id, CAST(weight AS BIGINT) AS weight, es_micro
    FROM es ORDER BY es_micro DESC, doc_id LIMIT 50
    """,
    tags=("datapipe", "sampling"),
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (sampling.weighted_sample_es,
    Efraimidis-Spirakis): the 50 documents winning the u^(1/w) draw with
    w = n_chars — "sample proportional to length" with an exact output
    size, the primitive behind token-budget-aware subset selection. The
    uniform comes from a THREE-step iterated Lehmer LCG on doc_id (exact
    integer arithmetic in both engines; a single step is monotone for
    small sequential ids — r13 advice) and the ES key quantizes to
    micro-units before
    ranking; the global top-n is orderBy+limit (TakeOrdered — partial
    per-partition top-n, never a full sort). Oracle reproduces draw,
    quantization, and cut."""
    from proteus_engine_spark.datapipe.sampling import weighted_sample_es

    return weighted_sample_es(load_table(spark, sf_dir, "documents"), n=50)


@register(
    "dedup_incremental_fuzzy",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t)-2, 1)+1)]) AS s
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
            FROM documents)),
    b AS (SELECT doc_id, s FROM sh WHERE doc_id % 3 = 0),
    c AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 0),
    bg AS (SELECT doc_id, unnest(s) AS g FROM b),
    cg AS (SELECT doc_id, unnest(s) AS g FROM c),
    bs AS (SELECT doc_id, len(s) AS n FROM b),
    cs AS (SELECT doc_id, len(s) AS n FROM c),
    common AS (
      SELECT bg.doc_id AS a, cg.doc_id AS e, count(*) AS cnt
      FROM bg JOIN cg ON bg.g = cg.g GROUP BY 1, 2),
    matched AS (
      SELECT DISTINCT a FROM common
      JOIN bs ON bs.doc_id = common.a
      JOIN cs ON cs.doc_id = common.e
      WHERE CAST(cnt AS DOUBLE) / (bs.n + cs.n - cnt) >= 0.5)
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id % 3 = 0 AND d.doc_id NOT IN (SELECT a FROM matched)
    """,
    tags=("datapipe", "dedup"),
)
def dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP incremental dedup — the fuzzy tier of the continuous-
    crawl shape (dedup_incremental drops byte-exact re-crawls; this
    tier drops re-crawls that were lightly edited/re-punctuated): the
    re-ingest batch (doc_id % 3 = 0) keeps only documents with NO
    corpus neighbor (doc_id % 2 = 0) at shingle-Jaccard >= 0.5,
    via the BIPARTITE MinHash band join of decontam.fuzzy_overlap_pairs
    (batch bands join corpus bands — batch-batch collisions never
    generated; candidates exact-verified JVM-side) and a LEFT ANTI join
    on the matched ids. The doc_id % 6 = 0 cohort appears VERBATIM on
    both sides (J = 1), so the drop branch fires at every SF; the LSH
    parameters (64 perm / 16 bands) give recall 1 at J >= 0.5 at the
    gate SFs (the minhash_lsh_pairs discipline), so the exact-Jaccard
    oracle matches the approximate path."""
    from proteus_engine_spark.datapipe.decontam import fuzzy_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    pairs = fuzzy_overlap_pairs(batch, corpus, jaccard_threshold=0.5)
    return batch.join(
        pairs.select("doc_id").distinct(), "doc_id", "left_anti"
    ).select("doc_id", "source")
