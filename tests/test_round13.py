"""Round-13 additions: the q11 single-task-window fix (plan-asserted),
the span-REMOVAL tier of exact-substring dedup, and the salted-split
recall driver gate's invariants."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


# ----------------------------- q11: no unpartitioned window in the plan


def test_q11_plan_has_no_window_and_broadcasts_the_total(spark):
    """The global (total_cents, n_parts) must come from a 1-row broadcast
    — NOT `sum(...) OVER ()`: the grouped frame is parts-cardinality, and
    an unpartitioned window sorts it in a single task at scale. Assert on
    the executed plan: zero Window nodes, and the totals ride a
    BroadcastExchange/BroadcastNestedLoopJoin."""
    from proteus_engine_spark.queries.registry import REGISTRY

    df = REGISTRY["q11_important_stock"].fn(spark, SF)
    df.collect()  # final (post-AQE) plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_q11_totals_match_group_sum(spark):
    """Cross-check the broadcast totals path against an independent
    recomputation: every returned part must satisfy the 2x-mean cut
    recomputed from the full grouped frame."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.queries.relational_ext import derived_partsupp
    from proteus_engine_spark.queries.registry import REGISTRY
    from proteus_engine_spark.sources import load_table

    out = {r.ps_partkey: r.value_cents
           for r in REGISTRY["q11_important_stock"].fn(spark, SF).collect()}
    ps = derived_partsupp(spark, SF)
    cohort = load_table(spark, SF, "supplier").filter(F.col("s_nationkey") % 5 == 2)
    g = (
        ps.join(cohort, F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(F.sum(F.col("ps_cost_cents") * F.col("ps_availqty")).alias("v"))
        .collect()
    )
    total = sum(r.v for r in g)
    n = len(g)
    expect = {r.ps_partkey: r.v for r in g if r.v * n > 2 * total}
    assert out == expect


# ------------------------------------------- remove_duplicate_spans


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_remove_duplicate_spans_cuts_shared_span_only(spark):
    """Two docs share one 4-token span inside otherwise-unique text: the
    shared tokens (and every token covered by a duplicated window) are
    cut from both; unique tokens survive in order."""
    from proteus_engine_spark.datapipe.dedup import remove_duplicate_spans

    shared = "alpha beta gamma delta"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight nine {shared} ten eleven twelve"),
        (3, "completely unique text with no repeats at all here"),
    ]
    out = {r.doc_id: r for r in
           remove_duplicate_spans(_docs(spark, rows), k=4).collect()}
    assert out[1].text_clean == "one two three four five six"
    assert out[1].n_tokens == 10 and out[1].n_removed == 4
    assert out[2].text_clean == "seven eight nine ten eleven twelve"
    assert out[3].n_removed == 0
    assert out[3].text_clean == rows[2][1]


def test_remove_duplicate_spans_overlapping_windows_cover_union(spark):
    """A duplicated region longer than k removes the UNION of all covered
    positions — two docs sharing a 6-token run at k=4 lose all 6 tokens
    (three overlapping duplicated windows), not just the first 4."""
    from proteus_engine_spark.datapipe.dedup import remove_duplicate_spans

    run = "a b c d e f"
    rows = [(1, f"x1 {run} y1"), (2, f"x2 {run} y2")]
    out = {r.doc_id: r for r in
           remove_duplicate_spans(_docs(spark, rows), k=4).collect()}
    assert out[1].text_clean == "x1 y1"
    assert out[1].n_removed == 6
    assert out[2].text_clean == "x2 y2"


def test_remove_duplicate_spans_edge_docs(spark):
    """Short docs (< k tokens) pass through uncut even when identical;
    a fully-duplicated doc comes back as the empty string with every
    token counted removed; output is one row per input doc."""
    from proteus_engine_spark.datapipe.dedup import remove_duplicate_spans

    dup = "w1 w2 w3 w4 w5"
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, dup), (4, dup)]
    out = {r.doc_id: r for r in
           remove_duplicate_spans(_docs(spark, rows), k=5).collect()}
    assert len(out) == 4
    assert out[1].text_clean == "tiny doc" and out[1].n_removed == 0
    assert out[2].text_clean == "tiny doc"
    assert out[3].text_clean == "" and out[3].n_removed == 5
    assert out[4].text_clean == ""


def test_remove_duplicate_spans_consistent_with_scoring_tier(spark):
    """The removal tier and the scoring tier must agree on WHICH docs are
    touched: on the sf0.001 documents corpus, exactly the docs with
    n_dup_spans > 0 in duplicate_spans() have n_removed > 0 (docs shorter
    than k are absent from the scoring tier and uncut here)."""
    from proteus_engine_spark.datapipe.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    scored = {r.doc_id for r in duplicate_spans(docs, k=10).collect()
              if r.n_dup_spans > 0}
    removed = {r.doc_id for r in remove_duplicate_spans(docs, k=10).collect()
               if r.n_removed > 0}
    assert scored == removed
    assert len(removed) > 0  # the corpus genuinely exercises the cut


# ------------------------------------------------- semantic dedup (SemDeDup)


def test_semantic_dedup_keeps_lowest_id_per_duplicate_group(spark):
    """Production path (Lloyd-refined quantizer, n_iter=2): three groups
    of near-identical vectors along distinct directions + two singletons.
    Seeds are the lowest-id vectors, so ids 0-3 are deliberately spread
    across groups (one per direction) — Lloyd converges each group into
    its own cluster, and within each group exactly the lowest id
    survives; singletons always survive."""
    from proteus_engine_spark.datapipe.dedup import semantic_dedup

    def v(base, eps):
        return [float(b + e) for b, e in zip(base, eps)]

    g1, g2, g3 = [1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]
    s1, s2 = [0.6, -0.6, 0.4, 0.3], [-0.5, 0.3, -0.6, 0.55]
    rows = [
        (0, v(g1, [0, 0.01, 0, 0])), (4, v(g1, [0, 0, 0.02, 0])), (5, v(g1, [0.01, 0, 0, 0.01])),
        (1, v(g2, [0.02, 0, 0, 0])), (6, v(g2, [0, 0.01, 0.01, 0])), (7, v(g2, [0, 0, 0, 0.02])),
        (2, v(g3, [0, 0.02, 0, 0])), (8, v(g3, [0.01, 0, 0.01, 0])), (9, v(g3, [0, 0, 0.02, 0])),
        (3, v(s1, [0, 0, 0, 0])), (10, v(s2, [0, 0, 0, 0])),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semantic_dedup(emb, dim=4, n_clusters=4, n_iter=2, threshold=0.9).collect()}
    assert len(out) == 11
    kept = {i for i, r in out.items() if r.kept}
    assert kept == {0, 1, 2, 3, 10}
    # group members co-cluster (the within-cluster prune saw each group whole)
    assert out[0].cluster == out[4].cluster == out[5].cluster
    assert out[1].cluster == out[6].cluster == out[7].cluster
    assert out[2].cluster == out[8].cluster == out[9].cluster


def test_semantic_dedup_drop_rule_is_sound(spark):
    """On the real embeddings corpus: every dropped vector must have a
    lower-id same-cluster neighbor with cosine >= threshold (recomputed
    independently from the returned clusters + raw vectors), and the
    lowest id of every cluster is always kept."""
    import math

    from proteus_engine_spark.datapipe.dedup import semantic_dedup
    from proteus_engine_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings").limit(200)
    out = semantic_dedup(emb, n_iter=1, threshold=0.35).collect()
    vecs = {r.vec_id: r.embedding for r in
            emb.select("vec_id", "embedding").collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))), 6)

    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    n_dropped = 0
    for members in by_cluster.values():
        members.sort(key=lambda r: r.vec_id)
        assert members[0].kept  # lowest id of the cluster always survives
        for i, r in enumerate(members):
            if not r.kept:
                n_dropped += 1
                assert any(
                    cos(vecs[m.vec_id], vecs[r.vec_id]) >= 0.35
                    for m in members[:i]
                )
    assert n_dropped > 0  # the corpus genuinely exercises the prune


# --------------------------------------- cap-metrics probe degradation


def test_bucket_cap_metrics_degrades_without_private_probe(spark):
    """_BucketCapMetrics probes completion via pyspark-private
    Observation._jo; a pyspark upgrade that renames the attribute (or its
    getOrEmpty method) must degrade to the explicit stats_df fallback — a
    real measurement — never crash the accessor."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.dedup import _BucketCapMetrics

    stats = spark.range(1).select(
        F.lit(3).alias("oversized_buckets"),
        F.lit(42).alias("oversized_bucket_docs"),
        F.lit(17).alias("max_bucket_docs"),
    )

    class _NoJo:  # the post-rename shape: no _jo at all
        pass

    m = _BucketCapMetrics(_NoJo(), stats)
    assert m.get == {
        "oversized_buckets": 3,
        "oversized_bucket_docs": 42,
        "max_bucket_docs": 17,
    }

    class _RenamedMethod:  # _jo exists but its accessor surface changed
        class _J:
            def __getattr__(self, name):
                raise AttributeError(name)

        _jo = _J()

    m2 = _BucketCapMetrics(_RenamedMethod(), stats)
    assert m2.get["oversized_buckets"] == 3


# ------------------------------------------- salted-recall gate invariants


def test_salted_recall_gate_booleans_hold(spark):
    """The driver gate's measured booleans hold at the smallest SF (the
    derived 120-doc probe is SF-independent as long as documents has 120
    ids, which every driver SF does)."""
    from proteus_engine_spark.queries.registry import REGISTRY

    row = REGISTRY["dedup_lsh_salted_recall"].fn(spark, SF).collect()[0]
    assert row.n_exact_pairs == 7140  # C(120,2)
    assert row.survivors_qualify is True
    assert row.recall_floor_met is True


# ----------------------------- Bloom-prefiltered decontamination


class TestBloomDecontam:
    def _frames(self, spark):
        from pyspark.sql import functions as F

        from proteus_engine_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        return (
            docs.filter(F.col("doc_id") % 53 != 0),
            docs.filter(F.col("doc_id") % 53 == 0),
        )

    def test_bloom_output_identical_to_exact_path(self, spark):
        """A Bloom filter has no false negatives and survivors re-pass the
        exact join, so the prefiltered counts must EQUAL the exact path's
        for any (m_bits, k) — checked at the default and at a deliberately
        tiny bitmap (256 bits: high FP rate, everything still correct)."""
        from proteus_engine_spark.datapipe.decontam import (
            ngram_overlap_counts,
            ngram_overlap_counts_bloom,
        )

        corpus, ev = self._frames(spark)
        exact = {
            r.doc_id: r.n_shared_grams
            for r in ngram_overlap_counts(corpus, ev, n=3).collect()
        }
        assert exact, "split must produce a non-empty overlap set"
        for m_bits, k in ((1 << 23, 3), (256, 2)):
            got = {
                r.doc_id: r.n_shared_grams
                for r in ngram_overlap_counts_bloom(
                    corpus, ev, n=3, m_bits=m_bits, k_hashes=k
                ).collect()
            }
            assert got == exact

    def test_bloom_actually_prunes(self, spark):
        """At the default sizing the prefilter must remove most of the
        corpus gram stream (the entire point of the tier). Measured by
        running the probe stage standalone: survivors << total grams."""
        import numpy as np
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe import decontam as dc

        corpus, ev = self._frames(spark)
        n = 3
        from proteus_engine_spark.datapipe.dedup import shingle_array
        from proteus_engine_spark.datapipe.textstats import _tokens

        grams = corpus.select(
            F.explode(
                F.when(F.size(_tokens("text")) >= n, shingle_array("text", k=n))
                .otherwise(F.array().cast("array<string>"))
            ).alias("gram")
        ).select(F.xxhash64("gram").alias("gh"))
        total = grams.count()
        # Rebuild the same bitmap the operator builds and probe in numpy.
        ev_grams = ev.select(
            F.explode(
                F.when(F.size(_tokens("text")) >= n, shingle_array("text", k=n))
                .otherwise(F.array().cast("array<string>"))
            ).alias("gram")
        ).select(F.xxhash64("gram").alias("gh")).distinct()
        m_bits, k = 1 << 23, 3
        pos = ev_grams.select(
            F.explode(F.array(*dc._gram_positions(F.col("gh"), m_bits, k))).alias("p")
        ).distinct()
        bits = np.zeros(m_bits >> 3, dtype=np.uint8)
        p = np.array([r.p for r in pos.collect()], dtype=np.int64)
        np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
        probe = grams.select(
            "gh", F.array(*dc._gram_positions(F.col("gh"), m_bits, k)).alias("bp")
        ).collect()
        hits = 0
        for r in probe:
            bp = np.array(r.bp, dtype=np.int64)
            if (((bits[bp >> 3] >> (bp & 7)) & 1) == 1).all():
                hits += 1
        # The synthetic corpus is contamination-heavy vs a real pipeline,
        # so just require REAL pruning, not a production ratio.
        assert hits < total * 0.9
        assert hits > 0

    def test_bloom_validation(self, spark):
        from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts_bloom

        corpus, ev = self._frames(spark)
        with pytest.raises(ValueError, match="power of two"):
            ngram_overlap_counts_bloom(corpus, ev, m_bits=1000)
        with pytest.raises(ValueError, match="k_hashes"):
            ngram_overlap_counts_bloom(corpus, ev, k_hashes=0)

    def test_decontaminate_bloom_wrapper_matches_exact(self, spark):
        from proteus_engine_spark.datapipe.decontam import decontaminate

        corpus, ev = self._frames(spark)
        kept_exact = {r.doc_id for r in decontaminate(corpus, ev, n=3).collect()}
        # the bloom tier is a prefilter inside the counts; the wrapper
        # parity check goes through the counts equality above, so here
        # just pin the anti-join contract: kept = corpus - flagged
        from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts_bloom

        flagged = {
            r.doc_id for r in ngram_overlap_counts_bloom(corpus, ev, n=3).collect()
        }
        all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
        assert kept_exact == all_ids - flagged


# ----------------------------- Fuzzy (MinHash bipartite) decontamination


class TestFuzzyDecontam:
    def _frames(self, spark):
        from pyspark.sql import functions as F

        from proteus_engine_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        return (
            docs.filter(F.col("doc_id") % 10 != 5),
            docs.filter(F.col("doc_id") % 10 == 5),
        )

    def test_fuzzy_pairs_equal_exact_bipartite_jaccard(self, spark):
        """The exact-verified LSH output must equal the brute-force
        bipartite Jaccard pair set at this threshold (the corpus's
        qualifying pairs all have J >= 0.9 — recall-1 territory for
        64 perms / 16 bands)."""
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.decontam import fuzzy_overlap_pairs
        from proteus_engine_spark.datapipe.dedup import shingle_array

        corpus, ev = self._frames(spark)
        got = {
            (r.doc_id, r.eval_id): round(r.jaccard, 6)
            for r in fuzzy_overlap_pairs(corpus, ev, jaccard_threshold=0.5).collect()
        }
        c = corpus.select(F.col("doc_id").alias("cid"), shingle_array("text").alias("cs"))
        e = ev.select(F.col("doc_id").alias("eid"), shingle_array("text").alias("es"))
        jac = (
            F.size(F.array_intersect("cs", "es")).cast("double")
            / F.size(F.array_union("cs", "es"))
        ).alias("j")
        want = {
            (r.cid, r.eid): round(r.j, 6)
            for r in c.crossJoin(e).select("cid", "eid", jac)
            .filter(F.col("j") >= 0.5)
            .collect()
        }
        assert got == want
        assert want, "split must cross at least one planted near-dup pair"

    def test_fuzzy_decontaminate_drops_exactly_flagged(self, spark):
        from proteus_engine_spark.datapipe.decontam import (
            fuzzy_decontaminate,
            fuzzy_overlap_pairs,
        )

        corpus, ev = self._frames(spark)
        flagged = {
            r.doc_id
            for r in fuzzy_overlap_pairs(corpus, ev, jaccard_threshold=0.5).collect()
        }
        kept = {r.doc_id for r in fuzzy_decontaminate(corpus, ev).collect()}
        all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
        assert kept == all_ids - flagged

    def test_fuzzy_validation(self, spark):
        from proteus_engine_spark.datapipe.decontam import fuzzy_overlap_pairs

        corpus, ev = self._frames(spark)
        with pytest.raises(ValueError, match="divide"):
            fuzzy_overlap_pairs(corpus, ev, num_perm=64, bands=7)


class TestBloomDecontamEdges:
    def test_bloom_empty_eval_set_flags_nothing(self, spark):
        """An empty benchmark builds an all-zero bitmap: every corpus gram
        is pruned map-side and the output is empty — same answer as the
        exact path, with the join input already empty."""
        from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts_bloom

        corpus, ev = TestBloomDecontam._frames(self, spark)
        empty = ev.filter("doc_id < 0")
        assert ngram_overlap_counts_bloom(corpus, empty, n=3).count() == 0

    def test_bloom_short_docs_contribute_no_grams(self, spark):
        """Docs shorter than n tokens emit no grams on either side (the
        decontam convention) — a corpus of only short docs yields an
        empty overlap set even against a contaminated eval side."""
        from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts_bloom

        corpus, ev = TestBloomDecontam._frames(self, spark)
        short = corpus.selectExpr(
            "doc_id",
            "array_join(slice(split(lower(text), '\\\\s+'), 1, 2), ' ') AS text",
        )
        assert ngram_overlap_counts_bloom(short, ev, n=3).count() == 0


# ----------------------------- quality-percentile bucketing


class TestQualityBuckets:
    def test_equal_frequency_and_range(self, spark):
        """Deciles over a distinct-score frame must be equal-frequency
        (ties absent → exact N/10 per bucket when N divides evenly), and
        bucket ids must cover 1..n in score order."""
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.textstats import quality_buckets

        scored = spark.range(100).select(
            F.col("id").alias("doc_id"), (F.col("id") * 1.5).alias("logprob")
        )
        out = quality_buckets(scored, n_buckets=10).collect()
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r.bucket, []).append(r.logprob)
        assert sorted(by_bucket) == list(range(1, 11))
        assert all(len(v) == 10 for v in by_bucket.values())
        # score order respects bucket order
        for b in range(1, 10):
            assert max(by_bucket[b]) < min(by_bucket[b + 1])

    def test_ties_land_in_the_lower_bucket(self, spark):
        """All-equal scores: every cut equals the score, the strict <
        puts every row in bucket 1 — no row may be split across buckets
        by a tie."""
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.textstats import quality_buckets

        scored = spark.range(50).select(
            F.col("id").alias("doc_id"), F.lit(7.25).alias("logprob")
        )
        out = quality_buckets(scored, n_buckets=10).collect()
        assert {r.bucket for r in out} == {1}

    def test_no_window_in_plan(self, spark):
        """The whole point: bucket assignment must NOT be an ntile-style
        unpartitioned window (single-task sort at scale) — the executed
        plan has zero Window nodes and the cuts ride a broadcast."""
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.textstats import quality_buckets

        scored = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 37 * 0.5).alias("logprob"),
        )
        df = quality_buckets(scored, n_buckets=4)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "Broadcast" in plan

    def test_validation(self, spark):
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.textstats import quality_buckets

        scored = spark.range(10).select(
            F.col("id").alias("doc_id"), F.col("id").cast("double").alias("logprob")
        )
        with pytest.raises(ValueError, match="n_buckets"):
            quality_buckets(scored, n_buckets=1)


# ----------------------------- document chunking


class TestChunkDocuments:
    def test_window_layout(self, spark):
        """10 tokens, chunk_size=4, overlap=1 (stride 3): starts 1,4,7 —
        last chunk covers the final token, middle chunks share exactly
        one token with their predecessor."""
        from proteus_engine_spark.datapipe.packing import chunk_documents

        doc = _docs(spark, [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")])
        out = sorted(
            chunk_documents(doc, chunk_size=4, overlap=1).collect(),
            key=lambda r: r.chunk_id,
        )
        assert [r.chunk_text for r in out] == [
            "t1 t2 t3 t4",
            "t4 t5 t6 t7",
            "t7 t8 t9 t10",
        ]
        assert [r.n_chunk_tokens for r in out] == [4, 4, 4]

    def test_partial_tail_and_short_docs(self, spark):
        """A non-aligned doc keeps a short tail chunk; a doc shorter than
        chunk_size yields exactly one (short) chunk; an empty doc yields
        none."""
        from proteus_engine_spark.datapipe.packing import chunk_documents

        docs = _docs(spark, [(1, "a b c d e"), (2, "x y"), (3, "   ")])
        out = {}
        for r in chunk_documents(docs, chunk_size=3, overlap=0).collect():
            out.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
        assert sorted(out[1]) == [(0, "a b c"), (1, "d e")]
        assert out[2] == [(0, "x y")]
        assert 3 not in out

    def test_coverage_reconstructs_doc_at_zero_overlap(self, spark):
        """overlap=0 chunks concatenate back to the original token stream
        for every document of the sf0.001 corpus."""
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.packing import chunk_documents
        from proteus_engine_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        rebuilt = (
            chunk_documents(docs, chunk_size=16, overlap=0)
            .groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                        lambda s: s["chunk_text"],
                    ),
                    " ",
                ).alias("re")
            )
        )
        orig = docs.select(
            "doc_id",
            F.array_join(F.split(F.trim("text"), r"\s+"), " ").alias("want"),
        ).filter(F.length(F.trim("text")) > 0)
        bad = rebuilt.join(orig, "doc_id").filter(F.col("re") != F.col("want")).count()
        assert bad == 0
        assert rebuilt.count() == orig.count()

    def test_validation(self, spark):
        from proteus_engine_spark.datapipe.packing import chunk_documents

        docs = _docs(spark, [(1, "a b c")])
        with pytest.raises(ValueError, match="chunk_size"):
            chunk_documents(docs, chunk_size=0)
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(docs, chunk_size=4, overlap=4)


# ----------------------------- deterministic epoch shuffle


class TestShuffleOrder:
    def test_positions_are_a_permutation_and_reproducible(self, spark):
        from proteus_engine_spark.datapipe.sampling import shuffle_order
        from proteus_engine_spark.sources import load_table

        docs = load_table(spark, SF, "documents").select("doc_id")
        a = {r.doc_id: r.pos for r in shuffle_order(docs, salt="s1").collect()}
        assert sorted(a.values()) == list(range(len(a)))
        b = {r.doc_id: r.pos for r in shuffle_order(docs, salt="s1").collect()}
        assert a == b

    def test_salt_reshuffles(self, spark):
        """Different salts give materially different permutations (epoch
        re-shuffle), but each is still a full permutation."""
        from proteus_engine_spark.datapipe.sampling import shuffle_order
        from proteus_engine_spark.sources import load_table

        docs = load_table(spark, SF, "documents").select("doc_id")
        a = {r.doc_id: r.pos for r in shuffle_order(docs, salt="ep1").collect()}
        b = {r.doc_id: r.pos for r in shuffle_order(docs, salt="ep2").collect()}
        moved = sum(1 for k in a if a[k] != b[k])
        assert moved > len(a) * 0.9
        assert sorted(b.values()) == list(range(len(b)))


# ----------------------------- winnowing fingerprints


class TestWinnowing:
    def test_shared_run_guarantee(self, spark):
        """The winnowing guarantee: two docs sharing a run of
        window + k - 1 tokens share at least one fingerprint; docs with
        no shared run of that length (distinct vocabularies) share
        none."""
        from proteus_engine_spark.datapipe.textstats import winnowing_fingerprints

        shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # window+k-1 = 4+5-1 = 8 tokens
        rows = [
            (1, f"a1 a2 a3 {shared} a4 a5"),
            (2, f"b1 b2 {shared} b3 b4 b5"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        ]
        fps = {}
        out = winnowing_fingerprints(_docs(spark, rows), k=5, window=4).collect()
        for r in out:
            fps.setdefault(r.doc_id, set()).add(r.fingerprint)
        assert fps[1] & fps[2]
        assert not (fps[1] & fps[3])
        assert not (fps[2] & fps[3])

    def test_boundary_conventions(self, spark):
        """Docs with >= 1 gram but fewer grams than the window emit
        exactly one fingerprint (the global min); docs shorter than k
        emit none; identical docs emit identical sets."""
        from proteus_engine_spark.datapipe.textstats import winnowing_fingerprints

        rows = [(1, "t1 t2 t3 t4 t5 t6"), (2, "x1 x2 x3"), (3, "t1 t2 t3 t4 t5 t6")]
        out = winnowing_fingerprints(_docs(spark, rows), k=5, window=4).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
        assert len(by_doc[1]) == 1  # 2 grams < window -> single min
        assert 2 not in by_doc
        assert by_doc[1] == by_doc[3]

    def test_density(self, spark):
        """Selected fingerprints per doc are ~2/(window+1) of grams (the
        paper's expected density) — sanity-bound it on the real corpus
        (distinct-collapse can only lower it)."""
        from proteus_engine_spark.datapipe.textstats import winnowing_fingerprints
        from proteus_engine_spark.sources import load_table

        docs = load_table(spark, SF, "documents")
        n_fp = winnowing_fingerprints(docs, k=5, window=4).count()
        import pyspark.sql.functions as F

        n_grams = (
            docs.select((F.size(F.split(F.lower("text"), r"\s+")) - 4).alias("g"))
            .filter("g > 0").agg(F.sum("g")).collect()[0][0]
        )
        assert 0.2 * n_grams < n_fp < 0.75 * n_grams

    def test_validation(self, spark):
        from proteus_engine_spark.datapipe.textstats import winnowing_fingerprints

        with pytest.raises(ValueError, match="k must"):
            winnowing_fingerprints(_docs(spark, [(1, "a")]), k=0)
        with pytest.raises(ValueError, match="window"):
            winnowing_fingerprints(_docs(spark, [(1, "a")]), window=0)


# ----------------------------- pure-Python Avro codec


class TestAvroCodec:
    FIELDS = [
        ("a", "long", False), ("b", "string", True), ("c", "double", False),
        ("d", "bytes", True), ("e", "boolean", False), ("f", "int", True),
        ("g", "float", False),
    ]
    ROWS = [
        (0, "hello", 1.5, b"xyz", True, 7, 0.5),
        (-1, None, -2.25, None, False, -(2**31) + 1, -1.25),
        (2**62, "", 0.0, b"", True, None, 2.0),
        (-(2**62), "unicodé €", float("inf"), b"\x00\xff", False, 0, -0.0),
    ]

    def test_container_roundtrip_both_codecs_multiblock(self):
        from hashlib import md5

        from proteus_engine_spark.sources.avro_codec import (
            decode_container,
            encode_container,
        )

        for codec in ("null", "deflate"):
            blob = encode_container(
                self.ROWS, self.FIELDS, md5(b"s").digest(), codec=codec, block_rows=2
            )
            fields, rows = decode_container(blob)
            assert fields == self.FIELDS
            assert rows == self.ROWS

    def test_container_error_paths(self):
        from hashlib import md5

        from proteus_engine_spark.sources.avro_codec import (
            decode_container,
            encode_container,
        )

        blob = encode_container(self.ROWS, self.FIELDS, md5(b"s").digest())
        with pytest.raises(ValueError, match="magic"):
            decode_container(b"Bad1" + blob[4:])
        with pytest.raises(ValueError, match="truncated"):
            decode_container(blob[:-3])
        with pytest.raises(ValueError, match="codec"):
            encode_container(self.ROWS, self.FIELDS, md5(b"s").digest(), codec="snappy")
        with pytest.raises(ValueError, match="sync"):
            encode_container(self.ROWS, self.FIELDS, b"short")
        with pytest.raises(ValueError, match="non-nullable"):
            encode_container([(None, "x", 1.0, b"", True, 1, 0.0)], self.FIELDS,
                             md5(b"s").digest())

    def test_spark_roundtrip_preserves_values_and_parallel_layout(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from proteus_engine_spark.sources.avro_codec import read_avro, write_avro

        df = spark.range(2003).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 7 == 0, None)
            .otherwise(F.concat(F.lit("v"), F.col("id"))).alias("s"),
            (F.col("id") * 0.25 - 100).alias("d"),
            F.encode(F.concat(F.lit("b"), F.col("id")), "utf-8").alias("payload"),
            (F.col("id") % 3 == 0).alias("flag"),
        ).repartition(5)
        path = str(tmp_path / "rt")
        n = write_avro(df, path, codec="deflate")
        assert n == 2003
        import glob

        assert len(glob.glob(f"{path}/*.avro")) == 5  # one file per partition
        back = read_avro(spark, path, "k long, s string, d double, payload binary, flag boolean")
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, back.collect()))

    def test_spark_unsupported_type_raises(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from proteus_engine_spark.sources.avro_codec import write_avro

        df = spark.range(3).select(F.array(F.col("id")).alias("arr"))
        with pytest.raises(ValueError, match="no mapping"):
            write_avro(df, str(tmp_path / "bad"))

    def test_reader_schema_mismatch_raises(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from proteus_engine_spark.sources.avro_codec import read_avro, write_avro

        df = spark.range(5).select(F.col("id").alias("k"))
        path = str(tmp_path / "mm")
        write_avro(df, path)
        with pytest.raises(Exception, match="does not match"):
            read_avro(spark, path, "k string").collect()


# ----------------------------- Avro codec property tests (pure Python)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    _avro_type = st.sampled_from(
        ["boolean", "int", "long", "float", "double", "string", "bytes"]
    )
    _fields_strategy = st.lists(
        st.tuples(
            st.text(alphabet="abcdefgh", min_size=1, max_size=6),
            _avro_type,
            st.booleans(),
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda f: f[0],
    )

    def _value_for(typ: str, nullable: bool):
        base = {
            "boolean": st.booleans(),
            # int values ride the same zigzag-long wire as long
            "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
            "long": st.integers(min_value=-(2**63), max_value=2**63 - 1),
            # whole floats survive the float32 round-trip exactly
            "float": st.integers(min_value=-(2**20), max_value=2**20).map(float),
            "double": st.floats(allow_nan=False),
            "string": st.text(max_size=40),
            "bytes": st.binary(max_size=40),
        }[typ]
        return st.none() | base if nullable else base

    class TestAvroProperties:
        @settings(max_examples=150, deadline=None)
        @given(data=st.data(), fields=_fields_strategy)
        def test_roundtrip_any_schema_any_rows(self, data, fields):
            """decode(encode(rows)) == rows for arbitrary schemas within
            the supported subset, arbitrary row counts, both codecs, and
            block sizes that force multi-block containers."""
            from hashlib import md5

            from proteus_engine_spark.sources.avro_codec import (
                decode_container,
                encode_container,
            )

            row = st.tuples(*[_value_for(t, nl) for _, t, nl in fields])
            rows = data.draw(st.lists(row, max_size=25))
            codec = data.draw(st.sampled_from(["null", "deflate"]))
            block_rows = data.draw(st.sampled_from([1, 3, 50_000]))
            blob = encode_container(
                rows, fields, md5(b"prop").digest(), codec=codec, block_rows=block_rows
            )
            got_fields, got_rows = decode_container(blob)
            assert got_fields == fields
            assert got_rows == rows

        @settings(max_examples=80, deadline=None)
        @given(n=st.integers(min_value=-(2**63), max_value=2**63 - 1))
        def test_zigzag_varint_roundtrip(self, n):
            import io

            from proteus_engine_spark.sources.avro_codec import _Reader, _write_long

            out = io.BytesIO()
            _write_long(out, n)
            assert _Reader(out.getvalue()).long() == n

        def test_nan_payload_survives_bitwise(self):
            """NaN is excluded from the equality property above (NaN !=
            NaN); pin it separately: the double NaN bit pattern survives
            the round trip."""
            import math
            from hashlib import md5

            from proteus_engine_spark.sources.avro_codec import (
                decode_container,
                encode_container,
            )

            fields = [("x", "double", False)]
            blob = encode_container(
                [(float("nan"),)], fields, md5(b"n").digest()
            )
            _, rows = decode_container(blob)
            assert math.isnan(rows[0][0])


def test_schema_inference_from_header(spark, tmp_path):
    """read_avro(schema=None) derives the Spark schema from the first
    file's embedded writer schema and round-trips identically."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.sources.avro_codec import read_avro, write_avro

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("n"), F.col("id")).alias("s"),
        (F.col("id") % 2 == 0).alias("even"),
    )
    path = str(tmp_path / "inf")
    write_avro(df, path)
    back = read_avro(spark, path)
    assert back.schema["k"].dataType.simpleString() == "bigint"
    assert back.schema["s"].dataType.simpleString() == "string"
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, back.collect()))


# ----------------------------- product-quantization ANN


class TestPQAnn:
    def _frames(self, spark):
        from pyspark.sql import functions as F

        from proteus_engine_spark.sources import load_table

        emb = load_table(spark, SF, "embeddings")
        vec = F.col("embedding").cast("array<double>")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), vec.alias("vec")
        )
        c = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
        return q, c

    def test_encode_shape_and_range(self, spark):
        """Every vector gets exactly m codes, each in [0, n_codes)."""
        from proteus_engine_spark.datapipe.similarity import pq_codebooks, pq_encode

        _, c = self._frames(spark)
        books = pq_codebooks(c, dim=64, m_subspaces=4, n_codes=16, n_iter=0)
        assert len(books) == 4 and all(len(b) == 16 for b in books)
        enc = pq_encode(c, books, dim=64).collect()
        assert len(enc) == c.count()
        for r in enc:
            for s in range(4):
                assert 0 <= r[f"code_{s}"] < 16

    def test_production_recall_vs_bruteforce(self, spark):
        """Lloyd-trained codebooks (n_iter=2) + ADC top-32 + exact re-rank
        must recover most of the true top-5 on the real corpus (PQ with
        m=4 is a coarse 64->4 compression; demand a realistic floor, not
        perfection)."""
        from proteus_engine_spark.datapipe.similarity import (
            brute_force_topk,
            pq_ann_topk,
        )

        q, c = self._frames(spark)
        truth = {}
        for r in brute_force_topk(q, c, k=5).collect():
            truth.setdefault(r.q_id, set()).add(r.c_id)
        got = {}
        for r in pq_ann_topk(q, c, dim=64, k=5, n_iter=2, n_candidates=32).collect():
            got.setdefault(r.q_id, set()).add(r.c_id)
        hits = sum(len(truth[qi] & got.get(qi, set())) for qi in truth)
        total = sum(len(v) for v in truth.values())
        assert hits / total >= 0.6, f"recall {hits}/{total}"
        # each query is a corpus member; its self-ADC equals its own
        # quantization error, which on this corpus is small enough to
        # survive the 32-candidate cut — so the exact re-rank must place
        # it (cos = 1.0) in its own top-5
        for qi, ids in got.items():
            assert qi in ids

    def test_validation(self, spark):
        from proteus_engine_spark.datapipe.similarity import (
            pq_ann_topk,
            pq_codebooks,
        )

        q, c = self._frames(spark)
        with pytest.raises(ValueError, match="divide"):
            pq_codebooks(c, dim=64, m_subspaces=5)
        with pytest.raises(ValueError, match="n_candidates"):
            pq_ann_topk(q, c, dim=64, k=10, n_candidates=5)

    def test_ivfpq_composition_recall_and_dedup(self, spark):
        """IVF-PQ: probed-cell pruning + ADC + exact re-rank. Same recall
        floor as plain PQ (the probe loses a little more), one row per
        (q, c) even when a candidate appears via several probed cells,
        and every emitted cos_sim must equal the brute-force value for
        that exact pair."""
        from proteus_engine_spark.datapipe.similarity import (
            brute_force_topk,
            ivfpq_ann_topk,
        )

        q, c = self._frames(spark)
        truth_rows = brute_force_topk(q, c, k=5).collect()
        truth = {}
        exact_sim = {}
        for r in truth_rows:
            truth.setdefault(r.q_id, set()).add(r.c_id)
            exact_sim[(r.q_id, r.c_id)] = r.cos_sim
        out = ivfpq_ann_topk(q, c, dim=64, k=5, n_iter=2, n_candidates=32).collect()
        seen = set()
        got = {}
        for r in out:
            assert (r.q_id, r.c_id) not in seen, "duplicate pair emitted"
            seen.add((r.q_id, r.c_id))
            got.setdefault(r.q_id, set()).add(r.c_id)
            if (r.q_id, r.c_id) in exact_sim:
                assert r.cos_sim == exact_sim[(r.q_id, r.c_id)]
        hits = sum(len(truth[qi] & got.get(qi, set())) for qi in truth)
        total = sum(len(v) for v in truth.values())
        assert hits / total >= 0.5, f"recall {hits}/{total}"
        for qi, ids in got.items():
            assert qi in ids  # self-retrieval survives the probe + ADC cut


# ----------------------------- weighted corpus interleave


class TestInterleave:
    def test_pacing_density_and_permutation(self, spark):
        """Two groups, weight 3 vs 1: the heavy group appears ~3x as
        densely in any prefix of the stream; positions are a total
        permutation."""
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.sampling import interleave_by_weight

        df = spark.range(400).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 4 < 3, "heavy").otherwise("light").alias("g"),
        )
        out = sorted(
            interleave_by_weight(df, "g", {"heavy": 3.0, "light": 1.0}).collect(),
            key=lambda r: r.pos,
        )
        assert [r.pos for r in out] == list(range(400))
        prefix = out[:100]
        n_heavy = sum(1 for r in prefix if r.g == "heavy")
        assert 65 <= n_heavy <= 85  # ~75 expected at 3:1 pacing
        # equal-weight sanity: within each group the order is the epoch
        # shuffle (no id-monotone blocks)
        heavy_ids = [r.doc_id for r in out if r.g == "heavy"]
        assert heavy_ids != sorted(heavy_ids)

    def test_validation(self, spark):
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.sampling import interleave_by_weight

        df = spark.range(10).select(
            F.col("id").alias("doc_id"), F.lit("a").alias("g")
        )
        with pytest.raises(ValueError, match="must be > 0"):
            interleave_by_weight(df, "g", {"a": 0})
        # r18: the coverage guard moved in-plan (no driver-side pre-scan
        # of the group column) — it now raises from the executor when the
        # pacing expression is materialized, not as a call-time ValueError
        with pytest.raises(Exception, match="without a weight"):
            interleave_by_weight(df, "g", {"b": 1.0}).collect()


# ----------------------------- token-budget sampling


class TestTokenBudget:
    def test_prefix_semantics_and_exact_cut(self, spark):
        """Keep = the maximal shuffled prefix with inclusive cumsum within
        budget; the first overflowing doc AND its successors drop (prefix,
        not knapsack). Verified against an independently computed cumsum
        in the same md5 order."""
        import hashlib

        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.sampling import sample_to_token_budget

        rows = [(i, "g", "tok " * (10 + i % 7)) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, g string, text string")
        sz = {i: (10 + i % 7) for i in range(40)}
        order = sorted(range(40), key=lambda i: (hashlib.md5(f"s{i}".encode()).hexdigest(), i))
        budget, run, want = 200, 0, {}
        for i in order:
            run += sz[i]
            if run > budget:
                break
            want[i] = run
        out = {
            r.doc_id: r.group_cumsum
            for r in sample_to_token_budget(
                df, "g", {"g": budget},
                size_col=F.size(F.split(F.trim("text"), r"\s+")),
                salt="s",
            ).collect()
        }
        assert out == want
        assert 0 < len(want) < 40  # the budget genuinely cuts mid-group

    def test_zero_budget_and_validation(self, spark):
        from pyspark.sql import functions as F

        from proteus_engine_spark.datapipe.sampling import sample_to_token_budget

        df = spark.createDataFrame(
            [(1, "a", "x y"), (2, "b", "x y z")], "doc_id long, g string, text string"
        )
        sz = F.size(F.split("text", r"\s+"))
        out = sample_to_token_budget(df, "g", {"a": 0, "b": 100}, size_col=sz).collect()
        assert {r.doc_id for r in out} == {2}
        with pytest.raises(ValueError, match="must be >= 0"):
            sample_to_token_budget(df, "g", {"a": -1, "b": 1}, size_col=sz)
        # r18: in-plan coverage guard (see interleave_by_weight note) —
        # the error surfaces at the first action over the returned frame
        with pytest.raises(Exception, match="without a budget"):
            sample_to_token_budget(df, "g", {"a": 5}, size_col=sz).collect()


# ----------------------------- normalized exact dedup


def test_normalize_text_merges_layout_variants(spark):
    """Case / punctuation / whitespace variants canonicalize to one
    string and dedupe together; genuinely different content does not."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.dedup import exact_dedup
    from proteus_engine_spark.datapipe.textstats import normalize_text

    rows = [
        (1, "Hello,   World!"),
        (2, "hello world"),
        (3, "HELLO... WORLD"),
        (4, "goodbye world"),
    ]
    docs = _docs(spark, rows).select("doc_id", normalize_text("text").alias("text"))
    out = {r.content_hash: r for r in exact_dedup(docs).collect()}
    assert len(out) == 2
    by_copies = sorted((r.n_copies, r.keep_id) for r in out.values())
    assert by_copies == [(1, 4), (3, 1)]  # lowest id kept in the merged group
    # byte-exact dedup would NOT merge these
    from proteus_engine_spark.datapipe.dedup import exact_dedup as ed

    raw = ed(_docs(spark, rows))
    assert raw.count() == 4


# ----------------------------- Gopher quality rule set


def test_gopher_rules_python_mirror(spark):
    """Every rule bit and counter must match a plain-Python recomputation
    over the same documents — the rules are pure integer arithmetic, so
    the mirror is exact, not tolerance-based."""
    import re

    from proteus_engine_spark.datapipe.textstats import (
        GOPHER_STOPWORDS,
        gopher_quality_flags,
    )
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    rows = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    for raw in docs.select("doc_id", "text").collect():
        t = raw.text
        toks = re.split(r"\s+", t.lower()) if t.strip() else []
        lines = t.split("\n")
        n_tok = len(toks)
        sum_wl = sum(len(x) for x in toks)
        n_alpha = sum(1 for x in toks if re.search("[a-z]", x))
        n_stop = sum(1 for x in toks if x in set(GOPHER_STOPWORDS))
        n_bullet = sum(1 for l in lines if re.match(r"^\s*[-*•]", l))
        n_ell = sum(1 for l in lines if re.search(r"(\.\.\.|…)\s*$", l))
        n_hash = t.count("#")
        n_dots = len(re.findall(r"\.\.\.|…", t))
        got = rows[raw.doc_id]
        assert got.n_tokens == n_tok
        assert got.sum_word_len == sum_wl
        assert got.n_alpha_words == n_alpha
        assert got.n_stop_hits == n_stop
        assert got.r_word_count == (50 <= n_tok <= 100_000)
        assert got.r_mean_word_len == (3 * n_tok <= sum_wl <= 10 * n_tok and n_tok > 0)
        assert got.r_symbol_ratio == (10 * n_hash < n_tok and 10 * n_dots < n_tok)
        assert got.r_bullet_lines == (10 * n_bullet <= 9 * len(lines))
        assert got.r_ellipsis_lines == (10 * n_ell <= 3 * len(lines))
        assert got.r_alpha_words == (10 * n_alpha >= 8 * n_tok and n_tok > 0)
        assert got.r_stopwords == (n_stop >= 2)
        assert got.passes == all([
            got.r_word_count, got.r_mean_word_len, got.r_symbol_ratio,
            got.r_bullet_lines, got.r_ellipsis_lines, got.r_alpha_words,
            got.r_stopwords,
        ])


def test_gopher_rules_edge_docs(spark):
    """Bullet/ellipsis/empty-document edges the corpus lacks: the rules
    must fire on synthetic adversarial docs (multi-line bullets, ellipsis
    endings, symbol soup, empty text)."""
    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags

    docs = spark.createDataFrame(
        [
            (1, "- one\n- two\n- three\nplain"),          # 3/4 bullet lines: fails >90%? no — 75% <= 90% passes
            (2, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),  # 100% bullets
            (3, "end one...\nend two...\nplain line"),    # 2/3 ellipsis > 30%
            (4, "# # # # word"),                          # symbol-heavy
            (5, ""),                                      # empty
            (6, "the be to of and that have with " + "ok " * 60),  # passes most
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert out[1].r_bullet_lines is True
    assert out[2].r_bullet_lines is False
    assert out[3].r_ellipsis_lines is False
    assert out[4].r_symbol_ratio is False
    assert out[5].n_tokens == 0 and out[5].passes is False
    assert out[6].r_word_count is True and out[6].r_stopwords is True
    assert out[6].r_alpha_words is True


def test_gopher_rules_plan_is_scan_fused(spark):
    """Zero shuffles: the whole rule set must evaluate in the scan stage
    (no Exchange in the executed plan)."""
    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags
    from proteus_engine_spark.sources import load_table

    df = gopher_quality_flags(load_table(spark, SF, "documents"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ----------------------------- DSIR importance selection


def test_dsir_python_mirror(spark):
    """Recompute the full DSIR pipeline in plain Python (hashlib md5
    buckets, add-1 smoothing over 256 buckets, weighted-mean log ratio,
    top-25% by (rounded score, doc_id)) and require the identical
    selection set, ranks, and rounded scores."""
    import hashlib
    import math
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.sampling import dsir_select
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    got = {
        r.doc_id: r
        for r in dsir_select(docs, target=F.col("source") == "src0").collect()
    }

    raw = docs.select("doc_id", "text", "source").collect()
    per_doc: dict[int, Counter] = {}
    is_t: dict[int, bool] = {}
    for r in raw:
        if not r.text.strip():
            continue
        buckets = Counter(
            hashlib.md5(t.encode()).hexdigest()[:2]
            for t in re.split(r"\s+", r.text.lower())
        )
        per_doc[r.doc_id] = buckets
        is_t[r.doc_id] = r.source == "src0"
    cr: Counter = Counter()
    ct: Counter = Counter()
    for d, b in per_doc.items():
        cr.update(b)
        if is_t[d]:
            ct.update(b)
    nr, nt = sum(cr.values()), sum(ct.values())
    lr = {
        b: math.log(((ct[b] + 1.0) / (nt + 256.0)) / ((cr[b] + 1.0) / (nr + 256.0)))
        for b in cr
    }
    scores = {
        d: round(sum(n * lr[b] for b, n in bs.items()) / sum(bs.values()), 6)
        for d, bs in per_doc.items()
    }
    k = math.ceil(len(scores) * 0.25)
    order = sorted(scores, key=lambda d: (-scores[d], d))[:k]
    assert set(got) == set(order)
    for rank, d in enumerate(order, start=1):
        assert got[d].sel_rank == rank
        assert abs(got[d].dsir_score - scores[d]) < 2e-6
        assert got[d].n_tokens == sum(per_doc[d].values())


def test_dsir_plan_has_no_global_window(spark):
    """The selection rank must be the two-phase zip_with_index scheme:
    any Window in the executed plan must be partitioned (no single-task
    global row_number), and the model/cutoff joins must broadcast."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.sampling import dsir_select
    from proteus_engine_spark.sources import load_table

    df = dsir_select(
        load_table(spark, SF, "documents"), target=F.col("source") == "src0"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    # The rank must be zip_with_index's two-phase scheme — never a
    # corpus-sized unpartitioned row_number. The range sort itself is
    # invisible here (localCheckpoint truncates lineage to a Scan
    # ExistingRDD), so pin what the final plan CAN show: the corpus-
    # sized rank window is partitioned by __pid__, and the only other
    # window is the #partitions-row offsets walk (bounded) — at most
    # two windows total, one of which must carry the __pid__ spec.
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert "windowspecdefinition(__pid__" in final, final
    n_windows = final.count("windowspecdefinition")
    assert n_windows <= 2, final


# ----------------------------- SQ8 scalar-quantization ANN


def test_sq8_encode_python_mirror(spark):
    """Codes must equal the plain-Python floor/clamp recomputation from
    the same exact min/max — training has no k-means, so the mirror is
    exact end-to-end."""
    import math

    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.similarity import sq8_encode, sq8_train
    from proteus_engine_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    lo, step = sq8_train(emb, 64)
    got = {r.c_id: r.codes for r in sq8_encode(emb, lo, step).collect()}
    for r in emb.collect():
        exp = [
            min(255, max(0, math.floor((x - l) / s))) if s > 0 else 0
            for x, l, s in zip(r.vec, lo, step)
        ]
        assert got[r.c_id] == exp


def test_sq8_recall_vs_bruteforce(spark):
    """With 32 candidates over the sf0.001 corpus, SQ8 top-5 must agree
    with exact brute-force top-5 on >= 80% of (query, neighbor) pairs —
    8-bit reconstruction error is tiny relative to inter-vector
    distances."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.similarity import brute_force_topk, sq8_ann_topk
    from proteus_engine_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), vec.alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    approx = {
        (r.q_id, r.c_id)
        for r in sq8_ann_topk(queries, corpus, dim=64, k=5, n_candidates=32).collect()
    }
    exact = {
        (r.q_id, r.c_id) for r in brute_force_topk(queries, corpus, k=5).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.8


def test_sq8_constant_dimension_is_code_zero(spark):
    """A constant dimension (step 0) must encode to 0 — not NaN/div0 —
    and scoring must still work."""
    from proteus_engine_spark.datapipe.similarity import sq8_ann_topk

    rows = [(i, [float(i % 3), 7.0]) for i in range(20)]  # dim 2 constant
    df = spark.createDataFrame(rows, "c_id long, vec array<double>")
    q = spark.createDataFrame(rows[:2], "q_id long, vec array<double>")
    out = sq8_ann_topk(q, df, dim=2, k=3, n_candidates=5).collect()
    assert len(out) == 6  # 2 queries x top-3


# ----------------------------- streaming Gopher ingest filter


def test_stream_gopher_filter_equals_batch(spark):
    """The streaming rollup must equal the batch gopher_quality_flags
    rollup exactly — same expression tree, different execution mode."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.textstats import gopher_quality_flags
    from proteus_engine_spark.queries.registry import REGISTRY
    from proteus_engine_spark.sources import load_table

    streamed = {
        r.source: r for r in REGISTRY["stream_gopher_filter"].fn(spark, SF).collect()
    }
    batch = {
        r.source: r
        for r in gopher_quality_flags(
            load_table(spark, SF, "documents"), carry_cols=("source",)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("passes").cast("long")).alias("n_pass"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .collect()
    }
    assert set(streamed) == set(batch)
    for s, b in batch.items():
        assert streamed[s].n_docs == b.n_docs
        assert streamed[s].n_pass == b.n_pass
        assert streamed[s].total_tokens == b.total_tokens


# ----------------------------- BPE tokenizer training


def _bpe_train_py(word_counts, n_merges):
    """Reference BPE (Sennrich et al. 2016 alg.): chars + </w>, argmax
    adjacent pair by (count, left, right), greedy non-overlapping
    merge — the bitwise mirror of datapipe.bpe.bpe_train."""
    from collections import Counter

    vocab = {tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()}
    merges = []
    for step in range(n_merges):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merged = l + r
        merges.append((step, l, r, merged, cnt))
        new_vocab = {}
        for syms, n in vocab.items():
            out, just = [], False
            for x in syms:
                if not just and out and out[-1] == l and x == r:
                    out[-1] = merged
                    just = True
                else:
                    out.append(x)
                    just = False
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def test_bpe_train_python_mirror(spark):
    """The engine's 8 learned merges over the sf0.001 corpus must equal
    the pure-Python reference BPE bitwise (strings + integer counts)."""
    import re
    from collections import Counter

    from proteus_engine_spark.datapipe.bpe import bpe_train
    from proteus_engine_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    got = [
        (m.step, m.left, m.right, m.merged, m.pair_count)
        for m in bpe_train(docs, n_merges=8)
    ]
    wc = Counter()
    for r in docs.select("text").collect():
        if r.text.strip():
            wc.update(w for w in re.split(r"\s+", r.text.lower()) if w)
    assert got == _bpe_train_py(wc, 8)


def test_bpe_merge_is_greedy_non_overlapping(spark):
    """aaaa + merge (a,a) must become [aa, aa, </w>] — overlapping
    occurrences never merge in one pass."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.bpe import Merge, bpe_segment

    df = spark.createDataFrame([("aaaa",), ("aaa",)], "w string")
    out = df.select(
        F.col("w"),
        bpe_segment(F.col("w"), [Merge(0, "a", "a", "aa", 0)]).alias("s"),
    ).collect()
    got = {r.w: r.s for r in out}
    assert got["aaaa"] == ["aa", "aa", "</w>"]
    assert got["aaa"] == ["aa", "a", "</w>"]


def test_bpe_segment_applies_merges_in_order(spark):
    """Later merges must see earlier merges' output: (a,b)->ab then
    (ab,c)->abc segments 'abc' to a single token."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.bpe import Merge, bpe_segment

    df = spark.createDataFrame([("abc",), ("abd",)], "w string")
    merges = [Merge(0, "a", "b", "ab", 0), Merge(1, "ab", "c", "abc", 0)]
    got = {r.w: r.s for r in df.select("w", bpe_segment(F.col("w"), merges).alias("s")).collect()}
    assert got["abc"] == ["abc", "</w>"]
    assert got["abd"] == ["ab", "d", "</w>"]


def test_bpe_segment_randomized_mirror(spark):
    """300 random words x a 4-merge table (including overlapping-prone
    (a,a) and second-order (aa,b) merges): the Catalyst fold must equal
    the pure-Python greedy merge for every word — one Spark job, not one
    per example."""
    import random

    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.bpe import Merge, bpe_segment

    rng = random.Random(1307)
    words = ["".join(rng.choice("aabbc") for _ in range(rng.randint(1, 12)))
             for _ in range(300)]
    merges = [
        Merge(0, "a", "a", "aa", 0),
        Merge(1, "aa", "b", "aab", 0),
        Merge(2, "b", "c", "bc", 0),
        Merge(3, "c", "</w>", "c</w>", 0),
    ]

    def mirror(word):
        syms = list(word) + ["</w>"]
        for m in merges:
            out, just = [], False
            for x in syms:
                if not just and out and out[-1] == m.left and x == m.right:
                    out[-1] = m.merged
                    just = True
                else:
                    out.append(x)
                    just = False
            syms = out
        return syms

    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "i long, w string")
    got = {r.i: r.s for r in df.select("i", bpe_segment(F.col("w"), merges).alias("s")).collect()}
    for i, w in enumerate(words):
        assert got[i] == mirror(w), (w, got[i], mirror(w))


def test_sq8_randomized_encode_mirror(spark):
    """Random vectors (negatives, constant dims, extremes): SQ8 train +
    encode must equal the numpy/pure-Python mirror exactly."""
    import math
    import random

    from proteus_engine_spark.datapipe.similarity import sq8_encode, sq8_train

    rng = random.Random(4242)
    dim = 8
    rows = []
    for i in range(120):
        v = [rng.uniform(-5, 5) for _ in range(dim)]
        v[3] = 7.5  # constant dimension -> step 0 -> code 0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "c_id long, vec array<double>")
    lo, step = sq8_train(df, dim)
    assert step[3] == 0.0
    got = {r.c_id: r.codes for r in sq8_encode(df, lo, step).collect()}
    for i, v in rows:
        exp = [
            min(255, max(0, math.floor((x - l) / s))) if s > 0 else 0
            for x, l, s in zip(v, lo, step)
        ]
        assert got[i] == exp


def test_sq8_encode_and_bpe_counts_are_scan_fused(spark):
    """Both one-scan projections must execute without any Exchange."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.similarity import sq8_encode, sq8_train
    from proteus_engine_spark.queries.registry import REGISTRY
    from proteus_engine_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    lo, step = sq8_train(emb, 64)
    enc = sq8_encode(emb, lo, step)
    enc.collect()
    assert "Exchange" not in enc._jdf.queryExecution().executedPlan().toString()

    bpe = REGISTRY["corpus_bpe_token_counts"].fn(spark, SF)
    bpe.collect()
    assert "Exchange" not in bpe._jdf.queryExecution().executedPlan().toString()


def test_sampling_guards_name_null_group_keys(spark):
    """A NULL group value has no weight or budget: both in-plan coverage
    guards must fail naming it, not drop its rows or raise a NULL
    message."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.datapipe.sampling import (
        interleave_by_weight,
        sample_to_token_budget,
    )

    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, None, "x y z"), (3, "a", "z")],
        "doc_id long, g string, text string",
    )
    with pytest.raises(Exception, match=r"groups without a weight: \['NULL'\]"):
        interleave_by_weight(df, "g", {"a": 1.0}).collect()
    sz = F.size(F.split("text", r"\s+"))
    with pytest.raises(Exception, match=r"groups without a budget: \['NULL'\]"):
        sample_to_token_budget(df, "g", {"a": 5}, size_col=sz).collect()
