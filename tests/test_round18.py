"""Round-18 optimization tests: scale-adaptive streaming state
partitions, pagerank loop restructure, NB score label carry, BM25
postings pin — each optimization's internals pinned by a focused test
(results themselves stay covered by the oracle gates)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


class TestStatePartitionsFor:
    def test_small_source_hits_floor(self, spark):
        from proteus_engine_spark.streaming.sources import state_partitions_for

        # sf0.001 events.parquet is a few KB -> floor (4), never below
        n = state_partitions_for(spark, SF_DIR)
        assert n == 4

    def test_never_exceeds_session_cap(self, spark):
        from proteus_engine_spark.streaming.sources import state_partitions_for

        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n = state_partitions_for(spark, SF_DIR, bytes_per_partition=1)
        assert n == cap  # huge byte-derived count clamps to the session value

    def test_unknown_source_keeps_default(self, spark):
        from proteus_engine_spark.streaming.sources import state_partitions_for

        assert state_partitions_for(spark, "/nonexistent/dir") is None

    def test_directory_layout_source_is_sized_by_its_files(self, spark, tmp_path):
        """A Spark-written (directory-layout) table is sized by the bytes of
        its part files, not by the directory entry's own few KB, which
        would clamp every real dataset to the floor."""
        from proteus_engine_spark.sources import load_table
        from proteus_engine_spark.streaming.sources import state_partitions_for

        table = tmp_path / "events.parquet"
        load_table(spark, SF_DIR, "events").repartition(3).write.parquet(str(table))
        data = sum(
            f.stat().st_size for f in table.iterdir() if f.name.startswith("part-")
        )
        bpp = 4096
        assert data > 4 * bpp  # enough bytes to size above the floor of 4
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n = state_partitions_for(spark, str(tmp_path), "events", bytes_per_partition=bpp)
        assert n == min(cap, -(-data // bpp))
        assert n > 4

    def test_stream_plans_with_requested_partitions(self, spark):
        """run_stream sizes state itself and the scoped conf really reaches
        the stateful operator: under a session value that differs from the
        sized count, every state operator reports the sized count as its
        numShufflePartitions, and the session conf is restored afterwards."""
        from proteus_engine_spark.streaming.sources import (
            events_stream,
            run_stream,
            state_partitions_for,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        try:
            sized = state_partitions_for(spark, SF_DIR, "events")
            assert sized is not None and sized != 7
            ev = events_stream(spark, SF_DIR)
            agg = (
                ev.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            out, progress = run_stream(agg, "r18_sp_probe", SF_DIR, "events")
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        ops = [so for p in progress for so in p["stateOperators"]]
        assert ops, "the aggregate reported no state operator"
        assert {so["numShufflePartitions"] for so in ops} == {sized}
        assert out.count() > 0


class TestPagerankRestructure:
    def test_matches_manual_three_iterations(self, spark):
        from proteus_engine_spark.graph import page_rank

        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (4, 1)], "src long, dst long"
        )
        got = {
            r.vertex: r.score
            for r in page_rank(edges, damping=0.85, iterations=2).collect()
        }
        # manual reference: v={1,2,3,4}, od={1:2,2:1,4:1}; sinks: 3
        n = 4.0
        s = {v: 1 / n for v in (1, 2, 3, 4)}
        for _ in range(2):
            ns = s[1] + s[2] + s[4]
            contrib = {1: s[4] / 1, 2: s[1] / 2, 3: s[1] / 2 + s[2] / 1}
            base = (0.15 + 0.85 * (1 - ns)) / n
            s = {v: base + 0.85 * contrib.get(v, 0.0) for v in (1, 2, 3, 4)}
        assert set(got) == set(s)
        for v in s:
            assert abs(got[v] - s[v]) < 1e-12, (v, got[v], s[v])


class TestNbScoreCarry:
    def test_carry_cols_constant_per_doc(self, spark):
        from proteus_engine_spark.datapipe.classify import nb_scores, nb_token_model

        df = spark.createDataFrame(
            [(1, "a", "x y"), (2, "b", "y z"), (3, "a", "x z")],
            "doc_id long, source string, text string",
        )
        pri, lik = nb_token_model(df, class_col="source")
        out = nb_scores(
            df.withColumn("__true__", F.col("source")),
            pri, lik, carry_cols=("__true__",),
        ).collect()
        truth = {1: "a", 2: "b", 3: "a"}
        assert len(out) == 6  # 3 docs x 2 classes
        for r in out:
            assert r["__true__"] == truth[r.doc_id]


class TestBm25PostingsPin:
    def test_pinned_equals_lazy(self, spark):
        from proteus_engine_spark.datapipe.textstats import bm25_topk

        docs = spark.createDataFrame(
            [(i, f"alpha beta w{i} gamma" if i % 2 else f"delta w{i}") for i in range(20)],
            "doc_id long, text string",
        )
        a = sorted(
            map(tuple, bm25_topk(docs, queries=["alpha gamma"], k=5).collect())
        )
        b = sorted(
            map(tuple, bm25_topk(docs, queries=["alpha gamma"], k=5, pin_postings=True).collect())
        )
        assert a == b and len(a) > 0
