import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, workloads


def test_pass_order_depends_only_on_the_seed():
    names = workloads.CLOSED["pipelines"]
    a = workloads.pass_order(names, 7, 5)
    assert a == workloads.pass_order(names, 7, 5)
    assert a != workloads.pass_order(names, 8, 5)
    assert all(sorted(p) == sorted(names) for p in a)
    assert len({tuple(p) for p in a}) > 1  # passes differ from each other


def _file_hash(tmp_path, seed, index):
    keys = np.arange(1500, dtype="int64")
    path = os.path.join(tmp_path, f"s{seed}-{index}.parquet")
    pq.write_table(datagen.event_file(seed, index, 2000 * index, 2000, workloads.RATE, keys), path)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_event_files_are_a_function_of_seed_and_index(tmp_path):
    assert _file_hash(tmp_path, 1, 0) == _file_hash(tmp_path, 1, 0)
    assert _file_hash(tmp_path, 1, 0) != _file_hash(tmp_path, 2, 0)
    assert _file_hash(tmp_path, 1, 0) != _file_hash(tmp_path, 1, 1)


def test_event_file_offsets_follow_the_rate():
    keys = np.arange(1500, dtype="int64")
    t = datagen.event_file(3, 2, 40_000, 20_000, 100_000, keys)
    off = t.column("offset_ms").to_numpy()
    assert off[0] == 400 and off[-1] == 599  # file 2 covers 400..600 ms
    assert set(t.column("user_id").to_numpy()) <= set(keys)


def test_file_sizes_are_a_function_of_the_seed():
    a = datagen.file_bounds(1, 1000, 10_000)
    assert (a == datagen.file_bounds(1, 1000, 10_000)).all()
    assert (a != datagen.file_bounds(2, 1000, 10_000)).any()
    sizes = a[1:] - a[:-1]
    assert a[0] == 0 and len(sizes) == 1000
    assert sizes.min() >= 5_000 and sizes.max() <= 15_000
    assert abs(sizes.mean() - 10_000) < 300
    assert len(set(sizes.tolist())) > 500


def test_user_ids_are_zipf_skewed_with_a_seeded_hot_key():
    keys = np.arange(1500, dtype="int64")
    a = datagen.event_file(1, 0, 0, 20_000, 100_000, keys).column("user_id").to_numpy()
    b = datagen.event_file(2, 0, 0, 20_000, 100_000, keys).column("user_id").to_numpy()
    top_a, count_a = np.unique(a, return_counts=True)
    assert count_a.max() > 20 * 20_000 / len(keys)  # far above uniform
    top_b, count_b = np.unique(b, return_counts=True)
    assert top_a[count_a.argmax()] != top_b[count_b.argmax()]


def test_tables_are_deterministic(tmp_path):
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500
    out = os.path.join(tmp_path, "data")
    assert datagen.write_tables(out, 0.001) is True
    assert datagen.write_tables(out, 0.001) is False  # reused


def test_backlog_counts_written_minus_committed_files():
    rows = workloads.ROWS
    written = [(1.0, rows), (2.0, rows // 2), (3.0, rows), (4.0, 3 * rows // 2)]
    progress = [{"end": 2.5, "rows": rows + rows // 2}, {"end": 4.5, "rows": rows}]
    assert workloads.backlog(written, progress, 2.0) == 1.5
    assert workloads.backlog(written, progress, 3.0) == 1
    assert workloads.backlog(written, progress, 5.0) == 1.5
