"""Open-loop event generator, run as its own process.

Writes file k of the stream (``datagen.event_file``, sized by
``datagen.file_bounds`` around ``rows``) once the last of its events is due,
at ``t0 + end_k / rate`` on the wall clock, whatever the consumer is doing. Each file is written under a hidden name (which
Spark's file source ignores) and renamed into the watched directory, so the
stream never sees a partial file. One JSON line per file goes to ``--log``:
index, rows, due time and the time the rename finished.

    python3 -m perfbench.generator --dir D --log L --seed 1 --rate 100000 \\
        --rows 20000 --t0 <epoch s> --files 60 --customers customer.parquet
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pyarrow.parquet as pq

from perfbench import datagen


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--customers", required=True)
    a = ap.parse_args(argv)
    keys = pq.read_table(a.customers, columns=["c_custkey"]).column(0).to_numpy()
    bounds = datagen.file_bounds(a.seed, a.files, a.rows)
    with open(a.log, "w") as log:
        for k in range(a.files):
            first, end = int(bounds[k]), int(bounds[k + 1])
            tbl = datagen.event_file(a.seed, k, first, end - first, a.rate, keys)
            due = a.t0 + end / a.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(a.dir, f".part-{k:06d}.parquet")
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(a.dir, f"part-{k:06d}.parquet"))
            log.write(json.dumps({"file": k, "rows": end - first, "due": due,
                                  "written": time.time()}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
