"""Third scale point for the slope watchlist (VERDICT r05 #5).

The per-round bench slope pass compares sf0.01 → sf0.1 (10× data).
The three watchlist queries — fuzzy_name_pairs, setsim_prefix,
media_ahash_pairs — are candidate-pair generators whose cost could
curve upward where banding fan-out grows, so this tool adds a THIRD
point at 3× the bench SF:

1. generate /tmp/slope_sf0.3 (deterministic, seed pinned) by the same
   generative process the driver's synthetic tables use — observed
   empirically from sf0.01/sf0.1 and mirrored, NOT copied: customers
   are `Customer#%09d` over an extended key range; documents are
   iid draws from the same fixed 31-word vocabulary with the same
   Uniform(10, 100) word-count law and the same lang/source mixes.
   (The driver's own tables are read-only and used untouched for
   every correctness check; this 3× table exists only for this
   diagnostic slope measurement.)
2. time the watchlist at the bench SF dir and at the 3× dir on the
   same session, warm lane, median of 3;
3. write SLOPE3.json at the repo root — bench.py folds it into
   BENCH_FULL.json so the measurement survives driver bench reruns.

Slope grading matches bench.py's: superlinear = hi/lo time ratio
exceeding (data ratio)^1.3 once the fixed per-query cost is in the
measurement (3× data ⇒ flag above ~4.2×).
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_DIR = "/tmp/slope_sf0.3"
SEED = 427
VOCAB = [  # the exact 31-word vocabulary observed in the sf tables
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]
WATCHLIST = [
    "fuzzy_name_pairs",
    "setsim_prefix",
    "media_ahash_pairs",
    # r8: the top query of the cost bill — edit1 banding feeding
    # pointer-jumping CC; true-pair count is bounded per name on the
    # Customer#%09d law, so time should track input, not pairs
    "entity_resolution",
]


def _generate(base_dir: str, scale: int = 3) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    os.makedirs(base_dir, exist_ok=True)

    n_cust = 15_000 * scale
    keys = np.arange(n_cust)
    names = [f"Customer#{k:09d}" for k in keys]
    pq.write_table(
        pa.table(
            {
                "c_custkey": keys,
                "c_name": names,
                "c_nationkey": (keys * 7 + 3) % 25,
                "c_acctbal": np.round(
                    rng.uniform(-999.99, 9999.99, n_cust), 2
                ),
                "c_mktsegment": [
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"][int(x)]
                    for x in rng.integers(0, 5, n_cust)
                ],
            }
        ),
        os.path.join(base_dir, "customer.parquet"),
    )

    n_docs = 5_000 * scale
    lens = rng.integers(10, 101, n_docs)
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens
    ]
    # seeded near-duplicates, mirroring the driver tables' observed
    # law: exactly 5% of docs are a copy of another doc with " dup"
    # appended (sf0.01: 25/500, sf0.1: 250/5000 such docs — verified
    # by LIKE '% dup' counts). Without them the 3× corpus has zero
    # Jaccard >= 0.5 survivors and the setsim_prefix slope measures
    # candidate generation only, never verify density (the r6
    # SLOPE3 hollow-measurement caveat). Dup count scales with n, so
    # seeded-pair output growth is linear — exactly the law the
    # slope attribution needs.
    n_dup = n_docs // 20
    dup_ids = rng.choice(n_docs, size=n_dup, replace=False)
    dup_set = set(int(i) for i in dup_ids)
    for i in dup_ids:
        # source must be a non-dup doc: a dup source could itself be
        # overwritten later in this loop, silently breaking the pair
        src = int(rng.integers(0, n_docs))
        while src in dup_set:
            src = int(rng.integers(0, n_docs))
        texts[i] = texts[src] + " dup"
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n_docs),
                "text": texts,
                "lang": [
                    LANGS[int(x)]
                    for x in rng.choice(5, n_docs, p=LANG_W)
                ],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }
        ),
        os.path.join(base_dir, "documents.parquet"),
    )


def main() -> None:
    # lo is PINNED to sf0.1 — the hi dataset is generated as 3x of
    # exactly that table's laws, so honoring SPARK_GRAFT_SF_DIR here
    # would silently produce slopes against the wrong ratio (and
    # data_ratio below would still claim 3.0)
    lo_dir = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(OUT_DIR, "_SUCCESS")):
        # generate into a staging dir and rename: an interrupted run
        # must never leave a half-written dataset that later runs
        # silently reuse
        stage = OUT_DIR + ".tmp"
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(OUT_DIR, ignore_errors=True)
        _generate(stage)
        open(os.path.join(stage, "_SUCCESS"), "w").close()
        os.rename(stage, OUT_DIR)

    import __spark_entry__ as entry_mod
    from det_module_spark.session import get_spark

    spark = get_spark("det-module-spark-slope3")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    # warm the Arrow/pandas lane untimed (bench.py discipline)
    from pyspark.sql.functions import pandas_udf as _pudf

    spark.range(1000).select(_pudf(lambda s: s, "long")("id")).collect()

    result: dict[str, dict] = {}
    superlinear: list[str] = []
    for name in WATCHLIST:
        fn = qs[name]
        times, rows = {}, {}
        for tag, d in (("lo", lo_dir), ("hi", OUT_DIR)):
            samples = []
            for _ in range(3):
                t0 = time.monotonic()
                n_rows = len(fn(spark, d).collect())
                samples.append(time.monotonic() - t0)
            times[tag] = statistics.median(samples)
            rows[tag] = n_rows
        slope = times["hi"] / times["lo"] if times["lo"] > 0 else -1.0
        out_growth = rows["hi"] / rows["lo"] if rows["lo"] else -1.0
        result[name] = {
            "lo_s": round(times["lo"], 3),
            "hi_s": round(times["hi"], 3),
            "slope": round(slope, 2),
            "rows_lo": rows["lo"],
            "rows_hi": rows["hi"],
            "output_growth": round(out_growth, 2),
            # a pair-enumerator whose time tracks its OUTPUT is
            # output-bound (per-pair cost flat) — the algorithm is
            # linear in the answer; only the answer itself curves
            "output_bound": bool(
                out_growth > 0 and slope <= out_growth * 1.25
            ),
        }
        if slope > 3.0 ** 1.3 and not result[name]["output_bound"]:
            superlinear.append(name)
        print(f"# [slope3] {name}: {times['lo']:.2f}s -> "
              f"{times['hi']:.2f}s ({slope:.2f}x on 3x data; output "
              f"{rows['lo']} -> {rows['hi']} rows, {out_growth:.2f}x)",
              file=sys.stderr)

    payload = {
        # bench.py copies this file into its sidecar as-is; the stamp
        # says which code and day the slopes belong to
        "commit": subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=REPO,
        ).stdout.strip(),
        "measured_on": datetime.date.today().isoformat(),
        "lo_dir": lo_dir,
        "hi_dir": OUT_DIR,
        "data_ratio": 3.0,
        "queries": result,
        "superlinear": superlinear,
    }
    out = os.path.join(REPO, "SLOPE3.json")
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
