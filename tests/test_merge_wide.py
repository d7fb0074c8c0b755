"""SURVEY hard-list (e): wide merges (hundreds of extract columns)
must not blow up wall-clock."""

import time

import pyarrow as pa

from det_module_spark.operators.merge import MergeItem, merge_extracts


def test_merge_100_items_stays_fast():
    n_items, n_features = 100, 50
    items = []
    for j in range(n_items):
        table = pa.table(
            {
                "asdf_id": list(range(n_features)),
                "exfield_0": [float(i * j) for i in range(n_features)],
            }
        )
        items.append(MergeItem(table, f"ds{j:03d}", "1998", "mean"))

    t0 = time.time()
    merged = merge_extracts(items)
    total_s = time.time() - t0
    rows = merged.to_pylist()

    assert merged.num_columns == 1 + n_items  # asdf_id + one col per item
    assert len(rows) == n_features
    got = {r["asdf_id"]: r for r in rows}
    assert got[3]["ds007.1998.mean"] == 21.0
    assert got[10]["ds099.1998.mean"] == 990.0
    # 99 joins must stay tractable
    assert total_s < 120, f"wide merge too slow: {total_s:.1f}s"
