"""JSONL corpus source: round-trip, corrupt-line quarantine."""

import json

from det_module_spark.sources.jsonl import read_jsonl, split_corrupt, write_jsonl
from det_module_spark.sources.tables import load_table


def test_jsonl_round_trip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    path = str(tmp_path / "corpus")
    write_jsonl(docs, path)
    back, quarantine = split_corrupt(read_jsonl(spark, path))
    assert quarantine.count() == 0
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_jsonl_corrupt_lines_quarantined(spark, tmp_path):
    src = tmp_path / "dirty.jsonl"
    lines = [
        json.dumps({"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}),
        "{this is not json",
        json.dumps({"doc_id": 2, "text": "also ok", "lang": "fr", "source": "s"}),
    ]
    src.write_text("\n".join(lines) + "\n")
    clean, quarantine = split_corrupt(read_jsonl(spark, str(src)))
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    bad = quarantine.collect()
    assert len(bad) == 1 and bad[0]["raw_line"].startswith("{this")


def test_kv_records_fast_equals_udtf(spark):
    """The Column path against a plain-Python split of the same
    rows."""
    from det_module_spark.operators.semistructured import kv_records

    rows = [(1, "a=1,b=2,junk"), (2, "c=x=y"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, ["id", "s"])
    fast = sorted(map(tuple, kv_records(df, "s").collect()))
    slow = sorted(
        (i, s, *part.split("=", 1))
        for i, s in rows
        for part in (s or "").split(",")
        if "=" in part
    )
    assert fast == slow
    assert fast == [
        (1, "a=1,b=2,junk", "a", "1"),
        (1, "a=1,b=2,junk", "b", "2"),
        (2, "c=x=y", "c", "x=y"),
    ]


def test_kv_records_regex_special_separators(spark):
    """'|' and '.' are regex metacharacters — they must split
    literally (ADVICE r03); a quote in kv_sep must not break the
    generated expressions."""
    from det_module_spark.operators.semistructured import kv_records

    df = spark.createDataFrame(
        [(1, "a:=1|b:=2"), (2, "x.y:=z")], ["id", "s"]
    )
    out = sorted(
        map(tuple, kv_records(df, "s", pair_sep="|", kv_sep=":=").collect())
    )
    assert out == [
        (1, "a:=1|b:=2", "a", "1"),
        (1, "a:=1|b:=2", "b", "2"),
        (2, "x.y:=z", "x.y", "z"),
    ]
    dot = sorted(
        map(tuple, kv_records(df, "s", pair_sep=".", kv_sep=":=").collect())
    )
    # "a:=1|b:=2" has no '.', so it stays one part; "x.y:=z" splits
    # at the literal dot into "x" (no kv_sep, skipped) and "y:=z"
    assert dot == [
        (1, "a:=1|b:=2", "a", "1|b:=2"),
        (2, "x.y:=z", "y", "z"),
    ]
    quote = spark.createDataFrame([(1, "k'1,v'2")], ["id", "s"])
    assert sorted(
        map(tuple, kv_records(quote, "s", kv_sep="'").collect())
    ) == [(1, "k'1,v'2", "k", "1"), (1, "k'1,v'2", "v", "2")]
