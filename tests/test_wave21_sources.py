"""Units for the round-5 wave-21 source: fixed-width text."""


FW_SPECS = [
    ("id", 1, 6, "long"),
    ("name", 7, 10, "string"),
    ("qty", 17, 5, "long"),
    ("price", 22, 8, "double"),
]


def test_fixedwidth_round_trip(spark, tmp_path):
    from det_module_spark.sources.fixedwidth import (
        read_fixedwidth,
        write_fixedwidth,
    )

    rows = [
        (1, "alpha", 10, 1.5),
        (22, "beta gamma", None, -2.25),
        (333, None, 7, None),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "qty", "price"])
    path = str(tmp_path / "fw")
    write_fixedwidth(df, path, FW_SPECS)
    back = read_fixedwidth(spark, path, FW_SPECS)
    got = sorted(
        (r["id"], r["name"], r["qty"], r["price"])
        for r in back.collect()
    )
    assert got == sorted(rows)


def test_fixedwidth_truncates_at_field_width(spark, tmp_path):
    from det_module_spark.sources.fixedwidth import (
        read_fixedwidth,
        write_fixedwidth,
    )

    df = spark.createDataFrame(
        [(1, "averyverylongname", 2, 3.0)],
        ["id", "name", "qty", "price"],
    )
    path = str(tmp_path / "fw2")
    write_fixedwidth(df, path, FW_SPECS)
    r = read_fixedwidth(spark, path, FW_SPECS).collect()[0]
    assert r["name"] == "averyveryl"  # 10-char slot
    assert r["qty"] == 2


def test_fixedwidth_malformed_numeric_is_null_not_fatal(spark, tmp_path):
    from det_module_spark.sources.fixedwidth import read_fixedwidth

    p = tmp_path / "fw3"
    p.mkdir()
    (p / "part-0.txt").write_text(
        "000001hello     12ab 3.5     \n", encoding="utf-8"
    )
    r = read_fixedwidth(spark, str(p), FW_SPECS).collect()[0]
    assert r["id"] == 1 and r["name"] == "hello"
    assert r["qty"] is None  # '12ab' -> NULL, scan survives
    assert r["price"] == 3.5
