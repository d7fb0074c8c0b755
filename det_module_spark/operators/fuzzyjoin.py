"""Fuzzy (edit-distance) self-join for entity resolution / key linkage.

The reference merges extract tables on an exact key (``asdf_id``,
queue/request_tools.py:617-708) and never needs fuzzy matching; a
training-data pipeline does — near-identical user/entity keys, OCR'd
names, mangled URLs. This operator finds all pairs of strings within
Levenshtein distance 1 WITHOUT a quadratic cross join.

Scale design (SymSpell / FastSS deletion-neighborhood banding):

- Candidate generation: each string ``s`` emits ``len(s)+1`` band keys
  — ``s`` itself plus every single-character deletion of ``s``. Two
  strings within edit distance <= 1 (substitution, insertion, deletion
  or equality) ALWAYS share at least one band key, so an equi-join on
  the band key is a complete candidate generator: one shuffle keyed by
  band, linear (x avg string length) blowup, no cross join anywhere.
- Refinement: candidates are verified with the exact ``levenshtein``
  expression (JVM-side, whole-stage codegen) — band collisions like
  transpositions ("ab"/"ba" share band "a") are filtered here.

For max_distance = d the neighborhood is all <=d-character deletions
(O(len^d) keys); d <= 2 stays practical for key-length strings. This
module fixes d = 1, the common entity-resolution case; the verifier
path (`edit1_pairs_bruteforce`) is the O(n²) cross join used only in
tests to prove the banding lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def deletion_bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, s) -> (id, s, band) with one row per deletion-neighborhood
    key: the string itself plus each single-character deletion,
    deduplicated per id (repeated characters collapse)."""
    s = F.col(text_col)
    bands = F.array_distinct(
        F.concat(
            F.array(s),
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.concat(
                    F.substring(s, F.lit(1), i - 1),
                    s.substr(i + 1, F.length(s)),
                ),
            ),
        )
    )
    return df.select(
        F.col(id_col), F.col(text_col), F.explode(bands).alias("band")
    )


def edit1_pairs(
    df: DataFrame, id_col: str = "id", text_col: str = "name"
) -> DataFrame:
    """All pairs (id_a < id_b) whose strings are within Levenshtein
    distance 1 (including exact duplicates of distinct ids). One
    band-key shuffle + codegen'd refinement; no cross join.

    Two measured trims on the candidate join (idle-host A/B, sf0.1
    customer table, 4.21s -> 3.81s median):
    - the band KEY is xxhash64(band), an 8-byte shuffle key instead
      of a name-length string — a hash collision can only ADD a
      candidate pair, which the exact levenshtein refine then
      rejects, so the banding stays lossless;
    - the banded table is materialized once (lazy localCheckpoint):
      a self-join's sides are planned independently, so without the
      cut the interpreted-HOF deletion explode runs twice."""
    b = deletion_bands(df, id_col, text_col).select(
        F.col(id_col),
        F.col(text_col),
        F.xxhash64("band").alias("band"),
    ).localCheckpoint(eager=False)
    left = b.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("name_a"),
        "band",
    )
    right = b.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("name_b"),
        "band",
    )
    # refine BEFORE deduplicating: the thresholded levenshtein
    # (early-exit banded DP) runs codegen'd on the raw band matches,
    # so the distinct then shuffles only surviving (id, id, distance)
    # triples instead of the full candidate multiset with both name
    # strings (measured ~2.5x on the sf0.1 customer table)
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 1)
    return (
        left.join(right, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("distance"))
        .filter(F.col("distance") >= 0)
        .distinct()
    )


def edit1_pairs_bruteforce(
    df: DataFrame, id_col: str = "id", text_col: str = "name"
) -> DataFrame:
    """O(n²) cross-join verifier with identical output contract. Test
    oracle only — proves the deletion banding loses no pair."""
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("name_a")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("name_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= 1)
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias("distance"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    max_distance: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking, the OTHER classic ER candidate
    generator: sort by a blocking key and pair every record with its
    ``window`` successors — O(n·w) candidates regardless of string
    length, trading deletion-banding's completeness guarantee for a
    fixed candidate budget (typos that jump the sort order are missed;
    that is SNB's documented contract, not a bug here).

    → (id_a, id_b, rank_gap[, distance]) with id_a the sort-order
    predecessor; ``max_distance`` adds a codegen levenshtein refine on
    ``key_col``.

    Scale shape: global ranks come from ``dense_ids`` (range
    enumeration — no single-task window), then neighbor pairing is ONE
    equi-join on the rank bucket ``rn DIV window``: a successor within
    ``window`` ranks lives in the predecessor's bucket or the next
    one, so the left side emits two bucket keys per row and every
    qualifying pair matches exactly once. No cross join; the per-row
    fan-out is a constant 2.

    The sort key is made unique by appending the zero-padded id —
    dense_ids requires a total order. The packed string IS the
    blocking heuristic's sort order, mirrored verbatim by the SQL
    oracle; note one quirk of the packing: '|' (0x7C) sorts above
    alphanumerics, so a key that is a strict prefix of another sorts
    AFTER its extensions. That is a deterministic ordering CHOICE —
    SNB misses pairs that jump the sort order by contract — not a
    correctness hazard. What IS a hazard is an id wider than the
    12-char pad: lpad TRUNCATES, two ids could collide, and dense_ids'
    uniqueness precondition would silently break — guarded with a
    per-row raise_error (free on conforming data, loud otherwise).
    """
    from det_module_spark.operators.ids import dense_ids

    id_str = F.col(id_col).cast("string")
    keyed = df.select(
        F.col(id_col), F.col(key_col),
        F.concat_ws(
            "|",
            F.col(key_col),
            F.when(
                F.length(id_str) <= 12, F.lpad(id_str, 12, "0")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "sorted_neighborhood_pairs: id wider than "
                            "the 12-char sort pad (lpad would "
                            "truncate and break rank uniqueness): "
                        ),
                        id_str,
                    )
                )
            ),
        ).alias("__ord"),
    )
    ranked = dense_ids(keyed, "__ord", out="__rn").drop("__ord")
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col(key_col).alias("key_a"),
        F.col("__rn").alias("rn_a"),
        F.explode(
            F.array(
                (F.col("__rn") / window).cast("long"),
                (F.col("__rn") / window).cast("long") + 1,
            )
        ).alias("__b"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col(key_col).alias("key_b"),
        F.col("__rn").alias("rn_b"),
        (F.col("__rn") / window).cast("long").alias("__b"),
    )
    pairs = (
        left.join(right, "__b")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") <= window)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("rn_b") - F.col("rn_a")).alias("rank_gap"),
            F.col("key_a"),
            F.col("key_b"),
        )
    )
    if max_distance is not None:
        dist = F.levenshtein(
            F.col("key_a"), F.col("key_b"), max_distance
        )
        pairs = pairs.select(
            "id_a", "id_b", "rank_gap", dist.alias("distance")
        ).filter(F.col("distance") >= 0)
    else:
        pairs = pairs.select("id_a", "id_b", "rank_gap")
    return pairs
