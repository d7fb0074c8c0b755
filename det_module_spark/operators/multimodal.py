"""Multimodal columns: image/audio/video as opaque binary + typed
metadata.

The engine treats media as ``binary`` columns with a media-kind tag
and structured metadata; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` kernels so each
partition's blobs stream through Python exactly once. The decode
kernels need codec libraries (Pillow/librosa/av) that are NOT bundled
in this container — they are stubbed behind import-tries with a
deterministic fake decoder, keeping the Spark-side plumbing (schema,
batch shape, partitioning) real and tested.

At 100 TB: blobs live in parquet binary columns (or object-store
pointers for >row-group-size media); metadata-only queries never touch
blob bytes thanks to parquet column pruning — that property is what
this module's schema is designed around.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_decode(blob: bytes, kind: str, feat_dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder: fold bytes into a
    fixed-size feature vector. Replaced wholesale when codec libs are
    present; exists so the distributed plumbing is testable."""
    acc = [0] * feat_dim
    for i, b in enumerate(blob):
        acc[i % feat_dim] = (acc[i % feat_dim] + b) % 1000
    return [float(x) / 1000.0 for x in acc]


def decode_features(media: DataFrame, feat_dim: int = 8) -> DataFrame:
    """Decode + feature-extract as one ``mapInPandas`` pass: blobs
    stay inside their partition, Arrow batches both directions.

    With Pillow/librosa installed the fake decoder is swapped for the
    real one per ``kind``; the Spark plan is identical either way.
    """
    try:  # pragma: no cover - codec stack not bundled in this container
        import PIL  # noqa: F401

        real_codecs = True
    except ImportError:
        real_codecs = False

    def batches(it: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in it:
            if real_codecs:  # pragma: no cover
                raise NotImplementedError(
                    "real decode path requires codec integration"
                )
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(b) if b is not None else None for b in pdf["content"]
                    ],
                    "content_md5": [
                        hashlib.md5(b).hexdigest() if b is not None else None
                        for b in pdf["content"]
                    ],
                    "feature": [
                        _fake_decode(b, k, feat_dim) if b is not None else None
                        for b, k in zip(pdf["content"], pdf["kind"])
                    ],
                }
            )
            yield out

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts).
    The timestamp fan-out is pure Column arithmetic (sequence+explode);
    only the actual pixel decode (stubbed) needs Python."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


PIXELS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("px", T.ArrayType(T.IntegerType()), True),
    ]
)


def sample_pixels(media: DataFrame, n: int = 64) -> DataFrame:
    """Decode-side half of perceptual hashing: sample ``n`` evenly
    spaced bytes from each blob as grayscale "pixels" (a real decoder
    would downscale the decoded image to an 8×8 luma grid; the byte
    sampler is the deterministic stand-in with identical shape). Runs
    as one Arrow-batched ``mapInPandas`` pass — blobs never leave
    their partition, and only (media_id, content) columns are read so
    parquet prunes everything else."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            px = [
                (
                    [b[(i * len(b)) // n] for i in range(n)]
                    if b is not None and len(b) > 0
                    else None
                )
                for b in pdf["content"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "px": px})

    return media.select("media_id", "content").mapInPandas(
        batches, schema=PIXELS_SCHEMA
    )


def ahash64(pixels: DataFrame) -> DataFrame:
    """Average-hash: 64 bits, bit i set iff pixel i is above the mean
    (strict ``p·64 > Σp`` — exact integer compare, no float mean).
    Packed as two nonnegative 32-bit halves (hi = bits 0-31, lo =
    32-63) so Hamming distance is two ``bit_count(xor)`` ops. Pure
    per-row Column arithmetic — whole-stage codegen, no shuffle."""
    with_tot = pixels.filter(F.col("px").isNotNull()).withColumn(
        "tot", F.aggregate("px", F.lit(0), lambda a, x: a + x)
    )

    def half(lo_bit: int) -> F.Column:
        return F.aggregate(
            F.transform(
                F.col("px"),
                lambda x, i: F.when(
                    (x * 64 > F.col("tot"))
                    & (i >= lo_bit)
                    & (i < lo_bit + 32),
                    F.pow(F.lit(2.0), (i - lo_bit).cast("double")).cast(
                        "long"
                    ),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    return with_tot.select(
        "media_id", half(0).alias("hi"), half(32).alias("lo")
    )


def ahash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 7,
    scheme: str = "band8",
) -> DataFrame:
    """Banded perceptual near-dup join, exact at ``max_hamming <= 7``
    under either candidate scheme (results identical — only candidate
    VOLUME differs):

    - ``scheme="band8"``: slice each 64-bit hash into 8 byte bands;
      pairs agreeing on ANY band are candidates (equi-join on
      (band, value)). Pigeonhole: ≤7 differing bits cannot touch all
      8 bands, so some band matches exactly. Candidate volume on
      uniform hashes ~ n²·8/(2·2⁸) = n²/64 — fine when near-dups are
      clustered (real corpora), quadratic-heavy when hashes are
      iid-uniform (the slope3 synthetic regime).
    - ``scheme="multiprobe16"``: 4 bands of 16 bits, probe side
      explodes each band value plus its 16 one-bit flips (17 probes).
      Pigeonhole: ≤7 differing bits over 4 bands leave some band with
      ≤1 differing bit, so the probe set covers it — still COMPLETE.
      Candidate volume on uniform hashes ~ n²·4·17/(2·2¹⁶) ≈ n²/1927,
      ~30× below band8, at 68 probe rows/item of extra shuffle — the
      dense/uniform-regime scale path (SLOPE3.json is the record of
      why it exists).

    Exact Hamming distance then filters either candidate set.
    → (media_a, media_b, hamming), media_a < media_b.

    The hash table is corpus-derived: band frames and the re-joined
    hash sides stay un-hinted (AQE picks the strategy). The input is
    materialized once on entry — it fans out to FOUR consumers (two
    band sides + two hamming-refine sides) whose subtrees would
    otherwise each re-run the upstream hash computation (typically a
    mapInPandas blob sampler; playbook #29). The hash table is three
    fixed-width columns per media item, orders of magnitude below the
    blobs it summarizes."""
    if max_hamming >= 8:
        raise ValueError(
            "banding is only complete for max_hamming < 8 "
            f"(band8: 8 bands; multiprobe16: 4 bands x 1-bit probes), "
            f"got {max_hamming}"
        )
    if scheme not in ("band8", "multiprobe16"):
        raise ValueError(f"unknown scheme {scheme!r}")
    hashes = hashes.localCheckpoint(eager=False)
    if scheme == "band8":
        bands = hashes.select(
            "media_id",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("hi"), 8 * j).bitwiseAND(
                            F.lit(255)
                        )
                        for j in range(4)
                    ],
                    *[
                        F.shiftright(F.col("lo"), 8 * j).bitwiseAND(
                            F.lit(255)
                        )
                        for j in range(4)
                    ],
                )
            ).alias("j", "bv"),
        )
        probe = bands
    else:
        halves = [
            F.shiftright(F.col("hi"), 16).bitwiseAND(F.lit(65535)),
            F.col("hi").bitwiseAND(F.lit(65535)),
            F.shiftright(F.col("lo"), 16).bitwiseAND(F.lit(65535)),
            F.col("lo").bitwiseAND(F.lit(65535)),
        ]
        bands = hashes.select(
            "media_id",
            F.posexplode(F.array(*halves)).alias("j", "bv"),
        )
        # probe side: the raw band value + its 16 one-bit flips
        probe = bands.select(
            "media_id",
            "j",
            F.explode(
                F.array(
                    F.col("bv"),
                    *[
                        F.col("bv").bitwiseXOR(F.lit(1 << b))
                        for b in range(16)
                    ],
                )
            ).alias("bv"),
        )
    cand = (
        probe.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("media_id").alias("media_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
    )
    hb = hashes.select(
        F.col("media_id").alias("media_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
    )
    return (
        cand.join(ha, "media_a")
        .join(hb, "media_b")
        .select(
            "media_a",
            "media_b",
            (
                F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
                + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            )
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ahash_near_dup_topk(
    hashes: DataFrame,
    max_hamming: int = 7,
    k: int = 3,
    scheme: str = "multiprobe16",
) -> DataFrame:
    """BOUNDED-OUTPUT near-dup deliverable: per media item, its total
    near-dup neighbor count and its ``k`` nearest neighbors (Hamming
    asc, neighbor id asc — deterministic). Output is ≤ items·k rows
    no matter how near-dup-dense the corpus is — the contract that
    survives 100 TB, where emit-all-pairs grows ~n² on dup-dense data
    (SLOPE3.json: 8.67× pairs on 3× data). ``n_neighbors`` carries
    the overflow: ``n_neighbors - k`` neighbors were truncated when
    positive. The raw pair form (``ahash_near_dup_pairs``) remains
    available when a bounded consumer genuinely needs every pair.

    Shape: the banded pair join (complete at the radius), one
    symmetrize union over the MATERIALIZED pair frame (playbook #29 —
    a union's branches are planned independently), then one window
    partitioned by media_id (count + row_number share the partition
    shuffle; never a global window).
    → (media_id, n_neighbors, rnk, neighbor, hamming), rnk ≤ k."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pairs = ahash_near_dup_pairs(
        hashes, max_hamming, scheme=scheme
    ).localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("media_a").alias("media_id"),
        F.col("media_b").alias("neighbor"),
        "hamming",
    ).unionByName(
        pairs.select(
            F.col("media_b").alias("media_id"),
            F.col("media_a").alias("neighbor"),
            "hamming",
        )
    )
    w_cnt = Window.partitionBy("media_id")
    w_rnk = Window.partitionBy("media_id").orderBy("hamming", "neighbor")
    return (
        sym.withColumn("n_neighbors", F.count(F.lit(1)).over(w_cnt))
        .withColumn("rnk", F.row_number().over(w_rnk))
        .filter(F.col("rnk") <= k)
        .select("media_id", "n_neighbors", "rnk", "neighbor", "hamming")
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from the documents fixture: text bytes
    as blobs with kind round-robined — the deterministic stand-in used
    by tests and the driver queries."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.struct(
            (F.col("n_chars") % 1920).cast("int").alias("width"),
            (F.col("n_chars") % 1080).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )
