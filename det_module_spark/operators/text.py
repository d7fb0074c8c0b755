"""Text-analysis operators for large-scale training-data pipelines.

North-star extensions beyond the reference surface (BASELINE.json):
language-ID, quality scoring, token counting, shingling, document
fingerprinting. Everything here is a native Column expression —
split/filter/transform/aggregate lambdas run inside codegen; there is
no Python in the row path, so these scale to 100 TB document sets
limited only by the scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword profiles for the n-gram/stopword
# heuristic language identifier. Deliberately tiny: lang-id at scale is
# a scoring pass, not a model.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "que", "est"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "zu"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "que", "es", "en"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the reference's CSV-era convention —
    no locale-dependent behavior, deterministic everywhere)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_hits(text: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-document quality features: char/token counts, mean token
    length, stopword ratio, distinct-token ratio. The composite
    ``quality_score`` mirrors common pretraining-data filters
    (length + lexical diversity + stopword presence)."""
    t = F.col(text)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop = stopword_hits(t, LANG_PROFILES["en"])
    return df.select(
        "*",
        F.length(t).alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        (
            (F.length(t) - n_tok + 1).cast("double") / n_tok
        ).alias("q_mean_token_len"),
        (stop.cast("double") / n_tok).alias("q_stopword_ratio"),
        (n_distinct.cast("double") / n_tok).alias("q_distinct_ratio"),
    )


def lang_id(df: DataFrame, text: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-profile language identification: score = profile hits
    per language, argmax with deterministic (score desc, lang asc)
    tie-break. One projection, no shuffle."""
    t = F.col(text)
    scores = [
        stopword_hits(t, words).alias(f"score_{lang}")
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    scored = df.select("*", *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_PROFILES)])
    pred = F.lit(None).cast("string")
    # first lang (asc) achieving the max wins; all-zero scores -> 'und'
    for lang in sorted(LANG_PROFILES, reverse=True):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.withColumn(out, pred)


def term_doc_freq(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Vocabulary heavy-hitters: terms appearing in ≥ ``min_df``
    distinct documents, with their document frequency. The building
    block for stopword discovery and df-cap pruning (the guard
    ngram_jaccard_pairs applies).

    Shape: explode distinct per-doc terms → one hash aggregation.
    Map-side partial counts make the shuffle proportional to the
    vocabulary, not the corpus."""
    terms = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text)))).alias("term"),
    ).filter(F.length("term") > 0)
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
    )


def _gram_expr(toks, n: int):
    """Word n-gram array over a materialized token-array column.

    ``try_element_at`` (not ``element_at``) for the gram words: a
    document shorter than ``n`` tokens still enumerates index 0, and
    under ANSI mode (on in this engine) ``element_at`` past the array
    end ABORTS the job — try_element_at yields NULL there, which
    ``concat_ws`` skips, so short documents degrade to the single
    short gram (the documented semantics). For documents with ≥ n
    tokens every index is in bounds and the two forms are
    byte-identical."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(toks, i + j + 1) for j in range(n)]
        ),
    )


def word_shingles(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.
    ``transform(sequence(...))`` builds the n-grams JVM-side; explode
    fans out. This is the input to Jaccard / MinHash dedup.

    The token array is materialized as a column BEFORE the gram lambda
    runs: higher-order functions evaluate interpreted (no codegen), and
    a ``split()`` referenced inside the lambda body would re-tokenize
    the document once per gram (O(tokens²) splits — measured 4x slower
    on this path). ``element_at`` per gram word instead of
    ``slice``+``array_join`` avoids an array copy per gram; documents
    shorter than ``n`` tokens degrade to the single short gram (see
    ``_gram_expr``)."""
    toks = F.col("__toks")
    grams = _gram_expr(toks, n)
    return (
        df.select(F.col(id_col), tokens(F.col(text)).alias("__toks"))
        .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count within the doc; idf = ln((N+1)/(df+1)) (smoothed);
    ties broken (score desc, term asc) so output is total-ordered.
    Three hash aggregations + one small window — no Python. The
    document count N is a driver-side scalar (one count job), matching
    the SQL scalar-subquery formulation.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    terms = df.select(
        F.col(id_col), F.explode(tokens(F.col(text))).alias("term")
    ).filter(F.length("term") > 0)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = terms.groupBy("term").agg(
        F.count_distinct(id_col).alias("df_")
    )
    # docfreq is vocabulary-sized (grows with the corpus): no
    # broadcast hint — AQE broadcasts it only when it measures small.
    scored = tf.join(docfreq, "term").withColumn(
        "score",
        F.col("tf")
        * F.log((F.lit(float(n_docs + 1))) / (F.col("df_") + 1)),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "score")
    )


def build_inverted_index(
    df: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Term → sorted posting list (+ document frequency). One explode
    + one aggregation keyed by term; posting lists are sorted inside
    the aggregation (``sort_array``), so output is canonical. At scale,
    cap or shard postings of stop-like terms (df_cap via
    ``term_doc_freq``) before materializing."""
    terms = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text)))).alias("term"),
    ).filter(F.length("term") > 0)
    return terms.groupBy("term").agg(
        F.sort_array(F.collect_list(id_col)).alias("postings"),
        F.count(F.lit(1)).alias("doc_freq"),
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Exact-phrase retrieval over a positional posting list: →
    (id, n_matches, first_pos) for every document containing the
    ``phrase`` tokens at consecutive positions.

    Join-free single-scan formulation (the naive per-term positional
    join re-reads the corpus once PER TERM — ``.explain`` showed three
    parquet scans for a 3-word phrase): posexplode once, map each
    token to the phrase offsets it could fill (a literal term → [i]
    map; non-phrase tokens explode to nothing, so the corpus shrinks
    to phrase-term postings inside the scan stage), re-key every hit
    by its implied start position ``pos − i``, and a start is a match
    iff it collected all len(phrase) offsets — (doc, start, i) is
    unique by construction, so a plain count works.

    Scale shape: one scan + one codegen'd map-lookup explode + two
    hash aggregations (by (doc, start), then by doc). The only
    shuffled rows are phrase-term hits — the same volume the join plan
    shuffled, without its N scans and N−1 joins. Handles repeated
    phrase terms naturally (a token fills several offsets).
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one term")
    offsets: dict[str, list[int]] = {}
    for i, t in enumerate(phrase):
        offsets.setdefault(t, []).append(i)
    terms = list(offsets)
    mapping = F.map_from_arrays(
        F.array(*[F.lit(t) for t in terms]),
        F.array(
            *[
                F.array(*[F.lit(i) for i in offsets[t]])
                for t in terms
            ]
        ),
    )
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text))).alias("pos", "term"),
    )
    hits = toks.select(
        F.col(id_col),
        F.col("pos"),
        F.explode(mapping[F.col("term")]).alias("i"),
    ).select(
        id_col, (F.col("pos") - F.col("i")).alias("start")
    ).filter(F.col("start") >= 0)
    starts = (
        hits.groupBy(id_col, "start")
        .agg(F.count(F.lit(1)).alias("__filled"))
        .filter(F.col("__filled") == len(phrase))
    )
    return starts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start").alias("first_pos"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the cheap stand-in for perplexity-based quality
    filtering (docs far below the corpus-typical score are gibberish /
    boilerplate candidates).

    Two aggregations (vocab counts, then per-doc mean) + one
    vocabulary join (vocab grows with the corpus, so the join carries
    no broadcast hint — AQE picks broadcast only while it is small).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text))).alias("term")
    ).filter(F.length("term") > 0)
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt")).collect()[0][0]
    # vocab grows with the corpus: un-hinted, AQE decides.
    scored = toks.join(vocab, "term").select(
        id_col,
        (F.log(F.col("cnt").cast("double")) - F.log(F.lit(float(total)))).alias(
            "logp"
        ),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("logp").alias("mean_logprob"),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", n: int = 3
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality rules):

    - ``dup_gram_frac``: fraction of word ``n``-grams that are repeats
      (1 − distinct/total) — catches boilerplate and looping text;
    - ``top_token_frac``: share of the document taken by its single
      most frequent token — catches keyword-stuffed pages.

    The gram part is pure Column expressions (no shuffle). The token
    dominance needs per-(doc, term) counts — explode + two hash
    aggregations keyed by doc id; map-side partials keep the shuffle
    proportional to per-doc vocabulary. Both ratios are single IEEE
    divisions of exact integers — bit-identical across engines.
    """
    toks = F.col("__toks")
    grams = _gram_expr(toks, n)
    gram_part = (
        df.select(F.col(id_col), tokens(F.col(text)).alias("__toks"))
        .select(
            F.col(id_col),
            F.size(grams).alias("__n_grams"),
            F.size(F.array_distinct(grams)).alias("__n_distinct"),
        )
        .select(
            F.col(id_col),
            (
                F.lit(1.0)
                - F.col("__n_distinct").cast("double") / F.col("__n_grams")
            ).alias("dup_gram_frac"),
        )
    )
    term_part = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            (F.max("cnt").cast("double") / F.sum("cnt")).alias(
                "top_token_frac"
            ),
        )
    )
    return gram_part.join(term_part, id_col).select(
        id_col, "n_tokens", "dup_gram_frac", "top_token_frac"
    )


def doc_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint: md5 over the sorted
    distinct token set. Two documents with the same vocabulary collide
    — the cheap first-pass near-dup key."""
    toks = tokens(F.col(text))
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return df.select(id_col, fp.alias("fingerprint"))


def bigram_counts(
    df: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Adjacent-word bigram counts over the corpus: (w1, w2, cnt).
    The token array materializes once per document; the gram lambda
    indexes it (same interpreted-lambda discipline as word_shingles).
    One hash aggregation; shuffle sized by vocabulary², not corpus."""
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    return (
        df.select(tokens(F.col(text)).alias("__toks"))
        .filter(F.size(toks) >= 2)
        .select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bigram_next_words(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Corpus bigram language model: for every word, the top-k next
    words by count with conditional log-probability ln(cnt / total).

    Ranking is on exact integer counts (ties broken lexically), so the
    top-k set is engine-independent; the only float op is one division
    + ln on exact integers, rounded once (cross-engine-stable, see
    ROUND_NOTES.md playbook)."""
    from pyspark.sql import Window

    bi = bigram_counts(df, id_col, text)
    tot = bi.groupBy("w1").agg(F.sum("cnt").alias("total"))
    w = Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
    scale = F.lit(float(10**digits))
    logp = F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
    return (
        bi.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(tot, "w1")
        .select(
            "w1",
            "w2",
            "rank",
            "cnt",
            "total",
            (F.floor(logp * scale + F.lit(0.5)) / scale).alias("logp"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str = "source",
    k: int = 5,
    id_col: str = "doc_id",
    text: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Per-group distinctive vocabulary by smoothed log-odds: for each
    (group, term), score = ln((a+.5)/(A−a+.5)) − ln((b+.5)/(B−b+.5))
    where a = term count in the group (A = group total) and b = term
    count in the rest of the corpus (B = rest total). Top-k terms per
    group by score.

    Cross-engine determinism: a, A, b, B are exact integers; +0.5 and
    the divisions are single IEEE ops; ln is libm-consistent between
    Spark and DuckDB (measured, ROUND_NOTES.md #9) — so even the
    *ranking* on the raw score is stable. Score is rounded once for
    the output. Two aggregations (group×term, then term totals) and a
    broadcast of per-group totals; shuffle ∝ vocabulary."""
    from pyspark.sql import Window

    terms = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text))).alias("term"),
    ).filter(F.length("term") > 0)
    per_grp = terms.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("a"))
    # three consumers (term totals, group totals, the scored join) —
    # materialize the vocabulary-sized agg once instead of re-running
    # the tokenize+aggregate subtree per consumer
    per_grp = per_grp.localCheckpoint(eager=False)
    term_tot = per_grp.groupBy("term").agg(F.sum("a").alias("t_total"))
    # corpus total rides along as an unpartitioned window sum over the
    # tiny per-group frame — no driver action, no duplicated tokenize
    # subtree in the plan
    grp_tot = (
        per_grp.groupBy("grp")
        .agg(F.sum("a").alias("grp_total"))
        .withColumn(
            "corpus_total", F.sum("grp_total").over(Window.partitionBy())
        )
    )
    joined = (
        # term_tot is vocabulary-sized (corpus-derived) — no hint;
        # grp_tot is one row per group (genuinely bounded) — keep it.
        per_grp.join(term_tot, "term")
        .join(F.broadcast(grp_tot), "grp")
        .select(
            "grp",
            "term",
            "a",
            (F.col("t_total") - F.col("a")).alias("rest_a"),
            "grp_total",
            (F.col("corpus_total") - F.col("grp_total")).alias("rest_total"),
        )
    )
    half = F.lit(0.5)
    score = F.log(
        (F.col("a") + half) / (F.col("grp_total") - F.col("a") + half)
    ) - F.log(
        (F.col("rest_a") + half)
        / (F.col("rest_total") - F.col("rest_a") + half)
    )
    w = Window.partitionBy("grp").orderBy(
        F.desc(score), F.asc("term")
    )
    scale = F.lit(float(10**digits))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            "term",
            "rank",
            "a",
            (F.floor(score * scale + half) / scale).alias("log_odds"),
        )
    )


def _doc_bigrams(
    df: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Adjacent bigrams with their document id: (id, w1, w2)."""
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    return (
        df.select(F.col(id_col), tokens(F.col(text)).alias("__toks"))
        .filter(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, "g.w1", "g.w2")
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
    )


def bigram_logprob(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    backoff: float = 0.4,
    digits: int = 6,
) -> DataFrame:
    """CCNet-style LM quality scoring: per-document average bigram
    log-probability under a corpus bigram model with stupid-backoff —
    ln(c(w1,w2)/c(w1)) when the bigram was seen in ``train``, else
    ln(backoff · c(w2)/N) from the unigram model. Low scores flag
    gibberish / OOD documents. → (id, n_bigrams, avg_logprob).

    Float discipline: every per-bigram term is an ln of exact-int
    ratios, quantized to 1e-9-unit longs BEFORE the per-doc sum — the
    aggregation is order-independent and the result cross-engine
    exact. Shape: two model aggs over the train corpus (vocabulary-
    sized, joined un-hinted so AQE sizes the strategy) + one per-doc
    agg.
    """
    bi = bigram_counts(train, id_col, text)
    # the unigram model feeds both the per-word counts and the corpus
    # total; materialize once. The total must arrive as a broadcast
    # scalar (cross join), NOT a column of the left-joined uni row —
    # an unseen w2 misses that join and a null total would null the
    # backoff term instead of scoring it.
    uni = (
        train.select(F.explode(tokens(F.col(text))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("cw").alias("total"))
    w1tot = bi.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    pairs = _doc_bigrams(score, id_col, text)
    joined = (
        # bi / w1tot / uni are model tables whose cardinality grows
        # with the train corpus — no broadcast hints (AQE decides);
        # tot is a 1-row scalar, where broadcast IS the right plan for
        # the cross join.
        pairs.join(bi, ["w1", "w2"], "left")
        .join(w1tot, "w1", "left")
        .join(
            uni.select(F.col("w").alias("w2"), "cw"),
            "w2",
            "left",
        )
        .join(F.broadcast(tot))
    )
    seen = F.col("cnt").isNotNull() & F.col("c1").isNotNull()
    term = F.when(
        seen, F.log(F.col("cnt").cast("double") / F.col("c1").cast("double"))
    ).otherwise(
        F.log(
            (F.lit(backoff) * F.coalesce(F.col("cw"), F.lit(1)).cast("double"))
            / F.col("total").cast("double")
        )
    )
    term_fp = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    out_scale = F.lit(float(10**digits))
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(term_fp).alias("__s"),
        )
        .select(
            id_col,
            "n_bigrams",
            (
                F.floor(
                    F.col("__s").cast("double")
                    / F.lit(1e9)
                    / F.col("n_bigrams").cast("double")
                    * out_scale
                    + F.lit(0.5)
                )
                / out_scale
            ).alias("avg_logprob"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Okapi BM25 retrieval scoring against a fixed query-term set
    (k1 = 1.2, b = 0.75) — the classic sparse-retrieval ranking,
    used in pipelines for query-based decontamination and RAG corpus
    probes. → (id, n_hits, scoreq) for documents matching ≥1 term.

    Exact-arithmetic formulation (ROUND_NOTES float rules): with
    k1 = 6/5 and b = 3/4, the per-term saturation ratio

        (k1+1)·c / (c + k1·(1 − b + b·L/avgdl))

    over corpus totals N (docs) and T (tokens, so avgdl = T/N)
    reduces to the integer rational 44·c·T / (20·c·T + 6·T + 18·L·N),
    quantized by integer division to 1e-4 units; idf uses the
    half-added form ln((N−df+0.5)/(df+0.5)) = ln(2N−2df+1) −
    ln(2df+1) — lns of exact ints, quantized to 1e-9 longs. scoreq =
    Σ idfq·ratioq is then an exact int64 (|idfq| < 2^35, ratioq <
    2^22, ≤ a handful of query terms), order-independent and
    cross-engine hash-stable. Magnitudes stay in range through
    SF ~1e3× this corpus; beyond that, re-derive the quantization.

    Scale shape: the term filter prunes the exploded corpus to query
    vocabulary (tiny by construction — |Q| literals), so df counts,
    per-doc counts, and the final agg all run on the filtered stream;
    doc lengths are one un-filtered linear agg. N and T are
    control-plane scalars. No window, no cross join wider than the
    |Q|-row df table.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text))).alias("term")
    ).filter(F.length("term") > 0)
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("L"))
    scalars = doclen.agg(
        F.count(F.lit(1)).alias("n"), F.sum("L").alias("t")
    ).collect()[0]
    n_docs, tot = int(scalars.n), int(scalars.t)
    qtoks = toks.filter(F.col("term").isin(*query_terms))
    df_t = qtoks.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    idfq = (
        _text_lnq(F.lit(2 * n_docs) - 2 * F.col("df") + 1)
        - _text_lnq(2 * F.col("df") + 1)
    ).alias("idfq")
    c_td = qtoks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    joined = (
        c_td.join(df_t.select("term", idfq), "term")
        .join(doclen, id_col)
    )
    num = F.lit(44) * F.col("c") * F.lit(tot) * F.lit(10**4)
    den = (
        F.lit(20) * F.col("c") * F.lit(tot)
        + F.lit(6 * tot)
        + F.lit(18 * n_docs) * F.col("L")
    )
    ratioq = F.expr("ratio_num div ratio_den")
    scored = joined.withColumn("ratio_num", num).withColumn(
        "ratio_den", den
    )
    return (
        scored.select(
            F.col(id_col),
            (F.col("idfq") * ratioq).alias("term_scoreq"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum("term_scoreq").alias("scoreq"),
        )
    )


def _text_lnq(col):
    """lnq helper shared with nbayes: ln of exact ints in 1e-9 longs."""
    from det_module_spark.operators.nbayes import _lnq

    return _lnq(col if isinstance(col, Column) else F.lit(col))


def unicode_clean(
    docs: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Unicode canonicalization for corpus intake: → (id, clean_len,
    clean_md5). Pipeline: NFC-normalize (composes e+◌́ → é, the form
    dedup hashes must agree on), replace C0/DEL control characters
    with a space, collapse ASCII whitespace runs to one space, trim.

    NFC runs in an Arrow-batched pandas UDF (Python ``unicodedata`` —
    Spark has no JVM normalize builtin; this is the documented
    slow-path exception, linear and shuffle-free). The control-strip
    and whitespace-collapse use explicit ASCII classes (``[ \\t\\n\\r
    \\f\\x0b]``, never ``\\s``) so Python/Java/RE2 regex dialects
    can't disagree on Unicode-whitespace membership. The md5 is
    computed JVM-side over the cleaned UTF-8 bytes and matches any
    engine's md5-of-utf8.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: None if v is None else unicodedata.normalize("NFC", v)
        )

    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                _nfc(F.col(text)), "[\\x00-\\x1f\\x7f]", " "
            ),
            "[ \\t\\n\\r\\f\\x0b]+",
            " ",
        )
    )
    return docs.select(
        F.col(id_col),
        cleaned.alias("clean"),
    ).select(
        id_col,
        F.length("clean").cast("long").alias("clean_len"),
        F.md5("clean").alias("clean_md5"),
    )


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Per-document character-distribution entropy in nats, exact to
    the 1e-9 log quantum: → (id, n_chars, n_distinct, ent_q) with
    ent_q = lnq(L) − (Σ_c count_c·lnq(count_c)) div L, where lnq(x) =
    floor(ln(x)·1e9 + 0.5). Low entropy flags gibberish/repetition
    (the cheap LLM-corpus quality signal next to text_repetition's
    n-gram rate); H ≈ 4.1 nats for uniform English-ish text, → 0 for
    single-char spam.

    Exactness: every ln lands in an int64 BEFORE any sum (playbook
    #8-9), the char-count aggregation is one hash agg keyed by
    (id, char), and the final division is integer. The explode is one
    row per character — linear, the standard shape for distributional
    text stats; at petabyte scale swap in the mapInPandas histogram
    kernel (multimodal.py pattern) and keep this as the oracle path.
    """
    chars = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text), "")).alias("ch"),
    ).where(F.length("ch") > 0)
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("id").agg(
        F.sum("c").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * _text_lnq(F.col("c"))).alias("clnc"),
    )
    ent = _text_lnq(F.col("n_chars")) - F.expr("clnc div n_chars")
    return per_doc.select(
        "id", "n_chars", "n_distinct", ent.cast("long").alias("ent_q")
    )


def bigram_pmi(
    df: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Collocation mining via pointwise mutual information over
    adjacent-word bigrams: → (w1, w2, cnt, pmi_q) with pmi_q =
    lnq(cnt) + lnq(N) − lnq(c1•) − lnq(c•2) in 1e-9 long units
    (lnq of exact integer counts, summed AFTER quantization — the
    playbook #8/#9 recipe, so the score is cross-engine exact).

    PMI = ln(p(ab) / (p₁(a)·p₂(b))) over the bigram corpus of size N,
    with marginals by slot. High-PMI pairs are multiword expressions
    ("new york", "machine learning") — the vocabulary-merge candidates
    a tokenizer pipeline mines before BPE fitting. ``min_count``
    suppresses the low-support noise PMI is notorious for.

    Shape: the bigram count table (vocab², corpus-independent) feeds
    two marginal re-aggregations joined back — no second corpus scan;
    N is one control-plane scalar.
    """
    bg = bigram_counts(df, id_col, text)
    n_total = bg.agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    left = bg.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    right = bg.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    j = (
        bg.filter(F.col("cnt") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
    )
    pmi = (
        _text_lnq(F.col("cnt"))
        + _text_lnq(F.lit(int(n_total)))
        - _text_lnq(F.col("c1"))
        - _text_lnq(F.col("c2"))
    )
    return j.select("w1", "w2", "cnt", pmi.alias("pmi_q"))


def oov_rate(
    docs: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_size`` tokens: → (id, n_tok, n_oov, oov_ppm). The
    tokenizer-budget audit: a doc whose tokens mostly miss the vocab
    will fragment badly under any fixed vocabulary — high-OOV docs
    are either another language, noise, or a domain the tokenizer
    must grow toward.

    The vocab is a TakeOrdered top-k of term frequencies (bounded by
    ``vocab_size``, corpus-independent — broadcastable by bound, left
    to AQE); membership is one left join + null count. Ties at the
    vocabulary boundary break (count desc, term asc), so the vocab
    set is deterministic cross-engine.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text))).alias("term"),
    ).filter(F.length("term") > 0)
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(vocab_size)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    j = toks.join(vocab, "term", "left")
    per = j.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(
            F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
        ).alias("n_oov"),
    )
    return per.select(
        "id",
        "n_tok",
        "n_oov",
        F.expr("n_oov * 1000000 div n_tok").alias("oov_ppm"),
    )
