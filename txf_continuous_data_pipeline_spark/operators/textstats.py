"""Text-analysis operators over `documents` (extension set).

Language-ID (stopword-marker heuristic), quality scoring, token
counting, and document fingerprinting - all built-in column expressions
(split / filter / aggregate lambdas run JVM-side), so the hot path has
zero Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import h60, normalized_tokens

# Marker stopwords per language for the n-gram-free language heuristic.
# Deterministic and tiny on purpose: the point is the operator shape
# (vector of per-class scores -> argmax), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "les", "et", "est", "une"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(normalized_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words plus digit runs plus punctuation,
    the usual cheap stand-in for a BPE tokenizer's token count."""
    return F.size(
        F.filter(
            F.split(F.lower(text), r"([\s]+|(?=[^\w\s])|(?<=[^\w\s]))"),
            lambda x: F.length(x) > 0,
        )
    )


def marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    """How many tokens are in the marker set (occurrences, not distinct)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def lang_guess(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-stopword hit counts, 'und'
    when nothing matches. Fixed tie-break order = dict order."""
    toks = normalized_tokens(text)
    guess = F.lit("und")
    best = F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        hits = marker_hits(toks, markers)
        guess = F.when(hits > best, F.lit(lang)).otherwise(guess)
        best = F.greatest(hits, best)
    return guess


def punct_ratio(text: Column) -> Column:
    """Fraction of non-word, non-space characters."""
    cleaned = F.regexp_replace(text, r"[\w\s]", "")
    return F.length(cleaned) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are (any language's) marker stopwords."""
    toks = normalized_tokens(text)
    all_markers = tuple(m for ms in LANG_MARKERS.values() for m in ms)
    return marker_hits(toks, all_markers) / F.greatest(
        F.size(toks), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot x stopword
    presence x punctuation penalty (the standard web-scrape quality
    gate shape)."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct_ratio(text) * 2.0, F.lit(1.0))
    return len_score * (F.lit(0.5) + stop_score * 0.5) * punct_penalty


def doc_fingerprint(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling document fingerprint: polynomial
    accumulation of per-token h60 hashes over the token sequence, in
    modular arithmetic (mod 1e9+7) so it is ANSI-mode safe - Spark 4
    raises on long overflow by default, so the classic wrapping
    rolling hash is expressed with an explicit modulus instead. The
    h60 family (md5-derived, see operators/dedup.h60) makes the value
    reproducible in oracle SQL via list_reduce over the same hashes."""
    m = F.lit(1_000_000_007).cast("long")
    toks = normalized_tokens(F.col(text_col))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + h60(t) % m) % m,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def curate_corpus(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_tokens: int = 10,
    max_punct: float = 0.25,
    budget_tokens: int = 20_000,
) -> DataFrame:
    """End-to-end training-data curation: quality filter (token count +
    punctuation ratio) -> exact dedup (keep lowest id per md5 digest) ->
    per-language token budget (highest-token docs first until the budget
    is spent). The standard web-corpus -> training-set reduction, as one
    declarative plan.

    Scale shape: the filter runs at the scan (pushdown-friendly
    predicates over derived columns), the dedup shuffles on the 16-byte
    digest (never the document text), and the budget is a running-sum
    window per language. At 100-TB the per-language window is the skew
    point (one partition per language); production would pre-aggregate
    per-shard token counts to pick an approximate per-shard quota, then
    apply it shard-locally - the per-language exact form here is the
    oracle-checkable reference semantics."""
    from pyspark.sql import Window

    text = F.col(text_col)
    stats = df.select(
        F.col(id_col),
        F.col(lang_col),
        F.md5(text).alias("_digest"),
        token_count(text).cast("long").alias("n_tokens"),
        punct_ratio(text).alias("_punct"),
    )
    filtered = stats.where(
        (F.col("n_tokens") >= min_tokens) & (F.col("_punct") <= max_punct)
    )
    w_dup = Window.partitionBy("_digest").orderBy(id_col)
    deduped = (
        filtered.withColumn("_rn", F.row_number().over(w_dup))
        .where(F.col("_rn") == 1)
    )
    w_budget = (
        Window.partitionBy(lang_col)
        .orderBy(F.desc("n_tokens"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return deduped.select(
        F.col(id_col),
        F.col(lang_col),
        "n_tokens",
        F.sum("n_tokens").over(w_budget).alias("cum_tokens"),
    ).where(F.col("cum_tokens") <= budget_tokens)


def text_stats(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document stats bundle (token counts, lengths, ratios, quality,
    language guess).

    Staged projections: the token array is materialized ONCE and every
    marker/length stat comes out of ONE fused `aggregate` pass over it
    (struct accumulator), instead of one interpreted higher-order lambda
    per stat. Catalyst does not CSE across independent output columns,
    and higher-order functions are interpreted (no codegen), so pass
    count is the cost driver: the naive form ran ~7 lambda passes per
    doc and measured 15% of the whole round-1 bench; the fused form is
    one pass plus native size/array_distinct. Marker lookup is a single
    20-entry literal-map probe per token; the per-language marker sets
    are disjoint, so stopword hits = sum of per-language hits."""
    text = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        F.length(text).alias("n_chars_actual"),
        normalized_tokens(text).alias("_toks"),
        F.length(F.regexp_replace(text, r"[\w\s]", "")).alias("_n_punct"),
    )
    toks = F.col("_toks")
    marker_map = F.create_map(
        *[
            c
            for lang, markers in LANG_MARKERS.items()
            for m in markers
            for c in (F.lit(m), F.lit(lang))
        ]
    )
    langs = list(LANG_MARKERS)
    zero = F.lit(0).cast("long")

    def _step(acc, t):
        code = F.element_at(marker_map, t)
        return F.struct(
            (acc["ls"] + F.length(t)).alias("ls"),
            *[
                F.when(code == lang, acc[lang] + 1)
                .otherwise(acc[lang])
                .alias(lang)
                for lang in langs
            ],
        )

    init = F.struct(
        zero.alias("ls"), *[zero.alias(lang) for lang in langs]
    )
    hits = staged.select(
        F.col(id_col),
        "n_chars_actual",
        "_n_punct",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.aggregate(toks, init, _step).alias("_acc"),
    ).select(
        "*",
        F.col("_acc.ls").alias("_tok_len_sum"),
        sum(
            (F.col(f"_acc.{lang}") for lang in langs), F.lit(0).cast("long")
        ).alias("_stop_hits"),
        *[F.col(f"_acc.{lang}").alias(f"_hits_{lang}") for lang in langs],
    )
    n_tok = F.col("n_tokens")
    punct = F.col("_n_punct") / F.greatest(F.col("n_chars_actual"), F.lit(1))
    stop = F.col("_stop_hits") / F.greatest(n_tok, F.lit(1))
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stop * 5.0, F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct * 2.0, F.lit(1.0))
    guess, best = F.lit("und"), F.lit(0)
    for lang in LANG_MARKERS:
        h = F.col(f"_hits_{lang}")
        guess = F.when(h > best, F.lit(lang)).otherwise(guess)
        best = F.greatest(h, best)
    return hits.select(
        F.col(id_col),
        "n_chars_actual",
        "n_tokens",
        "n_uniq_tokens",
        F.round(
            F.col("_tok_len_sum") / F.greatest(n_tok, F.lit(1)), 6
        ).alias("avg_token_len"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(
            len_score * (F.lit(0.5) + stop_score * 0.5) * punct_penalty, 6
        ).alias("quality_score"),
        guess.alias("lang_guess"),
    )


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    shard_col: str = "source",
    text_col: str = "text",
    seq_tokens: int = 256,
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, documents
    are laid head-to-tail in id order and the token stream is cut into
    fixed ``seq_tokens``-token training sequences (the standard
    LLM-pretraining packing scheme - no padding, documents may cross
    sequence boundaries). Per document, emit the index of the sequence
    its first token lands in, the token offset inside that sequence,
    and whether the document spans a chunk boundary.

    Scale shape: packing is a running token count per shard - ONE window
    sum partitioned by shard, no global sort, no state beyond the
    cumsum. At 100 TB shard = the file/bucket a writer task owns, so
    the exchange on shard_col is the only shuffle and each sequence is
    assembled entirely inside one task. Contrast with first-fit bin
    packing, which is inherently sequential per bin set and needs a
    stateful fold; concat-and-chunk is what GPT-style pipelines
    actually run, precisely because it is this parallelizable.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = df.select(
        F.col(id_col),
        F.col(shard_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    cut = F.lit(float(seq_tokens))
    staged = sized.withColumn("_before", before)
    seq_index = F.floor(F.col("_before") / cut)
    end_index = F.floor((F.col("_before") + F.col("n_tokens") - 1) / cut)
    return staged.select(
        F.col(id_col),
        F.col(shard_col),
        F.col("n_tokens"),
        seq_index.alias("seq_index"),
        (F.col("_before") % F.lit(seq_tokens)).alias("seq_offset"),
        (end_index > seq_index).alias("spans_boundary"),
    )


def mixture_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    strata_col: str = "source",
    text_col: str = "text",
    weight: Column,
    budget_tokens: int,
) -> DataFrame:
    """Mixture-weighted deterministic corpus sampling: given a per-row
    stratum weight expression (constant within a stratum) and an
    overall token budget, each stratum s gets target share
    ``w_s / sum(w)`` of the budget and a keep-rate
    ``min(1, budget * share_s / tokens_s)``; a document is kept iff the
    first 8 hex digits of md5(id) fall under the rate threshold. The
    standard "rebalance the mixture" step when composing a training set
    from unevenly-sized sources.

    Determinism over rand(): the md5 predicate is reproducible across
    engines, runs, and repartitioning - the property that makes a
    100-TB sample auditable and incrementally extendable. Scale shape:
    one tiny per-stratum aggregate (broadcast back), then a pure
    per-row predicate - no shuffle of the fact table at all.
    """
    sized = df.select(
        F.col(id_col),
        F.col(strata_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        weight.cast("double").alias("_w"),
    )
    dim = sized.groupBy(strata_col).agg(
        F.sum("n_tokens").alias("_toks"), F.max("_w").alias("_w")
    )
    w_all = Window.partitionBy()
    rated = dim.select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.lit(float(budget_tokens))
            * (F.col("_w") / F.sum("_w").over(w_all))
            / F.col("_toks"),
        ).alias("_rate"),
    )
    joined = sized.join(F.broadcast(rated), strata_col)
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("_rate") * F.lit(4294967296.0)))),
        8,
        "0",
    )
    return joined.where(
        (F.col("_rate") >= 1.0) | (bucket < thresh)
    ).select(
        F.col(id_col),
        F.col(strata_col),
        F.col("n_tokens"),
        F.round(F.col("_rate"), 6).alias("keep_rate"),
    )


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty array when the doc
    has fewer than n tokens (F.sequence would otherwise run DESCENDING
    from 1 to a non-positive stop and emit garbage grams)."""
    count = F.size(tokens) - F.lit(n - 1)
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngram_stats_udf(n: int):
    """Per-doc n-gram repetition metrics as ONE Arrow batch: grams are
    joined and counted in Python per row (Counter), so the whole metric
    costs one vectorized pass instead of an interpreted per-element
    struct fold. The expression-fold form measured 12s (single fold) /
    30s (two folds) at sf0.1 vs ~0.6s here - the same Catalyst-width
    lesson as the MinHash/SimHash votes: accumulator-carrying
    higher-order lambdas are interpreted, and a 4-field struct rebuild
    per array element dominates everything. Values are identical (same
    grams, same counts), so the DuckDB oracle is untouched."""
    @pandas_udf(
        "n_ngrams long, top_ngram_count long, dup_ngram_occurrences long"
    )
    def _stats(toks: pd.Series) -> pd.DataFrame:
        from collections import Counter

        out = []
        for arr in toks:
            t = list(arr)
            if len(t) >= n:
                grams = [
                    " ".join(t[i : i + n]) for i in range(len(t) - n + 1)
                ]
                c = Counter(grams)
                out.append(
                    (
                        len(grams),
                        max(c.values()),
                        sum(v for v in c.values() if v > 1),
                    )
                )
            else:
                out.append((0, 0, 0))
        return pd.DataFrame(
            out,
            columns=[
                "n_ngrams",
                "top_ngram_count",
                "dup_ngram_occurrences",
            ],
        )

    return _stats


def _frac(num: Column, den: Column) -> Column:
    return F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6)


def ngram_repetition_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style (Rae et al. 2021, A1.1) per-document repetition
    metrics over word n-grams: count of the most frequent n-gram and
    total occurrences of duplicated n-grams, with fractions of the
    doc's n-gram count. The standard web-scrape repetition filter
    signal ahead of near-dup detection.

    Scale shape: a zero-shuffle projection - tokens split JVM-side, the
    gram counting runs in one Arrow batch per input partition
    (_ngram_stats_udf); nothing leaves its input partition (vs the
    naive explode -> groupBy(doc, ngram) -> groupBy(doc) double
    shuffle)."""
    toks = normalized_tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col), _ngram_stats_udf(n)(toks).alias("_s")
    )
    n_ng, top, dup = (
        F.col("_s.n_ngrams"),
        F.col("_s.top_ngram_count"),
        F.col("_s.dup_ngram_occurrences"),
    )
    return staged.select(
        F.col(id_col),
        n_ng.alias("n_ngrams"),
        top.alias("top_ngram_count"),
        dup.alias("dup_ngram_occurrences"),
        _frac(top, n_ng).alias("top_ngram_frac"),
        _frac(dup, n_ng).alias("dup_ngram_frac"),
    )


#: Gopher-rule thresholds (Rae et al. 2021 table A1 shape; values tuned
#: to the synthetic corpus so each rule is non-trivially selective)
GOPHER_THRESHOLDS = {
    "min_tokens": 15,
    "max_tokens": 1000,
    "min_mean_word_len": 4.0,
    "max_mean_word_len": 10.0,
    "max_top_bigram_frac": 0.08,
    "max_dup_trigram_frac": 0.12,
}


def _gopher_metrics_udf():
    """All Gopher-rule inputs in ONE Arrow pass per row: token count,
    summed token length, and the 2-gram/3-gram repetition counters
    (same Counter route as _ngram_stats_udf; values identical to the
    relational oracle)."""
    @pandas_udf(
        "n_tokens long, sum_len long, top2 long, n2 long, dup3 long, "
        "n3 long"
    )
    def _metrics(toks: pd.Series) -> pd.DataFrame:
        from collections import Counter

        out = []
        for arr in toks:
            t = list(arr)
            n_tok = len(t)
            sum_len = sum(len(x) for x in t)
            g2 = [" ".join(t[i : i + 2]) for i in range(n_tok - 1)]
            c2 = Counter(g2)
            g3 = [" ".join(t[i : i + 3]) for i in range(n_tok - 2)]
            c3 = Counter(g3)
            out.append(
                (
                    n_tok,
                    sum_len,
                    max(c2.values()) if c2 else 0,
                    len(g2),
                    sum(v for v in c3.values() if v > 1),
                    len(g3),
                )
            )
        return pd.DataFrame(
            out,
            columns=["n_tokens", "sum_len", "top2", "n2", "dup3", "n3"],
        )

    return _metrics


def gopher_quality_flags(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
) -> DataFrame:
    """Gopher-style rule-based quality filter: per-doc boolean flags for
    token-count bounds, mean-word-length bounds, top-bigram fraction and
    duplicate-trigram fraction, plus the conjunction `keep`. Tokens
    split JVM-side; every rule input comes out of ONE Arrow batch
    (_gopher_metrics_udf) - zero shuffle. (The line/paragraph-level
    Gopher rules don't apply: this corpus' documents are single-line
    token streams.)"""
    t = {**GOPHER_THRESHOLDS, **(thresholds or {})}
    toks = normalized_tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col), _gopher_metrics_udf()(toks).alias("_m")
    )
    n_tok = F.col("_m.n_tokens")
    mean_wl = F.when(
        n_tok > 0, F.col("_m.sum_len") / n_tok
    ).otherwise(F.lit(0.0))
    top2 = _frac(F.col("_m.top2"), F.col("_m.n2"))
    dup3 = _frac(F.col("_m.dup3"), F.col("_m.n3"))
    flags = {
        "flag_tokens": (n_tok >= t["min_tokens"])
        & (n_tok <= t["max_tokens"]),
        "flag_word_len": (mean_wl >= t["min_mean_word_len"])
        & (mean_wl <= t["max_mean_word_len"]),
        "flag_top_bigram": top2 <= t["max_top_bigram_frac"],
        "flag_dup_trigram": dup3 <= t["max_dup_trigram_frac"],
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return staged.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


#: default corpus split fractions (must sum to <= 1; remainder -> train)
SPLIT_FRACTIONS = (("test", 0.05), ("val", 0.05))


def split_assign(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    fractions: tuple = SPLIT_FRACTIONS,
) -> DataFrame:
    """Deterministic train/val/test split assignment: the first 8 hex
    digits of md5(id) place each row on [0, 1); cumulative fraction
    bands assign the split (e.g. test = [0, .05), val = [.05, .10),
    train = the rest). Hash-based rather than rand(): assignments are
    reproducible across engines/runs/partitionings, stable under corpus
    growth (a doc never migrates between splits when new docs arrive),
    and leak-proof by id. Zero shuffle - a pure projection, the split
    becomes a pushdown-friendly predicate downstream."""
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    # 16^8 buckets; band edges as exact integer thresholds
    edges: list = []
    acc = 0.0
    for name, frac in fractions:
        acc += frac
        edges.append((name, int(acc * 4294967296)))
    expr = None
    for name, hi in edges:
        cond = bucket < F.lit(hi)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    split = expr.otherwise(F.lit("train"))
    return df.withColumn("split", split)


#: PII surface patterns (name, pattern, replacement). Patterns restrict
#: to the regex subset Java (Spark) and RE2 (DuckDB/Go scanners) agree
#: on - no backrefs, no lookaround - so counts are oracle-checkable and
#: the same rules run anywhere. Counts are per-pattern on the RAW text
#: (an email containing a dotted quad counts as both); redaction
#: applies in listed order.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b", "[PHONE]"),
)


def pii_stats(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII surface counts (emails, dotted-quad IPs,
    phone-shaped numbers) + a has_pii flag - the detection half of the
    standard pretraining redaction pass. Pure regexp_count projection:
    JVM-side, zero shuffle, codegen-friendly; at 100 TB this is a
    scan-rate map stage like the other text filters."""
    cols = [F.col(id_col)]
    total = None
    for name, pat, _ in PII_PATTERNS:
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        cols.append(c.cast("long").alias(f"n_{name}"))
        total = c if total is None else total + c
    cols.append((total > 0).alias("has_pii"))
    return df.select(*cols)


def redact_pii(
    df: DataFrame, *, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace every PII match with its placeholder, in PII_PATTERNS
    order (emails first, so an address containing a dotted quad redacts
    as one [EMAIL]). Chained regexp_replace - still one projection.
    Idempotent: placeholders contain no pattern-matchable text."""
    out = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn(out_col, out)


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows - the
    standard pre-tokenization chunking for long-context training data
    and retrieval corpora: chunk i covers tokens
    [i*stride, i*stride + chunk_tokens), stride = chunk_tokens -
    overlap, so consecutive chunks share `overlap` tokens and no token
    is lost. Short docs produce exactly one (possibly short) chunk.

    Pure JVM expressions (tokenize -> sequence -> posexplode -> slice):
    zero shuffle, cost linear in corpus tokens x (1 + overlap/stride).
    Output: (id, chunk_id, chunk_text, n_tokens).
    """
    from .dedup import normalized_tokens

    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = normalized_tokens(F.col(text_col))
    size = F.size(toks)
    # ceil((size - overlap) / stride) chunks, min 1 (integer math so
    # the SQL mirror is exact)
    n_chunks = F.greatest(
        F.floor((size - F.lit(overlap) + F.lit(stride - 1)) / stride).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id", "_i"
        ),
    )
    piece = F.slice(
        F.col("_toks"), F.col("_i") * stride + 1, chunk_tokens
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def bigram_logprob(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document average bigram log-probability under an add-one-
    smoothed LM trained on the corpus itself - the CCNet-style
    "perplexity bucket" signal for pretraining data quality (docs
    scoring far below the corpus norm are boilerplate/gibberish; far
    above are likely duplicates of common text).

    score(d) = mean over bigrams (w1,w2) of
               ln( (c(w1,w2) + 1) / (c(w1) + V) )
    with counts over ALL occurrences corpus-wide and V = |vocab|.

    Plan shape: bigrams come from zipping the token array with its
    own tail (no window, no per-doc shuffle); one aggregate each for
    the bigram and unigram tables; the scalar V rides a 1-row
    broadcast; scoring is a join of doc-bigram occurrences against
    the model keyed by the bigram - shuffle cost tracks corpus token
    count, model size tracks OBSERVED bigrams, never V^2."""
    from .dedup import normalized_tokens

    toks = normalized_tokens(F.col(text_col))
    size = F.size(toks)
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(size - 1, F.lit(0))).alias("w1"),
                F.slice(toks, 2, F.greatest(size - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pairs = pairs.localCheckpoint(eager=False)  # feeds model AND scoring
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    unis = df.select(F.explode(toks).alias("w"))
    uni = unis.groupBy("w").agg(F.count("*").alias("c1"))
    uni = uni.localCheckpoint(eager=False)  # feeds V AND the score join
    # V = row count of the unigram table - NOT a second countDistinct
    # over the full token stream (that would repeat the whole
    # unigram-side aggregate at corpus scale)
    vocab = uni.agg(F.count("*").alias("v"))
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(uni, pairs["w1"] == uni["w"])
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.count("*").cast("long").alias("n_bigrams"),
    )


def dsir_resample(
    df: DataFrame,
    *,
    target_pred: Column,
    n_keep: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR; Xie et al.
    2023, arXiv:2302.03169), re-expressed over this engine's bigram-LM
    machinery: per-document importance weight

        log w(d) = mean over d's bigrams (w1,w2) of
                   [ ln p_tgt(w2|w1) - ln p_raw(w2|w1) ]

    under two add-one-smoothed bigram LMs - the TARGET model trained
    on the rows satisfying `target_pred`, the RAW model on the whole
    corpus (the paper's hashed-ngram estimator, with this repo's
    bigram features) - then resample by GUMBEL TOP-K exactly as the
    paper prescribes, with the Gumbel noise g = -ln(-ln(u)) derived
    deterministically from md5(id) (the mixture_sample md5-uniform
    discipline: reproducible across engines, runs and repartitioning,
    so a 100-TB selection is auditable and incrementally extendable).

    Plan shape: ONE bigram aggregate and ONE unigram aggregate build
    BOTH models side by side (count + count_if(target)), the two
    vocabulary sizes ride a 1-row broadcast, scoring reuses
    bigram_logprob's occurrences-join-model shape (shuffle keyed on
    the bigram, model size tracks OBSERVED grams, never V^2), and the
    final top-k is a sort-limit (TakeOrderedAndProject: per-partition
    partial top-k, no single-task global window). Nothing scales with
    doc pairs.

    Output: the n_keep selected rows as (id_col, log_weight 6dp,
    gumbel_key 6dp); ranking is by rounded key desc then id, so the
    kept SET is deterministic. Docs with no bigrams score under no
    model and are never candidates (bigram_logprob's convention).
    """
    from .dedup import normalized_tokens

    toks = normalized_tokens(F.col(text_col))
    size = F.size(toks)
    base = df.select(
        F.col(id_col), toks.alias("_toks"), target_pred.alias("_tgt")
    )
    pairs = base.select(
        F.col(id_col),
        F.col("_tgt"),
        F.explode(
            F.arrays_zip(
                F.slice(
                    F.col("_toks"), 1, F.greatest(F.size("_toks") - 1, F.lit(0))
                ).alias("w1"),
                F.slice(
                    F.col("_toks"), 2, F.greatest(F.size("_toks") - 1, F.lit(0))
                ).alias("w2"),
            )
        ).alias("p"),
    ).select(
        id_col, "_tgt", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    pairs = pairs.localCheckpoint(eager=False)  # feeds model AND scoring
    # both models from ONE aggregate each: target counts are a
    # conditional count riding the same shuffle as the raw counts
    bi = pairs.groupBy("w1", "w2").agg(
        F.count("*").alias("c2_raw"),
        F.count_if(F.col("_tgt")).alias("c2_tgt"),
    )
    uni = (
        base.select(F.col("_tgt"), F.explode(F.col("_toks")).alias("w"))
        .groupBy("w")
        .agg(
            F.count("*").alias("c1_raw"),
            F.count_if(F.col("_tgt")).alias("c1_tgt"),
        )
    )
    uni = uni.localCheckpoint(eager=False)  # feeds V AND the score join
    vocab = uni.agg(
        F.count("*").alias("v_raw"),
        F.count_if(F.col("c1_tgt") > 0).alias("v_tgt"),
    )
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(uni, pairs["w1"] == uni["w"])
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("c2_tgt") + 1)
                    / (F.col("c1_tgt") + F.col("v_tgt"))
                )
                - F.log(
                    (F.col("c2_raw") + 1)
                    / (F.col("c1_raw") + F.col("v_raw"))
                )
            ).alias("lr"),
        )
    )
    weights = scored.groupBy(id_col).agg(F.avg("lr").alias("_logw"))
    # deterministic Gumbel: u in (0,1) from the first 8 md5 hex chars
    # (+0.5 keeps u strictly inside the interval, so the double ln is
    # always finite)
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = weights.select(
        F.col(id_col),
        F.round(F.col("_logw"), 6).alias("log_weight"),
        F.round(F.col("_logw") - F.log(-F.log(u)), 6).alias("gumbel_key"),
    )
    return keyed.orderBy(
        F.desc("gumbel_key"), F.col(id_col)
    ).limit(n_keep)


def scan_parallelism_floor(df: DataFrame) -> DataFrame:
    """Scan-parallelism floor: a small corpus scan yields fewer
    partitions than cores, so ONE task would run a whole downstream
    explode+md5 chain (measured 2.7s single-threaded of 4.5s total
    for hashing_trick_embed at sf0.1). The floor triggers on scan
    BYTES - Spark splits a scan into ~maxPartitionBytes partitions,
    so total bytes below para * maxPartitionBytes means the scan
    cannot reach the cluster width regardless of how the bytes are
    spread across files (a file COUNT check misses many-tiny-files
    packing and repartitions already-split huge files). inputFiles()
    + getsize are FileIndex/driver metadata reads (no RDD conversion
    - a df.rdd.getNumPartitions() probe forces one); a derived frame
    reports no files and keeps its upstream shuffle parallelism; at
    100 TB the byte threshold is never met and no exchange is paid."""
    import os

    sess = df.sparkSession
    para = sess.sparkContext.defaultParallelism
    raw_pb = sess.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"
    )
    try:
        # Spark's own size-string parser handles every legal form
        # ('134217728', '128m', '128MB', '1g', ...); the old
        # rstrip('b') + int() broke on human-readable settings
        # (ADVICE r7).
        max_pb = int(
            sess.sparkContext._jvm.org.apache.spark.util.Utils
            .byteStringAsBytes(raw_pb)
        )
    except Exception:
        max_pb = 134217728
    files = df.inputFiles()
    # Bounded driver work: with default openCostInBytes (4 MB), F files
    # pack into >= F * 4MB / maxPartitionBytes = F/32 partitions, so
    # beyond 32*para files the scan reaches cluster width by
    # construction and no sizing is needed. getsize only works for
    # local file: URIs - on a remote store (hdfs://, s3a://) skip the
    # floor rather than raise (ADVICE r7): a 100-TB remote table is
    # never below the byte threshold anyway.
    local = [f for f in files if f.startswith("file:")]
    if files and len(local) == len(files) and len(files) <= 32 * para:
        total = sum(
            os.path.getsize(f.removeprefix("file:")) for f in local
        )
        if total < para * max_pb:
            df = df.repartition(para)
    return df


def _dense_unit_vec_udf(dim: int, field: str):
    """Shared Arrow tail of hashing_trick_embed / tfidf_hash_embed:
    scatter a (pos, weight)-struct list into a dim-width vector and
    L2-normalize, UNROUNDED - the caller applies F.round(x, 6)
    JVM-side so the 6dp boundary uses the exact same half-up decimal
    rounding as every oracle (np.round is half-EVEN: 0.0078125 would
    emit 0.007812 vs both engines' 0.007813, flipping exact-midpoint
    components)."""

    @pandas_udf("array<double>")
    def _dense(e: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for row in e:
            v = np.zeros(dim)
            if len(row):
                pos = np.fromiter(
                    (r["_pos"] for r in row), dtype=np.int64
                )
                w = np.fromiter((r[field] for r in row), dtype=np.float64)
                v[pos] = w
                nrm = float(np.sqrt((w * w).sum()))
                if nrm > 0.0:
                    v = v / nrm
            out.append(v.tolist())
        return pd.Series(out)

    return _dense


def hashing_trick_embed(
    df: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic text featurization via the hashing trick: token
    counts bucketed by h60(token) mod dim, L2-normalized - the
    model-free baseline that turns a document table into an embedding
    table any vector operator downstream (LSH near-dup, IVF ANN,
    k-means, SemDeDup) can consume. No vocabulary, no driver state,
    reproducible across engines (the h60 family again), and at 100 TB
    it is one explode + one (id, bucket) aggregate + one per-doc
    rebuild - shuffle keyed on the doc id, vector width a constant.

    Output: (id_col, embedding array<double> with 6dp components).
    """
    from .dedup import h60, normalized_tokens

    df = scan_parallelism_floor(df)
    buckets = df.select(
        F.col(id_col),
        F.explode(normalized_tokens(F.col(text_col))).alias("_tok"),
    ).select(F.col(id_col), (h60(F.col("_tok")) % dim).alias("_pos"))
    counts = buckets.groupBy(id_col, "_pos").agg(
        F.count("*").cast("double").alias("_n")
    )
    # dense fill + L2 normalize + round in ONE Arrow stage over a
    # JVM-aggregated entry list (the tfidf_hash_embed tail fix, same
    # A/B: the interpreted map rebuild + two more higher-order passes
    # cost ~2.5s warm at sf0.1, the numpy scatter ~0.3s). collect_list
    # stays JVM-side with map-side combine; Python sees one row per
    # doc. Norm = sqrt(sum n^2) is summation-order-equal to the JVM
    # fold within the 6dp round (the cosine_fast contract).
    entries = counts.groupBy(id_col).agg(
        F.collect_list(F.struct("_pos", "_n")).alias("_e")
    )
    dense = _dense_unit_vec_udf(dim, "_n")
    return entries.select(
        F.col(id_col),
        F.transform(
            dense(F.col("_e")), lambda x: F.round(x, 6)
        ).alias("embedding"),
    )


def bpe_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 10,
    driver_vocab_limit: int = 200_000,
) -> "list[tuple[int, str, str, str, int]]":
    """Train `n_merges` BPE merge rules over the corpus; returns
    [(step, left, right, merged, count)] — the driver-side artifact a
    tokenizer ships (kilobytes), like kmeans_fit's centroids.

    The scale-right formulation works on the DISTINCT token vocabulary
    weighted by occurrence counts — the corpus-sized work is ONE
    groupBy(token) count. The merge loop then runs on one of two
    equivalent paths (identical merges, pytest-pinned):

    * vocab <= `driver_vocab_limit` rows: collect the weighted vocab
      (~100 B/row -> ~20 MB at the default limit, the kmeans-centroid
      class of driver artifact) and run the merge loop locally with
      INCREMENTAL pair counts — only words containing the merged pair
      are recounted per step. This is the shape production BPE trainers
      use: the corpus-scale work is the token count; the vocab-scale
      loop fits one node.
    * larger vocab: the distributed loop. Every iteration touches only
      the vocab frame:

        pairs   explode adjacent symbol pairs weighted by token count
                -> groupBy sum -> argmax (count desc, pair asc — the
                deterministic tie-break the differential test pins)
        merge   one fold over each vocab row's symbol array replacing
                adjacent (left, right) with the merged symbol

      Each iteration is one vocab-sized shuffle + a driver top-1 (a
      k-rows-per-iteration scalar, the kmeans_fit discipline); lineage
      is cut every third iteration."""
    from .dedup import normalized_tokens

    vocab = (
        df.select(
            F.explode(normalized_tokens(F.col(text_col))).alias("_tok")
        )
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_w"))
        .select(
            # split-on-every-boundary leaves a trailing "" element -
            # drop it or the trainer happily "merges" (sym, "") pairs
            F.filter(
                F.split(F.col("_tok"), "(?!^)"),
                lambda x: F.length(x) > 0,
            ).alias("_sym"),
            "_w",
        )
        # empty/whitespace-only documents tokenize to a lone "" whose
        # filtered symbol array is empty - slice(_sym, 1, -1) in the
        # pair step would throw; such rows carry no pairs and no
        # mergeable content, so drop them here
        .where(F.size("_sym") > 0)
    )
    return _bpe_train_loop(vocab, n_merges, driver_vocab_limit)


def _bpe_train_loop(
    vocab: DataFrame, n_merges: int, driver_vocab_limit: int
) -> "list[tuple[int, str, str, str, int]]":
    """The alphabet-agnostic BPE merge loop shared by bpe_train
    (character symbols) and byte_bpe_train (hex byte symbols): input is
    any weighted vocab frame (_sym array<string>, _w long); both the
    driver-local incremental path and the distributed fold operate on
    opaque string symbols, so the byte alphabet rides the exact same
    machinery (and inherits its differential pytests' semantics)."""
    vocab = vocab.localCheckpoint(eager=True)
    if vocab.count() <= driver_vocab_limit:
        return _bpe_train_driver(vocab.collect(), n_merges)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        pairs = (
            vocab.select(
                "_w",
                F.explode(
                    F.zip_with(
                        F.slice(
                            F.col("_sym"), 1, F.size("_sym") - 1
                        ),
                        F.slice(F.col("_sym"), 2, F.size("_sym") - 1),
                        lambda a, b: F.struct(
                            a.alias("l"), b.alias("r")
                        ),
                    )
                ).alias("_p"),
            )
            .groupBy("_p.l", "_p.r")
            .agg(F.sum("_w").alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["_n"] < 2:
            break
        left, right, n = pairs[0]["l"], pairs[0]["r"], int(pairs[0]["_n"])
        merges.append((step, left, right, left + right, n))
        fold = F.aggregate(
            F.col("_sym"),
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
            lambda acc, x: F.when(
                acc["pend"].eqNullSafe(F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(
                        acc["out"], F.array(F.lit(left + right))
                    ).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            ).otherwise(
                F.struct(
                    F.when(
                        acc["pend"].isNull(), acc["out"]
                    )
                    .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
                    .alias("out"),
                    x.alias("pend"),
                )
            ),
            lambda acc: F.when(
                acc["pend"].isNull(), acc["out"]
            ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
        )
        vocab = vocab.select(fold.alias("_sym"), "_w")
        if step % 3 == 2 or step == n_merges - 1:
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def _bpe_train_driver(
    rows, n_merges: int
) -> "list[tuple[int, str, str, str, int]]":
    """Local merge loop over the collected weighted vocab — the fast
    path of bpe_train for vocabularies that fit the driver. Pair counts
    are maintained INCREMENTALLY: a merge step recounts only the words
    that contain the merged pair (their old pairs decrement, their
    re-folded pairs increment), so step cost tracks the affected-word
    set, not the vocabulary. Tie-break identical to the distributed
    argmax: count desc, then (left, right) ascending — Python tuple
    compare on str matches Spark's UTF8 binary sort because UTF-8 byte
    order preserves code-point order. Each word's re-fold is the same
    single left-to-right non-overlapping pass (bpe_apply_merges with
    one rule) the distributed fold applies."""
    from collections import Counter, defaultdict

    words = [[list(r["_sym"]), int(r["_w"])] for r in rows]
    counts: Counter = Counter()
    where: defaultdict = defaultdict(set)
    for wi, (syms, w) in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] += w
            where[p].add(wi)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        best = None
        for pair, cnt in counts.items():
            if cnt >= 2 and (best is None or (-cnt, pair) < best[0]):
                best = ((-cnt, pair), cnt)
        if best is None:
            break
        (_, (left, right)), cnt = best
        merges.append((step, left, right, left + right, int(cnt)))
        # a completed left-to-right pass leaves no adjacent (left,
        # right) in the re-folded word, so popping the set is safe -
        # no later addition re-populates this key within the step
        for wi in sorted(where.pop((left, right), ())):
            syms, w = words[wi]
            for p in zip(syms, syms[1:]):
                counts[p] -= w
            new = bpe_apply_merges(syms, [(left, right)])
            words[wi][0] = new
            for p in zip(new, new[1:]):
                counts[p] += w
                where[p].add(wi)
    return merges


def bpe_apply_merges(symbols: list, rules: list) -> list:
    """Reference merge application (driver/UDF-side, pure Python):
    replay the trained rules IN ORDER, each one a single left-to-right
    non-overlapping pass - exactly the fold bpe_train uses on the vocab
    frame, so encode(corpus) under the trained rules reproduces the
    trainer's final vocabulary state."""
    for left, right in rules:
        if len(symbols) < 2:
            break
        out: list = []
        pend = None
        for x in symbols:
            if pend == left and x == right:
                out.append(left + right)
                pend = None
            else:
                if pend is not None:
                    out.append(pend)
                pend = x
        if pend is not None:
            out.append(pend)
        symbols = out
    return symbols


def bpe_encode_counts(
    df: DataFrame,
    merges: "list[tuple[int, str, str, str, int]]",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a TRAINED BPE: per document, the word
    count and the BPE symbol count after replaying the merge rules -
    the numbers a mixture/budget planner actually needs (token budgets
    are tokenizer tokens, not whitespace words).

    Scale shape (r7, vocab-amortized): the expensive step - the Python
    merge replay, the sanctioned Arrow exception because BPE's
    sequential merge order has no SQL form - runs once per
    CORPUS-DISTINCT word, not once per occurrence or per Arrow batch:

      per_doc     explode Spark-side tokens -> (doc, word) counts
      word_len    distinct words -> BPE symbol length (Arrow UDF over
                  the vocab frame only - Zipf makes this a vanishing
                  fraction of the token stream at any corpus size)
      join back   per-doc sums of count and count*len

    This is the same ONE-token-groupBy discipline bpe_train uses: the
    corpus-sized work is the token explode + (doc, word) aggregate, all
    JVM-side; Python touches only vocab rows. The vocab join keys on the
    word - AQE broadcasts it when the vocab is small and falls back to a
    shuffle equi-join when it is not (a web-scale vocab does not fit a
    broadcast).

    The word split is the SAME Spark-side expression the trainer uses
    (normalized_tokens: Java `\\s+`), so encode(corpus) reproduces the
    trainer's tokenization exactly - the earlier Python re.split was
    Unicode-aware and disagreed on non-ASCII whitespace (ADVICE r6).
    Docs with no words (empty/whitespace-only) still emit (0, 0) via
    the final left join.
    """
    from .dedup import normalized_tokens

    rules = [(l, r) for _, l, r, _m, _n in merges]

    words = df.select(
        F.col(id_col),
        F.explode(normalized_tokens(F.col(text_col))).alias("_w"),
    ).where(F.length("_w") > 0)
    per_doc = words.groupBy(id_col, "_w").agg(
        F.count(F.lit(1)).alias("_n")
    )

    @pandas_udf("long")
    def _enc_len(w: pd.Series) -> pd.Series:
        # input rows are corpus-distinct words - each replay runs once
        return w.map(lambda s: len(bpe_apply_merges(list(s), rules)))

    word_len = (
        per_doc.select("_w").distinct().withColumn("_len", _enc_len(F.col("_w")))
    )
    counts = (
        per_doc.join(word_len, "_w")
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_words"),
            F.sum(F.col("_n") * F.col("_len")).alias("n_bpe_tokens"),
        )
    )
    return df.select(id_col).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


#: GPT-2-style pre-tokenization (Radford et al. 2019, the regex from
#: the released encoder), with ASCII letter/digit classes in place of
#: \p{L}/\p{N} so the SAME pattern compiles identically under Java
#: regex (Spark-side regexp_extract_all) and Python re (the
#: differential reference) - Python's re has no \p classes. Merges
#: never cross pretoken boundaries, which is the property that keeps
#: byte-level BPE from learning cross-word junk merges.
BYTE_BPE_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+|\s+(?!\S)|\s+"
)

#: RE2-safe twin of BYTE_BPE_PRETOKEN_RE for the DuckDB oracle (r11
#: verdict #3): RE2 has no lookahead, so \s+(?!\S) - "a whitespace run
#: minus its last char when followed by non-whitespace, whole at end of
#: string" - is decomposed into the anchored \s+$ (the whole-at-EOS
#: arm) plus plain \s+. The two patterns tokenize identically on every
#: string WITHOUT a multi-whitespace run directly before non-whitespace
#: (there the lookahead form splits the run and donates its last space
#: to the next pretoken; the twin keeps the run whole). The testdata
#: corpus is single-space-only, so the twin is corpus-EXACT - pinned
#: per-document against the lookahead form (and against Spark's Java
#: regex) in tests/test_packing.py, with the known divergence class
#: ("a  b") asserted as a documented tripwire: if the driver ever
#: regenerates documents with multi-space runs, that pytest names this
#: constant instead of the oracle melting into a hash mismatch.
BYTE_BPE_PRETOKEN_RE2 = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+|\s+$|\s+"
)


def byte_pretokens(text: Column) -> Column:
    """GPT-2-style pretokens of a text column (JVM-side regex scan)."""
    return F.regexp_extract_all(text, F.lit(BYTE_BPE_PRETOKEN_RE), 0)


def byte_symbols(tok: Column) -> Column:
    """A pretoken's UTF-8 bytes as uppercase two-hex-char symbols -
    the byte-level BPE alphabet, JVM-side (encode + per-byte substr +
    hex; no Python). Hex-pair symbols keep the shared merge loop's
    string machinery intact: merged symbols concatenate to longer hex
    strings that decode back to the byte sequence, and UTF8 binary
    sort on hex equals byte lexicographic order, so the trainer's
    (left, right) tie-break is identical on both engines and in the
    pure-Python reference."""
    b = F.encode(tok, "UTF-8")
    return F.transform(
        F.sequence(F.lit(1), F.length(b)),
        lambda i: F.hex(b.substr(i, F.lit(1))),
    )


def byte_bpe_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 10,
    driver_vocab_limit: int = 200_000,
) -> "list[tuple[int, str, str, str, int]]":
    """BYTE-LEVEL BPE with regex pre-tokenization - the GPT-2 trainer
    shape (Radford et al. 2019; Sennrich et al. 2016 for the merge
    loop): pretokens come from BYTE_BPE_PRETOKEN_RE (so merges never
    cross word/punct boundaries), the alphabet is the pretoken's UTF-8
    BYTES (as hex-pair symbols - every string is representable, no
    unk), and the merge loop is bpe_train's alphabet-agnostic
    machinery verbatim (_bpe_train_loop: ONE corpus-sized pretoken
    groupBy, then vocab-sized work only - the vocab-amortization that
    keeps the trainer sub-second must and does survive the byte
    alphabet, since the byte split only lengthens symbol arrays by the
    bytes-per-word factor, never changes the row count class).

    Returns [(step, left, right, merged, count)] with hex-pair-string
    symbols; tests/test_packing.py pins the exact merge sequence
    against a pure-Python byte-level reference."""
    vocab = (
        df.select(
            F.explode(byte_pretokens(F.col(text_col))).alias("_tok")
        )
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_w"))
        .select(byte_symbols(F.col("_tok")).alias("_sym"), "_w")
        .where(F.size("_sym") > 0)
    )
    return _bpe_train_loop(vocab, n_merges, driver_vocab_limit)


def byte_bpe_encode_counts(
    df: DataFrame,
    merges: "list[tuple[int, str, str, str, int]]",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a TRAINED byte-level BPE: per document
    the pretoken count and the BPE symbol count after replaying the
    merge rules - byte_bpe_train's encode twin, with
    bpe_encode_counts' vocab-amortized shape intact: the Python merge
    replay runs once per CORPUS-DISTINCT pretoken (an Arrow stage over
    the vocab frame only); the corpus-sized work is the JVM regex
    explode + (doc, pretoken) aggregate. The pretoken split is the
    SAME JVM regex the trainer uses, so encode(corpus) reproduces the
    trainer's final state exactly."""
    rules = [(left, right) for _s, left, right, _m, _n in merges]

    toks = df.select(
        F.col(id_col),
        F.explode(byte_pretokens(F.col(text_col))).alias("_w"),
    )
    per_doc = toks.groupBy(id_col, "_w").agg(
        F.count(F.lit(1)).alias("_n")
    )

    @pandas_udf("long")
    def _enc_len(w: pd.Series) -> pd.Series:
        # input rows are corpus-distinct pretokens - one replay each
        def one(s: str) -> int:
            hx = s.encode("utf-8").hex().upper()
            syms = [hx[i : i + 2] for i in range(0, len(hx), 2)]
            return len(bpe_apply_merges(syms, rules))

        return w.map(one)

    word_len = (
        per_doc.select("_w")
        .distinct()
        .withColumn("_len", _enc_len(F.col("_w")))
    )
    counts = (
        per_doc.join(word_len, "_w")
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_pretokens"),
            F.sum(F.col("_n") * F.col("_len")).alias("n_bpe_tokens"),
        )
    )
    return df.select(id_col).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_pretokens", F.lit(0))
        .cast("long")
        .alias("n_pretokens"),
        F.coalesce("n_bpe_tokens", F.lit(0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval decontamination report (the GPT-3 appendix-C /
    PaLM discipline): a training document is CONTAMINATED when it
    shares any word n-gram with the benchmark/eval set; the report
    carries the distinct overlapping-gram count per flagged doc so a
    pipeline can threshold or hard-drop.

    Output: (id_col, n_hits) for contaminated corpus docs only -
    n_hits = number of DISTINCT n-grams of the doc that appear
    anywhere in the benchmark set.

    100-TB shape: the benchmark side is an eval suite - megabytes,
    not terabytes - so its distinct gram-hash set BROADCASTS and the
    corpus pays one zero-shuffle gram projection + a broadcast hash
    join + one doc-keyed aggregate; corpus text itself never
    shuffles (grams travel as h60 hashes, the engine-wide 60-bit
    family - collision odds ~ grams^2 / 2^60, negligible below
    ~10^8 distinct eval grams). The corpus side takes the
    scan-parallelism floor so the gram explode + md5 chain spreads
    over the cluster even when the scan is one small file (the
    hashing_trick_embed lesson: a single task otherwise runs the
    whole Python-free but CPU-heavy chain)."""
    from .dedup import h60, normalized_tokens

    corpus = scan_parallelism_floor(corpus)

    def gram_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    word_ngrams(normalized_tokens(F.col(text_col)), n)
                )
            ).alias("_g"),
        ).select(id_col, h60(F.col("_g")).alias("_h"))

    bench_set = gram_hashes(benchmark).select("_h").distinct()
    hits = gram_hashes(corpus).join(F.broadcast(bench_set), "_h")
    # per-doc grams are already distinct (array_distinct before the
    # explode), so the count is distinct overlapping grams
    return hits.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_hits")
    )


def grouped_split_assign(
    df: DataFrame,
    *,
    group_col: Column | str,
    fractions: tuple = SPLIT_FRACTIONS,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the md5 band is computed
    on a GROUP key instead of the row id, so every member of a group
    (exact-duplicate cluster, near-dup component representative, all
    chunks of one source document...) lands in the SAME split - the
    guard against test-set leakage that a per-row split cannot give
    when duplicates or sibling chunks exist. Same determinism contract
    as split_assign (reproducible across engines/runs/partitionings,
    stable under corpus growth); still a pure zero-shuffle projection -
    the group key is a row-local expression or an already-joined
    column, never a shuffle here."""
    key = F.col(group_col) if isinstance(group_col, str) else group_col
    bucket = F.conv(
        F.substring(F.md5(key.cast("string")), 1, 8), 16, 10
    ).cast("long")
    edges: list = []
    acc = 0.0
    for name, frac in fractions:
        acc += frac
        edges.append((name, int(acc * 4294967296)))
    expr = None
    for name, hi in edges:
        cond = bucket < F.lit(hi)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn("split", expr.otherwise(F.lit("train")))


def shard_assign(
    df: DataFrame,
    *,
    n_shards: int,
    n_bands: int = 64,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Deterministic size-balanced shard assignment for training
    output: the step after packing/splitting, where the curated corpus
    must land in n_shards files of near-equal token mass so every data-
    loader rank reads the same amount of work (a skewed shard is a
    straggler every epoch).

    Shape: md5-band the ids into n_bands bounded groups, rank within
    each band by size DESC (ties on id), then deal round-robin with a
    per-band stagger - shard = (rank - 1 + band) % n_shards. Round-
    robin over descending sizes is the classic greedy bound (shard
    totals differ by at most one item per dealing round, and the items
    shrink as the deal proceeds); the stagger stops every band dropping
    its largest doc into shard 0.

    Scale: the ONE shuffle is the band-partitioned sort window. Bands
    bound each sort partition at ~corpus/n_bands regardless of data
    skew (the id hash is uniform) - pick n_bands ~ cluster width at
    100 TB. rand()-free and rank-stable, so re-runs and engine ports
    produce byte-identical shard layouts (the split_assign md5
    discipline).

    Adds (_band int, shard int); callers drop _band or feed it to the
    writer as a secondary key."""
    band = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % n_bands
    ).cast("int")
    out = df.withColumn("_band", band)
    w = Window.partitionBy("_band").orderBy(
        F.col(size_col).desc(), F.col(id_col)
    )
    shard = (
        (F.row_number().over(w) - F.lit(1) + F.col("_band"))
        % n_shards
    ).cast("int")
    return out.withColumn("shard", shard)


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int,
    n_bands: int = 64,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Materialize the corpus as shard=N parquet directories plus a
    manifest: shard_assign for the layout, ONE hash exchange on the
    shard id so each shard is a single writer task's output (one file
    per shard - the data-loader contract), and a per-shard
    (n_docs, total size) manifest aggregated from the same assignment.
    Returns the manifest DataFrame; the write is append-free overwrite
    (re-runs reproduce byte-identical shards - shard_assign is
    deterministic)."""
    assigned = shard_assign(
        df,
        n_shards=n_shards,
        n_bands=n_bands,
        id_col=id_col,
        size_col=size_col,
    ).drop("_band")
    (
        assigned.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )
    return assigned.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(size_col).cast("long").alias("total_size"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    *,
    alpha: float,
    budget_tokens: int,
    id_col: str = "doc_id",
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture sampling: stratum weights are the
    corpus's OWN token shares raised to ``alpha`` (w_s = toks_s^alpha,
    the multilingual-pretraining rebalance rule of XLM-R / mT5:
    alpha < 1 upweights low-resource strata, alpha = 1 keeps natural
    proportions, alpha = 0 flattens to uniform), then the same
    deterministic md5-threshold keep rule as `mixture_sample`. Where
    mixture_sample takes the weights as caller input, here they are
    derived from the sizing aggregate itself - no second pass: the
    per-stratum dim already holds toks_s, so the power and the
    normalizing window run on the broadcast-sized dim frame.

    Scale shape unchanged from mixture_sample: one tiny per-stratum
    aggregate, weights + rates computed on that dim frame, broadcast
    back, pure per-row md5 predicate - the fact table never shuffles.
    """
    sized = df.select(
        F.col(id_col),
        F.col(strata_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    dim = sized.groupBy(strata_col).agg(
        F.sum("n_tokens").cast("double").alias("_toks")
    )
    w_all = Window.partitionBy()
    w = F.pow(F.col("_toks"), F.lit(float(alpha)))
    rated = dim.select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.lit(float(budget_tokens))
            * (w / F.sum(w).over(w_all))
            / F.col("_toks"),
        ).alias("_rate"),
    )
    joined = sized.join(F.broadcast(rated), strata_col)
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thresh = F.lpad(
        F.lower(F.hex(F.floor(F.col("_rate") * F.lit(4294967296.0)))),
        8,
        "0",
    )
    return joined.where(
        (F.col("_rate") >= 1.0) | (bucket < thresh)
    ).select(
        F.col(id_col),
        F.col(strata_col),
        F.col("n_tokens"),
        F.round(F.col("_rate"), 6).alias("keep_rate"),
    )


def doc_token_vectors(
    docs: DataFrame,
    *,
    n_tokens: int,
    dim: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token table with deterministic pseudo-embeddings:
    the first `n_tokens` DISTINCT whitespace tokens in order of first
    appearance, each carrying a `dim`-component vector whose j-th
    component is ascii(md5(token)[j]) - 75.5 (centered over the hex
    alphabet's 48..102 ascii span). Not a learned embedding - a
    deterministic, engine-portable stand-in with the right SHAPE
    (identical tokens -> identical vectors, distinct tokens ->
    near-orthogonal-ish), so token-level retrieval plans can be built
    and value-checked in SQL; swap a real encoder in by replacing this
    one projection. Everything is JVM column arithmetic: explode ->
    (doc, token) first-position aggregate -> rank window -> md5/ascii
    component exprs; no Python in the path."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    first = toks.groupBy(id_col, "tok").agg(F.min("pos").alias("ord"))
    w = Window.partitionBy(id_col).orderBy("ord", "tok")
    sel = (
        first.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_tokens)
        .select(id_col, "tok")
    )
    comps = [
        (
            F.ascii(F.substring(F.md5(F.col("tok")), j + 1, 1))
            .cast("double")
            - F.lit(75.5)
        ).alias(f"v{j}")
        for j in range(dim)
    ]
    out = sel.select(F.col(id_col), F.col("tok"), *comps)
    norm = None
    for j in range(dim):
        t = F.col(f"v{j}") * F.col(f"v{j}")
        norm = t if norm is None else norm + t
    return out.withColumn("nrm", F.sqrt(norm))


def maxsim_topk(
    anchors: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 3,
    dim: int = 8,
) -> DataFrame:
    """Late-interaction retrieval (ColBERT's MaxSim, Khattab &
    Zaharia 2020): score(query doc, corpus doc) = sum over query
    tokens of the MAX cosine against any of the candidate's tokens -
    token-level matching that survives word reordering and partial
    overlap where a single pooled vector blurs. Inputs are two
    doc_token_vectors frames (anchor tokens broadcast - n_anchors *
    n_tokens rows); the token-pair cosine is an inline dim-term
    expression (whole-stage codegen), the MAX collapses per
    (candidate, query, query-token), the SUM per (candidate, query),
    then one top-k window per query. Scale: candidate tokens never
    self-join - cost is |corpus tokens| * |anchor tokens|, linear in
    the corpus; at production scale an ANN prefilter on pooled
    vectors bounds the candidate set and this exact MaxSim re-ranks
    the shortlist. Output: (q_id, doc_id, score, rn), score rounded
    6dp BEFORE ranking so FP summation order cannot flip ranks."""
    q = anchors.select(
        F.col("doc_id").alias("q_id"),
        F.col("tok").alias("q_tok"),
        *[F.col(f"v{j}").alias(f"q{j}") for j in range(dim)],
        F.col("nrm").alias("q_nrm"),
    )
    dotp = None
    for j in range(dim):
        t = F.col(f"v{j}") * F.col(f"q{j}")
        dotp = t if dotp is None else dotp + t
    cos = dotp / (F.col("nrm") * F.col("q_nrm"))
    per_qtok = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "q_id",
            "q_tok",
            cos.alias("_cos"),
        )
        .groupBy("doc_id", "q_id", "q_tok")
        .agg(F.max("_cos").alias("_best"))
    )
    scored = per_qtok.groupBy("q_id", "doc_id").agg(
        F.round(F.sum("_best"), 6).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "doc_id", "score", "rn")
    )


def kneser_ney_logprob(
    df: DataFrame,
    *,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average bigram log-probability under an
    INTERPOLATED KNESER-NEY LM trained on the corpus itself - the
    smoothing the production fluency filters actually use (CCNet's
    KenLM models are modified-KN; bigram_logprob's add-one is the
    didactic baseline, and add-one famously over-taxes frequent
    contexts). Fixed discount d:

        P(w2|w1) = max(c(w1,w2) - d, 0) / ctx(w1)
                 + d * N1+(w1,.) / ctx(w1) * P_cont(w2)
        P_cont(w2) = N1+(.,w2) / N1+(.,.)

    with ctx(w1) = sum_w2 c(w1,w2) taken from the bigram table itself
    (NOT the unigram token count - a doc-final token is not a bigram
    context), N1+ the left/right continuation type counts, and
    N1+(.,.) the total observed bigram types. Sums to exactly 1 over
    the continuation vocabulary per context (pinned to 1e-12 by the
    numpy differential in tests/test_textstats_kn.py).

    Plan shape matches bigram_logprob: every model table derives from
    ONE bigram aggregate (ctx and N1+(w1,.) from a w1 rollup,
    N1+(.,w2) from a w2 rollup, N1+(.,.) as a 1-row broadcast);
    scoring joins doc bigrams to the model keyed on the bigram and its
    two rollups - shuffle cost tracks corpus tokens, model size tracks
    OBSERVED types. Output: (doc_id, n_bigrams, avg_kn_logprob 6dp);
    docs with < 2 tokens drop (no bigrams to score)."""
    from .dedup import normalized_tokens

    toks = normalized_tokens(F.col(text_col))
    size = F.size(toks)
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(size - 1, F.lit(0))).alias("w1"),
                F.slice(toks, 2, F.greatest(size - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pairs = pairs.localCheckpoint(eager=False)  # model AND scoring
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    bi = bi.localCheckpoint(eager=False)  # feeds three rollups + join
    ctx = bi.groupBy("w1").agg(
        F.sum("c2").alias("ctx"), F.count("*").alias("n1_fwd")
    )
    back = bi.groupBy("w2").agg(F.count("*").alias("n1_back"))
    types = bi.agg(F.count("*").cast("double").alias("t"))
    d = F.lit(float(discount))
    p_kn = (
        F.greatest(F.col("c2") - d, F.lit(0.0)) / F.col("ctx")
        + d
        * F.col("n1_fwd")
        / F.col("ctx")
        * (F.col("n1_back") / F.col("t"))
    )
    return (
        pairs.join(bi, ["w1", "w2"])
        .join(ctx, "w1")
        .join(back, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(F.log(p_kn)), 6).alias("avg_kn_logprob"),
        )
    )


def _unigram_word_passes(word: str, logp: dict, max_len: int):
    """Forward-backward over one word's segmentation lattice under a
    unigram piece model: returns (logZ, {piece: expected_count}).
    Log-space with sequential np.logaddexp in ascending span order -
    the FIXED accumulation order both the distributed and driver
    trainers and the pure-Python differential test share, so their
    floats agree bit-for-bit."""
    import numpy as np

    n = len(word)
    neg = float("-inf")
    alpha = [0.0] + [neg] * n
    for i in range(1, n + 1):
        a = neg
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is not None and alpha[j] != neg:
                a = np.logaddexp(a, alpha[j] + lp)
        alpha[i] = a
    if alpha[n] == neg:
        return neg, {}
    beta = [neg] * n + [0.0]
    for j in range(n - 1, -1, -1):
        b = neg
        for e in range(j + 1, min(n, j + max_len) + 1):
            lp = logp.get(word[j:e])
            if lp is not None and beta[e] != neg:
                b = np.logaddexp(b, lp + beta[e])
        beta[j] = b
    z = alpha[n]
    exp: dict = {}
    for j in range(n):
        if alpha[j] == neg:
            continue
        for e in range(j + 1, min(n, j + max_len) + 1):
            piece = word[j:e]
            lp = logp.get(piece)
            if lp is not None and beta[e] != neg:
                post = float(np.exp(alpha[j] + lp + beta[e] - z))
                exp[piece] = exp.get(piece, 0.0) + post
    return float(z), exp


def _unigram_viterbi(word: str, logp: dict, max_len: int):
    """Best segmentation of one word under the unigram model: max
    total piece log-prob, ties broken toward the LONGEST piece ending
    at each position (first j wins under strict >). Returns the piece
    list, or None when no segmentation covers the word."""
    n = len(word)
    neg = float("-inf")
    best = [0.0] + [neg] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is not None and best[j] != neg:
                cand = best[j] + lp
                if cand > best[i]:
                    best[i], back[i] = cand, j
    if best[n] == neg:
        return None
    out, i = [], n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def unigram_lm_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    vocab_size: int = 200,
    seed_size: int = 1000,
    max_piece_len: int = 4,
    em_iters: int = 2,
    prune_frac: float = 0.25,
    driver_vocab_limit: int = 200_000,
) -> "list[tuple[str, float]]":
    """Train a SentencePiece-style unigram language-model tokenizer
    (Kudo 2018, "Subword Regularization"): seed a large candidate
    piece inventory, EM the piece probabilities by marginalizing over
    every segmentation of every word (forward-backward on the
    segmentation lattice), then alternately prune the weakest pieces
    and re-EM until the inventory reaches `vocab_size`. Returns the
    driver-side artifact a tokenizer ships: [(piece, logp)] sorted by
    (logp desc, piece) - kilobytes, the kmeans-centroid class.

    Two documented simplifications of the reference algorithm, both
    mirrored exactly by the pure-Python differential in
    tests/test_textstats_unigram.py: the M-step is plain MLE
    (expected count / total) rather than the Bayesianified digamma
    form, and pruning drops the lowest-EXPECTED-COUNT multi-char
    pieces (count asc, piece desc; single chars are never pruned, so
    every word always segments) rather than computing per-piece
    likelihood loss. Tie-breaks are pinned everywhere: seed keeps top
    multi-char candidates by (count desc, piece asc).

    Scale shape (the bpe_train discipline): the corpus-sized work is
    ONE groupBy(word) count; the seed candidate count is one
    substring-explode aggregate over the DISTINCT weighted vocabulary
    (pieces bounded by max_piece_len x word length, 8-40 bytes each,
    never document text); each EM iteration is one Arrow pass over
    the distinct-word frame with the piece table BROADCAST as plain
    Python dict (vocab-sized, kilobytes-to-MBs) plus one piece-keyed
    sum - cost tracks distinct words x mean word length^2, never the
    corpus. Small vocabularies (<= driver_vocab_limit distinct words)
    collect once and run the whole EM driver-side - identical math,
    identical accumulation order."""
    import math

    from .dedup import normalized_tokens

    words = (
        df.select(
            F.explode(normalized_tokens(F.col(text_col))).alias("_word")
        )
        .where(F.length("_word") > 0)
        .groupBy("_word")
        .agg(F.count(F.lit(1)).alias("_w"))
        .localCheckpoint(eager=True)
    )
    L = max_piece_len
    cand = (
        words.select(
            "_w",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, char_length(_word)),"
                    f" s -> transform(sequence(s, least(s + {L - 1},"
                    " char_length(_word))),"
                    " e -> substr(_word, s, e - s + 1))))"
                )
            ).alias("_piece"),
        )
        .groupBy("_piece")
        .agg(F.sum("_w").alias("_n"))
    )
    chars = cand.where(F.length("_piece") == 1).collect()
    multi = (
        cand.where(F.length("_piece") > 1)
        .orderBy(F.col("_n").desc(), F.col("_piece"))
        .limit(seed_size)
        .collect()
    )
    counts = {
        r["_piece"]: float(r["_n"]) for r in [*chars, *multi]
    }

    def _normalize(c: dict) -> dict:
        total = math.fsum(c.values())
        return {p: math.log(v / total) for p, v in c.items() if v > 0}

    logp = _normalize(counts)
    n_words = words.count()
    local = (
        [(r["_word"], int(r["_w"])) for r in words.collect()]
        if n_words <= driver_vocab_limit
        else None
    )

    def _em_counts(cur_logp: dict) -> dict:
        if local is not None:
            agg: dict = {}
            for word, w in local:
                _z, exp = _unigram_word_passes(word, cur_logp, L)
                for p, c in exp.items():
                    agg[p] = agg.get(p, 0.0) + w * c
            return agg
        b = words.sparkSession.sparkContext.broadcast(cur_logp)

        def _batches(it):
            for pdf in it:
                agg: dict = {}
                for word, w in zip(pdf["_word"], pdf["_w"]):
                    _z, exp = _unigram_word_passes(str(word), b.value, L)
                    for p, c in exp.items():
                        agg[p] = agg.get(p, 0.0) + int(w) * c
                yield pd.DataFrame(
                    {"_piece": list(agg), "_c": list(agg.values())}
                )

        rows = (
            words.mapInPandas(_batches, "_piece string, _c double")
            .groupBy("_piece")
            .agg(F.sum("_c").alias("_c"))
            .collect()
        )
        return {r["_piece"]: float(r["_c"]) for r in rows}

    single = {p for p in logp if len(p) == 1}
    while True:
        for _ in range(em_iters):
            logp = _normalize(_em_counts(logp))
        n_multi = sum(1 for p in logp if len(p) > 1)
        target_multi = max(vocab_size - len(single), 0)
        if n_multi <= target_multi:
            break
        exp = _em_counts(logp)
        ranked = sorted(
            (p for p in logp if len(p) > 1),
            key=lambda p: (exp.get(p, 0.0), [-ord(ch) for ch in p]),
        )
        n_drop = min(
            max(int(n_multi * prune_frac), 1), n_multi - target_multi
        )
        dropped = set(ranked[:n_drop])
        logp = _normalize(
            {p: math.exp(lp) for p, lp in logp.items() if p not in dropped}
        )
    return sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))


def unigram_encode_counts(
    df: DataFrame,
    vocab: "list[tuple[str, float]]",
    *,
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """Corpus piece-frequency table under a trained unigram model:
    Viterbi-segment every word and count pieces. Vocab-amortized like
    bpe_encode_counts - the Viterbi Python runs once per DISTINCT
    word (one groupBy), piece counts then scale by word frequency in
    a plain aggregate; the trained vocab is a broadcast dict. Words
    the vocab cannot cover (a char pruned from a foreign corpus)
    count under the sentinel piece '<unk>'. Output: (piece, n)."""
    from .dedup import normalized_tokens

    words = (
        df.select(
            F.explode(normalized_tokens(F.col(text_col))).alias("_word")
        )
        .where(F.length("_word") > 0)
        .groupBy("_word")
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    logp = dict(vocab)
    b = df.sparkSession.sparkContext.broadcast(logp)

    def _batches(it):
        for pdf in it:
            out_w, out_p = [], []
            for word, w in zip(pdf["_word"], pdf["_w"]):
                pieces = _unigram_viterbi(
                    str(word), b.value, max_piece_len
                )
                if pieces is None:
                    pieces = ["<unk>"]
                for p in pieces:
                    out_w.append(int(w))
                    out_p.append(p)
            yield pd.DataFrame({"_piece": out_p, "_w": out_w})

    return (
        words.mapInPandas(_batches, "_piece string, _w long")
        .groupBy(F.col("_piece").alias("piece"))
        .agg(F.sum("_w").alias("n"))
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id: str = "q_id",
    q_text: str = "q_text",
) -> DataFrame:
    """Sparse lexical retrieval: BM25 top-k documents per query
    (Robertson-Sparck Jones probabilistic weighting with the Lucene
    idf form, ln(1 + (N - df + 0.5)/(df + 0.5)), always positive) -
    the sparse twin of knn_join_bruteforce, and the other half a
    hybrid retrieval stack fuses with dense ANN. Terms are the
    engine-wide normalized tokens hashed with h60, so scores are
    engine-reproducible and the oracle can mirror them exactly.

    Output: (q_id, id_col, score, rn) with score rounded to 6dp and
    rn the per-query rank ordered by (rounded score desc, doc id) -
    rounding BEFORE ranking pins tie order across engines.

    Scale shape: postings (term, doc, tf) and doc lengths are each
    ONE explode/groupBy over the corpus; the query term table
    BROADCASTS (queries are kilobytes) and prunes postings FIRST, so
    document frequencies are then computed from the pruned candidate
    set (a posting list holds every (term, doc) once - counting docs
    per term needs only the query terms' rows, one map-side-combined
    aggregate, never a corpus-wide term count); the (N, avgdl)
    scalars ride a broadcast one-row cross join to stay lazy. Per
    (query, doc) partials meet in one doc-keyed sum and a per-query
    rank window. Corpus text never shuffles - only 8-byte term
    hashes, tfs and lengths move."""
    postings, dl = _bm25_postings(
        corpus, id_col=id_col, text_col=text_col
    )
    return _bm25_score_tail(
        postings, dl, queries,
        k=k, k1=k1, b=b, id_col=id_col, q_id=q_id, q_text=q_text,
    )


def _bm25_postings(
    corpus: DataFrame, *, id_col: str, text_col: str
) -> "tuple[DataFrame, DataFrame]":
    """(postings (id, _h, _tf), doc lengths (id, _dl)) - the two
    at-rest tables of a BM25 index.

    ONE corpus pass (r15, guide S2.4): postings are lazily
    checkpointed and doc lengths derive from them as sum(_tf) per doc
    (identical by construction - both counted the same filtered token
    stream). The pre-r15 form built dl with its own corpus
    explode/groupBy, and because the serving tail consumes postings
    and dl under separately-planned broadcast subtrees, no exchange
    reuse fired: one bm25_topk call scanned + exploded the corpus
    FOUR times (cand postings, dfreq postings, scoring dl, stats dl).
    Now every consumer reads the single postings materialization, and
    the dl aggregate moves posting rows (8-byte hash + two longs),
    never the corpus."""
    from .dedup import h60, normalized_tokens

    corpus = scan_parallelism_floor(corpus)
    toks = corpus.select(
        F.col(id_col),
        F.explode(
            F.filter(
                normalized_tokens(F.coalesce(F.col(text_col), F.lit(""))),
                lambda w: F.length(w) > 0,
            )
        ).alias("_t"),
    ).select(F.col(id_col), h60(F.col("_t")).alias("_h"))
    postings = toks.groupBy(id_col, "_h").agg(
        F.count(F.lit(1)).alias("_tf")
    ).localCheckpoint(eager=False)
    dl = postings.groupBy(id_col).agg(
        F.sum("_tf").cast("long").alias("_dl")
    )
    return postings, dl


def _bm25_score_tail(
    postings: DataFrame,
    dl: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    q_id: str,
    q_text: str,
) -> DataFrame:
    """The serving tail shared by the inline and from-index BM25
    paths: broadcast query terms prune postings, dfreq from the
    pruned set, lazy (N, avgdl) broadcast, score, round-then-rank."""
    from pyspark.sql import Window

    from .dedup import h60, normalized_tokens

    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    qt = queries.select(
        F.col(q_id),
        F.explode(
            F.array_distinct(
                F.filter(
                    normalized_tokens(
                        F.coalesce(F.col(q_text), F.lit(""))
                    ),
                    lambda w: F.length(w) > 0,
                )
            )
        ).alias("_t"),
    ).select(F.col(q_id), h60(F.col("_t")).alias("_h"))
    cand = postings.join(F.broadcast(qt), "_h")
    dfreq = cand.select("_h", id_col).distinct().groupBy("_h").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    scored = (
        cand.join(F.broadcast(dfreq), "_h")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_part",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            )
            * (F.col("_tf") * F.lit(k1 + 1.0))
            / (
                F.col("_tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("_dl") / F.col("_avgdl")
                )
            ),
        )
        .groupBy(q_id, id_col)
        .agg(F.round(F.sum("_part"), 6).alias("score"))
    )
    w = Window.partitionBy(q_id).orderBy(
        F.desc("score"), F.col(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(q_id, id_col, "score", "rn")
    )


def write_bm25_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist a BM25 index: postings/ (id, term hash, tf) and dl/
    (id, doc length) parquet tables - the at-rest serving form of
    bm25_topk (the write_ivfpq_index discipline for the sparse side).
    Both tables are per-document DISJOINT row sets, so the index is
    append-only under corpus growth (append_bm25_index); the (N,
    avgdl) scalars and per-term document frequencies are derived at
    query time from the stored tables, so no global statistic ever
    goes stale. Postings shuffle 8-byte term hashes + two longs;
    corpus text never reaches the index."""
    import os

    postings, dl = _bm25_postings(
        corpus, id_col=id_col, text_col=text_col
    )
    postings.write.mode("overwrite").parquet(
        os.path.join(path, "postings")
    )
    dl.write.mode("overwrite").parquet(os.path.join(path, "dl"))


def append_bm25_index(
    batch: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental BM25 index maintenance: append an ARRIVING batch's
    postings and doc lengths. Correct by algebra, not by replay: both
    index tables hold per-document rows only, and document
    frequencies / (N, avgdl) are derived from them at query time - so
    appending the new docs' rows IS the full rebuild (pytest-pinned
    append == rebuild). Caller contract: batch doc ids are new (an
    upsert would need the RTBF delete path first)."""
    import os

    postings, dl = _bm25_postings(
        batch, id_col=id_col, text_col=text_col
    )
    postings.write.mode("append").parquet(
        os.path.join(path, "postings")
    )
    dl.write.mode("append").parquet(os.path.join(path, "dl"))


def bm25_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    q_id: str = "q_id",
    q_text: str = "q_text",
) -> DataFrame:
    """Serve BM25 top-k from a PERSISTED index: same scoring tail as
    the inline operator (value-identical, pytest-pinned), but the
    corpus pass is replaced by two parquet scans - and the broadcast
    query-term prune pushes the term-hash filter into the postings
    scan, so a term-bucketed index layout reads only the touched
    buckets at scale."""
    import os

    from ..sources.io import read_parquet

    postings = read_parquet(spark, os.path.join(path, "postings"))
    dl = read_parquet(spark, os.path.join(path, "dl"))
    return _bm25_score_tail(
        postings, dl, queries,
        k=k, k1=k1, b=b, id_col=id_col, q_id=q_id, q_text=q_text,
    )


def phrase_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id: str = "q_id",
    q_text: str = "q_text",
) -> DataFrame:
    """Exact phrase search over positional postings - the third leg of
    the retrieval stack next to BM25 (bag-of-words) and dense ANN:
    find every document containing the query's tokens CONSECUTIVELY,
    with occurrence counts and the first match position.

    Output: (q_id, id_col, n_hits long, first_pos long) - one row per
    (query, document) that contains the phrase at least once; n_hits
    counts occurrences (overlaps allowed: 'a a a' holds 'a a' twice),
    first_pos is the 0-based token position of the first.

    Scale shape: positional postings are ONE posexplode projection of
    the corpus - (doc id, 8-byte term hash, int position); text never
    shuffles. Phrase terms ride along with their in-phrase offsets as
    a BROADCAST (queries are kilobytes) and prune postings with a
    term-hash equi-join, so the posting scan only materializes rows
    for terms some phrase mentions. Each surviving row votes for the
    anchor position pos - offset; an anchor where ALL phrase offsets
    appear (count distinct offsets == phrase length, which also
    handles repeated words in the phrase) is one occurrence. Two
    doc-keyed aggregates total, no window, no cartesian - a skewed
    stopword in a phrase inflates one posting list but the join stays
    equi on the hash."""
    from .dedup import h60, normalized_tokens

    corpus = scan_parallelism_floor(corpus)
    pos = corpus.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                normalized_tokens(F.coalesce(F.col(text_col), F.lit(""))),
                lambda w: F.length(w) > 0,
            )
        ).alias("_pos", "_t"),
    ).select(
        F.col(id_col),
        F.col("_pos").cast("long").alias("_pos"),
        h60(F.col("_t")).alias("_h"),
    )

    qterms = (
        queries.select(
            F.col(q_id),
            F.filter(
                normalized_tokens(F.coalesce(F.col(q_text), F.lit(""))),
                lambda w: F.length(w) > 0,
            ).alias("_toks"),
        )
        .where(F.size("_toks") > 0)
        .select(
            F.col(q_id),
            F.size("_toks").cast("long").alias("_qlen"),
            F.posexplode("_toks").alias("_off", "_t"),
        )
        .select(
            F.col(q_id),
            F.col("_qlen"),
            F.col("_off").cast("long").alias("_off"),
            h60(F.col("_t")).alias("_h"),
        )
    )

    votes = pos.join(F.broadcast(qterms), "_h").where(
        F.col("_pos") >= F.col("_off")
    )
    anchors = (
        votes.groupBy(
            q_id,
            id_col,
            (F.col("_pos") - F.col("_off")).alias("_anchor"),
        )
        .agg(
            F.countDistinct("_off").alias("_n_off"),
            F.first("_qlen").alias("_qlen"),
        )
        .where(F.col("_n_off") == F.col("_qlen"))
    )
    return anchors.groupBy(q_id, id_col).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("_anchor").alias("first_pos"),
    )


def logreg_score(
    df: DataFrame,
    weights: "list[float]",
    bias: float,
    *,
    feat_col: str = "embedding",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve a linear (logistic-regression) classifier over a feature
    array column: score = sigmoid(w . x + b), pred = score >= 0.5.
    The weights ride as a LITERAL array (kilobytes - the model is a
    broadcast constant, fastText-style quality/langid filters are
    exactly this shape), so scoring is a zero-shuffle projection: one
    zip_with dot product per row, whole-stage codegen, no Python.

    Output: (id_col, score double 6dp, pred int). Deterministic given
    deterministic features - the dot product folds left-to-right on
    both engines, so even the score VALUES oracle-check."""
    wlit = F.array(*[F.lit(float(v)) for v in weights])
    dot = F.aggregate(
        F.zip_with(F.col(feat_col), wlit, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) + F.lit(float(bias))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-dot)), 6)
    return df.select(
        F.col(id_col),
        score.alias("score"),
        (score >= 0.5).cast("int").alias("pred"),
    )


def logreg_train(
    df: DataFrame,
    *,
    dim: int,
    feat_col: str = "embedding",
    label_col: str = "y",
    lr: float = 0.5,
    n_iters: int = 12,
    l2: float = 1e-4,
    driver_row_limit: int = 200_000,
) -> "tuple[list[float], float]":
    """Train a binary logistic-regression classifier by full-batch
    gradient descent. Two equivalent paths (the _bpe_train_loop
    discipline, pytest-pinned to agree):

    * training set within `driver_row_limit` rows: collect the (x, y)
      rows (~dim*8 B each - a quality/langid classifier's sample fits
      one node by design) and run the identical GD loop vectorized in
      numpy. Iteration cost is a gemv, not a Spark job - the
      per-iteration query-planning overhead of the distributed loop
      is the dominant cost at sample scale.
    * larger: the distributed loop - per iteration the current weights
      broadcast as a literal array, each row contributes residual
      (sigmoid(w.x+b) - y) times its features, and ONE
      map-side-combined aggregate of dim+1 sums folds the gradient;
      no shuffle wider than the aggregate's single combine, no Python
      in the pass, n_iters passes over the CACHED feature table.

    At 100 TB one trains this on a SAMPLE (quality/langid classifiers
    are fit on ~1M rows then served corpus-wide - the serving pass,
    logreg_score, is the one that must scale, and it is zero-shuffle);
    both paths are differentiable against a numpy reference
    (tests/test_classifier.py).

    Returns (weights list[dim], bias)."""
    feats = df.select(
        F.col(feat_col).alias("_x"),
        F.col(label_col).cast("double").alias("_y"),
    ).persist()
    try:
        n = float(feats.count())
        if n == 0:
            raise ValueError("logreg_train: empty training set")
        if n <= driver_row_limit:
            import numpy as np

            rows = feats.collect()
            X = np.array([list(r["_x"]) for r in rows], dtype=np.float64)
            y = np.array([r["_y"] for r in rows], dtype=np.float64)
            w_np = np.zeros(dim)
            b_np = 0.0
            for _ in range(n_iters):
                p = 1.0 / (1.0 + np.exp(-(X @ w_np + b_np)))
                r = p - y
                w_np = w_np - lr * (X.T @ r / n + l2 * w_np)
                b_np -= lr * r.sum() / n
            return [float(v) for v in w_np], float(b_np)
        w = [0.0] * dim
        b = 0.0
        for _ in range(n_iters):
            wlit = F.array(*[F.lit(float(v)) for v in w])
            margin = F.aggregate(
                F.zip_with(F.col("_x"), wlit, lambda x, wv: x * wv),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ) + F.lit(b)
            resid = (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col("_y")
            )
            row = feats.select(
                F.transform(F.col("_x"), lambda x: x * resid).alias("_g"),
                resid.alias("_r"),
            )
            sums = row.agg(
                *[F.sum(F.col("_g")[i]).alias(f"g{i}") for i in range(dim)],
                F.sum("_r").alias("gb"),
            ).first()
            w = [
                wi - lr * (sums[f"g{i}"] / n + l2 * wi)
                for i, wi in enumerate(w)
            ]
            b -= lr * sums["gb"] / n
    finally:
        feats.unpersist()
    return w, b


def _wp_merge(left: str, right: str) -> str:
    """WordPiece merged symbol: the continuation marker of the RIGHT
    piece dissolves into the join ('a' + '##b' -> 'ab', '##a' + '##b'
    -> '##ab') - the HuggingFace WordPiece convention."""
    return left + (right[2:] if right.startswith("##") else right)


def wordpiece_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 10,
    driver_vocab_limit: int = 200_000,
) -> "list[tuple[int, str, str, str, int]]":
    """Train WordPiece merge rules (Schuster & Nakajima 2012 / the BERT
    tokenizer): identical machinery to bpe_train - the corpus-scale
    work is ONE groupBy(token) count, the merge loop runs over the
    weighted distinct vocabulary - but each step picks the pair
    maximizing count(l,r) / (count(l) * count(r)) (the likelihood-gain
    score) instead of the raw pair count, and word-internal symbols
    carry the '##' continuation marker. Returns [(step, left, right,
    merged, pair_count)].

    Two equivalent paths (pytest-pinned to agree): vocab within
    `driver_vocab_limit` collects and runs an incrementally-counted
    local loop; larger vocabs run the distributed step - a pair-count
    aggregate joined to a BROADCAST symbol-count aggregate (the symbol
    table is vocab-sized, kilobytes), score, argmax with the
    deterministic (score desc, pair asc) tie-break, then the same
    single-pass merge fold bpe_train uses."""
    from .dedup import normalized_tokens

    vocab = (
        df.select(
            F.explode(normalized_tokens(F.col(text_col))).alias("_tok")
        )
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_w"))
        .select(
            F.filter(
                F.split(F.col("_tok"), "(?!^)"),
                lambda x: F.length(x) > 0,
            ).alias("_c"),
            "_w",
        )
        .where(F.size("_c") > 0)
        # continuation marker on every non-initial character
        .select(
            F.zip_with(
                F.col("_c"),
                F.sequence(F.lit(0), F.size("_c") - 1),
                lambda c, i: F.when(i == 0, c).otherwise(
                    F.concat(F.lit("##"), c)
                ),
            ).alias("_sym"),
            "_w",
        )
    )
    vocab = vocab.localCheckpoint(eager=True)
    if vocab.count() <= driver_vocab_limit:
        return _wordpiece_train_driver(vocab.collect(), n_merges)
    merges: list = []
    for step in range(n_merges):
        syms = vocab.select(
            F.explode("_sym").alias("_s"), "_w"
        ).groupBy("_s").agg(F.sum("_w").alias("_cnt"))
        pairs = (
            vocab.select(
                "_w",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("_sym"), 1, F.size("_sym") - 1),
                        F.slice(F.col("_sym"), 2, F.size("_sym") - 1),
                        lambda a, b: F.struct(
                            a.alias("l"), b.alias("r")
                        ),
                    )
                ).alias("_p"),
            )
            .groupBy("_p.l", "_p.r")
            .agg(F.sum("_w").alias("_n"))
        )
        best = (
            pairs.join(
                F.broadcast(syms.withColumnRenamed("_s", "l")).withColumnRenamed(
                    "_cnt", "_cl"
                ),
                "l",
            )
            .join(
                F.broadcast(syms.withColumnRenamed("_s", "r")).withColumnRenamed(
                    "_cnt", "_cr"
                ),
                "r",
            )
            .select(
                "l",
                "r",
                "_n",
                (
                    # denominator in DOUBLE: two symbols at ~3e9
                    # occurrences each (routine at 100 TB) overflow an
                    # int64 product - wrapping negative with ANSI off,
                    # throwing with ANSI on - and the driver path's
                    # Python ints would silently diverge
                    F.col("_n").cast("double")
                    / (
                        F.col("_cl").cast("double")
                        * F.col("_cr").cast("double")
                    )
                ).alias("_score"),
            )
            .where(F.col("_n") >= 2)
            .orderBy(F.col("_score").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["_n"])
        merged = _wp_merge(left, right)
        merges.append((step, left, right, merged, n))
        fold = F.aggregate(
            F.col("_sym"),
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
            lambda acc, x: F.when(
                acc["pend"].eqNullSafe(F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias(
                        "out"
                    ),
                    F.lit(None).cast("string").alias("pend"),
                ),
            ).otherwise(
                F.struct(
                    F.when(acc["pend"].isNull(), acc["out"])
                    .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
                    .alias("out"),
                    x.alias("pend"),
                )
            ),
            lambda acc: F.when(
                acc["pend"].isNull(), acc["out"]
            ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
        )
        vocab = vocab.select(fold.alias("_sym"), "_w")
        if step % 3 == 2 or step == n_merges - 1:
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def _wordpiece_train_driver(
    rows, n_merges: int
) -> "list[tuple[int, str, str, str, int]]":
    """Local WordPiece merge loop over the collected weighted vocab:
    pair counts AND unigram symbol counts are maintained incrementally
    (a merge only re-folds words containing the merged pair, and only
    those words' symbol occurrences shift), scores are computed at
    argmax time from the live counts - so global count drift from each
    merge is reflected exactly, matching the distributed step."""
    from collections import Counter, defaultdict

    words = [[list(r["_sym"]), int(r["_w"])] for r in rows]
    pair_counts: Counter = Counter()
    sym_counts: Counter = Counter()
    where: defaultdict = defaultdict(set)
    for wi, (syms, w) in enumerate(words):
        for s in syms:
            sym_counts[s] += w
        for p in zip(syms, syms[1:]):
            pair_counts[p] += w
            where[p].add(wi)
    merges: list = []
    for step in range(n_merges):
        best = None
        for pair, cnt in pair_counts.items():
            if cnt < 2:
                continue
            score = cnt / (sym_counts[pair[0]] * sym_counts[pair[1]])
            key = (-score, pair)
            if best is None or key < best[0]:
                best = (key, cnt)
        if best is None:
            break
        (_, (left, right)), cnt = best
        merged = _wp_merge(left, right)
        merges.append((step, left, right, merged, int(cnt)))
        for wi in sorted(where.pop((left, right), ())):
            syms, w = words[wi]
            for s in syms:
                sym_counts[s] -= w
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= w
            new = []
            pend = None
            for x in syms:
                if pend == left and x == right:
                    new.append(merged)
                    pend = None
                else:
                    if pend is not None:
                        new.append(pend)
                    pend = x
            if pend is not None:
                new.append(pend)
            words[wi][0] = new
            for s in new:
                sym_counts[s] += w
            for p in zip(new, new[1:]):
                pair_counts[p] += w
                where[p].add(wi)
    return merges


def wordpiece_encode_counts(
    df: DataFrame,
    vocab: "set[str]",
    *,
    text_col: str = "text",
    unk: str = "[UNK]",
) -> DataFrame:
    """Corpus piece-frequency table under a trained WordPiece vocab
    using the REAL WordPiece tokenizer - greedy longest-match-first
    (BERT's runtime algorithm, NOT merge replay): per word, take the
    longest vocab prefix, then the longest '##'-continuation piece,
    and so on; any dead end makes the whole word [UNK].

    Vocab-amortized like bpe_encode_counts: segmentation runs once per
    DISTINCT word (one corpus groupBy) with the kilobyte vocab in the
    UDF closure, then piece counts scale by word frequency. Output:
    (piece, n), n = total corpus occurrences."""
    from .dedup import normalized_tokens

    vocab_b = frozenset(vocab)
    max_len = max((len(v) for v in vocab_b), default=1)

    def _segment(word: str) -> "list[str]":
        pieces: list = []
        i = 0
        first = True
        while i < len(word):
            end = min(len(word), i + max_len)
            piece = None
            for j in range(end, i, -1):
                cand = word[i:j] if first else "##" + word[i:j]
                if cand in vocab_b:
                    piece = cand
                    i = j
                    break
            if piece is None:
                return [unk]
            pieces.append(piece)
            first = False
        return pieces or [unk]

    @F.pandas_udf("array<string>")
    def _seg_udf(words: pd.Series) -> pd.Series:
        return words.map(_segment)

    df = scan_parallelism_floor(df)
    word_freq = (
        df.select(
            F.explode(normalized_tokens(F.col(text_col))).alias("_w")
        )
        .where(F.length("_w") > 0)
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        word_freq.select(
            F.explode(_seg_udf(F.col("_w"))).alias("piece"), "_n"
        )
        .groupBy("piece")
        .agg(F.sum("_n").alias("n"))
    )


def tfidf_hash_embed(
    df: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed TF-IDF featurization: hashing_trick_embed's bucket
    counts reweighted by sublinear tf ((1 + ln tf)) times smoothed idf
    (ln((N+1)/(df+1)) + 1, the scikit-learn convention), L2-normalized
    - the classic lexical vectorizer, upgrading raw counts with
    corpus-level term salience while staying model-free and
    engine-reproducible (h60 buckets again).

    The scale trick: hashing to `dim` buckets makes the 'vocabulary'
    exactly dim entries, so the document-frequency table is a
    CONSTANT-SIZED frame (dim rows) that BROADCASTS - no vocab-scale
    join ever forms, unlike word-keyed TF-IDF. Corpus work is one
    explode + one (id, bucket) aggregate + one dim-row bucket
    aggregate; the doc-count scalar rides a lazy broadcast one-row
    cross join (the bm25 stats discipline).

    Output: (id_col, embedding array<double>, 6dp components)."""
    from .dedup import h60, normalized_tokens

    df = scan_parallelism_floor(df)
    buckets = df.select(
        F.col(id_col),
        F.explode(normalized_tokens(F.col(text_col))).alias("_tok"),
    ).select(F.col(id_col), (h60(F.col("_tok")) % dim).alias("_pos"))
    counts = buckets.groupBy(id_col, "_pos").agg(
        F.count("*").cast("double").alias("_tf")
    )
    # EAGER localCheckpoint: dfreq and stats feed BROADCAST exchanges,
    # which execute as separate jobs before the main one - with a lazy
    # checkpoint each of those jobs re-ran the whole corpus explode
    # (measured 6.0s vs 1.6s at sf0.1 for the three-consumer chain)
    counts = counts.localCheckpoint(eager=True)
    dfreq = counts.groupBy("_pos").agg(
        F.count("*").cast("double").alias("_df")
    )
    stats = counts.select(id_col).distinct().agg(
        F.count("*").cast("double").alias("_n_docs")
    )
    weighted = (
        counts.join(F.broadcast(dfreq), "_pos")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.col("_pos"),
            (
                (F.lit(1.0) + F.log("_tf"))
                * (
                    F.log(
                        (F.col("_n_docs") + 1.0) / (F.col("_df") + 1.0)
                    )
                    + 1.0
                )
            ).alias("_w"),
        )
    )
    # dense fill + L2 normalize + round in ONE Arrow stage over a
    # JVM-aggregated entry list: the map rebuild (64 interpreted
    # lookups/row) plus two more interpreted higher-order passes
    # measured ~2.5s of the query's warm 3.5s at sf0.1; a numpy
    # scatter per row replaces all three. The groupBy collect_list
    # stays JVM-side (map-side combine), so Python sees one row per
    # doc, never the entry stream. Norm = sqrt(sum w^2) is
    # summation-order-equal to the JVM fold within the 6dp round
    # (the cosine_fast contract).
    entries = weighted.groupBy(id_col).agg(
        F.collect_list(F.struct("_pos", "_w")).alias("_e")
    )
    dense = _dense_unit_vec_udf(dim, "_w")
    return entries.select(
        F.col(id_col),
        F.transform(
            dense(F.col("_e")), lambda x: F.round(x, 6)
        ).alias("embedding"),
    )


def _entropy_agg(
    exploded: DataFrame, id_col: str, out_col: str
) -> DataFrame:
    """Per-id Shannon entropy (nats) from an exploded (id, _v) frame
    via the aggregate identity H = ln(n) - sum(c ln c)/n: one
    (id, value) count with MAP-SIDE COMBINE - the shuffle carries
    ~alphabet-size rows per doc, never the raw value stream - then one
    id-keyed fold. All whole-stage codegen; the interpreted
    O(distinct * n) per-row higher-order form measured 26s at sf0.1
    vs ~1s for this shape (the hashing_trick_embed Catalyst lesson
    again, aggregate edition)."""
    counts = exploded.groupBy(id_col, "_v").agg(
        F.count(F.lit(1)).cast("double").alias("_c")
    )
    return counts.groupBy(id_col).agg(
        (
            F.log(F.sum("_c"))
            - F.sum(F.col("_c") * F.log("_c")) / F.sum("_c")
        ).alias(out_col)
    )


def entropy_stats(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character- and token-level Shannon entropy per document - the
    classic gibberish/boilerplate detectors (low char entropy =
    repeated-character runs and encoded blobs; low token entropy =
    keyword stuffing and template pages; both near-universal
    web-corpus quality signals next to the Gopher ratios). Two
    explode -> count aggregates whose shuffles carry only
    (doc, value, count) rows bounded by the per-doc alphabet, joined
    id-keyed; values 6dp-rounded and oracle-checked."""
    from .dedup import normalized_tokens

    df = scan_parallelism_floor(df)
    chars = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(
                    F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    "(?!^)",
                ),
                lambda c: F.length(c) > 0,
            )
        ).alias("_v"),
    )
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                normalized_tokens(F.coalesce(F.col(text_col), F.lit(""))),
                lambda w: F.length(w) > 0,
            )
        ).alias("_v"),
    )
    ch = _entropy_agg(chars, id_col, "_hc")
    tk = _entropy_agg(toks, id_col, "_ht")
    # TOTAL over the input: an empty/whitespace-only doc produces no
    # explode rows, so joining only the two aggregates would silently
    # DROP it (and downstream consumers like quality_ensemble_deciles
    # would lose the doc from their reports); anchoring on the input
    # ids gives every doc a row, with entropy 0.0 for the degenerate
    # cases - the natural convention for a low-entropy-means-drop
    # signal.
    base = df.select(F.col(id_col))
    return (
        base.join(ch, id_col, "left")
        .join(tk, id_col, "left")
        .select(
            F.col(id_col),
            F.round(F.coalesce(F.col("_hc"), F.lit(0.0)), 6).alias(
                "char_entropy"
            ),
            F.round(F.coalesce(F.col("_ht"), F.lit(0.0)), 6).alias(
                "token_entropy"
            ),
        )
    )
