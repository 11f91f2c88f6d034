"""Property tests for the pipeline's gates (SURVEY.md section 5):

  (a) idempotency - running the incremental batch load twice appends
      nothing the second time (Gate 2, main.py:548-558);
  (b) completeness - removing any single bar from a closed session trips
      Gate 1 (check_completeness, main.py:369-401);
  (c) roll continuity - back-adjustment removes the price gap at every
      contract roll boundary (the purpose of the whole reference
      pipeline, README "back-adjust").
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from txf_continuous_data_pipeline_spark.operators.adjust import (
    backadjust,
    derive_accumulated_gap,
)
from txf_continuous_data_pipeline_spark.operators.quality import (
    EXPECTED_5MIN,
    assert_complete,
    completeness_violations,
)
from txf_continuous_data_pipeline_spark.operators.sessions import split_and_label
from txf_continuous_data_pipeline_spark.plans.pipeline import incremental_run
from txf_continuous_data_pipeline_spark.sources import read_table


def test_incremental_run_is_idempotent(spark, sf_dir, tmp_path):
    sink = str(tmp_path / "sink")
    n1 = incremental_run(spark, sf_dir, sink)
    assert n1 > 0
    n2 = incremental_run(spark, sf_dir, sink)
    assert n2 == 0, f"second run appended {n2} rows"
    total = spark.read.parquet(sink).count()
    assert total == n1


def _dense_kbar_fixture(spark, n_days: int = 2):
    """A reference-shaped 1-min k-bar feed: close-stamped minutes
    08:46-13:45 (day, 300 rows -> 60 five-min bars) and 15:01-05:00
    (night, 840 rows -> 168 bars) for n_days consecutive days - the
    exact cadence behind the Gate-1 expected counts (main.py:331-334)."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 3, 4)  # a Monday
    for d in range(n_days):
        day0 = base + dt.timedelta(days=d)
        for m in range(300):  # 08:46 .. 13:45
            rows.append(
                Row(ts=day0 + dt.timedelta(hours=8, minutes=46 + m), value=100.0 + m)
            )
        for m in range(840):  # 15:01 .. 05:00 next day
            rows.append(
                Row(ts=day0 + dt.timedelta(hours=15, minutes=1 + m), value=200.0 + m)
            )
    return spark.createDataFrame(rows)


def _complete_sessions(spark):
    """Bar-level rows of sessions that pass Gate 1 at 5-min granularity."""
    from txf_continuous_data_pipeline_spark.operators.quality import (
        drop_incomplete_sessions,
    )
    from txf_continuous_data_pipeline_spark.operators.resample import tumbling_ohlcv

    events = _dense_kbar_fixture(spark)
    bars = tumbling_ohlcv(
        events, ts_col="ts", price_col="value", width="5 minutes",
        closed="right", out_ts="bar_ts",
    ).drop("n_rows")
    labeled = split_and_label(bars, "bar_ts")
    return drop_incomplete_sessions(labeled, EXPECTED_5MIN)


def test_dropping_any_bar_trips_gate1(spark):
    complete = _complete_sessions(spark).persist()
    try:
        assert complete.count() > 0, "fixture needs at least one complete session"
        assert completeness_violations(complete, EXPECTED_5MIN).isEmpty()

        # drop one arbitrary bar from each of three different sessions
        w = Window.partitionBy("session_id").orderBy("bar_ts")
        victims = (
            complete.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 7)
            .select("session_id", "bar_ts")
            .limit(3)
        )
        broken = complete.join(victims, ["session_id", "bar_ts"], "left_anti")
        viol = completeness_violations(broken, EXPECTED_5MIN)
        tripped = {r["session_id"] for r in viol.collect()}
        assert {r["session_id"] for r in victims.collect()} <= tripped
        with pytest.raises(ValueError):
            assert_complete(broken, EXPECTED_5MIN)
    finally:
        complete.unpersist()


def test_backadjust_removes_roll_gap(spark):
    """Construct two contracts with a known price gap at the roll and
    check the adjusted series is continuous across the boundary.

    Convention (main.py:210): accumulated[i+1] = accumulated[i] +
    next_diff[i], applied additively to each bar of contract i+1 - so
    continuity requires next_diff = (last price of old contract) -
    (first price of new contract): the new contract is lifted onto the
    old contract's level.
    """
    GAP = 50.0  # old trades at 1000, new at 950 -> next_diff = +50
    rows = []
    # contract A: price 1000 flat, minutes 0..9; roll; contract B: 950 flat
    for m in range(10):
        rows.append(Row(ts=f"2024-01-01 09:{m:02d}:00", price=1000.0))
    for m in range(10, 20):
        rows.append(Row(ts=f"2024-01-01 09:{m:02d}:00", price=950.0))
    bars = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))

    cfg = spark.createDataFrame(
        [
            Row(
                contract_year_month="202401A",
                next_contract_diff=GAP,
                start_k="2024-01-01 09:00:00",
                settle_k="2024-01-01 09:09:00",
            ),
            Row(
                contract_year_month="202401B",
                next_contract_diff=0.0,
                start_k="2024-01-01 09:10:00",
                settle_k="2024-01-01 09:19:00",
            ),
        ]
    ).select(
        "contract_year_month",
        "next_contract_diff",
        F.to_timestamp("start_k").alias("start_k"),
        F.to_timestamp("settle_k").alias("settle_k"),
    )
    # derived accumulated: A (first) gets 0, B gets next_diff(A) = +50
    cfg = derive_accumulated_gap(cfg)

    adj = backadjust(
        bars, cfg, ts_col="ts", price_cols=("price",), end_inclusive=True
    ).orderBy("ts")
    prices = [r["price"] for r in adj.collect()]
    steps = [b - a for a, b in zip(prices, prices[1:])]
    boundary_step = steps[9]
    assert boundary_step == 0.0, f"roll gap survived adjustment: {steps}"
    # and within-contract steps stay zero
    assert all(s == 0.0 for i, s in enumerate(steps) if i != 9), steps


def test_remove_duplicated_spans_leaves_no_residual(spark, sf_dir):
    """Lee et al. remediation closure: after excising every occurrence
    of a cross-doc duplicated 5-token span, re-measuring duplicated
    spans on the CLEANED corpus must find (near) zero - near because
    excision joins previously non-adjacent kept tokens, which can
    coincidentally mint a new shared span. Residual must be a vanishing
    fraction of the original duplication mass."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
        shingles_exploded,
    )

    docs = read_table(spark, sf_dir, "documents")

    def dup_span_mass(frame):
        ex = shingles_exploded(frame, n=5, hashed=True)
        hot = (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") >= 2)
            .select("shingle")
        )
        return ex.join(hot, "shingle", "left_semi").count()

    before = dup_span_mass(docs)
    assert before > 0, "testdata has no duplicated spans to remove"
    cleaned = remove_duplicated_spans(docs, n=5, min_df=2)
    after = dup_span_mass(cleaned.select("doc_id", "text"))
    # sf0.001 measures ~1.8% residual: excision-joined remnants plus
    # newly-short docs collapsing onto the same whole-text span
    assert after <= max(5, before // 20), (before, after)


def test_remove_duplicated_spans_surgical(spark):
    """Planted case: the shared run is excised from every doc carrying
    it, unique docs pass through verbatim (modulo token normalization),
    and short exact-dup docs are removed entirely (whole-text span)."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    boiler = "subscribe to our newsletter for more daily updates"
    rows = [
        (0, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (1, f"{boiler} one two three four five six seven"),
        (2, "a fully unique document with no shared runs anywhere"),
        (3, "tiny dup"),
        (4, "tiny dup"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicated_spans(df).collect()
    }
    # the boilerplate run is gone from both carriers
    for i in (0, 1):
        assert boiler not in got[i]["text"], got[i]
        assert got[i]["n_tokens_removed"] >= len(boiler.split()), got[i]
    # the unique doc is untouched
    assert got[2]["text"] == rows[2][1]
    assert got[2]["n_tokens_removed"] == 0
    # short exact dups vanish via the whole-text span
    for i in (3, 4):
        assert got[i]["text"] == "" and got[i]["n_tokens_removed"] == 2
    # empty doc: no tokens, nothing removed
    assert got[5]["n_tokens"] == 0 and got[5]["n_tokens_removed"] == 0
    # surviving token accounting is consistent
    for i, t in rows:
        kept = len(got[i]["text"].split())
        assert kept == got[i]["n_tokens"] - got[i]["n_tokens_removed"]


def test_span_removal_delta_equals_full_restricted(spark, sf_dir):
    """Incremental span removal against the stored index must produce
    EXACTLY what the full-corpus removal produces for the batch rows -
    indexing the corpus once loses nothing."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        build_span_index,
        remove_duplicated_spans,
        remove_duplicated_spans_delta,
    )

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_tokens_removed"])
        for r in remove_duplicated_spans_delta(
            batch, build_span_index(corpus)
        ).collect()
    }
    want = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_tokens_removed"])
        for r in remove_duplicated_spans(docs).collect()
        if r["doc_id"] % 2 == 1
    }
    assert got == want and got


def test_remove_duplicated_spans_random_differential(spark):
    """Hypothesis differential: on random corpora over a 3-token
    alphabet (dense span collisions by construction), the distributed
    removal must equal a direct pure-Python implementation of the
    documented semantics - including overlap, whole-text-fallback and
    repeated-token edge cases no hand-written fixture covers."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from txf_continuous_data_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    N, MIN_DF = 5, 2

    def reference(docs):
        per_doc = {}
        for d, toks in docs.items():
            if len(toks) >= N:
                per_doc[d] = [
                    (i, tuple(toks[i : i + N]))
                    for i in range(len(toks) - N + 1)
                ]
            elif toks:
                per_doc[d] = [(0, tuple(toks))]
            else:
                per_doc[d] = []
        df = Counter()
        for sp in per_doc.values():
            for s in {t for _, t in sp}:
                df[s] += 1
        hot = {s for s, c in df.items() if c >= MIN_DF}
        out = {}
        for d, toks in docs.items():
            width = min(N, len(toks))
            starts = [i for i, s in per_doc[d] if s in hot]
            kept = [
                t
                for ti, t in enumerate(toks)
                if not any(p <= ti < p + width for p in starts)
            ]
            out[d] = (" ".join(kept), len(toks), len(toks) - len(kept))
        return out

    tok = st.sampled_from(["aa", "bb", "cc"])

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.lists(tok, max_size=18), min_size=1, max_size=4))
    def run(doc_lists):
        docs = {i: t for i, t in enumerate(doc_lists)}
        frame = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in docs.items()],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (
                r["text"], r["n_tokens"], r["n_tokens_removed"]
            )
            for r in remove_duplicated_spans(
                frame, n=N, min_df=MIN_DF
            ).collect()
        }
        assert got == reference(docs), (docs, got, reference(docs))

    run()


def test_dsir_resample_reduces_target_perplexity(spark, sf_dir):
    """DSIR's whole point: the Gumbel-top-k selection under the
    target-vs-raw importance weights must yield a subset whose
    perplexity under the TARGET bigram LM is lower (avg logprob
    higher) than the candidate pool's. Reference LM is pure Python
    with the operator's exact tokenization and add-one smoothing."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from txf_continuous_data_pipeline_spark.operators.textstats import (
        dsir_resample,
    )
    from txf_continuous_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "lang", "text").collect()
    toks = {
        r["doc_id"]: r["text"].strip().lower().split()
        for r in rows
    }
    en_ids = {r["doc_id"] for r in rows if r["lang"] == "en"}

    # target (English) add-one bigram LM, pure Python
    bi, uni = Counter(), Counter()
    for d in en_ids:
        t = toks[d]
        uni.update(t)
        bi.update(zip(t, t[1:]))
    V = len(uni)

    def avg_lp(d):
        t = toks[d]
        grams = list(zip(t, t[1:]))
        if not grams:
            return None
        return sum(
            math.log((bi[g] + 1) / (uni[g[0]] + V)) for g in grams
        ) / len(grams)

    n_keep = 15
    picked = dsir_resample(
        docs, target_pred=F.col("lang") == "en", n_keep=n_keep
    ).collect()
    assert len(picked) == n_keep
    sel = [r["doc_id"] for r in picked]
    pool = [d for d in toks if avg_lp(d) is not None]
    assert set(sel) <= set(pool)

    sel_lp = sum(avg_lp(d) for d in sel) / len(sel)
    pool_lp = sum(avg_lp(d) for d in pool) / len(pool)
    # perplexity = exp(-avg_lp): selected must beat the pool
    assert sel_lp > pool_lp, (sel_lp, pool_lp)


def test_ngram_contamination_planted(spark):
    """A training doc sharing a 3-gram with the benchmark set must be
    flagged with the exact distinct-gram hit count; disjoint docs must
    not appear; repeated grams in a doc count once."""
    from pyspark.sql import functions as F

    from txf_continuous_data_pipeline_spark.operators.textstats import (
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps"),
         (101, "pack my box with liquid")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox" (2 hits)
            (1, "see the quick brown fox run"),
            # shares "pack my box" twice - distinct grams count ONCE
            (2, "pack my box then pack my box again"),
            # no shared 3-gram
            (3, "entirely different words here today"),
            # too short for any 3-gram
            (4, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_hits"]
        for r in ngram_contamination(corpus, bench, n=3).collect()
    }
    assert got == {1: 2, 2: 1}, got


def test_line_dedup_semantics_and_delta_equals_full(spark, sf_dir):
    """CCNet-style line dedup: keep-first by (doc_id, position),
    whitespace-only lines never participate, and the incremental form
    against a stored line index equals full-corpus dedup restricted
    to the batch when every stored id precedes every arriving one."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        build_line_index,
        dedup_lines,
        dedup_lines_delta,
    )

    rows = [
        (0, "alpha\nboiler plate\ngamma"),
        (1, "boiler plate\ndelta\n \nboiler plate"),
        (2, "delta\nunique"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in dedup_lines(df).collect()}
    # first occurrences survive, later ones vanish (incl. within-doc)
    assert got[0]["text"] == "alpha\nboiler plate\ngamma"
    assert got[1]["text"] == "delta\n "  # blank line is layout, kept
    assert got[1]["n_lines_removed"] == 2
    assert got[2]["text"] == "unique"
    assert got[2]["n_lines_removed"] == 1
    # empty text: split yields one blank line, nothing participates
    assert got[3] == {
        "doc_id": 3, "text": "", "n_lines": 1, "n_lines_removed": 0
    }

    # delta == full on the real corpus (lower half stored, upper half
    # arriving - keep-first ordering aligned by id)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), F.lit("shared boilerplate footer")
        ).alias("text"),
    )
    half = docs.count() // 2
    corpus = docs.where(F.col("doc_id") < half)
    batch = docs.where(F.col("doc_id") >= half)
    got_d = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_removed"])
        for r in dedup_lines_delta(
            batch, build_line_index(corpus)
        ).collect()
    }
    want = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_removed"])
        for r in dedup_lines(docs).collect()
        if r["doc_id"] >= half
    }
    assert got_d == want and got_d
    # the planted footer is gone from every batch doc (the corpus
    # holds its first copy), so the delta really probed the index
    assert all(
        "shared boilerplate footer" not in t for t, _n, _r in got_d.values()
    )


def test_soft_dedup_weight_mass_is_one_per_cluster(spark, sf_dir):
    """SoftDeDup's defining invariant: every near-dup cluster (and
    every singleton) contributes exactly one document's worth of
    sampling mass, and nothing is dropped."""
    from txf_continuous_data_pipeline_spark.queries import REGISTRY

    out = REGISTRY["soft_dedup_weights"][0](spark, sf_dir)
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs  # nothing deleted
    mass = out.groupBy("component").agg(
        F.round(F.sum("soft_weight"), 4).alias("m"),
        F.count("*").alias("n"),
        F.first("cluster_size").alias("sz"),
    )
    bad = mass.where((F.col("m") != 1.0) | (F.col("n") != F.col("sz")))
    assert bad.count() == 0
    # the corpus really has multi-doc clusters, so the weight path
    # below 1.0 is exercised
    assert mass.where(F.col("sz") > 1).count() > 0


def test_web_funnel_stages_monotone_and_blocklist_respected(
    spark, sf_dir
):
    """Each funnel stage can only shrink the corpus, the blocklist
    stage removes exactly the blocked sources' docs, and every stage
    does real work on the test corpus (no vacuous pass-through)."""
    from txf_continuous_data_pipeline_spark.queries import REGISTRY

    rows = {
        r["stage_idx"]: r["n_docs"]
        for r in REGISTRY["web_pipeline_funnel"][0](
            spark, sf_dir
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0] >= rows[1] >= rows[2] >= rows[3]
    assert rows[0] > rows[1] > rows[2]  # blocklist + quality both act
    docs = read_table(spark, sf_dir, "documents")
    blocked = docs.where(F.col("source").isin("src2", "src3")).count()
    assert rows[0] - rows[1] == blocked


def test_calendar_aware_gate_passes_planted_early_close(spark):
    """r11 verdict #5: a PLANTED half-day session on a settlement date
    (the month's third Wednesday, 2024-01-17) with exactly the
    calendar's half-day bar count must TRIP the strict reference gate
    (main.py:331-334 knows only the full-day constant) and PASS the
    calendar-aware one; a genuinely short session on an ordinary date
    must trip BOTH (the calendar refines the gate, it does not
    blind it)."""
    from txf_continuous_data_pipeline_spark.operators.calendar import (
        settlement_halfday_calendar,
    )

    rows = []
    # settlement-day half session: 30 bars on the third Wednesday
    rows += [("2024-01-17", 30)]
    # ordinary full session
    rows += [("2024-01-18", 60)]
    # genuinely short ordinary session: must trip both gates
    rows += [("2024-01-19", 40)]
    data = []
    for day, n in rows:
        for i in range(n):
            data.append((f"{day} 08:45:00", f"{day}_D", i))
    df = spark.createDataFrame(
        data, "base string, session_id string, i int"
    ).select(
        (
            F.col("base").cast("timestamp")
            + F.expr("make_interval(0, 0, 0, 0, 0, i * 5, 0)")
        ).alias("bar_ts"),
        "session_id",
    )
    cal = settlement_halfday_calendar(df, halfday_expected=30)
    assert {r["session_id"] for r in cal.collect()} == {"2024-01-17_D"}

    strict = {
        r["session_id"]
        for r in completeness_violations(df, EXPECTED_5MIN).collect()
    }
    aware = {
        r["session_id"]
        for r in completeness_violations(
            df, EXPECTED_5MIN, calendar=cal
        ).collect()
    }
    assert "2024-01-17_D" in strict, "strict gate must trip the half-day"
    assert "2024-01-17_D" not in aware, "calendar gate must pass it"
    assert "2024-01-19_D" in strict and "2024-01-19_D" in aware
    assert "2024-01-18_D" not in strict and "2024-01-18_D" not in aware

    # assert_complete honors the calendar too
    ok = df.where(F.col("session_id") != "2024-01-19_D")
    with pytest.raises(ValueError):
        assert_complete(ok, EXPECTED_5MIN)
    assert_complete(ok, EXPECTED_5MIN, calendar=cal)


def _py_suffix_dup_lengths(toks: dict) -> dict:
    """Module-level pure-Python oracle for the suffix-grain family
    (sorted suffix tuples + neighbor-LCP max + zero-fill), shared by
    every differential test so the three former verbatim copies
    cannot drift (r13 review finding)."""
    suf = sorted(
        (tuple(ws[i:]), d, i)
        for d, ws in toks.items()
        for i in range(len(ws))
    )
    want = {}
    for a, b in zip(suf, suf[1:]):
        l = 0
        for x, y in zip(a[0], b[0]):
            if x != y:
                break
            l += 1
        for s_ in (a, b):
            k = (s_[1], s_[2])
            want[k] = max(want.get(k, 0), l)
    for d, ws in toks.items():
        for i in range(len(ws)):
            want.setdefault((d, i), 0)
    return want


def _py_eval_overlap(train_toks: dict, eval_toks: dict) -> dict:
    """Brute-force pure-Python eval-overlap oracle: per train position,
    the longest run matching ANY eval position verbatim. Quadratic, so
    only for the small hand-built and random corpora."""
    want = {}
    for d, ws in train_toks.items():
        for i in range(len(ws)):
            best = 0
            for ews in eval_toks.values():
                for j in range(len(ews)):
                    l = 0
                    for x, y in zip(ws[i:], ews[j:]):
                        if x != y:
                            break
                        l += 1
                    best = max(best, l)
            want[(d, i)] = best
    return want


def _py_merged_eval_overlap(train_toks: dict, eval_toks: dict) -> dict:
    """Merged-suffix-array pure-Python eval-overlap oracle for corpus-
    sized inputs: sort train and eval suffixes together; a train
    suffix's longest verbatim match with the eval side is its LCP with
    the nearest eval suffix in either direction of the merged order."""
    suf = []
    for side, toks in ((0, train_toks), (1, eval_toks)):
        for d, ws in toks.items():
            for i in range(len(ws)):
                suf.append((tuple(ws[i:]), side, d, i))
    suf.sort()

    def lcp(a, b):
        m = 0
        for x, y in zip(a, b):
            if x != y:
                break
            m += 1
        return m

    pe, ne = [None] * len(suf), [None] * len(suf)
    last = None
    for i, s in enumerate(suf):
        pe[i] = last
        if s[1] == 1:
            last = i
    nxt = None
    for i in range(len(suf) - 1, -1, -1):
        ne[i] = nxt
        if suf[i][1] == 1:
            nxt = i
    want = {}
    for i, s in enumerate(suf):
        if s[1] == 1:
            continue
        best = 0
        for j in (pe[i], ne[i]):
            if j is not None:
                best = max(best, lcp(s[0], suf[j][0]))
        want[(s[2], s[3])] = best
    return want


def _suffix_block_derivations(df, side):
    """(dup_len, eval_len) dicts keyed (doc_id, pos) from ONE
    side-tagged suffix_block_frames call feeding both derivations."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        suffix_block_frames,
        suffix_dup_lengths_from_blocks,
        suffix_eval_overlap_from_blocks,
    )

    frames = suffix_block_frames(
        df, id_col="doc_id", text_col="text", side=side
    )
    lens = {
        (r["doc_id"], r["pos"]): r["dup_len"]
        for r in suffix_dup_lengths_from_blocks(
            frames, id_col="doc_id"
        ).collect()
    }
    ov = {
        (r["doc_id"], r["pos"]): r["eval_len"]
        for r in suffix_eval_overlap_from_blocks(
            frames, id_col="doc_id"
        ).collect()
    }
    return lens, ov


def test_suffix_dup_lengths_matches_pure_python_suffix_array(
    spark, sf_dir
):
    """r11 verdict #4: the exact-substring grain. Per token position,
    the operator's longest-duplicated-run length must equal the value
    read off a pure-Python suffix array (sorted suffix tuples +
    neighbor LCP max) over the same corpus. A 40-token document of
    unique tokens reports 0 everywhere: there is no document-length
    cap."""
    import duckdb

    from txf_continuous_data_pipeline_spark.operators.dedup import (
        suffix_dup_lengths,
    )
    from txf_continuous_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = {
        (r["doc_id"], r["pos"]): r["dup_len"]
        for r in suffix_dup_lengths(docs).collect()
    }

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, lower(trim(text)) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    toks = {d: [w for w in (t or "").split() if w] for d, t in rows}
    assert got == _py_suffix_dup_lengths(toks) and got

    long_doc = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))], "doc_id long, text string"
    )
    out = suffix_dup_lengths(long_doc).collect()
    assert len(out) == 40 and all(r["dup_len"] == 0 for r in out)


def test_keep_first_span_removal_semantics(spark, sf_dir):
    """Keep-one vs scrub-everything at the span grain: on a planted
    corpus where doc 1 holds the canonical first occurrence of a
    duplicated 5-token span and doc 2 repeats it mid-text, keep-first
    must leave doc 1 byte-intact and excise only doc 2's occurrence,
    while remove-all excises both; an untouched doc passes through
    either way. On the real corpus, keep-first's removed mass is
    per-doc dominated by remove-all's and strictly smaller in total
    (some doc holds each span's first occurrence)."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
        remove_duplicated_spans_keep_first,
    )

    planted = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon extraA1 extraA2"),
            (2, "prefixb1 prefixb2 alpha beta gamma delta epsilon tailb"),
            (3, "unique tokens only here nothing shared doc"),
        ],
        "doc_id long, text string",
    )
    kf = {
        r["doc_id"]: r
        for r in remove_duplicated_spans_keep_first(planted).collect()
    }
    ra = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(planted).collect()
    }
    assert kf[1]["text"] == "alpha beta gamma delta epsilon extraa1 extraa2"
    assert kf[1]["n_tokens_removed"] == 0
    assert kf[2]["text"] == "prefixb1 prefixb2 tailb"
    assert kf[2]["n_tokens_removed"] == 5
    assert kf[3]["n_tokens_removed"] == 0
    assert ra[1]["text"] == "extraa1 extraa2"
    assert ra[1]["n_tokens_removed"] == 5
    assert ra[2]["text"] == kf[2]["text"]

    docs = read_table(spark, sf_dir, "documents")
    kf_all = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in remove_duplicated_spans_keep_first(docs).collect()
    }
    ra_all = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in remove_duplicated_spans(docs).collect()
    }
    assert all(kf_all[d] <= ra_all[d] for d in kf_all)
    assert sum(kf_all.values()) < sum(ra_all.values())


def test_suffix_eval_overlap_matches_pure_python(spark, sf_dir):
    """The exact-substring decontamination arm: per train position,
    the operator's longest verbatim run shared with the eval side
    (source 'src0') must equal a pure-Python merged suffix array's
    answer (nearest eval suffix in either direction carries the max
    LCP). Also pins the null-neighbor guard: a train suffix with no
    eval suffix on one side must score 0 from that side, not its own
    full length (F.least silently skips NULL operands - the bug this
    test would have caught)."""
    import duckdb

    from txf_continuous_data_pipeline_spark.operators.dedup import (
        suffix_eval_overlap,
    )
    from txf_continuous_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("source") != "src0")
    ev = docs.where(F.col("source") == "src0")
    got = {
        (r["doc_id"], r["pos"]): r["eval_len"]
        for r in suffix_eval_overlap(train, ev).collect()
    }

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source, lower(trim(text)) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    tr, evd = {}, {}
    for d, src, t in rows:
        toks = [w for w in (t or "").split() if w]
        (evd if src == "src0" else tr)[d] = toks
    want = _py_merged_eval_overlap(tr, evd)
    assert got == want and want
    assert max(got.values()) < max(
        len(t) for t in tr.values()
    ) or any(v > 0 for v in got.values())


def test_shared_suffix_frame_serves_both_derivations(spark, sf_dir):
    """r12 verdict #3 pin: ONE merged side-tagged suffix ordering
    serves the whole family. (a) dup_len derived from the side-tagged
    suffix_block_frames (eval rows included, duplication is
    corpus-wide) equals the pure-Python suffix array over ALL
    documents; (b) the eval-overlap derivation off the SAME frames
    equals the pure-Python merged suffix array of train vs eval
    (source 'src0'); (c) the query-layer cache returns the same
    frames object across consumers, so a session pays the ordering
    once per corpus."""
    import duckdb
    from pyspark.sql import functions as F

    from txf_continuous_data_pipeline_spark.queries.text_dedup import (
        _cached_suffix_frame,
    )
    from txf_continuous_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    side = F.when(F.col("source") == "src0", F.lit(1)).otherwise(F.lit(0))
    got_lens, got_ov = _suffix_block_derivations(docs, side)

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source, lower(trim(text)) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    tr, evd = {}, {}
    for d, src, t in rows:
        (evd if src == "src0" else tr)[d] = [
            w for w in (t or "").split() if w
        ]
    assert got_lens == _py_suffix_dup_lengths({**tr, **evd}) and got_lens
    assert got_ov == _py_merged_eval_overlap(tr, evd) and got_ov

    assert _cached_suffix_frame(spark, sf_dir) is _cached_suffix_frame(
        spark, sf_dir
    )


def test_suffix_family_degenerate_corpora(spark):
    """Crash-freedom + exact semantics of the shared suffix builders on
    degenerate inputs: empty corpus (no partitions to scan), single doc
    (self-overlap only), single token, eval-only / train-only sides,
    and whitespace-only docs (dropped by the size>0 guard)."""
    from pyspark.sql import functions as F

    def run(rows):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, s int"
        )
        lens, ov = _suffix_block_derivations(df, F.col("s"))
        return (
            sorted((d, p, v) for (d, p), v in lens.items()),
            sorted((d, p, v) for (d, p), v in ov.items()),
        )

    assert run([]) == ([], [])
    # "a b a b": suffixes at 0 and 2 share "a b" (LCP 2); 1 and 3 share "b"
    assert run([(1, "a b a b", 0)]) == (
        [(1, 0, 2), (1, 1, 1), (1, 2, 2), (1, 3, 1)],
        [(1, 0, 0), (1, 1, 0), (1, 2, 0), (1, 3, 0)],
    )
    assert run([(1, "x", 0)]) == ([(1, 0, 0)], [(1, 0, 0)])
    # eval-only corpus: no train positions to report
    assert run([(1, "a b c", 1)]) == (
        [(1, 0, 0), (1, 1, 0), (1, 2, 0)],
        [],
    )
    # whitespace-only docs are dropped by the size>0 guard; the eval
    # doc "a a" self-overlaps at the dup grain but no train rows exist
    assert run([(1, "   ", 0), (2, "a a", 1)]) == (
        [(2, 0, 1), (2, 1, 1)],
        [],
    )


def test_suffix_family_adversarial_shapes(spark):
    """Adversarial corpus shapes through the shared builders, each
    against the pure-Python suffix-array and brute-force eval-overlap
    oracles: all-equal tokens (maximal tie blocks - the shape that
    would expose any tie-break sensitivity), nested repeats, an eval
    doc VERBATIM equal to a train doc (full-length contamination), an
    eval doc that is a proper substring of a train doc, and two
    deep-refinement corpora whose duplicated runs (149 and 100
    tokens) outlast the first chunk widths, so the chunked ordering
    must refine tied runs past level 2."""
    from pyspark.sql import functions as F

    shared = " ".join(f"t{i}" for i in range(100))
    corpora = [
        # all-equal tokens: every suffix of every doc ties maximally
        {1: "z z z z z", 2: "z z z", 3: "z"},
        # nested repeats: "a b a b a" self-overlaps at shifted offsets
        {1: "a b a b a", 2: "b a b"},
        # eval (doc 9) verbatim equals train doc 1
        {1: "p q r s", 2: "x y", 9: "p q r s"},
        # eval (doc 9) is a proper substring of train doc 1
        {1: "m n o p q", 9: "n o p"},
        # long all-equal docs: a 149-token self-duplicated run
        {1: " ".join(["z"] * 150), 2: " ".join(["z"] * 70),
         9: " ".join(["z"] * 20)},
        # two docs sharing a 100-token prefix; eval quotes 65 tokens
        {1: shared + " end1", 2: shared + " end2",
         9: "q0 " + " ".join(f"t{i}" for i in range(20, 85)) + " q1"},
    ]
    for toks_map in corpora:
        rows = [
            (d, t, 1 if d >= 9 else 0) for d, t in toks_map.items()
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, s int"
        )
        got, got_ov = _suffix_block_derivations(df, F.col("s"))
        toks = {d: t.split() for d, t in toks_map.items()}
        want = _py_suffix_dup_lengths(toks)
        assert got == want, toks_map

        train_toks = {d: w for d, w in toks.items() if d < 9}
        eval_toks = {d: w for d, w in toks.items() if d >= 9}
        assert got_ov == _py_eval_overlap(train_toks, eval_toks), toks_map
    # the last corpus really holds the 100-token run and 65-token quote
    assert want[(1, 0)] == 100 and max(got_ov.values()) == 65


def test_suffix_eval_overlap_disjoint_vocabularies(spark):
    """r13 review regression (reproduced live before the fix): the
    standalone operator sliced train and eval with one dictionary
    build PER SIDE, so the int32 ranks were incompatible across sides
    - train 'apple' and eval 'banana' both got rank 0, yielding a
    spurious overlap AND missing the verbatim one. The corpus tests
    masked it because the synthetic train/eval vocabularies coincide;
    this corpus makes them (mostly) disjoint."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        suffix_eval_overlap,
    )

    train = spark.createDataFrame(
        [(1, "apple banana"), (2, "cherry date")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "banana")], "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["pos"], r["eval_len"])
        for r in suffix_eval_overlap(train, ev).collect()
    )
    assert got == [(1, 0, 0), (1, 1, 1), (2, 0, 0), (2, 1, 0)]

    # fully disjoint: no position may overlap
    ev2 = spark.createDataFrame([(9, "kiwi mango")], "doc_id long, text string")
    got2 = sorted(
        (r["doc_id"], r["pos"], r["eval_len"])
        for r in suffix_eval_overlap(train, ev2).collect()
    )
    assert got2 == [(1, 0, 0), (1, 1, 0), (2, 0, 0), (2, 1, 0)]

    # multi-token verbatim quote across disjoint surroundings
    train3 = spark.createDataFrame(
        [(1, "x y the quick brown fox z")], "doc_id long, text string"
    )
    ev3 = spark.createDataFrame(
        [(9, "quick brown fox jumps")], "doc_id long, text string"
    )
    got3 = {
        (r["doc_id"], r["pos"]): r["eval_len"]
        for r in suffix_eval_overlap(train3, ev3).collect()
    }
    assert got3 == {
        (1, 0): 0, (1, 1): 0, (1, 2): 0,
        (1, 3): 3, (1, 4): 2, (1, 5): 1, (1, 6): 0,
    }


def test_suffix_family_unicode_tokens(spark):
    """Non-ASCII tokens through the dictionary-rank path: md5 hashing,
    lower(), and the whitespace split must agree with a pure-Python
    token-level suffix array on CJK, accented, emoji, and mixed-case
    unicode tokens (the encoding seam a latin-only corpus never
    exercises)."""
    from txf_continuous_data_pipeline_spark.operators.dedup import (
        suffix_dup_lengths,
    )

    toks_map = {
        1: "café 東京 naïve 東京 café 東京",
        2: "東京 café",
        3: "🙂 ß straße ß 🙂",
        4: "CAFÉ café",  # lower() must fold these together
    }
    df = spark.createDataFrame(
        list(toks_map.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["pos"]): r["dup_len"]
        for r in suffix_dup_lengths(df).collect()
    }
    toks = {d: t.lower().split() for d, t in toks_map.items()}
    assert got == _py_suffix_dup_lengths(toks) and got


def test_suffix_family_random_differential(spark):
    """Hypothesis differential for the suffix grain: on random corpora
    over a 3-token alphabet (dense suffix ties by construction - the
    hardest shape for the dictionary-rank tie-break argument), both
    dup_len and train-vs-eval eval_len must equal the pure-Python
    suffix-array answers, with the eval side drawn from a PARTIALLY
    DISJOINT alphabet so the per-side-dictionary regression class
    stays covered under random shapes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from txf_continuous_data_pipeline_spark.operators.dedup import (
        suffix_dup_lengths,
        suffix_eval_overlap,
    )

    train_tok = st.sampled_from(["aa", "bb", "cc"])
    eval_tok = st.sampled_from(["bb", "cc", "zz"])  # overlaps partially

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.lists(train_tok, min_size=1, max_size=10),
            min_size=1,
            max_size=3,
        ),
        st.lists(
            st.lists(eval_tok, min_size=1, max_size=6),
            min_size=1,
            max_size=2,
        ),
    )
    def run(train_lists, eval_lists):
        train_toks = {i: t for i, t in enumerate(train_lists)}
        eval_toks = {100 + i: t for i, t in enumerate(eval_lists)}
        train = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in train_toks.items()],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in eval_toks.items()],
            "doc_id long, text string",
        )
        got_dup = {
            (r["doc_id"], r["pos"]): r["dup_len"]
            for r in suffix_dup_lengths(train).collect()
        }
        assert got_dup == _py_suffix_dup_lengths(train_toks)
        got_ov = {
            (r["doc_id"], r["pos"]): r["eval_len"]
            for r in suffix_eval_overlap(train, ev).collect()
        }
        assert got_ov == _py_eval_overlap(train_toks, eval_toks)

    run()
