"""Replays, invariants and hypothesis properties for the text/corpus
operators (text.py).  Each test replays the operator's math
independently (pandas/hashlib/pure Python) or asserts the structural
invariants the op guarantees; the cross-engine value check lives in
tests/test_oracle_queries.py via the shared QUERIES/ORACLES
registration."""

from __future__ import annotations

import hashlib
import math
import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from decision_tree_analytics_spark.operators.text import (
    CHAT_SKELETON,
    EPOCH_BUDGET_MULT,
    MAX_EPOCH_MILLI,
    MDIFF_BUCKETS,
    MDIFF_G1_GATE,
    MDIFF_G1_HIGH,
    MDIFF_G2_GATE,
    MDIFF_G2_HIGH,
    OOV_VOCAB_TOP_N,
    PREF_MARGIN_PPM,
    PREF_POOL,
    REJ_THRESHOLD_PPM,
    STOPWORDS,
    ns_chat_template,
    ns_epoch_plan,
    ns_manifest_diff,
    ns_oov_rate,
    ns_preference_pairs,
    ns_rejection_sample,
)
from decision_tree_analytics_spark.sources.tables import load_table


def test_boilerplate_prefix_counts_match_pandas(spark, sf_dir):
    import hashlib

    from decision_tree_analytics_spark.operators.text import (
        BOILERPLATE_PREFIX_TOKENS,
        BOILERPLATE_TOP_K,
        ns_boilerplate_prefix,
    )

    rows = ns_boilerplate_prefix(spark, sf_dir).collect()
    assert 0 < len(rows) <= BOILERPLATE_TOP_K
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    from collections import Counter

    cnt = Counter(
        hashlib.md5(
            " ".join(t.lower().strip().split(" ")[:BOILERPLATE_PREFIX_TOKENS]).encode()
        ).hexdigest()
        for t in docs["text"]
    )
    for r in rows:
        assert cnt[r["prefix_md5"]] == r["n_docs"]
        assert r["is_shared"] == (1 if r["n_docs"] >= 2 else 0)
    # the listing is sorted by shared-ness first
    ns = [r["n_docs"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_code_detect_ratios_match_python(spark, sf_dir):
    import re

    from decision_tree_analytics_spark.operators.text import (
        CODE_SYMBOLS,
        ns_code_detect,
    )

    rows = {r["source"]: r for r in ns_code_detect(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("source", "text").toPandas()
    pat = re.compile(CODE_SYMBOLS)
    dig = re.compile(r"[0-9]")
    for source, g in docs.groupby("source"):
        sym = [
            int(len(pat.findall(t)) / len(t) * 1e6 + 0.5) if len(t) else 0
            for t in g["text"]
        ]
        r = rows[source]
        assert r["n_docs"] == len(g)
        assert r["max_sym_ppm"] == max(sym)
        assert r["mean_sym_ppm"] == int(sum(sym) / len(sym) + 0.5)
        assert all(dig.match("5") for _ in [0])  # sanity of the regex module


def test_span_corruption_spans_stay_in_stratum_and_doc(spark, sf_dir):
    from decision_tree_analytics_spark.operators.text import (
        SPAN_STRATUM,
        ns_span_corruption,
    )

    rows = ns_span_corruption(spark, sf_dir).collect()
    assert rows
    per_doc: dict[int, list] = {}
    for r in rows:
        assert 2 <= r["len_tok"] <= 4
        lo = r["span_id"] * SPAN_STRATUM
        assert lo <= r["start_tok"]
        assert r["start_tok"] + r["len_tok"] <= lo + SPAN_STRATUM  # in stratum
        assert r["start_tok"] + r["len_tok"] <= r["n_tok"]  # in doc
        per_doc.setdefault(r["doc_id"], []).append(r)
    # non-overlapping by construction; ~15% mask rate at mean span 3
    for doc, spans in per_doc.items():
        spans.sort(key=lambda r: r["start_tok"])
        for a, b in zip(spans, spans[1:]):
            assert a["start_tok"] + a["len_tok"] <= b["start_tok"]
    masked = sum(r["len_tok"] for r in rows)
    toks = sum({r["doc_id"]: r["n_tok"] for r in rows}.values())
    assert 0.10 <= masked / toks <= 0.20


TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def _md5_bucket(val, mod):
    return int(hashlib.md5(str(val).encode()).hexdigest()[:8], 16) % mod


# ------------------------------------------------------------------
# ns_manifest_diff
# ------------------------------------------------------------------


def _manifest_gens(docs: pd.DataFrame):
    d = docs.copy()
    d["n_tok"] = d["text"].map(lambda t: len(str(t).lower().strip().split(" ")))
    d["bucket"] = d["doc_id"].map(lambda i: _md5_bucket(i, MDIFF_BUCKETS))
    g1 = d[(d.bucket != 0) & (d.n_tok >= MDIFF_G1_GATE)].copy()
    g1["tier"] = g1.n_tok.map(lambda n: "high" if n >= MDIFF_G1_HIGH else "mid")
    g2 = d[(d.bucket != 1) & (d.n_tok >= MDIFF_G2_GATE)].copy()
    g2["tier"] = g2.n_tok.map(lambda n: "high" if n >= MDIFF_G2_HIGH else "mid")
    return g1, g2


def test_manifest_diff_replays_in_pandas(spark, sf_dir):
    out = ns_manifest_diff(spark, sf_dir).toPandas().set_index("source")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).toPandas()
    g1, g2 = _manifest_gens(docs)
    m = g1.merge(g2, on="doc_id", how="outer", suffixes=("_1", "_2"))
    added = m[m.source_1.isna()].groupby("source_2").size()
    removed = m[m.source_2.isna()].groupby("source_1").size()
    both = m[m.source_1.notna() & m.source_2.notna()]
    requal = both[both.tier_1 != both.tier_2].groupby("source_2").size()
    tok_delta = (
        g2.groupby("source").n_tok.sum().astype(int)
        .sub(g1.groupby("source").n_tok.sum().astype(int), fill_value=0)
    )
    for src, row in out.iterrows():
        assert row["docs_added"] == added.get(src, 0)
        assert row["docs_removed"] == removed.get(src, 0)
        assert row["docs_requalified"] == requal.get(src, 0)
        assert row["token_delta"] == tok_delta.get(src, 0)
    # Every diff category is populated somewhere (fixture guarantee).
    assert out["docs_added"].sum() > 0
    assert out["docs_removed"].sum() > 0
    assert out["docs_unchanged"].sum() > 0


# ------------------------------------------------------------------
# ns_oov_rate / ns_chat_template
# ------------------------------------------------------------------


def test_oov_rate_replays_in_pandas(spark, sf_dir):
    out = ns_oov_rate(spark, sf_dir).toPandas().set_index("lang")
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    toks = []
    for r in docs.itertuples():
        for t in TOKEN_RE.findall(str(r.text).lower()):
            toks.append((r.lang, t))
    tdf = pd.DataFrame(toks, columns=["lang", "tok"])
    counts = tdf.groupby("tok").size().reset_index(name="n")
    vocab = set(
        counts.sort_values(["n", "tok"], ascending=[False, True])
        .head(OOV_VOCAB_TOP_N)["tok"]
    )
    tdf["oov"] = (~tdf.tok.isin(vocab)).astype(int)
    rep = tdf.groupby("lang").agg(n_tokens=("tok", "size"), n_oov=("oov", "sum"))
    for lang, row in rep.iterrows():
        assert out.loc[lang, "n_tokens"] == row.n_tokens
        assert out.loc[lang, "n_oov"] == row.n_oov
        assert out.loc[lang, "oov_ppm"] == row.n_oov * 1_000_000 // row.n_tokens


def test_chat_template_replays_in_pandas(spark, sf_dir):
    from decision_tree_analytics_spark.operators.text import (
        CHAT_MAX_TOKENS,
        CHAT_PROMPT_CHARS,
    )

    out = ns_chat_template(spark, sf_dir).toPandas().set_index("lang")
    skel = len(TOKEN_RE.findall(CHAT_SKELETON))
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    rep = {}
    for r in docs.itertuples():
        t = str(r.text)
        p = len(TOKEN_RE.findall(t[:CHAT_PROMPT_CHARS].lower()))
        c = len(TOKEN_RE.findall(t[CHAT_PROMPT_CHARS:].lower()))
        n, content, trunc = rep.get(r.lang, (0, 0, 0))
        rep[r.lang] = (
            n + 1,
            content + p + c,
            trunc + (1 if p + c + skel > CHAT_MAX_TOKENS else 0),
        )
    for lang, (n, content, trunc) in rep.items():
        assert out.loc[lang, "n_examples"] == n
        assert out.loc[lang, "content_tokens"] == content
        assert out.loc[lang, "overhead_tokens"] == n * skel
        assert out.loc[lang, "n_truncated"] == trunc
        assert out.loc[lang, "overhead_ppm"] == (
            n * skel * 1_000_000 // (content + n * skel)
        )


# ------------------------------------------------------------------
# ns_tokenizer_fertility
# ------------------------------------------------------------------


def test_tokenizer_fertility_replays_in_python(spark, sf_dir):
    from decision_tree_analytics_spark.operators.text import (
        ns_tokenizer_fertility,
    )

    out = ns_tokenizer_fertility(spark, sf_dir).toPandas().set_index("lang")
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    rep = {}
    for r in docs.itertuples():
        t = str(r.text)
        ws = len(t.lower().strip().split(" "))
        re_t = len(TOKEN_RE.findall(t.lower()))
        n, w_sum, r_sum, c_sum = rep.get(r.lang, (0, 0, 0, 0))
        rep[r.lang] = (n + 1, w_sum + ws, r_sum + re_t, c_sum + len(t))
    for lang, (n, w_sum, r_sum, c_sum) in rep.items():
        row = out.loc[lang]
        assert row["n_docs"] == n
        assert row["ws_words"] == w_sum and row["re_tokens"] == r_sum
        assert row["fertility_ppm"] == r_sum * 1_000_000 // w_sum
        assert row["chars_per_token_micro"] == c_sum * 1_000_000 // r_sum
        # a BPE-ish regex never merges across whitespace: fertility >= 1
        assert row["fertility_ppm"] >= 1_000_000


# ------------------------------------------------------------------
# ns_epoch_plan
# ------------------------------------------------------------------


def test_epoch_plan_budget_accounting(spark, sf_dir):
    pdf = ns_epoch_plan(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    total_tokens = int(pdf["n_tokens"].sum())
    budget = EPOCH_BUDGET_MULT * total_tokens
    # Weights are floor-quantized ppm shares: they sum to at most 1e6
    # and undershoot by at most one ulp per source.
    wsum = int(pdf["weight_ppm"].sum())
    assert wsum <= 1_000_000
    assert wsum > 1_000_000 - len(pdf) - 1
    # The cap binds: no source trains past MAX_EPOCH_MILLI epochs.
    assert (pdf["epochs_milli"] <= MAX_EPOCH_MILLI).all()
    assert (pdf["epochs_milli"] >= 0).all()
    # effective re-derives the post-cap spend; shortfall is its gap
    # to the ask (floor rounding keeps both within one token-milli).
    eff = pdf["epochs_milli"] * pdf["n_tokens"] // 1000
    assert (pdf["effective_tokens"] == eff).all()
    assert (
        pdf["shortfall_tokens"] == pdf["target_tokens"] - pdf["effective_tokens"]
    ).all()
    assert (pdf["shortfall_tokens"] >= 0).all()
    # Post-cap spend never exceeds the budget (floor-rounded targets
    # already undershoot the exact shares).
    assert int(pdf["effective_tokens"].sum()) <= budget


def test_epoch_plan_upsamples_small_sources(spark, sf_dir):
    """alpha=0.5 smoothing gives smaller sources MORE epochs: the
    epochs_milli ordering must be the reverse of the n_tokens
    ordering wherever token counts differ materially."""
    pdf = ns_epoch_plan(spark, sf_dir).toPandas()
    if pdf["n_tokens"].nunique() < 2:
        return  # degenerate fixture: nothing to compare
    lo = pdf.loc[pdf["n_tokens"].idxmin()]
    hi = pdf.loc[pdf["n_tokens"].idxmax()]
    if lo["n_tokens"] == hi["n_tokens"]:
        return
    # The smallest source gets at least as many epochs as the largest
    # (strictly more unless both hit the cap).
    assert lo["epochs_milli"] >= hi["epochs_milli"]


def _epoch_rows(tokens: list[int]) -> list[dict]:
    """Replica of ns_epoch_plan's integer pipeline for one inventory."""
    sw = [math.floor(math.sqrt(float(n)) * 1e6 + 0.5) for n in tokens]
    total_sw = sum(sw)
    budget = EPOCH_BUDGET_MULT * sum(tokens)
    rows = []
    for n, s in zip(tokens, sw):
        w = s * 1_000_000 // total_sw if total_sw else None
        target = w * (budget // 1000) // 1000
        epochs = min(target * 1000 // n, MAX_EPOCH_MILLI) if n else None
        eff = epochs * n // 1000
        rows.append(
            {
                "n_tokens": n,
                "weight_ppm": w,
                "target_tokens": target,
                "epochs_milli": epochs,
                "effective_tokens": eff,
                "shortfall_tokens": target - eff,
            }
        )
    return rows


inventories = st.lists(
    st.integers(min_value=1, max_value=10**12), min_size=1, max_size=50
)


# ADVICE r10: the binding overflow bound is the share numerator
# sw * 1e6 with sw ~= sqrt(n_tokens) * 1e6, i.e. any SINGLE source is
# capped at ~8.5e13 tokens (sqrt(8.5e13)*1e12 ~= 9.2e18 ~= 2^63); the
# budget-side bound weight_ppm * (budget div 1000) caps the TOTAL at
# ~9.2e15 budget tokens.  This lane drives per-source magnitudes right
# up to the documented 8.5e13 while max_size=7 keeps the budget
# (4 * 7 * 8.5e13 = 2.4e15) safely inside its own bound, so every
# intermediate must stay representable — locked below.
near_bound_inventories = st.lists(
    st.integers(min_value=1, max_value=85 * 10**12), min_size=1, max_size=7
)


@given(inventories)
@settings(max_examples=200, deadline=None)
def test_epoch_plan_invariants(tokens):
    rows = _epoch_rows(tokens)
    budget = EPOCH_BUDGET_MULT * sum(tokens)
    # Floor-quantized shares: never oversubscribe, undershoot bounded.
    wsum = sum(r["weight_ppm"] for r in rows)
    assert wsum <= 1_000_000
    assert wsum > 1_000_000 - len(rows) - 1
    for r in rows:
        assert 0 <= r["epochs_milli"] <= MAX_EPOCH_MILLI
        assert r["shortfall_tokens"] >= 0
        assert r["effective_tokens"] >= 0
    # Post-cap spend never exceeds the budget.
    assert sum(r["effective_tokens"] for r in rows) <= budget
    # No BIGINT overflow anywhere in the tree at the max magnitudes
    # the strategy generates (1e12 tokens/source x 50 sources).
    for r in rows:
        for v in r.values():
            assert abs(v) < 2**63


@given(near_bound_inventories)
@settings(max_examples=200, deadline=None)
def test_epoch_plan_no_overflow_at_documented_bounds(tokens):
    """Locks the docstring's overflow claims: with every source at or
    below ~8.5e13 tokens and the budget below ~9.2e15, EVERY
    intermediate of the shared expression tree — including the two
    products that are evaluated before their trailing div — fits in a
    signed 64-bit integer, so neither engine can raise ANSI overflow
    inside the documented envelope."""
    sw = [math.floor(math.sqrt(float(n)) * 1e6 + 0.5) for n in tokens]
    total_sw = sum(sw)
    budget = EPOCH_BUDGET_MULT * sum(tokens)
    assert budget < 9_200_000_000_000_000  # strategy keeps us in-envelope
    for n, s in zip(tokens, sw):
        assert s * 1_000_000 < 2**63  # the binding per-source product
        w = s * 1_000_000 // total_sw
        assert w * (budget // 1000) < 2**63  # the budget-side product
    rows = _epoch_rows(tokens)
    for r in rows:
        for v in r.values():
            assert abs(v) < 2**63
        # target * 1000 (the epochs numerator) must fit too.
        assert r["target_tokens"] * 1000 < 2**63


@given(inventories)
@settings(max_examples=200, deadline=None)
def test_epoch_plan_upsampling_is_monotone_with_margin(tokens):
    """alpha=0.5 smoothing: a source with <= 1/4 the tokens of another
    gets >= its epochs — PROVIDED its smoothed share is representable
    at ppm granularity (weight_ppm >= 100) and its own schedule is not
    floor-dominated (epochs_milli >= 10).  Sub-ppm sources legitimately
    floor to zero (hypothesis found tokens=[1, 1e12]: the tiny source's
    share is ~1e-6 ppm), which is quantization, not inversion — the 2x
    sqrt gap then swamps every remaining floor in the tree."""
    rows = _epoch_rows(tokens)
    by_n = sorted(rows, key=lambda r: r["n_tokens"])
    for small in by_n:
        if small["weight_ppm"] < 100 or small["epochs_milli"] < 10:
            continue
        for big in by_n:
            if small["n_tokens"] * 4 <= big["n_tokens"]:
                assert small["epochs_milli"] >= big["epochs_milli"]


# Java regex \w and RE2 \w are ASCII classes; Python's re defaults to
# unicode — re.ASCII pins the replay to the engines' semantics.
_TOKEN_RE = re.compile(r"\w+|[^\w\s]", re.ASCII)


_STOP_EN = set(STOPWORDS["en"])


def _replay(docs: pd.DataFrame) -> pd.DataFrame:
    """Pure-Python replica of the full pipeline (reward, pools,
    argmax/argmin with the doc_id tie-break, margin filter, rollup)."""
    rows = []
    for r in docs.itertuples(index=False):
        # strip(' ') not strip(): both engines' trim() removes SPACES
        # only, while Python's bare strip() eats \t/\n/\r too — a
        # corpus with non-space edge whitespace would diverge.
        ws = r.text.strip(" ").lower().split(" ")
        stop = sum(1 for t in ws if t in _STOP_EN)
        rows.append(
            {
                "doc_id": r.doc_id,
                "source": r.source,
                "prompt_id": r.doc_id // PREF_POOL,
                "reward_ppm": stop * 1_000_000 // len(ws),
                "re_tokens": len(_TOKEN_RE.findall(r.text.lower())),
            }
        )
    per = pd.DataFrame(rows)
    out: dict[str, dict] = {}
    for _pid, g in per.groupby("prompt_id"):
        if len(g) < 2:
            continue
        best = g.sort_values(["reward_ppm", "doc_id"], ascending=[False, True]).iloc[0]
        worst = g.sort_values(["reward_ppm", "doc_id"], ascending=[True, True]).iloc[0]
        gap = int(best.reward_ppm - worst.reward_ppm)
        usable = 1 if gap >= PREF_MARGIN_PPM else 0
        s = out.setdefault(
            best.source,
            {
                "n_groups": 0,
                "n_pairs": 0,
                "cross_source_pairs": 0,
                "longer": 0,
                "gap_sum": 0,
                "sum_len_delta": 0,
            },
        )
        s["n_groups"] += 1
        s["n_pairs"] += usable
        if usable:
            s["cross_source_pairs"] += int(best.source != worst.source)
            s["longer"] += int(best.re_tokens > worst.re_tokens)
            s["gap_sum"] += gap
            s["sum_len_delta"] += int(best.re_tokens - worst.re_tokens)
    recs = []
    for src, s in out.items():
        n = s["n_pairs"]
        recs.append(
            {
                "source": src,
                "n_groups": s["n_groups"],
                "n_pairs": n,
                "cross_source_pairs": s["cross_source_pairs"],
                "chosen_longer_ppm": s["longer"] * 1_000_000 // n if n else None,
                "mean_gap_ppm": s["gap_sum"] // n if n else None,
                "sum_len_delta": s["sum_len_delta"],
            }
        )
    return pd.DataFrame(recs).sort_values("source").reset_index(drop=True)


def test_preference_pairs_matches_python_replay(spark, sf_dir):
    got = (
        ns_preference_pairs(spark, sf_dir)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).toPandas()
    want = _replay(docs)
    assert list(got.columns) == list(want.columns)
    for col in want.columns:
        # .where(notna, None) keeps float64 dtype, so a pair-less
        # source's NULL round-trips as NaN and nan != nan red-flagged
        # a true match at sf0.01 — render through a sentinel instead.
        g = got[col].astype(object).where(got[col].notna(), "<N>").tolist()
        w = want[col].astype(object).where(want[col].notna(), "<N>").tolist()
        assert g == w, f"column {col}: {g} != {w}"


def test_preference_pairs_audit_invariants(spark, sf_dir):
    pdf = ns_preference_pairs(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    # Usable pairs are a subset of candidate groups; cross-source
    # pairs a subset of usable pairs.
    assert (pdf.n_pairs <= pdf.n_groups).all()
    assert (pdf.cross_source_pairs <= pdf.n_pairs).all()
    # Rates are ppm-bounded; the margin filter makes every usable
    # pair's gap >= PREF_MARGIN_PPM, so the mean is too.
    live = pdf[pdf.n_pairs > 0]
    assert ((live.chosen_longer_ppm >= 0) & (live.chosen_longer_ppm <= 1_000_000)).all()
    assert (live.mean_gap_ppm >= PREF_MARGIN_PPM).all()
    # Zero-pair sources report NULL rates, never a division blow-up.
    dead = pdf[pdf.n_pairs == 0]
    assert dead.chosen_longer_ppm.isna().all()
    assert dead.mean_gap_ppm.isna().all()
    assert (dead.sum_len_delta == 0).all()
    # Group conservation: every pool of >= 2 docs yields exactly one
    # group row attributed to exactly one winning source.
    docs = load_table(spark, sf_dir, "documents").select("doc_id").toPandas()
    pools = (docs.doc_id // PREF_POOL).value_counts()
    assert pdf.n_groups.sum() == int((pools >= 2).sum())


def test_rejection_sample_invariants(spark, sf_dir):
    pdf = ns_rejection_sample(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf.n_accepted <= pdf.n_prompts).all()
    assert (pdf.acceptance_ppm <= 1_000_000).all()
    # Every accepted prompt's best reward clears the bar, so the
    # accepted mean must too (NaN rows = sources with 0 accepted).
    m = pdf.mean_accepted_reward_ppm.dropna()
    assert (m >= REJ_THRESHOLD_PPM).all()
    # Selection can only lift quality: advantage is non-negative.
    assert (pdf.mean_advantage_ppm >= 0).all()
