"""Ground truths for the round-8 additions: mw4 (DoReMi-shaped
mixture weights) and the restructured pipe1 funnel's flag
monotonicity."""

from __future__ import annotations

import numpy as np
import pandas as pd

from reduction_dask_spark.operators.pipeline import doc_survival_flags
from reduction_dask_spark.operators.text import (
    DOREMI_LAM,
    mw4_doremi_mixture,
)

from .conftest import SF_SMALL


def _half_up(x: np.ndarray) -> np.ndarray:
    """round() on both engines is HALF_UP for positives; np.round is
    banker's — emulate the engines."""
    return np.floor(x + 0.5)


def test_mw4_matches_numpy(spark):
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    toks = docs["text"].str.split(" ")
    ratio = toks.map(lambda t: len(set(t)) / len(t)).values
    loss_q = _half_up(-np.log(ratio) * 1e6).astype("int64")
    d = pd.DataFrame({"lang": docs["lang"], "q": loss_q})
    g = d.groupby("lang").agg(n_docs=("q", "size"), sq=("q", "sum"))
    n, tq = g.n_docs.sum(), g.sq.sum()
    mean_loss = g.sq / (g.n_docs * 1e6)
    excess = np.maximum(0.0, mean_loss - tq / (n * 1e6))
    share = g.n_docs / n
    w = share * np.exp(DOREMI_LAM * excess)
    weight = w / w.sum()

    got = {r["lang"]: r for r in mw4_doremi_mixture(spark, SF_SMALL).collect()}
    assert set(got) == set(g.index)
    for lang in g.index:
        r = got[lang]
        assert r["n_docs"] == g.n_docs[lang]
        assert abs(r["mean_loss"] - mean_loss[lang]) < 2e-6
        assert abs(r["excess"] - excess[lang]) < 2e-6
        assert abs(r["weight"] - weight[lang]) < 2e-6
    # normalized mixture: weights sum to 1 (up to display rounding)
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-4
    # EG upweights above-reference domains: weight/share grows with excess
    # (weights carry 6-decimal display rounding — dividing by a small
    # share amplifies that to ~1e-5, hence the slack)
    ordered = sorted(g.index, key=lambda l: excess[l])
    ratios = [got[l]["weight"] / share[l] for l in ordered]
    assert all(b >= a - 1e-4 for a, b in zip(ratios, ratios[1:]))


def test_pipe1_flags_monotone(spark):
    """Each funnel stage only narrows the previous one — guards the
    r8 window-min/pin restructure of doc_survival_flags."""
    rows = doc_survival_flags(spark, SF_SMALL).collect()
    assert rows
    chain = ["q_ok", "gopher_ok", "rep_ok", "exact_ok", "near_ok", "decontam_ok", "lang_ok"]
    for r in rows:
        for a, b in zip(chain, chain[1:]):
            assert not (r[b] and not r[a]), (r["doc_id"], a, b)
    # the funnel actually filters: strictly fewer lang survivors than docs
    assert sum(r["lang_ok"] for r in rows) < len(rows)
    assert sum(r["q_ok"] for r in rows) > 0


def test_pipe2_manifest_matches_pandas(spark):
    """Engine-independent ground truth for pipe2's export half: the
    shuffle key comes from python hashlib, the shard/pack/manifest
    math from pandas — neither Spark nor DuckDB expressions are
    reused, so a shared SQL-semantics mistake can't pass both."""
    import hashlib

    from reduction_dask_spark.operators.pipeline import (
        EXPORT_SHARDS,
        PACK_BUDGET,
        pipe2_export_manifest,
    )

    flags = doc_survival_flags(spark, SF_SMALL).toPandas()
    kept_ids = set(flags.loc[flags.lang_ok, "doc_id"])
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    kept = docs[docs.doc_id.isin(kept_ids)].copy()
    assert len(kept) > 0
    kept["n_tok"] = kept.text.str.split(" ").map(len)
    kept["skey"] = kept.doc_id.map(
        lambda i: int(hashlib.md5(f"0:{i}".encode()).hexdigest()[:15], 16)
    )
    kept["shard"] = kept.skey % EXPORT_SHARDS

    expected = {}
    for shard, g in kept.sort_values(["skey", "doc_id"]).groupby("shard"):
        prefix = g.n_tok.cumsum().shift(fill_value=0)
        n_seqs = (prefix // PACK_BUDGET).nunique()
        expected[shard] = (
            len(g),
            int(g.n_tok.sum()),
            int(n_seqs),
            round(g.n_tok.sum() / (n_seqs * PACK_BUDGET), 6),
        )

    got = {r["shard"]: r for r in pipe2_export_manifest(spark, SF_SMALL).collect()}
    assert set(got) == set(expected)
    for shard, (nd, nt, ns, ff) in expected.items():
        r = got[shard]
        assert (r["n_docs"], r["n_tokens"], r["n_seqs"]) == (nd, nt, ns), shard
        assert abs(r["fill_frac"] - ff) < 1e-6, shard
    # conservation: every curated doc and token lands in exactly one shard
    assert sum(r["n_docs"] for r in got.values()) == len(kept)
    assert sum(r["n_tokens"] for r in got.values()) == int(kept.n_tok.sum())


def test_export_manifest_fill_frac_ties_match_oracle(spark):
    """Planted rounding ties: each shard packs 5 sequences, so
    fill_frac = n_tokens/1280 needs 7 decimals and ends in 5. 1282/1280
    is stored just below 1.0015625, 1286/1280·10⁶ is exactly
    1004687.5, and 1298/1280 is stored just above 1.0140625. The
    Spark export must round each one as the DuckDB oracle SQL does."""
    import duckdb

    from reduction_dask_spark.operators.pipeline import (
        EXPORT_SHARDS,
        _export_manifest,
        _export_manifest_sql,
    )

    rows = [
        (shard * 10 + i, n_tok, shard + EXPORT_SHARDS * i)
        for shard, total in enumerate((1282, 1286, 1298))
        for i, n_tok in enumerate((256, 256, 256, 256, total - 1024))
    ]
    kept = pd.DataFrame(rows, columns=["doc_id", "n_tok", "skey"])
    got = sorted(tuple(r) for r in _export_manifest(spark.createDataFrame(kept)).collect())
    con = duckdb.connect()
    con.register("planted", kept)
    want = sorted(
        con.execute("WITH " + _export_manifest_sql("SELECT * FROM planted")).fetchall()
    )
    assert got == want
    assert [r[4] for r in got] == [1.001562, 1.004688, 1.014063]


def test_dd12_planted_incremental_flags(spark):
    """Planted history/delta fixture: every dd12 flag fires exactly
    where it should (delta ids are ≡DELTA_REM mod DELTA_MOD)."""
    from reduction_dask_spark.operators.dedup import (
        DELTA_MOD,
        DELTA_REM,
        incremental_dedup_of,
    )

    assert (DELTA_MOD, DELTA_REM) == (5, 3)  # fixture ids assume this
    words = [f"w{i}" for i in range(30)]
    text_a = " ".join(words)
    near_a = " ".join(words[:15] + ["EDITED"] + words[16:])  # 1-token edit
    text_b = " ".join(f"b{i}" for i in range(30))
    text_c = " ".join(f"c{i}" for i in range(30))
    rows = [
        (1, text_a),   # history
        (2, text_c.replace("c", "h")),  # history filler
        (3, text_a),   # delta: exact copy of history doc 1
        (8, near_a),   # delta: one-token near-edit of history doc 1
        (13, text_b),  # delta: min-id twin — accepted
        (18, text_b),  # delta: intra-delta duplicate of 13
        (23, text_c),  # delta: genuinely new — accepted
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in incremental_dedup_of(d).collect()}
    assert set(got) == {3, 8, 13, 18, 23}

    def flags(r):
        return (r["exact_hist"], r["intra_dup"], r["near_hist"], r["accepted"])

    assert flags(got[3]) == (True, False, True, False)    # exact ⇒ also near
    assert flags(got[8]) == (False, False, True, False)   # near only
    assert flags(got[13]) == (False, False, False, True)  # twin keeper
    assert flags(got[18]) == (False, True, False, False)  # intra dup
    assert flags(got[23]) == (False, False, False, True)  # new


def test_dc3_span_at_document_boundaries(spark):
    """LCE edge coverage: the benchmark quote sits at the very START
    (left extension length 0 — empty comparison list) and the very
    END (right extension bounded by the doc boundary) of its host."""
    from reduction_dask_spark.operators.dedup import (
        BENCH_MOD,
        ES_MIN_LEN,
        span_decontam_of,
    )

    bench_tokens = [f"b{i}" for i in range(20)]
    pad = [f"p{i}" for i in range(63)]  # unaligned tail/lead (63 % 5 != 0)
    rows = [
        (BENCH_MOD, " ".join(bench_tokens)),
        (10, " ".join(bench_tokens + pad)),   # quote at host START
        (20, " ".join(pad + bench_tokens)),   # quote at host END (offset 63)
        (30, " ".join(f"c{i}" for i in range(60))),  # clean
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {}
    for r in span_decontam_of(d).collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert set(got) == {10, 20}
    (s10,) = got[10]
    assert (s10["start_doc"], s10["start_bench"], s10["match_len"]) == (0, 0, 20)
    (s20,) = got[20]
    assert (s20["start_doc"], s20["start_bench"], s20["match_len"]) == (63, 0, 20)
    assert s20["match_len"] >= ES_MIN_LEN


def test_dd12_intra_delta_near_dup_is_out_of_scope(spark):
    """Pins the documented boundary: dd12's near flag is vs HISTORY
    only — two near-identical docs both inside the delta are each
    accepted (intra-batch fuzzy dedup is dd3's job, run on the
    accepted batch afterwards)."""
    from reduction_dask_spark.operators.dedup import incremental_dedup_of

    words = [f"w{i}" for i in range(30)]
    near = words[:10] + ["EDITED"] + words[11:]
    rows = [
        (1, " ".join(f"h{i}" for i in range(30))),  # unrelated history
        (3, " ".join(words)),                        # delta
        (8, " ".join(near)),                         # delta near-dup of 3
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in incremental_dedup_of(d).collect()}
    assert set(got) == {3, 8}
    for i in (3, 8):
        r = got[i]
        assert (r["exact_hist"], r["intra_dup"], r["near_hist"], r["accepted"]) == (
            False, False, False, True,
        ), i
