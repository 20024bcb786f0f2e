"""Seeded from-scratch numpy MLP text embedder (operators/embedding.py).

Contract under test:
  * the forward pass is bit-identical to an independent naive
    pure-Python mirror (loops, no numpy) — the engine-portability
    contract (IEEE-only ops, pinned fold order) holds on the numpy side;
  * embed_text over Spark equals the driver-side model exactly
    (determinism across workers/batches);
  * edge cases: empty / None / sub-trigram texts embed to the pure-bias
    forward (x = 0 vector), never NaN;
  * S8 singleton: one init per (seed, dims) config per process;
  * weights are seed-stable (regenerating gives identical literals).

The DuckDB side of the bit-identity contract is pinned by the
registered `multimodal_feature_extract` query (test_driver_contract)
and by test_sql_mirror_matches_numpy here.
"""

from __future__ import annotations

import hashlib
import random

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.operators import embedding as E


def _naive_embed(text: str, w: dict) -> list[float]:
    """Independent mirror: plain loops, no numpy, same pinned order."""
    t = text or ""
    dim_in, dim_h, dim_out = w["dim_in"], w["dim_hidden"], w["dim_out"]
    n_tri = len(t) - 2
    counts = [0] * dim_in
    for i in range(max(n_tri, 0)):
        tri = t[i:i + 3]
        j = int(hashlib.md5(tri.encode("utf-8")).hexdigest()[:15],
                16) % dim_in
        counts[j] += 1
    tn = float(max(n_tri, 1))
    x = [c / tn for c in counts]
    hid = []
    for h in range(dim_h):
        acc = w["b1"][h]
        for j in range(dim_in):
            acc = acc + x[j] * w["W1"][h][j]
        hid.append(max(0.0, acc))
    out = []
    for k in range(dim_out):
        acc = w["b2"][k]
        for h in range(dim_h):
            acc = acc + hid[h] * w["W2"][k][h]
        out.append(acc)
    return out


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaaaaaaaa",
    "",          # no trigrams -> pure-bias forward
    "ab",        # sub-trigram
    "mixed 123 punctuation!? and\nnewlines\ttabs",
    "unicode: café naïve 中文 да",
    "x" * 5000,
]


def test_trigram_cache_bounded(monkeypatch):
    """Unicode text has no small trigram vocab: the per-worker memo
    stops growing at TRI_CACHE_MAX, and the uncached misses hash to the
    same buckets, so the features are bit-identical to an unbounded
    memo's."""
    rng = random.Random(3)
    texts = ["".join(chr(rng.randrange(0x4E00, 0xA000))
                     for _ in range(30_000)) for _ in range(3)]
    capped = E.MLPFeaturizer()
    got = capped.features(texts)
    assert len(capped._tri_cache) <= 1 << 16

    monkeypatch.setattr(E, "TRI_CACHE_MAX", 1 << 62)
    unbounded = E.MLPFeaturizer()
    want = unbounded.features(texts)
    assert len(unbounded._tri_cache) > 1 << 16
    assert got.tobytes() == want.tobytes()


def test_numpy_matches_naive_mirror_bitwise():
    m = E.MLPFeaturizer()
    w = E.mlp_weights()
    got = m.embed(TEXTS)
    for r, t in enumerate(TEXTS):
        exp = _naive_embed(t, w)
        assert got[r].tolist() == exp, (r, t[:30])
    assert not np.isnan(got).any()


def test_weights_seed_stable_and_configurable():
    a, b = E.mlp_weights(seed=5), E.mlp_weights(seed=5)
    assert a == b
    c = E.mlp_weights(seed=6)
    assert c["W1"] != a["W1"]
    small = E.mlp_weights(seed=5, dim_in=8, dim_hidden=4, dim_out=2)
    assert len(small["W1"]) == 4 and len(small["W1"][0]) == 8
    assert len(small["W2"]) == 2 and len(small["b2"]) == 2


def test_singleton_one_init_per_config():
    before = E._MODEL_INITS
    m1 = E.get_mlp(seed=991)
    m2 = E.get_mlp(seed=991)
    assert m1 is m2 and E._MODEL_INITS == before + 1
    m3 = E.get_mlp(seed=992)
    assert m3 is not m1 and E._MODEL_INITS == before + 2


def test_embed_text_spark_equals_driver_model(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id LONG, text STRING"
    ).repartition(4)
    rows = {r["doc_id"]: r["emb"]
            for r in E.embed_text(df, "doc_id", "text").collect()}
    expect = E.MLPFeaturizer().embed(TEXTS)
    for i in range(len(TEXTS)):
        assert rows[i] == expect[i].tolist(), i


def test_embed_text_null_text(spark):
    df = spark.createDataFrame([(1, None), (2, "hello world")],
                               "doc_id LONG, text STRING")
    rows = {r["doc_id"]: r["emb"]
            for r in E.embed_text(df, "doc_id", "text").collect()}
    assert rows[1] == E.MLPFeaturizer().embed([""])[0].tolist()
    assert not any(np.isnan(v) for v in rows[2])


def test_sql_mirror_matches_numpy():
    """DuckDB replay of the forward pass == numpy, bit-for-bit, on a
    random-text corpus (not just the synth documents)."""
    rng = random.Random(77)
    alpha = "abcdefgh é中"
    texts = ["".join(rng.choice(alpha) for _ in range(rng.randrange(50)))
             for _ in range(60)]
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    sql = E.sql_embed_ctes("docs", "doc_id", "text") + \
        " SELECT doc_id, [e1,e2,e3,e4,e5,e6,e7,e8] AS emb FROM emb"
    got = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    expect = E.MLPFeaturizer().embed(texts)
    for i in range(len(texts)):
        assert got[i] == expect[i].tolist(), (i, texts[i])


def test_extract_features_real_model(spark):
    """multimodal.extract_features now runs the real MLP on decoded
    blob text: values equal the driver-side forward, rounded 4dp."""
    from ocr_spark.operators.multimodal import extract_features

    texts = ["some document body text", ""]
    df = spark.createDataFrame(
        [(i, t.encode()) for i, t in enumerate(texts)],
        "doc_id LONG, blob BINARY")
    out = extract_features(df, "doc_id", "blob").collect()
    assert len(out) == 2 * E.DIM_OUT
    expect = E.MLPFeaturizer().embed(texts)
    spark_round = {(r["doc_id"], r["dim"]): r["feat"] for r in out}
    for (i, dim), feat in spark_round.items():
        assert abs(feat - expect[i][dim - 1]) <= 5.0001e-5, (i, dim)
    # n_dims slice keeps leading dims only
    sliced = extract_features(df, "doc_id", "blob", n_dims=3).collect()
    assert {r["dim"] for r in sliced} == {1, 2, 3}
