"""From-scratch seeded text-embedding MLP (the REAL model behind S8).

Replaces the round-4 stub featurizer: a deterministic two-layer ReLU MLP
over hashed char-trigram frequencies, weights derived from a seed —
``seed -> weights -> batch matmul forward`` — run batch-at-a-time through
the per-executor lazy singleton. Reference analog: the once-loaded model
+ batch predict pattern (/root/reference/ocr_project/ocr_app/services/
func.py:34-60, hebrew-letter-segmentation.py:146); the graft's model is
from-scratch numpy because the container ships no ML framework, and a
seeded MLP is the smallest REAL network (actual FLOPs, actual learned-
weight shape) that stays verifiable.

Bit-identity contract with the DuckDB oracle (``sql_embed_ctes``):
  * every float op is + * / max — IEEE-754 correctly rounded, so equal
    inputs give equal outputs on both engines;
  * every reduction runs in a PINNED left-to-right fold order (ascending
    feature index, ascending hidden index) on both sides;
  * the nonlinearity is ReLU, NOT tanh/sigmoid — transcendentals are not
    correctly rounded and would differ across libm builds;
  * weights are 6-decimal seed-derived literals; ``repr()`` round-trip
    guarantees the SQL parser reconstructs the identical doubles;
  * the trigram -> feature bucket hash is the engine-portable md5-60bit
    (ocr_spark.operators.hashing).

Scale shape (100 TB): the forward pass is a narrow Arrow-batched pandas
UDF — no join, no shuffle; the model is a per-worker singleton (loaded
once per Python worker, reused across batches and tasks); per-doc cost
is one Counter pass over the text plus two small matmul-shaped folds.
Distinct-trigram -> bucket hashes are memoized per worker, up to
``TRI_CACHE_MAX`` entries (unicode web text has no small trigram vocab).
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIM_IN = 32
DIM_HIDDEN = 16
DIM_OUT = 8
SEED = 131
# Per-worker trigram memo bound: past it, misses are hashed, not stored.
TRI_CACHE_MAX = 1 << 16


def mlp_weights(seed: int = SEED, dim_in: int = DIM_IN,
                dim_hidden: int = DIM_HIDDEN, dim_out: int = DIM_OUT
                ) -> dict:
    """Seed -> weight dict {W1 (hidden,in), b1, W2 (out,hidden), b2}.

    Plain-Python ``random.Random(seed).gauss`` (the hyperplanes
    convention, similarity.hyperplanes) rounded to 6 decimals so the
    SQL literal and the numpy array hold the identical double.
    Generation order is row-major W1, then b1, then row-major W2, then
    b2 — part of the contract (a reorder silently changes the model).
    """
    rng = random.Random(seed)

    def g() -> float:
        return round(rng.gauss(0.0, 1.0), 6)

    return {
        "seed": seed, "dim_in": dim_in, "dim_hidden": dim_hidden,
        "dim_out": dim_out,
        "W1": [[g() for _ in range(dim_in)] for _ in range(dim_hidden)],
        "b1": [g() for _ in range(dim_hidden)],
        "W2": [[g() for _ in range(dim_hidden)] for _ in range(dim_out)],
        "b2": [g() for _ in range(dim_out)],
    }


def _bucket(tri: str, dim_in: int) -> int:
    return int(hashlib.md5(tri.encode("utf-8")).hexdigest()[:15],
               16) % dim_in


class MLPFeaturizer:
    """The heavy model artifact: construct once per worker (S8), then
    ``embed()`` batch-at-a-time. Deterministic: (seed, dims) fully
    determine the weights; the forward pass uses only IEEE-exact ops in
    pinned fold order (module docstring)."""

    def __init__(self, seed: int = SEED, dim_in: int = DIM_IN,
                 dim_hidden: int = DIM_HIDDEN,
                 dim_out: int = DIM_OUT) -> None:
        w = mlp_weights(seed, dim_in, dim_hidden, dim_out)
        self.seed, self.dim_in = seed, dim_in
        self.dim_hidden, self.dim_out = dim_hidden, dim_out
        self.W1 = np.array(w["W1"], dtype=np.float64)  # (hidden, in)
        self.b1 = np.array(w["b1"], dtype=np.float64)
        self.W2 = np.array(w["W2"], dtype=np.float64)  # (out, hidden)
        self.b2 = np.array(w["b2"], dtype=np.float64)
        self._tri_cache: dict[str, int] = {}
        self.n_batches = 0

    def features(self, texts: list) -> np.ndarray:
        """(n, dim_in) hashed char-trigram frequencies: x_j = (count of
        trigrams whose md5-60bit bucket == j) / max(n_trigrams, 1).
        Counts are exact ints, the division is one correctly-rounded op
        per element — bit-identical to the SQL mirror."""
        X = np.zeros((len(texts), self.dim_in), dtype=np.float64)
        cache = self._tri_cache
        for r, t in enumerate(texts):
            t = t if isinstance(t, str) else ""
            n_tri = len(t) - 2
            if n_tri <= 0:
                continue
            counts = np.zeros(self.dim_in, dtype=np.int64)
            for i in range(n_tri):
                tri = t[i:i + 3]
                j = cache.get(tri)
                if j is None:
                    j = _bucket(tri, self.dim_in)
                    if len(cache) < TRI_CACHE_MAX:
                        cache[tri] = j
                counts[j] += 1
            X[r] = counts / float(n_tri)
        return X

    def embed(self, texts: list) -> np.ndarray:
        """(n, dim_out) forward pass: relu(b1 + W1 x) then b2 + W2 h.

        The accumulations iterate ascending j / ascending h with
        vectorized per-step adds — elementwise this is the left-assoc
        chain ``((b + x1*w1) + x2*w2) + ...``, the exact order the SQL
        mirror's ``+`` chain evaluates, so doubles match bit-for-bit.
        (A single ``X @ W1.T`` would let BLAS reassociate the sum and
        break cross-engine identity — keep the explicit fold.)
        """
        X = self.features(texts)
        n = X.shape[0]
        acc = np.tile(self.b1, (n, 1))
        for j in range(self.dim_in):
            acc = acc + X[:, j:j + 1] * self.W1[:, j][None, :]
        H = np.maximum(acc, 0.0)
        out = np.tile(self.b2, (n, 1))
        for h in range(self.dim_hidden):
            out = out + H[:, h:h + 1] * self.W2[:, h][None, :]
        return out


# Per-executor lazy singletons keyed by model config (SURVEY.md S8):
# loaded at most once per Python worker process per config and reused
# across every Arrow batch and task (spark.python.worker.reuse) — the
# reference's CLI pattern (model loaded once, batch predict), NOT its
# web-path bug of reloading per request (func.py:202).
_MODELS: dict[tuple, MLPFeaturizer] = {}
_MODEL_INITS = 0


def get_mlp(seed: int = SEED, dim_in: int = DIM_IN,
            dim_hidden: int = DIM_HIDDEN,
            dim_out: int = DIM_OUT) -> MLPFeaturizer:
    global _MODEL_INITS
    key = (seed, dim_in, dim_hidden, dim_out)
    m = _MODELS.get(key)
    if m is None:
        m = MLPFeaturizer(*key)
        _MODELS[key] = m
        _MODEL_INITS += 1
    return m


def embed_text(df: DataFrame, id_col: str, text_col: str,
               seed: int = SEED, dim_in: int = DIM_IN,
               dim_hidden: int = DIM_HIDDEN,
               dim_out: int = DIM_OUT) -> DataFrame:
    """(id, emb array<double>) — the MLP forward over a text column.

    Narrow Arrow-batched pandas UDF through the per-worker singleton;
    emb is UNROUNDED (callers that need cross-engine value checks round
    at the query layer with F.round, the registry convention).
    """

    @F.pandas_udf("array<double>")
    def fwd(texts: pd.Series) -> pd.Series:
        model = get_mlp(seed, dim_in, dim_hidden, dim_out)
        model.n_batches += 1
        E = model.embed(texts.tolist())
        return pd.Series([row.tolist() for row in E], index=texts.index)

    return df.select(F.col(id_col), fwd(F.col(text_col)).alias("emb"))


# ---------------------------------------------------------------- SQL --

def _lit(v: float) -> str:
    """repr round-trips the double exactly; DuckDB parses to nearest."""
    return repr(float(v))


def sql_embed_ctes(table: str, id_col: str, text_col: str,
                   seed: int = SEED, dim_in: int = DIM_IN,
                   dim_hidden: int = DIM_HIDDEN,
                   dim_out: int = DIM_OUT) -> str:
    """DuckDB CTE chain ending in relation ``emb(id_col, e1..e{out})``
    that mirrors :meth:`MLPFeaturizer.embed` bit-for-bit (module
    docstring contract). Weights are inlined as 6-decimal literals."""
    w = mlp_weights(seed, dim_in, dim_hidden, dim_out)
    t = f"coalesce({text_col}, '')"
    tri = (
        f"tri AS (SELECT {id_col}, "
        f"unnest(range(1, greatest(length({t}) - 2, 0) + 1)) AS i, "
        f"{t} AS _t FROM {table})")
    hj = (
        f"hj AS (SELECT {id_col}, "
        f"CAST(('0x' || substr(md5(substr(_t, CAST(i AS INT), 3)), 1, 15))"
        f" AS BIGINT) % {dim_in} AS j FROM tri)")
    cnt = (f"cnt AS (SELECT {id_col}, j, count(*) AS c "
           f"FROM hj GROUP BY {id_col}, j)")
    grid = (
        f"grid AS (SELECT {id_col}, unnest(range(0, {dim_in})) AS jj, "
        f"CAST(greatest(length({t}) - 2, 1) AS DOUBLE) AS tn "
        f"FROM {table})")
    xv = (
        f"xv AS (SELECT g.{id_col}, "
        f"list(CAST(coalesce(c.c, 0) AS DOUBLE) / g.tn ORDER BY g.jj) "
        f"AS x FROM grid g LEFT JOIN cnt c "
        f"ON g.{id_col} = c.{id_col} AND g.jj = c.j GROUP BY g.{id_col})")
    hcols = []
    for h in range(dim_hidden):
        terms = " + ".join(
            f"x[{j + 1}]*{_lit(w['W1'][h][j])}" for j in range(dim_in))
        hcols.append(
            f"greatest(0.0, {_lit(w['b1'][h])} + {terms}) AS h{h + 1}")
    hid = (f"hid AS (SELECT {id_col}, " + ", ".join(hcols) + " FROM xv)")
    ecols = []
    for k in range(dim_out):
        terms = " + ".join(
            f"h{h + 1}*{_lit(w['W2'][k][h])}" for h in range(dim_hidden))
        ecols.append(f"{_lit(w['b2'][k])} + {terms} AS e{k + 1}")
    emb = (f"emb AS (SELECT {id_col}, " + ", ".join(ecols) + " FROM hid)")
    return "WITH " + ", ".join([tri, hj, cnt, grid, xv, hid, emb])


def sql_feature_rows(table: str, id_col: str, text_col: str,
                     n_dims: int = DIM_OUT, round_to: int = 4,
                     **kw) -> str:
    """Full DuckDB query mirroring multimodal.extract_features:
    (id, dim, feat) exploded rows, feat rounded to ``round_to``."""
    ctes = sql_embed_ctes(table, id_col, text_col, **kw)
    case = " ".join(f"WHEN {k + 1} THEN e{k + 1}" for k in range(n_dims))
    return (
        f"{ctes} SELECT {id_col}, CAST(j AS INT) AS dim, "
        f"round(CASE j {case} END, {round_to}) AS feat "
        f"FROM emb CROSS JOIN (SELECT unnest(range(1, {n_dims + 1})) "
        f"AS j)")
