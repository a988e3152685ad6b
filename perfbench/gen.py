"""Deterministic inputs for the PIT benchmark (numpy + pyarrow, no DuckDB RANDOM()).

Shape of one generated set, for ``n`` labels and ``k`` features:

* ``labels.parquet``: ``n`` rows of (user_id, label_time, churned). Label times
  fall within one day (2024-01-01); entity ids cycle over
  ``max(1000, n // 5)`` entities, so (user_id, label_time) is unique.
* ``feature_<i>.parquet``: ``2n`` rows of (user_id, updated_at, val_<i>) with
  ``updated_at`` spread over the previous year (2023). Timestamps are drawn
  without replacement, so no (key, time) pair repeats and the default
  ``on_duplicate="error"`` check passes. Entities with
  ``user_id % HOLE_STRIDE == i % HOLE_STRIDE`` get no rows in feature ``i``,
  so every build leaves a known, non-empty set of labels unmatched.
* ``feature_acct.parquet`` (when ``k >= 2``): feature 1's rows with the key
  column named ``account_id``, for builds that need a second key mapping.

Sets are cached on disk by (shape, seed): the same seed gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LABEL_DAY = np.datetime64("2024-01-01T00:00:00", "us")
FEATURE_YEAR_START = np.datetime64("2023-01-01T00:00:00", "us")
YEAR_S = 365 * 86400
HOLE_STRIDE = 50


@dataclass(frozen=True)
class DataSet:
    n_labels: int
    n_features: int
    labels: str
    features: tuple[str, ...]
    acct_feature: str | None


def n_entities(n_labels: int) -> int:
    return max(1000, n_labels // 5)


def _labels_table(n: int, rng: np.random.Generator) -> pa.Table:
    i = np.arange(n, dtype=np.int64)
    offsets_us = (i * 86400 // n) * 1_000_000
    return pa.table(
        {
            "user_id": i % n_entities(n),
            "label_time": pa.array(LABEL_DAY + offsets_us.astype("timedelta64[us]")),
            "churned": rng.random(n) < 0.5,
        }
    )


def _feature_table(n: int, idx: int, rng: np.random.Generator, key: str) -> pa.Table:
    ents = n_entities(n)
    rows = 2 * n
    # Draw keys from the entities that are not holes for this feature.
    keep = np.flatnonzero(np.arange(ents) % HOLE_STRIDE != idx % HOLE_STRIDE)
    user = keep[rng.integers(0, keep.size, rows)].astype(np.int64)
    secs = rng.choice(YEAR_S, size=rows, replace=False).astype(np.int64)
    return pa.table(
        {
            key: user,
            "updated_at": pa.array(
                FEATURE_YEAR_START + (secs * 1_000_000).astype("timedelta64[us]")
            ),
            f"val_{idx}": rng.random(rows),
        }
    )


def generate(cache_dir: str, n_labels: int, n_features: int, seed: int) -> DataSet:
    """Generate (or reuse) the input set for (n_labels, n_features, seed)."""
    root = os.path.join(cache_dir, f"in_{n_labels}x{n_features}_s{seed}")
    labels = os.path.join(root, "labels.parquet")
    feats = tuple(os.path.join(root, f"feature_{i}.parquet") for i in range(n_features))
    acct_path = os.path.join(root, "feature_acct.parquet") if n_features >= 2 else None
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return DataSet(n_labels, n_features, labels, feats, acct_path)
    os.makedirs(root, exist_ok=True)
    # One child stream per table, so a table's bytes do not depend on which
    # other tables are generated.
    streams = np.random.SeedSequence([seed, n_labels, n_features]).spawn(n_features + 1)
    pq.write_table(_labels_table(n_labels, np.random.default_rng(streams[0])), labels)
    for i, path in enumerate(feats):
        t = _feature_table(n_labels, i, np.random.default_rng(streams[i + 1]), "user_id")
        pq.write_table(t, path)
        if i == 1:
            pq.write_table(t.rename_columns(["account_id", *t.column_names[1:]]), acct_path)
    open(done, "w").close()
    return DataSet(n_labels, n_features, labels, feats, acct_path)
