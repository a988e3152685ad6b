"""Output checks, run outside the timed interval, with DuckDB as the oracle.

* ``expected_hash``: the DuckDB ``ASOF LEFT JOIN`` comparator (one as-of join
  per feature, then a lookback/staleness CASE), reduced to an
  order-independent (row count, sum of row hashes) pair.
* ``output_hash``: the same reduction over a written training set, so a
  build's output can be compared with the comparator without sorting.
* ``leak_violations``: the leak invariant re-checked from outside the
  library: every non-null feature value of an output row is traced back to
  its source row by (key, value), and that row's time must satisfy
  ``label_time - lookback <= feature_time < label_time - embargo``.
* ``plant_value_leaks`` / ``plant_time_leaks``: copies of a clean training
  set with a known number of corrupted rows, for audit and diff checks.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LABEL_COLS = ("user_id", "label_time", "churned")


@dataclass(frozen=True)
class FeatureSpec:
    """One feature as the oracle sees it: a source file and its semantics."""

    name: str
    path: str
    key: str
    value: str
    embargo_s: int = 0

    @property
    def column(self) -> str:
        return f"{self.name}__{self.value}"


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _row_hash_sql(relation: str, columns: list[str]) -> str:
    cols = ", ".join(f'"{c}"' for c in columns)
    return f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}"


def expected_sql(
    labels: str,
    features: list[FeatureSpec],
    lookback_s: int,
    staleness_s: int | None = None,
    times: bool = False,
) -> str:
    """SQL for the comparator's training set (label columns + one column per
    feature, named like the library's un-flattened output). With ``times``,
    each feature's column holds its matched source time instead, as
    ``<name>__feature_time``."""
    lower_s = min(lookback_s, staleness_s) if staleness_s else lookback_s
    ctes = [f"s0 AS (SELECT {', '.join(LABEL_COLS)} FROM read_parquet({_q(labels)}))"]
    carried = list(LABEL_COLS)
    for i, f in enumerate(features):
        prev = ", ".join(f"s.{c}" for c in carried)
        col, picked = (f"{f.name}__feature_time", "f.ft") if times else (f.column, "f.v")
        ctes.append(
            f"f{i} AS (SELECT {f.key} AS k, updated_at AS ft, {f.value} AS v "
            f"FROM read_parquet({_q(f.path)}))"
        )
        ctes.append(
            f"c{i} AS (SELECT *, label_time - INTERVAL ({f.embargo_s}) SECOND AS cut "
            f"FROM s{i})"
        )
        ctes.append(
            f"s{i + 1} AS (SELECT {prev}, CASE WHEN f.ft >= s.label_time - "
            f"INTERVAL ({lower_s}) SECOND THEN {picked} END AS \"{col}\" "
            f"FROM c{i} s ASOF LEFT JOIN f{i} f ON s.user_id = f.k AND s.cut > f.ft)"
        )
        carried.append(f'"{col}"')
    return f"WITH {', '.join(ctes)} SELECT * FROM s{len(features)}"


def expected_hash(con, labels, features, lookback_s, staleness_s=None) -> tuple[int, int]:
    sql = expected_sql(labels, features, lookback_s, staleness_s)
    cols = [*LABEL_COLS, *(f.column for f in features)]
    n, h = con.execute(_row_hash_sql(f"({sql})", cols)).fetchone()
    return int(n), int(h or 0)


def output_hash(con, path: str, features: list[FeatureSpec]) -> tuple[int, int]:
    cols = [*LABEL_COLS, *(f.column for f in features)]
    n, h = con.execute(_row_hash_sql(f"read_parquet({_q(path)})", cols)).fetchone()
    return int(n), int(h or 0)


def leak_violations(
    con,
    output: str,
    features: list[FeatureSpec],
    lookback_s: int,
    staleness_s: int | None = None,
) -> int:
    """Output values whose source row breaks the PIT invariant, or that no
    source row of that key carries."""
    lower_s = min(lookback_s, staleness_s) if staleness_s else lookback_s
    bad = 0
    for f in features:
        (n,) = con.execute(
            f"""
            SELECT count(*) FROM read_parquet({_q(output)}) o
            LEFT JOIN read_parquet({_q(f.path)}) s
              ON s.{f.key} = o.user_id AND s.{f.value} = o."{f.column}"
            WHERE o."{f.column}" IS NOT NULL AND (
                s.updated_at IS NULL
                OR s.updated_at >= o.label_time - INTERVAL ({f.embargo_s}) SECOND
                OR s.updated_at < o.label_time - INTERVAL ({lower_s}) SECOND)
            """
        ).fetchone()
        bad += int(n)
    return bad


def _planted_rows(n_rows: int, n_plant: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.sort(rng.choice(n_rows, size=n_plant, replace=False))


def plant_value_leaks(
    clean: pa.Table, columns: list[str], n_plant: int, seed: int
) -> tuple[pa.Table, dict[str, int]]:
    """Shift ``n_plant`` non-null values per column by +1.0 (a value no
    correct as-of join can produce). Returns the copy and the planted count
    per column."""
    out = clean
    planted: dict[str, int] = {}
    for j, col in enumerate(columns):
        arr = out.column(col).to_numpy(zero_copy_only=False)
        valid = np.flatnonzero(~np.isnan(arr))
        rows = valid[_planted_rows(valid.size, n_plant, seed + j)]
        arr = arr.copy()
        arr[rows] += 1.0
        mask = pc.is_null(clean.column(col))
        out = out.set_column(
            out.schema.get_field_index(col), col, pc.if_else(mask, None, pa.array(arr))
        )
        planted[col] = int(rows.size)
    return out, planted


def time_table(
    con, labels: str, features: list[FeatureSpec], lookback_s: int
) -> pa.Table:
    """The comparator's training set with each feature's matched source time
    as ``<name>__feature_time`` (null when unmatched)."""
    return con.execute(expected_sql(labels, features, lookback_s, times=True)).arrow()


def plant_time_leaks(
    table: pa.Table, columns: list[str], n_plant: int, seed: int
) -> tuple[pa.Table, dict[str, int]]:
    """Move ``n_plant`` matched feature times per column to one hour after
    the row's label time. Returns the copy and the planted count per column."""
    out = table
    planted: dict[str, int] = {}
    label_us = table.column("label_time").cast(pa.int64()).to_numpy()
    for j, col in enumerate(columns):
        ft = out.column(col)
        valid = np.flatnonzero(pc.is_valid(ft).to_numpy(zero_copy_only=False))
        rows = valid[_planted_rows(valid.size, n_plant, seed + 100 + j)]
        us = pc.fill_null(ft.cast(pa.int64()), 0).to_numpy(zero_copy_only=False).copy()
        us[rows] = label_us[rows] + 3_600_000_000
        arr = pa.array(us, type=pa.int64()).cast(ft.type)
        arr = pc.if_else(pc.is_null(ft), None, arr)
        out = out.set_column(out.schema.get_field_index(col), col, arr)
        planted[col] = int(rows.size)
    return out, planted


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
