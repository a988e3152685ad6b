"""The three workloads: what each one sets up, times and checks.

Every timed operation is one public library call, timed alone. Its output
check runs after the timed loop, so checks never count in a timing; a call
that raises or fails its check counts as failed.

* ``build_wide``: one build of several single-column features under one key,
  the workload with the most as-of kernel work per call. At the sizes a run
  can afford, about a third of its wall is still driver work.
* ``build_small``: a fixed cycle of small build variants (one feature;
  embargo + staleness; two key mappings; a Store-attached build and its
  cache-hit repeat; train/test splits). Driver work is a larger share of
  the wall than on build_wide.
* ``audit_read``: audit rebuild-and-compare, ``audit.temporal``, ``diff`` and
  ``explain`` over a training set built during set-up, with planted leaks.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

import gen
import oracle
import sparkstat
from oracle import FeatureSpec

LOOKBACK = "365d"
LOOKBACK_S = 365 * 86400
DAY_S = 86400
N_PLANT = 40
SPLITS = {
    "train": ("2024-01-01 00:00:00", "2024-01-01 12:00:00"),
    "test": ("2024-01-01 12:00:00", "2024-01-02 00:00:00"),
}


@dataclass
class Op:
    kind: str
    variant: str
    wall_s: float
    rows: int
    traced: bool
    check: Callable[[], str | None] | None = None
    error: str | None = None
    output: str | None = None
    result: Any = None
    span: sparkstat.Span | None = None


@dataclass
class BuildSpec:
    """One build variant: its features (library and oracle views) and args."""

    variant: str
    features: list
    specs: list[FeatureSpec]
    staleness_s: int | None = None
    store: bool = False
    splits: bool = False


class Context:
    """Session, inputs and bookkeeping shared by a run's operations."""

    def __init__(self, tf, spark, work: str, data: gen.DataSet, seed: int, tracer):
        self.tf, self.spark, self.work, self.data, self.seed = tf, spark, work, data, seed
        self.tracer = tracer
        self.spans: list[sparkstat.Span] = []
        self.con = oracle.connect(os.path.join(work, "duckdb_tmp"))
        self.labels = tf.Labels(
            path=data.labels, keys="user_id", label_time="label_time", target="churned"
        )
        self._n_out = 0
        self._expected: dict[str, tuple[int, int]] = {}

    def out_path(self, stem: str) -> str:
        self._n_out += 1
        return os.path.join(self.work, "out", f"{stem}_{self._n_out}.parquet")

    def feature(self, i: int, embargo: str | None = None, acct: bool = False):
        tf = self.tf
        if acct:
            src = tf.Source(self.data.acct_feature, keys="account_id", timestamp="updated_at")
            feat = tf.Feature(
                src,
                columns=["val_1"],
                name="acct1",
                embargo=embargo,
                key_mapping={"user_id": "account_id"},
            )
            spec = FeatureSpec("acct1", self.data.acct_feature, "account_id", "val_1")
            return feat, spec
        src = tf.Source(self.data.features[i], keys="user_id", timestamp="updated_at")
        feat = tf.Feature(src, columns=[f"val_{i}"], name=f"f{i}", embargo=embargo)
        emb_s = DAY_S if embargo == "1d" else 0
        return feat, FeatureSpec(f"f{i}", self.data.features[i], "user_id", f"val_{i}", emb_s)

    def build_spec(self, variant: str, idx: list[int], **kw) -> BuildSpec:
        embargo = kw.pop("embargo", None)
        acct = kw.pop("acct", False)
        pairs = [self.feature(i, embargo) for i in idx]
        if acct:
            pairs.append(self.feature(1, embargo, acct=True))
        return BuildSpec(variant, [p[0] for p in pairs], [p[1] for p in pairs], **kw)

    def expected(self, spec: BuildSpec) -> tuple[int, int]:
        if spec.variant not in self._expected:
            self._expected[spec.variant] = oracle.expected_hash(
                self.con, self.data.labels, spec.specs, LOOKBACK_S, spec.staleness_s
            )
        return self._expected[spec.variant]

    def timed(
        self,
        kind: str,
        variant: str,
        traced: bool,
        call: Callable[[], Any],
        rows: Callable[[Any], int],
        check: Callable[[Any], str | None],
    ) -> Op:
        """Run one library call, timed (and traced when asked). The check is
        bound to the call's result; the runner calls it after the loop."""
        result = None
        error = None
        trace = sparkstat.OpTrace(self.tracer, self.spans, kind) if traced else None
        if trace:
            trace.__enter__()
        t0 = time.perf_counter()
        try:
            result = call()
        except Exception:  # a failed operation is a result, not a crash
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        span = None
        if trace:
            trace.__exit__(None, None, None)
            span = self.spans[-1]
        if error:
            print(f"[perfbench] {kind}/{variant} raised:\n{error}", file=sys.stderr)
            return Op(kind, variant, wall, 0, traced, None, error, span=span)
        return Op(kind, variant, wall, rows(result), traced, lambda: check(result),
                  result=result, span=span)

    # -- builds ---------------------------------------------------------

    def build(self, spec: BuildSpec, traced: bool, output: str | None = None,
              store_dir: str | None = None, kind: str = "build") -> Op:
        tf = self.tf
        out = output or self.out_path(spec.variant)
        kwargs: dict[str, Any] = {}
        if spec.staleness_s:
            kwargs["max_staleness"] = f"{spec.staleness_s // DAY_S}d"
        if spec.splits:
            kwargs["splits"] = SPLITS
        if store_dir:
            kwargs["store"] = tf.Store(store_dir)

        def call():
            return tf.build(
                self.labels, spec.features, out, max_lookback=LOOKBACK,
                spark=self.spark, **kwargs,
            )

        op = self.timed(
            kind, spec.variant, traced, call,
            lambda r: r.stats.row_count,
            lambda r: self.check_build(spec, r, out),
        )
        op.output = out
        return op

    def check_build(self, spec: BuildSpec, res, out: str) -> str | None:
        n = self.data.n_labels
        if res.stats.row_count != n:
            return f"row_count {res.stats.row_count} != {n}"
        if not res.validate():
            return "validate() is false"
        got = oracle.output_hash(self.con, out, spec.specs)
        if got != self.expected(spec):
            return f"output hash {got} != comparator {self.expected(spec)}"
        bad = oracle.leak_violations(self.con, out, spec.specs, LOOKBACK_S, spec.staleness_s)
        if bad:
            return f"{bad} values break the leak invariant"
        if spec.splits:
            split_rows = sum(pq.read_metadata(str(p)).num_rows for p in res.splits.values())
            if split_rows != n:
                return f"split rows {split_rows} != {n}"
        return None


# -- audit inputs -----------------------------------------------------------


@dataclass
class AuditSet:
    clean: str
    leaky: str
    times: str
    features: list
    specs: list[FeatureSpec]
    planted_values: dict[str, int]
    planted_times: dict[str, int]


def prepare_audit(ctx: Context, spec: BuildSpec, clean: str) -> AuditSet:
    """Planted-leak copies of the clean training set at ``clean``."""
    root = os.path.join(ctx.work, "audit")
    os.makedirs(root, exist_ok=True)
    table = pq.read_table(clean)
    value_cols = [s.column for s in spec.specs[1::2]]
    leaky, planted_values = oracle.plant_value_leaks(table, value_cols, N_PLANT, ctx.seed)
    times = oracle.time_table(ctx.con, ctx.data.labels, spec.specs, LOOKBACK_S)
    time_cols = [f"{s.name}__feature_time" for s in spec.specs[::2]]
    times, planted_times = oracle.plant_time_leaks(times, time_cols, N_PLANT, ctx.seed)
    return AuditSet(
        clean,
        oracle.write(leaky, os.path.join(root, "leaky.parquet")),
        oracle.write(times, os.path.join(root, "times.parquet")),
        spec.features,
        spec.specs,
        planted_values,
        planted_times,
    )


def audit_ops(ctx: Context, a: AuditSet, traced: bool, kinds=None) -> list[Op]:
    """One round of the read-side calls over ``a`` (all four by default)."""
    tf, n = ctx.tf, ctx.data.n_labels
    value_owner = {s.column: s.name for s in a.specs}
    ft_cols = {s.name: f"{s.name}__feature_time" for s in a.specs}
    ops = []

    def check_rebuild(rep):
        want = {value_owner[c]: k for c, k in a.planted_values.items()}
        got = {f: d.leaky_row_count for f, d in rep.features.items() if not d.clean}
        return None if got == want else f"audit found {got}, planted {want}"

    def check_temporal(rep):
        want = {name: a.planted_times[col] for name, col in ft_cols.items()
                if col in a.planted_times}
        got = {f: d.leaky_row_count for f, d in rep.features.items() if not d.clean}
        return None if got == want else f"audit.temporal found {got}, planted {want}"

    def check_diff(res):
        got = {c: v["changed_count"] for c, v in res.value_changes.items()}
        if res.matched_rows != n:
            return f"diff matched {res.matched_rows} rows, want {n}"
        return None if got == a.planted_values else f"diff found {got}, planted {a.planted_values}"

    def check_explain(res):
        if res.label_count != n or len(res.plan) != len(a.features):
            return f"explain saw {res.label_count} labels, {len(res.plan)} features"
        return None

    calls = {
        "audit_rebuild": (
            lambda: tf.audit(a.leaky, a.features, keys="user_id", label_time="label_time",
                             max_lookback=LOOKBACK, spark=ctx.spark),
            check_rebuild,
        ),
        "audit_temporal": (
            lambda: tf.audit.temporal(a.times, ft_cols, "label_time", spark=ctx.spark),
            check_temporal,
        ),
        "diff": (
            lambda: tf.diff(a.clean, a.leaky, keys="user_id", label_time="label_time",
                            spark=ctx.spark),
            check_diff,
        ),
        "explain": (
            lambda: tf.explain(ctx.labels, a.features, max_lookback=LOOKBACK, spark=ctx.spark),
            check_explain,
        ),
    }
    for kind in kinds or calls:
        call, check = calls[kind]
        ops.append(ctx.timed(kind, kind, traced, call, lambda _r: n, check))
    return ops


# -- workloads --------------------------------------------------------------


Step = Callable[[bool], list[Op]]


class Workload:
    """Set-up, then a fixed cycle of steps; a step is one library call (two
    for a Store build and its cache-hit repeat) and takes ``traced``."""

    ops_kinds: tuple[str, ...] = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self) -> None:
        """Untimed preparation that users pay once (counted in setup_s)."""

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def main_spec(self) -> BuildSpec:
        """The build the layer probes use: features under one key, no
        staleness, so audit rebuilds of its output compare like for like."""
        raise NotImplementedError


class BuildWide(Workload):
    ops_kinds = ("build",)

    def main_spec(self) -> BuildSpec:
        return self.ctx.build_spec("wide", list(range(self.ctx.data.n_features)))

    def steps(self) -> list[Step]:
        spec = self.main_spec()
        return [lambda traced: [self.ctx.build(spec, traced)]]


class BuildSmall(Workload):
    ops_kinds = ("build",)

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        c = ctx
        self.variants = [
            c.build_spec("one_feature", [0]),
            c.build_spec("embargo_staleness", [0, 1, 2], embargo="1d",
                         staleness_s=30 * DAY_S),
            c.build_spec("two_key_mappings", [0], acct=True),
            c.build_spec("store", [0, 1], store=True),
            c.build_spec("splits", [0], splits=True),
        ]
        self._n_store = 0

    def main_spec(self) -> BuildSpec:
        return self.variants[3]  # the Store variant: two features, one key

    def coverage(self) -> dict[str, list[int]]:
        """Matched-label count per feature for every variant, by the
        comparator; each must be above 0 and below the label count."""
        out = {}
        for v in self.variants:
            sql = oracle.expected_sql(self.ctx.data.labels, v.specs, LOOKBACK_S, v.staleness_s)
            cols = ", ".join(f'count("{s.column}")' for s in v.specs)
            out[v.variant] = list(self.ctx.con.execute(f"SELECT {cols} FROM ({sql})").fetchone())
        return out

    def store_pair(self, spec: BuildSpec, traced: bool) -> list[Op]:
        """A build on a fresh Store, then the same call again (a cache hit)."""
        self._n_store += 1
        store_dir = os.path.join(self.ctx.work, "stores", f"s{self._n_store}")
        out = self.ctx.out_path("store")
        fresh = self.ctx.build(spec, traced, out, store_dir)
        hit = self.ctx.build(spec, traced, out, store_dir)
        hit.variant = "store_hit"
        return [fresh, hit]

    def steps(self) -> list[Step]:
        def step(v: BuildSpec) -> Step:
            if v.store:
                return lambda traced: self.store_pair(v, traced)
            return lambda traced: [self.ctx.build(v, traced)]

        return [step(v) for v in self.variants]


class AuditRead(Workload):
    ops_kinds = ("audit_rebuild", "audit_temporal", "diff", "explain")

    def main_spec(self) -> BuildSpec:
        return self.ctx.build_spec("audit_set", list(range(self.ctx.data.n_features)))

    def setup(self) -> None:
        spec = self.main_spec()
        clean = os.path.join(self.ctx.work, "audit_clean.parquet")
        op = self.ctx.build(spec, traced=False, output=clean)
        if op.error or (op.check and op.check()):
            raise RuntimeError(f"audit_read set-up build failed: {op.error or op.check()}")
        self.audit = prepare_audit(self.ctx, spec, clean)

    def steps(self) -> list[Step]:
        return [
            (lambda traced, kind=kind: audit_ops(self.ctx, self.audit, traced, [kind]))
            for kind in self.ops_kinds
        ]


WORKLOADS: dict[str, type[Workload]] = {
    "build_wide": BuildWide,
    "build_small": BuildSmall,
    "audit_read": AuditRead,
}
