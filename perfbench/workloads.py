"""The workloads: query mixes (pure, seeded) and the ops that run them.

A workload plays *cycles*. Each cycle holds every query shape of the
workload once, in an order and with parameters drawn from the workload
seed, so every run measures the same mix whatever its seed or length.

* ``dp_release`` -- a fresh ``Session`` per request and one finite-budget
  ``evaluate``, over the DP-core shapes of ``__spark_entry__`` plus
  keysets of 1.5 * 10^4 and 1.2 * 10^4 groups.
* ``pipeline_ops`` -- operator keys covering every operator module, at
  infinite budget, each result collected.
"""

from __future__ import annotations

import contextlib
import random
from dataclasses import dataclass, field
from typing import Any, Callable

from checks import Budget, Measure, check_budget, check_release, check_rows

RF = ["A", "N", "R"]
LS = ["F", "O"]

EPSILONS = [0.5, 1.0, 2.0]
RHOS = [0.125, 0.5, 2.0]
DELTA = 1e-6


def draw_budget(rng: random.Random, kinds=("pure", "approx", "zcdp")) -> Budget:
    kind = rng.choice(kinds)
    if kind == "zcdp":
        return Budget("zcdp", rng.choice(RHOS))
    return Budget(kind, rng.choice(EPSILONS), DELTA if kind == "approx" else 0.0)


def _cycle_rng(workload: str, seed: int, cycle: int) -> random.Random:
    return random.Random(f"{workload}:{seed}:{cycle}")


# ---------------------------------------------------------------------------
# dp_release

@dataclass(frozen=True)
class Shape:
    measures: tuple[Measure, ...]
    kinds: tuple[str, ...] = ("pure", "approx", "zcdp")
    subset: bool = False       # the shape selects groups: keys may be omitted
    spends_delta: bool = False  # ApproxDP delta is charged, not zeroed


def _m(col, sens=0.0, lo=None, hi=None):
    return Measure(col, sens, lo, hi)


#: ``__spark_entry__`` DP-core shapes run with a finite budget in place of
#: its infinite one; their exact answers are its own DuckDB oracles.
ENTRY_SHAPES: dict[str, Shape] = {
    "average_clamped": Shape((_m("avg_qty", lo=0.0, hi=50.0),)),
    "variance_clamped": Shape((_m("var_qty", lo=0.0, hi=600.25),)),
    "quantile_median": Shape((_m("med", lo=0.0, hi=50.0),)),
    # A bound that doubles or halves misses by far more than 5% of the range.
    "get_bounds": Shape((_m("l_quantity_lower_bound", lo=-128.0, hi=0.0),
                         _m("l_quantity_upper_bound", lo=0.0, hi=128.0))),
    "suppress": Shape((_m("count", 1),), subset=True),
    "ids_truncated_count": Shape((_m("count", 10),)),
    "public_join_count": Shape((_m("count", 1),)),
    "private_join_count": Shape((_m("count", 16),)),
    "groups_per_id_count": Shape((_m("count", 50),)),
    "flat_map_explode": Shape((_m("n_units", 3),)),
    "flat_map_by_id": Shape((_m("n_heavy_users", 1),)),
    "view_count": Shape((_m("count", 1),)),
    # partition_and_create hands the whole budget, delta included, to the
    # children; only evaluate zeroes an unused ApproxDP delta.
    "partition_split_count": Shape((_m("count", 1),), spends_delta=True),
}

#: Exact answers the benchmark supplies itself: the wide keysets are its own
#: shapes, and ``suppress`` is checked against every keyset group, because
#: noise can lift a group whose exact count is just under the threshold
#: over it (at sf0.01 each priority has about 3000 orders, the threshold).
_ORACLES = {
    "suppress": """
        SELECT o_orderpriority, count(*) AS count FROM orders GROUP BY 1""",
    "wide_orders_sum": """
        SELECT o.o_orderkey, coalesce(s.v, 0) AS qty
        FROM orders o LEFT JOIN (
          SELECT l_orderkey AS o_orderkey,
                 sum(least(greatest(l_quantity, 0), 50)) AS v
          FROM lineitem GROUP BY 1) s USING (o_orderkey)""",
    "wide_product_count": """
        WITH ks AS (
          SELECT p_partkey AS l_partkey, f.l_returnflag, f.l_linestatus
          FROM part CROSS JOIN (VALUES ('A', 'F'), ('A', 'O'), ('N', 'F'),
            ('N', 'O'), ('R', 'F'), ('R', 'O')) f(l_returnflag, l_linestatus))
        SELECT ks.*, CAST(coalesce(c.n, 0) AS BIGINT) AS count
        FROM ks LEFT JOIN (
          SELECT l_partkey, l_returnflag, l_linestatus, count(*) AS n
          FROM lineitem GROUP BY 1, 2, 3) c
        USING (l_partkey, l_returnflag, l_linestatus)""",
}

#: Shapes the benchmark builds itself: partition selection needs an
#: ApproxDP session, and the wide keysets come from public tables.
OWN_SHAPES: dict[str, Shape] = {
    "get_groups": Shape((), kinds=("approx",), subset=True, spends_delta=True),
    "auto_partition_count": Shape((_m("count", 1),), kinds=("approx",),
                                  subset=True, spends_delta=True),
    "wide_orders_sum": Shape((_m("qty", 50),)),
    "wide_product_count": Shape((_m("count", 1),)),
}

RELEASE_SHAPES = {**ENTRY_SHAPES, **OWN_SHAPES}


def release_plan(seed: int, cycle: int) -> list[tuple[str, Budget]]:
    rng = _cycle_rng("dp_release", seed, cycle)
    names = sorted(RELEASE_SHAPES)
    rng.shuffle(names)
    return [(n, draw_budget(rng, RELEASE_SHAPES[n].kinds)) for n in names]


# ---------------------------------------------------------------------------
# pipeline_ops

#: Operator keys and the module each one's time is charged to in the traced
#: run: a trainer, an ANN index, substring and MinHash dedup, k-means and
#: streaming state, with every operator module covered. The cycle is sized
#: to fit a run; the keys left out are listed in perfbench/README.md.
PIPELINE_KEYS: dict[str, str] = {
    "bpe_fertility": "text",
    "quality_train_stats": "text",
    "ann_ivfpq_index_topk": "similarity",
    "substring_dedup_stats": "dedup",
    "minhash_dedup": "dedup",
    "kmeans_cluster_stats": "clustering",
    "decode_image_png": "multimodal",
    "gopher_prep_pipeline": "pipeline",
    "sessionize_stats": "temporal",
    "robots_gate_stats": "robots",
    "warc_ingest_stats": "warc",
    "streaming_incremental_dedup": "streaming",
}

OPERATOR_MODULES = sorted(set(PIPELINE_KEYS.values()))


def pipeline_plan(seed: int, cycle: int) -> list[str]:
    keys = sorted(PIPELINE_KEYS)
    _cycle_rng("pipeline_ops", seed, cycle).shuffle(keys)
    return keys


# ---------------------------------------------------------------------------
# Execution

@dataclass
class Op:
    """One timed query.

    ``run`` is timed and returns what ``check`` needs; ``check`` runs after
    the timed phase and returns error strings. ``twin`` runs the same query
    at an infinite budget; only the traced run calls it, to time the noise
    stage.
    """

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] | None = None
    twin: Callable[[], Any] | None = None
    budget: Budget | None = None
    module: str | None = None
    measures: int = 0  # noisy columns per released row


@dataclass
class Env:
    spark: Any
    ta: Any
    entry: Any
    data_dir: str
    oracle: Callable[[str], Any]  # SQL -> pandas frame (DuckDB)
    tracer: Any = None
    built: list = field(default_factory=list)  # sessions built by a query


def install_build_hook(ta, env: Env) -> None:
    """Record every session ``Session.Builder.build`` returns in
    ``env.built``, so a release's budget can be checked even when the
    session is built inside ``__spark_entry__``."""
    build = ta.Session.Builder.build

    def recording_build(self):
        s = build(self)
        env.built.append(s)
        return s

    ta.Session.Builder.build = recording_build


@contextlib.contextmanager
def entry_budget(entry, budget):
    """Run ``__spark_entry__`` shapes with ``budget`` in place of their
    module-level infinite budget (their sessions and evaluate calls both
    read it)."""
    saved = entry.INF
    entry.INF = budget
    try:
        yield
    finally:
        entry.INF = saved


def _phase(env: Env, name: str):
    return env.tracer.phase(name) if env.tracer else contextlib.nullcontext()


def _release_check(env: Env, result, sql: str, shape: Shape, budget: Budget,
                   sessions: list) -> list[str]:
    exact = env.oracle(sql)
    errors = check_release(result, exact, list(shape.measures), budget,
                           subset=shape.subset)
    spent = budget if shape.spends_delta or budget.kind != "approx" else \
        Budget("approx", budget.value, 0.0)
    for s in sessions:
        errors += check_budget(s.remaining_privacy_budget, budget, [spent])
    return errors


class DpRelease:
    name = "dp_release"
    sf = 0.01
    tables = ["lineitem", "orders", "events", "customer", "part"]

    def __init__(self, env: Env, seed: int):
        self.env, self.seed = env, seed

    def _own(self, name: str, budget):
        env, ta = self.env, self.env.ta
        read = lambda t: env.entry._read(env.spark, env.data_dir, t)  # noqa: E731
        QB, KS = ta.QueryBuilder, ta.KeySet
        if name in ("get_groups", "auto_partition_count"):
            s = (ta.Session.Builder().with_privacy_budget(budget)
                 .with_private_dataframe("events", read("events"), ta.AddOneRow())
                 .build())
            if name == "get_groups":
                return s.evaluate(QB("events").get_groups(["event_type"]), budget)
            from tumult_analytics_spark.config import config

            with config.features.auto_partition_selection.enabled():
                q = QB("events").groupby(["event_type"]).count(name="count")
            return s.evaluate(q, budget)
        s = (ta.Session.Builder().with_privacy_budget(budget)
             .with_private_dataframe("lineitem", read("lineitem"), ta.AddOneRow())
             .build())
        li = QB("lineitem")
        if name == "wide_orders_sum":
            ks = KS.from_dataframe(read("orders").select("o_orderkey"))
            q = (li.rename({"l_orderkey": "o_orderkey"}).groupby(ks)
                 .sum("l_quantity", 0, 50, name="qty"))
        else:
            parts = read("part").selectExpr("p_partkey AS l_partkey")
            ks = KS.from_dataframe(parts) * KS.from_dict(
                {"l_returnflag": RF, "l_linestatus": LS})
            q = li.groupby(ks).count(name="count")
        return s.evaluate(q, budget)

    def op(self, name: str, budget: Budget) -> Op:
        env, shape = self.env, RELEASE_SHAPES[name]
        pkg_budget = budget.make(env.ta)

        def run():
            env.built.clear()
            if name in OWN_SHAPES:
                df = self._own(name, pkg_budget)
            else:
                with entry_budget(env.entry, pkg_budget):
                    df = getattr(env.entry, f"q_{name}")(env.spark, env.data_dir)
            with _phase(env, "execute"):
                return df.toPandas(), list(env.built)

        sql = _ORACLES.get(name) or env.entry.oracle_sql()[name]

        def check(handle):
            result, sessions = handle
            return _release_check(env, result, sql, shape, budget, sessions)

        return Op(name, run, check=check,
                  twin=lambda: self.infinite(name, budget).toPandas(),
                  budget=budget, measures=len(shape.measures))

    def infinite(self, name: str, budget: Budget):
        """The same query at an infinite budget of the same kind."""
        ta = self.env.ta
        inf = {"pure": ta.PureDPBudget(float("inf")),
               "approx": ta.ApproxDPBudget(float("inf"), 1),
               "zcdp": ta.RhoZCDPBudget(float("inf"))}[budget.kind]
        if name in OWN_SHAPES:
            return self._own(name, inf)
        with entry_budget(self.env.entry, inf):
            return getattr(self.env.entry, f"q_{name}")(self.env.spark,
                                                        self.env.data_dir)

    def cycle(self, i: int) -> list[Op]:
        return [self.op(n, b) for n, b in release_plan(self.seed, i)]

    def warmup(self) -> list[Op]:
        return [self.op("public_join_count", Budget("pure", 1.0))]


class PipelineOps:
    name = "pipeline_ops"
    sf = 0.01
    tables = ["documents", "embeddings", "events", "lineitem", "orders"]

    def __init__(self, env: Env, seed: int):
        self.env, self.seed = env, seed
        self.queries = env.entry.queries()
        self.oracles = env.entry.oracle_sql()

    def op(self, key: str) -> Op:
        env = self.env

        def run():
            with _phase(env, "build"):
                df = self.queries[key](env.spark, env.data_dir)
            # Collecting the (small) result materializes every column, as
            # the noop sink does, and yields the rows the check needs.
            with _phase(env, "execute"):
                return df.columns, [tuple(r) for r in df.collect()]

        def check(handle):
            res = env.oracle(self.oracles[key], frame=False)
            return check_rows(handle[1], handle[0], res[1], res[0])

        return Op(key, run, check=check, module=PIPELINE_KEYS[key])

    def cycle(self, i: int) -> list[Op]:
        return [self.op(k) for k in pipeline_plan(self.seed, i)]

    def warmup(self) -> list[Op]:
        # A key outside the mix, so no timed key starts warm while the rest
        # start cold; it runs a Python UDF, so set-up starts the Python
        # workers.
        return [Op("decode_image", lambda: self.queries["decode_image"](
            self.env.spark, self.env.data_dir).collect())]


WORKLOADS = {w.name: w for w in (DpRelease, PipelineOps)}
