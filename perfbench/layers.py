"""Per-layer metrics of a traced run, derived from its spans.

A layer is named by the ``kats_spark`` module path of the public function
the benchmark calls (``models.fcst.forecast``), by ``plans.<group>`` for a
query_mix row group, or by ``plans.row.<row>`` for one query_mix row.
Metric names are ``<layer>.<quantity>``.  A quantity is the median over the
steady passes, except ``first_call_s``, ``first_action_s`` and
``py_boot_s``, which are read from the first pass, where the memos are
empty and the Python workers start.
"""

from __future__ import annotations

from collections import Counter
from statistics import median

from workloads import QUERY_MIX_GROUPS, QUERY_MIX_ROWS

_KERNEL = ("call_s", "action_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
           "py_in_mb", "py_run_s", "py_boot_s")
_JVM = ("call_s", "action_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
        "shuffle_write_mb", "spill_mb")
_SCAN = ("call_s", "action_s", "jobs", "tasks", "exec_cpu_s", "input_mb",
         "shuffle_write_mb")
_GROUP = ("call_s", "action_s", "first_call_s", "first_action_s", "jobs",
          "tasks", "exec_cpu_s", "gc_s", "shuffle_write_mb", "py_run_s")
_ROW = ("call_s", "action_s", "first_call_s")

LAYERS = [
    ("plans.queries.hourly_series", _SCAN),
    ("models.fcst.forecast", _KERNEL),
    ("operators.cusum.cusum_detect", _KERNEL),
    ("operators.outlier.outlier_detect", _JVM),
    ("operators.tsfeatures.kernel_features", _KERNEL),
    ("functions.rolling.z_score", _JVM),
    *[(f"plans.{g}", _GROUP) for g in QUERY_MIX_GROUPS],
    *[(f"plans.row.{r}", _ROW) for r in QUERY_MIX_ROWS],
    ("session.get_spark", ("call_s", "first_call_s")),
]
# whole-pass times, which run.py measures around each operation; they
# swing with the host's speed too much to be end-to-end metrics
RUN = [("run.first_pass_s", "s"), ("run.pass_s", "s"), ("run.cpu_s", "core-s")]
_FIRST_PASS = {"first_call_s": "call_s", "first_action_s": "action_s", "py_boot_s": "py_boot_s"}


def unit(quantity: str) -> str:
    if quantity.endswith("_s"):
        return "s"
    if quantity.endswith("_mb"):
        return "MB"
    return "count"


def names() -> list[tuple[str, str]]:
    return [(f"{layer}.{q}", unit(q)) for layer, qs in LAYERS for q in qs] + RUN


def _per_pass(spans: list[dict]) -> list[dict[str, Counter]]:
    """For each pass in order: layer -> quantity totals of that pass."""
    children: dict[int, list[dict]] = {}
    for rec in spans:
        children.setdefault(rec["parent"], []).append(rec)
    passes = [r for r in spans if r["name"].startswith("pass#")]
    out = []
    for p in passes:
        layers: dict[str, Counter] = {}
        for op in children.get(p["id"], ()):
            c = Counter(op.get("spark", {}))
            for part in children.get(op["id"], ()):
                c.update(part.get("spark", {}))
                kind = part["name"].rsplit(":", 1)[-1]  # call | action
                c[f"{kind}_s"] += part["end"] - part["start"]
            layers[op["name"]] = c
        for g, rows in QUERY_MIX_GROUPS.items():
            group = Counter()
            for r in rows:
                group.update(layers.get(f"plans.row.{r}", Counter()))
            if group:
                layers[f"plans.{g}"] = group
        out.append(layers)
    return out


def values(spans: list[dict]) -> dict[str, float]:
    passes = _per_pass(spans)
    first, steady = passes[0], passes[1:]
    setups = [r["end"] - r["start"] for r in spans if r["name"] == "session.get_spark"]
    out: dict[str, float] = {}
    for layer, qs in LAYERS:
        for q in qs:
            if layer == "session.get_spark":
                v = setups[0] if q == "first_call_s" else median(setups[1:])
            elif q in _FIRST_PASS:
                v = first.get(layer, Counter())[_FIRST_PASS[q]]
            else:
                v = median(p.get(layer, Counter())[q] for p in steady)
            out[f"{layer}.{q}"] = float(v)
    return out
