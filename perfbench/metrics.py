"""Derived metrics of one run, from the raw samples `perfbench.Runner` writes.

Kept apart from run.py so the arithmetic is unit-tested (test_metrics.py).
"""

import json
import math
import os
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# (name, unit) of every end-to-end metric, in report order
END_TO_END = [
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("query_geomean_s", "s"),
    ("cpu_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]

TAIL_MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(samples):
    """(value, percentile, beyond): the highest percentile with at least
    TAIL_MIN_BEYOND samples strictly above it. Over n sorted samples that
    is the (n - 10)-th, at percentile 100 * (n - 10) / n. With
    TAIL_MIN_BEYOND samples or fewer no percentile qualifies, and the
    maximum is returned with percentile 100 and 0 beyond."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_MIN_BEYOND:
        return s[-1], 100.0, 0
    return s[n - TAIL_MIN_BEYOND - 1], 100.0 * (n - TAIL_MIN_BEYOND) / n, TAIL_MIN_BEYOND


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def check_outputs(check, refs):
    """Names of checks whose fingerprint is missing (the query raised) or
    differs from its reference, or that have no reference. A check named
    `<query>@serve` is the query's serve path and must match the query's
    reference."""
    return sorted(q for q, fp in check.items()
                  if fp is None or refs.get(q.split("@")[0]) != fp)


def summarize(raw, refs, traced):
    """(result line, stamps) of one run.

    attempted counts every checked execution (the check pass and the
    serve checks), every execution of the untimed warm pass and every
    timed one. failed counts executions that raised plus checked outputs
    that did not match their reference.
    """
    passes = raw["passes"]
    wrong = check_outputs(raw["check"], refs)
    timed = [s for p in passes for s in p["samples"].values()]
    warm = list(raw["warm"]["samples"].values())
    attempted = len(raw["check"]) + len(warm) + len(timed)
    failed = len(wrong) + sum(1 for s in warm + timed if s < 0)
    ok = [s for s in timed if s >= 0]
    per_query = {}
    for p in passes:
        for q, s in p["samples"].items():
            if s >= 0:
                per_query.setdefault(q, []).append(s)
    stamps = {"passes": len(passes), "samples": len(ok), "wrong_outputs": wrong,
              "pass_s": [p["wall_s"] for p in passes],
              "warm_s": raw["warm"]["wall_s"],
              "jit_s": [p.get("jit_s") for p in passes],
              "errors": raw.get("errors", {}),
              "failed_frac": failed / attempted if attempted else 1.0}
    if traced:
        values = dict(raw["layers"])
        units = {}
    else:
        tail_v, tail_p, beyond = tail(ok) if ok else (float("nan"), None, 0)
        stamps.update({"tail_percentile": tail_p, "tail_beyond": beyond})
        values = {
            "pass_s": median([p["wall_s"] for p in passes]),
            "query_p50_s": median(ok) if ok else float("nan"),
            "query_tail_s": tail_v,
            "query_geomean_s": geomean([median(v) for v in per_query.values()])
            if per_query else float("nan"),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "setup_s": raw["setup_s"],
            "peak_rss_mb": raw["rss_peak_mb"],
        }
        units = dict(END_TO_END)
    metrics = {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
               for k, v in values.items()}
    result = {"correct": failed == 0 and bool(ok), "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, stamps


def layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_amp", "_skew")):
        return "ratio"
    return "count"


def load_refs(path):
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def save_refs(path, refs):
    with open(path, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
