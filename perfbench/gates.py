"""Correctness gates. Each returns a list of failure messages (empty when
the gate passes) and the measured error it checked, where there is one.
A failed gate fails the run; gates are never averaged."""

from __future__ import annotations

import math

import numpy as np

QS = (0.5, 0.95, 0.99, 0.999)


def exact_quantile(sorted_values: np.ndarray, q: float) -> float:
    """The item DDSketch's rank rule picks: index floor(q·(n−1))."""
    return float(sorted_values[int(math.floor(q * (sorted_values.size - 1)))])


def quantiles_within_alpha(estimates: dict, exact: dict, alpha: float,
                           what: str) -> tuple[list[str], float]:
    """`estimates`: {(group, q): value}; `exact`: {group: sorted values}.
    Every estimate must be within relative error α of the exact item (plus
    the 1e-6 absolute rounding the Catalyst plan applies)."""
    failures, worst = [], 0.0
    for group, values in exact.items():
        for q in QS:
            key = (group, q)
            if key not in estimates:
                failures.append(f"{what}: no estimate for group {group!r} q={q}")
                continue
            want = exact_quantile(values, q)
            err = abs(estimates[key] - want) / abs(want)
            worst = max(worst, err)
            if err > alpha + 1e-6 / abs(want) + 1e-12:
                failures.append(f"{what}: group {group!r} q={q} estimate "
                                f"{estimates[key]!r} vs exact {want!r} "
                                f"(rel err {err:.3g} > alpha {alpha})")
    return failures, worst


def hll_within_3se(estimates: dict, exact: dict, p: int,
                   what: str) -> tuple[list[str], float]:
    """HLL estimates within 3 standard errors (1.04/√m) of the exact
    distinct counts."""
    bound = 3 * 1.04 / math.sqrt(1 << p)
    failures, worst = [], 0.0
    for group, n in exact.items():
        if group not in estimates:
            failures.append(f"{what}: no estimate for group {group!r}")
            continue
        err = abs(estimates[group] - n) / n
        worst = max(worst, err)
        if err > bound:
            failures.append(f"{what}: group {group!r} estimate {estimates[group]:.1f} "
                            f"vs exact {n} (rel err {err:.3g} > {bound:.3g})")
    return failures, worst


def cms_never_under(cms, ids: np.ndarray, exact_counts: np.ndarray,
                    what: str) -> list[str]:
    got = np.asarray(cms.estimate(ids))
    under = np.flatnonzero(got < exact_counts[ids])
    return [f"{what}: CMS under-counts token {int(ids[i])}: "
            f"{int(got[i])} < {int(exact_counts[ids[i]])}" for i in under[:5]]


def bloom_no_false_negatives(bloom, present: np.ndarray, what: str) -> list[str]:
    hit = np.asarray(bloom.contains(present))
    missing = present[~hit]
    return [f"{what}: Bloom misses {missing.size} present tokens, "
            f"e.g. {missing[:5].tolist()}"] if missing.size else []


def identical_blobs(first: dict, other: dict, what: str) -> list[str]:
    """Final sketch blobs, keyed by (group, sketch name), byte for byte."""
    if first.keys() != other.keys():
        return [f"{what}: key sets differ ({len(first)} vs {len(other)} keys)"]
    diff = [k for k in first if first[k] != other[k]]
    return [f"{what}: {len(diff)} of {len(first)} blobs differ, e.g. {diff[0]!r}"] \
        if diff else []
