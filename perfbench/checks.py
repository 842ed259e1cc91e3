"""Untimed output checks.  Each check takes values already collected from
the engine and recomputes them in a single process (numpy, DuckDB); it
returns a list of failure messages, empty when the output is correct."""

from __future__ import annotations

import numpy as np

_EPS = 1e-8
# Spark rounds scores to 2 decimals; allow that plus float noise
_ROUND_TOL = 0.005 + 1e-6


def _ratio(num: np.ndarray, den: np.ndarray, allzero: np.ndarray) -> np.ndarray:
    safe = np.where(den < _EPS, 1.0, den)
    return np.where(allzero, 1.0, np.where(den < _EPS, 0.0, num / safe))


def fpr(stats: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(f1, p, r) for rows of ``(matchsum_x, matchsum_y, xlen, ylen)``,
    with the reference's zero guards."""
    a, b, c, d = (stats[..., i] for i in range(4))
    allzero = (a + b + c + d) == 0.0
    p = _ratio(a, c, allzero)
    r = _ratio(b, d, allzero)
    denom = p + r
    f1 = np.where(allzero, 1.0, np.where(denom < _EPS, 0.0, 2.0 * p * r / np.where(denom < _EPS, 1.0, denom)))
    return f1, p, r


def check_scores(
    stats: np.ndarray,
    pair_ids: list[str],
    micro: tuple[float, float, float],
    macro: tuple[float, float, float],
    self_pair_ids: list[str],
    n_pairs: int,
) -> list[str]:
    """``stats``: one ``(matchsum_x, matchsum_y, xlen, ylen)`` row per pair,
    in ``pair_ids`` order; ``micro``/``macro``: Spark's ``(f1, p, r)``."""
    errors: list[str] = []
    stats = np.asarray(stats, dtype=np.float64).reshape(-1, 4)
    if len(stats) != n_pairs or len(set(pair_ids)) != n_pairs:
        errors.append(f"expected {n_pairs} distinct pairs, got {len(stats)} rows")
        return errors
    want_micro = [100.0 * v for v in fpr(stats.sum(axis=0))]
    if any(abs(g - w) > _ROUND_TOL for g, w in zip(micro, want_micro)):
        errors.append(f"micro {tuple(micro)} != numpy {tuple(round(w, 4) for w in want_micro)}")
    want_macro = [100.0 * float(v.mean()) for v in fpr(stats)]
    if any(abs(g - w) > _ROUND_TOL for g, w in zip(macro, want_macro)):
        errors.append(f"macro {tuple(macro)} != numpy {tuple(round(w, 4) for w in want_macro)}")
    bound = np.minimum(stats[:, 2], stats[:, 3])
    over = int(((stats[:, 0] > bound + 1e-9) | (stats[:, 1] > bound + 1e-9)).sum())
    if over:
        errors.append(f"{over} pairs have matchsum > min(xlen, ylen)")
    row = {pid: i for i, pid in enumerate(pair_ids)}
    missing = [p for p in self_pair_ids if p not in row]
    if missing:
        errors.append(f"{len(missing)} self-pairs missing from the output")
    else:
        idx = [row[p] for p in self_pair_ids]
        f1 = fpr(stats[idx])[0]
        bad = int((f1 != 1.0).sum())
        if bad:
            errors.append(f"{bad} of {len(idx)} self-pairs score below 100")
    return errors


def check_interval(lo: float, hi: float, name: str) -> list[str]:
    if not (0.0 <= lo <= hi <= 100.0):
        return [f"{name} interval ({lo}, {hi}) is not ordered within [0, 100]"]
    return []


def component_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Connected components over the endpoints of the edge list
    (min-label propagation with pointer jumping)."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src):]
    label = np.arange(len(verts))
    while True:
        lo = np.minimum(label[u], label[v])
        new = label.copy()
        np.minimum.at(new, u, lo)
        np.minimum.at(new, v, lo)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return int(len(np.unique(label)))
        label = new


def triangle_total(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph, counted by DuckDB."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '1GB'")
        con.register("edges", pd.DataFrame({"src": src, "dst": dst}))
        return int(
            con.execute(
                """
                WITH e AS (
                  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM edges WHERE src <> dst)
                SELECT count(*) FROM e ab
                JOIN e bc ON ab.b = bc.a
                JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


def check_linkgraph(
    src: np.ndarray,
    dst: np.ndarray,
    rank_mass: float,
    n_components: int,
    n_triangles: int,
) -> list[str]:
    errors: list[str] = []
    if not abs(rank_mass - 1.0) <= 1e-9:
        errors.append(f"pagerank mass {rank_mass!r} differs from 1 by more than 1e-9")
    want_cc = component_count(src, dst)
    if n_components != want_cc:
        errors.append(f"components {n_components} != numpy {want_cc}")
    want_tri = triangle_total(src, dst)
    if n_triangles != want_tri:
        errors.append(f"triangles {n_triangles} != duckdb {want_tri}")
    return errors
