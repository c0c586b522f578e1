"""Partial oracles for the three non-SQL-expressible queries (VERDICT
r8 #6): each rows-only registry entry gets a tolerance-checked
cross-estimate so the local parity record carries ``approx_match: true``
instead of ``hash_match: null``.

Each checker receives (spark result as pandas, a DuckDB connection with
the sf tables registered as views, sf_dir) and returns (ok, detail).
The checks are deliberately INDEPENDENT recomputations:

- ``approx_distinct_rollup``: DuckDB computes the EXACT per-month
  distinct count, the per-day-distinct sum, and the day count; the HLL
  estimate must land within ±5% of exact (lg_k=12 ⇒ ±~1.6% typical) and
  the two exact companion columns must match exactly.
- ``pca_projection``: DuckDB computes the centered total variance
  (trace of the covariance) from the raw embeddings and the empirical
  per-component variances/covariances from Spark's projected coords;
  a genuine top-k eigenbasis must satisfy non-increasing component
  variances, pairwise-uncorrelated components, and
  (k/d)·trace ≤ Σ var ≤ trace — all within rounding tolerance.
- ``compression_ratio_stats``: Python recomputes every document's zlib
  ratio with the SAME stdlib zlib at the same level (an exact
  independent replay; DuckDB only supplies the raw text) and compares
  per-doc values and flags.
"""

from __future__ import annotations

import math

import pandas as pd

_HLL_TOL = 0.05
_PCA_K, _PCA_DIM = 8, 64  # must match queries/linalg._q_pca
_ZLIB_LEVEL = 6  # must match textstats.compression_ratio default


def _check_hll_rollup(spdf: pd.DataFrame, con, sf_dir: str):
    exact = con.execute(
        """
        WITH d AS (SELECT date_trunc('day', ts) AS day,
                          count(DISTINCT user_id) AS dd
                   FROM events GROUP BY 1),
        m AS (SELECT strftime(date_trunc('month', day), '%Y-%m') AS month,
                     CAST(sum(dd) AS BIGINT) AS sum_daily,
                     CAST(count(*) AS BIGINT) AS n_days
              FROM d GROUP BY 1),
        x AS (SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS exact_d
              FROM events GROUP BY 1)
        SELECT m.month, exact_d, sum_daily, n_days FROM m JOIN x USING (month)
        """
    ).fetchdf()
    e = {r["month"]: r for _, r in exact.iterrows()}
    s = {r["month"]: r for _, r in spdf.iterrows()}
    if set(e) != set(s):
        return False, f"month sets differ: {sorted(s)} vs {sorted(e)}"
    worst = 0.0
    for mo, er in e.items():
        sr = s[mo]
        if int(sr["sum_daily_distinct"]) != int(er["sum_daily"]):
            return False, f"{mo}: sum_daily {sr['sum_daily_distinct']} != {er['sum_daily']}"
        if int(sr["n_days"]) != int(er["n_days"]):
            return False, f"{mo}: n_days {sr['n_days']} != {er['n_days']}"
        rel = abs(float(sr["est_distinct"]) - float(er["exact_d"])) / float(
            er["exact_d"]
        )
        worst = max(worst, rel)
        if rel > _HLL_TOL:
            return False, f"{mo}: HLL rel err {rel:.4f} > {_HLL_TOL}"
    return True, (
        f"{len(e)} months; exact companions equal; worst HLL rel err "
        f"{worst:.4f} <= {_HLL_TOL}"
    )


def _check_pca(spdf: pd.DataFrame, con, sf_dir: str):
    # centered total variance (trace of the covariance) from the RAW table
    trace = con.execute(
        f"""
        WITH p AS (SELECT i, CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS x
                   FROM embeddings,
                        (SELECT unnest(range({_PCA_DIM})) AS i))
        SELECT sum(v) AS trace FROM (
          SELECT sum(x * x) / count(*) - (sum(x) / count(*)) ^ 2 AS v
          FROM p GROUP BY i)
        """
    ).fetchone()[0]
    id_col = next(c for c in spdf.columns if c not in ("pc", "coord"))
    con.register("__pca_coords", spdf.rename(columns={id_col: "id"}))
    stats = con.execute(
        """
        SELECT pc, count(*) AS n, avg(coord) AS mu,
               sum(coord * coord) / count(*) - avg(coord) ^ 2 AS var
        FROM __pca_coords GROUP BY pc ORDER BY pc
        """
    ).fetchdf()
    cross = con.execute(
        """
        SELECT a.pc AS i, b.pc AS j,
               sum(a.coord * b.coord) / count(*)
                 - avg(a.coord) * avg(b.coord) AS cov
        FROM __pca_coords a JOIN __pca_coords b
          ON a.id = b.id AND a.pc < b.pc
        GROUP BY 1, 2
        """
    ).fetchdf()
    con.unregister("__pca_coords")
    if list(stats["pc"]) != list(range(_PCA_K)):
        return False, f"components present: {list(stats['pc'])}"
    variances = list(stats["var"])
    for a, b in zip(variances, variances[1:]):
        if b > a + 1e-9:
            return False, f"variance not non-increasing: {variances}"
    tot = sum(variances)
    if not (tot <= trace * (1 + 1e-6)):
        return False, f"sum var {tot:.6f} > trace {trace:.6f}"
    if not (tot >= trace * _PCA_K / _PCA_DIM - 1e-6):
        return False, f"top-{_PCA_K} var {tot:.6f} < (k/d) trace {trace * _PCA_K / _PCA_DIM:.6f}"
    worst = 0.0
    for _, r in cross.iterrows():
        vi = variances[int(r["i"])]
        vj = variances[int(r["j"])]
        denom = math.sqrt(max(vi * vj, 1e-30))
        corr = abs(float(r["cov"])) / denom
        worst = max(worst, corr)
        if corr > 1e-3:
            return False, f"components {int(r['i'])},{int(r['j'])} correlated: |corr| {corr:.2e}"
    # VERDICT r9 #5: the interval bound above accepts almost any
    # orthogonal projection; pin the variance sum to the TRUE top-k
    # eigensum, recomputed independently in numpy from the raw table.
    # Var(coord_j) is shift-invariant and the projection is a genuine
    # eigenbasis iff sum_j Var = sum of the k largest eigenvalues of the
    # (centered, 1/n) covariance — equality up to 6-dp coord rounding.
    import numpy as np

    raw = con.execute("SELECT embedding FROM embeddings").fetchdf()
    X = np.stack(raw["embedding"].to_numpy()).astype(np.float64)
    Xc = X - X.mean(axis=0)
    evals = np.linalg.eigvalsh((Xc.T @ Xc) / len(X))
    eigsum = float(np.sort(evals)[::-1][:_PCA_K].sum())
    rel = abs(tot - eigsum) / max(eigsum, 1e-30)
    if rel > 1e-3:
        return False, (
            f"sum var {tot:.6f} vs independent top-{_PCA_K} eigensum "
            f"{eigsum:.6f}: rel err {rel:.2e} > 1e-3"
        )
    return True, (
        f"k={_PCA_K} ordered variances, sum {tot:.6f} matches the "
        f"independent numpy top-{_PCA_K} eigensum {eigsum:.6f} "
        f"(rel err {rel:.2e} <= 1e-3) inside [(k/d)·trace, trace]="
        f"[{trace * _PCA_K / _PCA_DIM:.4f}, {trace:.4f}]; "
        f"worst |corr| {worst:.2e} <= 1e-3"
    )


def _check_compression(spdf: pd.DataFrame, con, sf_dir: str):
    import zlib

    raw = con.execute("SELECT doc_id, text FROM documents").fetchdf()
    s = spdf.set_index("doc_id").sort_index()
    if sorted(raw["doc_id"]) != list(s.index):
        return False, "doc_id sets differ"
    n_checked = 0
    for _, r in raw.iterrows():
        txt = r["text"] if r["text"] is not None else ""
        b = txt.encode("utf-8")
        row = s.loc[r["doc_id"]]
        if len(b) == 0:
            if not pd.isna(row["ratio"]):
                return False, f"doc {r['doc_id']}: blank doc has non-null ratio"
            # blank docs must also carry zero byte counts and clear flags
            if int(row["n_bytes"]) != 0 or int(row["z_bytes"]) != 0:
                return False, f"doc {r['doc_id']}: blank doc has non-zero bytes"
            if int(row["flag_repetitive"]) != 0 or int(row["flag_incompressible"]) != 0:
                return False, f"doc {r['doc_id']}: blank doc has a set flag"
            continue
        z = len(zlib.compress(b, _ZLIB_LEVEL))
        if int(row["n_bytes"]) != len(b) or int(row["z_bytes"]) != z:
            return False, (
                f"doc {r['doc_id']}: bytes ({row['n_bytes']},{row['z_bytes']}) "
                f"!= ({len(b)},{z})"
            )
        true_ratio = z / len(b)
        # Spark emits round(ratio, 6); flags threshold the UNROUNDED ratio
        if abs(float(row["ratio"]) - true_ratio) > 5.1e-7:
            return False, f"doc {r['doc_id']}: ratio {row['ratio']} != {true_ratio}"
        if int(row["flag_repetitive"]) != int(true_ratio < 0.3):
            return False, f"doc {r['doc_id']}: flag_repetitive mismatch"
        if int(row["flag_incompressible"]) != int(true_ratio > 0.9):
            return False, f"doc {r['doc_id']}: flag_incompressible mismatch"
        n_checked += 1
    return True, (
        f"independent zlib replay over {n_checked} non-blank docs "
        f"(level {_ZLIB_LEVEL}; ratio within 6-dp rounding, flags exact)"
    )


APPROX_CHECKS = {
    "approx_distinct_rollup": _check_hll_rollup,
    "pca_projection": _check_pca,
    "compression_ratio_stats": _check_compression,
}
