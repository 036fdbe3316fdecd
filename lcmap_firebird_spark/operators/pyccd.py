"""pyccd-shaped multi-band change detection — the reference's U3 leg
with its exact output schema.

Reference: ccdc/pyccd.py — `detect()` runs lcmap-pyccd over one
pixel's 8-band time series (:151-168), `rdd()` flatMaps it
(:171-183), and `format()` shapes each change model into the
40-field dict (:106-148) with ordinal→ISO date rendering
(:113-115) and the sentinel default segment when no model is found
(:99-103, via `default()`).

Spark-native form: the input is already dense-wide (one row per
pixel, arrays aligned to `dates` — ccdc/timeseries.py:33-45), so
detection is a pure MAP: `mapInPandas`, one pixel row in → N segment
rows out, ZERO shuffles. The reference's flatMap shape, kept — but
visible to Catalyst and Arrow-batched.

Model fidelity (round 2): per-band fits are LASSO over the harmonic
basis — the model family lcmap-pyccd actually uses (its lasso model
wraps sklearn `linear_model.Lasso` fitted on the same
intercept/trend/annual-harmonic design) — implemented here as plain
numpy coordinate descent with soft-thresholding (unpenalized,
centered intercept), so no sklearn dependency reaches the executors.
All 7 bands are fitted at once over the (window × 7) band matrix:
each coordinate update is one 7-band vector operation in the same
sweep order, and each band stops on its own at `LASSO_TOL` — the
per-band result of seven one-band fits, for one call's overhead
(batched fused operators over per-column loops; Odyssey, VLDB 2023;
FuseME, SIGMOD 2022). A Tmask-style robust iteration screens
outliers before the final fit: observations whose residual exceeds
`ROBUST_T`·rmse are dropped once and the model refit on the inliers
(pyccd's Tmask screens with robust thresholds before fitting, same
intent) — a 0/1 inlier-weight matrix, so each band keeps its own
inlier set. Break when the
cross-band mean normalized residual of `peek` consecutive clear
observations exceeds `chi` (pyccd's consecutive-observation test,
aggregated across bands). Schema, masking, and the sentinel/date
SHAPE follow ccdc/pyccd.py:39-148, with two deliberate deviations:
the sentinel writes chprob=0.0 and curqa=<clear-obs count> where the
reference's default()/format() leaves both NULL (typed values beat
absent keys for SQL consumers), and dates/mask arrays are ASCENDING
time order with ISO dates rendered alongside ordinals — fixing the
reference's string-vs-int comparison bug (SURVEY §7.5) rather than
replicating its delivered-DESC order. Pinned by tests/test_pyccd.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import segment_schema
from ..worker import drop_zip_finders
from .segmentation import _iso

# band-array column → reference 2-letter prefix (ccdc/pyccd.py:39-81)
BAND_MAP = {
    "blues": "bl",
    "greens": "gr",
    "reds": "re",
    "nirs": "ni",
    "swir1s": "s1",
    "swir2s": "s2",
    "thermals": "th",
}

# clear-observation PIXELQA codes (reference fixtures use 66/322 as
# clear, 1 as fill — ccdc/timeseries.py:104-115, FIXTURES.md §2)
CLEAR_QA = frozenset({0, 66, 68, 322, 324})

ANNUAL_DAYS = 365.25


def _design(ts: np.ndarray, harmonics: int) -> np.ndarray:
    """CCDC design matrix: intercept, trend, k annual harmonic pairs
    (lcmap-pyccd fits Lasso over exactly this basis; OLS here)."""
    cols = [np.ones_like(ts), ts]
    for j in range(1, harmonics + 1):
        w = 2.0 * np.pi * j / ANNUAL_DAYS
        cols.append(np.sin(w * ts))
        cols.append(np.cos(w * ts))
    return np.column_stack(cols)


# lcmap-pyccd's lasso model regularization weight (its lasso module
# builds sklearn Lasso with alpha=1 over this same design); iteration
# caps keep the coordinate descent deterministic.
LASSO_ALPHA = 1.0
LASSO_MAX_ITER = 100
LASSO_TOL = 1e-7
# Tmask-style robust screen: drop observations beyond T·rmse once,
# refit on inliers (pyccd screens outliers before the final fit).
ROBUST_T = 4.0


def _lasso_cd(
    X: np.ndarray,
    Y: np.ndarray,
    W: np.ndarray,
    alpha: float,
    max_iter: int = LASSO_MAX_ITER,
    tol: float = LASSO_TOL,
) -> np.ndarray:
    """Coordinate-descent Lasso over a band matrix, sklearn objective
    (1/2n)·||y − Xβ||² + α·||β₁..||₁ per band with the intercept
    (column 0) unpenalized via centering. `Y` is (n × m), one column
    per band; `W` is its (n × m) 0/1 inlier weights, so each band
    centres and fits over its own rows. Every coordinate update is one
    m-band vector operation; each band stops on its own at `tol` (a
    converged band's coefficients freeze while the rest sweep on).
    Deterministic: fixed sweep order, fixed tolerance, no RNG.
    Returns beta (p × m)."""
    n_w = W.sum(axis=0)
    Xc = X[:, 1:]
    xm = (Xc.T @ W) / n_w  # (p−1) × m per-band feature means
    ym = (W * Y).sum(axis=0) / n_w
    Xz = (Xc.T[:, :, None] - xm[:, None, :]) * W  # (p−1) × n × m
    r = (Y - ym) * W
    z = (Xz * Xz).sum(axis=1) / n_w  # per-feature, per-band curvature
    z_div = np.where(z > 0.0, z, np.inf)  # a flat feature stays at 0
    b = np.zeros_like(z)
    live = np.ones(Y.shape[1], dtype=bool)
    for _ in range(max_iter):
        delta = np.zeros(Y.shape[1])
        for j in range(len(b)):
            rho = (Xz[j] * r).sum(axis=0) / n_w + z[j] * b[j]
            bj = np.sign(rho) * np.maximum(np.abs(rho) - alpha, 0.0) / z_div[j]
            bj = np.where(live & (bj != b[j]), bj, b[j])
            step = b[j] - bj
            r += Xz[j] * step
            delta = np.maximum(delta, np.abs(step))
            b[j] = bj
        live &= delta >= tol
        if not live.any():
            break
    return np.vstack([ym - (xm * b).sum(axis=0), b])


def _solve(X: np.ndarray, Y: np.ndarray, W: np.ndarray, alpha: float) -> np.ndarray:
    """Per-band fit of `Y` on `X` over the rows `W` weights in;
    `alpha=0` is exact OLS (one pseudo-inverse per band, outlier rows
    zeroed) — the round-1 behavior, kept for comparison."""
    if alpha > 0.0:
        return _lasso_cd(X, Y, W, alpha)
    Xw = W.T[:, :, None] * X  # m × n × p
    return (np.linalg.pinv(Xw) @ (W * Y).T[:, :, None])[:, :, 0].T


def _rmse(X, Y, W, beta) -> np.ndarray:
    """Per-band rmse over the weighted rows, n−p dof."""
    resid = (Y - X @ beta) * W
    dof = np.maximum(W.sum(axis=0) - X.shape[1], 1.0)
    return np.sqrt((resid * resid).sum(axis=0) / dof)


def _fit(
    ts: np.ndarray,
    vs: np.ndarray,
    harmonics: int = 0,
    alpha: float = LASSO_ALPHA,
    robust: bool = True,
) -> tuple[np.ndarray, np.ndarray | float]:
    """Lasso fit of every band over the harmonic basis at once, with
    one Tmask-style robust pass → (beta, rmse). `vs` is the
    (window × bands) matrix → beta (p × bands), rmse (bands,); a 1-D
    `vs` is the one-band case → beta (p,), rmse float.
    beta[0]=intercept, beta[1]=trend slope, beta[2:]=harmonic terms;
    rmse uses n−p dof (p = 2+2k params). The robust pass refits each
    band whose screen dropped something on its own inliers (a 0/1
    weight column), so the bands keep separate inlier sets. A window
    too short or too flat for the basis gets its mean (n−1 dof)."""
    Y = vs[:, None] if vs.ndim == 1 else vs
    n, m = Y.shape
    p = 2 + 2 * harmonics
    beta = np.zeros((p, m))
    rmse = np.zeros(m)
    if n < p or np.ptp(ts) == 0.0:
        if n:
            beta[0] = Y.mean(axis=0)
            resid = Y - beta[0]
            rmse = np.sqrt((resid * resid).sum(axis=0) / max(n - 1, 1))
    else:
        X = _design(ts, harmonics)
        W = np.ones_like(Y)
        beta = _solve(X, Y, W, alpha)
        rmse = _rmse(X, Y, W, beta)
        if robust:
            W = (np.abs(Y - X @ beta) <= ROBUST_T * rmse).astype("float64")
            n_in = W.sum(axis=0)
            # something to drop, enough to refit
            redo = (rmse > 0.0) & (n_in >= p + 1) & (n_in < n)
            if redo.any():
                beta[:, redo] = _solve(X, Y[:, redo], W[:, redo], alpha)
                rmse[redo] = _rmse(X, Y[:, redo], W[:, redo], beta[:, redo])
    if vs.ndim == 1:
        return beta[:, 0], float(rmse[0])
    return beta, rmse


def _predict(ts: np.ndarray, beta: np.ndarray, harmonics: int) -> np.ndarray:
    return _design(ts, harmonics) @ beta


def _segment_row(
    keys: dict,
    ts: np.ndarray,
    bands: np.ndarray,
    start: int,
    end: int,
    bday: int | None,
    chprob: float,
    peek_slice: slice | None,
    all_dates: np.ndarray,
    mask: np.ndarray,
    harmonics: int = 0,
    fits: tuple[np.ndarray, np.ndarray] | None = None,
) -> dict:
    """One 40-field segment dict (pyccd.format, ccdc/pyccd.py:106-148).

    coef = [trend, sin1, cos1, ...] with the intercept in {b}int —
    the reference's split between coefficient array and intercept
    (ccdc/pyccd.py:64-77). `bands` is the (obs × 7) band matrix in
    BAND_MAP order. `fits` reuses the caller's band-matrix
    (beta, rmse) for EXACTLY this [start:end) window (the break
    branch already computed them — refitting would double the
    hottest solve); None recomputes (the tail segment)."""
    row = dict(keys)
    row["sday"] = _iso(ts[start])
    row["eday"] = _iso(ts[end - 1])
    row["bday"] = _iso(bday) if bday is not None else None
    row["chprob"] = float(chprob)
    row["curqa"] = int(end - start)
    beta, rmse = (
        fits if fits is not None
        else _fit(ts[start:end], bands[start:end], harmonics)
    )
    if peek_slice is not None:
        pred = _predict(ts[peek_slice], beta, harmonics)
        mags = np.abs(bands[peek_slice] - pred).mean(axis=0).tolist()
    else:
        mags = [None] * len(BAND_MAP)
    for pre, mag, e, b in zip(
        BAND_MAP.values(), mags, rmse.tolist(), beta.T.tolist()
    ):
        row[f"{pre}mag"] = mag
        row[f"{pre}rmse"] = e
        row[f"{pre}coef"] = b[1:]
        row[f"{pre}int"] = b[0]
    row["rfrawp"] = None
    row["dates"] = [_iso(d) for d in all_dates]
    row["mask"] = [int(m) for m in mask]
    return row


def detect(
    ard: DataFrame,
    min_obs: int = 6,
    chi: float = 3.0,
    peek: int = 3,
    harmonics: int = 0,
) -> DataFrame:
    """Dense-wide ARD → 40-field segments (mapInPandas, no shuffle).

    Every pixel emits ≥1 row: detected segments plus a trailing open
    segment, or the sentinel when fewer than `min_obs` clear
    observations exist (pyccd.default semantics, ccdc/pyccd.py:99-103
    — sday/eday/bday = '0001-01-01').

    `harmonics=k` fits k annual sin/cos pairs alongside the trend —
    CCDC's actual basis; without it, seasonal land cover triggers
    false breaks (see tests/test_pyccd.py seasonal case).
    `min_obs` should be ≥ 2+2k+peek for a determined fit. The kernel
    calls `drop_zip_finders()` first, so the next task on the worker
    does not re-read pyspark.zip's directory (PLANS.md rule 34)."""
    schema = segment_schema(True)
    band_cols = list(BAND_MAP)
    min_obs = max(min_obs, 2 + 2 * harmonics + 1)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            out: list[dict] = []
            for rec in pdf.to_dict("records"):
                out.extend(_detect_pixel(rec))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    def _detect_pixel(rec: dict) -> list[dict]:
        keys = {k: rec[k] for k in ("cx", "cy", "px", "py")}
        dates_all = np.asarray(rec["dates"], dtype="int64")
        order = np.argsort(dates_all, kind="stable")  # arrays arrive DESC
        dates_sorted = dates_all[order]
        qas = np.asarray(rec["qas"], dtype="int64")[order]
        mask = np.isin(qas, list(CLEAR_QA)).astype("int64")
        clear = mask.astype(bool)
        ts = dates_sorted[clear].astype("float64")
        bands = np.column_stack(
            [np.asarray(rec[c], dtype="float64") for c in band_cols]
        )[order][clear]
        if len(ts) < min_obs:  # sentinel (pyccd.py:99-103)
            row = dict(keys)
            row.update(
                {
                    "sday": "0001-01-01",
                    "eday": "0001-01-01",
                    "bday": "0001-01-01",
                    "chprob": 0.0,
                    "curqa": int(len(ts)),
                    "rfrawp": None,
                    "dates": [_iso(d) for d in dates_sorted],
                    "mask": [int(m) for m in mask],
                }
            )
            for pre in BAND_MAP.values():
                row.update(
                    {
                        f"{pre}mag": None,
                        f"{pre}rmse": None,
                        f"{pre}coef": None,
                        f"{pre}int": None,
                    }
                )
            return [row]

        rows: list[dict] = []
        start, i, n = 0, min_obs, len(ts)
        while i < n:
            # harmonic terms are only constrained once the window
            # spans a full annual cycle (pyccd's year-span
            # initialization requirement) — never break-test before
            span_ok = harmonics == 0 or (
                ts[i - 1] - ts[start] >= ANNUAL_DAYS
            )
            if i - start >= min_obs and i + peek <= n and span_ok:
                # the band-matrix lasso fit is only needed when the
                # break test can actually run — fitting
                # unconditionally wasted ~a year of spin-up
                # iterations per segment
                fits = _fit(ts[start:i], bands[start:i], harmonics)
                beta, rmse = fits
                # cross-band mean normalized residual over the peek
                # window (pyccd's consecutive-obs test, aggregated)
                pred = _predict(ts[i : i + peek], beta, harmonics)
                scores = (
                    np.abs(bands[i : i + peek] - pred)
                    / np.maximum(rmse, 1e-6)
                ).sum(axis=1) / len(band_cols)
                broke = bool((scores > chi).all())
            else:
                broke = False
            if broke:
                rows.append(
                    _segment_row(
                        keys, ts, bands, start, i, int(ts[i]), 1.0,
                        slice(i, i + peek), dates_sorted, mask, harmonics,
                        fits=fits,
                    )
                )
                start = i
                i = start + min_obs
            else:
                i += 1
        rows.append(
            _segment_row(
                keys, ts, bands, start, n, None, 0.0, None,
                dates_sorted, mask, harmonics,
            )
        )
        return rows

    # CPU-bound pandas stage: a compact source (one parquet split)
    # would otherwise run every pixel's lasso fits on a single core —
    # pin parallelism like segmentation.ccd_segments does (PLANS.md:
    # AQE's byte heuristic mis-sizes CPU-bound pandas stages)
    n_parts = ard.sparkSession.sparkContext.defaultParallelism
    if ard.rdd.getNumPartitions() < n_parts:
        ard = ard.repartition(n_parts)
    return ard.mapInPandas(kernel, schema)


def chip_table(segments: DataFrame) -> DataFrame:
    """Chip projection under the exact reference schema
    (ccdc/chip.py:25-36: select cx, cy, dates). Deterministic: the
    reference guarantees one dates array per chip, but a chip
    assembled from a long table could carry per-pixel variations —
    keep the MAX dates array (a total order) instead of
    dropDuplicates' partition-order-dependent pick."""
    from ..schemas import chip_schema
    from .relational import conform

    c = conform(segments, chip_schema())
    other = [f for f in c.columns if f not in ("cx", "cy")]
    return c.groupBy("cx", "cy").agg(
        *[F.max(f).alias(f) for f in other]
    ).select(*c.columns)


def pixel_table(segments: DataFrame) -> DataFrame:
    """Pixel projection (ccdc/pixel.py:24-35: cx, cy, px, py, mask)."""
    from ..schemas import pixel_schema
    from .relational import conform

    return conform(segments, pixel_schema()).dropDuplicates(
        ["cx", "cy", "px", "py"]
    )


def segment_table(segments: DataFrame) -> DataFrame:
    """Segment projection (ccdc/segment.py:59-70: 38 cols, drops
    dates + mask)."""
    from ..schemas import segment_schema as seg_schema
    from .relational import conform

    return conform(segments, seg_schema(False))


import sys as _sys  # noqa: E402

import pyspark.cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
