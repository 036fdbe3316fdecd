"""pyccd-shaped detector: exact 40-field schema, sentinel semantics,
masking, and multi-band break detection on planted ARD."""

from __future__ import annotations

import numpy as np
import pytest

from lcmap_firebird_spark import schemas
from lcmap_firebird_spark.operators import pyccd


def _ard_row(cx, cy, px, py, dates, bands, qas):
    return {
        "cx": cx, "cy": cy, "px": px, "py": py,
        "dates": dates,
        **{c: bands[c] for c in pyccd.BAND_MAP},
        "qas": qas,
    }


@pytest.fixture(scope="module")
def ard(spark):
    """2 pixels: one with a level break in ALL bands at day 400,
    one with too few clear obs (sentinel). Arrays DESC by date, the
    merlin delivery order (FIXTURES.md §2)."""
    rng = np.random.default_rng(11)
    n = 60
    dates = [100 + 10 * i for i in range(n)][::-1]  # DESC
    qas = [66] * n

    def series(breaky):
        vals = {}
        for c in pyccd.BAND_MAP:
            base = np.full(n, 1000.0)
            if breaky:
                base[30:] = 3000.0  # days >= 400 (ascending index)
            noisy = base + rng.normal(0, 5.0, n)
            vals[c] = [int(v) for v in noisy[::-1]]  # DESC like dates
        return vals

    rows = [
        _ard_row(0, 0, 1, 1, dates, series(True), qas),
        _ard_row(0, 0, 2, 2, dates[:3], {c: v[:3] for c, v in series(False).items()}, [1, 1, 66]),
    ]
    return spark.createDataFrame(
        [tuple(r[f.name] for f in schemas.ard_schema().fields) for r in rows],
        schemas.ard_schema(),
    )


def test_output_schema_is_reference_exact(ard):
    out = pyccd.detect(ard)
    assert out.schema.simpleString() == schemas.segment_schema(True).simpleString()
    assert len(out.schema.fields) == 40


def test_multiband_break_detected(ard):
    segs = [r for r in pyccd.detect(ard).collect() if (r.px, r.py) == (1, 1)]
    assert len(segs) >= 2
    bdays = [r.bday for r in segs if r.bday is not None]
    assert any(b.startswith("0002-02") for b in bdays)  # ordinal 400 ≈ 0002-02-04
    first = min(segs, key=lambda r: r.sday)
    assert first.chprob == 1.0
    assert first.blcoef is not None and len(first.blcoef) == 1
    assert all(
        getattr(first, f"{p}rmse") is not None for p in pyccd.BAND_MAP.values()
    )
    # magnitude reflects the planted 2000-unit jump
    assert first.blmag > 1000


def test_sentinel_for_sparse_pixel(ard):
    segs = [r for r in pyccd.detect(ard).collect() if (r.px, r.py) == (2, 2)]
    assert len(segs) == 1
    s = segs[0]
    assert (s.sday, s.eday, s.bday) == ("0001-01-01", "0001-01-01", "0001-01-01")
    assert s.curqa == 1  # only one clear obs (qa=66)
    # dates arrive DESC [690,680,670] with qas [1,1,66]; after the
    # ascending re-sort the clear (66) obs is the oldest → [1,0,0]
    assert list(s.mask) == [1, 0, 0]


def test_mask_aligned_to_sorted_dates(ard):
    seg = [r for r in pyccd.detect(ard).collect() if (r.px, r.py) == (1, 1)][0]
    assert len(seg.mask) == len(seg.dates) == 60
    assert seg.dates == sorted(seg.dates)  # ISO strings, ascending
    assert all(m == 1 for m in seg.mask)  # all qa=66 → clear


def test_harmonics_absorb_seasonality(spark):
    """A purely seasonal pixel: the harmonic model must fit it as ONE
    stable segment, while the trend-only model false-alarms — the
    reason CCDC fits harmonics at all."""
    rng = np.random.default_rng(5)
    n = 80
    days = np.array([100 + 10 * i for i in range(n)])  # ~2.2 years
    seasonal = 1000 + 300 * np.sin(2 * np.pi * days / 365.25)
    vals = {
        c: [int(v) for v in (seasonal + rng.normal(0, 3, n))[::-1]]
        for c in pyccd.BAND_MAP
    }
    row = _ard_row(0, 0, 5, 5, [int(d) for d in days[::-1]], vals, [66] * n)
    ard = spark.createDataFrame(
        [tuple(row[f.name] for f in schemas.ard_schema().fields)],
        schemas.ard_schema(),
    )
    with_h = pyccd.detect(ard, harmonics=1).collect()
    without_h = pyccd.detect(ard, harmonics=0).collect()
    assert len(with_h) == 1 and with_h[0].chprob == 0.0
    assert len(without_h) > 1  # trend-only mistakes seasonality for change
    # harmonic coef layout: [trend, sin1, cos1]; annual amplitude ≈ 300
    seg = with_h[0]
    amp = (seg.blcoef[1] ** 2 + seg.blcoef[2] ** 2) ** 0.5
    assert 280 < amp < 320


def test_projection_tables_conform(ard):
    seg = pyccd.detect(ard)
    assert pyccd.chip_table(seg).schema.simpleString() == (
        schemas.chip_schema().simpleString()
    )
    assert pyccd.pixel_table(seg).schema.simpleString() == (
        schemas.pixel_schema().simpleString()
    )
    assert len(pyccd.segment_table(seg).schema.fields) == 38
    assert pyccd.chip_table(seg).count() == 1  # one chip
    assert pyccd.pixel_table(seg).count() == 2  # two pixels


def test_lasso_shrinks_spurious_harmonics_ols_keeps():
    """Trend-only signal fitted WITH harmonic terms: OLS keeps small
    noise-fitted harmonic coefficients, Lasso's soft threshold zeroes
    them exactly — the reason lcmap-pyccd regularizes this basis."""
    rng = np.random.default_rng(3)
    ts = np.array([100.0 + 10 * i for i in range(60)])
    vs = 1000.0 + 0.5 * ts + rng.normal(0, 5.0, 60)
    beta_ols, _ = pyccd._fit(ts, vs, harmonics=2, alpha=0.0, robust=False)
    beta_lasso, _ = pyccd._fit(ts, vs, harmonics=2, robust=False)
    assert all(abs(b) > 0 for b in beta_ols[2:])  # OLS noise-fits
    assert all(b == 0.0 for b in beta_lasso[2:])  # Lasso shrinks to 0
    # trend survives regularization essentially unchanged
    assert beta_lasso[1] == pytest.approx(0.5, abs=0.05)


def test_lasso_keeps_real_seasonal_amplitude():
    """A genuine 300-unit annual harmonic must NOT be shrunk away
    (alpha=1 on reflectance-scale data barely biases real signal)."""
    rng = np.random.default_rng(4)
    ts = np.array([100.0 + 10 * i for i in range(80)])
    vs = 1000.0 + 300.0 * np.sin(2 * np.pi * ts / 365.25) + rng.normal(0, 3.0, 80)
    beta, _ = pyccd._fit(ts, vs, harmonics=1)
    amp = (beta[2] ** 2 + beta[3] ** 2) ** 0.5
    assert 290 < amp < 310


def test_robust_refit_screens_outliers():
    """One wild outlier (cloud shadow the QA missed): the Tmask-style
    pass drops it, so slope and rmse match the clean series instead
    of being dragged by the spike."""
    rng = np.random.default_rng(6)
    ts = np.array([100.0 + 10 * i for i in range(40)])
    clean = 1000.0 + 1.0 * ts + rng.normal(0, 4.0, 40)
    dirty = clean.copy()
    dirty[20] += 5000.0
    beta_r, rmse_r = pyccd._fit(ts, dirty, harmonics=0, robust=True)
    beta_n, rmse_n = pyccd._fit(ts, dirty, harmonics=0, robust=False)
    assert rmse_r < rmse_n / 5  # outlier no longer inflates rmse
    assert beta_r[1] == pytest.approx(1.0, abs=0.05)
    assert rmse_r < 10.0


# --- coefficient-level goldens (round-3 verdict item 3) -------------------


def _soft_threshold_slope(t: np.ndarray, y: np.ndarray, alpha: float = 1.0):
    """Independent closed form for single-feature Lasso (harmonics=0):
    with one centered feature, coordinate descent's fixed point is
    slope = S(cov(t,y)/n, alpha) / var(t), intercept = ym − tm·slope
    (sklearn objective (1/2n)||y−Xb||² + α|b|)."""
    tm, ym = t.mean(), y.mean()
    tz, yz = t - tm, y - ym
    n = len(t)
    z = float((tz * tz).sum() / n)
    rho = float((tz @ yz) / n)
    slope = np.sign(rho) * max(abs(rho) - alpha, 0.0) / z
    return float(slope), float(ym - tm * slope)


def test_lasso_matches_closed_form_soft_threshold():
    """The coordinate-descent Lasso must hit the analytical solution
    exactly on the single-feature (trend-only) basis — a KNOWN Lasso
    solution, not a snapshot."""
    t = np.arange(0.0, 40.0)
    y = 3.0 + 0.9 * t
    beta, rmse = pyccd._fit(t, y, harmonics=0, robust=False)
    slope, intercept = _soft_threshold_slope(t, y)
    assert beta[1] == pytest.approx(slope, abs=1e-12)
    assert beta[0] == pytest.approx(intercept, abs=1e-12)
    # rmse from the shrunken fit, n−p dof
    resid = y - (beta[0] + beta[1] * t)
    assert rmse == pytest.approx(
        float(np.sqrt((resid**2).sum() / (len(t) - 2))), abs=1e-12
    )


def test_ols_path_is_exact_on_noise_free_line():
    t = np.arange(0.0, 40.0)
    y = 3.0 + 0.9 * t
    beta, rmse = pyccd._fit(t, y, harmonics=0, alpha=0.0, robust=False)
    assert beta[0] == pytest.approx(3.0, abs=1e-9)
    assert beta[1] == pytest.approx(0.9, abs=1e-9)
    assert rmse == pytest.approx(0.0, abs=1e-9)


def test_seasonal_fit_coefficient_golden():
    """Frozen numeric golden locking the full harmonic Lasso+robust
    path: any change to the basis, the CD sweep, the dof rule, or the
    robust screen moves these numbers."""
    ts = np.arange(0.0, 730.0, 16.0)
    vs = (
        500.0
        + 0.12 * ts
        + 250.0 * np.sin(2 * np.pi * ts / 365.25)
        + 40.0 * np.cos(2 * np.pi * ts / 365.25)
    )
    beta, rmse = pyccd._fit(ts, vs, harmonics=1, robust=True)
    golden = [501.209755742, 0.1166769958, 247.5967191385, 37.9769197291]
    assert [float(b) for b in beta] == pytest.approx(golden, abs=1e-6)
    assert float(rmse) == pytest.approx(2.2026254384, abs=1e-6)


def test_detect_multiband_coefficients_match_closed_form(spark):
    """End-to-end through the mapInPandas kernel: a noise-free linear
    pixel (no breaks) must emit ONE segment per pixel whose per-band
    trend coefficient, intercept, and rmse equal the closed-form
    single-feature Lasso solution — coefficient-level parity for the
    40-field multi-band path (reference golden shape:
    /root/reference/test/test_pyccd.py:37-126)."""
    n = 40
    dates = [1000 + 16 * i for i in range(n)][::-1]  # DESC delivery
    t = np.array(sorted(dates), dtype="float64")
    # slopes of j/2 over even ordinals make slope·d an exact integer,
    # so each band is EXACTLY linear after the int cast — the robust
    # screen then provably drops nothing and the closed form applies
    slopes = {c: 0.5 + 0.5 * j for j, c in enumerate(pyccd.BAND_MAP)}
    bands = {
        c: [int(2000 + slopes[c] * d) for d in sorted(dates)][::-1]
        for c in pyccd.BAND_MAP
    }
    row = _ard_row(0, 0, 9, 9, dates, bands, [66] * n)
    df = spark.createDataFrame(
        [tuple(row[f.name] for f in schemas.ard_schema().fields)],
        schemas.ard_schema(),
    )
    segs = pyccd.detect(df).collect()
    assert len(segs) == 1
    seg = segs[0].asDict()
    assert seg["chprob"] == 0.0 and seg["curqa"] == n
    for c, pre in pyccd.BAND_MAP.items():
        y = np.array(list(reversed(bands[c])), dtype="float64")
        slope, intercept = _soft_threshold_slope(t, y)
        # the 40-field schema stores FloatType (reference Cassandra
        # schema), so parity is exact at float32: the stored value
        # must BE the float32 cast of the closed-form solution
        assert seg[f"{pre}coef"][0] == float(np.float32(slope)), c
        assert seg[f"{pre}int"] == float(np.float32(intercept)), c
        resid = y - (intercept + slope * t)
        rmse = float(np.sqrt((resid**2).sum() / (n - 2)))
        assert seg[f"{pre}rmse"] == pytest.approx(rmse, rel=1e-6), c


def _scalar_fit(ts, vs, harmonics, alpha):
    """Independent one-band reference: per-coordinate scalar Lasso
    (or lstsq OLS at alpha=0) and a Tmask refit on the inlier SUBSET —
    the per-band loop the band-matrix kernel replaces."""
    X = pyccd._design(ts, harmonics)
    p = X.shape[1]

    def solve(Xw, y):
        if alpha <= 0.0:
            return np.linalg.lstsq(Xw, y, rcond=None)[0]
        n = len(y)
        xm, ym = Xw[:, 1:].mean(axis=0), y.mean()
        Xz, r = Xw[:, 1:] - xm, y - ym
        z = (Xz * Xz).sum(axis=0) / n
        b = np.zeros(p - 1)
        for _ in range(pyccd.LASSO_MAX_ITER):
            delta = 0.0
            for j in range(p - 1):
                rho = (Xz[:, j] @ r) / n + z[j] * b[j]
                bj = np.sign(rho) * max(abs(rho) - alpha, 0.0) / z[j]
                r += Xz[:, j] * (b[j] - bj)
                delta, b[j] = max(delta, abs(bj - b[j])), bj
            if delta < pyccd.LASSO_TOL:
                break
        return np.concatenate([[ym - xm @ b], b])

    def rmse(Xw, y, beta):
        resid = y - Xw @ beta
        return float(np.sqrt((resid * resid).sum() / (len(y) - p)))

    beta = solve(X, vs)
    e = rmse(X, vs, beta)
    inlier = np.abs(vs - X @ beta) <= pyccd.ROBUST_T * e
    if p + 1 <= inlier.sum() < len(vs):
        beta = solve(X[inlier], vs[inlier])
        e = rmse(X[inlier], vs[inlier], beta)
    return beta, e


@pytest.mark.parametrize("harmonics", [0, 1, 2])
@pytest.mark.parametrize("alpha", [pyccd.LASSO_ALPHA, 0.0])
def test_band_matrix_fit_equals_per_band_fits(harmonics, alpha):
    """One fit over the (window × 7) band matrix equals seven
    one-band fits, band by band, within 1e-9 relative — with outliers
    planted in different rows per band, so each band's Tmask refit
    runs on its own inlier set (and one clean band refits nothing)."""
    rng = np.random.default_rng(20 + harmonics)
    ts = 730_000.0 + 16.0 * np.arange(70)
    w = 2 * np.pi * ts / pyccd.ANNUAL_DAYS
    V = np.column_stack([
        lv + 0.05 * j * (ts - ts[0]) + 80.0 * np.sin(w + j)
        + rng.normal(0.0, 6.0, len(ts))
        for j, lv in enumerate(np.linspace(500.0, 3000.0, 7))
    ])
    for j in range(6):  # band 6 stays clean
        V[rng.choice(len(ts), 1 + j % 3, replace=False), j] += 4000.0
    beta, rmse = pyccd._fit(ts, V, harmonics, alpha=alpha)
    assert beta.shape == (2 + 2 * harmonics, 7) and rmse.shape == (7,)
    for j in range(7):
        b1, e1 = pyccd._fit(ts, V[:, j], harmonics, alpha=alpha)
        ref_b, ref_e = _scalar_fit(ts, V[:, j], harmonics, alpha)
        for got in (beta[:, j], b1):
            assert got == pytest.approx(ref_b, rel=1e-9, abs=1e-9), (j, got, ref_b)
        for got in (rmse[j], e1):
            assert got == pytest.approx(ref_e, rel=1e-9), j
    # the screen really did split the bands: outlier bands sit far
    # below their unscreened rmse, the clean band does not move
    _, raw = pyccd._fit(ts, V, harmonics, alpha=alpha, robust=False)
    assert (rmse[:6] < raw[:6] / 3).all() and rmse[6] == pytest.approx(raw[6])
