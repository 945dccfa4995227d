"""Brute-force checks of the time-series queries (plans/timeseries.py):
each query against a Python recomputation over the sf0.001 events."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from matt3r_data_ingestion_serverless_spark.plans.timeseries import (
    _ACF_MAX_LAG,
    _BOLL_N,
    _HAAR_LEVELS,
    _HAAR_SLOTS,
    _HYST_HI_NUM,
    _HYST_LO_NUM,
    _KAL_Q,
    _KAL_R,
    _MP_M,
    _DFT_FREQS,
    _PI,
    _POLISH_SWEEPS,
    _RS_WINDOWS,
    _XC_MAX_LAG,
    daily_dft,
    event_days,
    event_hours,
    ts_acf_table,
    ts_ar2_yule_walker,
    ts_autocorr_hourly,
    ts_binary_segmentation,
    ts_bollinger_breach,
    ts_circular_hour_stats,
    ts_cross_correlation_lagged,
    ts_cusum_changepoint,
    ts_downsample_lttb,
    ts_ewma_smoothing,
    ts_fano_factor,
    ts_haar_coefficients,
    ts_holt_linear,
    ts_hurst_rs,
    ts_hysteresis_bursts,
    ts_kalman_1d,
    ts_kendall_tau_daily,
    ts_local_peaks,
    ts_mann_kendall,
    ts_matrix_profile,
    ts_max_drawdown,
    ts_max_subarray_window,
    ts_median_polish_residuals,
    ts_numerical_derivative,
    ts_periodogram_daily,
    ts_pot_tail_analysis,
    ts_rolling_corr,
    ts_rolling_iqr_outliers,
    ts_runs_test,
    ts_sax_symbols,
    ts_spc_control_chart,
    ts_spectral_entropy,
    ts_var_cvar_daily,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


@pytest.fixture(scope="module")
def events(spark):
    """The sf0.001 events table, collected once for the module."""
    return load_table(spark, SF_SMOKE, "events").collect()


def _units(x: float) -> int:
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def test_event_days_match_python_group_by(spark, events):
    want = defaultdict(lambda: [0, 0, 0])
    for r in events:
        di = (r.ts.date() - dt.date(2024, 1, 1)).days
        cell = want[(r.event_type, r.ts.strftime("%Y-%m-%d"), di)]
        cell[0] += 1
        cell[1] += _units(r.value)
        cell[2] += int(math.floor(r.value * 100 + 0.5))
    got = {
        (r.event_type, r.day, r.di): [r.n, r.units, r.cents]
        for r in event_days(spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_event_hours_match_python_group_by(spark, events):
    want = defaultdict(lambda: [0, 0])
    for r in events:
        cell = want[(r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))]
        cell[0] += 1
        cell[1] += _units(r.value)
    got = {(r.event_type, r.hr): [r.n, r.units] for r in event_hours(spark, SF_SMOKE).collect()}
    assert got == dict(want)


def test_cusum_changepoint_matches_python(spark, events):
    by_user = defaultdict(list)
    for r in events:
        if r.event_type == "purchase":
            by_user[r.user_id].append(r)
    out = {r.user_id: r for r in ts_cusum_changepoint(spark, SF_SMOKE).collect()}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        n = len(rows)
        if n < 20:
            assert uid not in out
            continue
        cents = [round(r.value * 100) for r in rows]
        total = sum(cents)
        best = None
        prefix = 0
        for k, c in enumerate(cents, start=1):
            prefix += c
            d = abs(n * prefix - k * total)
            if best is None or d > best[0]:
                best = (d, k)
        r = out[uid]
        assert (r.max_abs_d, r.cp_index, r.n_txns) == (best[0], best[1], n)


def test_autocorr_shape_and_bounds(spark, events):
    rows = {r.lag_hours: r for r in ts_autocorr_hourly(spark, SF_SMOKE).collect()}
    n_hours = len({r.ts.replace(minute=0, second=0, microsecond=0) for r in events})
    assert rows[1].n_pairs == n_hours - 1
    assert rows[24].n_pairs == max(n_hours - 24, 0)
    for r in rows.values():
        if r.autocorr is not None:
            assert -1.0 <= r.autocorr <= 1.0


def test_holt_linear_matches_python(spark, events):
    by_user = defaultdict(list)
    for r in events:
        by_user[r.user_id].append(r)
    out = {r.user_id: r for r in ts_holt_linear(spark, SF_SMOKE).collect()}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        xs = [r.value for r in rows]
        if len(xs) < 3:
            assert uid not in out
            continue
        l, b = xs[1], xs[1] - xs[0]
        for x in xs[2:]:
            nl = 0.5 * x + 0.5 * (l + b)
            nb = 0.25 * (nl - l) + 0.75 * b
            l, b = nl, nb
        r = out[uid]
        assert r.n_events == len(xs)
        assert abs(r.holt_level - l) < 1e-5
        assert abs(r.holt_trend - b) < 1e-5


def test_bollinger_breach_matches_python(spark, events):
    by_user = defaultdict(list)
    for r in events:
        if r.event_type == "purchase":
            by_user[r.user_id].append(r)
    out = {(r.user_id, r.ts_us): r for r in ts_bollinger_breach(spark, SF_SMOKE).collect()}
    n_checked = 0
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        cents = [round(r.value * 100) for r in rows]
        for i in range(len(rows)):
            w = cents[max(0, i - _BOLL_N):i]
            key = (uid, int(rows[i].ts.timestamp() * 1_000_000))
            if len(w) < _BOLL_N:
                assert key not in out
                continue
            n, s1, s2 = len(w), sum(w), sum(v * v for v in w)
            mu = s1 / n
            var = (n * s2 - s1 * s1) / (n * (n - 1))
            exp_breach = abs(cents[i] - mu) > 2 * var**0.5
            r = out[key]
            assert r.breach == exp_breach
            assert abs(r.band_mean - mu / 100) < 1e-6
            n_checked += 1
    assert n_checked == len(out)


def test_kalman_matches_python(spark, events):
    by_user = defaultdict(list)
    for r in events:
        by_user[r.user_id].append(r)
    out = {r.user_id: r for r in ts_kalman_1d(spark, SF_SMOKE).collect()}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        zs = [r.value for r in rows]
        if len(zs) < 2:
            assert uid not in out
            continue
        x, p = zs[0], 1.0
        for z in zs[1:]:
            pp = p + _KAL_Q
            k = pp / (pp + _KAL_R)
            x = x + k * (z - x)
            p = (1.0 - k) * pp
        r = out[uid]
        assert r.n_obs == len(zs)
        assert abs(r.kalman_estimate - x) < 1e-5
        assert abs(r.kalman_variance - p) < 1e-6
        # variance must have contracted toward steady state from 1.0
        assert 0 < r.kalman_variance < 1.0


def test_rolling_corr_matches_numpy(spark, events):
    hours: dict[str, list[int]] = {}
    for r in events:
        hr = r.ts.strftime("%Y-%m-%d %H")
        xy = hours.setdefault(hr, [0, 0])
        v = _units(r.value)
        if r.event_type == "view":
            xy[0] += v
        elif r.event_type == "click":
            xy[1] += v
    hrs = sorted(hours)
    xs = np.array([hours[h][0] for h in hrs], dtype=np.int64)
    ys = np.array([hours[h][1] for h in hrs], dtype=np.int64)
    got = {r.hr: r.corr24 for r in ts_rolling_corr(spark, SF_SMOKE).collect()}
    assert set(got) == set(hrs)
    for i, h in enumerate(hrs):
        if i < 23:
            assert got[h] is None
            continue
        x, y = xs[i - 23 : i + 1], ys[i - 23 : i + 1]
        n = 24
        num = n * int((x * y).sum()) - int(x.sum()) * int(y.sum())
        vx = n * int((x * x).sum()) - int(x.sum()) ** 2
        vy = n * int((y * y).sum()) - int(y.sum()) ** 2
        if vx <= 0 or vy <= 0:
            assert got[h] is None
        else:
            expect = _round6(num / (math.sqrt(vx) * math.sqrt(vy)))
            assert abs(got[h] - expect) < 1e-12, h


def _daily_units(ev):
    dly: dict[tuple, int] = defaultdict(int)
    for r in ev:
        v = _units(r.value)
        dly[(r.event_type, r.ts.strftime("%Y-%m-%d"))] += v
    return dly


def test_mann_kendall_matches_python(spark, events):
    dly = _daily_units(events)
    series: dict[str, list[int]] = defaultdict(list)
    for (et, day), v in sorted(dly.items()):
        series[et].append(v)
    got = {r.event_type: r for r in ts_mann_kendall(spark, SF_SMOKE).collect()}
    assert set(got) == set(series)
    for et, xs in series.items():
        n = len(xs)
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = Counter(xs)
        tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var18 = n * (n - 1) * (2 * n + 5) - tie_term
        r = got[et]
        assert (r.n_days, r.s_stat, r.var18) == (n, s, var18), et
        if var18 == 0:
            assert r.z_stat is None
        elif s == 0:
            assert r.z_stat == 0.0
        else:
            exp = _round6((s - (1 if s > 0 else -1)) / math.sqrt(var18 / 18.0))
            assert abs(r.z_stat - exp) < 1e-12, et


def test_sax_word_matches_python(spark, events):
    dly = _daily_units(events)
    base = {}
    for (et, day), v in dly.items():
        y, m, d = map(int, day.split("-"))
        di = (dt.date(y, m, d) - dt.date(2024, 1, 1)).days
        base.setdefault(et, {})[di] = v
    got = {r.event_type: r for r in ts_sax_symbols(spark, SF_SMOKE).collect()}
    for et, by_day in base.items():
        vs = list(by_day.values())
        n, s = len(vs), sum(vs)
        k = n * sum(v * v for v in vs) - s * s
        if k <= 0:
            assert et not in got
            continue
        segs: dict[int, list[int]] = defaultdict(list)
        for di, v in by_day.items():
            segs[di // 4].append(v)
        word = ""
        for seg in sorted(segs):
            s_seg, n_seg = sum(segs[seg]), len(segs[seg])
            z = (s_seg * n - s * n_seg) / (n_seg * math.sqrt(k))
            word += "a" if z < -0.6745 else "b" if z < 0 else "c" if z < 0.6745 else "d"
        assert got[et].sax_word == word, et
        assert got[et].n_segments == len(segs)


def test_lttb_picks_max_deviation_point(spark, events):
    pts = defaultdict(list)
    bkt: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    for r in events:
        day = r.ts.strftime("%Y-%m-%d")
        v = _units(r.value)
        pts[(r.event_type, day)].append((r.event_id, v))
        b = bkt[(r.event_type, day)]
        b[0] += v
        b[1] += 1
    got = {(r.event_type, r.day): r for r in ts_downsample_lttb(spark, SF_SMOKE).collect()}
    days_by_type = defaultdict(list)
    for et, day in bkt:
        days_by_type[et].append(day)
    expected_keys = set()
    for et, days in days_by_type.items():
        days.sort()
        for i, day in enumerate(days):
            if 0 < i < len(days) - 1:
                expected_keys.add((et, day))
                sp, np_ = bkt[(et, days[i - 1])]
                sn, nn = bkt[(et, days[i + 1])]
                best = max(
                    pts[(et, day)],
                    key=lambda p: (abs(2 * p[1] * np_ * nn - sp * nn - sn * np_), -p[0]),
                )
                r = got[(et, day)]
                assert (r.event_id, r.v) == best, (et, day)
                assert r.score == abs(2 * best[1] * np_ * nn - sp * nn - sn * np_)
    assert set(got) == expected_keys


def test_rolling_iqr_matches_python(spark, events):
    hours = defaultdict(lambda: defaultdict(int))
    for r in events:
        v = _units(r.value)
        hours[r.event_type][r.ts.strftime("%Y-%m-%d %H")] += v
    got = {
        (r.event_type, r.hr): r
        for r in ts_rolling_iqr_outliers(spark, SF_SMOKE).collect()
    }

    def interp(sorted_vals, q):
        idx = (len(sorted_vals) - 1) * q
        lo, hi = int(math.floor(idx)), int(math.ceil(idx))
        return sorted_vals[lo] + (idx - lo) * (sorted_vals[hi] - sorted_vals[lo])

    for et, by_hr in hours.items():
        hrs = sorted(by_hr)
        for i, hr in enumerate(hrs):
            r = got[(et, hr)]
            if i < 23:
                assert r.q25 is None and r.is_outlier is None
                continue
            frame = sorted(by_hr[h] for h in hrs[i - 23 : i + 1])
            q25, q75 = interp(frame, 0.25), interp(frame, 0.75)
            v = by_hr[hr]
            expect = v < q25 - 1.5 * (q75 - q25) or v > q75 + 1.5 * (q75 - q25)
            assert r.is_outlier == expect, (et, hr)
            assert abs(r.q25 - _round6(q25)) < 1e-9 and abs(r.q75 - _round6(q75)) < 1e-9


def test_derivative_matches_python(spark, events):
    tracks = defaultdict(list)
    for r in events:
        if r.event_type != "view":
            continue
        cents = int(math.floor(abs(r.value) * 100 + 0.5)) * (1 if r.value >= 0 else -1)
        tracks[r.user_id].append(
            (int(r.ts.timestamp() * 1_000_000), r.event_id, cents)
        )
    expected = {}
    for uid, pts in tracks.items():
        pts.sort(key=lambda t: (t[0], t[1]))
        for i in range(1, len(pts) - 1):
            t_prev, _, c_prev = pts[i - 1]
            t_us, eid, _ = pts[i]
            t_next, _, c_next = pts[i + 1]
            if t_next > t_prev:
                d = (c_next - c_prev) * 864.0 / ((t_next - t_prev) / 100000000.0)
                expected[(uid, eid)] = _round6(d)
    got = {
        (r.user_id, r.event_id): r.deriv_per_day
        for r in ts_numerical_derivative(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9, k


def test_pot_tail_matches_python(spark, events):
    by_type = defaultdict(list)
    for r in events:
        cents = int(math.floor(abs(r.value) * 100 + 0.5)) * (1 if r.value >= 0 else -1)
        by_type[r.event_type].append(cents)
    got = {r.event_type: r for r in ts_pot_tail_analysis(spark, SF_SMOKE).collect()}
    for et, vals in by_type.items():
        vals.sort()
        u = vals[math.ceil(0.99 * len(vals)) - 1]
        exceed = [v for v in vals if v > u]
        if not exceed:
            assert et not in got
            continue
        r = got[et]
        assert (r.threshold_cents, r.n_exceed, r.max_cents) == (
            u,
            len(exceed),
            max(exceed),
        ), et
        assert r.total_excess_cents == sum(v - u for v in exceed)
        assert abs(
            r.mean_excess_cents - _round6(sum(v - u for v in exceed) / len(exceed))
        ) < 1e-9


def test_spc_limits_match_python(spark, events):
    daily = defaultdict(lambda: defaultdict(int))
    for r in events:
        v = _units(r.value)
        daily[r.event_type][r.ts.strftime("%Y-%m-%d")] += v
    got = {
        (r.event_type, r.day): r for r in ts_spc_control_chart(spark, SF_SMOKE).collect()
    }
    for et, by_day in daily.items():
        days = sorted(by_day)
        vs = [by_day[d] for d in days]
        center = sum(vs) / len(vs)
        mrs = [abs(b - a) for a, b in zip(vs, vs[1:])]
        mr_bar = sum(mrs) / len(mrs)
        ucl, lcl = center + 2.66 * mr_bar, center - 2.66 * mr_bar
        for d, v in zip(days, vs):
            r = got[(et, d)]
            assert abs(r.center - _round6(center)) < 1e-9
            assert abs(r.ucl - _round6(ucl)) < 1e-9
            assert r.out_of_control == (v > ucl or v < lcl), (et, d)


def test_cross_correlation_matches_python(spark, events):
    hours = defaultdict(lambda: [0, 0])
    for r in events:
        hi = int(r.ts.timestamp() * 1_000_000) // 3_600_000_000
        # truncate to hour first, as the plan does
        hi = int(
            r.ts.replace(minute=0, second=0, microsecond=0).timestamp() * 1_000_000
        ) // 3_600_000_000
        v = _units(r.value)
        if r.event_type == "view":
            hours[hi][0] += v
        elif r.event_type == "click":
            hours[hi][1] += v
        else:
            hours[hi]  # ensure hour exists even with neither channel
    got = {r.lag: r for r in ts_cross_correlation_lagged(spark, SF_SMOKE).collect()}
    for lag in range(-_XC_MAX_LAG, _XC_MAX_LAG + 1):
        pairs = [
            (hours[hi][0], hours[hi + lag][1])
            for hi in hours
            if hi + lag in hours
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        r = got[lag]
        assert r.n == n, lag
        if vx > 0 and vy > 0:
            expect = _round6((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)))
            assert abs(r.xcorr - expect) < 1e-9, lag
        else:
            assert r.xcorr is None


def test_matrix_profile_matches_numpy(spark, events):
    daily = defaultdict(lambda: defaultdict(int))
    for r in events:
        di = (r.ts.date() - dt.date(2024, 1, 1)).days
        v = _units(r.value)
        daily[r.event_type][di] += v
    got = {
        (r.event_type, r.win_start): r
        for r in ts_matrix_profile(spark, SF_SMOKE).collect()
    }
    m = _MP_M
    for et, by_di in daily.items():
        dis = sorted(by_di)
        # windows valid only where all m consecutive day-indices exist
        starts = [
            i for i in dis if all(i + k in by_di for k in range(m))
        ]
        prof = {}
        for i in starts:
            wi = np.array([by_di[i + k] for k in range(m)], dtype=np.int64)
            si, ssi = int(wi.sum()), int((wi * wi).sum())
            if m * ssi - si * si <= 0:
                continue
            best = None
            for j in starts:
                if j == i:
                    continue
                wj = np.array([by_di[j + k] for k in range(m)], dtype=np.int64)
                sj, ssj = int(wj.sum()), int((wj * wj).sum())
                if m * ssj - sj * sj <= 0:
                    continue
                d = int((wi * wj).sum())
                num = float(m * d - si * sj)
                dist = 2.0 * m * (
                    1.0 - num / (math.sqrt(m * ssi - si * si) * math.sqrt(m * ssj - sj * sj))
                )
                dm = int(math.floor(dist * 1e6 + 0.5))
                key = dm * 1000 + j
                if best is None or key < best[0]:
                    best = (key, j, dm)
            if best:
                prof[i] = (best[1], best[2])
        for i, (j, dm) in prof.items():
            r = got[(et, i)]
            assert (r.nn_start, r.dist_micro) == (j, dm), (et, i)
        assert {k[1] for k in got if k[0] == et} == set(prof)


def test_fano_factor_matches_python(spark, events):
    counts = defaultdict(lambda: defaultdict(int))
    for r in events:
        counts[r.event_type][r.ts.replace(minute=0, second=0, microsecond=0)] += 1
    got = {r.event_type: r for r in ts_fano_factor(spark, SF_SMOKE).collect()}
    for et, by_hr in counts.items():
        cs = list(by_hr.values())
        n, s = len(cs), sum(cs)
        s2 = sum(c * c for c in cs)
        var = (n * s2 - s * s) / n / (n - 1)
        mean = s / n
        r = got[et]
        assert (r.n_hours, r.n_events) == (n, s), et
        assert abs(r.fano_factor - _round6(var / mean)) < 1e-9, et


def test_runs_test_matches_python(spark, events):
    daily = defaultdict(lambda: defaultdict(int))
    for r in events:
        v = _units(r.value)
        daily[r.event_type][r.ts.strftime("%Y-%m-%d")] += v
    got = {r.event_type: r for r in ts_runs_test(spark, SF_SMOKE).collect()}
    for et, by_day in daily.items():
        vals = sorted(by_day.values())
        m = vals[math.ceil(len(vals) / 2) - 1]  # 2*cum >= n threshold
        seq = [
            1 if by_day[d] > m else 0
            for d in sorted(by_day)
            if by_day[d] != m
        ]
        n1, n2 = sum(seq), len(seq) - sum(seq)
        if n1 == 0 or n2 == 0:
            assert et not in got
            continue
        runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
        mean_r = 2.0 * n1 * n2 / (n1 + n2) + 1
        var_r = (
            2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
            / (float(n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
        )
        r = got[et]
        assert (r.n_runs, r.n_above, r.n_below) == (runs, n1, n2), et
        assert abs(r.z_stat - _round6((runs - mean_r) / math.sqrt(var_r))) < 1e-9


def test_max_drawdown_matches_python(spark, events):
    series = defaultdict(list)
    for r in events:
        series[r.user_id].append((r.ts, r.event_id, r.value))
    got = {r.user_id: r for r in ts_max_drawdown(spark, SF_SMOKE).collect()}
    assert set(got) == set(series)
    for uid, rows in series.items():
        equity = peak = dd = 0
        for _, _, v in sorted(rows, key=lambda x: (x[0], x[1])):
            cents = int(math.floor(v * 100 + 0.5))
            equity += cents
            peak = max(peak, equity)
            dd = max(dd, peak - equity)
        r = got[uid]
        assert (r.n_events, r.max_drawdown_cents, r.final_cents) == (
            len(rows),
            dd,
            equity,
        )
        assert r.peak_cents == peak


def _daily(ev):
    out = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for r in ev:
        cell = out[r.event_type][r.ts.strftime("%Y-%m-%d")]
        cell[0] += 1
        cell[1] += int(math.floor(r.value * 100 + 0.5))
    return out


def test_kendall_tau_matches_python(spark, events):
    daily = _daily(events)
    got = {r.event_type: r for r in ts_kendall_tau_daily(spark, SF_SMOKE).collect()}
    assert set(got) == set(daily)
    for et, by_day in daily.items():
        series = [by_day[d] for d in sorted(by_day)]
        conc = disc = tx = ty = n0 = 0
        for i in range(len(series)):
            for j in range(i + 1, len(series)):
                (c1, v1), (c2, v2) = series[i], series[j]
                n0 += 1
                tx += c1 == c2
                ty += v1 == v2
                conc += (c1 < c2 and v1 < v2) or (c1 > c2 and v1 > v2)
                disc += (c1 < c2 and v1 > v2) or (c1 > c2 and v1 < v2)
        r = got[et]
        assert (r.n_pairs, r.concordant, r.discordant, r.ties_x, r.ties_y) == (
            n0,
            conc,
            disc,
            tx,
            ty,
        )
        tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
        assert abs(r.tau_b - _round6(tau)) <= 1e-6


def test_var_cvar_matches_python(spark, events):
    daily = _daily(events)
    got = {r.event_type: r for r in ts_var_cvar_daily(spark, SF_SMOKE).collect()}
    for et, by_day in daily.items():
        cents = [by_day[d][1] for d in sorted(by_day)]
        deltas = sorted(b - a for a, b in zip(cents, cents[1:]))
        n = len(deltas)
        k = math.ceil(0.05 * n)
        r = got[et]
        assert r.n_days == n
        assert r.var5_cents == deltas[k - 1]
        assert abs(r.cvar5_cents - _round6(sum(deltas[:k]) / k)) <= 1e-6
        assert r.worst_cents == deltas[0]


def _dft_sums(events) -> tuple[int, dict[int, tuple[int, int]]]:
    """``(n_days, {k: (cos_sum_micro, sin_sum_micro)})`` of the daily
    event-count series, each trig factor quantized per term."""
    daily = defaultdict(int)
    for r in events:
        daily[r.ts.strftime("%Y-%m-%d")] += 1
    cnts = [daily[d] for d in sorted(daily)]
    n = len(cnts)
    sums = {}
    for k in range(1, _DFT_FREQS + 1):
        cs = sum(
            c * int(math.floor(math.cos(2 * _PI * k * t / n) * 1e6 + 0.5))
            for t, c in enumerate(cnts)
        )
        ss = sum(
            c * int(math.floor(math.sin(2 * _PI * k * t / n) * 1e6 + 0.5))
            for t, c in enumerate(cnts)
        )
        sums[k] = (cs, ss)
    return n, sums


def test_daily_dft_matches_python_fourier_sums(spark, events):
    n, sums = _dft_sums(events)
    got = {r.k: (r.n, r.cs, r.ss) for r in daily_dft(spark, SF_SMOKE).collect()}
    assert got == {k: (n, cs, ss) for k, (cs, ss) in sums.items()}


def test_periodogram_matches_python(spark, events):
    n, sums = _dft_sums(events)
    got = {r.freq_k: r for r in ts_periodogram_daily(spark, SF_SMOKE).collect()}
    assert set(got) == set(range(1, _DFT_FREQS + 1))
    for k, (cs, ss) in sums.items():
        r = got[k]
        assert r.n_days == n
        assert (r.cos_sum_micro, r.sin_sum_micro) == (cs, ss)
        power = (float(cs) * cs + float(ss) * ss) / 1e12 / n
        assert abs(r.power - _round6(power)) <= 1e-6
        assert r.power >= 0


def _daily_cents(ev):
    out = defaultdict(lambda: defaultdict(int))
    for r in ev:
        out[r.event_type][r.ts.strftime("%Y-%m-%d")] += int(math.floor(r.value * 100 + 0.5))
    return out


def test_max_subarray_matches_kadane(spark, events):
    daily = _daily_cents(events)
    got = {r.event_type: r for r in ts_max_subarray_window(spark, SF_SMOKE).collect()}
    assert set(got) == set(daily)
    for et, by_day in daily.items():
        days = sorted(by_day)
        cents = [by_day[d] for d in days]
        deltas = [(days[i + 1], cents[i + 1] - cents[i]) for i in range(len(cents) - 1)]
        # classic Kadane over non-empty subarrays
        best = None
        cur = 0
        best_ends = []
        for day, d in deltas:
            cur = max(d, cur + d)
            if best is None or cur > best:
                best = cur
        # recompute best end days (all j achieving the max)
        prefix = 0
        minp = 0
        pref_hist = []
        for day, d in deltas:
            prefix += d
            pref_hist.append((day, prefix))
        best_end = None
        for i, (day, pj) in enumerate(pref_hist):
            mn = min([0] + [p for _, p in pref_hist[:i]])
            run = pj - min(mn, 0)
            if run == best and (best_end is None or day > best_end):
                best_end = day
        r = got[et]
        assert r.n_days == len(deltas)
        assert r.best_run_cents == best
        assert r.best_end_day == best_end


def test_local_peaks_match_python(spark, events):
    daily = defaultdict(lambda: defaultdict(int))
    for r in events:
        daily[r.event_type][r.ts.strftime("%Y-%m-%d")] += 1
    expected = {}
    for et, by_day in daily.items():
        days = sorted(by_day)
        cnts = [by_day[d] for d in days]
        for i in range(1, len(days) - 1):
            lo, hi = max(0, i - 3), min(len(days), i + 4)
            if (
                cnts[i] > cnts[i - 1]
                and cnts[i] > cnts[i + 1]
                and cnts[i] == max(cnts[lo:hi])
            ):
                expected[(et, days[i])] = (cnts[i], cnts[i - 1], cnts[i + 1])
    got = {
        (r.event_type, r.day): (r.cnt, r.prev_cnt, r.next_cnt)
        for r in ts_local_peaks(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_acf_matches_python(spark, events):
    daily = defaultdict(int)
    for r in events:
        daily[r.ts.strftime("%Y-%m-%d")] += int(math.floor(r.value * 100 + 0.5))
    xs = [daily[d] for d in sorted(daily)]
    got = {r.lag: r for r in ts_acf_table(spark, SF_SMOKE).collect()}
    assert set(got) == set(range(1, _ACF_MAX_LAG + 1))
    for k in range(1, _ACF_MAX_LAG + 1):
        pairs = list(zip(xs, xs[k:]))
        n = len(pairs)
        sa = sum(a for a, _ in pairs)
        sb = sum(b for _, b in pairs)
        sab = sum(a * b for a, b in pairs)
        saa = sum(a * a for a, _ in pairs)
        sbb = sum(b * b for _, b in pairs)
        acf = (n * sab - sa * sb) / (
            math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
        )
        r = got[k]
        assert r.n_pairs == n
        assert abs(r.acf - _round6(acf)) <= 1e-6
        assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9


def test_hysteresis_matches_sequential_automaton(spark, events):
    hourly = defaultdict(lambda: defaultdict(int))
    for r in events:
        hourly[r.event_type][r.ts.replace(minute=0, second=0, microsecond=0)] += 1
    got = {r.event_type: r for r in ts_hysteresis_bursts(spark, SF_SMOKE).collect()}
    assert set(got) == set(hourly)
    for et, by_hr in hourly.items():
        cnts = [by_hr[h] for h in sorted(by_hr)]
        n_hours = len(cnts)
        mean_milli = (sum(cnts) * 1000) // n_hours
        # run the automaton SEQUENTIALLY (the ground truth the
        # declarative LOCF identity must reproduce)
        state = 0
        burst_hours = bursts = 0
        for c in cnts:
            if c * 10000 > _HYST_HI_NUM * mean_milli:
                if state == 0:
                    bursts += 1
                state = 1
            elif c * 10000 < _HYST_LO_NUM * mean_milli:
                state = 0
            burst_hours += state
        r = got[et]
        assert (r.n_hours, r.burst_hours, r.n_bursts) == (n_hours, burst_hours, bursts)


def test_haar_details_match_python(spark, events):
    # collect() returns naive datetimes in the UTC session tz; pin the
    # tzinfo so .timestamp() doesn't re-interpret them as local time
    hours = [
        int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() // 3600) for r in events
    ]
    h0 = min(hours)
    counts = [0] * _HAAR_SLOTS
    for h in hours:
        s = h - h0
        if s < _HAAR_SLOTS:
            counts[s] += 1
    want = {}
    for level in range(1, _HAAR_LEVELS + 1):
        b = 1 << level
        for pos in range(_HAAR_SLOTS // b):
            blk = counts[pos * b : (pos + 1) * b]
            want[(level, pos)] = (
                sum(blk),
                sum(blk[: b // 2]) - sum(blk[b // 2 :]),
            )
    got = {
        (r.level, r.pos): (r.n_events, r.detail)
        for r in ts_haar_coefficients(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert sum(n for n, _ in want.values()) > 0


def test_hurst_matches_python_rs(spark, events):
    hours = [
        int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() // 3600) for r in events
    ]
    h0 = min(hours)
    counts = [0] * 512
    for h in hours:
        if h - h0 < 512:
            counts[h - h0] += 1
    rows = {r.w: r for r in ts_hurst_rs(spark, SF_SMOKE).collect()}
    assert set(rows) == set(_RS_WINDOWS)
    pts = []
    for w in _RS_WINDOWS:
        rss = []
        for c0 in range(0, 512, w):
            blk = counts[c0 : c0 + w]
            s1, s2 = sum(blk), sum(x * x for x in blk)
            if s2 * w <= s1 * s1:
                continue
            mean = s1 / w
            cum, devs = 0, []
            for i, x in enumerate(blk):
                cum += x
                devs.append(cum - (i + 1) * mean)
            r_rng = max(devs) - min(devs)
            rss.append(r_rng / math.sqrt(s2 / w - mean * mean))
        rs_avg = sum(rss) / len(rss)
        assert math.isclose(rows[w].rs_avg_r, rs_avg, abs_tol=1e-6)
        assert rows[w].n_chunks == len(rss)
        pts.append((math.log(w), math.log(rows[w].rs_avg_r)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    h = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    for w in _RS_WINDOWS:
        assert math.isclose(rows[w].hurst_r, h, abs_tol=1e-6)
    assert 0.0 < h < 1.0, "R/S Hurst estimate must be a sane exponent"


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def test_median_polish_matches_python(spark, events):
    grid = Counter()
    for r in events:
        iso = r.ts.isoweekday()
        grid[(iso, r.ts.hour)] += 1
    cells = {k: float(v) for k, v in grid.items()}
    for _ in range(_POLISH_SWEEPS):
        for d in {d for d, _ in cells}:
            med = _median([v for (dd, _), v in cells.items() if dd == d])
            for k in [k for k in cells if k[0] == d]:
                cells[k] -= med
        for h in {h for _, h in cells}:
            med = _median([v for (_, hh), v in cells.items() if hh == h])
            for k in [k for k in cells if k[1] == h]:
                cells[k] -= med
    got = {
        (r.dow, r.hr): r.resid_r
        for r in ts_median_polish_residuals(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(cells)
    for k in cells:
        assert math.isclose(got[k], cells[k], abs_tol=1e-6), (k, got[k], cells[k])
    # robustness sanity: post-polish rows and columns are median-centred
    for d in {d for d, _ in cells}:
        assert abs(_median([v for (dd, _), v in cells.items() if dd == d])) < 1e-9


def test_ar2_matches_python_yule_walker(spark, events):
    hours = [
        int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() // 3600) for r in events
    ]
    h0 = min(hours)
    x = [0] * _HAAR_SLOTS
    for h in hours:
        if h - h0 < _HAAR_SLOTS:
            x[h - h0] += 1
    n = len(x)
    mu = sum(x) / n

    def acov(k):
        return sum((x[t] - mu) * (x[t + k] - mu) for t in range(n - k)) / n

    c0, c1, c2 = acov(0), acov(1), acov(2)
    r1, r2 = c1 / c0, c2 / c0
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    fc = mu + phi1 * (x[-1] - mu) + phi2 * (x[-2] - mu)
    row = ts_ar2_yule_walker(spark, SF_SMOKE).collect()[0]
    assert math.isclose(row.r1_r, r1, abs_tol=1e-6)
    assert math.isclose(row.r2_r, r2, abs_tol=1e-6)
    assert math.isclose(row.phi1_r, phi1, abs_tol=1e-6)
    assert math.isclose(row.phi2_r, phi2, abs_tol=1e-6)
    assert math.isclose(row.forecast_r, fc, abs_tol=1e-5)
    assert abs(r1) <= 1 and abs(r2) <= 1


def test_circular_stats_match_python(spark, events):
    acc = defaultdict(lambda: [0, 0.0, 0.0])
    for r in events:
        us = int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        theta = 2 * math.pi * (us % 86_400_000_000) / 86_400_000_000.0
        a = acc[r.event_type]
        a[0] += 1
        a[1] += math.cos(theta)
        a[2] += math.sin(theta)
    got = {
        r.event_type: r for r in ts_circular_hour_stats(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(acc)
    for t, (n, sc, ss) in acc.items():
        r = got[t]
        rlen = math.sqrt(sc * sc + ss * ss) / n
        hour = ((math.atan2(ss, sc) + 2 * math.pi) % (2 * math.pi)) * 24 / (
            2 * math.pi
        )
        assert r.n == n
        assert math.isclose(r.resultant_r, rlen, abs_tol=1e-6)
        assert math.isclose(r.circ_variance_r, 1 - rlen, abs_tol=1e-6)
        assert math.isclose(r.mean_hour_r, hour, abs_tol=1e-5)
        assert 0.0 <= r.resultant_r <= 1.0
        assert 0.0 <= r.mean_hour_r < 24.0


def test_binseg_matches_python(spark, events):
    hours = [
        int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() // 3600) for r in events
    ]
    h0 = min(hours)
    xs = [0] * 512
    for h in hours:
        if h - h0 < 512:
            xs[h - h0] += 1

    def best(lo, hi):
        seg = xs[lo:hi]
        m = len(seg)
        if m < 2:
            return None
        ty = sum(seg)
        tyy = sum(v * v for v in seg)
        bestk = None
        cy = cyy = 0
        for i in range(1, m):
            cy += seg[i - 1]
            cyy += seg[i - 1] ** 2
            sse = (cyy - cy * cy / i) + ((tyy - cyy) - (ty - cy) ** 2 / (m - i))
            key = (math.floor(sse * 1e6 + 0.5), lo + i - 1)
            if bestk is None or key < bestk[0]:
                bestk = (key, lo + i - 1, sse)
        return bestk[1], bestk[2]

    c1 = best(0, 512)
    want = {1: c1}
    for rnd, rng in ((2, (0, c1[0] + 1)), (3, (c1[0] + 1, 512))):
        c = best(*rng)
        if c:
            want[rnd] = c
    got = {
        r.seg_round: (r.cut_slot, r.sse_r)
        for r in ts_binary_segmentation(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for rnd, (cut, sse) in want.items():
        assert got[rnd][0] == cut
        assert math.isclose(got[rnd][1], sse, abs_tol=1e-4)


def test_spectral_entropy_matches_python(spark, events):
    daily = Counter(r.ts.strftime("%Y-%m-%d") for r in events)
    cnts = [daily[d] for d in sorted(daily)]
    n = len(cnts)
    powers = []
    for k in range(1, _DFT_FREQS + 1):
        cs = sum(
            c * math.floor(math.cos(2 * math.pi * k * t / n) * 1e6 + 0.5)
            for t, c in enumerate(cnts)
        )
        ss = sum(
            c * math.floor(math.sin(2 * math.pi * k * t / n) * 1e6 + 0.5)
            for t, c in enumerate(cnts)
        )
        powers.append(float(cs) * cs + float(ss) * ss)
    tot = sum(powers)
    h = -sum((p / tot) * math.log(p / tot) for p in powers if p > 0) / math.log(
        _DFT_FREQS
    )
    dom = 1 + powers.index(max(powers))
    row = ts_spectral_entropy(spark, SF_SMOKE).collect()[0]
    assert row.n_freqs == _DFT_FREQS
    assert math.isclose(row.spectral_entropy_r, h, abs_tol=1e-6)
    assert row.dominant_k == dom
    assert 0.0 <= row.spectral_entropy_r <= 1.0


def test_ewma_fold_matches_sequential_python(spark, events):
    out = {r.user_id: r for r in ts_ewma_smoothing(spark, SF_SMOKE).collect()}
    by_user: dict[int, list] = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        acc = rows[0].value
        for r in rows[1:]:
            acc = acc * 0.75 + 0.25 * r.value
        assert out[uid].n_events == len(rows)
        assert abs(out[uid].ewma_value - round(acc, 6)) < 1e-9, uid
