"""Round-5 batch-81 operators on crafted inputs, verified against
independent Python computations: its_known_break (segmented-OLS
interrupted time series with level/slope decomposition),
gwet_ac1_gates (AC1 vs Fleiss over the shared 3-gate flags),
gpd_pot_fit (Hosking-Wallis PWM generalized Pareto over threshold
exceedances).  Plan pins at the bottom."""

from __future__ import annotations

import datetime
import hashlib
import math
import re

from pdf_extractor_spark.queries import (
    q_gpd_pot_fit,
    q_gwet_ac1_gates,
    q_its_known_break,
)


def _r(x, n=4):
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-n)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _write_day_counts(spark, path, counts):
    ev, eid = [], 0
    base = datetime.date(2024, 3, 1)
    for day, cnt in enumerate(counts):
        d = base + datetime.timedelta(days=day)
        for _ in range(cnt):
            eid += 1
            ev.append((eid, eid % 40, "click",
                       datetime.datetime(d.year, d.month, d.day, 10, 0),
                       1.0))
    spark.createDataFrame(
        ev,
        "event_id bigint, user_id bigint, event_type string,"
        " ts timestamp, value double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


# --------------------------------------------------------------------- ITS


def _ols(pairs):
    m = len(pairs)
    mt = sum(t for t, _ in pairs) / m
    mc = sum(c for _, c in pairs) / m
    sxx = sum(t * t for t, _ in pairs) - m * mt * mt
    sxy = sum(t * c for t, c in pairs) - m * mt * mc
    syy = sum(c * c for _, c in pairs) - m * mc * mc
    b = sxy / sxx
    return mc - b * mt, b, (syy - sxy * sxy / sxx) / (m - 2), sxx, m, mt


def _its_ref(counts):
    cs = [float(c) for c in counts]
    n = len(cs)
    tb = n // 2
    a1, b1, s21, sxx1, m1, mt1 = _ols(
        [(t + 1.0, c) for t, c in enumerate(cs[:tb])])
    a2, b2, s22, sxx2, m2, mt2 = _ols(
        [(t + 1.0 + tb, c) for t, c in enumerate(cs[tb:])])
    tbp = tb + 0.5
    jump = (a2 + b2 * tbp) - (a1 + b1 * tbp)
    se_j = math.sqrt(s21 * (1 / m1 + (tbp - mt1) ** 2 / sxx1)
                     + s22 * (1 / m2 + (tbp - mt2) ** 2 / sxx2))
    ds = b2 - b1
    se_ds = math.sqrt(s21 / sxx1 + s22 / sxx2)
    sig_s, sig_j = abs(ds) > 1.96 * se_ds, abs(jump) > 1.96 * se_j
    verdict = ("level_and_slope_change" if sig_s and sig_j
               else "level_change" if sig_j
               else "slope_change" if sig_s
               else "no_break_detected")
    return (n, tb, _r(b1), _r(b2), _r(ds), _r(ds - 1.96 * se_ds),
            _r(ds + 1.96 * se_ds), _r(jump), _r(jump - 1.96 * se_j),
            _r(jump + 1.96 * se_j), verdict)


def test_its_level_and_slope(spark, tmp_path):
    counts = [50 + 2 * d + (d * 7) % 3 for d in range(20)] \
        + [140 + 8 * d + (d * 7) % 3 for d in range(20)]
    _write_day_counts(spark, tmp_path, counts)
    got = q_its_known_break(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert tuple(got[0]) == _its_ref(counts)
    assert got[0]["verdict"] == "level_and_slope_change"
    assert got[0]["slope_change_lo95"] > 0
    assert got[0]["level_jump_lo95"] > 0


def test_its_pure_level_jump(spark, tmp_path):
    # same slope both halves, +200 level at the break
    counts = [50 + 3 * d + (d * 7) % 3 for d in range(15)] \
        + [250 + 3 * d + (d * 7) % 3 for d in range(15, 30)]
    _write_day_counts(spark, tmp_path, counts)
    r = q_its_known_break(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _its_ref(counts)
    assert r["verdict"] == "level_change"


def test_its_no_break(spark, tmp_path):
    counts = [60 + 2 * d + (d * 11) % 5 for d in range(30)]
    _write_day_counts(spark, tmp_path, counts)
    r = q_its_known_break(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _its_ref(counts)
    assert r["verdict"] == "no_break_detected"



def test_its_five_days_or_fewer_is_degenerate_on_both_engines(spark, tmp_path):
    """5 days split 2 + 3: the first segment has no residual variance
    (m - 2 = 0); 2 days split 1 + 1 has Sxx = 0 as well.  Both engines
    return NULL estimates and the 'degenerate' verdict, never a
    divide-by-zero."""
    import duckdb

    from pdf_extractor_spark.queries import ORACLE_ITS_KNOWN_BREAK

    for counts in ([5, 9, 4, 12, 7], [3, 8]):
        _write_day_counts(spark, tmp_path, counts)
        got = q_its_known_break(spark, str(tmp_path)).collect()
        con = duckdb.connect()
        con.sql("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet/*.parquet')")
        want = con.sql(ORACLE_ITS_KNOWN_BREAK).fetchall()
        assert len(got) == 1 and len(want) == 1
        r = got[0]
        assert r["n_days"] == len(counts)
        assert r["verdict"] == "degenerate"
        assert r["slope_change_lo95"] is None and r["level_jump_lo95"] is None
        assert tuple(r) == tuple(want[0])

# ---------------------------------------------------------------- Gwet AC1


def _md5u(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _toks(t):
    return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]


def _write_docs(spark, path, rows):
    """rows: (doc_id, text, n_chars)"""
    spark.createDataFrame(
        [(i, t, "en", "s", n) for i, t, n in rows],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _flags(t, nc):
    score = sum(_md5u("w:%d" % (_md5u(w) % 4096)) % 2001 - 1000
                for w in _toks(t))
    punct = len(re.findall(r"[.!?,;:]", t))
    return (1 if 200 <= nc <= 50000 else 0,
            1 if 0.005 <= punct / max(len(t), 1) <= 0.2 else 0,
            1 if score >= 0 else 0)


def _ac1_ref(rows):
    fl = [_flags(t, nc) for _i, t, nc in rows]
    n = len(fl)
    pi = sum(sum(f) for f in fl) / (3 * n)
    pa = sum((sum(f) ** 2 + (3 - sum(f)) ** 2 - 3) / 6.0
             for f in fl) / n
    pef = pi * pi + (1 - pi) ** 2
    peg = 2 * pi * (1 - pi)
    kap = (pa - pef) / (1 - pef)
    ac1 = (pa - peg) / (1 - peg)
    verdict = ("kappa_depressed_by_prevalence" if ac1 - kap > 0.2
               else "agreement_measures_concur")
    return (n, _r(pi), _r(pa), _r(kap), _r(ac1), _r(ac1 - kap), verdict)


_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa"
          " lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def test_ac1_skewed_prevalence_paradox(spark, tmp_path):
    # nearly all docs pass all gates -> Fleiss collapses, AC1 holds
    rows = []
    for i in range(1, 121):
        t = " ".join(_WORDS[(i + j) % len(_WORDS)]
                     for j in range(3 + i % 5)) + ". ok!"
        rows.append((i, t, 150 + (i * 37) % 60000))
    _write_docs(spark, tmp_path, rows)
    got = q_gwet_ac1_gates(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert tuple(got[0]) == _ac1_ref(rows)
    assert got[0]["verdict"] == "kappa_depressed_by_prevalence"
    assert got[0]["gwet_ac1"] > got[0]["fleiss_kappa"]


def test_ac1_balanced_measures_concur(spark, tmp_path):
    # engineered ~50/50 prevalence with correlated gates: both
    # measures should roughly agree (gap <= 0.2)
    goods = [w for w in _WORDS
             if sum(_md5u("w:%d" % (_md5u(w2) % 4096)) % 2001 - 1000
                    for w2 in [w]) >= 0]
    bads = [w for w in _WORDS if w not in goods]
    rows = []
    for i in range(1, 161):
        if i % 2 == 0:
            rows.append((i, goods[i % len(goods)] + ". yes!", 500))
        else:
            rows.append((i, bads[i % len(bads)] * 1, 50))  # short + fail
    _write_docs(spark, tmp_path, rows)
    r = q_gwet_ac1_gates(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _ac1_ref(rows)
    assert r["verdict"] == "agreement_measures_concur"


# --------------------------------------------------------------------- GPD


def _gpd_ref(counts):
    cs = sorted(float(c) for c in counts)
    n = len(cs)
    pos = (n - 1) * 0.80
    lo, hi = cs[int(math.floor(pos))], cs[int(math.ceil(pos))]
    u = lo + (hi - lo) * (pos - math.floor(pos))
    exc = sorted(x - u for x in cs if x > u)
    k = len(exc)
    b0 = sum(exc) / k
    b1 = sum((1 - (i - 0.35) / k) * e for i, e in enumerate(exc, 1)) / k
    xi = 2 - b0 / (b0 - 2 * b1)
    beta = 2 * b0 * b1 / (b0 - 2 * b1)
    rl = u + beta / xi * ((10.0 * k / n) ** xi - 1)
    verdict = ("heavy_tail" if xi > 0.1
               else "bounded_tail" if xi < -0.1
               else "exponential_tail")
    return (n, _r(u, 2), k, _r(xi), _r(beta), _r(rl, 2), verdict)


def test_gpd_heavy_tail(spark, tmp_path):
    # power-law-ish spikes on a flat base
    counts = [60 + (d * 7) % 9 for d in range(36)] \
        + [140, 190, 320, 700]
    _write_day_counts(spark, tmp_path, counts)
    got = q_gpd_pot_fit(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert tuple(got[0]) == _gpd_ref(counts)
    assert got[0]["verdict"] == "heavy_tail"
    assert got[0]["return_level_10x"] > got[0]["threshold_p80"]


def test_gpd_bounded_tail(spark, tmp_path):
    # uniform-ish counts: exceedances taper linearly -> xi < 0
    counts = [100 + (d * 13) % 40 for d in range(40)]
    _write_day_counts(spark, tmp_path, counts)
    r = q_gpd_pot_fit(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _gpd_ref(counts)
    assert r["gpd_shape_xi"] < 0.1


# ------------------------------------------------------------ plan shapes


def test_plans_single_scan_no_cartesian(spark, tmp_path):
    _write_day_counts(spark, tmp_path, [30 + d for d in range(20)])
    for fn in (q_its_known_break, q_gpd_pot_fit):
        plan = fn(spark, str(tmp_path))._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Scan parquet") <= 1, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
    _write_docs(spark, tmp_path,
                [(i, _WORDS[i % len(_WORDS)] + ".", 300)
                 for i in range(1, 40)])
    plan = q_gwet_ac1_gates(spark, str(tmp_path))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan parquet") <= 1
    assert "CartesianProduct" not in plan
