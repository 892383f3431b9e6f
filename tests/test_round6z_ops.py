"""Round-5 batch-79 operators on crafted inputs, verified against
independent Python computations: scd2_user_state (CDC change-log to
type-2 dimension intervals), ingest_completeness_grid (densified
day-by-type absence audit), distance_concentration_audit (Beyer
relative-contrast diagnostic on a fixed-size md5 sample).  Plan pins
at the bottom."""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import defaultdict

from pdf_extractor_spark.queries import (
    q_distance_concentration_audit,
    q_ingest_completeness_grid,
    q_scd2_user_state,
)


def _r(x, n=4):
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-n)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _md5u(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _write_events(spark, path, ev):
    """ev: (event_id, user_id, event_type, datetime)"""
    spark.createDataFrame(
        [(e, u, t, ts, 1.0) for e, u, t, ts in ev],
        "event_id bigint, user_id bigint, event_type string,"
        " ts timestamp, value double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


# -------------------------------------------------------------------- SCD2


def _scd2_ref(ev):
    bu = defaultdict(list)
    for e, u, t, ts in ev:
        bu[u].append((ts, e, t))
    out = []
    for u in sorted(bu):
        ch, prev = [], None
        for ts, _e, t in sorted(bu[u]):
            if prev is None or t != prev:
                ch.append((ts, t))
            prev = t
        for i, (ts, st) in enumerate(ch, 1):
            vt = ch[i][0] if i < len(ch) else None
            out.append((u, st, int(ts.timestamp()),
                        int(vt.timestamp()) if vt else None, i,
                        1 if vt is None else 0))
    return out


def _mk_state_log():
    base = datetime.datetime(2024, 3, 4, 9, 0)
    ev, eid = [], 0
    for day in range(14):
        for u in range(1, 7):
            eid += 1
            st = ["view", "click", "purchase"][(u + day // 4) % 3]
            ev.append((eid, u, st,
                       base + datetime.timedelta(days=day, minutes=u)))
    return ev


def test_scd2_matches_reference(spark, tmp_path):
    ev = _mk_state_log()
    _write_events(spark, tmp_path, ev)
    got = q_scd2_user_state(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in got] == _scd2_ref(ev)
    # exactly one open version per user
    cur = [r for r in got if r["is_current"] == 1]
    assert len(cur) == 6
    assert all(r["valid_to_epoch"] is None for r in cur)


def test_scd2_collapses_cdc_noise(spark, tmp_path):
    # the same state re-emitted 50x must NOT open new versions
    base = datetime.datetime(2024, 3, 4, 9, 0)
    ev = [(i, 1, "view", base + datetime.timedelta(minutes=i))
          for i in range(1, 51)]
    ev.append((51, 1, "click", base + datetime.timedelta(minutes=51)))
    ev += [(51 + i, 1, "click",
            base + datetime.timedelta(minutes=51 + i))
           for i in range(1, 20)]
    _write_events(spark, tmp_path, ev)
    got = q_scd2_user_state(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in got] == _scd2_ref(ev)
    assert len(got) == 2            # view then click, nothing else
    assert got[0]["valid_to_epoch"] == got[1]["valid_from_epoch"]


def test_scd2_interval_contiguity(spark, tmp_path):
    ev = _mk_state_log()
    _write_events(spark, tmp_path, ev)
    got = q_scd2_user_state(spark, str(tmp_path)).collect()
    by_user = defaultdict(list)
    for r in got:
        by_user[r["user_id"]].append(r)
    for rows in by_user.values():
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to_epoch"] == b["valid_from_epoch"]
            assert a["version"] + 1 == b["version"]



def test_scd2_same_ts_changes_tie_break_on_event_id_both_engines(spark, tmp_path):
    """User 1 changes state twice at one ts (view -> click -> purchase,
    the last two at 09:05): event_id orders them, so both engines give
    the same versions and boundaries."""
    import duckdb

    from pdf_extractor_spark.queries import ORACLE_SCD2_USER_STATE

    base = datetime.datetime(2024, 3, 4, 9, 0)
    tie = base + datetime.timedelta(minutes=5)
    ev = [(1, 1, "view", base), (3, 1, "purchase", tie), (2, 1, "click", tie),
          (4, 1, "purchase", base + datetime.timedelta(minutes=9)),
          (5, 2, "view", base), (6, 2, "click", tie)]
    _write_events(spark, tmp_path, ev)
    got = [tuple(r) for r in q_scd2_user_state(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql("CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet/*.parquet')")
    want = [tuple(r) for r in con.sql(ORACLE_SCD2_USER_STATE).fetchall()]
    assert got == want == _scd2_ref(ev)
    t = int(tie.timestamp())
    assert got[:3] == [(1, "view", int(base.timestamp()), t, 1, 0),
                       (1, "click", t, t, 2, 0),
                       (1, "purchase", t, None, 3, 1)]

# ---------------------------------------------------- completeness grid


def _grid_ref(ev):
    cells = defaultdict(float)
    for _e, _u, t, ts in ev:
        cells[(int(ts.timestamp()) // 86400, t)] += 1
    d0 = min(d for d, _ in cells)
    d1 = max(d for d, _ in cells)
    types = sorted({t for _, t in cells})

    def med(xs):
        xs = sorted(xs)
        mid = (len(xs) - 1) / 2
        lo, hi = xs[int(math.floor(mid))], xs[int(math.ceil(mid))]
        return lo + (hi - lo) * (mid - math.floor(mid))

    meds = {t: med([c for (d, t2), c in cells.items() if t2 == t])
            for t in types}
    nc = nm = nu = nok = 0
    for d in range(d0, d1 + 1):
        for t in types:
            c = cells.get((d, t), 0.0)
            nc += 1
            if c == 0:
                nm += 1
            elif c < 0.5 * meds[t]:
                nu += 1
            if c >= 0.5 * meds[t]:
                nok += 1
    verdict = "ingest_complete" if nm == 0 and nu == 0 else "holes_found"
    return (nc, nm, nu, _r(nok / nc), verdict)


def _mk_grid_events(hole_day=None, thin_day=None):
    base = datetime.datetime(2024, 3, 4, 10, 0)
    ev, eid = [], 0
    for day in range(12):
        for t in ("view", "click"):
            if day == hole_day and t == "click":
                continue
            n = 2 if (day == thin_day and t == "view") else 20 + day % 3
            for _ in range(n):
                eid += 1
                ev.append((eid, eid % 9, t,
                           base + datetime.timedelta(days=day)))
    return ev


def test_grid_complete_feed(spark, tmp_path):
    ev = _mk_grid_events()
    _write_events(spark, tmp_path, ev)
    got = q_ingest_completeness_grid(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert tuple(got[0]) == _grid_ref(ev)
    assert got[0]["verdict"] == "ingest_complete"
    assert got[0]["n_cells"] == 24


def test_grid_detects_hole_and_thin_day(spark, tmp_path):
    ev = _mk_grid_events(hole_day=5, thin_day=8)
    _write_events(spark, tmp_path, ev)
    r = q_ingest_completeness_grid(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _grid_ref(ev)
    assert r["verdict"] == "holes_found"
    assert r["n_missing"] == 1 and r["n_underfilled"] == 1


def test_grid_spans_past_400_days_both_engines(spark, tmp_path):
    """Full feed on days 0-399, nothing on days 400-449, events again on
    day 450: the grid covers all 451 days, so the 50-day gap is found."""
    import duckdb

    from pdf_extractor_spark.queries import ORACLE_INGEST_COMPLETENESS_GRID

    base = datetime.datetime(2024, 3, 4, 10, 0)
    ev = [(d + 1, d % 9, "view", base + datetime.timedelta(days=d))
          for d in (*range(400), 450)]
    _write_events(spark, tmp_path, ev)
    got = tuple(q_ingest_completeness_grid(spark, str(tmp_path)).collect()[0])
    con = duckdb.connect()
    con.sql("CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/events.parquet/*.parquet')")
    want = tuple(con.sql(ORACLE_INGEST_COMPLETENESS_GRID).fetchall()[0])
    assert got == want == _grid_ref(ev)
    assert got[:2] == (451, 50)
    assert got[-1] == "holes_found"


# ------------------------------------------------ distance concentration


def _write_embeddings(spark, path, vecs):
    spark.createDataFrame(
        [(vid, [float(x) for x in v], lab) for vid, v, lab in vecs],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/embeddings.parquet")


def _dconc_ref(vecs):
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    ranked = sorted(vecs, key=lambda t: (_md5u(str(t[0])), t[0]))[:64]
    emap = {vid: [f32(x) for x in v] for vid, v, _ in ranked}
    dists = []
    for i in sorted(emap):
        for j in sorted(emap):
            if j > i:
                dists.append(round(math.sqrt(sum(
                    (a - b) ** 2 for a, b in zip(emap[i], emap[j]))), 6))
    np_ = len(dists)
    dmin, dmax = min(dists), max(dists)
    md = sum(dists) / np_
    sd = math.sqrt(sum((x - md) ** 2 for x in dists) / (np_ - 1))
    verdict = ("distances_concentrated" if sd / md < 0.1
               else "contrast_healthy")
    return (np_, _r(dmin), _r(dmax), _r((dmax - dmin) / dmin),
            _r(sd / md), verdict)


def test_dconc_spread_space(spark, tmp_path):
    vecs = [(vid,
             [math.sin(vid * 0.37 + j * 0.91) * (1 + 0.1 * ((vid + j) % 5))
              for j in range(16)],
             vid % 3) for vid in range(1, 41)]
    _write_embeddings(spark, tmp_path, vecs)
    got = q_distance_concentration_audit(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert tuple(got[0]) == _dconc_ref(vecs)
    assert got[0]["verdict"] == "contrast_healthy"


def test_dconc_concentrated_space(spark, tmp_path):
    # high-dim near-orthogonal noise: all pairwise distances nearly
    # equal -> relative variance collapses
    vecs = []
    for vid in range(1, 41):
        v = [1.0 if j == vid % 32 else 0.01 * ((vid * 7 + j) % 3)
             for j in range(32)]
        vecs.append((vid, v, 0))
    _write_embeddings(spark, tmp_path, vecs)
    r = q_distance_concentration_audit(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _dconc_ref(vecs)
    assert r["verdict"] == "distances_concentrated"


def test_dconc_sample_is_capped(spark, tmp_path):
    vecs = [(vid, [vid * 0.013 + j for j in range(8)], 0)
            for vid in range(1, 201)]
    _write_embeddings(spark, tmp_path, vecs)
    r = q_distance_concentration_audit(spark, str(tmp_path)).collect()[0]
    assert tuple(r) == _dconc_ref(vecs)
    assert r["n_pairs"] == 64 * 63 // 2   # fixed-size regardless of corpus


# ------------------------------------------------------------ plan shapes


def test_plans_bounded_no_cartesian(spark, tmp_path):
    ev = _mk_state_log()
    _write_events(spark, tmp_path, ev)
    for fn in (q_scd2_user_state, q_ingest_completeness_grid):
        plan = fn(spark, str(tmp_path))._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Scan parquet") <= 1, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
    vecs = [(vid, [float(j) for j in range(8)], 0)
            for vid in range(1, 30)]
    _write_embeddings(spark, tmp_path, vecs)
    plan = q_distance_concentration_audit(spark, str(tmp_path)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1
    assert "CartesianProduct" not in plan
