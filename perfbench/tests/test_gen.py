"""Tests of the benchmark's seeded generator.

    python3 -m pytest perfbench/tests

Determinism runs everywhere. The fidelity test compares the generator at
its default (sf0.1) sizes with the project's sf0.1 fixture tables: by
default `testdata/sf0.1` beside the repository, where the project's
specs read the fixtures; GRAFT_FIXTURE_DIR overrides it. It is skipped
only when those files are absent.
"""
import os
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SMALL = dict(customers=150, suppliers=10, parts=200, orders=1500,
             lineitems=6000, events=1000, users=15, documents=100,
             embeddings=50, user_skew=1.1, late_share=0.05)


def write(seed, **kw):
    d = tempfile.mkdtemp(prefix="perfbench-gen-")
    gen.generate(d, seed, **kw)
    return d


def tables(d):
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in TABLES}


def test_same_seed_same_data():
    a, b = tables(write(7, **SMALL)), tables(write(7, **SMALL))
    for t in TABLES:
        assert a[t].equals(b[t]), t


def test_other_seed_other_data():
    a, b = tables(write(7, **SMALL)), tables(write(8, **SMALL))
    differ = [t for t in TABLES if not a[t].equals(b[t])]
    # region and nation are fixed dimension tables
    assert set(differ) == set(TABLES) - {"region", "nation"}


def test_planted_properties():
    d = tables(write(3, **SMALL))
    ev = d["events"].to_pandas()
    # out-of-order share: events below the running maximum of ts
    late = (ev.ts < ev.ts.cummax().shift(fill_value=ev.ts.min())).mean()
    assert 0.02 < late < 0.08
    counts = ev.user_id.value_counts()
    assert counts.iloc[0] > 3 * counts.median()  # skewed keys


def fixture_dir():
    d = os.environ.get("GRAFT_FIXTURE_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(BENCH)), "testdata", "sf0.1")
    if not all(os.path.isfile(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        pytest.skip(f"the sf0.1 fixture tables are not in {d}")
    return d


def profile(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    q = lambda s: con.execute(s).fetchone()  # noqa: E731
    p = {f"rows.{t}": q(f"SELECT count(*) FROM {t}")[0] for t in TABLES}
    for t, k in [("orders", "o_custkey"), ("lineitem", "l_orderkey"),
                 ("lineitem", "l_partkey"), ("lineitem", "l_suppkey"),
                 ("events", "user_id"), ("customer", "c_nationkey"),
                 ("part", "p_name"), ("part", "p_brand")]:
        p[f"distinct.{t}.{k}"] = q(f"SELECT count(DISTINCT {k}) FROM {t}")[0]
    p["docs.chars_p10"], p["docs.chars_p50"], p["docs.chars_p90"] = q(
        "SELECT quantile_cont(n_chars, 0.1), quantile_cont(n_chars, 0.5), "
        "quantile_cont(n_chars, 0.9) FROM documents")
    p["docs.near_dup_rate"] = q(
        "SELECT avg(CASE WHEN text LIKE '% dup' THEN 1.0 ELSE 0 END) FROM documents")[0]
    p["docs.exact_dup_rate"] = q(
        "SELECT 1 - count(DISTINCT text) / count(*) FROM documents")[0]
    for et in ["click", "error", "purchase", "signup", "view"]:
        p[f"events.share.{et}"] = q(
            f"SELECT avg(CASE WHEN event_type = '{et}' THEN 1.0 ELSE 0 END) FROM events")[0]
    lo, hi = q("SELECT min(ts), max(ts) FROM events")
    p["events.span_days"] = (hi - lo).total_seconds() / 86400
    p["events.start_day"] = lo.date().toordinal()
    p["embeddings.dim"] = q("SELECT min(len(embedding)) FROM embeddings")[0]
    p["embeddings.dim_max"] = q("SELECT max(len(embedding)) FROM embeddings")[0]
    return p


# Stated tolerances: relative for counts and lengths, absolute for shares.
EXACT = ("rows.", "embeddings.dim", "events.start_day")
SHARE_TOL = {"docs.near_dup_rate": 0.01, "docs.exact_dup_rate": 0.003,
             "events.share.": 0.01}
REL_TOL = 0.03


def test_fidelity_against_fixture():
    want = profile(fixture_dir())
    got = profile(write(42))
    for k, w in want.items():
        g = got[k]
        if k.startswith(EXACT):
            assert g == w, (k, g, w)
        elif any(k.startswith(s) for s in SHARE_TOL):
            tol = next(v for s, v in SHARE_TOL.items() if k.startswith(s))
            assert abs(g - w) <= tol, (k, g, w)
        elif k == "events.span_days":
            assert abs(g - w) <= 0.1, (k, g, w)
        else:
            assert abs(g - w) <= REL_TOL * w, (k, g, w)
