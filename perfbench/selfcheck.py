"""Self-checks of the benchmark's own code (no Spark, a few seconds):

    python3 perfbench/run.py --selfcheck

- the same seed gives a byte-identical project, tables and delta; a
  different seed gives different ones;
- percentile, quartile, tail and self-time arithmetic on fixed inputs;
- the DuckDB model emulation on a tiny fixed project.
"""
import hashlib
import os
import shutil
import sys
import tempfile

import checks
import gen
import stats

FAILURES = []


def expect(cond, what):
    if not cond:
        FAILURES.append(what)
        print(f"FAIL {what}", file=sys.stderr)


def digest_dir(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_determinism(tmp):
    def make(seed, tag):
        d = os.path.join(tmp, tag)
        base = gen.write_tables(seed, 0.0005, d)
        gen.write_delta(seed, 0, base, os.path.join(d, "delta0"))
        proj = gen.project(seed)
        gen.write_project(os.path.join(d, "project"), proj)
        gen.write_project(os.path.join(d, "edits"), gen.edits(seed, 0, proj))
        return digest_dir(d)
    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    expect(a == b, "same seed gives byte-identical inputs")
    expect(a != c, "different seeds give different inputs")
    expect(gen.project(7) != gen.project(11) or gen.edits(7, 0, gen.project(7))
           != gen.edits(11, 0, gen.project(11)), "project or edits depend on the seed")
    e = gen.edits(7, 1, gen.project(7))
    expect(2 <= len(e) <= 3, "an iteration edits 2-3 models")


def check_stats():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    expect(stats.median(xs) == 3.0, "median of 1..5 is 3")
    expect(stats.quartiles(xs) == (1.5, 3.0, 4.5), "quartiles of 1..5 (exclusive method)")
    v, pct, n = stats.tail([float(i) for i in range(1, 101)])
    expect((v, pct, n) == (90.0, 90.0, 100), "tail of 1..100 is p90 = 90 with 10 beyond")
    v, pct, n = stats.tail([3.0, 1.0, 2.0])
    expect((v, pct, n) == (3.0, 100.0, 3), "tail of few samples is the maximum")
    v, pct, n = stats.tail([float(i) for i in range(11)])
    expect((v, n) == (0.0, 11) and abs(pct - 100 / 11) < 1e-9, "tail with 11 samples")
    expect(stats.union_length([(0, 4), (2, 6), (8, 9)], 0, 10) == 7, "union of overlaps")
    expect(stats.union_length([(0, 4), (8, 12)], 1, 10) == 5, "union clipped to the span")
    spans = [
        {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
        {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 50},   # parallel children
        {"id": 3, "parent": 1, "start_ns": 30, "end_ns": 70},
        {"id": 4, "parent": 3, "start_ns": 40, "end_ns": 45},
        {"id": 5, "parent": 0, "start_ns": 200, "end_ns": 210},
    ]
    expect(stats.self_times(spans) == {1: 40, 2: 40, 3: 35, 4: 5, 5: 10},
           "self time subtracts the union of parallel children")
    expect(stats.layer_of("query.build:q_agg") == "query.build", "layer of a per-item span")


def check_emulation():
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE src AS SELECT * FROM (VALUES (1, 'a', 'I'), (2, 'b', 'I'), "
                "(3, 'c', 'I')) t(k, v, __cdc_operation)")
    files = {
        "models/x.sql": "-- config: materialized=cdc, unique_key=k\n"
                        "SELECT k, v, __cdc_operation FROM {{ source('raw', 'src') }}\n",
        "models/y.sql": "-- config: materialized=table\nSELECT COUNT(*) AS n FROM {{ ref('x') }}\n",
        "models/h.sql": "-- config: materialized=cdc_scd2, unique_key=k\n"
                        "SELECT k, v, __cdc_operation FROM {{ source('raw', 'src') }}\n",
    }
    models = checks.load_project(files)
    expect(checks.topo(models) == ["h", "x", "y"], "topological order")
    checks.build(con, models, list(models))
    expect(con.sql("SELECT n FROM m_y").fetchall() == [(3,)], "full build of a CDC model")
    con.execute("CREATE TABLE snap_x AS SELECT * FROM m_x")
    con.execute("CREATE TABLE snap_h AS SELECT * FROM m_h")
    con.execute("CREATE OR REPLACE TABLE src AS SELECT * FROM (VALUES (2, 'B', 'U'), "
                "(3, NULL, 'D'), (4, 'd', 'I')) t(k, v, __cdc_operation)")
    checks.build(con, models, ["x", "y", "h"], prior={"x": "snap_x", "h": "snap_h"})
    expect(con.sql("SELECT k, v FROM m_x ORDER BY k").fetchall() == [(1, "a"), (2, "B"), (4, "d")],
           "CDC merge applies I/U/D by key")
    expect(con.sql("SELECT COUNT(*), COUNT(obsolete_date) FROM m_h").fetchall() == [(5, 2)],
           "SCD2 retires updated and deleted keys and inserts new versions")
    base = checks.load_project(files)
    edited = checks.load_project(dict(files, **{"models/y.sql": files["models/y.sql"] + "-- r\n"}))
    expect(checks.expected_run_set(base, edited) == {"x", "y", "h"},
           "run set: edited models, CDC models and their upstreams")


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=build_dir)
    try:
        check_determinism(tmp)
        check_stats()
        check_emulation()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"selfcheck: {'ok' if not FAILURES else f'{len(FAILURES)} failed'}")
    return 1 if FAILURES else 0
