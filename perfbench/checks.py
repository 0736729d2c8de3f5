"""Output checks: every result the benchmark times is compared, untimed,
with DuckDB computing the same thing from the same parquet inputs."""
import datetime
import glob
import math
import os
import re

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float("%.9g" % v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "as_tuple"):  # Decimal
        return float("%.9g" % float(v))
    return v


def canonical(con, sql):
    """Rows of `sql` with columns in name order and rows sorted."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=repr)
    return [cols[i] for i in order], rows


def same(con, expected_sql, got_dir):
    """None when the parquet under `got_dir` equals `expected_sql`'s rows,
    otherwise a one-line reason."""
    files = glob.glob(os.path.join(got_dir, "*.parquet"))
    if not files:
        return "no output"
    ec, er = canonical(con, expected_sql)
    gc, gr = canonical(con, f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
    if ec != gc:
        return f"columns {ec} != {gc}"
    if len(er) != len(gr):
        return f"rows {len(er)} != {len(gr)}"
    for i, (a, b) in enumerate(zip(er, gr)):
        if a != b:
            return f"row {i}: {a!r} != {b!r}"
    return None


def connect(data_dir, extra=()):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in list(TABLES) + list(extra):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_queries(data_dir, check_dir, oracle):
    """{query: reason} for every query whose output differs from its
    oracle SQL; queries without oracle SQL only need an output."""
    con = connect(data_dir)
    bad = {}
    for q in sorted(os.listdir(check_dir)):
        d = os.path.join(check_dir, q)
        if not os.path.isdir(d):
            continue
        if q not in oracle:
            if not glob.glob(os.path.join(d, "*.parquet")):
                bad[q] = "no output"
            continue
        try:
            why = same(con, oracle[q], d)
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            why = f"oracle error: {e}"
        if why:
            bad[q] = why
    return bad


# ------------------------------------------------------------------ models
CONFIG = re.compile(r"^\s*--\s*config:\s*(.+?)\s*$", re.M)
COMMENT = re.compile(r"^\s*--.*$", re.M)
IF_INCR = re.compile(r"\{%\s*if\s+is_incremental\(\)\s*%\}(.*?)(?:\{%\s*else\s*%\}(.*?))?\{%\s*endif\s*%\}", re.S)
REF = re.compile(r"""\{\{\s*ref\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""")
SOURCE = re.compile(r"""\{\{\s*source\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)\s*\}\}""")
THIS = re.compile(r"\{\{\s*this\s*\}\}")


class Model:
    def __init__(self, name, text):
        self.name = name
        self.text = text
        self.cfg = {}
        for m in CONFIG.finditer(text):
            for pair in m.group(1).split(","):
                if "=" in pair:
                    k, v = pair.split("=", 1)
                    self.cfg[k.strip()] = v.strip()
        self.kind = self.cfg.get("materialized", "view")
        self.deps = sorted(set(REF.findall(text)))

    def render(self, incremental, this_view):
        out = COMMENT.sub("", self.text)
        out = IF_INCR.sub(lambda m: m.group(1) if incremental else (m.group(2) or ""), out)
        out = REF.sub(lambda m: f"m_{m.group(1)}", out)
        out = SOURCE.sub(lambda m: m.group(2), out)
        return THIS.sub(this_view, out).strip()


def load_project(files):
    return {os.path.basename(p)[:-4]: Model(os.path.basename(p)[:-4], t)
            for p, t in files.items() if p.endswith(".sql")}


def topo(models, subset=None):
    names = sorted(subset if subset is not None else models)
    done, order = set(), []
    while len(done) < len(names):
        level = [n for n in names if n not in done
                 and all(d in done or d not in names for d in models[n].deps)]
        if not level:
            raise ValueError("cycle in project")
        order.extend(level)
        done.update(level)
    return order


def closure(models, start, down):
    edges = {n: set() for n in models}
    for n, m in models.items():
        for d in m.deps:
            (edges[d] if down else edges[n]).add(n if down else d)
    seen, stack = set(), list(start)
    while stack:
        for x in edges[stack.pop()]:
            if x not in seen:
                seen.add(x)
                stack.append(x)
    return seen


def expected_run_set(base, edited):
    """Models an incremental iteration must run: the edited models and
    their dependents, every incremental/CDC model, and their upstreams."""
    changed = {n for n in edited if edited[n].text != base[n].text}
    targets = changed | closure(edited, changed, down=True)
    targets |= {n for n, m in edited.items() if m.kind in ("incremental", "cdc", "cdc_scd2")}
    return targets | closure(edited, targets, down=False)


BATCH_TS = "TIMESTAMP '1970-01-01 00:00:00'"


def build(con, models, names, prior=None):
    """Materialize `names` (in dependency order) as DuckDB tables m_<name>,
    with the strategies of graft's Materializer. `prior` maps a model to
    the table holding its previous content (an incremental run);
    without it every model is built from its inputs alone (a full refresh)."""
    for n in topo(models, names):
        m = models[n]
        old = (prior or {}).get(n)
        key = m.cfg.get("unique_key")
        if m.kind in ("cdc", "cdc_scd2"):
            body = m.render(False, f"m_{n}")
            con.execute(f"CREATE OR REPLACE TEMP VIEW batch_{n} AS SELECT * REPLACE "
                        f"(COALESCE(__cdc_operation, 'U') AS __cdc_operation) FROM ({body})")
        if m.kind in ("view", "table") or (m.kind == "incremental" and old is None):
            sql = m.render(False, f"m_{n}")
        elif m.kind == "cdc" and old is None:
            sql = f"SELECT * EXCLUDE (__cdc_operation) FROM batch_{n} WHERE __cdc_operation <> 'D'"
        elif m.kind == "cdc_scd2" and old is None:
            sql = (f"SELECT * EXCLUDE (__cdc_operation), {BATCH_TS} AS __cdc_timestamp, "
                   f"CAST(NULL AS TIMESTAMP) AS obsolete_date FROM batch_{n} "
                   f"WHERE __cdc_operation <> 'D'")
        elif m.kind == "incremental":
            strategy = m.cfg["incremental_strategy"]
            batch = m.render(True, old)
            if strategy == "time":
                tc = m.cfg["time_column"]
                sql = (f"SELECT * FROM {old} UNION ALL SELECT * FROM ({batch}) b "
                       f"WHERE b.{tc} > (SELECT MAX({tc}) FROM {old})")
            elif strategy == "append":
                sql = f"SELECT * FROM {old} UNION ALL SELECT * FROM ({batch}) b"
            else:
                sql = (f"SELECT * FROM {old} WHERE {key} NOT IN (SELECT {key} FROM ({batch}) k) "
                       f"UNION ALL BY NAME SELECT * FROM ({batch}) b")
        elif m.kind == "cdc":
            sql = (f"SELECT * FROM {old} WHERE {key} NOT IN (SELECT {key} FROM batch_{n}) "
                   f"UNION ALL BY NAME SELECT * EXCLUDE (__cdc_operation) FROM batch_{n} "
                   f"WHERE __cdc_operation <> 'D'")
        else:  # cdc_scd2
            changed = f"(SELECT {key} FROM batch_{n} WHERE __cdc_operation IN ('U', 'D', 'E'))"
            sql = (f"SELECT * REPLACE (CASE WHEN obsolete_date IS NULL AND {key} IN {changed} "
                   f"THEN {BATCH_TS} ELSE obsolete_date END AS obsolete_date) FROM {old} "
                   f"UNION ALL BY NAME SELECT * EXCLUDE (__cdc_operation), "
                   f"{BATCH_TS} AS __cdc_timestamp, CAST(NULL AS TIMESTAMP) AS obsolete_date "
                   f"FROM batch_{n} WHERE __cdc_operation IN ('I', 'U')")
        con.execute(f"CREATE OR REPLACE TABLE m_{n} AS {sql}")


def check_models(con, models, check_dir, names):
    bad = {}
    for n in sorted(names):
        try:
            why = same(con, f"SELECT * FROM m_{n}", os.path.join(check_dir, n))
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            why = f"check error: {e}"
        if why:
            bad[n] = why
    return bad


def check_full(data_dir, project_files, check_dir):
    models = load_project(project_files)
    con = connect(data_dir, ("orders_cdc", "events_cdc"))
    build(con, models, list(models))
    return check_models(con, models, check_dir, models)


def check_incremental(data_dir, delta_dir, base_files, edited_files, check_dir, ran):
    """Build the post-build snapshot from the base data and project, then
    apply the iteration (delta sources, edited project) to it, and compare
    the models the iteration ran. `ran` is what the program reports having
    run; a different set is itself a failed check."""
    base = load_project(base_files)
    edited = load_project(edited_files)
    con = connect(data_dir, ("orders_cdc", "events_cdc"))
    build(con, base, list(base))
    for n in base:
        con.execute(f"ALTER TABLE m_{n} RENAME TO snap_{n}")
    want = expected_run_set(base, edited)
    bad = {}
    if set(ran) != want:
        bad["run_set"] = f"ran {sorted(set(ran) ^ want)} unexpectedly"
    for t in ("orders", "events", "orders_cdc", "events_cdc"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{delta_dir}/{t}.parquet'")
    for n in base:
        if n not in want:
            con.execute(f"CREATE OR REPLACE VIEW m_{n} AS SELECT * FROM snap_{n}")
    build(con, edited, sorted(want), prior={n: f"snap_{n}" for n in want})
    bad.update(check_models(con, edited, check_dir, want & set(ran)))
    return bad
