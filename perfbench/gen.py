"""Seeded input generation for the graft benchmark.

Everything the program under test reads is made here from the run's
seed: the ten source tables (the same schema and shape as the repo's
testdata), the model project, and the per-iteration source deltas with
their CDC feeds. The same seed gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table, path):
    # Fixed writer settings, no pandas metadata: identical bytes per seed.
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, sf):
    """The ten source tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng([seed, 1])
    n = lambda k: max(1, int(round(k * sf)))  # noqa: E731
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb = max(500, n(5_000_000) // 100), max(500, n(20_000))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp))})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US)})
    t["events"] = _events(rng, 0, n_ev, max(15, n_ev // 66), EPOCH_2024,
                          30 * DAY_US)
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
    return t


def _events(rng, first_id, n, n_users, start_us, span_us):
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    tables = base_tables(seed, sf)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    # Initial CDC feeds: every row as an insert.
    for src, feed in (("orders", "orders_cdc"), ("events", "events_cdc")):
        _write(_with_op(tables[src], "I"), os.path.join(out_dir, f"{feed}.parquet"))
    return tables


def _with_op(table, op):
    return table.append_column("__cdc_operation", pa.array([op] * table.num_rows, pa.string()))


def write_delta(seed, k, base, out_dir):
    """Delta `k` on orders and events: 1% of the rows, split evenly
    between inserts, updates and deletes. Writes the post-delta source
    tables and the delta as a CDC feed (one row per touched key)."""
    rng = np.random.default_rng([seed, 100 + k])
    os.makedirs(out_dir, exist_ok=True)
    for name, key in (("orders", "o_orderkey"), ("events", "event_id")):
        t = base[name]
        n = t.num_rows
        m = max(3, n // 300)
        touched = rng.choice(n, 2 * m, replace=False)
        upd_idx, del_idx = np.sort(touched[:m]), np.sort(touched[m:])
        keys = t.column(key).to_numpy()
        if name == "orders":
            upd = t.take(upd_idx)
            upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice",
                                 pa.array(_cents(rng, 1000.0, 500000.0, m)))
            upd = upd.set_column(upd.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                                 _pick(rng, ["F", "O", "P"], m))
            n_cust = int(pa.compute.max(t.column("o_custkey")).as_py()) + 1
            ins = pa.table({
                "o_orderkey": pa.array(np.arange(keys.max() + 1, keys.max() + 1 + m, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, m, dtype=np.int64)),
                "o_orderstatus": _pick(rng, ["O", "P"], m),
                "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, m)),
                "o_orderdate": _ts(EPOCH_1995 + rng.integers(2404, 2434, m) * DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, m)})
        else:
            upd = t.take(upd_idx)
            upd = upd.set_column(upd.schema.get_field_index("value"), "value",
                                 pa.array(np.round(rng.exponential(50.0, m), 2)))
            n_users = int(pa.compute.max(t.column("user_id")).as_py()) + 1
            ins = _events(rng, int(keys.max()) + 1, m, n_users,
                          EPOCH_2024 + 30 * DAY_US, DAY_US)
        keep = np.ones(n, dtype=bool)
        keep[upd_idx] = False
        keep[del_idx] = False
        after = pa.concat_tables([t.filter(pa.array(keep)), upd, ins])
        after = after.sort_by(key)
        _write(after, os.path.join(out_dir, f"{name}.parquet"))
        feed = pa.concat_tables([_with_op(ins, "I"), _with_op(upd, "U"),
                                 _with_op(t.take(del_idx), "D")]).sort_by(key)
        _write(feed, os.path.join(out_dir, f"{name}_cdc.parquet"))


# --------------------------------------------------------------- projects
# Every model is written in the SQL both Spark and DuckDB accept, so the
# output check can re-run the generator's SQL in DuckDB.

def project(seed):
    """The model project as {relative_path: text}. Layered bronze views,
    silver tables (partitioned, sorted, bucketed, incremental, CDC, SCD2)
    and gold aggregates, each with declared tests. Filter thresholds, a
    sort key and the appended event types come from the seed; the shape
    of the project, which sets most of a run's cost, does not."""
    rng = np.random.default_rng([seed, 2])
    min_price = int(rng.integers(1000, 50000))
    min_qty = int(rng.integers(1, 6))
    seg_sort = str(rng.choice(["c_nationkey", "c_mktsegment"]))
    hot_types = sorted(rng.choice(EVENT_TYPES, 2, replace=False).tolist())
    m = {}

    def model(layer, name, header, body):
        m[f"models/{layer}/{name}.sql"] = header.strip() + "\n" + body.strip() + "\n"

    model("bronze", "b_orders", f"""
-- config: materialized=view
-- tags: bronze
""", f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM {{{{ source('raw', 'orders') }}}}
WHERE o_totalprice > {min_price}
""")
    model("bronze", "b_customer", """
-- config: materialized=view
-- tags: bronze
""", """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM {{ source('raw', 'customer') }}
""")
    model("bronze", "b_nation", """
-- config: materialized=view
-- tags: bronze
""", """
SELECT n.n_nationkey, n.n_name, r.r_name
FROM {{ source('raw', 'nation') }} n
JOIN {{ source('raw', 'region') }} r ON n.n_regionkey = r.r_regionkey
""")
    model("bronze", "b_lineitem", """
-- config: materialized=view
-- tags: bronze
""", f"""
SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_returnflag
FROM {{{{ source('raw', 'lineitem') }}}}
WHERE l_quantity >= {min_qty}
""")
    model("bronze", "b_events", """
-- config: materialized=view
-- tags: bronze
""", """
SELECT event_id, ts, user_id, event_type, value
FROM {{ source('raw', 'events') }}
""")
    model("bronze", "b_part", """
-- config: materialized=view
-- tags: bronze
""", """
SELECT p_partkey, p_brand, p_type, p_size
FROM {{ source('raw', 'part') }}
""")
    model("silver", "s_orders_year", """
-- config: materialized=table, partition_by=o_year
-- tags: silver
-- test: not_null(o_orderkey)
-- test: unique(o_orderkey)
-- test: accepted_values(o_orderstatus, F|O|P)
""", """
SELECT o_orderkey, o_custkey, o_orderstatus,
  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
  YEAR(o_orderdate) AS o_year
FROM {{ ref('b_orders') }}
""")
    model("silver", "s_customer", f"""
-- config: materialized=table, sort_by={seg_sort}
-- tags: silver
-- test: unique(c_custkey)
-- test: relationships(c_nationkey, b_nation, n_nationkey)
""", """
SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, n.r_name,
  CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM {{ ref('b_customer') }} c
JOIN {{ ref('b_nation') }} n ON c.c_nationkey = n.n_nationkey
""")
    model("silver", "s_lineitem_b", f"""
-- config: materialized=table, bucket_by=l_orderkey, buckets=4
-- tags: silver
-- test: not_null(l_orderkey)
-- test: range(l_quantity, 1, 50)
""", """
SELECT l_orderkey, l_partkey, l_quantity, l_returnflag,
  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ext_cents
FROM {{ ref('b_lineitem') }}
""")
    model("silver", "s_orders_b", f"""
-- config: materialized=table, bucket_by=o_orderkey, buckets=4
-- tags: silver
-- test: unique(o_orderkey)
""", """
SELECT o_orderkey, o_custkey, o_orderpriority,
  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM {{ ref('b_orders') }}
""")
    model("silver", "s_part_dim", """
-- config: materialized=table, sort_by=p_brand
-- tags: silver
-- test: unique(p_partkey)
-- test: range(p_size, 1, 50)
""", """
SELECT p_partkey, p_brand, p_type, p_size FROM {{ ref('b_part') }}
""")
    model("silver", "s_events_time", """
-- config: materialized=incremental, incremental_strategy=time, time_column=ts
-- tags: silver, incremental
-- test: not_null(event_id)
-- test: accepted_values(event_type, click|error|purchase|signup|view)
""", """
SELECT event_id, ts, user_id, event_type, value FROM {{ ref('b_events') }}
""")
    model("silver", "s_user_latest", """
-- config: materialized=incremental, incremental_strategy=unique_key, unique_key=user_id
-- tags: silver, incremental
-- test: unique(user_id)
""", """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM {{ source('raw', 'events') }}
  {% if is_incremental() %}WHERE ts > (SELECT MAX(ts) FROM {{ this }}){% endif %}
) t WHERE rn = 1
""")
    model("silver", "s_hot_events", f"""
-- config: materialized=incremental, incremental_strategy=append
-- tags: silver, incremental
-- test: accepted_values(event_type, {'|'.join(hot_types)})
""", f"""
SELECT event_id, user_id, event_type, value
FROM {{{{ source('raw', 'events') }}}}
WHERE event_type IN ('{hot_types[0]}', '{hot_types[1]}')
{{% if is_incremental() %}}AND event_id > (SELECT MAX(event_id) FROM {{{{ this }}}}){{% endif %}}
""")
    model("silver", "s_orders_cdc", """
-- config: materialized=cdc, unique_key=o_orderkey
-- tags: silver, cdc
-- test: unique(o_orderkey)
""", """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, __cdc_operation
FROM {{ source('raw', 'orders_cdc') }}
""")
    model("silver", "s_orders_scd2", """
-- config: materialized=cdc_scd2, unique_key=o_orderkey
-- tags: silver, cdc
-- test: not_null(o_orderkey)
""", """
SELECT o_orderkey, o_orderstatus, o_totalprice, __cdc_operation
FROM {{ source('raw', 'orders_cdc') }}
""")
    model("silver", "s_events_cdc", """
-- config: materialized=cdc, unique_key=event_id, partition_by=event_type
-- tags: silver, cdc
-- test: unique(event_id)
""", """
SELECT event_id, user_id, event_type, value, __cdc_operation
FROM {{ source('raw', 'events_cdc') }}
""")
    model("silver", "s_cust_orders", """
-- config: materialized=table, partition_by=c_mktsegment
-- tags: silver
-- test: not_null(o_orderkey)
-- test: relationships(o_custkey, s_customer, c_custkey)
""", """
SELECT o.o_orderkey, o.o_custkey, o.o_year, o.price_cents, c.c_mktsegment, c.r_name
FROM {{ ref('s_orders_year') }} o
JOIN {{ ref('s_customer') }} c ON o.o_custkey = c.c_custkey
""")
    model("silver", "s_line_orders", """
-- config: materialized=table
-- tags: silver
-- test: not_null(o_orderpriority)
""", """
SELECT l.l_orderkey, l.l_partkey, l.l_returnflag, l.l_quantity, l.ext_cents, o.o_orderpriority
FROM {{ ref('s_lineitem_b') }} l
JOIN {{ ref('s_orders_b') }} o ON l.l_orderkey = o.o_orderkey
""")
    model("gold", "g_segment_year", """
-- config: materialized=table, sort_by=c_mktsegment
-- tags: gold
-- test: not_null(c_mktsegment)
""", """
SELECT c_mktsegment, o_year, COUNT(*) AS n_orders, SUM(price_cents) AS revenue_cents
FROM {{ ref('s_cust_orders') }}
GROUP BY c_mktsegment, o_year
""")
    model("gold", "g_returnflag", """
-- config: materialized=table
-- tags: gold
-- test: accepted_values(l_returnflag, A|N|R)
""", """
SELECT l_returnflag, o_orderpriority, COUNT(*) AS n_lines,
  SUM(ext_cents) AS ext_cents, SUM(CAST(l_quantity AS BIGINT)) AS qty
FROM {{ ref('s_line_orders') }}
GROUP BY l_returnflag, o_orderpriority
""")
    model("gold", "g_user_activity", """
-- config: materialized=table
-- tags: gold
-- test: unique(user_id)
""", """
SELECT user_id, COUNT(*) AS n_events,
  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchases,
  MAX(ts) AS last_ts
FROM {{ ref('s_events_time') }}
GROUP BY user_id
""")
    model("gold", "g_event_types", """
-- config: materialized=table
-- tags: gold
-- test: unique(event_type)
""", """
SELECT event_type, COUNT(*) AS n_events, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
FROM {{ ref('s_events_cdc') }}
GROUP BY event_type
""")
    model("gold", "g_order_status", """
-- config: materialized=table
-- tags: gold
-- test: accepted_values(o_orderstatus, F|O|P)
""", """
SELECT o_orderstatus, COUNT(*) AS n_orders,
  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS price_cents
FROM {{ ref('s_orders_cdc') }}
GROUP BY o_orderstatus
""")
    return m


# Models an edit may touch, with the BIGINT key a semantic edit filters on.
EDIT_KEYS = {
    "s_orders_year": "o_orderkey", "s_customer": "c_custkey",
    "s_lineitem_b": "l_orderkey", "s_orders_b": "o_orderkey",
    "s_part_dim": "p_partkey", "s_cust_orders": "o_orderkey",
    "s_line_orders": "l_orderkey", "g_user_activity": "user_id",
}


def edits(seed, k, proj):
    """Edits for incremental iteration `k`: 2-3 seeded models get either a
    comment-only change (same output) or a filter that drops the rows
    whose key is divisible by a revision-dependent modulus (changed
    output). Returns {relative_path: new_text}."""
    rng = np.random.default_rng([seed, 200 + k])
    paths = {os.path.basename(p)[:-4]: p for p in proj}
    names = sorted(EDIT_KEYS)
    chosen = sorted(rng.choice(len(names), int(rng.integers(2, 4)), replace=False))
    out = {}
    for i in chosen:
        name = names[i]
        text = proj[paths[name]]
        lines = text.rstrip("\n").split("\n")
        headers = "".join(x + "\n" for x in lines if x.startswith("--"))
        body = "".join(x + "\n" for x in lines if not x.startswith("--"))
        if rng.random() < 0.5:
            text = headers + f"-- revision {k}\n" + body
        else:
            text = (headers + f"SELECT * FROM (\n{body}) e\n"
                    f"WHERE e.{EDIT_KEYS[name]} % {50 + k} <> 0\n")
        out[paths[name]] = text
    return out


def write_project(out_dir, files):
    for rel, text in files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
