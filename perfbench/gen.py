"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (seed, row index): each column value is
drawn from DuckDB's `hash(seed, column, row)`, so the same seed writes the
same parquet bytes whatever the thread count. The schemas and value domains
are those of the engine's test tables (a TPC-H-like star schema plus
`events`, `documents` and `embeddings`); nothing is read from outside the
benchmark's checkout.

Id shifts follow the rehearsal recipe: OFFSET = 10,000,000 is divisible by
every fixed modulus the engine keys behaviour on (`doc_id % 10 = 0` is the
arriving delta of the admission queries, `vec_id % 10 = 7` the ANN delta,
`% 100` the probe panels), so shifted rows keep their class.
"""
import os

import duckdb

OFFSET = 10_000_000

# rows per unit of scale factor (sf0.1 gives the test tables' sizes)
ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _lit(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # uniform [0, 1) from the seed, a column tag and a row index
    con.execute("CREATE MACRO u(s, k, i) AS "
                "(hash(s, k, i) % 4294967296)::DOUBLE / 4294967296.0")
    con.execute("CREATE MACRO pick(xs, s, k, i) AS "
                "xs[1 + floor(u(s, k, i) * len(xs))::INT]")
    return con


def _n(sf, t):
    return max(1, int(round(ROWS[t] * sf)))


def dims(con, seed, sf):
    """region, nation, customer, supplier, part as tables `<t>_g`."""
    s = seed
    con.execute(f"""CREATE OR REPLACE TABLE region_g AS SELECT i::INTEGER AS r_regionkey,
      (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name FROM range(5) r(i)""")
    con.execute("""CREATE OR REPLACE TABLE nation_g AS SELECT i::INTEGER AS n_nationkey,
      'NATION_' || i AS n_name, (i % 5)::INTEGER AS n_regionkey FROM range(25) r(i)""")
    con.execute(f"""CREATE OR REPLACE TABLE customer_g AS SELECT i::BIGINT AS c_custkey,
      'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
      floor(u({s}, 'cn', i) * 25)::INTEGER AS c_nationkey,
      round(-999.99 + u({s}, 'cb', i) * 10999.98, 2) AS c_acctbal,
      pick(['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'], {s}, 'cm', i) AS c_mktsegment
      FROM range({_n(sf, 'customer')}) r(i)""")
    con.execute(f"""CREATE OR REPLACE TABLE supplier_g AS SELECT i::BIGINT AS s_suppkey,
      'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
      floor(u({s}, 'sn', i) * 25)::INTEGER AS s_nationkey,
      round(-999.99 + u({s}, 'sb', i) * 10999.98, 2) AS s_acctbal
      FROM range({_n(sf, 'supplier')}) r(i)""")
    con.execute(f"""CREATE OR REPLACE TABLE part_g AS SELECT i::BIGINT AS p_partkey,
      pick(['large','hot','blue','old','cold','small','red','new'], {s}, 'pa', i) || ' ' ||
      pick(['ring','bolt','plate','gear','nut','pipe','rod','cap'], {s}, 'pb', i) AS p_name,
      'Brand#' || (1 + floor(u({s}, 'pr', i) * 25))::INTEGER AS p_brand,
      pick(['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'], {s}, 'pt', i) AS p_type,
      (1 + floor(u({s}, 'ps', i) * 50))::INTEGER AS p_size,
      round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
      FROM range({_n(sf, 'part')}) r(i)""")


def facts(con, seed, sf):
    """orders, lineitem, events as tables `<t>_g` (1995-2001 order dates,
    one month of 2024 events)."""
    s = seed
    no = _n(sf, "orders")
    nl = 4 * no
    nc, np_, ns = _n(sf, "customer"), _n(sf, "part"), _n(sf, "supplier")
    con.execute(f"""CREATE OR REPLACE TABLE orders_g AS SELECT i::BIGINT AS o_orderkey,
      floor(u({s}, 'oc', i) * {nc})::BIGINT AS o_custkey,
      pick(['F','O','P'], {s}, 'os', i) AS o_orderstatus,
      round(1000 + u({s}, 'op', i) * 499000, 2) AS o_totalprice,
      (TIMESTAMP '1995-01-01' + to_days(floor(u({s}, 'od', i) * 2404)::INTEGER)) AS o_orderdate,
      pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], {s}, 'oo', i) AS o_orderpriority
      FROM range({no}) r(i)""")
    con.execute(f"""CREATE OR REPLACE TABLE lineitem_g AS SELECT
      floor(u({s}, 'lo', i) * {no})::BIGINT AS l_orderkey,
      floor(u({s}, 'lp', i) * {np_})::BIGINT AS l_partkey,
      floor(u({s}, 'ls', i) * {ns})::BIGINT AS l_suppkey,
      (1 + floor(u({s}, 'll', i) * 7))::INTEGER AS l_linenumber,
      (1 + floor(u({s}, 'lq', i) * 50))::DOUBLE AS l_quantity,
      round(900 + u({s}, 'le', i) * 104100, 2) AS l_extendedprice,
      floor(u({s}, 'ld', i) * 11) / 100.0 AS l_discount,
      floor(u({s}, 'lt', i) * 9) / 100.0 AS l_tax,
      pick(['N','A','R'], {s}, 'lr', i) AS l_returnflag,
      pick(['O','F'], {s}, 'lx', i) AS l_linestatus,
      (TIMESTAMP '1995-01-02' + to_days(floor(u({s}, 'lh', i) * 2498)::INTEGER)) AS l_shipdate
      FROM range({nl}) r(i)""")
    con.execute(f"""CREATE OR REPLACE TABLE events_g AS SELECT i::BIGINT AS event_id,
      (TIMESTAMP '2024-01-01' + to_microseconds(floor(u({s}, 'et', i) * 30 * 86400e6)::BIGINT)) AS ts,
      floor(u({s}, 'eu', i) * 1500)::BIGINT AS user_id,
      pick(['signup','click','error','view','purchase'], {s}, 'ey', i) AS event_type,
      round(u({s}, 'ev', i) * u({s}, 'ew', i) * 560, 2) AS value,
      '{{"k": ' || floor(u({s}, 'ek', i) * 100)::INTEGER || '}}' AS props
      FROM range({_n(sf, 'events')}) r(i)""")


def doc_text_sql(s, tag, idx, n_words):
    """A document body: `n_words` vocabulary words drawn from the seed."""
    return (f"array_to_string(list_transform(range({n_words}), "
            f"j -> pick({_lit(VOCAB)}, {s}, '{tag}' || j, {idx})), ' ')")


def documents(con, seed, table, ids_sql, tag):
    """Fresh documents for the ids that `ids_sql` yields (column `doc_id`):
    10-99 words each, en-heavy languages, 20 sources."""
    s = seed
    con.execute(f"""CREATE OR REPLACE TABLE {table} AS
      WITH ids AS ({ids_sql}),
      w AS (SELECT doc_id, {doc_text_sql(s, tag, 'doc_id', f"10 + floor(u({s}, '{tag}n', doc_id) * 90)::INTEGER")} AS text
            FROM ids)
      SELECT doc_id::BIGINT AS doc_id, text,
        CASE WHEN u({s}, '{tag}g', doc_id) < 0.41 THEN 'en'
             ELSE pick(['fr','es','zh','de'], {s}, '{tag}h', doc_id) END AS lang,
        'src' || floor(u({s}, '{tag}s', doc_id) * 20)::INTEGER AS source,
        length(text)::BIGINT AS n_chars
      FROM w""")


def embeddings(con, seed, n):
    """Unit-norm 64-d vectors around one of ten label centroids."""
    s = seed
    con.execute(f"""CREATE OR REPLACE TABLE embeddings_g AS
      WITH raw AS (
        SELECT i AS vec_id, floor(u({s}, 'vl', i) * 10)::INTEGER AS label,
          list_transform(range(64), j ->
            (u({s}, 'vc' || j, floor(u({s}, 'vl', i) * 10)::INTEGER) - 0.5)
            + 0.6 * (u({s}, 'vx' || j, i) + u({s}, 'vy' || j, i) - 1.0)) AS v
        FROM range({n}) r(i))
      SELECT vec_id::BIGINT AS vec_id,
        list_transform(v, x -> (x / sqrt(list_aggregate(list_transform(v, y -> y * y), 'sum')))::FLOAT) AS embedding,
        label
      FROM raw""")


def write_dir(con, out, where=None, sources=None, shared=None, only=None):
    """Write the ten tables to `out/<t>.parquet`. `where` maps a table to a
    predicate; `sources` maps a table to the DuckDB relation to copy. With
    `shared`, a table that neither map names is a symbolic link to the copy
    in that directory: the file system's online discard makes every
    deleted data file cost milliseconds at clean-up, links cost nothing.
    `only` restricts the tables written."""
    os.makedirs(out, exist_ok=True)
    where = where or {}
    sources = sources or {}
    for t in only or TABLES:
        if shared and t not in where and t not in sources:
            os.symlink(os.path.join(shared, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
            continue
        src = sources.get(t, f"{t}_g")
        pred = f" WHERE {where[t]}" if t in where else ""
        con.execute(f"COPY (SELECT * FROM {src}{pred}) TO '{out}/{t}.parquet' (FORMAT parquet)")


def count(con, path):
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
