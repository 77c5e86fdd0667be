"""Seeded generator of the benchmark's input tables.

Writes the TPC-H-shaped star the engine's `Tables` loaders read
(region, nation, customer, supplier, part, orders, lineitem) and the
`documents` corpus the curation funnel reads, one parquet file per
table, with the column names and types of the engine's test data.

Every value is a pure function of (seed, row number), so the same seed
gives byte-identical inputs; row counts depend only on the scale factor
(lineitem varies by well under 1% between seeds).
"""
import os

import duckdb

# the documents fixture's 30 body words; its 31st term, "dup", only marks
# near duplicates
VOCAB = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _h(seed: int, salt: int, expr: str) -> str:
    """A 62-bit non-negative hash of `expr`, distinct per (seed, salt)."""
    return f"(hash({expr}, {seed}::BIGINT, {salt}::BIGINT) >> 2)::BIGINT"


def star(con: duckdb.DuckDBPyConnection, out: str, seed: int, sf: float) -> dict:
    """The sales star at scale factor `sf` (sf 1 = 1.5M orders)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    h = lambda salt, e: _h(seed, salt, e)  # noqa: E731
    sql = {
        "region": """SELECT i::INTEGER AS r_regionkey,
              ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
              (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
              'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
              ({h(1, 'i')} % 25)::INTEGER AS c_nationkey,
              round(({h(2, 'i')} % 1100000 - 100000) / 100.0, 2)::DOUBLE AS c_acctbal,
              ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                [({h(3, 'i')} % 5)::INTEGER + 1] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
              'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
              ({h(4, 'i')} % 25)::INTEGER AS s_nationkey,
              round(({h(5, 'i')} % 1100000 - 100000) / 100.0, 2)::DOUBLE AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
              ['small','large','red','blue','green','steel','brass','matte']
                [({h(6, 'i')} % 8)::INTEGER + 1] || ' ' ||
              ['ring','widget','bolt','gear','panel','valve']
                [({h(7, 'i')} % 6)::INTEGER + 1] AS p_name,
              'Brand#' || ({h(8, 'i')} % 25 + 1) AS p_brand,
              ['ECONOMY','STANDARD','PROMO','LARGE','MEDIUM','SMALL']
                [({h(9, 'i')} % 6)::INTEGER + 1] AS p_type,
              ({h(10, 'i')} % 50 + 1)::INTEGER AS p_size,
              (900 + (i % 1000) / 10.0)::DOUBLE AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
              {h(11, 'i')} % {n_cust} AS o_custkey,
              ['F','O','P'][({h(12, 'i')} % 3)::INTEGER + 1] AS o_orderstatus,
              round(({h(13, 'i')} % 50000000) / 100.0, 2)::DOUBLE AS o_totalprice,
              (TIMESTAMP '1995-01-01' + to_days(({h(14, 'i')} % 2404)::INTEGER))
                AS o_orderdate,
              ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
                [({h(15, 'i')} % 5)::INTEGER + 1] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""WITH o AS (
              SELECT i AS ok, ({h(16, 'i')} % 7 + 1)::INTEGER AS n FROM range({n_ord}) t(i)),
            l AS (SELECT ok, unnest(range(1, n + 1)) AS ln FROM o),
            r AS (SELECT ok, ln, ok * 8 + ln AS k, ({h(17, 'ok * 8 + ln')} % 50 + 1) AS q FROM l)
            SELECT ok AS l_orderkey,
              {h(18, 'k')} % {n_part} AS l_partkey,
              {h(19, 'k')} % {n_supp} AS l_suppkey,
              ln::INTEGER AS l_linenumber,
              q::DOUBLE AS l_quantity,
              round(q * (900 + ({h(20, 'k')} % 110000) / 100.0), 2)::DOUBLE AS l_extendedprice,
              (({h(21, 'k')} % 11) / 100.0)::DOUBLE AS l_discount,
              (({h(22, 'k')} % 9) / 100.0)::DOUBLE AS l_tax,
              ['A','N','R'][({h(23, 'k')} % 3)::INTEGER + 1] AS l_returnflag,
              ['F','O'][({h(24, 'k')} % 2)::INTEGER + 1] AS l_linestatus,
              (TIMESTAMP '1995-01-02' + to_days(({h(25, 'k')} % 2550)::INTEGER))
                AS l_shipdate
            FROM r ORDER BY ok, ln""",
    }
    return {t: _write(con, q, f"{out}/{t}.parquet") for t, q in sql.items()}


def documents(con: duckdb.DuckDBPyConnection, out: str, seed: int, n: int) -> dict:
    """`n` word-salad documents shaped like the engine's documents fixture:
    10-99 words each, drawn from the 30-word vocabulary; 5% are near
    duplicates, another document's text followed by " dup"; languages en
    3/7 and es, zh, de, fr 1/7 each; source src<doc_id mod 20>.
    awbench/workloads.json records the fixture figures these come from."""
    h = lambda salt, e: _h(seed, salt, e)  # noqa: E731
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ",".join(f"'{x}'" for x in LANGS) + "]"
    q = f"""WITH base AS (
          SELECT i, array_to_string(list_transform(range(({h(30, 'i')} % 90 + 10)::INTEGER),
                   w -> {vocab}[({h(31, 'i * 100 + w')} % {len(VOCAB)})::INTEGER + 1]), ' ') AS t,
            {h(32, 'i')} % 100 < 5 AS near,
            ({h(33, 'i')} % ({n} - 1) + i + 1) % {n} AS src
          FROM range({n}) t(i))
        SELECT k1.i AS doc_id,
          CASE WHEN k1.near THEN k2.t || ' dup' ELSE k1.t END AS text,
          {langs}[({h(35, 'k1.i')} % {len(LANGS)})::INTEGER + 1] AS lang,
          'src' || (k1.i % 20) AS source
        FROM base k1 JOIN base k2 ON k2.i = k1.src ORDER BY doc_id"""
    return {"documents": _write(
        con, f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ({q})",
        f"{out}/documents.parquet")}


def _write(con, sql: str, path: str) -> dict:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    rows = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    return {"rows": rows, "bytes": os.path.getsize(path)}
