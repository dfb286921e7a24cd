"""Seeded input tables for the benchmark, generated with DuckDB.

Writes the tables the registry entries read, with the column names and
types of the project's fixed testdata (`region nation customer supplier
part orders lineitem events documents embeddings`), plus `synthetic`, the
archive edge-case table: one single-row-group parquet file per table,
`<dir>/<table>.parquet/part-0.parquet`. Every value is a hash of (seed,
salt, row id), so one seed gives the same tables on every run. Row counts
follow the testdata's scaling: sf 0.1 gives 600k lineitem rows.
"""
import os

import duckdb


def sizes(sf):
    def n(per01, lo=1):
        return max(lo, round(per01 * sf / 0.1))

    return {"region": 5, "nation": 25, "customer": n(15000), "supplier": n(1000),
            "part": n(20000), "orders": n(150000), "lineitem": n(600000),
            "events": n(100000), "documents": n(5000, 500), "embeddings": n(2000, 500),
            "synthetic": n(20000), "users": n(1500)}


VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
         "window"]

# Cells that CSV must quote, JSON must escape and YAML must quote or block.
PIECES = ["plain", "a,b", 'say "hi"', "line1\nline2", "cr\r\nlf", "tab\tsep", "ünïcødé",
          "日本語", "emoji 🚀", "- dash", "key: value", "#hash", "'single'", "", " lead",
          "trail ", "null", "true", "123", "back\\slash"]


def _lit_list(xs):
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


def generate(out_dir, seed, sf):
    """Writes every table under `out_dir`; returns {table: rows}."""
    s = sizes(sf)
    seed = int(seed)

    def pick(salt, n, key="i"):
        return f"(hash({seed}, '{salt}', {key}) % {n})::BIGINT"

    def u(salt, key="i"):
        return f"((hash({seed}, '{salt}', {key}) % 1000000007) / 1000000007.0)"

    def money(salt, lo, hi):
        return f"round({lo} + {u(salt)} * ({hi} - {lo}), 2)"

    def one_of(salt, *vs, key="i"):
        return f"{_lit_list(vs)}[{pick(salt, len(vs), key)} + 1]"

    def day(salt, start, days):
        return f"(DATE '{start}' + {pick(salt, days)}::INTEGER)::TIMESTAMP"

    def rows(n):
        return f"range({n}) t(i)"

    step_us = 30 * 86400 * 1000000 // s["events"]
    tables = {
        "region": f"""SELECT i::INTEGER AS r_regionkey,
            {_lit_list(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}[i + 1] AS r_name
            FROM {rows(5)}""",
        "nation": f"""SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM {rows(25)}""",
        "customer": f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            {pick('c_nation', 25)}::INTEGER AS c_nationkey,
            {money('c_acctbal', -999.99, 9999.99)} AS c_acctbal,
            {one_of('c_seg', 'AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')}
              AS c_mktsegment
            FROM {rows(s['customer'])}""",
        "supplier": f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            {pick('s_nation', 25)}::INTEGER AS s_nationkey,
            {money('s_acctbal', -999.99, 9999.99)} AS s_acctbal
            FROM {rows(s['supplier'])}""",
        "part": f"""SELECT i AS p_partkey,
            {one_of('p_adj', 'blue', 'old', 'red', 'small', 'new', 'large', 'hot', 'cold')} || ' ' ||
            {one_of('p_noun', 'anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget')}
              AS p_name,
            'Brand#' || ({pick('p_brand', 25)} + 1) AS p_brand,
            {one_of('p_type', 'ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD')} AS p_type,
            ({pick('p_size', 50)} + 1)::INTEGER AS p_size,
            round(900.0 + (i % 1000) * 0.1, 1)::DOUBLE AS p_retailprice
            FROM {rows(s['part'])}""",
        "orders": f"""SELECT i AS o_orderkey, {pick('o_cust', s['customer'])} AS o_custkey,
            {one_of('o_status', 'F', 'O', 'P')} AS o_orderstatus,
            {money('o_total', 1000.0, 500000.0)} AS o_totalprice,
            {day('o_date', '1995-01-01', 2405)} AS o_orderdate,
            {one_of('o_prio', '1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')}
              AS o_orderpriority
            FROM {rows(s['orders'])}""",
        "lineitem": f"""SELECT {pick('l_order', s['orders'])} AS l_orderkey,
            {pick('l_part', s['part'])} AS l_partkey,
            {pick('l_supp', s['supplier'])} AS l_suppkey,
            ({pick('l_line', 7)} + 1)::INTEGER AS l_linenumber,
            ({pick('l_qty', 50)} + 1)::DOUBLE AS l_quantity,
            {money('l_price', 900.0, 105000.0)} AS l_extendedprice,
            round({pick('l_disc', 11)} * 0.01, 2)::DOUBLE AS l_discount,
            round({pick('l_tax', 9)} * 0.01, 2)::DOUBLE AS l_tax,
            {one_of('l_rflag', 'A', 'N', 'R')} AS l_returnflag,
            {one_of('l_lstatus', 'F', 'O')} AS l_linestatus,
            {day('l_ship', '1995-01-02', 2499)} AS l_shipdate
            FROM {rows(s['lineitem'])}""",
        # ts rises with event_id over 30 days, as in an event log
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(i * {step_us} + {pick('e_jit', step_us)}) AS ts,
            {pick('e_user', s['users'])} AS user_id,
            {one_of('e_type', 'click', 'error', 'purchase', 'signup', 'view')} AS event_type,
            {money('e_value', 0.0, 560.0)} AS value,
            '{{"k": ' || {pick('e_k', 100)} || '}}' AS props
            FROM {rows(s['events'])}""",
        # ~10% of documents copy a recent one, half of those with one token appended
        "documents": f"""WITH d AS (
              SELECT i AS doc_id,
                CASE WHEN {u('d_copy')} < 0.1 AND i > 8 THEN i - 1 - {pick('d_src', 8)} ELSE i END AS src,
                {u('d_near')} < 0.5 AS near
              FROM {rows(s['documents'])}),
            w AS (
              SELECT doc_id, near, string_agg({_lit_list(VOCAB)}[{pick('d_w', len(VOCAB), 'src, k')} + 1], ' '
                ORDER BY k) AS words
              FROM d, range(100) r(k) WHERE k < 10 + {pick('d_len', 91, 'src')}
              GROUP BY doc_id, near, src)
            SELECT w.doc_id,
              CASE WHEN d.src <> d.doc_id AND w.near THEN words || ' dup' ELSE words END AS text,
              {one_of('d_lang', 'de', 'en', 'es', 'fr', 'zh', key='w.doc_id')} AS lang,
              'src' || {pick('d_source', 20, 'w.doc_id')} AS source,
              length(text)::BIGINT AS n_chars
            FROM w JOIN d USING (doc_id)""",
        # unit vectors; components are sums of three uniforms (near-normal)
        "embeddings": f"""WITH c AS (
              SELECT i AS vec_id, k,
                {u('a', 'i, k')} + {u('b', 'i, k')} + {u('c', 'i, k')} - 1.5 AS x
              FROM {rows(s['embeddings'])}, range(64) r(k)),
            n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM c GROUP BY vec_id)
            SELECT vec_id, list((x / nrm)::FLOAT ORDER BY k) AS embedding,
              {pick('v_label', 10, 'vec_id')}::INTEGER AS label
            FROM c JOIN n USING (vec_id) GROUP BY vec_id, nrm""",
        "synthetic": f"""SELECT i AS id,
            CASE WHEN {u('n_name')} < 0.1 THEN NULL ELSE
              {_lit_list(PIECES)}[{pick('name1', len(PIECES))} + 1] || ' ' ||
              {_lit_list(PIECES)}[{pick('name2', len(PIECES))} + 1] END AS name,
            CASE WHEN {u('n_note')} < 0.3 THEN NULL ELSE
              {_lit_list(PIECES)}[{pick('note', len(PIECES))} + 1] END AS note,
            CASE WHEN {u('n_amount')} < 0.2 THEN NULL ELSE {money('amount', -1e6, 1e6)} END AS amount,
            CASE WHEN {u('n_qty')} < 0.2 THEN NULL ELSE {pick('qty', 1000)}::INTEGER END AS qty,
            CASE WHEN {u('n_flag')} < 0.2 THEN NULL ELSE {u('flag')} < 0.5 END AS flag,
            CASE WHEN {u('n_ts')} < 0.1 THEN NULL ELSE
              TIMESTAMP '2020-01-01' + to_microseconds({pick('t_s', 5 * 365 * 86400)} * 1000000 +
                CASE WHEN {u('t_frac')} < 0.5 THEN 0 ELSE {pick('t_us', 1000000)} END) END AS ts
            FROM {rows(s['synthetic'])}""",
    }
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, sql in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        con.execute(f"COPY ({sql} ORDER BY ALL) TO '{d}/part-0.parquet' "
                    f"(FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")
    con.close()
    return {k: v for k, v in s.items() if k != "users"}
