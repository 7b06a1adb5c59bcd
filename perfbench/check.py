"""Correctness checks that need a reference outside the engine: DuckDB.

lake: replays the run's DML statements on DuckDB tables loaded from the
same initial rows and compares the final table states.
corpus: runs each query's oracle SQL (SparkEntry.oracleSql) in DuckDB over
the generated tables and compares it with the engine's result, the way the
repo's oracle gate does (column-sorted schema, sorted stringified rows).
Each function returns a list of failed checks.
"""
import os

import duckdb

ORDERS_COLS = ['o_orderkey', 'o_custkey', 'o_orderstatus', 'o_totalprice',
               'o_orderdate', 'o_orderpriority']


def mutate(desc):
    con = duckdb.connect()
    for t in desc['final']:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{desc['init']}/*.parquet')")
    for s in desc['statements']:
        t = s['table']
        if s['verb'] == 'append':
            con.execute(f"INSERT INTO {t} SELECT * FROM read_parquet('{s['source']}/*.parquet', hive_partitioning = false)")
            continue
        lo, hi = s['lo'], s['hi']
        where = f'o_orderkey >= {lo} AND o_orderkey < {hi}'
        if s['verb'] == 'delete':
            con.execute(f'DELETE FROM {t} WHERE {where}')
        elif s['verb'] == 'update':
            con.execute(f"UPDATE {t} SET o_totalprice = o_totalprice + 1.5, "
                        f"o_orderpriority = '1-URGENT' WHERE {where}")
        else:  # MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *
            con.execute(f"CREATE OR REPLACE TEMP TABLE src AS "
                        f"SELECT * FROM read_parquet('{s['source']}/*.parquet', hive_partitioning = false)")
            sets = ', '.join(f'{c} = s.{c}' for c in ORDERS_COLS[1:])
            con.execute(f'UPDATE {t} SET {sets} FROM src s WHERE {t}.o_orderkey = s.o_orderkey')
            con.execute(f'INSERT INTO {t} SELECT * FROM src '
                        f'WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {t})')
    bad = []
    cols = ', '.join(ORDERS_COLS)
    for t, path in desc['final'].items():
        want = con.execute(f'SELECT {cols} FROM {t} ORDER BY ALL').fetchall()
        got = con.execute(f"SELECT {cols} FROM read_parquet('{path}/*.parquet') ORDER BY ALL").fetchall()
        if got != want:
            diff = next((a, b) for a, b in zip(got + [None] * len(want), want + [None] * len(got))
                        if a != b)
            bad.append(f'lake: {t} has {len(got)} rows, DuckDB replay {len(want)}; '
                       f'first difference {diff}')
    return bad


def _norm(tbl):
    return tbl.select(sorted(tbl.column_names))


def corpus(desc):
    con = duckdb.connect()
    for d in os.listdir(desc['data']):
        con.execute(f"CREATE VIEW {d.split('.')[0]} AS SELECT * FROM '{desc['data']}/{d}/*.parquet'")
    bad = []
    for name, sql in sorted(desc['oracle'].items()):
        try:
            got = _norm(con.sql(f"SELECT * FROM '{desc['out']}/{name}/*.parquet'").arrow())
            want = _norm(con.sql(sql).arrow())
        except Exception as e:  # a missing result or an oracle error is a failed check
            bad.append(f'corpus: {name}: {e}')
            continue
        if [(f.name, str(f.type)) for f in got.schema] != \
                [(f.name, str(f.type)) for f in want.schema]:
            bad.append(f'corpus: {name}: schema {got.schema} vs oracle {want.schema}')
            continue
        g = sorted(map(tuple, got.to_pandas().astype(str).values.tolist()))
        w = sorted(map(tuple, want.to_pandas().astype(str).values.tolist()))
        if g != w:
            bad.append(f'corpus: {name}: {len(g)} rows vs oracle {len(w)}, '
                       f'first difference {next(((a, b) for a, b in zip(g, w) if a != b), None)}')
    return bad
