"""bank_mix correctness: every query result the run wrote is compared with
the query's DuckDB oracle (`SparkEntry.oracleSql`) over the same tables.

Cells are normalized the way the repo's oracle gate does it: columns
sorted by name, floats rendered to 10 significant digits, rows sorted.
The rules are restated here rather than imported so that the benchmark's
check cannot change under it.
"""
import glob
import math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def _frame(rel):
    df = rel.fetchdf()
    df = df[sorted(df.columns)]
    rows = sorted(tuple(_cell(v) for v in r) for r in df.itertuples(index=False))
    return list(df.columns), [str(t) for t in df.dtypes], rows


def check(data_dir, queries, oracle_sql):
    """`queries`: the run's per-query records (`query`, `pass`, `out`).
    Returns one message per result that differs from its oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    expected = {}
    wrong = []
    for q in queries:
        name = q["query"]
        try:
            if name not in expected:
                expected[name] = _frame(con.sql(oracle_sql[name]))
            files = glob.glob(f"{q['out']}/*.parquet")
            got = _frame(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        except Exception as e:  # noqa: BLE001 - any failure is a wrong result
            wrong.append(f"{name}#{q['pass']}: {str(e)[:200]}")
            continue
        exp = expected[name]
        if got[0] != exp[0]:
            wrong.append(f"{name}#{q['pass']}: columns {got[0]} != {exp[0]}")
        elif got[1] != exp[1]:
            wrong.append(f"{name}#{q['pass']}: types {got[1]} != {exp[1]}")
        elif got[2] != exp[2]:
            diff = [(a, b) for a, b in zip(got[2], exp[2]) if a != b][:2]
            wrong.append(f"{name}#{q['pass']}: {len(got[2])} rows vs "
                         f"{len(exp[2])}; first diffs {diff}")
    return wrong
