"""Output checks: one comparison rule for every workload, plus the DuckDB
oracle for query_mix."""
import glob
import json


def compare(checks):
    """Return the names of the checks whose answer differs from its
    reference. Each check is {"name", "got", "want"}: two lists of row
    strings, equal only if identical in order and content (callers sort
    where order carries no meaning)."""
    return [c["name"] for c in checks if list(c["got"]) != list(c["want"])]


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_failures(inputs, out):
    """Registry queries whose Spark result differs from their DuckDB oracle
    on the generated tables: same rule as the engine's correctness gate
    (columns sorted by name, rows sorted, values compared exactly)."""
    import duckdb

    con = duckdb.connect()
    for path in glob.glob(f"{inputs}/*.parquet"):
        name = path.rsplit("/", 1)[1][:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    with open(f"{out}/oracle_sql.json") as f:
        oracle = json.load(f)
    failed = []
    for name, sql in sorted(oracle.items()):
        try:
            got = _norm(con.sql(f"SELECT * FROM read_parquet('{out}/oracle/{name}/*.parquet')").df())
            want = _norm(con.sql(sql).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want) or not got.equals(want):
                failed.append(name)
        except Exception as e:  # a query the oracle cannot run is a failed check
            failed.append(f"{name} ({type(e).__name__}: {e})")
    return failed, len(oracle)
