"""Output checks: each dumped graft result against its DuckDB oracle
answer (the SparkEntry.oracleSql text), compared the way the repo's
oracle gate, tools/check_oracle.py, compares: column names, row count,
dtypes, then every cell exactly after sorting. Oracle answers are cached
under .bench_build, keyed by the oracle SQL and the input files. Lake
reads are checked inside the harness against its own model of the
table."""
import functools
import hashlib
import os
import pickle
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.lru_cache(maxsize=None)
def oracle_gate():
    """tools/check_oracle.py, the repo's DuckDB comparison."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    return check_oracle


def compare(spark_df, duck_df):
    """List of problems; empty when the frames agree."""
    gate = oracle_gate()
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"rows {len(spark_df)} vs {len(duck_df)}"]
    s, d = gate.norm(spark_df), gate.norm(duck_df)
    problems = [f"dtype[{c}] {s[c].dtype} vs {d[c].dtype}"
                for c in s.columns if str(s[c].dtype) != str(d[c].dtype)]

    def missing(x):
        return x is None or (isinstance(x, float) and x != x)

    sv, dv = s.to_numpy(), d.to_numpy()
    bad = sum(1 for i in range(len(s)) for j in range(len(s.columns))
              if not (missing(sv[i][j]) and missing(dv[i][j]))
              and not gate.cmp_cell(sv[i][j], dv[i][j]))
    if bad:
        problems.append(f"{bad} mismatched cells")
    return problems


def data_key(data):
    files = sorted(
        (os.path.relpath(os.path.join(dp, f), data), os.path.getsize(os.path.join(dp, f)))
        for dp, _, fs in os.walk(data) for f in fs if f.endswith(".parquet"))
    return repr((os.path.basename(os.path.normpath(data)), files))


def oracle_key(sql, data):
    return hashlib.sha256((data_key(data) + "\n" + sql).encode()).hexdigest()[:24]


def oracle_answer(sql, data, cache_dir, con_box):
    path = os.path.join(cache_dir, oracle_key(sql, data) + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    if not con_box:
        import duckdb
        con = duckdb.connect()
        con.sql("SET preserve_insertion_order=false")
        con.sql("SET threads=4")
        for t in oracle_gate().TABLES:
            p = os.path.join(data, t + ".parquet")
            if os.path.exists(p):
                src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        con_box.append(con)
    df = con_box[0].sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def check_results(run, run_dir, data, cache_dir):
    """Which dumped results were checked against an oracle, which had
    none, and the problems found."""
    out = {"by_oracle": [], "unchecked": [], "wrong": {}}
    results = os.path.join(run_dir, "results")
    if not os.path.isdir(results):
        return out
    import pandas as pd
    oracle_sql = run["info"].get("oracle_sql", {})
    con_box = []
    for q in sorted(os.listdir(results)):
        if q not in oracle_sql:
            out["unchecked"].append(q)
            continue
        out["by_oracle"].append(q)
        df = pd.read_parquet(os.path.join(results, q))
        problems = compare(df, oracle_answer(oracle_sql[q], data, cache_dir, con_box))
        if problems:
            out["wrong"][q] = "; ".join(problems[:4])
    return out
