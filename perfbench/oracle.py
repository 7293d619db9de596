"""Correctness checks of one benchmark run.

Batch entries: each output the harness wrote is compared with the
entry's `SparkEntry.oracleSql` run in DuckDB over the same input dir —
columns sorted by name, rows sorted by every column, dtype classes and
values equal (the rules of `tools/check.py`).

stream_persist: the final Derby table must equal a batch word count of
every landed line whose user is not blacklisted, and the parquet window
output must equal the batch 60 s / 10 s sliding counts of every window
closed by the query's last watermark.

Each function returns a list of failure messages (empty = pass).
"""
import glob
import os
import re

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(dtype):
    k = dtype.kind
    return {"i": "int", "u": "int", "f": f"float{dtype.itemsize * 8}",
            "b": "bool", "M": "datetime"}.get(k, "object")


def _compare(name, got, exp):
    if list(got.columns) != list(exp.columns):
        return f"{name}: columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{name}: {len(got)} rows vs {len(exp)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(exp[c].dtype):
            return f"{name}: column {c} is {got[c].dtype} vs {exp[c].dtype}"
        a, b = got[c], exp[c]
        try:
            eq = (a.values == b.values) | (pd.isna(a.values) & pd.isna(b.values))
        except (TypeError, ValueError):
            eq = a.astype(str).values == b.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"{name}: column {c} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def materialized(sql):
    """`sql` with every CTE marked MATERIALIZED. DuckDB otherwise inlines
    a CTE at each reference, and the semantic-dedup oracles reference
    their hashed-vector CTEs many times (40 s → 0.6 s on 1k docs); the
    result is the same, since every CTE is deterministic."""
    return re.sub(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\(", r"\1\2 AS MATERIALIZED (", sql)


def check_entries(data_dir, verify):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            src = f"{data_dir}/{t}.parquet"
            if os.path.isdir(src):
                src += "/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    fails = []
    for v in verify:
        files = glob.glob(f"{v['dir']}/*.parquet")
        if not files:
            fails.append(f"{v['name']}: no output")
            continue
        got = _norm(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            exp = _norm(con.execute(materialized(v["sql"])).df())
        except duckdb.Error as e:
            fails.append(f"{v['name']}: oracle error {e}")
            continue
        msg = _compare(v["name"], got, exp)
        if msg:
            fails.append(msg)
    return fails


def check_stream(out):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"""CREATE VIEW lines AS
        SELECT string_split(line, ' ') AS f FROM read_csv('{out["landing"]}/*.txt',
            columns={{'line': 'VARCHAR'}}, delim='\\t', header=false, quote='')""")
    con.execute(f"""CREATE VIEW black AS
        SELECT u FROM read_csv('{out["blacklist"]}', columns={{'u': 'VARCHAR'}},
            header=false)""")
    con.execute("""CREATE VIEW words AS
        SELECT CAST(f[1] AS BIGINT) AS ts, f[2] AS u, unnest(f[3:]) AS word
        FROM lines""")
    fails = []
    exp = con.execute("""SELECT word, count(*)::BIGINT AS total FROM words
        WHERE u NOT IN (SELECT u FROM black) GROUP BY word""").df()
    got = pd.read_csv(out["word_counts"], header=None, names=["word", "total"],
                      dtype={"word": str, "total": "int64"}, keep_default_na=False)
    msg = _compare("word_counts", _norm(got), _norm(exp))
    if msg:
        fails.append(msg)
    wm = out.get("windows_watermark") or ""
    files = glob.glob(f"{out['windows']}/*.parquet")
    got = (pd.concat([pd.read_parquet(f) for f in files]) if files
           else pd.DataFrame({"w_start": [], "word": [], "cnt": []}))
    if not wm:
        fails.append("windows: no watermark reported")
        return fails
    # Spark's sliding windows are aligned to the epoch: a row at ts
    # falls in the 6 windows starting at floor(ts/10)*10 - 10k, k=0..5
    exp = con.execute(f"""
        WITH w AS (SELECT (ts // 10) * 10 - 10 * k AS ws, word
                   FROM words, range(6) r(k))
        SELECT ws, word, count(*)::BIGINT AS cnt FROM w
        WHERE ws + 60 <= epoch(TIMESTAMPTZ '{wm}')
        GROUP BY ws, word""").df()
    got = pd.DataFrame({
        "ws": (pd.to_datetime(got["w_start"]).astype("int64") // 1_000_000_000
               if len(got) else pd.Series([], dtype="int64")).astype("int64"),
        "word": got["word"].astype(str), "cnt": got["cnt"].astype("int64")})
    exp["ws"] = exp["ws"].astype("int64")
    msg = _compare("windows", _norm(got), _norm(exp))
    if msg:
        fails.append(msg)
    if len(exp) == 0:
        fails.append("windows: no window closed during the run")
    return fails
