"""DuckDB oracle check of the benchmark's verification dumps.

Each dumped kind is the parquet of that kind's first result in the run. It is
compared with the kind's oracle SQL run in DuckDB over the same input parquet:
columns sorted by name, rows sorted by non-float then float columns, dtypes
equal, integers and strings exact, floats within 1e-9 (the comparison
`tools/check_oracle.py` makes), with one exception for a column the oracle
SQL computes as `round(<expr>, k) AS <column>`. Both engines round a double
(an average, say), and when its exact decimal value is a tie such as
3821.54125 each one's double may fall on either side of it; both answers
then came from correct arithmetic. So two values of such a column that
differ by one unit in the k-th decimal pass only when the same SQL without
that round() gives, in some row, a value within 1e-3 units of the k-th
decimal of their midpoint: the unrounded value is a tie. Such values are
counted and reported as ties, not passed silently.
"""
import glob
import os
import re

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    cols = list(df.columns)
    order = ([c for c in cols if df[c].dtype.kind != "f"] +
             [c for c in cols if df[c].dtype.kind == "f"])
    return df.sort_values(by=order).reset_index(drop=True) if order else df


def _unround(sql):
    """(sql with every outermost `round(<expr>, k) AS <col>` replaced by
    `(<expr>) AS <col>`, {col: k})."""
    spans = []
    for m in re.finditer(r"\bround\(", sql, re.I):
        depth, comma, i = 1, None, m.end()
        while i < len(sql) and depth:
            c = sql[i]
            depth += (c == "(") - (c == ")")
            if c == "," and depth == 1:
                comma = i
            i += 1
        alias = re.match(r"\s+AS\s+(\w+)", sql[i:], re.I)
        if depth == 0 and comma and alias and sql[comma + 1:i - 1].strip().isdigit():
            spans.append((m.start(), m.end(), comma, i, alias.group(1),
                          int(sql[comma + 1:i - 1])))
    kept, end = [], -1
    for sp in spans:
        if sp[0] > end:
            kept.append(sp)
            end = sp[3]
    for start, body, comma, stop, _, _ in reversed(kept):
        sql = sql[:start] + "(" + sql[body:comma] + ")" + sql[stop:]
    return sql, {sp[4]: sp[5] for sp in kept}


def _compare(spark_df, duck_df, rounded, unrounded):
    """(first difference or None, number of values accepted as rounding
    ties). `rounded` maps a column to the decimals its oracle SQL rounds it
    to; `unrounded()` runs that SQL without those round() calls."""
    s, d = _norm(spark_df), _norm(duck_df)
    ties = 0
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs oracle {list(d.columns)}", 0
    if len(s) != len(d):
        return f"{len(s)} rows vs oracle {len(d)}", 0
    for c in s.columns:
        a, b = s[c], d[c]
        if str(a.dtype) != str(b.dtype):
            return f"dtype of {c}: {a.dtype} vs oracle {b.dtype}", ties
        if a.dtype.kind == "f":
            neq = ~(np.isclose(a, b, rtol=0, atol=1e-9) | (a.isna() & b.isna()))
            if neq.any() and c in rounded:
                unit = 10.0 ** -rounded[c]
                exact = unrounded()[c].dropna().to_numpy(dtype=float)
                tie = np.array([n and abs(abs(x - y) - unit) <= 1e-6 * unit and
                                bool((np.abs(exact - (x + y) / 2) <= 1e-3 * unit).any())
                                for x, y, n in zip(a, b, neq)], dtype=bool)
                ties += int(tie.sum())
                neq &= ~tie
        else:
            neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"{c} row {i}: {a[i]!r} vs oracle {b[i]!r} ({int(neq.sum())} differ)", ties
    return None, ties


def check(data_dir, dump_dir, oracle_sql):
    """{kind: (None if it matches the oracle, else the first difference,
    rounding ties accepted)}."""
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for kind, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(dump_dir, kind, "*.parquet"))
        if not files:
            out[kind] = ("no dump", 0)
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            plain, rounded = _unround(sql)
            memo = []

            def unrounded():
                if not memo:
                    memo.append(con.sql(plain).df())
                return memo[0]
            out[kind] = _compare(spark_df, con.sql(sql).df(), rounded, unrounded)
        except Exception as e:  # one bad kind must not hide the others
            out[kind] = (f"{type(e).__name__}: {e}", 0)
    con.close()
    return out


def scalars(data_dir, sqls):
    """{key: the single integer each SQL returns} over the run's input."""
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {k: int(con.sql(q).fetchone()[0]) for k, q in sqls.items()}
    con.close()
    return out


def check_task_logs(verify, counts):
    """Every task has one success log per window tick whose summary has
    `rows=<oracle count>` for each query and `affected=` for each DML
    statement. Returns the list of problems."""
    problems = []
    by = {}
    for log in verify["task_logs"]:
        by.setdefault((log["task"], log["tick"]), []).append(log)
    for tick in range(1, verify["ticks"] + 1):
        for task in verify["tasks"]:
            logs = by.get((task, tick), [])
            if len(logs) != 1:
                problems.append(f"task {task} tick {tick}: {len(logs)} logs")
                continue
            log = logs[0]
            head = f"SQL script {task} ok: "
            if log["status"] != "success" or not log["message"].startswith(head):
                problems.append(f"task {task} tick {tick}: {log['status']} {log['message'][:120]}")
                continue
            parts = log["message"][len(head):].split("; ")
            want = str(task) in counts
            if want and parts != [f"rows={counts[str(task)]}"]:
                problems.append(f"task {task} tick {tick}: {parts} vs rows={counts[str(task)]}")
            if not want and not all(p.startswith("affected=") for p in parts):
                problems.append(f"task {task} tick {tick}: {parts}")
    return problems
