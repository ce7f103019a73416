"""Output checks, run once per benchmark run outside the timed region.

`cli_log`: the harness keeps every `analyze` result and every
`export-misses` row count; all of them must equal the generator's tally,
and the CSV report must carry the BOM, the reference header, one row per
miss and the highest miss frequency first.

Catalog entries: each entry's result, written once in the first warm
pass, must equal DuckDB running the entry's oracle SQL over the same
tables (column-name-sorted, row-sorted, exact values). Entries without
oracle SQL (the sketch entries) must return at least one row.

Each check returns {op name: reason} for the operations whose output is
wrong; an empty dict means every output is right.
"""
import csv
import hashlib
import io
import json
import math
import os

from gen_tables import TABLES

BOM = b"\xef\xbb\xbf"
HEADER = ["用户输入", "实际选择", "程序预测", "选择排名", "错误频率"]


def _close(a, b):
    return a is not None and b is not None and math.isclose(
        a, b, rel_tol=1e-9, abs_tol=1e-12)


def expected_analysis(t):
    """The `AnalysisResult` fields a correct `analyze` returns on the
    tallied log."""
    sel, commits = t["selections"], t["commits"]
    return {
        "totalCommits": commits,
        "totalSelections": sel,
        "rawInputCommits": t["direct"],
        "firstChoiceCount": t["first_choice"],
        "top3Count": t["top3"],
        "firstChoiceHitRate": t["first_choice"] / sel if sel else None,
        "top3HitRate": t["top3"] / sel if sel else None,
        "averageRank": t["rank_sum"] / sel if sel else None,
        "overallAccuracyScore": t["recip_rank_sum"] / sel if sel else None,
        "directInputRate": 100.0 * t["direct"] / commits if commits else None,
    }


def analysis_diff(got, tally):
    """Field names where `got` (one harness `analyzed` entry) differs from
    the tally."""
    want = expected_analysis(tally)
    if got is None:
        return sorted(want)
    bad = []
    for k, w in want.items():
        g = got.get(k)
        if isinstance(w, float):
            if not _close(g, w):
                bad.append(k)
        elif g != w:
            bad.append(k)
    return bad


def check_cli(result, tally):
    bad = {}
    analyzed = result["analyzed"]
    if len(analyzed) != 1:
        bad["analyze"] = f"{len(analyzed)} distinct results across runs"
    else:
        diff = analysis_diff(analyzed[0], tally)
        if diff:
            bad["analyze"] = "differs from the tally in " + ", ".join(diff)
    exported = result["exported"]
    if exported != [tally["misses"]]:
        bad["export-misses"] = (f"miss counts {exported}, "
                                f"tally {tally['misses']}")
        return bad
    reason = csv_problem(result["report"], tally)
    if reason:
        bad["export-misses"] = reason
    return bad


def csv_problem(path, tally):
    """Why the CSV report is wrong, or None."""
    with open(path, "rb") as f:
        data = f.read()
    if not data.startswith(BOM):
        return "report has no UTF-8 BOM"
    rows = list(csv.reader(io.StringIO(data[len(BOM):].decode("utf-8"))))
    if not rows or rows[0] != HEADER:
        return f"report header {rows[0] if rows else None}"
    body = rows[1:]
    if len(body) != tally["misses"]:
        return f"report has {len(body)} rows, tally {tally['misses']}"
    freqs = [int(r[4]) for r in body]
    if freqs and freqs[0] != tally["max_miss_freq"]:
        return (f"top miss frequency {freqs[0]}, "
                f"tally {tally['max_miss_freq']}")
    if any(a < b for a, b in zip(freqs, freqs[1:])):
        return "report not sorted by miss frequency"
    return None


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == b == 0.0:
            return math.copysign(1.0, a) == math.copysign(1.0, b)
        return a == b
    return a == b


def frame_diff(want, got):
    """Why two canonicalised frames differ, or None."""
    if list(want.columns) != list(got.columns):
        return f"columns want={list(want.columns)} got={list(got.columns)}"
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    wv, gv = want.to_numpy(), got.to_numpy()
    for i in range(len(want)):
        for j, c in enumerate(want.columns):
            a, b = wv[i][j], gv[i][j]
            try:
                if isinstance(a, float) or isinstance(b, float):
                    ok = _eq(None if a is None else float(a),
                             None if b is None else float(b))
                else:
                    ok = bool(a == b)
            except (TypeError, ValueError):
                ok = str(a) == str(b)
            if not ok:
                return f"row {i} col {c}: want={a!r} got={b!r}"
    return None


def oracle_frame(con, sql, cache_dir):
    """DuckDB's result for `sql`, cached per table set and SQL text."""
    import pandas as pd
    key = hashlib.sha1(sql.encode("utf-8")).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = _canon(con.sql(sql).df())
    tmp = path + ".tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def check_catalog(entries, dump_dir, dump_errors, data_dir, cache_dir):
    import duckdb
    bad = dict(dump_errors)
    with open(os.path.join(dump_dir, "oracle_sql.json"),
              encoding="utf-8") as f:
        oracle = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    for name in entries:
        if name in bad:
            continue
        got_path = f"{dump_dir}/{name}/*.parquet"
        try:
            got = con.sql(f"SELECT * FROM '{got_path}'").df()
        except Exception as e:  # noqa: BLE001 - reported, not raised
            bad[name] = f"result unreadable: {e}"
            continue
        if name not in oracle:
            if len(got) == 0:
                bad[name] = "no rows (row-count check)"
            continue
        try:
            want = oracle_frame(con, oracle[name], cache_dir)
        except Exception as e:  # noqa: BLE001
            bad[name] = f"oracle error: {e}"
            continue
        reason = frame_diff(want, _canon(got))
        if reason:
            bad[name] = reason
    con.close()
    return bad
