"""Answer checks of the benchmark, all made outside the timed regions.

- suites: each query's result against DuckDB running the query's
  `SparkEntry.oracleSql` over the same parquet, compared the way
  tools/check_oracle.py compares (sorted columns and rows, exact values);
  only DuckDB's answers are cached;
- serve-read: each distinct response body against the answers the input
  generator derived from its own rows (the harness already failed every
  repeat whose body differed from the first);
- serve-crud: checked by the clients themselves; their failures arrive in
  the harness record.
"""
import glob
import hashlib
import json
import math
import os
from urllib.parse import parse_qs, urlparse


def _phases(h):
    yield h.get("warmup", {})
    yield h.get("load", {})
    for k in ("untraced", "traced"):
        yield h.get("trace", {}).get(k, {})


def attempted(h):
    return sum(sum(p.get("attempted", {}).values()) for p in _phases(h))


def op_failures(h):
    """One entry per failed operation, as recorded by the harness."""
    out = []
    for p in _phases(h):
        n = sum(p.get("failed", {}).values())
        listed = p.get("failures", [])
        out += listed[:n] + ["(unlisted failure)"] * max(0, n - len(listed))
    return out


# ---- suites -----------------------------------------------------------------

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got, want):
    """None if equal the way tools/check_oracle.py decides, else why not."""
    import pandas as pd
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if {got[c].dtype.kind, want[c].dtype.kind} in ({"i", "f"}, {"u", "f"}):
            return f"int/float representation differs in {c}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e)[:800]}"
    return None


def _data_digest(data_dir):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracle_answer(con, sql, key, cache_dir):
    import pandas as pd
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def suite_answers(run_dir, data_dir, queries, cache_dir):
    import duckdb
    import pandas as pd
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    digest = _data_digest(data_dir)
    failures = []
    for q in queries:
        files = sorted(glob.glob(os.path.join(run_dir, "results", q, "*.parquet")))
        if q not in oracle:
            failures.append(f"{q}: no oracle SQL")
            continue
        if not files:
            failures.append(f"{q}: no result (the query failed)")
            continue
        key = hashlib.sha256((digest + oracle[q]).encode()).hexdigest()[:24]
        try:
            want = oracle_answer(con, oracle[q], key, cache_dir)
        except Exception as e:  # noqa: BLE001 - a broken oracle is a failure
            failures.append(f"{q}: duckdb error {e}")
            continue
        why = compare_frames(pd.concat([pd.read_parquet(f) for f in files]), want)
        if why:
            failures.append(f"{q}: {why}")
    con.close()
    return failures


# ---- serve-read ---------------------------------------------------------------

def _rows(body, key=None):
    v = json.loads(body)
    return v[key] if key else v


def check_body(path, body, exp):
    """None if the body is the right answer for path, else why not."""
    u = urlparse(path)
    p = {k: v[0] for k, v in parse_qs(u.query).items()}
    route = u.path
    pc = exp["per_country"]

    def eq(got, want, what):
        return None if got == want else f"{what}: got {got}, expected {want}"

    if route == "/health":
        return eq(json.loads(body), {"status": "running"}, "health")
    if route in ("/api/total_cases", "/api/total_deaths", "/api/total_vaccines"):
        field, want = {"/api/total_cases": ("total_weekly_cases", exp["total_cases"]),
                       "/api/total_deaths": ("total_weekly_deaths", exp["total_deaths"]),
                       "/api/total_vaccines": ("total_reported_shots", exp["total_vaccines"]),
                       }[route]
        return eq(_rows(body), [{field: want}], route)
    if route == "/api/top5_summary":
        v = json.loads(body)
        got = {"deaths": [[r["country_name"], r["total_deaths"]] for r in v["top5_deaths"]],
               "cases": [[r["country_name"], r["total_cases"]] for r in v["top5_cases"]]}
        return eq(got, {"deaths": exp["top5_deaths"], "cases": exp["top5_cases"]}, route)
    if route == "/api/weekly_statistics_total":
        page, limit = int(p["page"]), int(p["limit"])
        v = json.loads(body)
        want_rows = exp["page_rows"][(page - 1) * limit: page * limit]
        got_rows = [[r["country"], r["date"], r["confirmed_cases"], r["deaths"],
                     r.get("vaccinations")] for r in v["data"]]
        head = [v["page"], v["limit"], v["total_rows"], v["total_pages"]]
        n = exp["weekly_rows"]
        return eq(head, [page, limit, n, math.ceil(n / limit)], "page envelope") or \
            eq(got_rows, want_rows, f"page {page}")
    if route == "/api/weekly_statistics_by_country":
        c = pc[p["country_code"]]
        rows = _rows(body)
        got = [len(rows), sum(r["confirmed_cases"] for r in rows),
               sum(r.get("vaccinations") or 0 for r in rows),
               rows == sorted(rows, key=lambda r: r["date"])]
        return eq(got, [c["rows"], c["cases"], c["joined_shots"], True], path)
    if route.startswith("/api/graph/country/"):
        c = pc[p["country"]]
        metric = route.rsplit("/", 1)[1]
        rows = _rows(body, "data")
        want = {"cases": [c["rows"], c["cases"]], "deaths": [c["rows"], c["deaths"]],
                "vaccinated": [c["vacc_rows"], c["shots"]]}[metric]
        return eq([len(rows), sum(r["value"] for r in rows)], want, path)
    if route.startswith("/api/worldmap/"):
        field = {"cases": "cases", "deaths": "deaths", "vaccinated": "shots"}[route.rsplit("/", 1)[1]]
        got = {r["country"]: r["value"] for r in _rows(body, "data")}
        want = {k: c[field] for k, c in pc.items()
                if field != "shots" or c["vacc_rows"] > 0}
        return eq(got, want, route)
    if route == "/api/covid_cases_evolution":
        got = [[r["date"], r["total_cases"]] for r in _rows(body, "data")]
        return eq(got, [list(x) for x in exp["cases_evolution"]], route)
    if route == "/api/vaccinations_evolution":
        got = [[r["date"], r["total_daily_vaccinations"]] for r in _rows(body, "data")]
        return eq(got, [list(x) for x in exp["vaccinations_evolution"]], route)
    if route.startswith("/api/table/"):
        name = route.rsplit("/", 1)[1]
        return eq(len(json.loads(body)[name]), exp["table_rows"][name], route)
    if route == "/api/predict_cases":
        v = json.loads(body)
        preds = v.get("predictions", [])
        ok = (v.get("country") == p["country"] and v.get("days") == int(p["days"])
              and len(preds) == int(p["days"])
              and all(isinstance(x.get("predicted_cases"), int) for x in preds))
        return None if ok else f"{path}: malformed forecast {body[:200]}"
    return f"{path}: no check for this route"


def serve_bodies(dump, expected):
    """One failure per response whose answer is wrong."""
    failures = []
    for path, body in sorted(dump["bodies"].items()):
        try:
            why = check_body(path, body, expected)
        except (KeyError, TypeError, ValueError) as e:
            why = f"{path}: unexpected body {body[:200]} ({e!r})"
        if why:
            failures += [why] * dump["counts"].get(path, 1)
    return failures
