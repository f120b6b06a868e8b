"""Answer checks. Each returns {operation key: None if right, else the
reason it is wrong}; a wrong answer counts as a failed operation."""
import datetime
import glob
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return str(v) if not isinstance(v, (int, bool)) else int(v)


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_canon(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def oracle(results_dir, oracle_sql, data_dir):
    """Compare each query's result (one parquet dir per query) with DuckDB
    running its oracle SQL over the same tables: same column names, same
    rows as a bag, values equal exactly."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = "no result written"
            continue
        try:
            got = _rows(con, f"SELECT * FROM read_parquet({files!r})")
            want = _rows(con, sql)
        except Exception as e:  # noqa: BLE001 - any engine error is a wrong answer
            out[name] = f"oracle error: {e}"[:300]
            continue
        if got[0] != want[0]:
            out[name] = f"columns {got[0]} != {want[0]}"
        elif len(got[1]) != len(want[1]):
            out[name] = f"rows {len(got[1])} != {len(want[1])}"
        elif got[1] != want[1]:
            bad = next(i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b)
            out[name] = f"value mismatch, first at row {bad}: {got[1][bad]} != {want[1][bad]}"
        else:
            out[name] = None
    return out


def stable_hashes(execs):
    """Every execution of a query must hash like its first execution."""
    first, out = {}, {}
    for i, e in enumerate(execs):
        key = f"{e['query']}#{i}"
        if "error" in e:
            out[key] = e["error"]
            continue
        ref = first.setdefault(e["query"], e["hash"])
        out[key] = None if e["hash"] == ref else f"hash {e['hash']} != first {ref}"
    return out


def ingest(ledger, landed, observed=None, written=None):
    """The reference's A3 reconciliation: landed counts by (host,
    event_type), by direction, the total, and the distinct (host,
    event_type, event_detail) set must equal what the generator wrote.
    `observed` (n_valid, n_parsed), summed from the pipeline's own
    `graft_etl` metrics, must equal `written`, the generator's counts."""
    res = {e["query"]: e["rows"] for e in landed if "rows" in e}
    want_total = sum(r["n"] for r in ledger)
    want_a2, want_a3, want_a4 = {}, {}, set()
    for r in ledger:
        want_a2[r["direction"]] = want_a2.get(r["direction"], 0) + r["n"]
        k = (r["host"], r["event_type"])
        want_a3[k] = want_a3.get(k, 0) + r["n"]
        want_a4.add((r["host"], r["event_type"], r["event_detail"]))
    got_total = int(res["A1"][0][0])
    got_a2 = {d: int(n) for d, n in res["A2"]}
    got_a3 = {(h, t): int(n) for h, t, n in res["A3"]}
    got_a4 = {tuple(r) for r in res["A4"]}
    out = {
        "A1": None if got_total == want_total else f"count {got_total} != {want_total}",
        "A2": None if got_a2 == want_a2 else f"by direction {got_a2} != {want_a2}",
        "A4": None if got_a4 == want_a4 else f"{len(got_a4 ^ want_a4)} distinct rows differ",
    }
    if observed is not None:
        out["graft_etl"] = None if observed == written else f"observed {observed} != {written}"
    for k in sorted(set(got_a3) | set(want_a3), key=repr):
        got, want = got_a3.get(k, 0), want_a3.get(k, 0)
        out[f"A3 {k}"] = None if got == want else f"count {got} != {want}"
    return out


def tally(verdicts):
    """(attempted, failed) operations."""
    return len(verdicts), sum(1 for v in verdicts.values() if v)


def load(path):
    with open(path) as f:
        return json.load(f)
