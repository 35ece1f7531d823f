"""Output checks, run after the timed region. Each returns
(attempted, failed, problems): operations attempted in the pass, the ones
whose outputs were wrong, and a line per wrong value."""
import csv
import glob
import hashlib
import os

from gen import HEADERS


def read_csv(path):
    """(headers, rows) of one scale-mode sink: the part files under
    <path>.d, each with its own header row."""
    headers, rows = [], []
    for f in sorted(glob.glob(os.path.join(path + ".d", "*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            r = list(csv.reader(fh))
        if r:
            headers.append(r[0])
            rows.extend(r[1:])
    return headers, rows


def _lines(paths):
    n = 0
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            n += sum(1 for _ in fh)
    return n


def rows_digest(rows):
    """Digest of a sink's rows in sorted order: the part order of a
    scale-mode sink is free."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update("\x1f".join(row).encode() + b"\n")
    return h.hexdigest()


def check_etl_pass(rec, truth, first_digests):
    """Checks one ETL pass's counters and output files against the
    generator's ground truth. An entity run counts as failed when any of
    its outputs is wrong; a wrong shared output (metadata CSV, error log)
    fails both entity runs of the pass. first_digests maps sink -> digest
    of the first pass and is filled on the first call."""
    d = rec["dir"]
    problems = {"users": [], "cards": [], "shared": []}
    sink_rows = {}
    for ent in ("users", "cards"):
        t, got = truth[ent], rec["counters"].get(ent, {})
        for key in ("files", "valid", "invalid"):
            if got.get(key) != t[key]:
                problems[ent].append(f"{ent} counter {key}={got.get(key)} want {t[key]}")
        headers, rows = read_csv(os.path.join(d, f"{ent}.csv"))
        sink_rows[ent] = rows
        if not headers or any(h != HEADERS[ent] for h in headers):
            problems[ent].append(f"{ent} header {headers[:1]}")
        if len(rows) != len(t["emitted_ids"]):
            problems[ent].append(f"{ent} rows={len(rows)} want {len(t['emitted_ids'])}")
        ids = sorted(int(r[0]) for r in rows if r and r[0])
        if ids != t["emitted_ids"]:
            problems[ent].append(f"{ent} id set differs")
        qdir = os.path.join(d, f"{ent}_schema_mismatches")
        names = sorted(n for n in os.listdir(qdir) if not n.startswith(".")) \
            if os.path.isdir(qdir) else []
        if names != t["quarantined"]:
            problems[ent].append(f"{ent} quarantined {len(names)} want {len(t['quarantined'])}")
    headers, rows = read_csv(os.path.join(d, "metadata.csv"))
    sink_rows["metadata"] = rows
    want_meta = len(truth["users"]["emitted_ids"]) + len(truth["cards"]["emitted_ids"])
    if not headers or any(h != HEADERS["metadata"] for h in headers):
        problems["shared"].append(f"metadata header {headers[:1]}")
    if len(rows) != want_meta:
        problems["shared"].append(f"metadata rows={len(rows)} want {want_meta}")
    logs = sorted(glob.glob(os.path.join(d, "errors.log.d", "part-*")))
    want_log = truth["users"]["invalid"] + truth["cards"]["invalid"]
    if _lines(logs) != want_log:
        problems["shared"].append(f"error log lines={_lines(logs)} want {want_log}")
    for sink, rows in sink_rows.items():
        if not rows:
            continue
        dg = rows_digest(rows)
        if first_digests.setdefault(sink, dg) != dg:
            problems["shared"].append(f"{sink} digest differs from the first pass")
    failed = 2 if problems["shared"] else sum(1 for e in ("users", "cards") if problems[e])
    return 2, failed, [p for v in problems.values() for p in v]


def check_txlog_pass(rec, rows, read_every):
    """Commits must land at consecutive versions, each snapshot read must
    count every row committed so far, each point scan must return exactly
    its key, and the final table must hold every row once."""
    problems, failed = [], 0
    versions = rec["versions"]
    commits = len(versions)
    for c, v in enumerate(versions):
        if v != c:
            failed += 1
            problems.append(f"commit {c} landed at version {v}")
    for i, n in enumerate(rec["read_counts"]):
        want = (i + 1) * read_every * rows
        if n != want:
            failed += 1
            problems.append(f"snapshot read {i} counted {n} want {want}")
    for p in rec["points"]:
        if p["ids"] != [p["key"]]:
            failed += 1
            problems.append(f"point scan {p['key']} returned {p['ids'][:3]}")
    total = commits * rows
    final_ok = (rec["final_count"] == total
                and rec["final_sum"] == total * (total - 1) // 2
                and rec["head_version"] == commits - 1)
    if not final_ok:
        failed += 1
        problems.append(f"final table count={rec['final_count']} sum={rec['final_sum']} "
                        f"head={rec['head_version']}")
    attempted = commits + len(rec["read_counts"]) + len(rec["points"]) + 1
    return attempted, failed, problems


QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def query_oracles(sf_dir, oracle_sql):
    """key -> the key's DuckDB oracle result over the same tables, as a
    DataFrame with its columns in name order, or the oracle's error text."""
    import duckdb
    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for key, sql in oracle_sql.items():
        try:
            exp = con.execute(sql).fetchdf()
            out[key] = exp[sorted(exp.columns)]
        except Exception as e:  # an oracle that fails fails its key
            out[key] = f"oracle error: {e}"
    return out


def _null(v):
    # None, NaN and NaT are the null scalars unequal to themselves
    try:
        return v is None or v != v
    except Exception:
        return False


def frame_mismatch(exp, got):
    """None when got equals exp value by value (columns in name order, rows
    in order, any null equal to any null), else a line naming the first
    difference."""
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} want {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows={len(got)} want {len(exp)}"
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if _null(a) or _null(b):
                if _null(a) and _null(b):
                    continue
                return f"col={c} row={i} got {b!r} want {a!r}"
            a = a.to_pydatetime() if hasattr(a, "to_pydatetime") else a
            b = b.to_pydatetime() if hasattr(b, "to_pydatetime") else b
            try:
                same = bool(a == b)
            except Exception:
                same = str(a) == str(b)
            if not same:
                return f"col={c} row={i} got {b!r} want {a!r}"
    return None


def check_query_pass(rec, oracles):
    """Each key's count() in the pass must equal its oracle's row count."""
    problems = []
    for q in rec["queries"]:
        exp = oracles.get(q["key"], "no oracle SQL")
        want = len(exp) if not isinstance(exp, str) else exp
        if q["rows"] != want:
            problems.append(f"{q['key']} count={q['rows']} want {want}")
    return len(rec["queries"]), len(problems), problems


def check_query_dump(dump_dir, keys, oracles):
    """Each key's full result, dumped once after the timed passes, must
    equal its oracle's."""
    import duckdb
    problems = []
    for key in keys:
        exp = oracles.get(key, "no oracle SQL")
        if isinstance(exp, str):
            problems.append(f"{key}: {exp}")
            continue
        try:
            got = duckdb.sql(f"SELECT * FROM '{dump_dir}/{key}/*.parquet'").fetchdf()
        except Exception as e:
            problems.append(f"{key}: result missing: {e}")
            continue
        bad = frame_mismatch(exp, got)
        if bad:
            problems.append(f"{key}: {bad}")
    return len(keys), len(problems), problems
