"""Output checks, run after the JVM has exited (outside every timed
window). Each returns a list of findings; a finding names the op it
belongs to (or None for the run as a whole) and a message."""
import hashlib
import json
import os
import sys

ROOT = os.getcwd()


def _dataset(path, partitioning="hive"):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning=partitioning).to_table()


def _epoch_ms(col):
    import pyarrow as pa
    import pyarrow.compute as pc
    return pc.cast(pc.cast(col, pa.timestamp("ms")), pa.int64()).to_pylist()


# ------------------------------------------------------------------ sync

SNAP_FIELDS = ("createdAt", "updatedAt", "properties", "associations", "archived",
               "emitted_id", "created_month")


def read_snapshot(path):
    """Snapshot rows as dicts in the model's shape (timestamps as epoch ms)."""
    t = _dataset(path)
    cols = {c: t.column(c).to_pylist() for c in ("id", "properties", "associations",
                                                  "archived", "emitted_id", "created_month")}
    cols["createdAt"] = _epoch_ms(t.column("createdAt"))
    cols["updatedAt"] = _epoch_ms(t.column("updatedAt"))
    return [{k: cols[k][i] for k in cols} for i in range(t.num_rows)]


def read_cursor(path):
    t = _dataset(path, partitioning=None)
    return sorted(zip(t.column("emitted_id").to_pylist(), _epoch_ms(t.column("cursor_date"))),
                  key=lambda r: (r[1], r[0]))


def check_sync(rows, expected, cursor_rows, expected_cursors, run_ids):
    """Compare the snapshot and cursor table to the model: every object
    once, each field as the latest intended change left it, emitted_id
    naming the cycle that last applied it (an unchanged re-send that got
    applied shows as a newer emitted_id), and one cursor row per cycle.
    Findings are charged to the cycles (ops) involved."""
    findings = []
    ops = set(run_ids)

    def charge(*ids):
        hit = [i for i in ids if i in ops]
        return hit or [None]

    seen = {}
    for r in rows:
        if r["id"] in seen:
            for op in charge(r["emitted_id"], seen[r["id"]]["emitted_id"]):
                findings.append((op, f"duplicate pk {r['id']} in snapshot"))
        seen[r["id"]] = r
    for oid, want in expected.items():
        got = seen.get(oid)
        if got is None:
            for op in charge(want["emitted_id"]):
                findings.append((op, f"{oid} missing from snapshot"))
            continue
        bad = [f for f in SNAP_FIELDS if got[f] != want[f]]
        if bad:
            for op in charge(want["emitted_id"], got["emitted_id"]):
                findings.append((op, f"{oid}: " + ", ".join(
                    f"{f}={got[f]!r} expected {want[f]!r}" for f in bad)))
    for oid in seen.keys() - expected.keys():
        for op in charge(seen[oid]["emitted_id"]):
            findings.append((op, f"{oid} in snapshot but never landed"))
    if sorted(cursor_rows, key=lambda r: (r[1], r[0])) != sorted(
            expected_cursors, key=lambda r: (r[1], r[0])):
        got, want = set(cursor_rows), set(expected_cursors)
        for rid, wm in sorted(got ^ want, key=lambda r: (r[1], r[0])):
            side = "unexpected" if (rid, wm) in got else "missing"
            for op in charge(rid):
                findings.append((op, f"cursor row ({rid}, {wm}) {side}"))
    return findings


# ----------------------------------------------------------- query suite

def _normalize():
    """check.py's result normalization (sorted columns, canonical values,
    sorted rows), so this comparison is the one the oracle gate makes."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from check import normalize
    finally:
        sys.path.pop(0)
    return normalize


def check_queries(sf_dir, oracle_sql, results_dir, ops):
    """Every query's row count in every round against the DuckDB oracle's;
    the full result of each query's first run against the oracle rows."""
    import duckdb
    import pandas as pd
    normalize = _normalize()
    con = duckdb.connect()
    for t in sorted(os.listdir(sf_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{sf_dir}/{t}'")
    findings, expected = [], {}
    for o in ops:
        for q in o["extra"].get("queries", []):
            name = q["name"]
            if q["error"]:
                continue
            if name not in expected:
                sql = oracle_sql.get(name)
                expected[name] = normalize(con.sql(sql).df()) if sql else None
            want = expected[name]
            if want is None:
                findings.append((o["op"], f"{name}: no oracle SQL registered"))
                continue
            if q["rows"] != len(want):
                findings.append((o["op"], f"{name}: count {q['rows']} != oracle {len(want)}"))
            if q["dumped"]:
                got = normalize(pd.read_parquet(os.path.join(results_dir, name)))
                if list(got.columns) != list(want.columns):
                    findings.append((o["op"], f"{name}: columns {list(got.columns)} != "
                                              f"{list(want.columns)}"))
                elif not got.equals(want):
                    findings.append((o["op"], f"{name}: values differ from the oracle"))
    return findings


# ---------------------------------------------------------------- corpus

def check_corpus(export_rows, planted, budget, verify_findings):
    """Invariants of one exported corpus: no two docs share a content hash,
    no planted-contaminated doc survives, packing is the per-source running
    token sum (every doc starts inside its sequence's budget window), and
    Shards.verify found nothing."""
    findings = [f"Shards.verify: {v}" for v in verify_findings]
    hashes = {}
    for r in export_rows:
        h = hashlib.md5(r["text"].encode()).hexdigest()
        if h in hashes:
            findings.append(f"docs {hashes[h]} and {r['doc_id']} share content hash {h}")
        hashes[h] = r["doc_id"]
    survivors = sorted(set(planted) & {r["doc_id"] for r in export_rows})
    if survivors:
        findings.append(f"{len(survivors)} planted-contaminated docs survive: {survivors[:5]}")
    by_source = {}
    for r in export_rows:
        by_source.setdefault(r["source"], []).append(r)
    for src, docs in sorted(by_source.items()):
        cum = 0
        for r in sorted(docs, key=lambda d: d["doc_id"]):
            n = len(r["text"].lower().split())
            start = cum
            cum += n
            if r["n_toks"] != n:
                findings.append(f"doc {r['doc_id']}: n_toks {r['n_toks']} != {n}")
            if not (0 <= start - r["seq_id"] * budget < budget):
                findings.append(f"doc {r['doc_id']} ({src}) starts at token {start}, "
                                f"outside sequence {r['seq_id']}'s budget window")
    return findings


def read_export(path):
    t = _dataset(path)
    cols = {c: t.column(c).to_pylist() for c in ("doc_id", "text", "source", "n_toks",
                                                  "seq_id")}
    return [{k: cols[k][i] for k in cols} for i in range(t.num_rows)]


def load_json(path):
    with open(path) as f:
        return json.load(f)
