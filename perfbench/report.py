"""Reduce the client's raw records to metrics, check query outputs
against the DuckDB oracle, stamp provenance, and compare two results."""
import hashlib
import json
import math
import platform
import statistics
import subprocess
import sys
from pathlib import Path

# name -> unit, for the end-to-end metrics of a --trace 0 run
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_ms": "ms",
    "op_tail_ms": "ms", "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
# name -> unit, for the per-layer metrics of a --trace 1 run
PER_LAYER = {
    "tables.load_jobs": "count", "tables.load_ms": "ms",
    "builder.ms": "ms", "builder.self_ms": "ms", "builder.jobs": "count",
    "memo.build_ms": "ms", "memo.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.self_ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_failures": "count",
    "exec.core_util": "ratio",
    "etl.gate_ms": "ms", "etl.gate_jobs": "count", "etl.write_ms": "ms",
    "etl.write_jobs": "count", "etl.bytes_written": "bytes",
    "etl.files_written": "count", "etl.rejects": "count",
    "etl.out_bytes_per_in_byte": "ratio",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "ops.failed_ratio": "ratio", "op.tail_pct": "pct", "op.samples": "count",
}
# layer metrics read from the cold pass: memo builds happen once a session
COLD_LAYER = ("memo.build_ms", "memo.build_jobs")
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def tail(samples, per_op):
    """(percentile, value): the highest of PERCENTILES with at least ten
    samples beyond it (nearest rank). Under 20 samples no percentile
    above the median has ten beyond it; the tail is then the slowest op's
    median latency, reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    ok = [p for p in PERCENTILES if n * (1 - p / 100) >= 10]
    if not ok:
        return 100, max(per_op)
    p = max(ok)
    return p, xs[math.ceil(p / 100 * n) - 1]


def pass_s(p):
    return sum(o["ms"] for o in p["ops"] if o["ok"]) / 1000


# steady passes the metrics use: the same count in every run, so each op
# is measured at the same point of JIT warm-up whatever the machine speed
MEASURED_PASSES = 2


def steady_ops(passes):
    """{op: (latencies, rows)} over the given passes, in first-pass order;
    failed executions left out."""
    got = {}
    for p in passes:
        for o in p["ops"]:
            if o["ok"]:
                lat, rows = got.setdefault(o["op"], ([], []))
                lat.append(o["ms"])
                rows.append(o["rows"])
    return {o["op"]: got[o["op"]] for o in passes[0]["ops"] if o["op"] in got}


def reduce(raw, mismatches):
    """Metrics from raw records. Failed op executions, and ops whose
    output the oracle or a twin rejects, count as failed; failed
    executions are in no timing."""
    passes = raw["passes"]
    plain = [p for p in passes if not p["traced"]][:MEASURED_PASSES]
    traced = [p for p in passes if p["traced"]]
    execs = raw["cold"]["ops"] + [o for p in passes for o in p["ops"]]
    failed_execs = [o for o in execs if not o["ok"]]
    check_fails = {c["op"]: c["error"] for c in raw["checks"] if c["error"]}
    check_fails.update(mismatches)
    failed = len(failed_execs) + len(check_fails)
    attempted = len(execs)
    # a steady pass op by op: each op's median over the measured passes
    ops = steady_ops(plain)
    op_ms = [statistics.median(lat) for lat, _ in ops.values()]
    op_rows = [statistics.median(rows) for _, rows in ops.values()]
    lat = [x for l, _ in ops.values() for x in l]
    pct, tail_ms = tail(lat, op_ms)
    if raw["trace"]:
        layers = {k: statistics.median(p["layers"][k] for p in traced)
                  for k in traced[0]["layers"]}
        for k in COLD_LAYER:
            layers[k] = raw["cold"]["layers"][k]
        untraced, traced_s = (statistics.median(map(pass_s, plain)),
                              statistics.median(map(pass_s, traced)))
        layers.update({
            "trace.untraced_pass_s": untraced, "trace.traced_pass_s": traced_s,
            "trace.overhead_s": traced_s - untraced,
            "ops.failed_ratio": failed / attempted,
            "op.tail_pct": pct, "op.samples": len(lat)})
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": statistics.median(raw["setup_s"]),
            "cold_pass_s": pass_s(raw["cold"]),
            "pass_s": sum(op_ms) / 1000,
            "op_p50_ms": statistics.median(op_ms),
            "op_tail_ms": tail_ms,
            "rows_per_s": sum(op_rows) / (sum(op_ms) / 1000),
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    failed_ops = sorted({o["op"] for o in failed_execs} | set(check_fails))
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics, "failed_ops": failed_ops,
        "errors": {**{o["op"]: o["error"] for o in failed_execs}, **check_fails},
        "op_tail": {"percentile": pct, "samples": len(lat), "ms": tail_ms},
        "passes": len(plain), "traced_passes": len(traced),
    }


def oracle_check(fixtures, check_dir, checks, cache_dir):
    """{op: why} for every dumped query output that differs from its
    DuckDB oracle result: same columns, type families, row count and
    values after a canonical sort (exact, as the correctness gate).
    Oracle results depend only on the SQL and the fixtures, so they are
    kept in `cache_dir` under a digest of both."""
    sql_file = check_dir / "oracle_sql.json"
    if not sql_file.exists():
        return {}
    import duckdb
    from pyarrow import feather
    oracle = json.loads(sql_file.read_text())
    fixture_key = "".join(sha256(p) for p in sorted(Path(fixtures).glob("*.parquet")))
    cache_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in sorted(Path(fixtures).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    out = {}
    for c in checks:
        name = c["op"]
        if c["error"] or name not in oracle:
            continue
        cached = cache_dir / (hashlib.sha256((fixture_key + oracle[name]).encode()).hexdigest()
                              + ".arrow")
        try:
            got = con.execute(f"SELECT * FROM '{check_dir / name}/*.parquet'").fetch_arrow_table()
            if cached.exists():
                want = feather.read_table(cached)
            else:
                want = con.execute(oracle[name]).fetch_arrow_table()
                feather.write_feather(want, cached)
        except Exception as e:  # an unreadable output or oracle is a mismatch
            out[name] = f"unreadable: {e}"
            continue
        why = compare_arrow(got, want)
        if why:
            out[name] = why
    con.close()
    return out


def family(t):
    s = str(t)
    for prefix, fam in (("int", "int"), ("uint", "int"), ("float", "float"),
                        ("halffloat", "float"), ("double", "float"),
                        ("string", "string"), ("large_string", "string"),
                        ("date", "date"), ("timestamp", "timestamp")):
        if s.startswith(prefix):
            return fam
    return s


def compare_arrow(got, want):
    gc, wc = sorted(got.column_names), sorted(want.column_names)
    if gc != wc:
        return f"columns {gc} != {wc}"
    gt = {f.name: family(f.type) for f in got.schema}
    wt = {f.name: family(f.type) for f in want.schema}
    diff = [c for c in gc if gt[c] != wt[c]]
    if diff:
        return f"type families differ on {diff}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    key = lambda t: tuple((x is None, str(x)) for x in t)
    a = sorted((tuple(r[c] for c in gc) for r in got.to_pylist()), key=key)
    b = sorted((tuple(r[c] for c in wc) for r in want.to_pylist()), key=key)
    for i, (x, y) in enumerate(zip(a, b)):
        for u, v in zip(x, y):
            same = u == v or (isinstance(u, float) and isinstance(v, float)
                              and math.isnan(u) and math.isnan(v))
            if not same:
                return f"row {i}: {u!r} != {v!r}"
    return None


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def provenance(root, fixtures, source_files, raw):
    """Where a result came from. `git` is null outside a git checkout;
    `source_sha256` identifies the measured sources either way."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    src = hashlib.sha256()
    for p in source_files:
        src.update(str(p.relative_to(root)).encode())
        src.update(p.read_bytes())
    return {
        "git_commit": commit, "source_sha256": src.hexdigest(),
        "fixtures": {p.name: sha256(p) for p in sorted(Path(fixtures).glob("*.parquet"))},
        "nproc": raw["cores"], "jdk": raw["java"], "spark": raw["spark"],
        "python": platform.python_version(), "seed": raw["seed"],
        "workload": raw["workload"], "traced": raw["trace"],
    }


def comparable(a, b):
    """Why two results must not be compared, or None."""
    pa, pb = a["provenance"], b["provenance"]
    for k in ("fixtures", "nproc", "workload", "traced"):
        if pa[k] != pb[k]:
            return f"{k} differs"
    return None


def compare_files(paths):
    if len(paths) != 2:
        print("usage: run.py compare A.json B.json", file=sys.stderr)
        return 2
    a, b = (json.loads(Path(p).read_text()) for p in paths)
    why = comparable(a, b)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    for k, m in a["metrics"].items():
        if k in b["metrics"]:
            va, vb = m["value"], b["metrics"][k]["value"]
            ratio = f"{vb / va:.3f}x" if va else "n/a"
            print(f"{k:28s} {va:14.6g} {vb:14.6g} {ratio:>9s} {m['unit']}")
    return 0
