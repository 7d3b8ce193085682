"""Run one benchmark workload once.

    python3 perfbench/run.py --workload sync_deltas --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from
source if needed (perfbench/build.py), generates the workload's inputs from
the seed, runs them in one JVM for --seconds of closed-loop ops, checks the
outputs, and prints a summary, the full run record, and as the last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones (tracing off); with
--trace 1 the run measures an untraced section and then a traced one, and
the metrics are the per-layer ones from the traced section.

The run's record (record.json, with every span, job and failure) is kept
under .bench_runs/<workload>-s<seed>-t<trace>/; its bulky state is deleted.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sync_deltas", "query_suite", "corpus_prep")
CORES = min(4, len(os.sched_getaffinity(0)))
# G1, the JVM's default collector and the one the engine's own launch
# uses. The young generation is fixed (left to size itself, it moved the
# resident set by 16-19% between seeds; at 256 MB, task GC time per sync
# cycle went from 0.2-0.3 s to ~2 s), so what moves the resident set is
# the old generation: the program's retained data. C1-only JIT keeps compiler threads from
# competing with tasks for the 4 cores through a short run: with C2 on,
# query_suite's round time spread by 27% across seeds, with C1 only by
# 10%. That departs from the engine's own launch (tiered C2), so
# compute-heavy code runs slower here than there.
# (-XX:-UsePerfData: no hsperfdata file outside the working tree.)
JVM_FLAGS = ["-Xmx3g", "-Xmn768m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
# Repetitions of each workload's set-up step; setup_s counts their median.
# Three give a warm median where the step is cheap (~1 s). A sync
# bootstrap runs once: a second copy costs 5-9 s, which the pass budget
# (70 runs in ~3400 s) does not have.
SETUP_REPS = {"sync_deltas": 1, "query_suite": 3, "corpus_prep": 3}
RUN_LIMIT_S = 150       # input generation + JVM, build excluded; checks follow
SF_DIR = os.path.join(HERE, "testdata", "sf0.001")
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s",
                    "peak_rss_mb": "MB"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def engine_sha():
    h = hashlib.sha256()
    for p in build.sources():
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def make_inputs(workload, seed, work):
    """Generate the inputs; returns (plan section, expectations)."""
    inp = os.path.join(work, "in")
    if workload == "sync_deltas":
        plan, expect = gen.generate_sync(seed, inp)
        return {"sync": plan}, expect
    if workload == "corpus_prep":
        main, planted = gen.generate_corpus(seed, inp)
        return {"corpus": {"input": main, "rows_per_shard": gen.ROWS_PER_SHARD,
                           "max_ops": 64}}, planted
    return {"queries": {"dir": SF_DIR, "rounds": gen.query_rounds(seed)}}, None


def run_jvm(work, classpath, deadline):
    log = open(os.path.join(work, "jvm.log"), "w")
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    cmd = (["java"] + ADD_OPENS + JVM_FLAGS
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath,
              "perfbench.Harness", os.path.join(work, "plan.json")])
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        code = p.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("run: the harness JVM ran past the run limit and was killed; "
                         f"see {work}/jvm.log")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"run: harness JVM exited with code {code}:\n{tail}")


def check(workload, work, ops, expect):
    """Findings as (op id or None, class, message)."""
    out = []
    if workload == "sync_deltas":
        done = [o for o in ops if not o["error"]]
        n = len(done)
        timed = os.path.join(work, "state", f"rep-{SETUP_REPS[workload] - 1}")
        rows = checks.read_snapshot(os.path.join(timed, "snapshot"))
        cur = checks.read_cursor(os.path.join(timed, "cursor"))
        by_run = {o["name"]: o["op"] for o in ops}
        for run_id, msg in checks.check_sync(rows, expect.rows(n), cur, expect.cursors(n),
                                             [o["name"] for o in done])[:200]:
            out.append((by_run.get(run_id), "OutputMismatch", msg))
    elif workload == "query_suite":
        oracle = checks.load_json(os.path.join(work, "oracle_sql.json"))
        for op, msg in checks.check_queries(SF_DIR, oracle, os.path.join(work, "results"),
                                            ops):
            out.append((op, "OracleMismatch", msg))
    else:
        budget = 512   # CorpusPipeline.Config().packBudget
        for o in ops:
            if o["error"]:
                continue
            rows = checks.read_export(o["extra"]["export"])
            for msg in checks.check_corpus(rows, expect, budget, o["extra"]["verify"])[:50]:
                out.append((o["op"], "InvariantViolation", msg))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    work = os.path.join(os.getcwd(), ".bench_runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load0, cpu0 = loadavg(), cpu_times()

    g0 = time.time()
    section, expect = make_inputs(a.workload, a.seed, work)
    gen_s = time.time() - g0
    plan = dict(section, workload=a.workload, seconds=a.seconds, trace=a.trace,
                cores=CORES, setup_reps=SETUP_REPS[a.workload])
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)

    launch_ms = time.time() * 1000
    run_jvm(work, classpath, deadline)
    result = checks.load_json(os.path.join(work, "result.json"))
    load1, cpu1 = loadavg(), cpu_times()
    d = [b - a_ for a_, b in zip(cpu0, cpu1)]
    steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0

    ops = result["ops"]
    findings = check(a.workload, work, ops, expect)
    failures = {}
    for o in ops:
        if o["error"]:
            failures[o["op"]] = [{"workload": a.workload, "op": o["op"], "name": o["name"],
                                  "class": o["error"]["class"],
                                  "message": o["error"]["message"]}]
    run_level = []
    for op, cls, msg in findings:
        entry = {"workload": a.workload, "op": op, "class": cls, "message": msg}
        if op is None:
            run_level.append(entry)
        else:
            failures.setdefault(op, []).append(entry)
    attempted = len(ops)
    failed = len(failures)
    correct = failed == 0 and not run_level and attempted > 0

    untraced = [o for o in ops if o["section"] == "untraced"]
    traced = [o for o in ops if o["section"] == "traced"]
    lat = [(o["end_ms"] - o["start_ms"]) / 1000 for o in untraced]
    setup = result["setup"]
    setup_s = ((setup["main_start_ms"] - launch_ms) + setup["session_ms"]
               + statistics.median(setup["prepare_ms"]) + setup["warmup_ms"]) / 1000
    busy = sum(lat)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "rows_per_s": sum(o["rows"] for o in untraced) / busy if busy else float("nan"),
        "peak_rss_mb": result["peak_rss_kb"] / 1024,
    }
    sec = result["sections"]["untraced"]
    extra = {
        "run_s": (sec["end_ms"] - sec["start_ms"]) / 1000,
        "op_tail_s": stats.tail(lat),
        "failed_ratio": failed / attempted if attempted else 1.0,
        "input_gen_s": gen_s,
        "pool_peak_mb": result["pool_peak_mb"],
        "setup_parts_s": {"launch": (setup["main_start_ms"] - launch_ms) / 1000,
                          "session": setup["session_ms"] / 1000,
                          "prepare": [p / 1000 for p in setup["prepare_ms"]],
                          "warmup": setup["warmup_ms"] / 1000},
    }
    if a.workload == "sync_deltas":
        landed = sum(o["extra"]["landed_bytes"] for o in untraced)
        extra["write_amp"] = (sum(o["extra"]["bytes_written"] for o in untraced) / landed
                              if landed else None)
        extra["partitions_touched_per_op"] = (
            statistics.mean(o["extra"]["partitions_touched"] for o in untraced)
            if untraced else None)
    layer = {}
    if a.trace:
        layer, unattributed = stats.per_layer(result, traced, result["cores"])
        tl = [(o["end_ms"] - o["start_ms"]) / 1000 for o in traced]
        extra["traced_run_s"] = ((result["sections"]["traced"]["end_ms"]
                                  - result["sections"]["traced"]["start_ms"]) / 1000)
        extra["trace_overhead_s_per_op"] = (statistics.mean(tl) - statistics.mean(lat)
                                            if tl and lat else None)
        extra["unattributed"] = unattributed
        extra["task_cpu_ms_by_file"] = stats.cpu_by_file(result, traced)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "context": {"cores": result["cores"], "master": result["master"],
                    "nproc": len(os.sched_getaffinity(0)),
                    "jvm_max_heap_mb": result["jvm_max_heap_mb"],
                    "loadavg_start": load0, "loadavg_end": load1, "steal_share": steal,
                    "git_commit": git_commit(), "engine_sha": engine_sha()},
        "correct": correct, "attempted": attempted, "failed": failed,
        "failures": [f for fs in failures.values() for f in fs] + run_level,
        "end_to_end": e2e, "extra": extra, "per_layer": layer,
        "ops": [{k: o[k] for k in ("section", "op", "name", "rows", "error", "extra")}
                | {"latency_s": (o["end_ms"] - o["start_ms"]) / 1000} for o in ops],
        "spans": result["spans"], "jobs": result["jobs"],
    }
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f)
    for d_ in ("in", "state", "exports", "results", "tmp", "scratch"):
        shutil.rmtree(os.path.join(work, d_), ignore_errors=True)

    print(f"{a.workload} seed={a.seed} trace={a.trace} cores={result['cores']} "
          f"ops={attempted} failed={failed} correct={correct}")
    for f in record["failures"][:20]:
        print(f"  FAILED op={f['op']} {f['class']}: {f['message']}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {END_TO_END_UNITS[k]}")
    for k, v in extra.items():
        if not isinstance(v, dict):
            print(f"  {k} = {v}")
    print(f"  record: {os.path.relpath(work)}/record.json")
    if a.trace:
        metrics = {k: {"value": v, "unit": stats.PER_LAYER_UNITS[k]}
                   for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
