"""Where a traced benchmark run's ops spend their time, job by job.

    python3 tools/bench_jobs.py .bench_runs/sync_deltas-s1-t1/record.json [OP ...]

Reads a perfbench record written with --trace 1. For each traced op (or
only the ops named by number) it prints every span in start order, each
Spark job the span started with its wall time, task count, task CPU and
innermost engine (`graft.`) frame, and then the span's driver gaps: the
time before its first job, between one job's end and the next job's start,
and after its last job. Nested spans print under their parent.
"""
import json
import sys


def frame(job):
    f = job["frames"][0] if job["frames"] else job["site"]
    return f.removeprefix("graft.")


def gaps(span, jobs):
    """Driver time in `span` outside its jobs, in ms: before the first
    job, between jobs (overlapping jobs leave no gap), after the last."""
    t = span["start_ms"]
    out = []
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        out.append(max(j["start_ms"] - t, 0.0))
        t = max(t, j["end_ms"])
    out.append(max(span["end_ms"] - t, 0.0))
    return out


def report(record, ops=None):
    spans = [s for s in record["spans"] if s["op"] and (not ops or s["op"] in ops)]
    jobs_by_span = {}
    for j in record["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    lines = []

    def walk(span, depth):
        pad = "  " * depth
        own = sorted(jobs_by_span.get(span["id"], []), key=lambda j: j["start_ms"])
        wall = span["end_ms"] - span["start_ms"]
        lines.append(f"{pad}{span['name']}  {wall:.0f} ms  jobs={len(own)}")
        for j in own:
            lines.append(f"{pad}  job {j['id']:>4}  {j['end_ms'] - j['start_ms']:>6} ms  "
                         f"tasks={j['tasks']:<3} cpu={j['cpu_ms']:.0f} ms  {frame(j)}")
        if own:
            g = gaps(span, own)
            lines.append(f"{pad}  driver gaps (ms): " + " ".join(f"{x:.0f}" for x in g)
                         + f"  total={sum(g):.0f}")
        for c in sorted(children.get(span["id"], []), key=lambda s: s["start_ms"]):
            walk(c, depth + 1)

    for root in sorted(children.get(0, []), key=lambda s: s["start_ms"]):
        n = sum(1 for j in record["jobs"] if j["op"] == root["op"])
        lines.append(f"op {root['op']} ({n} jobs)")
        walk(root, 1)
    return lines


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        record = json.load(f)
    if not record.get("trace"):
        sys.exit(f"{argv[1]}: not a traced run (run perfbench with --trace 1)")
    print("\n".join(report(record, {int(a) for a in argv[2:]})))


if __name__ == "__main__":
    main(sys.argv)
