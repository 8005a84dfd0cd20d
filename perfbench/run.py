"""Benchmark entry point. Run from the root of the repository:

    python3 perfbench/run.py --workload export|corpus_prep|docstore_ingest \
        --seed N --seconds S --trace 0|1

Builds the engine and the JVM program from source (perfbench/build.py),
generates the seed's inputs once and re-verifies their checksums on every
run (perfbench/gen.py), runs the workload closed-loop for S seconds in a
fresh JVM (at least one cold and two warm passes), checks every output
against the ground truth (perfbench/check.py) and prints one JSON object
as the last line of stdout. `--trace 0` reports the end-to-end metrics;
`--trace 1` reports the per-layer metrics and the tracing overhead and
writes spans and per-op counters to perfbench/.work/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("export", "corpus_prep", "docstore_ingest")
SLOTS = 4
HEAP = "2g"
GC = "-XX:+UseParallelGC"
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(cp, work, args):
    """Run the JVM program to completion in a fresh process; return its
    result.json."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench", "--work", work, "--spawn-ms", str(int(time.time() * 1000))] + args
    with open(os.path.join(work, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM program timed out; log in {work}/jvm.log")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"JVM program exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def inputs(workload, seed, work):
    """The seed's generated inputs, verified by checksum; generated once."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(work, "data", f"{workload}-seed{seed}-{version}")
    if not gen.verify(d):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        gen.generate(workload, seed, d)
        if not gen.verify(d):
            raise SystemExit(f"generated inputs in {d} fail their own checksums")
    return d


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else median(xs)


# ------------------------------------------------------------ end-to-end

def client_latencies(result, passes):
    """Latencies of the client's write and read calls in `passes`
    (re-reads of export and corpus outputs count as reads)."""
    ids = {p["pass"] for p in passes}
    ops = [o for o in result["ops"] if o["pass"] in ids and o["ok"]]
    return ([o["secs"] for o in ops if o["kind"] == "write"],
            [o["secs"] for o in ops if o["kind"] in ("read", "readback")])


def end_to_end(workload, result, truth):
    passes = result["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    warm_ids = {p["pass"] for p in warm}
    extra = {x["pass"]: x for x in result["extra"]["passes"]}
    pass_s = median([p["wall_s"] for p in warm])
    if workload == "docstore_ingest":
        out = [extra[i]["stored_bytes"] for i in warm_ids]
        live = [extra[i]["stored_bytes"] / extra[i]["live_bytes"] for i in warm_ids]
    else:
        out = [extra[i]["out_bytes"] for i in warm_ids]
        live = [extra[i]["out_bytes"] / extra[i]["data_bytes"] for i in warm_ids]
    rows_in = sum(t["rows_in"] for t in truth["tables"].values()) if workload == "export" else truth["rows_in"]
    return {
        "setup_s": result["setup_s"],
        "pass_s_p50": pass_s,
        "rows_per_s": rows_in / pass_s,
        "cpu_s_per_pass": median([p["cpu_s"] for p in warm]),
        "peak_rss_mb": result["peak_rss_mb"],
        "out_bytes_per_in_byte": median(out) / truth["in_bytes"],
        "stored_bytes_per_live_byte": median(live),
    }


# ------------------------------------------------------------ per-layer

def _self_times(spans):
    """Per span name: total duration minus the time its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_s"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], end), min(c["end_s"], s["end_s"])
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_s"] - s["start_s"]) - covered
    return out


def per_layer(workload, result):
    trace = result["trace"]
    passes = result["passes"]
    # pass 1 of a traced run is extra warm-up, in neither set
    traced = [p for p in passes[2:] if p["traced"]] or passes[:1]
    untraced = [p for p in passes[2:] if not p["traced"]]
    extra = {x["pass"]: x for x in result["extra"]["passes"]}
    client = ("write", "read", "build", "exec", "config", "sources", "create")

    def op_pass(op_id):
        p, _, name = op_id.partition("|")
        return int(p), name

    def one(pass_rec):
        p = pass_rec["pass"]
        ops = {n: s for k, s in trace["ops"].items() for q, n in [op_pass(k)]
               if q == p and n.split(":")[0] in client}
        spans = [s for s in trace["spans"] if s["op"].startswith(f"{p}|")]
        dur = {}
        for s in spans:
            dur[s["name"]] = dur.get(s["name"], 0.0) + s["end_s"] - s["start_s"]
        tot = {k: sum(s[k] for s in ops.values()) for k in next(iter(trace["ops"].values())) if k != "kernel"}
        kernel_ops = {n.split(":", 1)[1] for n, s in ops.items() if s["kernel"] and ":" in n}
        kernel_cpu = sum(s["cpu_ns"] for n, s in ops.items() if ":" in n and n.split(":", 1)[1] in kernel_ops)
        reads = [o for o in result["ops"] if o["pass"] == p and o["kind"] == "read" and o["ok"]]
        # a query's candidate pairs: rows out of its joins; kept: rows in its output
        q_pairs = {}
        for n, s in ops.items():
            if n.startswith(("build:", "exec:")):
                q_pairs[n.split(":", 1)[1]] = q_pairs.get(n.split(":", 1)[1], 0) + s["join_rows"]
        kept = {o["name"]: o["answer"]["rows"] for o in result["ops"]
                if o["pass"] == p and o["kind"] == "readback" and o["ok"] and "rows" in o["answer"]}
        q_pairs = {q: n for q, n in q_pairs.items() if n and q in kept}
        read_stats = [s for n, s in ops.items() if n.startswith("read:")]
        export_scan = sum(s["scan_rows"] for n, s in ops.items() if n.startswith("write:"))
        x = extra.get(p, {})
        wall = pass_rec["wall_s"]
        m = {
            "setup.session_s": result["setup_s"],
            "etl.transform_build_s": dur.get("etl.transform", 0.0),
            "etl.export_table_s": dur.get("etl.exportTable", 0.0),
            "etl.rows_out": x.get("rows_out", 0) if workload == "export" else 0,
            "etl.files_out": x.get("files_out", 0) if workload == "export" else 0,
            "etl.partitions_out": x.get("partitions_out", 0) if workload == "export" else 0,
            "etl.rows_out_per_row_scanned": (x.get("rows_out", 0) / export_scan) if workload == "export" and export_scan else 0.0,
            "sources.read_build_s": dur.get("sources.read", 0.0),
            "sources.scan_mb": tot["scan_bytes"] / 1e6,
            "sources.scan_rows": tot["scan_rows"],
            "sources.scan_tasks": tot["scan_tasks"],
            "sources.scan_tasks_empty_frac": tot["scan_tasks_empty"] / tot["scan_tasks"] if tot["scan_tasks"] else 0.0,
            "docstore.commit_s": dur.get("docstore.write", 0.0) - dur.get("docstore.compact", 0.0),
            "docstore.compact_s": dur.get("docstore.compact", 0.0),
            "docstore.compact_mb_rewritten": x.get("compact_bytes_rewritten", 0) / 1e6,
            "docstore.files_live": x.get("files_live", 0),
            "docstore.dv_files_live": x.get("dv_files_live", 0),
            "docstore.files_pruned_frac": 1 - sum(s["files_planned"] for s in read_stats) /
            sum(o["answer"]["files_live"] for o in reads) if reads else 0.0,
            "docstore.rows_read_per_row_returned": sum(s["scan_rows"] for s in read_stats) /
            max(1, sum(o["answer"]["matched"] for o in reads)) if reads else 0.0,
            "ops.build_s": dur.get("ops.build", 0.0),
            "ops.build_jobs": sum(s["jobs"] for n, s in ops.items() if n.startswith("build:")),
            "ops.exec_s": dur.get("ops.exec", 0.0),
            "ops.candidate_pairs": sum(q_pairs.values()),
            "ops.pairs_kept_frac": sum(kept[q] for q in q_pairs) / sum(q_pairs.values()) if any(q_pairs.values()) else 0.0,
            "expr.kernel_cpu_s": kernel_cpu / 1e9,
            "plan.analysis_s": tot["analysis_ms"] / 1e3,
            "plan.optimization_s": tot["optimization_ms"] / 1e3,
            "plan.planning_s": tot["planning_ms"] / 1e3,
            "plan.exchanges": tot["exchanges"],
            "exec.jobs": tot["jobs"],
            "exec.stages": tot["stages"],
            "exec.tasks": tot["tasks"],
            "exec.run_s": tot["run_ms"] / 1e3,
            "exec.cpu_s": tot["cpu_ns"] / 1e9,
            "exec.gc_s": tot["gc_ms"] / 1e3,
            "exec.sched_wait_s": tot["sched_wait_ms"] / 1e3,
            "exec.core_util": tot["run_ms"] / 1e3 / (wall * SLOTS) if wall else 0.0,
            "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / 1e6,
            "exec.shuffle_read_mb": tot["shuffle_read_bytes"] / 1e6,
            "exec.spill_mb": tot["spill_bytes"] / 1e6,
            "exec.failed_tasks": tot["failed_tasks"],
        }
        return m

    per = [one(p) for p in traced]
    metrics = {k: median([m[k] for m in per]) for k in per[0]}
    # end-to-end metrics that do not repeat within a tenth across runs, or
    # whose p90 has fewer than 10 samples beyond it, are reported here
    writes, reads = client_latencies(result, untraced)
    metrics["client.cold_pass_s"] = passes[0]["wall_s"]
    metrics["client.write_s_p50"] = median(writes)
    metrics["client.write_s_p90"] = p90(writes)
    metrics["client.read_s_p50"] = median(reads)
    metrics["client.read_s_p90"] = p90(reads)
    t_on = median([p["wall_s"] for p in traced])
    t_off = median([p["wall_s"] for p in untraced])
    metrics["trace.overhead_s"] = t_on - t_off
    metrics["trace.overhead_frac"] = (t_on - t_off) / t_off if t_off else 0.0
    return metrics


def spec(root, key):
    """name -> unit of the BENCHMARK.json metric list `key`."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


# ------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    # corpus_prep_fixture: the corpus mix at test-fixture size, for the
    # noise postmortem in REFERENCE.md; not a benchmark workload
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("corpus_prep_fixture",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(HERE, ".work")
    cp = build.build(root, work)
    data = inputs(args.workload, args.seed, work)
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)

    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    result = jvm(cp, run, ["--workload", args.workload, "--data", data,
                           "--seconds", str(args.seconds), "--trace", str(args.trace)])

    fp_file = os.path.join(data, "fingerprints.json")
    attempted, failed, reasons = check.check(args.workload, result, truth, fp_file)
    for r in reasons[:20]:
        print("check failed:", r)
    if args.trace:
        metrics = per_layer(args.workload, result)
        tdir = os.path.join(work, "trace")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"passes": result["passes"], "spans": result["trace"]["spans"],
                       "ops": result["trace"]["ops"], "self_s": _self_times(result["trace"]["spans"]),
                       "metrics": metrics}, f)
        units = spec(root, "per_layer")
    else:
        metrics = end_to_end(args.workload, result, truth)
        metrics["ok_ops_frac"] = (attempted - failed) / attempted
        units = spec(root, "end_to_end")
    if set(metrics) != set(units):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    metrics = {k: (metrics[k], units[k]) for k in units}
    for f in ("jvm.log", "result.json"):
        shutil.copyfile(os.path.join(run, f), os.path.join(work, f"last-{args.workload}-{f}"))
    shutil.rmtree(run, ignore_errors=True)
    n_warm = len(result["passes"]) - 1
    for k, (v, u) in metrics.items():
        print(f"{k:34s} {v:14.6g} {u}")
    print(f"workload={args.workload} seed={args.seed} passes=1 cold + {n_warm} warm, ops attempted={attempted} failed={failed}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
