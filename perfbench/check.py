"""Output checks: compare the answers a run recorded with the generator's
ground truth. Every op record that fails its check counts as a failed op.

    python3 perfbench/check.py --self-test

feeds the checkers corrupted outputs and exits non-zero unless every
corruption is caught.
"""
import copy
import json
import os
import sys


def check_export(result, truth, _fp_file=None):
    """Rows per table from the write and partition counts from the re-read
    must match the truth, in every pass."""
    bad = []
    tables = truth["tables"]
    for o in result["ops"]:
        if not o["ok"]:
            continue
        t = tables.get(o["name"])
        a = o["answer"]
        if t is None:
            bad.append((o, "unexpected table"))
        elif o["kind"] == "write" and a["rows"] != t["rows_out"]:
            bad.append((o, f"rows {a['rows']} != {t['rows_out']}"))
        elif o["kind"] == "readback" and a["partitions"] != t["partitions"]:
            bad.append((o, f"partitions {a['partitions']} != {t['partitions']}"))
    passes = {o["pass"] for o in result["ops"]}
    for p in passes:
        written = {o["name"] for o in result["ops"] if o["pass"] == p and o["kind"] == "write"}
        if written != set(tables):
            bad.append(({"pass": p, "name": "tables", "kind": "write"}, f"tables {sorted(written)}"))
    return bad


def check_corpus(result, truth, fp_file):
    """Planted exact duplicates and the brute-force top-k must come out;
    every op's fingerprint must repeat across passes and match the one
    recorded for this seed (the first run of a seed records it)."""
    bad = []
    seen = {}
    recorded = {}
    if fp_file and os.path.exists(fp_file):
        with open(fp_file) as f:
            recorded = json.load(f)
    for o in result["ops"]:
        if o["kind"] != "readback" or not o["ok"]:
            continue
        q, a = o["name"], o["answer"]
        fp = a["fingerprint"]
        want = recorded.get(q, seen.setdefault(q, fp))
        if fp != want:
            bad.append((o, f"fingerprint {fp[:12]} != {want[:12]}"))
        if a["rows"] == 0:
            bad.append((o, "empty result"))
        if q == "dedup_exact_key" and sorted(a["result"]) != truth["dedup_exact_key"]:
            bad.append((o, "exact-key survivors differ from the truth"))
        if q == "dedup_ngram_jaccard" and sorted(a["result"]) != truth["scoped_exact_pairs"]:
            bad.append((o, f"Jaccard-1 pairs {sorted(a['result'])} != planted {truth['scoped_exact_pairs']}"))
        if q == "pipeline_canonical_dedup":
            comp = dict(map(tuple, a["result"]))
            label = comp.get(truth["chain"][0])
            members = sorted(d for d, c in comp.items() if c == label)
            if members != truth["chain"]:
                bad.append((o, f"planted chain component {members} != {truth['chain']}"))
        if q == "sim_topk_cosine":
            got = a["result"]
            want_ids = [v for v, _ in truth["sim_topk_cosine"]]
            cluster = set(truth["cluster_of_vec0"])
            if [v for v, _ in got] != want_ids or \
                    any(abs(c - w) > 2e-6 for (_, c), (_, w) in zip(got, truth["sim_topk_cosine"])) or \
                    not {v for v, _ in got} <= cluster:
                bad.append((o, f"top-k {got} != {truth['sim_topk_cosine']}"))
    if fp_file and not bad and not recorded and seen:
        with open(fp_file, "w") as f:
            json.dump(seen, f)
    return bad


def check_docstore(result, truth, _fp_file=None):
    """After every batch the live count and key checksum must match the
    live-key model, and every read must return the model's answer."""
    bad = []
    batches = truth["batches"]
    batch_of = {}
    for o in result["ops"]:
        if o["kind"] == "check":
            batch_of[o["pass"]] = int(o["name"][5:]) + 1
        if not o["ok"]:
            continue
        a = o["answer"]
        if o["kind"] == "check":
            m = batches[a["batch"]]
            if (a["live_count"], a["checksum"]) != (m["live_count"], m["checksum"]):
                bad.append((o, f"live {a['live_count']}/{a['checksum']} != model {m['live_count']}/{m['checksum']}"))
        elif o["kind"] == "read":
            m = batches[batch_of.get(o["pass"], 0)]
            if o["name"] == "point":
                want = [[m["point_key"], m["point_ver"]]] if m["point_ver"] is not None else []
                got = a["rows"]
            elif o["name"] == "range":
                want, got = [m["range_count"], m["range_key_sum"]], [a["count"], a["key_sum"]]
            else:
                want, got = m["live_count"], a["count"]
            if got != want:
                bad.append((o, f"{o['name']} read {got} != model {want}"))
    return bad


CHECKS = {"export": check_export, "corpus_prep": check_corpus, "docstore_ingest": check_docstore,
          "corpus_prep_fixture": check_corpus}


def check(workload, result, truth, fp_file=None):
    """(attempted, failed, reasons): every op record is one attempt; a
    record that errored or failed its check is one failure."""
    bad = CHECKS[workload](result, truth, fp_file)
    failed_ids = {id(o) for o, _ in bad} | {id(o) for o in result["ops"] if not o["ok"]}
    reasons = [f"pass {o.get('pass')} {o.get('kind')}:{o.get('name')}: {why}" for o, why in bad]
    reasons += [f"pass {o['pass']} {o['kind']}:{o['name']}: {o['error']}" for o in result["ops"] if not o["ok"]]
    extra = sum(1 for o, _ in bad if not any(o is r for r in result["ops"]))
    return len(result["ops"]) + extra, len(failed_ids), reasons


# ------------------------------------------------------------------ self-test

def _export_case():
    truth = {"tables": {"a": {"rows_out": 3, "partitions": {"2020": 2, "unknown": 1}},
                        "b": {"rows_out": 1, "partitions": {"unknown": 1}}}}
    ops = []
    for p in (0, 1):
        for t, v in truth["tables"].items():
            ops.append({"pass": p, "name": t, "kind": "write", "secs": 0.1, "ok": True, "answer": {"rows": v["rows_out"]}})
            ops.append({"pass": p, "name": t, "kind": "readback", "secs": 0.1, "ok": True,
                        "answer": {"partitions": dict(v["partitions"])}})
    return truth, {"ops": ops}


def _corpus_case():
    truth = {"dedup_exact_key": [["en", "src0", 0, 10]], "scoped_exact_pairs": [[0, 100]],
             "sim_topk_cosine": [[1, 0.9], [2, 0.8]], "cluster_of_vec0": [0, 1, 2], "chain": [16, 17, 18]}
    ops = []
    for p in (0, 1):
        ops.append({"pass": p, "name": "dedup_exact_key", "kind": "readback", "ok": True,
                    "answer": {"rows": 1, "fingerprint": "aa", "result": [["en", "src0", 0, 10]]}})
        ops.append({"pass": p, "name": "dedup_ngram_jaccard", "kind": "readback", "ok": True,
                    "answer": {"rows": 50, "fingerprint": "bb", "result": [[0, 100]]}})
        ops.append({"pass": p, "name": "sim_topk_cosine", "kind": "readback", "ok": True,
                    "answer": {"rows": 2, "fingerprint": "cc", "result": [[1, 0.9], [2, 0.8]]}})
        ops.append({"pass": p, "name": "pipeline_canonical_dedup", "kind": "readback", "ok": True,
                    "answer": {"rows": 5, "fingerprint": "dd",
                               "result": [[0, 0], [16, 16], [17, 16], [18, 16], [100, 0]]}})
    return truth, {"ops": ops}


def _docstore_case():
    truth = {"batches": [{"live_count": 2, "checksum": 7, "point_key": 3, "point_ver": 2, "range_count": 1,
                          "range_key_sum": 3}]}
    ops = [
        {"pass": 0, "name": "point", "kind": "read", "ok": True, "answer": {"rows": [[3, 2]]}},
        {"pass": 0, "name": "range", "kind": "read", "ok": True, "answer": {"count": 1, "key_sum": 3}},
        {"pass": 0, "name": "count", "kind": "read", "ok": True, "answer": {"count": 2}},
        {"pass": 0, "name": "batch0", "kind": "check", "ok": True, "answer": {"batch": 0, "live_count": 2, "checksum": 7}},
    ]
    return truth, {"ops": ops}


def _corrupt(result, pick, edit):
    r = copy.deepcopy(result)
    edit(pick(r["ops"])["answer"])
    return r


def self_test():
    cases = [
        ("export", _export_case(), [
            ("row count off by one", lambda ops: ops[0], lambda a: a.update(rows=a["rows"] - 1)),
            ("NULL-date rows lost from 'unknown'", lambda ops: ops[1], lambda a: a["partitions"].pop("unknown")),
            ("rows moved between years", lambda ops: ops[5], lambda a: a["partitions"].update({"2020": 1, "2021": 1})),
        ]),
        ("corpus_prep", _corpus_case(), [
            ("fingerprint drifts between passes", lambda ops: ops[5], lambda a: a.update(fingerprint="zz")),
            ("a planted exact duplicate is missed", lambda ops: ops[1], lambda a: a.update(result=[])),
            ("wrong survivor for a key", lambda ops: ops[0], lambda a: a.update(result=[["en", "src0", 5, 10]])),
            ("top-k order changed", lambda ops: ops[2], lambda a: a.update(result=[[2, 0.8], [1, 0.9]])),
            ("planted chain split in two", lambda ops: ops[3],
             lambda a: a.update(result=[[0, 0], [16, 16], [17, 16], [18, 18], [100, 0]])),
        ]),
        ("docstore_ingest", _docstore_case(), [
            ("a deleted row comes back", lambda ops: ops[3], lambda a: a.update(live_count=3)),
            ("an update is lost", lambda ops: ops[0], lambda a: a.update(rows=[[3, 1]])),
            ("range read misses a partition", lambda ops: ops[1], lambda a: a.update(count=0, key_sum=0)),
        ]),
    ]
    failures = 0
    for workload, (truth, clean), corruptions in cases:
        attempted, failed, why = check(workload, clean, truth)
        if failed:
            print(f"FAIL {workload}: clean output rejected: {why}")
            failures += 1
        for label, pick, edit in corruptions:
            attempted, failed, why = check(workload, _corrupt(clean, pick, edit), truth)
            status = "caught" if failed else "MISSED"
            failures += not failed
            print(f"{status:7s}{workload}: {label}" + (f" -> {why[0]}" if why else ""))
    print("self-test " + ("passed" if not failures else f"failed ({failures})"))
    return failures == 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(0 if self_test() else 1)
    sys.exit("usage: python3 perfbench/check.py --self-test")
