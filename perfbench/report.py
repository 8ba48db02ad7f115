#!/usr/bin/env python3
"""Summarise a spans file written by a traced run (--trace 1): for each op
of each traced pass, its build and exec time, the self time of every span
kind below it, and the Spark counters of its jobs.

Usage: python3 perfbench/report.py SPANS.json [op-name-substring]
"""
import json
import sys
from collections import defaultdict


def per_op(spans):
    """{op span id: summary} for one pass's span list."""
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s["kind"] != "op":
            s = by_id[s["parent"]]
        return s["id"]

    ops = {}
    for s in spans:
        if s["kind"] == "op":
            ops[s["id"]] = dict(name=s["name"], wall_s=(s["end_ms"] - s["start_ms"]) / 1000,
                                self_s=defaultdict(float), jobs=0, ckpt_jobs=0, stages=0,
                                tasks=0, task_s=0.0, shuffle_write_mb=0.0, shuffle_read_mb=0.0)
    for s in spans:
        if s["kind"] in ("pass", "op"):
            continue
        o = ops[op_of(s)]
        o["self_s"][s["kind"]] += s["self_ms"] / 1000
        if s["kind"] in ("build", "exec"):
            o[s["kind"] + "_s"] = (s["end_ms"] - s["start_ms"]) / 1000
        elif s["kind"] == "job":
            o["jobs"] += 1
            o["ckpt_jobs"] += s["name"] == "job(checkpoint)"
        elif s["kind"] == "stage":
            o["stages"] += 1
            o["tasks"] += s.get("tasks", 0)
            o["task_s"] += s.get("task_s", 0.0)
            o["shuffle_write_mb"] += s.get("shuffle_write_mb", 0.0)
            o["shuffle_read_mb"] += s.get("shuffle_read_mb", 0.0)
    return ops


def main():
    doc = json.load(open(sys.argv[1]))
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    for i, p in enumerate(doc["passes"]):
        root = next(s for s in p["spans"] if s["kind"] == "pass")
        print(f"{doc['workload']} seed {doc['seed']} traced pass {i}: "
              f"wall {(root['end_ms'] - root['start_ms']) / 1000:.3f} s, "
              f"span remainder {p['metrics']['span.remainder_s']:.3f} s")
        for o in sorted(per_op(p["spans"]).values(), key=lambda o: -o["wall_s"]):
            if only not in o["name"]:
                continue
            selfs = " ".join(f"{k}={v:.3f}" for k, v in sorted(o["self_s"].items()))
            print(f"  {o['name']:<28} wall {o['wall_s']:.3f}  build {o.get('build_s', 0):.3f}"
                  f"  exec {o.get('exec_s', 0):.3f}  jobs {o['jobs']} (ckpt {o['ckpt_jobs']})"
                  f"  stages {o['stages']}  tasks {o['tasks']}  task_s {o['task_s']:.3f}"
                  f"  shuffle w/r MB {o['shuffle_write_mb']:.3f}/{o['shuffle_read_mb']:.3f}"
                  f"  self[{selfs}]")


if __name__ == "__main__":
    main()
