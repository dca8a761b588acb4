#!/usr/bin/env python3
"""AIS live/backfill + registry benchmark of the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload {ais_live,ais_backfill,registry}
        --seed N --seconds S --trace {0,1} [--slice full]

Builds the engine and the benchmark from source (perfbench/build.py),
runs one JVM that drives the engine through its public functions, and
prints as its last stdout line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with `--trace 0`, every per-layer one with `--trace 1`
(zero where a layer does not take part in the workload). The full
record of the run (host interference, set-up times, hermeticity
ledger, every layer metric) is written to
<build>/results/<workload>-seed<N>-trace<T>.json.

Workloads (all sessions `local[nproc]`, shuffle partitions = nproc; the
load comes from one generator thread in the benchmark's JVM):

* ais_live: open loop. The generator writes the seed's AIS feed
  (~42k vessels, 2,800 frames/s) on a 100 ms tick into a drop
  directory, write-then-rename; the two-job chain (text source ->
  AisPipeline.preprocess -> toJsonEnvelope -> from_json(featureSchema)
  -> flatMapGroupsWithState(last3FeatPerKey) -> foreachBatch) runs on
  the default back-to-back trigger. The first 6 s of feed warm the
  stream up and are not measured; S seconds of feed follow.
* ais_backfill (run by name; not in BENCHMARK.json, because on a
  shared 4-core host its run-to-run spread reached the 0.25 bound):
  closed loop. The same chain drains a staged 20 s backlog of the same
  feed (~56k frames, 4 one-second files per trigger) with
  Trigger.AvailableNow. One untimed drain warms up, then drains repeat
  while the next fits in S seconds (at least three).
* registry: a fixed slice of SparkEntry.queries at sf0.1 (one query of
  every operator module, see Registry.Slice), each materialised through
  the noop sink, in sorted-name order; passes repeat while the next
  fits in S seconds (at least one). `--slice full` runs every query
  with one set-up and no output check.

End-to-end metrics (`--trace 0`, tracing off), defined for every
workload:

* setup_s: median of 3 set-ups (fresh session, warm-up stream or
  flagship query, feed generation, backlog staging).
* latency_p50_ms / latency_p99_ms: time from an input's availability
  until its result is out. ais_live: from the frame's due tick until
  the sink call returns for the batch that first emits it at rn = 1
  (on-time frames). ais_backfill: from the start of the drain, when the
  whole backlog is available, to that same emission; median over
  drains. registry: a query's completion time within its pass (the
  query time of it and of the queries before it).
* consumed_frac: ais_live: frames the stream consumed by the end of the
  feed / frames fed (it falls when the rate is not sustainable).
  Otherwise successful / attempted inputs.
* throughput_fps: inputs completed per second: frames on the AIS
  workloads (on ais_live, the offered rate while sustainable), queries
  on registry.
* pass_s: one pass over the input: the measured live feed plus the
  catch-up after it, one backlog drain (median), one registry pass
  (median).
* query_p50_s / query_p95_s: one Spark query execution: a micro-batch
  (trigger time) on the AIS workloads, a registry query's build plus
  materialisation.
* heap_peak_mb: live heap (used heap after a full collection) at the
  end of each measured pass, the peak over passes.

Per-layer metrics (`--trace 1`) come from a separate traced pass with
the benchmark's listeners attached (SparkListener,
QueryExecutionListener phases, StreamingQueryListener progress,
Dataset.observe on the AIS source and after the W1/W4 filters) and
spans the benchmark records around its calls into the engine:
Tbl.schema_* (parquet schema-inference jobs during a query's build),
SparkEntry.build_s and <Module>.wall_s (registry), plan.* (Catalyst
phases of the timed write or sink collect), exec.* (jobs, stages,
tasks, task run vs CPU time, shuffle, spill, JVM GC), StreamingOps.*
and StatefulOps.* (per-batch p50 of the progress phases and state
operator times, run totals of rows), AisPipeline.keep_ratio, gen.*
(frames, how late the generator's ticks ran), host.* (steal, other
tenants' CPU, load, from graft.CpuMeter), failed_frac,
registry.leaked_queries (queries that left a conf, temp view, cached
relation or stream behind; names in the artifact), self.<layer>_s
(span time not covered by child spans), trace.overhead_s (traced minus
untraced pass time; latency p50 on ais_live) and, on ais_backfill,
baseline.local1_throughput_fps (the same drain at local[1]).
perfbench/layers.py compares two traced results layer by layer.

"""
import argparse
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT


def sf01_dir():
    """The sf0.1 table directory TESTDATA.md documents."""
    for line in open(os.path.join(ROOT, "TESTDATA.md")):
        m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
        if m:
            return m.group(1).rstrip("/")
    sys.exit("perfbench: TESTDATA.md names no sf0.1 directory")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]] + ["ais_backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--slice", default="default", choices=["default", "full"])
    a = ap.parse_args()

    opens = build.build()
    bd = build.build_dir()
    work = os.path.join(bd, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp", *opens,
           "-cp", build.classpath(), "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--slice", a.slice, "--sf", sf01_dir(),
           "--out", out, "--work", work]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    # a terminated benchmark still stops its JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        # a run ends within 180 s; a full registry pass takes minutes
        rc = p.wait(timeout=170 if a.slice == "default" else None)
        r = json.load(open(out)) if rc == 0 and os.path.exists(out) else None
    except subprocess.TimeoutExpired:
        rc, r = "timeout", None
    finally:
        # the JVM and anything it started (the oracle check) share a group
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
    if r is None:
        sys.exit(f"perfbench: run failed ({rc})")

    section, declared = ("layers", spec["per_layer"]) if a.trace else ("e2e", spec["end_to_end"])
    got = r[section]
    unknown = set(got) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if not a.trace and unknown:
        sys.exit(f"perfbench: undeclared metrics {sorted(unknown)}")
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None and not a.trace:
            sys.exit(f"perfbench: metric {m['name']} missing")
        v = 0.0 if v is None else float(v)
        if not math.isfinite(v):
            sys.exit(f"perfbench: metric {m['name']} is {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    line = {"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
            "failed": int(r["failed"]), "metrics": metrics}
    res_dir = os.path.join(bd, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "slice": a.slice, "time": time.time(),
                   "result": line, "layers": r["layers"], "e2e": r["e2e"],
                   "detail": r["detail"]}, f, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
