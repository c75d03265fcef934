"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload graph_query --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds graft and the runner (see
`build.py`), generates the workload's inputs from the seed under
`.perfbench_work/`, starts one JVM with Spark at `local[nproc]`, checks
every operation against the generator's ledger, and prints two lines:
a report (environment, tail percentiles, failures) and, last, the result
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
See README.md for the workloads and what each metric means.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK_DIR = ".perfbench_work"
HEAP = "1g"
SETUP_REPS = 3
OP_TIMEOUT_S = 60
JVM_DEADLINE_S = 170
# `curate` is not a workload of its own in BENCHMARK.json: the traced run
# of this workload also runs a traced curate pass for the curate layers
CURATE_HOST = "table_churn"


def expected_of(workload, ledger):
    def expected(op):
        if op["kind"] == "setup":
            return ledger["setup_expected"]
        if workload == "curate":
            return ledger["expected_kept"]
        return ledger["expected"][op["id"]]
    return expected


def actual_of(workload, op):
    """The checked output of an operation record."""
    if workload == "curate" and op["kind"] != "setup":
        return op["facts"].get("kept")
    return op.get("result")


def source_id(root, classpath):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    graft_dir = next(p for p in classpath if os.path.basename(p).startswith("graft-"))
    return "src-" + os.path.basename(graft_dir).split("-", 1)[1]


class RunError(Exception):
    pass


def run_workload(root, classpath, workload, seed, seconds, trace, deadline):
    """Generate one workload's inputs, run its JVM and check every output.

    Returns (report, result): the report line and the fields of the result
    line. `deadline` is a `time.monotonic()` by which the JVM must exit."""
    work = os.path.join(root, WORK_DIR, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    # set-up, part 1: generate the inputs SETUP_REPS times; every
    # repetition must reproduce the same bytes
    gen_s, hashes = [], None
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        plan, ledger = gen.generate(workload, seed, os.path.join(work, "in"))
        gen_s.append(time.monotonic() - t0)
        h = [gen.file_sha256(f) for f in ledger["files"]]
        if hashes is not None and h != hashes:
            raise RunError("generator is not deterministic")
        hashes = h

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    records = os.path.join(work, "records.jsonl")
    log = os.path.join(work, "jvm.log")
    cmd = build.java_cmd(classpath, HEAP, tmp) + [
        "graft.perfbench.Main", os.path.join(work, "in", "plan.json"), records,
        str(seconds), str(trace), str(SETUP_REPS), str(OP_TIMEOUT_S)]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RunError(f"runner exceeded its deadline; see {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise RunError(f"runner exited with {rc}; see {log}")

    recs = [json.loads(line) for line in open(records)]
    ops = [r for r in recs if r["t"] == "op"]
    for op in ops:
        op["actual"] = actual_of(workload, op)
    env = next(r for r in recs if r["t"] == "env")
    summary = next(r for r in recs if r["t"] == "summary")
    spans = [r for r in recs if r["t"] == "span"]
    setups = [g + r["s"] for g, r in zip(gen_s, [r for r in recs if r["t"] == "setup"])]
    session = next(r for r in recs if r["t"] == "session")
    warmup_s = next(r["s"] for r in recs if r["t"] == "warmup")
    # set-up time: JVM and session start, the median set-up (generation
    # and build), and the warm-up
    setup_s = session["s"] + metrics.median(setups) + warmup_s
    plain = [o for o in ops if o["phase"] == "plain"]
    traced = [o for o in ops if o["phase"] == "traced"]

    attempted, failed, why, bad = metrics.account(ops, expected_of(workload, ledger))
    checks = {}
    if workload == "graph_query" and trace:
        sk = {o["facts"].get("skipped_lines") for o in ops if o["kind"] == "setup" and o["facts"]}
        checks["skipped_lines"] = sk == {ledger["skipped_lines"]}
    if not plain:
        checks["measured_ops"] = False
    setup_ops = [o for o in ops if o["kind"] == "setup"]
    e2e, tail_info = metrics.end_to_end(workload, ledger, plain, setup_s, setup_ops, summary)
    if trace:
        warm = [o for o in ops if o["phase"] == "warmup"]
        vals = metrics.per_layer(workload, plan, ledger, env["nproc"], warm, plain, traced,
                                 spans, setup_ops, summary)
    else:
        vals = e2e
    report = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "source": source_id(root, classpath),
        "env": {k: v for k, v in env.items() if k != "t"},
        "input_bytes": ledger["input_bytes"],
        "input_per_storage_memory": ledger["input_bytes"] / env["storage_bytes"],
        "setup_reps_s": setups, "generate_s": gen_s,
        "jvm_and_session_start_s": session["s"], "session_build_s": session["session_s"],
        "warmup_s": warmup_s,
        "tail": tail_info, "failures": why, "failed_ops": bad[:20], "checks": checks,
        "ops_exhausted": summary["exhausted"], "end_to_end": e2e,
    }
    if trace:
        report["per_layer"] = vals
    result = {"correct": failed == 0 and all(checks.values()),
              "attempted": attempted, "failed": failed, "values": vals}
    return report, result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # a first run's build has its own allowance
    deadline = time.monotonic() + JVM_DEADLINE_S
    try:
        report, result = run_workload(root, classpath, args.workload, args.seed,
                                      args.seconds, args.trace, deadline)
        if args.trace and args.workload == CURATE_HOST:
            # the curate layers' spans come from a traced curate pass: one
            # plain and one traced curate run after set-up and warm-up
            creport, cres = run_workload(root, classpath, "curate", args.seed, 0, 1, deadline)
            report["curate_pass"] = creport
            for name in metrics.CURATE_LAYERS:
                result["values"][name] = cres["values"][name]
            result["correct"] = result["correct"] and cres["correct"]
            result["attempted"] += cres["attempted"]
            result["failed"] += cres["failed"]
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    units = metrics.PER_LAYER_UNITS if args.trace else metrics.E2E_UNITS
    print(json.dumps(report))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["values"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
