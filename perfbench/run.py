"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload baseline_job --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run makes its
inputs from the seed, starts the fake FastNetMon API (job workloads),
runs ``worker.py`` in a temp directory of its own, checks every op's
output against an independent reference, removes the temp directory and
prints one JSON object as its last line of output. With ``--trace 0`` it
reports the end-to-end metrics, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request
from typing import NoReturn

import datagen
import procfs
import reference
from workloads import PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))

DEADLINE_S = 170  # a run must end within 180 s


def fail(msg: str, code: int = 2) -> NoReturn:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def start_api(tmp: str, networks: list[str], groups: list[str]) -> tuple[subprocess.Popen, int]:
    state = os.path.join(tmp, "api_state.json")
    port_file = os.path.join(tmp, "api_port")
    with open(state, "w") as f:
        json.dump({"networks": networks, "groups": groups}, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "fakeapi.py"), "--state", state, "--port-file", port_file],
        cwd=tmp, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    for _ in range(200):
        if os.path.exists(port_file):
            with open(port_file) as f:
                return proc, int(f.read())
        if proc.poll() is not None:
            break
        time.sleep(0.05)
    proc.kill()
    proc.wait()
    fail("fake API did not start")


def api_state(port: int) -> dict:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/_bench/state", timeout=30) as r:
        return json.load(r)


def run_worker(tmp: str, root: str, spec: dict, deadline: float) -> dict | None:
    spec_path = os.path.join(tmp, "spec.json")
    out_path = os.path.join(tmp, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "PYTHONHASHSEED": "0",
        # the launcher JVM that spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"):
        env.pop(k, None)
    with open(os.path.join(tmp, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, out_path],
            cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the JVM and Python workers are in the worker's session
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(os.path.join(tmp, "worker.log")) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        return None
    with open(out_path) as f:
        return json.load(f)


def check_job(res: dict, warmup_ops: int, inputs: dict, expected: list[dict],
              api: dict) -> tuple[bool, list[str]]:
    """Every op's groups must equal the reference, and the API must end
    holding exactly the reference's groups after identical work per op."""
    problems = []
    want = reference.groups_digest(expected)
    if res["verified"]["job"]["digest"] != want:
        problems.append("warm-up output differs from the reference")
    n_ops = len(res["ops"]) + warmup_ops
    n_nets = len(inputs["networks"])
    per_op = {"GET": 2, "DELETE": n_nets, "PUT": 9 * n_nets}
    if api["counts"] != {k: v * n_ops for k, v in per_op.items()}:
        problems.append(f"API request counts {api['counts']} != {n_ops} x {per_op}")
    if api["violations"]:
        problems.append(f"API contract violations: {api['violations'][:5]}")
    groups = {n: g for n, g in api["groups"].items() if n != "global"}
    if "global" not in api["groups"]:
        problems.append("the global hostgroup was removed")
    end_state = [groups[n] for n in sorted(groups)]
    if reference.groups_digest(end_state) != want:
        problems.append("API end state differs from the reference")
    return not problems, problems


def check_suite(res: dict, oracle: dict[str, list]) -> tuple[bool, list[str]]:
    problems = [
        f"{name}: output differs from its oracle"
        for name, v in res["verified"].items()
        if [tuple(r) for r in v["output"]] != oracle[name]
    ]
    return not problems, problems


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "baseline_magician_spark", "job.py")):
        fail("run from the repository root: the baseline_magician_spark package is missing")
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    api_proc = None
    load0, (ticks0, steal0) = procfs.loadavg(), procfs.cpu_ticks()
    try:
        spec = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace}
        if wl["kind"] == "job":
            inputs = datagen.job_inputs(args.seed, tmp)
            expected = reference.job_reference(inputs)
            api_proc, port = start_api(tmp, inputs["networks"], [g["name"] for g in expected])
            spec.update(inputs=inputs, api_port=port)
        else:
            star = datagen.star_tables(args.seed, os.path.join(tmp, "star"))
            from baseline_magician_spark.registry import get_oracles

            oracles = get_oracles()
            con = reference.star_connection(star, datagen.STAR_ROWS)
            oracle = {q: reference.oracle_rows(con, oracles[q]) for q in wl["queries"]}
            con.close()
            spec.update(inputs={"star_dir": star}, queries=list(wl["queries"]))
        res = run_worker(tmp, root, spec, deadline)
        if res is None:
            fail("the measured process failed", 1)
        if wl["kind"] == "job":
            correct, problems = check_job(res, wl["warmup_rounds"], inputs, expected, api_state(port))
        else:
            correct, problems = check_suite(res, oracle)
    finally:
        if api_proc is not None:
            api_proc.terminate()
            api_proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    verified = {n: v["digest"] for n, v in res["verified"].items()}
    ops = res["ops"]
    bad = [o for o in ops if o["digest"] is None or o["digest"] != verified.get(o["name"])]
    for o in bad[:5]:
        problems.append(f"op {o['name']} failed: {o.get('error', 'wrong output')}")
    walls = [o["wall"] for o in ops if o["wall"] is not None]
    ticks1, steal1 = procfs.cpu_ticks()
    host = {
        "loadavg_1m_start": load0,
        "loadavg_1m_end": procfs.loadavg(),
        "steal_pct": 100 * (steal1 - steal0) / max(1, ticks1 - ticks0),
    }

    if args.trace:
        layers = dict(res["layers"])
        layers["session.start_s"] = res["session_s"]
        layers["job.cold_op_s"] = res["cold_op_s"]
        layers["jvm.rss_peak_mb"] = res["jvm_rss_peak_mb"]
        # traced and untraced rounds run the same ops, so their mean op
        # wall times differ by what the spans cost
        plain = [o["wall"] for o in ops if o["wall"] is not None and not o["traced"]]
        traced = [o["wall"] for o in ops if o["wall"] is not None and o["traced"]]
        layers["trace.overhead_s"] = statistics.fmean(traced) - statistics.fmean(plain)
        layers["host.loadavg_1m"] = host["loadavg_1m_end"]
        layers["host.steal_pct"] = host["steal_pct"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": res["setup_cpu_s"], "unit": "s"},
            "cpu_s_per_op": {"value": res["cpu_s_per_op"], "unit": "s"},
        }
    info = {
        "setup_wall_s": (res["setup_wall_s"], "s"),
        "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
        "ops_per_s": (len(ops) / res["timed_wall"], "1/s"),
        "error_rate": (len(bad) / len(ops), "ratio"),
    }
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(f"# workload={args.workload} seed={args.seed} ops={len(ops)} failed={len(bad)} "
          f"loadavg={host['loadavg_1m_start']:.2f}->{host['loadavg_1m_end']:.2f} "
          f"steal={host['steal_pct']:.2f}%")
    for k, (v, unit) in info.items():
        print(f"#   {k:28s} {v:14.6f} {unit}  (not gated)")
    for k, m in metrics.items():
        print(f"#   {k:28s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"correct": correct and not bad, "attempted": len(ops),
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
