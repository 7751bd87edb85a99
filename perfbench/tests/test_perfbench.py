"""Tests of the benchmark's own parts: inputs, fake API and checker.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
No Spark session is started.
"""

from __future__ import annotations

import base64
import json
import os
import sys
import threading
import urllib.request

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import datagen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
from fakeapi import FakeApi, make_server  # noqa: E402
from workloads import DIALECT_QUERIES, KERNEL_QUERIES, PER_LAYER, WORKLOADS  # noqa: E402

AUTH = ("admin", "test_password")


SMALL = datagen.JobShape(rows=4_000, networks=16, masklen=24, row_groups=1)


def test_job_inputs_same_seed_same_bytes(tmp_path):
    a = datagen.job_inputs(7, str(tmp_path / "a"), SMALL)
    b = datagen.job_inputs(7, str(tmp_path / "b"), SMALL)
    assert a["networks"] == b["networks"]
    assert pq.read_table(a["metrics_path"]).equals(pq.read_table(b["metrics_path"]))


def test_job_work_size_does_not_depend_on_seed(tmp_path):
    sizes = set()
    for seed in (1, 2, 3):
        inputs = datagen.job_inputs(seed, str(tmp_path / str(seed)), SMALL)
        table = pq.read_table(inputs["metrics_path"])
        groups = reference.job_reference(inputs)
        sizes.add((table.num_rows, len(inputs["networks"]), len(groups), inputs["now_us"],
                   json.dumps(inputs["expressions"])))
    assert len(sizes) == 1


def test_star_tables_deterministic_and_seed_invariant_in_size(tmp_path):
    shapes = {}
    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        d = datagen.star_tables(seed, str(tmp_path / sub))
        shapes[sub] = {t: pq.read_table(f"{d}/{t}.parquet") for t in datagen.STAR_ROWS}
    for t in datagen.STAR_ROWS:
        assert shapes["a"][t].equals(shapes["b"][t])
        assert shapes["a"][t].schema == shapes["c"][t].schema
        assert shapes["a"][t].num_rows == shapes["c"][t].num_rows == datagen.STAR_ROWS[t]


def test_query_lists_are_frozen_and_distinct():
    for names in (DIALECT_QUERIES, KERNEL_QUERIES):
        assert isinstance(names, tuple) and len(set(names)) == len(names) > 0
    assert WORKLOADS["query_suite"]["queries"] == DIALECT_QUERIES + KERNEL_QUERIES


def test_benchmark_json_lists_what_the_runs_report():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {w["name"] for w in doc["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER


@pytest.fixture
def api():
    fake = FakeApi(["10.0.1.0/24", "10.0.2.0/24"], ["10_0_1_0_24", "10_0_2_0_24"])
    server = make_server(fake)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield fake, f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    server.server_close()


def _request(method: str, url: str, auth=AUTH) -> int:
    req = urllib.request.Request(url, method=method)
    token = base64.b64encode(f"{auth[0]}:{auth[1]}".encode()).decode()
    req.add_header("Authorization", f"Basic {token}")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


def _group(name: str, network: str) -> dict:
    return {"name": name, "networks": [network], "enable_ban": True,
            "ban_for_bandwidth": True, "ban_for_pps": False, "ban_for_flows": True,
            "threshold_mbps": 3, "threshold_pps": 0, "threshold_flows": 12}


def test_fake_api_accepts_the_sink_and_counts_its_requests(api):
    from baseline_magician_spark.sinks.hostgroups import HostgroupSink
    from baseline_magician_spark.sources.networks import (
        fetch_current_hostgroups,
        fetch_networks_list,
    )

    fake, base = api
    groups = [_group("10_0_1_0_24", "10.0.1.0/24"), _group("10_0_2_0_24", "10.0.2.0/24")]
    for _ in range(2):  # identical work on every op
        assert fetch_networks_list(base, AUTH) == ["10.0.1.0/24", "10.0.2.0/24"]
        current = fetch_current_hostgroups(base, AUTH)
        HostgroupSink(base, AUTH).publish(groups, current, remove_existing=True)
    state = json.load(urllib.request.urlopen(f"{base}/_bench/state"))
    assert state["violations"] == []
    assert state["counts"] == {"GET": 4, "DELETE": 4, "PUT": 36}
    assert sorted(state["groups"]) == ["10_0_1_0_24", "10_0_2_0_24", "global"]
    assert reference.groups_digest([state["groups"][g["name"]] for g in groups]) == \
        reference.groups_digest(groups)


def test_fake_api_flags_contract_breaks(api):
    fake, base = api
    assert _request("GET", f"{base}/main/networks_list", auth=("admin", "nope")) == 401
    assert _request("DELETE", f"{base}/hostgroup/global") == 400
    assert _request("PUT", f"{base}/hostgroup/new") == 200
    # networks before enable_ban, then an unescaped '/'
    assert _request("PUT", f"{base}/hostgroup/new/networks/10.0.3.0%2f24") == 400
    assert _request("PUT", f"{base}/hostgroup/new/enable_ban/enable") == 200
    assert _request("PUT", f"{base}/hostgroup/new/networks/10.0.3.0/24") == 400
    assert _request("DELETE", f"{base}/hostgroup/10_0_1_0_24") == 400  # after a PUT
    msgs = " | ".join(fake.violations)
    for part in ("bad auth", "out of order", "unknown endpoint", "after a PUT", "may not be removed"):
        assert part in msgs


def _job_check(inputs, groups, expected):
    res = {"verified": {"job": {"digest": reference.groups_digest(groups)}}, "ops": []}
    n = len(inputs["networks"])
    state = {"counts": {"GET": 2, "DELETE": n, "PUT": 9 * n}, "violations": [],
             "groups": {"global": {}, **{g["name"]: g for g in groups}}}
    return run.check_job(res, 1, inputs, expected, state)


def _without_edge_hosts(inputs: dict, path: str) -> dict:
    """The same inputs minus the rows on a network's exclusive end: what
    a job with the corrected (exclusive) upper bound would aggregate."""
    table = pq.read_table(inputs["metrics_path"])
    ends = {".".join(str((e >> s) & 255) for s in (24, 16, 8, 0))
            for _, e in map(reference.cidr_range, inputs["networks"])}
    keep = pc.invert(pc.is_in(table["host"], value_set=pa.array(sorted(ends))))
    pq.write_table(table.filter(keep), path)
    return {**inputs, "metrics_path": path}


def test_checker_catches_off_by_one(tmp_path):
    inputs = datagen.job_inputs(11, str(tmp_path), SMALL)
    expected = reference.job_reference(inputs)
    assert _job_check(inputs, expected, expected)[0]
    # a threshold one higher than the reference's
    bumped = [dict(g) for g in expected]
    bumped[3]["threshold_pps"] += 1
    ok, problems = _job_check(inputs, bumped, expected)
    assert not ok and any("differs from the reference" in p for p in problems)
    # groups from a job that drops the first address after each network
    exclusive = reference.job_reference(_without_edge_hosts(inputs, str(tmp_path / "excl.parquet")))
    assert exclusive != expected
    ok, problems = _job_check(inputs, exclusive, expected)
    assert not ok and any("differs from the reference" in p for p in problems)


def test_reference_semantics_on_chosen_networks(tmp_path):
    inputs = datagen.job_inputs(5, str(tmp_path), SMALL)
    groups = {g["networks"][0]: g for g in reference.job_reference(inputs)}
    nets = inputs["networks"]
    assert len(groups) == len(nets)
    first = nets[0].split("/")[0]
    assert not first.endswith(".0")  # host bits set, masked by the range
    assert groups[nets[0]]["name"] == nets[0].replace(".", "_").replace("/", "_")
    # tiny bit counters -> 0 mbps -> bandwidth ban off; zero flows -> flows ban off
    assert groups[nets[1]]["threshold_mbps"] == 0 and not groups[nets[1]]["ban_for_bandwidth"]
    assert groups[nets[2]]["threshold_flows"] == 0 and not groups[nets[2]]["ban_for_flows"]
    assert all(g["ban_for_pps"] for g in groups.values())


def test_uint_truncation_and_mbps_division():
    assert reference.uint_trunc(2.9) == 2
    assert reference.uint_trunc(-1.5) == 0
    assert reference.uint_trunc(float("nan")) == 0
    assert (reference.uint_trunc(3 * 2**20 - 1 + 200.0)) // 2**20 == 3
