"""Single-threaded fake of the FastNetMon REST API the job talks to.

Serves ``GET /main/networks_list`` and the hostgroup endpoints the sink
uses, holds hostgroups in memory, counts requests and records every
contract violation instead of failing the request silently:

- basic auth ``admin`` / ``test_password``;
- per hostgroup, ``PUT /hostgroup/{name}`` first, then the options in
  the reference's order: enable_ban, one networks PUT per network (the
  CIDR's ``/`` escaped as ``%2f``), ban_for_bandwidth, ban_for_pps,
  ban_for_flows, threshold_mbps, threshold_pps, threshold_flows;
- bools travel as ``enable``/``disable``, uints as decimal digits;
- every DELETE of an op comes before its first PUT, as the sink does
  with ``remove_existing_hostgroups=true``, the setting the benchmark uses.

``GET /_bench/state`` returns the hostgroups, the request counts and the
violations; it is not counted. Run as a script it serves until killed
and writes its port to ``--port-file``.
"""

from __future__ import annotations

import argparse
import base64
import ipaddress
import json
import os
import signal
import sys
from http.server import BaseHTTPRequestHandler, HTTPServer

AUTH = "Basic " + base64.b64encode(b"admin:test_password").decode()
OPTION_ORDER = (
    "enable_ban", "networks", "ban_for_bandwidth", "ban_for_pps",
    "ban_for_flows", "threshold_mbps", "threshold_pps", "threshold_flows",
)
BOOL_OPTIONS = {"enable_ban", "ban_for_bandwidth", "ban_for_pps", "ban_for_flows"}


def group_record(name: str) -> dict:
    return {
        "name": name, "description": "", "networks": [], "enable_ban": False,
        "ban_for_bandwidth": False, "ban_for_pps": False, "ban_for_flows": False,
        "threshold_mbps": 0, "threshold_pps": 0, "threshold_flows": 0,
    }


class FakeApi:
    """State and request handling, independent of the HTTP plumbing."""

    def __init__(self, networks: list[str], groups: list[str]):
        self.networks = list(networks)
        self.groups = {n: group_record(n) for n in ["global", *groups]}
        self.counts = {"GET": 0, "PUT": 0, "DELETE": 0}
        self.violations: list[str] = []
        self._stage: dict[str, int] = {}  # group -> index into OPTION_ORDER
        self._open: str | None = None     # group whose options are in flight
        self._put_seen = False            # a PUT happened in this op

    def _violate(self, msg: str) -> tuple[int, dict]:
        if len(self.violations) < 100:
            self.violations.append(msg)
        return 400, {"success": False, "error_text": msg}

    def _close_open_group(self) -> None:
        if self._open is not None and self._stage[self._open] < len(OPTION_ORDER) - 1:
            self._violate(f"options of {self._open} incomplete")
        self._open = None

    def handle(self, method: str, raw_path: str, auth: str | None) -> tuple[int, dict]:
        if raw_path == "/_bench/state" and method == "GET":
            self._close_open_group()
            return 200, {"groups": self.groups, "counts": self.counts,
                         "violations": self.violations}
        if method in self.counts:
            self.counts[method] += 1
        if auth != AUTH:
            self._violate(f"bad auth on {method} {raw_path}")
            return 401, {"success": False, "error_text": "Auth denied"}
        parts = raw_path.split("/")[1:]
        if method == "GET" and parts == ["main", "networks_list"]:
            self._close_open_group()
            self._put_seen = False
            return 200, {"success": True, "values": self.networks}
        if method == "GET" and parts == ["hostgroup"]:
            return 200, {"success": True, "values": list(self.groups.values())}
        if not parts or parts[0] != "hostgroup" or len(parts) not in (2, 4):
            return self._violate(f"unknown endpoint {method} {raw_path}")
        name = parts[1]
        if method == "DELETE" and len(parts) == 2:
            if self._put_seen:
                return self._violate(f"DELETE {name} after a PUT in the same op")
            if name == "global" or self.groups.pop(name, None) is None:
                return self._violate(f"DELETE of {name} that may not be removed")
            return 200, {"success": True}
        if method != "PUT":
            return self._violate(f"unknown endpoint {method} {raw_path}")
        self._put_seen = True
        if len(parts) == 2:
            self._close_open_group()
            if name in self.groups:
                return self._violate(f"PUT of existing hostgroup {name}")
            self.groups[name] = group_record(name)
            self._stage[name] = -1
            self._open = name
            return 200, {"success": True}
        option, value = parts[2], parts[3]
        if name != self._open or option not in OPTION_ORDER:
            return self._violate(f"option {option} for {name} out of place")
        idx = OPTION_ORDER.index(option)
        stage = self._stage[name]
        if not (idx == stage + 1 or (option == "networks" and idx == stage)):
            return self._violate(f"option {option} for {name} out of order")
        self._stage[name] = idx
        rec = self.groups[name]
        if option in BOOL_OPTIONS:
            if value not in ("enable", "disable"):
                return self._violate(f"bad bool {value!r} for {option}")
            rec[option] = value == "enable"
        elif option == "networks":
            if "%2f" not in value or "/" in value:
                return self._violate(f"network not %2f-escaped: {value!r}")
            cidr = value.replace("%2f", "/")
            try:
                ipaddress.ip_network(cidr, strict=False)
            except ValueError:
                return self._violate(f"bad network {cidr!r}")
            rec["networks"].append(cidr)
        else:
            if not value.isdigit():
                return self._violate(f"bad uint {value!r} for {option}")
            rec[option] = int(value)
        return 200, {"success": True}


def make_server(api: FakeApi) -> HTTPServer:
    """A server for ``api`` on a free port of 127.0.0.1."""

    class Handler(BaseHTTPRequestHandler):
        def _serve(self) -> None:
            status, body = api.handle(self.command, self.path, self.headers.get("Authorization"))
            data = json.dumps(body).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        do_GET = do_PUT = do_DELETE = _serve

        def log_message(self, *args) -> None:
            pass

    return HTTPServer(("127.0.0.1", 0), Handler)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", required=True, help="JSON with networks and groups")
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    with open(args.state) as f:
        state = json.load(f)
    server = make_server(FakeApi(state["networks"], state["groups"]))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, args.port_file)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    main()
