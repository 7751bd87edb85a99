"""Outside-in tracing for the traced run.

Spans are recorded around the benchmark's calls into the program's
public functions: each function is rebound, in every module of the
package that holds it, to a wrapper that opens a span. Spans stay in
memory; a layer's self time is its span time minus its child spans.
Nothing here is imported or installed by an untraced run.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict

PACKAGE = "baseline_magician_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []  # name, start, end, parent, op
        self._stack: list[int] = []
        self.op = -1
        self.counts: dict[str, int] = defaultdict(int)
        self._undo: list = []

    # -- spans ---------------------------------------------------------

    def span(self, name: str, fn, *args, **kwargs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            n, s, _, p, o = self.spans[idx]
            self.spans[idx] = (n, s, time.perf_counter(), p, o)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    def self_times(self, op: int) -> dict[str, float]:
        """Self seconds per span name within one op."""
        own = {i: s for i, s in enumerate(self.spans) if s[4] == op}
        child = defaultdict(float)
        for i, (_, s, e, p, _) in own.items():
            if p in own:
                child[p] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (n, s, e, _, _) in own.items():
            out[n] += (e - s) - child[i]
        return dict(out)

    def span_stats(self, op: int, name: str) -> tuple[int, float]:
        """(count, total seconds) of the spans called ``name`` in one op."""
        ds = [e - s for n, s, e, _, o in self.spans if o == op and n == name]
        return len(ds), sum(ds)

    # -- installing wrappers -------------------------------------------

    def rebind(self, original, name: str) -> None:
        """Replace ``original`` with a traced wrapper wherever a module of
        the package binds it."""
        wrapper = self.wrap(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def rebind_method(self, cls, attr: str, name: str) -> None:
        original = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(name, original))
        self._undo.append((cls, attr, original))

    def count_py4j(self, gateway_client) -> None:
        """Count gateway commands; object-release (``m``) commands, fired
        by Python's GC, are counted apart from the calls."""
        send = gateway_client.send_command
        counts = self.counts

        def counted(command, *args, **kwargs):
            counts["py4j.release_cmds" if command.startswith("m\n") else "py4j.calls"] += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted
        self._undo.append((gateway_client, "send_command", None))

    def uninstall(self) -> None:
        for obj, attr, original in reversed(self._undo):
            if original is None:
                delattr(obj, attr)  # drop the instance override
            else:
                setattr(obj, attr, original)
        self._undo.clear()


def install_job_wrappers(tr: Tracer) -> None:
    """Spans for one job op, named after the layer each function is in."""
    from baseline_magician_spark import expr, job
    from baseline_magician_spark.sinks.hostgroups import HostgroupSink
    from baseline_magician_spark.sources import rest

    tr.rebind(job.resolve_networks, "sources.networks")
    tr.rebind(job.compile_channel_expressions, "expr.compile")
    tr.rebind(expr.compile_column, "expr.compile")
    tr.rebind(job.networks_dataframe, "plans.build")
    tr.rebind(job.generate_hostgroups, "plans.build")
    tr.rebind(job.hostgroup_rows, "sinks.rows")
    tr.rebind(job.fetch_current_hostgroups, "sinks.publish")
    tr.rebind_method(HostgroupSink, "publish", "sinks.publish")
    tr.rebind(rest.urllib_transport, "sinks.rest")


def install_suite_wrappers(tr: Tracer) -> None:
    from baseline_magician_spark import catalog

    tr.rebind(catalog.load_table, "catalog.load")
    tr.rebind(catalog.load_for_compute, "catalog.load")
