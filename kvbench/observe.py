"""Measurements taken from outside the engine.

- process-tree CPU and proportional RSS (driver Python, JVM, Python workers)
  from ``/proc``;
- host facts recorded with every run (cores, load, steal, versions);
- in-memory spans around the benchmark's calls into each engine layer;
- Spark's own status stores, read after the run: the core store's stage
  and job lists and the SQL store's per-operator metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

_CLK = os.sysconf("SC_CLK_TCK")


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out = [root or os.getpid()]
    i = 0
    while i < len(out):
        out.extend(kids.get(out[i], []))
        i += 1
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the live process tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK


def tree_pss_mb() -> float:
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostWindow:
    """Load, steal and core count over a measured window."""

    def __enter__(self) -> "HostWindow":
        self._t0 = _cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        d = [b - a for a, b in zip(self._t0, _cpu_times())]
        self.steal_frac = d[7] / max(1, sum(d)) if len(d) > 7 else 0.0
        self.busy_frac = 1 - (d[3] + d[4]) / max(1, sum(d))

    def record(self) -> dict:
        return {
            "nproc": os.cpu_count(),
            "loadavg": list(os.getloadavg()),
            "steal_frac": round(self.steal_frac, 4),
            "host_busy_frac": round(self.busy_frac, 4),
        }


class Tracer:
    """One in-memory span per call into a layer: name, start, end, parent
    and op id. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.facts: dict[int | None, dict] = {}
        self.op: int | None = None
        self._open: list[int] = []

    def note(self, **facts) -> None:
        """Attach facts the engine returned to the current op."""
        if self.enabled:
            self.facts.setdefault(self.op, {}).update(facts)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op, "start": time.time(), "end": None,
               "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()


# ------------------------------------------------------------ status stores


def read_status_stores(spark) -> dict:
    """Stages, jobs and SQL executions (plan nodes with their metric
    values) currently retained by the session's status stores."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))

    def to_json(obj):
        return json.loads(mapper.writeValueAsString(obj))

    store = spark.sparkContext._jsc.sc().statusStore()
    # py4j cannot fill Scala default arguments: pass all five
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    jobs = store.jobsList(jvm.java.util.ArrayList())
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for e in to_json(sql.executionsList()):
        eid = e["executionId"]
        values = {int(k): v for k, v in to_json(sql.executionMetrics(eid)).items()}
        graph = sql.planGraph(eid)
        nodes = [
            {
                "id": node["id"],
                "name": node["name"],
                "desc": node["desc"][:400],
                "metrics": {m["name"]: values.get(m["accumulatorId"]) for m in node["metrics"]},
            }
            for node in to_json(graph.allNodes())
        ]
        # edges run child -> parent
        edges = [(x["fromId"], x["toId"]) for x in to_json(graph.edges())]
        executions.append({"id": eid, "jobs": [int(j) for j in e["jobs"]],
                           "nodes": nodes, "edges": edges})
    return {"stages": to_json(stages), "jobs": to_json(jobs), "executions": executions}


_UNITS = {"ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6, "ns": 1e-6,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def metric_value(text: str | None) -> float:
    """Total of a formatted SQL metric: '2,445', '1.5 s', or
    'total (min, med, max ...)\\n472 ms (210 ms, ...)'. Times come back in
    ms, sizes in bytes."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)
