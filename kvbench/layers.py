"""Per-layer metrics of a traced run.

Inputs: the op records (latency, answer, facts gathered outside the timed
region), the spans around the benchmark's calls into each layer, and the
status-store dump (``observe.read_status_stores``). Every workload reports
every name below; a layer a workload never enters reads 0.

Status-store figures are attributed to ops by job group (each traced op
runs under its own group) and are given per op, over all measured ops.
"""

from __future__ import annotations

import re
import statistics

from kvbench.observe import metric_value

#: (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("peak_rss_mb", "MB"),
    ("session.cold_setup_s", "s"),
    ("op_p90_ms", "ms"),
    ("get_p50_ms", "ms"),
    ("lookup_p50_ms", "ms"),
    ("scan_p50_ms", "ms"),
    ("write_p50_ms", "ms"),
    ("trace.op_p50_ms", "ms"),
    ("trace.ops_per_s", "1/s"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.driver_ms_per_op", "ms"),
    ("sources.catalog.parse_catalog.ms", "ms"),
    ("sources.table.load_table.ms", "ms"),
    ("sources.table.write_table.ms", "ms"),
    ("sources.stats_scan.head_by_rowkey.ms", "ms"),
    ("sources.stats_scan.files_selected_frac", "ratio"),
    ("sources.python_datasource.read.ms", "ms"),
    ("sources.python_datasource.write.ms", "ms"),
    ("write.files_per_batch", "count"),
    ("write.bytes_per_user_byte", "ratio"),
    ("scan.files_read_per_op", "count"),
    ("scan.rows_read_per_row_returned", "ratio"),
    ("scan.bytes_read_per_op", "B"),
    ("scan.time_ms_per_op", "ms"),
    ("python.worker_start_ms_per_op", "ms"),
    ("python.worker_run_ms_per_op", "ms"),
    ("python.rows_in_per_op", "count"),
    ("operators.mutations.apply_increments.ms", "ms"),
    ("operators.upsert.merge_rows.ms", "ms"),
    ("operators.compaction.compact_flush_files.ms", "ms"),
    ("compaction.bytes_rewritten_per_user_byte", "ratio"),
    ("compaction.files_before", "count"),
    ("compaction.files_after", "count"),
    ("operators.dedup.shingle_jaccard_pairs_prefix.ms", "ms"),
    ("operators.dedup.minhash_lsh_pairs.ms", "ms"),
    ("operators.dedup.simhash_pairs.ms", "ms"),
    ("dedup.candidates_per_output_pair", "ratio"),
    ("operators.graph.connected_components.ms", "ms"),
    ("graph.cc_jobs", "count"),
    ("spark.shuffle_write_bytes_per_op", "B"),
    ("spark.shuffle_fetch_wait_ms_per_op", "ms"),
    ("spark.join_build_bytes_max", "B"),
    ("spark.spill_bytes_per_op", "B"),
    ("spark.persisted_rdds_after_op", "count"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.gc_ms_per_op", "ms"),
]

#: plan-node descriptions of the dedup verification predicates: the Jaccard
#: quotient (prefix filter and MinHash) and the SimHash Hamming test
_VERIFY = re.compile(r"/ cast\(\(\(n1#|bit_count\(")
#: op kinds whose answers are table rows
READS = ("get", "lookup", "scan", "head")
#: layer spans reported as mean ms per call
SPAN_LAYERS = [name[:-3] for name, _ in PER_LAYER if name.endswith(".ms")]


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    if len(values) < 2:
        return max(values, default=0.0)
    return statistics.quantiles(values, n=10)[-1]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _rows_below(nodes: dict, children: dict, node_id) -> float:
    """Output rows of the nearest descendant that counts them."""
    for child in children.get(node_id, []):
        rows = nodes[child]["metrics"].get("number of output rows")
        if rows is not None:
            return metric_value(rows)
        found = _rows_below(nodes, children, child)
        if found:
            return found
    return 0.0


def op_class_ms(records: list[dict], kinds) -> list[float]:
    return [r["ms"] for r in records if r["kind"] in kinds]


def op_p50_ms(records: list[dict]) -> float:
    """Geometric mean over op classes of each class's median latency, so
    every class moves it, however far its latency is from the others'."""
    kinds = {r["kind"] for r in records}
    return statistics.geometric_mean(p50(op_class_ms(records, (k,))) for k in kinds)


def per_layer(records, spans, facts, status) -> dict:
    n = max(1, len(records))
    out = {name: 0.0 for name, _ in PER_LAYER}
    all_ms = [r["ms"] for r in records]
    out["op_p90_ms"] = p90(all_ms)
    out["get_p50_ms"] = p50(op_class_ms(records, ("get",)))
    out["lookup_p50_ms"] = p50(op_class_ms(records, ("lookup",)))
    out["scan_p50_ms"] = p50(op_class_ms(records, ("scan",)))
    out["write_p50_ms"] = p50(op_class_ms(records, ("put",)))
    out["trace.op_p50_ms"] = op_p50_ms(records)
    out["trace.ops_per_s"] = len(all_ms) / (sum(all_ms) / 1e3)

    for layer in SPAN_LAYERS:
        calls = [s for s in spans if s["name"] == layer]
        # measured calls; a layer entered only in set-up (the table writes
        # of kv_serve and corpus_dedup) reports its set-up calls
        calls = [s for s in calls if s["op"] is not None] or calls
        ds = [(s["end"] - s["start"]) * 1e3 for s in calls]
        out[layer + ".ms"] = statistics.fmean(ds) if ds else 0.0

    def fact(key):
        return [f[key] for op, f in facts.items() if op is not None and key in f]

    out["sources.stats_scan.files_selected_frac"] = statistics.fmean(
        fact("files_selected_frac") or [0.0])
    puts = [r for r in records if "put_files" in r]
    out["write.files_per_batch"] = _ratio(sum(r["put_files"] for r in puts), len(puts))
    out["write.bytes_per_user_byte"] = _ratio(
        sum(r["put_bytes"] for r in puts), sum(r["put_user_bytes"] for r in puts))
    compacts = [r for r in records if "bytes_rewritten" in r]
    out["compaction.bytes_rewritten_per_user_byte"] = _ratio(
        sum(r["bytes_rewritten"] for r in compacts),
        sum(r.get("user_bytes", 0) for r in compacts))
    out["compaction.files_before"] = statistics.fmean(fact("files_before") or [0.0])
    out["compaction.files_after"] = statistics.fmean(fact("files_after") or [0.0])

    # ---- status stores, attributed to ops by job group
    by_op = {r["op"]: r for r in records}
    stages = {s["stageId"]: s for s in status["stages"]}
    op_jobs: dict[int, list[dict]] = {}
    for j in status["jobs"]:
        group = j.get("jobGroup") or ""
        if group.startswith("kvbench-op-") and int(group[11:]) in by_op:
            op_jobs.setdefault(int(group[11:]), []).append(j)
    job_op = {j["jobId"]: op for op, js in op_jobs.items() for j in js}
    ran = [s for op, js in op_jobs.items() for j in js for sid in j["stageIds"]
           if (s := stages.get(sid)) is not None and s["status"] in ("COMPLETE", "FAILED")]
    out["spark.jobs_per_op"] = sum(len(js) for js in op_jobs.values()) / n
    out["spark.tasks_per_op"] = sum(s["numTasks"] for s in ran) / n
    for key, field in (("spark.executor_run_ms_per_op", "executorRunTime"),
                       ("spark.gc_ms_per_op", "jvmGcTime"),
                       ("spark.shuffle_write_bytes_per_op", "shuffleWriteBytes"),
                       ("spark.shuffle_fetch_wait_ms_per_op", "shuffleFetchWaitTime"),
                       ("spark.spill_bytes_per_op", "memoryBytesSpilled")):
        out[key] = sum(s[field] for s in ran) / n
    driver = []
    for r in records:
        lo, hi = r["start"] * 1e3, r["end"] * 1e3
        jobs = [(j["submissionTime"], j.get("completionTime") or hi)
                for j in op_jobs.get(r["op"], []) if j.get("submissionTime")]
        driver.append((hi - lo) - _union_ms(jobs, lo, hi))
    out["spark.driver_ms_per_op"] = statistics.fmean(driver) if driver else 0.0
    out["spark.persisted_rdds_after_op"] = statistics.fmean(
        [r["persisted_rdds"] for r in records]) if records else 0.0

    cc = [s for s in spans if s["name"] == "operators.graph.connected_components"]
    cc_jobs = [sum(1 for j in op_jobs.get(s["op"], [])
                   if s["start"] * 1e3 <= j["submissionTime"] <= s["end"] * 1e3)
               for s in cc]
    out["graph.cc_jobs"] = statistics.fmean(cc_jobs) if cc_jobs else 0.0

    files = rows_read = scan_bytes = scan_ms = 0.0
    py_start = py_run = py_rows = build_max = cand = pairs = 0.0
    rows_returned = 0
    read_ops = set()
    for e in status["executions"]:
        ops = {job_op[j] for j in e["jobs"] if j in job_op}
        if len(ops) != 1:
            continue
        op = ops.pop()
        kind = by_op[op]["kind"]
        nodes = {x["id"]: x for x in e["nodes"]}
        children: dict = {}
        for child, parent in e["edges"]:
            children.setdefault(parent, []).append(child)
        exec_stages = sorted(sid for j in e["jobs"] for sid in
                             next((jj["stageIds"] for jj in op_jobs[op] if jj["jobId"] == j), []))
        for x in e["nodes"]:
            m = x["metrics"]
            name = x["name"]
            if name.startswith("Scan parquet"):
                files += metric_value(m.get("number of files read"))
                scan_bytes += metric_value(m.get("size of files read"))
                scan_ms += metric_value(m.get("scan time"))
                if kind in READS:
                    rows_read += metric_value(m.get("number of output rows"))
                    read_ops.add(op)
            elif name.startswith("BatchScan hbasekv"):
                # one input partition per file: the scan stage's task count
                first = stages.get(exec_stages[0]) if exec_stages else None
                if first is not None:
                    files += first["numTasks"]
                    scan_ms += first["executorRunTime"]
                scan_bytes += metric_value(m.get("data returned from Python workers"))
                if kind in READS:
                    rows_read += metric_value(m.get("number of output rows"))
                    read_ops.add(op)
            if "time to start Python workers" in m:
                py_start += metric_value(m.get("time to start Python workers"))
                py_run += metric_value(m.get("time to run Python workers"))
            if "data sent to Python workers" in m:
                py_rows += _rows_below(nodes, children, x["id"])
            if name == "ShuffledHashJoin":
                build_max = max(build_max, metric_value(m.get("data size of build side")))
            elif name == "BroadcastExchange":
                build_max = max(build_max, metric_value(m.get("data size")))
            if _VERIFY.search(x["desc"]) and (name == "Filter" or name.endswith("Join")):
                # the verification step (a filter, or a join the predicate
                # was pushed into): candidates in on its first input, pairs out
                first = min(children.get(x["id"], [x["id"]]))
                own = nodes[first]["metrics"].get("number of output rows")
                cand += metric_value(own) if own else _rows_below(nodes, children, first)
                pairs += metric_value(m.get("number of output rows"))
    rows_returned = sum(len(by_op[op]["answer"] or []) for op in read_ops)
    out["scan.files_read_per_op"] = files / n
    out["scan.rows_read_per_row_returned"] = _ratio(rows_read, rows_returned)
    out["scan.bytes_read_per_op"] = scan_bytes / n
    out["scan.time_ms_per_op"] = scan_ms / n
    out["python.worker_start_ms_per_op"] = py_start / n
    out["python.worker_run_ms_per_op"] = py_run / n
    out["python.rows_in_per_op"] = py_rows / n
    out["spark.join_build_bytes_max"] = build_max
    out["dedup.candidates_per_output_pair"] = _ratio(cand, pairs)
    return out
