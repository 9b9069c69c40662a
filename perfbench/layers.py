"""Per-layer metrics of one traced pass.

Layers are named after the repository modules, plus ``spark`` for the
engine underneath. Time spent inside a public call comes from the
benchmark's spans; work launched by a call is attributed through the job
group the span set; task and SQL-plan metrics come from the event log.
A metric whose layer a workload does not exercise reads 0.

Plan nodes are attributed to layers by what they are:

- Python nodes (MapInArrow, MapInPandas) that run the exact PIP test (the
  broadcast kernel's MapInArrow, or the shuffle path's MapInPandas whose
  output carries ``_inside``) belong to ``spatial_join``; grouped pandas
  nodes (FlatMapGroupsInPandas) belong to ``raster``.
- Exchanges are attributed by the columns they hash on: tile keys
  (tx, ty) to ``tiling``; cell keys (_tx, _ty) under the exact test to
  ``spatial_join``; pixel and block keys without ``raster_id`` (px/py,
  bx/by, obx/oby) to ``raster``.
"""

from __future__ import annotations

from perfbench.trace import EventLog, partition_keys, union_length

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.scan_bytes": "B", "sources.scan_rows": "count",
    "sources.scan_tasks_per_core": "ratio",
    "spatial_join.call_s": "s", "spatial_join.call_jobs": "count",
    "spatial_join.py_init_s": "s", "spatial_join.py_total_s": "s",
    "spatial_join.py_sent_bytes": "B", "spatial_join.py_recv_bytes": "B",
    "spatial_join.candidate_pairs": "count", "spatial_join.hit_ratio": "ratio",
    "spatial_join.exchange_bytes": "B",
    "knn.call_s": "s", "knn.jobs": "count", "knn.exec_s": "s",
    "knn.candidates_per_result": "ratio",
    "tiling.exchange_bytes": "B",
    "dedup.candidates_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_ratio": "ratio",
    "dedup.exact_s": "s",
    "graph.cc_call_s": "s", "graph.cc_jobs": "count",
    "ann.ivf_call_s": "s", "ann.ivf_exec_s": "s",
    "raster.py_init_s": "s", "raster.py_total_s": "s",
    "raster.blocks_out": "count", "raster.exchange_bytes": "B",
    "plans.write_s": "s", "plans.partial_write_s": "s", "plans.verify_s": "s",
    "plans.keys_pending": "count", "plans.keys_skipped": "count",
    "plans.bytes_written": "B", "plans.files_written": "count",
    "resume_s": "s", "bytes_per_payload_byte": "ratio", "fail_frac": "ratio",
    "peak_rss_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "spark.driver_idle_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_write_s": "s",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "B",
    "spark.broadcast_bytes": "B",
    "trace.overhead": "ratio", "trace.top_span_share": "ratio",
}

_RASTER_KEYS = {"px", "py", "bx", "by", "obx", "oby"}


def _is_pip_test(node: dict) -> bool:
    name = node["nodeName"]
    return name == "MapInArrow" or (
        name == "MapInPandas" and "_inside#" in node.get("simpleString", ""))


def _first_with(node: dict, metric: str, ev: EventLog):
    """Nearest descendant (BFS) of ``node`` that reports ``metric``."""
    todo = list(node.get("children", []))
    while todo:
        n = todo.pop(0)
        if ev.has_metric(n, metric):
            return n
        todo.extend(n.get("children", []))
    return None


def _exchanges_below(node: dict):
    """First Exchange on each branch below ``node``."""
    for c in node.get("children", []):
        if c["nodeName"] == "Exchange":
            yield c
        else:
            yield from _exchanges_below(c)


def pass_layers(ev: EventLog, tr, pass_id: int, wall: float, cores: int,
                out: dict) -> dict:
    spans = tr.pass_spans(pass_id)

    def span_s(*names):
        return sum(s.duration for s in spans if s.name in names)

    def groups(*names):
        return {s.group for s in spans if s.name in names}

    all_groups = {s.group for s in spans}
    jobs = ev.jobs_in(all_groups)
    stage_ids = {sid for j in jobs.values() for sid in j["stages"]}
    stages = [ev.stage_tasks[s] for s in stage_ids if s in ev.stage_tasks]

    def tsum(key):
        return sum(st[key] for st in stages)

    nodes = list(ev.nodes_in(all_groups))
    m: dict[str, float] = {}
    seen: set = set()

    # sources: file scans
    scans = [n for n in nodes if n["nodeName"].startswith("Scan ")]
    m["sources.scan_s"] = sum(ev.metric(n, "scan time", seen) for n in scans)
    m["sources.scan_bytes"] = sum(ev.metric(n, "size of files read", seen)
                                  for n in scans)
    m["sources.scan_rows"] = sum(ev.metric(n, "number of output rows", seen)
                                 for n in scans)
    main_scan = max(stages, key=lambda st: st["input_bytes"], default=None)
    m["sources.scan_tasks_per_core"] = (
        main_scan["tasks"] / cores if main_scan and main_scan["input_bytes"]
        else 0.0)

    # spatial_join
    counts = out.get("counts", {})
    m["spatial_join.call_s"] = span_s("spatial_join.call")
    m["spatial_join.call_jobs"] = len(ev.jobs_in(groups("spatial_join.call")))
    pip = [n for n in nodes if _is_pip_test(n)]
    py_seen: set = set()
    for layer, sel in (("spatial_join", pip),
                       ("raster", [n for n in nodes
                                   if n["nodeName"] == "FlatMapGroupsInPandas"])):
        m[f"{layer}.py_init_s"] = sum(ev.metric(
            n, "time to initialize Python workers", py_seen) for n in sel)
        m[f"{layer}.py_total_s"] = sum(ev.metric(
            n, "time to run Python workers", py_seen) for n in sel)
        if layer == "spatial_join":
            m["spatial_join.py_sent_bytes"] = sum(ev.metric(
                n, "data sent to Python workers", py_seen) for n in sel)
            m["spatial_join.py_recv_bytes"] = sum(ev.metric(
                n, "data returned from Python workers", py_seen) for n in sel)
        else:
            m["raster.blocks_out"] = sum(ev.metric(
                n, "number of output rows", py_seen) for n in sel)
    cand = 0
    cand_seen: set = set()
    ex_seen: set = set()
    sj_exchange = 0
    for n in pip:
        src = _first_with(n, "number of output rows", ev)
        if src is not None:
            cand += ev.metric(src, "number of output rows", cand_seen)
        for ex in _exchanges_below(n):
            if {"_tx", "_ty"} <= set(partition_keys(ex)):
                sj_exchange += ev.metric(ex, "shuffle bytes written", ex_seen)
    m["spatial_join.candidate_pairs"] = cand
    m["spatial_join.hit_ratio"] = (counts.get("spatial_join.matched", 0) / cand
                                   if cand else 0.0)
    m["spatial_join.exchange_bytes"] = sj_exchange

    # knn: the ring loop runs inside the call span
    knn_groups = groups("knn.call", "knn.exec")
    m["knn.call_s"] = span_s("knn.call")
    m["knn.exec_s"] = span_s("knn.exec")
    m["knn.jobs"] = len(ev.jobs_in(knn_groups))
    ring_rows, ring_seen = 0, set()
    for n in ev.nodes_in(knn_groups):
        if n["nodeName"].endswith("Join") and "_tx#" in n.get("simpleString", ""):
            ring_rows += ev.metric(n, "number of output rows", ring_seen)
    results = counts.get("knn.results", 0)
    m["knn.candidates_per_result"] = ring_rows / results if results else 0.0

    # exchanges by key
    tiling_b = raster_b = 0
    for n in nodes:
        if n["nodeName"] != "Exchange":
            continue
        keys = set(partition_keys(n))
        if {"tx", "ty"} <= keys:
            tiling_b += ev.metric(n, "shuffle bytes written", ex_seen)
        elif keys and keys <= _RASTER_KEYS | {"band"} and "raster_id" not in keys:
            raster_b += ev.metric(n, "shuffle bytes written", ex_seen)
    m["tiling.exchange_bytes"] = tiling_b
    m["raster.exchange_bytes"] = raster_b

    # dedup / graph / ann
    m["dedup.candidates_s"] = span_s("dedup.candidates")
    m["dedup.exact_s"] = span_s("dedup.exact")
    m["dedup.candidate_pairs"] = counts.get("dedup.candidate_pairs", 0)
    m["dedup.verified_pairs"] = counts.get("dedup.verified_pairs", 0)
    m["dedup.verify_ratio"] = (m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
                               if m["dedup.candidate_pairs"] else 0.0)
    m["graph.cc_call_s"] = span_s("graph.cc_call")
    m["graph.cc_jobs"] = len(ev.jobs_in(groups("graph.cc_call")))
    m["ann.ivf_call_s"] = span_s("ann.ivf_call")
    m["ann.ivf_exec_s"] = span_s("ann.ivf_exec")

    # plans
    m["plans.write_s"] = span_s("plans.write")
    m["plans.partial_write_s"] = span_s("plans.partial_write")
    m["plans.verify_s"] = span_s("plans.verify")
    for k in ("plans.keys_pending", "plans.keys_skipped", "plans.bytes_written",
              "plans.files_written", "bytes_per_payload_byte"):
        m[k] = counts.get(k, 0)

    # spark
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = tsum("tasks")
    m["spark.plan_s"] = out.get("plan_s", 0.0)
    m["spark.driver_idle_s"] = wall - union_length(
        (j["start"], j["end"]) for j in jobs.values() if j["end"] is not None)
    m["spark.task_run_s"] = tsum("run_ms") / 1e3
    m["spark.task_cpu_s"] = tsum("cpu_ns") / 1e9
    m["spark.gc_s"] = tsum("gc_ms") / 1e3
    m["spark.core_util"] = m["spark.task_run_s"] / (wall * cores)
    m["spark.shuffle_write_bytes"] = tsum("shuffle_write_bytes")
    m["spark.shuffle_write_s"] = tsum("shuffle_write_ns") / 1e9
    m["spark.fetch_wait_s"] = tsum("fetch_wait_ms") / 1e3
    m["spark.spill_bytes"] = tsum("spill_bytes")
    m["spark.broadcast_bytes"] = sum(
        ev.metric(n, "data size", seen) for n in nodes
        if n["nodeName"] == "BroadcastExchange")

    root = next(s for s in spans if s.name == "pass")
    top = [s for s in spans if s.parent == root.sid]
    m["trace.top_span_share"] = sum(s.duration for s in top) / root.duration
    return m
