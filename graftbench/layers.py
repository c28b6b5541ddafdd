"""Per-layer metrics of a traced pass.

Spans (``spans.py``) give each layer's self time; Spark's monitoring API
(``sparkmetrics.py``) gives the jobs, stages and SQL node metrics each
span's job group caused.  Jobs a span ran to materialize its inputs are
tracing overhead and are left out of the layer counters.

Every metric below is reported for every workload; a layer a workload
does not call reads 0.
"""

from __future__ import annotations

import statistics

import sparkmetrics as SM
import spans as S

MB = float(1 << 20)

PER_LAYER = (
    "session.get_spark_s", "session.first_job_s", "session.py_worker_warm_s",
    "engine.sort_file_s", "ingest.read_s", "ingest.values", "ingest.invalid_dropped",
    "ingest.write_s", "ingest.pack_python_s", "ingest.output_mb",
    "sort.self_s", "sort.shuffle_write_mb", "sort.shuffle_records", "sort.jobs",
    "dedup.hash_s", "dedup.bands_s", "dedup.band_rows", "dedup.candidates_s",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.pair_yield", "dedup.cluster_s",
    "dedup.cluster_edges", "dedup.cluster_driver", "dedup.flags_s", "dedup.spans_s",
    "dedup.strip_s", "dedup.distinct_ratio",
    "text.tfidf_s", "text.bm25_s", "text.bm25_collapsed",
    "materialize.s", "materialize.count",
    "streaming.join_s", "streaming.agg_s", "streaming.batches", "streaming.state_partitions",
    "streaming.state_rows", "streaming.state_mem_mb", "streaming.state_commit_s",
    "streaming.task_skew",
    "queries.sort_file_s", "queries.q_dedup_minhash_pairs_s", "queries.q_dedup_ngram_jaccard_s",
    "queries.q_tfidf_top_terms_s", "queries.q_stream_interval_join_s",
    "queries.q_stream_windowed_agg_s",
    "python.boot_s", "python.init_s", "python.compute_s", "python.rows", "python.sent_mb",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.records", "shuffle.fetch_wait_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.spill_mb", "exec.peak_mem_mb",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.failed_tasks", "sched.delay_s",
    "driver.gap_s", "mem.jvm_peak_rss_mb", "mem.worker_peak_rss_mb",
    "host.steal_s", "host.cpu_util",
    "trace.pass_s", "trace.overhead_s", "trace.forced_s",
)

# span name -> layer metric its self time adds to
SELF_METRIC = {
    "ingest.read_ints_text": "ingest.read_s",
    "ingest.drop_invalid": "ingest.read_s",
    "ingest.write_ints_text": "ingest.write_s",
    "sort.sort_global": "sort.self_s",
    "dedup.content_hashes": "dedup.hash_s",
    "dedup.exact_rep_ids": "dedup.hash_s",
    "dedup.exact_dup_edges": "dedup.hash_s",
    "dedup.minhash_bands": "dedup.bands_s",
    "dedup.lsh_candidate_pairs": "dedup.candidates_s",
    "dedup.ngram_jaccard_pairs": "dedup.candidates_s",
    "dedup.cluster_pairs": "dedup.cluster_s",
    "dedup.cluster_survivors": "dedup.cluster_s",
    "dedup.positional_gram_flags": "dedup.flags_s",
    "dedup.dup_spans": "dedup.spans_s",
    "dedup.strip_dup_spans": "dedup.strip_s",
    "text.tfidf_top_terms": "text.tfidf_s",
    "text.bm25_topk": "text.bm25_s",
    "materialize.materialize": "materialize.s",
    "streaming.join": "streaming.join_s",
    "streaming.agg": "streaming.agg_s",
}

PY_NODE_METRICS = {
    "python.boot_s": "time to start Python workers",
    "python.init_s": "time to initialize Python workers",
    "python.compute_s": "time to run Python workers",
    "python.sent_mb": "data sent to Python workers",
}


def output_rows(execution: dict) -> float:
    """Rows the execution's root produced: the first ``number of output
    rows`` found walking down from the root, summed over branches."""
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    children: dict[int, list[int]] = {}
    for e in execution.get("edges", []):
        children.setdefault(e["toId"], []).append(e["fromId"])

    def rows(nid: int) -> float:
        for m in nodes.get(nid, {}).get("metrics", []):
            if m["name"] == "number of output rows":
                return SM.parse_metric(m["value"])
        return sum(rows(c) for c in children.get(nid, []))

    return rows(0) if 0 in nodes else 0.0


class PassRecord:
    """A traced pass's spans joined with what Spark recorded for them."""

    def __init__(self, rest: SM.SparkRest, tracer, root):
        self.tracer, self.root = tracer, root
        rest.settle()
        lo, hi = root.start - 0.01, root.end + 0.01
        self.jobs = []
        for j in rest.jobs():
            iv = SM.job_interval(j)
            if iv and lo <= iv[0] and iv[1] <= hi:
                self.jobs.append((j, iv))
        by_id = {s.id: s for s in tracer.spans}
        # a job belongs to the span whose group it carries; jobs run on
        # other threads (streaming micro-batches) to the deepest span open
        # when they were submitted; input materialization is overhead
        self.owned = []
        for j, iv in self.jobs:
            group = j.get("jobGroup") or ""
            if group in by_id:
                owner = group
            elif group.endswith(":input"):
                continue
            else:
                owner = _deepest(tracer.spans, iv[0])
            if owner and owner != root.id:
                self.owned.append((owner, j))
        self.layer_jobs = [j for _, j in self.owned]
        job_owner = {j["jobId"]: owner for owner, j in self.owned}
        self.stages = []
        for owner, j in self.owned:
            for sid in j.get("stageIds", []):
                for st in rest.stage(sid, details=True):
                    if st.get("status") != "SKIPPED":
                        self.stages.append((owner, st))
        self.executions = []
        for ex in rest.sql():
            jids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            owners = {job_owner[j] for j in jids if j in job_owner}
            if owners:
                self.executions.append((owners.pop(), ex))
        self.self_s = S.self_times(tracer.spans, [iv for _, iv in self.jobs])

    def spans_named(self, name: str):
        return [s for s in self.tracer.spans if s.name == name]

    def span_jobs(self, name: str):
        ids = {s.id for s in self.spans_named(name)}
        return [j for owner, j in self.owned if owner in ids]

    def span_stages(self, name: str):
        ids = {s.id for s in self.spans_named(name)}
        return [st for g, st in self.stages if g in ids]

    def span_rows(self, name: str) -> float:
        """Rows of the last execution a span ran: its forced result."""
        ids = {s.id for s in self.spans_named(name)}
        exs = [ex for g, ex in self.executions if g in ids]
        return output_rows(max(exs, key=lambda e: e["id"])) if exs else 0.0

    def span_node_metric(self, name: str, metric: str) -> float:
        ids = {s.id for s in self.spans_named(name)}
        nm = SM.node_metrics([ex for g, ex in self.executions if g in ids])
        return SM.metric_sum(nm, metric)


def _deepest(spans, t: float) -> str | None:
    """Id of the innermost span open at ``t`` and not forcing inputs then."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and not any(a <= t <= b for a, b in s.forced):
            if best is None or s.start >= best.start:
                best = s
    return best.id if best else None


def _stage_sum(stages, field: str) -> float:
    return float(sum(st.get(field, 0) or 0 for st in stages))


def _tasks(stage: dict) -> list[dict]:
    return list((stage.get("tasks") or {}).values())


def compute(rec: PassRecord, counts: dict, untraced_pass_s: float) -> dict[str, float]:
    """The ``PER_LAYER`` metrics of one traced pass.  The run-level ones
    (session, queries, mem, host) read 0 here; the caller fills them."""
    m = {k: 0.0 for k in PER_LAYER}
    for s in rec.tracer.spans:
        key = SELF_METRIC.get(s.name)
        if key:
            m[key] += rec.self_s[s.id]
    for s in rec.spans_named("engine.sort_file"):
        m["engine.sort_file_s"] += s.end - s.start
    # ingest / sort
    if rec.spans_named("ingest.read_ints_text"):
        tokens = rec.span_rows("ingest.read_ints_text")
        values = rec.span_rows("ingest.drop_invalid")
        m["ingest.values"] = values
        m["ingest.invalid_dropped"] = tokens - values
        m["ingest.pack_python_s"] = rec.span_node_metric(
            "ingest.write_ints_text", "time to run Python workers"
        )
        m["ingest.output_mb"] = rec.span_node_metric("ingest.write_ints_text", "written output") / MB
        sort_stages = rec.span_stages("sort.sort_global")
        m["sort.shuffle_write_mb"] = _stage_sum(sort_stages, "shuffleWriteBytes") / MB
        m["sort.shuffle_records"] = _stage_sum(sort_stages, "shuffleWriteRecords")
        m["sort.jobs"] = float(len(rec.span_jobs("sort.sort_global")))
    # dedup / text / materialize
    if rec.spans_named("dedup.minhash_bands"):
        m["dedup.band_rows"] = rec.span_rows("dedup.minhash_bands")
        cands = rec.span_rows("dedup.lsh_candidate_pairs")
        verified = rec.span_rows("dedup.ngram_jaccard_pairs")
        m["dedup.candidate_pairs"] = cands
        m["dedup.verified_pairs"] = verified
        m["dedup.pair_yield"] = verified / cands if cands else 0.0
        m["dedup.cluster_edges"] = cands + rec.span_rows("dedup.exact_dup_edges")
        m["dedup.cluster_driver"] = counts.get("cluster_driver", 0.0)
        m["dedup.distinct_ratio"] = rec.span_rows("dedup.exact_rep_ids") / counts["docs"]
        m["text.bm25_collapsed"] = counts.get("bm25_collapsed", 0.0)
        m["materialize.count"] = float(
            len(rec.spans_named("materialize.materialize")) + counts.get("hash_materialized", 0.0)
        )
    # streaming
    progress = counts.get("progress") or {}
    if progress:
        m["streaming.state_partitions"] = float(counts["state_partitions"])
        for prog in progress.values():
            m["streaming.batches"] += len(prog)
            for p in prog:
                for op in p.get("stateOperators") or []:
                    m["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
            last = next((p for p in reversed(prog) if p.get("stateOperators")), None)
            for op in (last or {}).get("stateOperators") or []:
                m["streaming.state_rows"] += op.get("numRowsTotal", 0)
                m["streaming.state_mem_mb"] += op.get("memoryUsedBytes", 0) / MB
        n = counts["state_partitions"]
        times = [
            t.get("taskMetrics", {}).get("executorRunTime", 0)
            for name in ("streaming.join", "streaming.agg")
            for st in rec.span_stages(name)
            if st.get("numTasks") == n
            for t in _tasks(st)
        ]
        med = statistics.median(times) if times else 0
        m["streaming.task_skew"] = max(times) / med if med else 0.0
    # python evaluation, over every layer execution
    nm = SM.node_metrics([ex for _, ex in rec.executions])
    for key, metric in PY_NODE_METRICS.items():
        m[key] = SM.metric_sum(nm, metric) / (MB if key.endswith("_mb") else 1.0)
    py_nodes = {n for (n, metric), v in nm.items() if metric == "data sent to Python workers" and v}
    m["python.rows"] = SM.metric_sum(nm, "number of output rows", tuple(py_nodes))
    # shuffle / executor / scheduler
    stages = [st for _, st in rec.stages]
    m["shuffle.write_mb"] = _stage_sum(stages, "shuffleWriteBytes") / MB
    m["shuffle.read_mb"] = _stage_sum(stages, "shuffleReadBytes") / MB
    m["shuffle.records"] = _stage_sum(stages, "shuffleWriteRecords")
    m["shuffle.fetch_wait_s"] = _stage_sum(stages, "shuffleFetchWaitTime") / 1000.0
    m["exec.run_s"] = _stage_sum(stages, "executorRunTime") / 1000.0
    m["exec.cpu_s"] = _stage_sum(stages, "executorCpuTime") / 1e9
    m["exec.gc_s"] = _stage_sum(stages, "jvmGcTime") / 1000.0
    m["exec.spill_mb"] = _stage_sum(stages, "diskBytesSpilled") / MB
    m["exec.peak_mem_mb"] = max((st.get("peakExecutionMemory", 0) for st in stages), default=0) / MB
    m["sched.jobs"] = float(len(rec.layer_jobs))
    m["sched.stages"] = float(len(stages))
    m["sched.tasks"] = _stage_sum(stages, "numCompleteTasks")
    m["sched.failed_tasks"] = _stage_sum(stages, "numFailedTasks")
    m["sched.delay_s"] = sum(t.get("schedulerDelay", 0) for st in stages for t in _tasks(st)) / 1000.0
    # the pass as a whole
    all_spans = rec.tracer.spans
    m["driver.gap_s"] = S.driver_gap(rec.root, all_spans, [iv for _, iv in rec.jobs])
    m["trace.pass_s"] = rec.root.end - rec.root.start
    m["trace.forced_s"] = sum(e - s for sp in all_spans for s, e in sp.forced)
    m["trace.overhead_s"] = m["trace.pass_s"] - untraced_pass_s
    return m


def accounting(rec: PassRecord, m: dict) -> dict[str, float]:
    """Traced pass wall time = layer self times + the benchmark's own
    calls between layers + driver gap + forced inputs; the residual is
    rounding of Spark's millisecond job times."""
    glue = rec.self_s[rec.root.id]
    layer = sum(rec.self_s.values()) - glue
    rest = m["trace.pass_s"] - layer - glue - m["driver.gap_s"] - m["trace.forced_s"]
    return {"self_s": layer, "glue_s": glue, "gap_s": m["driver.gap_s"],
            "forced_s": m["trace.forced_s"], "pass_s": m["trace.pass_s"], "residual_s": rest}
