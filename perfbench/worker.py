"""One benchmark run inside a fresh run directory (the process's cwd).

    python3 <checkout>/perfbench/worker.py <checkout> <workload> <seed> <seconds> <trace> <out.json>

Builds the session the way users get it (``session.build_session()``
defaults), runs the workload, and writes its measurements to
``out.json``. ``run.py`` starts this process and turns the file into
the benchmark's result line.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from workloads import HEADLINE  # noqa: E402

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS: dict[str, str] = {
    "session.build_s": "s", "session.reuse_s": "s", "session.peak_rss_mb": "MB",
    "session.tune_scan_splits_s": "s",
    "sources.read_jsonl_s": "s", "sources.jobs_per_chunk": "count",
    "collect.plan_s": "s", "collect.state_io_s": "s", "collect.self_s": "s",
    "collect.jobs_per_chunk": "count", "collect.tasks_per_chunk": "count",
    "writer.append_s": "s", "writer.files_per_chunk": "count",
    "writer.stored_bytes_per_input_byte": "ratio",
    "catalog.backup_metadata_s": "s", "catalog.record_snapshot_s": "s",
    "catalog.merge_file_index_s": "s", "catalog.manifest_bytes": "bytes",
    "catalog.open_s": "s", "catalog.read_table_s": "s", "catalog.pruned_files_s": "s",
    "catalog.files_kept_ratio": "ratio", "catalog.files_total": "count",
    "compact.compact_s": "s", "compact.file_stats_s": "s", "compact.files_merged": "count",
    "compact.bytes_rewritten_per_input_byte": "ratio",
    "query_cli.apply_query_filters_s": "s", "cli.bind_s": "s", "cli.render_s": "s",
    "cli.jobs_per_query": "count", "cli.tasks_per_query": "count",
    **{f"queries.{e}.{m}": u for e in HEADLINE
       for m, u in (("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "trace.round_best_s": "s", "trace.geomean_best_s": "s", "trace.overhead_s": "s",
    "trace.spans_per_op": "count",
}


class NoProbe:
    """Untraced runs: every hook is a no-op."""

    def begin(self, op_id, kind, **info): pass
    def after_source(self, op_id): pass
    def end(self, op_id, **info): pass
    def start_timed(self): pass
    def stop_timed(self): pass


class TraceProbe:
    """Traced runs: spans around the engine's public functions plus
    per-op Spark job counts. Only timed ops feed the per-layer numbers."""

    def __init__(self, spark) -> None:
        from spans import JobCounter, Tracer

        self.tracer = Tracer()
        self.jobs = JobCounter(spark, self.tracer)
        self.timed = False
        self.timed_span_start = 0
        self.timed_span_end = 0
        self.by_kind: dict[str, list[dict]] = {}
        self.info: dict[int, dict] = {}
        self.counters = {"files_written": 0, "bytes_written": 0, "pruned_kept": 0,
                         "pruned_total": 0, "pruned_calls": 0}
        self._install()

    def _install(self) -> None:
        from importlib import import_module

        from tailpipe_spark import cli, query_cli, session, writer
        from tailpipe_spark.catalog import Catalog
        from tailpipe_spark.sources import formats

        collect = import_module("tailpipe_spark.collect")
        compact = import_module("tailpipe_spark.compact")
        t, c = self.tracer, self.counters

        def in_timed_op():
            return self.timed and t.op_id is not None

        def on_append(args, kwargs, result):
            if in_timed_op():
                cat, table = args[0], args[1]
                c["files_written"] += len(result)
                c["bytes_written"] += sum(
                    os.path.getsize(os.path.join(cat.table_dir(table), r)) for r in result)

        def on_pruned(args, kwargs, result):
            if in_timed_op() and result is not None:
                cat, table = args[0], args[1]
                c["pruned_kept"] += len(result)
                c["pruned_total"] += len(cat.load_file_index(table) or [])
                c["pruned_calls"] += 1

        t.wrap(session, "build_session", "session.build")
        t.wrap(session, "tune_scan_splits", "session.tune_scan_splits")
        t.wrap(formats, "read_jsonl", "sources.read_jsonl")
        t.wrap(collect, "collect", "collect.collect")
        for fn in ("apply_table_mapping", "enrich_tp", "validate_required"):
            t.wrap(collect, fn, "collect.plan")
        t.wrap(Catalog, "ensure_table", "collect.plan")
        t.wrap(collect, "load_state", "collect.state_io")
        t.wrap(collect, "save_state", "collect.state_io")
        t.wrap(writer, "append", "writer.append", after=on_append)
        t.wrap(Catalog, "backup_metadata", "catalog.backup_metadata")
        t.wrap(Catalog, "record_snapshot", "catalog.record_snapshot")
        t.wrap(Catalog, "merge_file_index", "catalog.merge_file_index")
        t.wrap(Catalog, "__init__", "catalog.open")
        t.wrap(Catalog, "read_table", "catalog.read_table")
        t.wrap(Catalog, "pruned_files", "catalog.pruned_files", after=on_pruned)
        t.wrap(compact, "compact_table", "compact.compact")
        t.wrap(compact, "file_stats", "compact.file_stats")
        t.wrap(query_cli, "apply_query_filters", "query_cli.apply_query_filters")
        t.wrap(cli, "cmd_query", "cli.cmd_query")
        t.wrap(cli, "render_stream", "cli.render", generator=True)

    # --- op hooks ----------------------------------------------------------
    def begin(self, op_id, kind, **info):
        self.tracer.op_id = op_id
        self.info[op_id] = {"kind": kind, **info}
        if "table_dir" in info:
            self.info[op_id]["files_before"] = _listing(info["table_dir"])
        self.jobs.start(op_id, kind)
        self.info[op_id]["op_span"] = self.tracer.open(f"op.{kind}")

    def after_source(self, op_id):
        self.info[op_id]["source_jobs"] = len(self.jobs.jobs(op_id))

    def end(self, op_id, **info):
        rec = self.info[op_id]
        self.tracer.close(rec.pop("op_span"))
        self.tracer.op_id = None
        rec.update(info)
        rec["jobs"], rec["tasks"] = self.jobs.counts(op_id)
        if "files_before" in rec:
            before = rec.pop("files_before")
            after = _listing(rec["table_dir"])
            rec["rewritten_bytes"] = sum(s for p, s in after.items() if p not in before)
            rec["merged_files"] = sum(1 for p in before if p not in after)
        if self.timed:
            self.by_kind.setdefault(rec["kind"], []).append(rec)

    def start_timed(self):
        self.timed = True
        self.timed_span_start = len(self.tracer.spans)

    def stop_timed(self):
        self.timed = False
        self.timed_span_end = len(self.tracer.spans)
        self.jobs.clear()
        self.tracer.unwrap_all()

    # --- per-layer numbers -------------------------------------------------
    def layers(self, res: dict, spark) -> dict[str, float]:
        t = self.tracer
        selft = t.self_times(self.timed_span_start, self.timed_span_end)
        out = {k: 0.0 for k in LAYER_UNITS}
        n_ops = {k: len(v) for k, v in self.by_kind.items()}
        chunks = max(1, n_ops.get("collect", 0))
        queries = max(1, n_ops.get("query", 0))
        compacts = max(1, n_ops.get("compact", 0))

        def per(name, n):
            return selft.get(name, 0.0) / n

        timed_spans = t.spans[self.timed_span_start:self.timed_span_end]
        builds = [b - a for n, a, b, _p, o in timed_spans
                  if n == "session.build" and b and o is not None]
        out["session.build_s"] = res["session_build_s"]
        out["session.reuse_s"] = statistics.mean(builds) if builds else 0.0
        out["session.peak_rss_mb"] = _peak_rss_mb(spark)
        out["session.tune_scan_splits_s"] = per("session.tune_scan_splits", queries)
        out["sources.read_jsonl_s"] = per("sources.read_jsonl", chunks)
        out["collect.plan_s"] = per("collect.plan", chunks)
        out["collect.state_io_s"] = per("collect.state_io", chunks)
        out["collect.self_s"] = per("collect.collect", chunks)
        out["writer.append_s"] = per("writer.append", chunks)
        out["catalog.backup_metadata_s"] = per("catalog.backup_metadata", chunks)
        out["catalog.record_snapshot_s"] = per("catalog.record_snapshot", chunks)
        out["catalog.merge_file_index_s"] = per("catalog.merge_file_index", chunks)
        out["catalog.open_s"] = per("catalog.open", queries)
        out["catalog.read_table_s"] = per("catalog.read_table", queries)
        out["catalog.pruned_files_s"] = per("catalog.pruned_files", queries)
        out["compact.compact_s"] = per("compact.compact", compacts)
        out["compact.file_stats_s"] = per("compact.file_stats", compacts)
        out["query_cli.apply_query_filters_s"] = per("query_cli.apply_query_filters", queries)
        out["cli.bind_s"] = per("cli.cmd_query", queries)
        out["cli.render_s"] = per("cli.render", queries)
        c = self.counters
        col = self.by_kind.get("collect", [])
        if col:
            out["sources.jobs_per_chunk"] = statistics.mean(r["source_jobs"] for r in col)
            out["collect.jobs_per_chunk"] = statistics.mean(r["jobs"] for r in col)
            out["collect.tasks_per_chunk"] = statistics.mean(r["tasks"] for r in col)
            in_bytes = sum(r["input_bytes"] for r in col)
            out["writer.files_per_chunk"] = c["files_written"] / len(col)
            out["writer.stored_bytes_per_input_byte"] = c["bytes_written"] / in_bytes
        if c["pruned_calls"]:
            out["catalog.files_kept_ratio"] = c["pruned_kept"] / max(1, c["pruned_total"])
            out["catalog.files_total"] = c["pruned_total"] / c["pruned_calls"]
        if "manifest_bytes" in res:
            out["catalog.manifest_bytes"] = res["manifest_bytes"]
        comp = self.by_kind.get("compact", [])
        if comp:
            out["compact.files_merged"] = statistics.mean(r["merged_files"] for r in comp)
            out["compact.bytes_rewritten_per_input_byte"] = (
                sum(r["rewritten_bytes"] for r in comp) / res["input"]["bytes"])
        qry = self.by_kind.get("query", [])
        if qry:
            out["cli.jobs_per_query"] = statistics.mean(r["jobs"] for r in qry)
            out["cli.tasks_per_query"] = statistics.mean(r["tasks"] for r in qry)
        for e in HEADLINE:
            recs = self.by_kind.get(e, [])
            if recs:
                out[f"queries.{e}.plan_s"] = statistics.median(r["plan_s"] for r in recs)
                out[f"queries.{e}.exec_s"] = statistics.median(r["exec_s"] for r in recs)
                out[f"queries.{e}.jobs"] = statistics.median(r["jobs"] for r in recs)
        n_timed = max(1, sum(n_ops.values()))
        out["trace.spans_per_op"] = len(timed_spans) / n_timed
        out["trace.overhead_s"] = (t.overhead_s + len(timed_spans) * t.span_cost_s()) / n_timed
        return out


def _listing(tdir: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(tdir):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    import resource

    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return py + jvm


def _by_kind(ops) -> dict[str, list[float]]:
    kinds: dict[str, list[float]] = {}
    for k, dt in ops:
        kinds.setdefault(k, []).append(dt)
    return kinds


def end_to_end(res: dict) -> dict[str, float]:
    """The benchmark's end-to-end metrics from one workload result. Each
    op kind counts with its best (fastest) timed sample: co-tenant load
    on a shared host slows ops in bursts, and the best of n is the
    figure those bursts move least (README.md: Steadiness)."""
    best = {k: min(v) for k, v in _by_kind(res["ops"]).items()}
    return {
        "setup_s": res["setup_s"],
        "round_best_s": sum(best[k] for k in res["cycle"]),
        "geomean_best_s": math.exp(sum(math.log(b) for b in best.values()) / len(best)),
    }


def detail(res: dict) -> dict:
    """Workload-named figures for the run record: each op kind's sample
    count, best and median, the round walls and any workload extras."""
    out = {k: {"n": len(v), "best_s": min(v), "p50_s": statistics.median(v)}
           for k, v in _by_kind(res["ops"]).items()}
    out["warm_rounds"] = res["warm_rounds"]
    out["rounds"] = res["rounds"]
    out.update(res.get("extra", {}))
    return out


def main(argv: list[str]) -> int:
    root, workload, seed, seconds, trace, out_path = argv
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    sys.path.insert(0, root)
    import workloads
    from tailpipe_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench")
    spark.range(1).count()
    session_build_s = time.perf_counter() - t0
    probe = TraceProbe(spark) if trace else NoProbe()
    fn = getattr(workloads, workload)
    res = fn(spark, os.getcwd(), seed, seconds, probe)
    res["setup_s"] = res.pop("setup_end") - T_START
    res["session_build_s"] = session_build_s
    e2e = end_to_end(res)
    record = {
        "end_to_end": e2e,
        "detail": detail(res),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "failures": res["failures"][:20],
        "input": res["input"],
        "master": spark.sparkContext.master,
    }
    if trace:
        layers = probe.layers(res, spark)
        layers["trace.round_best_s"] = e2e["round_best_s"]
        layers["trace.geomean_best_s"] = e2e["geomean_best_s"]
        record["per_layer"] = layers
    spark.stop()
    with open(out_path, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
