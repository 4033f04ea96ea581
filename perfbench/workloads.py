"""The benchmark workloads. Each is a closed loop with one client: the
next op starts only after the previous one returned.

A workload runs a fixed, untimed warm-up (part of set-up), then whole
rounds of its op cycle until ``seconds`` of timed work have elapsed and
at least ``MIN_ROUNDS`` rounds ran, and checks every answer it gets. It returns a plain dict that
``worker.py`` turns into metrics.
"""

from __future__ import annotations

import functools
import io
import os
import time
import traceback
from contextlib import redirect_stdout

import numpy as np

import gen

# ---------------------------------------------------------------------------
# ingest_compact
# ---------------------------------------------------------------------------

#: the interleaved query mix, one op kind each
QUERY_KINDS = ("query_window", "query_groupby", "query_topk", "query_histogram")
#: one round: a query after every chunk (the four queries of the mix,
#: in turn), a compaction after every 4th chunk
INGEST_CYCLE = sum((("collect", q) for q in QUERY_KINDS), ()) + ("compact",)
#: untimed warm-up rounds before timing (README.md: warm-up curves)
INGEST_WARM_ROUNDS = 1


class _LogQueries:
    """The interleaved query mix: a narrow --from/--to window, the README
    full-scan group-by, an --index-filtered top-k and a daily histogram.
    Each answer is derived from the generator's tally."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 3])

    def next(self, kind: str, tally: gen.LogTally) -> tuple[list[str], str]:
        if kind == "query_window":
            d0 = int(self.rng.integers(0, gen.DAYS - 1))
            args = [
                "select count(*) as n, sum(bytes) as b from logs",
                "--from", f"{gen.day_str(d0)}T00:00:00",
                "--to", f"{gen.day_str(d0 + 1)}T23:59:59",
            ]
            n = int(tally.count[d0:d0 + 2].sum())
            b = int(tally.bytes[d0:d0 + 2].sum())
            return args, f"n,b\n{n},{b if n else ''}"
        if kind == "query_groupby":
            per = tally.count.sum(axis=(0, 1, 2))
            rows = sorted(
                ((int(c), gen.STATUSES[s]) for s, c in enumerate(per) if c),
                key=lambda r: (-r[0], r[1]),
            )
            args = ["select status, count(*) as n from logs group by status "
                    "order by n desc, status"]
            return args, "status,n\n" + "\n".join(f"{s},{c}" for c, s in rows)
        if kind == "query_topk":
            a = int(self.rng.integers(0, len(gen.ACCOUNTS)))
            per = tally.count[:, a].sum(axis=(0, 2))
            rows = sorted(
                ((int(c), gen.HOSTS[h]) for h, c in enumerate(per) if c),
                key=lambda r: (-r[0], r[1]),
            )[:5]
            args = ["select host, count(*) as n from logs group by host "
                    "order by n desc, host limit 5", "--index", gen.ACCOUNTS[a]]
            return args, "host,n\n" + "\n".join(f"{h},{c}" for c, h in rows)
        per = tally.count.sum(axis=(1, 2, 3))
        args = ["select tp_date, count(*) as n from logs group by tp_date "
                "order by tp_date"]
        return args, "tp_date,n\n" + "\n".join(
            f"{gen.day_str(d)},{int(c)}" for d, c in enumerate(per) if c
        )


def ingest_compact(spark, run_dir: str, seed: int, seconds: float, probe) -> dict:
    from importlib import import_module

    from tailpipe_spark import cli
    from tailpipe_spark.catalog import Catalog
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources import formats

    # the package re-exports collect() and compact_table() under the
    # submodule names, so fetch the modules themselves
    collect_mod = import_module("tailpipe_spark.collect")
    compact_mod = import_module("tailpipe_spark.compact")
    ws = os.path.join(run_dir, "ws")
    chunks = os.path.join(run_dir, "chunks")
    os.makedirs(chunks)
    table = TableConfig(
        name="logs",
        columns=[ColumnConfig(name="tp_timestamp", type="timestamp", source="ts")],
    )
    part = PartitionConfig("logs", "web", tp_index="account")
    tally = gen.LogTally()
    queries = _LogQueries(seed)
    cat = Catalog(ws)
    st = {"chunks": 0, "rows_gen": 0, "rows_written": 0, "bytes_in": 0}
    committed: dict[int, int] = {}  # op id -> rows committed by that collect
    failures: list[str] = []

    def collect_op(op_id):
        i = st["chunks"]
        path = os.path.join(chunks, f"chunk-{i:05d}.jsonl")
        rows, nulls = gen.write_log_chunk(path, seed, i, tally)
        size = os.path.getsize(path)
        probe.begin(op_id, "collect", input_bytes=size)
        t0 = time.perf_counter()
        df = formats.read_jsonl(spark, [path])
        probe.after_source(op_id)
        res = collect_mod.collect(spark, cat, table, part, source_df=df)
        dt = time.perf_counter() - t0
        probe.end(op_id)
        st["chunks"] += 1
        st["rows_gen"] += rows
        st["rows_written"] += res.rows_written
        committed[op_id] = res.rows_written
        st["bytes_in"] += size
        ok = (res.rows_written + res.rows_dropped == rows
              and res.rows_dropped == nulls)
        if not ok:
            failures.append(f"collect chunk {i}: written {res.rows_written} + "
                            f"dropped {res.rows_dropped} != {rows} ({nulls} null ts)")
        return dt, ok

    def query_op(kind, op_id):
        args, want = queries.next(kind, tally)
        argv = ["--workspace", ws, "query", *args]
        probe.begin(op_id, "query")
        buf = io.StringIO()
        t0 = time.perf_counter()
        with redirect_stdout(buf):
            rc = cli.main(argv)
        dt = time.perf_counter() - t0
        probe.end(op_id)
        got = buf.getvalue().strip()
        ok = rc == 0 and got == want
        if not ok:
            failures.append(f"query {args[0]!r}: rc={rc} got {got[:200]!r} want {want[:200]!r}")
        return dt, ok

    def compact_op(op_id):
        before = cat.row_count("logs")
        probe.begin(op_id, "compact", table_dir=cat.table_dir("logs"))
        t0 = time.perf_counter()
        compact_mod.compact_table(spark, cat, "logs")
        dt = time.perf_counter() - t0
        probe.end(op_id)
        after = cat.row_count("logs")
        ok = before == after == st["rows_written"]
        if not ok:
            failures.append(f"compact: rows {before} -> {after}, "
                            f"committed {st['rows_written']}")
        return dt, ok

    ops = {"collect": collect_op, "compact": compact_op,
           **{q: functools.partial(query_op, q) for q in QUERY_KINDS}}
    out = _run_rounds(INGEST_CYCLE, ops, INGEST_WARM_ROUNDS, seconds, probe)
    out["failures"] = failures
    out["input"] = {"rows": st["rows_gen"], "bytes": st["bytes_in"],
                    "chunks": st["chunks"], "rows_committed": st["rows_written"]}
    timed_rows = sum(n for i, n in committed.items() if i >= out["first_timed_op"])
    # rows committed per second of timed wall, compactions included
    out["extra"] = {"ingest_rows_per_s": timed_rows / sum(out["rounds"])}
    out["manifest_bytes"] = os.path.getsize(cat.manifest_path)
    return out


# ---------------------------------------------------------------------------
# analytics_registry
# ---------------------------------------------------------------------------

#: bench.py's HEADLINE entries as of the commit that defined this
#: benchmark, fixed here so the per-layer metric names stay stable
HEADLINE = (
    "q01_fast", "q03_shipping_priority", "q05_local_supplier", "q_topk_window",
    "q_window_functions", "q_time_bucket_hourly", "q_sessionize", "q_asof_join",
    "q_range_join", "q_json_extract", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_fast", "text_quality", "text_token_stats", "sim_cosine_topk",
)
#: scale factor of the generated registry tables (~89k rows, ~1.7 MB)
REGISTRY_SF = 0.01
#: untimed warm-up rounds before timing (README.md: warm-up curves); the
#: first one also collects every entry's result for the oracle check
REGISTRY_WARM_ROUNDS = 1


def analytics_registry(spark, run_dir: str, seed: int, seconds: float, probe) -> dict:
    from tailpipe_spark.queries import build_registry

    data = os.path.join(run_dir, "sf")
    rows, size = gen.write_registry_tables(data, seed, REGISTRY_SF)
    registry = build_registry()
    results: dict[str, tuple] = {}
    failures: list[str] = []

    def entry_op(name):
        fn = registry[name].fn

        def op(op_id):
            spark.catalog.clearCache()
            probe.begin(op_id, name)
            t0 = time.perf_counter()
            df = fn(spark, data)
            df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            if name in results:
                df.write.format("noop").mode("overwrite").save()
            else:  # first (warm-up) execution: keep the answer
                results[name] = ([tuple(r) for r in df.collect()], df.columns, df.schema)
            t2 = time.perf_counter()
            probe.end(op_id, plan_s=t1 - t0, exec_s=t2 - t1)
            return t2 - t0, True
        return op

    ops = {n: entry_op(n) for n in HEADLINE}
    out = _run_rounds(HEADLINE, ops, REGISTRY_WARM_ROUNDS, seconds, probe)
    bad = _oracle_check(data, registry, results, failures)
    # a wrong answer fails every timed execution of that entry
    out["failed"] += sum(1 for k, _ in out["ops"] if k in bad)
    out["failures"] = failures
    out["input"] = {"rows": rows, "bytes": size, "sf": REGISTRY_SF}
    return out


def _oracle_check(data: str, registry, results: dict, failures: list) -> set:
    """Compare each entry's answer once against its DuckDB oracle with
    the oracle harness's typed normalization; entries without an oracle
    are checked for a non-empty answer only (rows-only)."""
    import duckdb

    from tools import check_correctness as cc
    from tailpipe_spark.session import TEST_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TEST_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = set()
    for name, (rows, cols, schema) in results.items():
        spec = registry[name]
        if cc._decimal_cols(schema) or cc._complex_cols(schema):
            bad.add(name)
            failures.append(f"{name}: DECIMAL or complex output columns")
            continue
        if spec.oracle is None:
            if not rows:
                bad.add(name)
                failures.append(f"{name}: empty answer (rows-only entry)")
            continue
        orows, ocols = cc._duck_rows(con, spec.oracle)
        if cc._normalize(rows, cols) != cc._normalize(orows, ocols):
            bad.add(name)
            failures.append(f"{name}: answer differs from its DuckDB oracle")
    con.close()
    return bad


# ---------------------------------------------------------------------------

#: every op kind gets at least four timed samples, spread over the run
#: so that a burst of co-tenant load rarely covers all of them
MIN_ROUNDS = 4


def _run_rounds(cycle, ops, warm_rounds: int, seconds: float, probe) -> dict:
    """Run ``warm_rounds`` untimed rounds, then timed rounds until
    ``seconds`` of timed work have elapsed (the round in progress
    completes) and at least ``MIN_ROUNDS`` rounds ran. An op that raises
    counts as failed."""
    op_id = 0
    warm: list[float] = []
    attempted = failed = 0
    for _ in range(warm_rounds):
        wall = 0.0
        for kind in cycle:
            dt, _ok = ops[kind](op_id)
            op_id += 1
            wall += dt
        warm.append(wall)
    setup_end = time.perf_counter()
    probe.start_timed()
    first_timed_op = op_id
    timed: list[tuple[str, float]] = []
    rounds: list[float] = []
    elapsed = 0.0
    while elapsed < seconds or len(rounds) < MIN_ROUNDS:
        wall = 0.0
        for kind in cycle:
            attempted += 1
            try:
                dt, ok = ops[kind](op_id)
            except Exception:  # noqa: BLE001 — counted as failed, run continues
                traceback.print_exc()
                ok = False
            else:
                timed.append((kind, dt))
                wall += dt
            op_id += 1
            failed += not ok
        rounds.append(wall)
        elapsed += wall
    probe.stop_timed()
    return {
        "cycle": list(cycle),
        "warm_rounds": warm,
        "setup_end": setup_end,
        "first_timed_op": first_timed_op,
        "ops": timed,
        "rounds": rounds,
        "attempted": attempted,
        "failed": failed,
    }
