"""One benchmark process: set up the engine, run one workload as a
closed loop with a single client thread, check every output, and write
a result file for ``run.py``.

Every run of a workload makes the same fixed sequence of operations,
whatever the machine's speed, so two commits are measured on the same
work. ``headline`` runs cold: there is no warm-up pass (DESIGN.md says
why).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import statistics
import sys
import time
import traceback

import datagen
from spans import (OPERATOR_MODULES, SparkWork, Tracer, covered, dir_bytes,
                   primary_module)

# bench.py's 20 headline queries, plus the graph layer's degree
# distribution so that every operator module is exercised by a workload.
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_delta", "q_market_share", "q_top_customers", "ts_pivot_wide",
    "ts_resample_monthly", "ts_gap_fill", "ts_asof_join", "ts_moving_avg",
    "cache_merge_upsert", "ev_sessionize", "ev_tumbling_window",
    "text_quality_score", "text_ngram_topk", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "knn_bruteforce_cosine",
    "graph_part_degrees",
]
# queries without a DuckDB oracle: checked for schema and a non-empty result
ROWS_ONLY_COLUMNS = {
    "dedup_minhash_lsh": ["id_a", "id_b", "est_jaccard"],
    "dedup_simhash": ["doc_id", "simhash"],
}

# series-cache traffic; these are assumptions, see DESIGN.md
FETCHES = 6
CODES_PER_FETCH = 5
ZIPF_S = 1.1
REQUEST_SHAPE_SEED = 7
COMPACT_EVERY = 3  # appends to a namespace between compactions


class Run:
    """The operations of one run, timed one after another."""

    def __init__(self, args, spark, tracer: Tracer | None):
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = SparkWork(spark) if tracer else None
        self.ops: list[dict] = []
        self.out_dir = os.path.join(args.work, "results")

    def timed(self, op: dict, body) -> None:
        """Run one operation under its own job group; Spark's account of
        it is read after the timed window closes."""
        op_id = op["id"]
        blocks_before = self.sc._jsc.getPersistentRDDs().size() if self.tracer else 0
        self.sc.setJobGroup(op_id, op_id)
        if self.tracer:
            self.tracer.op = op_id
        op["t0"] = time.time()
        try:
            body(op)
            op["ok"] = True
        except Exception as exc:  # an operation that raises is a failed one
            op["ok"] = False
            op["error"] = "".join(traceback.format_exception(exc, limit=-5))[-1500:]
        op["t2"] = time.time()
        op.setdefault("t1", op["t2"])
        if self.tracer:
            self.tracer.op = None
            op["work"] = self.work.collect(op_id)
            op["work"]["blocks_left"] = op["work"]["cached_blocks"] - blocks_before
        self.ops.append(op)

    def start(self) -> None:
        """The timed operations begin: Spark jobs run so far belong to
        set-up."""
        if self.work:
            self.work.mark()

    def finish(self) -> None:
        """The timed operations are over; read peak RSS before the output
        checks, which run in this process too."""
        self.rss_mb = {"jvm": jvm_peak_rss_mb(self.spark),
                       "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}


def run_headline(run: Run, queries: dict, oracle: dict) -> dict:
    order = list(HEADLINE)
    random.Random(run.args.seed).shuffle(order)
    run.start()
    for name in order:
        # every query starts from an empty cache, as bench.py runs them
        run.spark.catalog.clearCache()

        def body(op, fn=queries[name]):
            df = fn(run.spark, run.args.data)
            op["t1"] = time.time()
            df.write.parquet(os.path.join(run.out_dir, op["id"]))

        run.timed({"id": name, "name": name}, body)
    run.finish()
    for op in run.ops:
        if op["ok"]:
            op["ok"], op["check"] = check_query(
                os.path.join(run.out_dir, op["id"]), op["name"], oracle)
    return {}


def check_query(path: str, name: str, oracle: dict) -> tuple[bool, str]:
    from tools.parity import normalize_rows
    table = read_result(path)
    cols = table.column_names
    if name in ROWS_ONLY_COLUMNS:
        if cols != ROWS_ONLY_COLUMNS[name] or table.num_rows == 0:
            return False, f"rows-only: columns {cols}, {table.num_rows} rows"
        return True, ""
    want = oracle["queries"][name]
    if sorted(cols) != sorted(want["columns"]):
        return False, f"columns {sorted(cols)} != {sorted(want['columns'])}"
    rows = [tuple(r.values()) for r in table.to_pylist()]
    if normalize_rows(cols, rows) != want["rows"]:
        return False, f"values differ ({len(rows)} rows, want {len(want['rows'])})"
    return True, ""


def read_result(path: str):
    import pyarrow.parquet as pq
    return pq.read_table(path, coerce_int96_timestamp_unit="us")


def fetch_requests(codes: list[str], seed: int):
    """Endless stream of fetch requests, CODES_PER_FETCH distinct codes
    each, drawn from a Zipf law over popularity ranks. Rank r always
    holds a code of frequency 'DMQA'[r % 4], and the rank sequence comes
    from a fixed generator, so every seed makes the same number of
    frequency groups, misses, appends and compactions; the seed picks
    which codes hold the ranks."""
    rng = random.Random(seed)
    by_freq = {f: sorted(c for c in codes if c[-1] == f) for f in "DMQA"}
    for group in by_freq.values():
        rng.shuffle(group)
    n = min(len(g) for g in by_freq.values()) * 4
    ranked = [by_freq["DMQA"[r % 4]][r // 4] for r in range(n)]
    shape = random.Random(REQUEST_SHAPE_SEED)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(n)]
    while True:
        picked: list[str] = []
        while len(picked) < CODES_PER_FETCH:
            code = ranked[shape.choices(range(n), weights)[0]]
            if code not in picked:
                picked.append(code)
        yield picked


def run_series_cache(run: Run, api, oracle: dict) -> dict:
    cache_root = os.path.join(run.args.work, "cache")
    source = run.spark.read.parquet(os.path.join(run.args.data, "series.parquet"))
    client = api.SeriesClient(run.spark, source, cache_root)
    requests = fetch_requests(sorted(oracle["series"]), run.args.seed)
    cached: set[str] = set()
    appends = {f: 0 for f in datagen.FREQ_UNITS}
    compactions = 0
    run.start()
    for i in range(FETCHES):
        codes = next(requests)
        # the client's own bookkeeping, which decides when to compact
        grown = sorted({c[-1] for c in codes if c not in cached})

        def body(op):
            nonlocal compactions
            df = client.fetch_multi(codes)
            op["t1"] = time.time()
            df.write.parquet(os.path.join(run.out_dir, op["id"]))
            for f in grown:
                appends[f] += 1
                if appends[f] % COMPACT_EVERY == 0:
                    client.cache_for(f).compact()
                    compactions += 1

        run.timed({"id": f"f{i}", "name": "fetch_multi", "codes": codes,
                   "freqs": sorted({c[-1] for c in codes})}, body)
        cached.update(codes)
    run.finish()
    bad_freqs = check_namespaces(cache_root, cached, oracle)
    for op in run.ops:
        if not op["ok"]:
            continue
        if bad_freqs & set(op["freqs"]):
            op["ok"], op["check"] = False, "cache namespace differs from oracle"
        else:
            op["ok"], op["check"] = check_fetch(
                os.path.join(run.out_dir, op["id"]), op["codes"], oracle)
    return {"cache_root": cache_root, "client": client,
            "traffic": {"codes_requested": FETCHES * CODES_PER_FETCH,
                        "codes_cached": len(cached),
                        "namespaces": sum(1 for n in appends.values() if n),
                        "appends": sum(appends.values()),
                        "compactions": compactions}}


def check_fetch(path: str, codes: list[str], oracle: dict) -> tuple[bool, str]:
    from tools.parity import normalize_rows
    table = read_result(path)
    if sorted(table.column_names) != sorted(["date"] + codes):
        return False, f"columns {table.column_names}"
    dates = table.column("date").to_pylist()
    for code in codes:
        pairs = [(d, v) for d, v in zip(dates, table.column(code).to_pylist())
                 if v is not None]
        if normalize_rows(["date", "value"], pairs) != oracle["series"][code]:
            return False, f"{code} differs from the resampled source"
    return True, ""


def check_namespaces(cache_root: str, cached: set[str], oracle: dict) -> set[str]:
    """Frequencies whose resolved cache view differs from a direct
    resample of the source (latest batch wins per key)."""
    import duckdb
    from tools.parity import normalize_rows
    bad = set()
    for freq in datagen.FREQ_UNITS:
        want = {c for c in cached if c[-1] == freq}
        ns = os.path.join(cache_root, f"freq={freq}")
        if not want:
            continue
        if not os.path.isdir(ns):
            bad.add(freq)
            continue
        rows = duckdb.sql(
            f"SELECT code, date, value FROM read_parquet('{ns}/*.parquet', "
            "hive_partitioning = false) QUALIFY row_number() OVER ("
            "PARTITION BY date, code ORDER BY _batch_id DESC) = 1").fetchall()
        got: dict[str, list] = {}
        for code, date, value in rows:
            got.setdefault(code, []).append((date, value))
        if set(got) != want or any(
                normalize_rows(["date", "value"], got[c]) != oracle["series"][c]
                for c in want):
            bad.add(freq)
    return bad


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def op_latencies(ops: list[dict]) -> list[float]:
    return [op["t2"] - op["t0"] for op in ops]


def end_to_end(ops: list[dict]) -> dict:
    lat = op_latencies(ops)
    return {
        "wall_s": sum(lat),
        "op_geomean_s": math.exp(sum(math.log(x) for x in lat) / len(lat)),
    }


def tail(lat: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it; only for
    runs of at least 20 operations."""
    n = len(lat)
    if n < 20:
        return None
    ordered = sorted(lat)
    idx = n - 11  # ten samples lie beyond ordered[idx]
    return {"value": ordered[idx], "percentile": round(100 * (idx + 1) / n, 1),
            "samples": n}


def per_layer(run: Run, setup: dict, extra: dict) -> dict:
    ops, tracer = run.ops, run.tracer
    m: dict[str, float] = {
        "session.start_s": setup["session_start_s"],
        "session.first_job_s": setup["first_job_s"],
        "operators.compose_s": sum(op["t1"] - op["t0"] for op in ops),
        "operators.unattributed_jobs": sum(op["work"]["unattributed_jobs"] for op in ops),
        "sources.registry.input_mb": sum(op["work"]["input_mb"] for op in ops),
    }
    by_module: dict[str, list[dict]] = {mod: [] for mod in OPERATOR_MODULES}
    for op in ops:
        mod = primary_module(tracer.spans, op["id"])
        if mod in by_module:
            by_module[mod].append(op)
    for mod, mops in by_module.items():
        w = [op["work"] for op in mops]
        pre = f"operators.{mod}."
        m[pre + "exec_s"] = sum(op["t2"] - op["t1"] for op in mops)
        m[pre + "driver_s"] = sum(
            (op["t2"] - op["t0"]) - covered(op["work"]["stage_spans"], op["t0"], op["t2"])
            for op in mops)
        for key in ("jobs", "tasks", "executor_cpu_s", "shuffle_mb", "spill_mb"):
            m[pre + key] = sum(x[key] for x in w)
        m[pre + "task_skew"] = max((x["task_skew"] for x in w), default=0.0)
        m[pre + "cached_blocks_after"] = sum(x["blocks_left"] for x in w)

    # only spans inside the timed operations: not set-up, not the
    # footprint measurement after them
    spans = [(i, s) for i, s in enumerate(tracer.spans) if s.op is not None]

    def named(name: str) -> list:
        return [s for _i, s in spans if s.name == name]

    def span_s(name: str) -> float:
        return sum(s.end - s.start for s in named(name))

    appended = [s.attrs["bytes_after"] - s.attrs["bytes_before"]
                for s in named("sources.cache.append")]
    compacted = [s.attrs["bytes_after"] for s in named("sources.cache.compact")]
    fetches = [op for op in ops if op["name"] == "fetch_multi"]
    requested = sum(len(op["codes"]) for op in fetches)
    # codes the engine found missing, per calling span: a per-frequency
    # fetch inside fetch_multi is a hit when it found none missing
    missing = {s.parent: s.attrs["missing"]
               for s in named("sources.cache.missing_codes")}
    group_fetches = [(s.end - s.start, missing[i] == 0) for i, s in spans
                     if s.name == "api.fetch" and i in missing]
    live = extra.get("live_bytes", 0)
    stored = extra.get("stored_bytes", 0)
    m.update({
        "sources.cache.load_s": span_s("sources.cache.load"),
        "sources.cache.cached_codes_s": span_s("sources.cache.cached_codes"),
        "sources.cache.append_s": span_s("sources.cache.append"),
        "sources.cache.append_mb": sum(appended) / 1e6,
        "sources.cache.compact_s": span_s("sources.cache.compact"),
        "sources.cache.compact_mb": sum(compacted) / 1e6,
        "sources.cache.compactions": len(compacted),
        "sources.cache.files": extra.get("files", 0),
        "sources.cache.write_amplification":
            (sum(appended) + sum(compacted)) / live if live else 0.0,
        "sources.cache.stored_bytes_ratio": stored / live if live else 0.0,
        "sources.cache.hit_ratio":
            1 - sum(missing.values()) / requested if requested else 0.0,
        "api.validate_codes_s": span_s("api.validate_codes"),
        "api.jobs_per_fetch":
            sum(op["work"]["jobs"] for op in fetches) / len(fetches) if fetches else 0.0,
        "api.fetch_hit_s": median_or_zero([t for t, hit in group_fetches if hit]),
        "api.fetch_miss_s": median_or_zero([t for t, hit in group_fetches if not hit]),
    })
    busy = sum(op_latencies(ops))
    m["trace.span_overhead"] = tracer.self_time / (busy - tracer.self_time)
    return m


def cache_footprint(spark, info: dict, work: str) -> dict:
    """Bytes on disk under the cache root, and the bytes of one compacted
    copy of the same live rows, written by the same engine."""
    root, client = info["cache_root"], info["client"]
    files = stored = live = 0
    for freq in datagen.FREQ_UNITS:
        ns = os.path.join(root, f"freq={freq}")
        if not os.path.isdir(ns):
            continue
        files += sum(1 for _r, _d, fs in os.walk(ns) for f in fs if f.endswith(".parquet"))
        stored += dir_bytes(ns)
        copy = os.path.join(work, "compacted", freq)
        client.cache_for(freq).load().write.parquet(copy)
        live += dir_bytes(copy)
    return {"files": files, "stored_bytes": stored, "live_bytes": live}


def first_job(spark, args) -> None:
    """A small scan, shuffle and parquet write, read back: the first job
    a session runs, and the end of its set-up."""
    path = os.path.join(args.work, f"first-job-{os.getpid()}")
    (spark.read.parquet(os.path.join(args.data, "lineitem.parquet"))
     .groupBy("l_returnflag").count().write.parquet(path))
    rows = sum(r[0] for r in spark.read.parquet(path).selectExpr("sum(count)").collect())
    if rows != datagen.ROW_COUNTS["lineitem"]:
        raise RuntimeError(f"first job counted {rows} lineitem rows")


def jvm_times(spark) -> dict:
    """Seconds the driver JVM has spent in garbage collection and JIT
    compilation since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {"gc_s": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1000,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--repo", required=True)
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    import __spark_entry__ as entry
    from pyperustats_spark import api
    from pyperustats_spark.session import get_spark

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    t0 = time.time()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    first_job(spark, args)
    t2 = time.time()
    with open(os.path.join(args.data, datagen.ORACLE_FILE)) as f:
        oracle = json.load(f)
    setup = {"ready_at": t2, "session_start_s": t1 - t0, "first_job_s": t2 - t1}
    run = Run(args, spark, tracer)
    if args.workload == "headline":
        info = run_headline(run, entry.queries(), oracle)
    else:
        info = run_series_cache(run, api, oracle)
    ops = run.ops
    lat = op_latencies(ops)
    result = {
        "setup": setup,
        "attempted": len(ops),
        "failed": sum(1 for op in ops if not op["ok"]),
        "failures": [{k: op.get(k) for k in ("id", "error", "check")}
                     for op in ops if not op["ok"]][:10],
        "end_to_end": end_to_end(ops),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat),
        "op_s": {op["id"]: round(op["t2"] - op["t0"], 3) for op in ops},
        "traffic": info.get("traffic"),
    }
    if tracer:
        extra = (cache_footprint(spark, info, args.work)
                 if "cache_root" in info else {})
        result["per_layer"] = per_layer(run, setup, extra)
        tracer.write(os.path.join(args.work, "spans.jsonl"))
    result["rss_mb"] = run.rss_mb
    result["end_to_end"]["peak_rss_mb"] = sum(run.rss_mb.values())
    result["versions"] = {"spark": spark.version}
    result["jvm"] = jvm_times(spark)
    with open(args.out, "w") as f:
        json.dump(result, f)
    # run.py stops the JVM: nothing in it is needed once the result is written
    os._exit(0)


if __name__ == "__main__":
    main()
