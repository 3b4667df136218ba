"""The four workloads. Each is a closed loop: one client, one action at
a time, from this process.

Every workload follows the same shape:

1. session start (the Spark workloads), then ``SETUP_ROUNDS`` set-up
   rounds: input generation from the seed and staging, each round into
   a fresh directory.
2. warm-up: one-time index builds and one small run of the workload's
   path. Everything up to here counts in ``setup_s``.
3. timed phase (``Run.loop``): iterations until ``--seconds`` have
   passed, at least one, each timed for wall clock and process-tree CPU.
4. checks against the oracle after each iteration, outside its timing
   (query_inventory: after the phase).

Host speed is sampled from the start of set-up to the end of the timed
phase (``probe.py``), and the end-to-end times are scaled by it.
"""

from __future__ import annotations

import gc
import logging
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench import stages as st
from perfbench.host import RssSampler, check_engine_conf, cpu_ticks, environment, tree_cpu_s
from perfbench.probe import Sampler, Samples
from perfbench.status import Evicted, StatusClient, retention_conf
from perfbench.trace import Tracer

SETUP_ROUNDS = 3
DRIVER_HEAP = "2g"

ETL_WRITE_ITEMS = 100_000
ETL_ITERATE_ITEMS = 100_000
LATENCY_POOL = 100_000  # distinct generated items the latency loop cycles through
LATENCY_BATCH = 20_000  # process() calls per iteration
LATENCY_SAMPLE_EVERY = 500  # process() calls between two host-speed samples
REPLAY_BATCHES = 5  # traced replay: this many 10k-row Arrow batches
ARROW_BATCH = 10_000  # session._ENGINE_CONF's arrow.maxRecordsPerBatch

QUERY_SF = 0.01
QUERY_KEYS = (
    # named by the ROADMAP's open perf items
    "ext_mad_outliers", "ext_dsir_select", "ext_salted_join", "ext_heavy_hitters",
    "ext_cdc_chunk_stats", "ext_hybrid_indexed", "ext_stream_tumbling",
    "ext_stream_upsert",
    # relational core
    "q04_join_inner", "q05_join_left_agg", "q11_agg_pricing_summary",
    "q15_window_topk", "q28_percentiles", "q38_tpch_q5", "q78_tpch_q21",
    # training-data operators
    "ext_dedup_minhash", "ext_knn_bruteforce", "ext_tfidf", "ext_line_dedup",
)
# Keys whose DuckDB oracle carries constants pinned to the shipped
# fixture corpus, so it cannot grade generated data; they get the
# row-count check instead.
FIXTURE_PINNED_ORACLES = {
    "ext_hybrid_indexed": "IVF centroids are pinned per fixture corpus fingerprint",
}
# Keys that keep per-corpus index caches; the warm-up builds them.
INDEXED_KEYS = ("ext_hybrid_indexed",)


class Run:
    """State and bookkeeping shared by the workloads."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, workdir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.tracer = Tracer(False)
        self.spark = None
        self.status: StatusClient | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.iterations: list[dict] = []
        self.layer: dict[str, float] = {}
        self.extra: dict = {}
        self.setup_rounds: list[float] = []
        self.session_s = 0.0
        self.warmup_s = 0.0
        self.peak_rss_mb = 0.0
        self.env: dict = {}
        self.samples = Samples()
        self.sampler: Sampler | None = None
        self.setup_window = (0.0, 0.0)
        self._inline_wall = 0.0

    # -- session ---------------------------------------------------------
    def start_spark(self) -> None:
        from smartpipeline_spark.session import get_spark

        conf = retention_conf()
        # a fixed, pre-touched heap keeps the JVM's share of peak_rss_mb
        # constant, so the metric follows the rest of the process tree
        conf["spark.driver.memory"] = DRIVER_HEAP
        conf["spark.local.dir"] = os.path.join(self.workdir, "spark-local")
        conf["spark.sql.warehouse.dir"] = os.path.join(self.workdir, "warehouse")
        conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}"
        )
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        check_engine_conf(self.spark)
        self.status = StatusClient(self.spark)

    def fresh_dir(self) -> str:
        path = os.path.join(self.workdir, "data")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def setup(self, round_fn):
        """Run ``round_fn(dir)`` SETUP_ROUNDS times; keep the last result."""
        out = None
        for _ in range(SETUP_ROUNDS):
            d = self.fresh_dir()
            gc.collect()
            t0 = time.perf_counter()
            out = round_fn(d)
            self.setup_rounds.append(time.perf_counter() - t0)
        return out

    def warmup(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.warmup_s = time.perf_counter() - t0

    # -- host speed ------------------------------------------------------
    def start_sampling(self) -> None:
        """Sample host speed on a thread from now on (set-up starts)."""
        self.setup_window = (time.perf_counter(), 0.0)
        self.sampler = Sampler(self.samples).__enter__()

    def stop_sampling(self) -> None:
        if self.sampler is not None:
            self.sampler.__exit__(None, None, None)
            self.sampler = None

    def inline_sample(self) -> None:
        """Take a sample on this thread, inside a timed iteration; its
        wall time is taken out of the iteration's."""
        t0 = time.perf_counter()
        self.samples.take()
        self._inline_wall += time.perf_counter() - t0

    # -- timed phase -----------------------------------------------------
    def loop(self, body, inline: bool = False) -> None:
        """Call ``body(tracer)`` until the run's seconds are spent (at
        least once); it returns (items done, check to run untimed). With
        tracing, iterations alternate untraced and traced, at least one
        of each. The check may return a dict to keep with the
        iteration's record. With ``inline``, the body samples host speed
        itself (``inline_sample``) and the sampling thread stops."""
        untraced = Tracer(False)
        traced = Tracer(True, self.spark.sparkContext if self.spark else None)
        self.tracer = traced
        least = 2 if self.trace else 1
        self.setup_window = (self.setup_window[0], time.perf_counter())
        if inline:
            self.stop_sampling()
        t_start = time.perf_counter()
        with RssSampler() as rss:
            while True:
                n = len(self.iterations)
                if n >= least and time.perf_counter() - t_start >= self.seconds:
                    break
                tracing = self.trace and n % 2 == 1
                tracer = traced if tracing else untraced
                gc.collect()
                mark = self.status.mark() if tracing and self.status else None
                inline0 = self._inline_wall
                c0, t0 = tree_cpu_s(), time.perf_counter()
                with tracer.span("iteration") as span:
                    items, check = body(tracer)
                t1 = time.perf_counter()
                cpu = tree_cpu_s() - c0
                # the samples' own time is not the workload's
                wall = t1 - t0 - (self._inline_wall - inline0)
                cpu -= sum(self.samples.between(t0, t1))
                rec = {"wall_s": wall, "cpu_s": cpu, "items": items, "traced": tracing,
                       "scale": self.samples.scale(t0, t1),
                       "samples": len(self.samples.between(t0, t1))}
                rec.update(check() or {})
                if mark is not None:
                    try:
                        rec["status"] = self.status.phase(mark)
                    except Evicted as exc:
                        self.check(False, f"status API: {exc}")
                    rec["span"] = span["id"]
                self.iterations.append(rec)
        self.peak_rss_mb = rss.peak_bytes / 2**20

    # -- checks ----------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.count(what, 1, 0 if ok else 1)

    def count(self, what: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        if failed:
            self.failed += failed
            self.failures.append(f"{what}: {failed} of {attempted} failed")

    # -- results ---------------------------------------------------------
    def timed(self, traced: bool) -> list[dict]:
        return [it for it in self.iterations if it["traced"] == traced]

    def end_to_end(self, scaled: bool = True) -> dict[str, float]:
        """The end-to-end metrics, in seconds at the probe's reference
        speed unless ``scaled`` is false."""
        its = self.timed(False)
        k = [it["scale"] if scaled else 1.0 for it in its]
        setup_k = self.samples.scale(*self.setup_window) if scaled else 1.0
        return {
            "setup_s": (self.session_s + statistics.median(self.setup_rounds)
                        + self.warmup_s) * setup_k,
            "wall_s": statistics.median(it["wall_s"] * s for it, s in zip(its, k)),
            "items_per_s": statistics.median(it["items"] / (it["wall_s"] * s) for it, s in zip(its, k)),
            # CPU is read in clock ticks, so average over the iterations
            "cpu_s": sum(it["cpu_s"] * s for it, s in zip(its, k)) / len(its),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def status_totals(self) -> dict[str, float]:
        """Status-API counters per traced iteration (mean)."""
        its = [it for it in self.timed(True) if "status" in it]
        out: dict[str, float] = {}
        for it in its:
            for counters in it["status"].values():
                for k, v in counters.items():
                    out[k] = out.get(k, 0.0) + v / len(its)
        return out

    def span_means(self, names) -> dict[str, float]:
        n = max(1, len(self.timed(True)))
        totals = self.tracer.totals()
        return {name: totals.get(name, 0.0) / n for name in names}


def _median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _pct(values: np.ndarray, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def _silence_error_manager_log() -> None:
    # ErrorManager logs every handled error with its traceback; keep the
    # records (they still ship from the workers) but print none of them
    log = logging.getLogger("ErrorManager")
    log.addHandler(logging.NullHandler())
    log.propagate = False


# ----------------------------------------------------------------------
# the Stage chains, shared by the Spark path, the local path and the
# traced replay so all three run the same stages under the same policies
# ----------------------------------------------------------------------
def _narrow_chain(final: str):
    """[(name, stage, append kwargs)] for Enrich -> Score -> final."""
    enrich = ("enrich", st.Enrich(), {
        "retryable_errors": (st.TransientError,), "max_retries": gen.MAX_RETRIES, "backoff": 0.0,
    })
    score = ("score", st.Score(), {})
    if final == "bucket":
        last = ("bucket", st.Bucket(size=512), {"isolate_failures": True})
    else:
        last = ("finish", st.Finish(), {})
    return [enrich, score, last]


def _steps(chain):
    """Wrapper steps [(stage, policy, isolate)] for a chain."""
    from smartpipeline_spark.errors import RetryManager, StagePolicy

    steps = []
    for name, stage, kw in chain:
        stage.set_name(name)
        policy = StagePolicy(
            name=name,
            retry=RetryManager(
                tuple(kw.get("retryable_errors", ())), kw.get("max_retries", 0), kw.get("backoff", 0.0)
            ),
        )
        steps.append((stage, policy, kw.get("isolate_failures", False)))
    return steps


def _with_companions(pdf):
    from smartpipeline_spark.wrapper import ERRORS_COL, TIMINGS_COL

    pdf = pdf.copy()
    pdf[ERRORS_COL] = [[] for _ in range(len(pdf))]
    pdf[TIMINGS_COL] = None
    return pdf


def _replay(run: Run, segments, batches) -> None:
    """Run each segment's compiled chain in this process over ``batches``
    (pandas frames of the generated input), then again through
    ``run_chain_on_items`` on pre-built Items. ``segments`` is a list of
    (steps, out_cols, between) where ``between`` filters a segment's
    output before the next one, as the pipeline's transform does."""
    from smartpipeline_spark import wrapper
    from smartpipeline_spark.errors import ErrorManager
    from smartpipeline_spark.item import Item

    tr = run.tracer
    clock = st.UserClock()
    for steps, _out, _between in segments:
        for stage, _p, _i in steps:
            stage.clock = clock
    kernel_s = chain_s = 0.0
    em = ErrorManager()
    current = [_with_companions(b) for b in batches]
    for steps, out_cols, between in segments:
        payload = [c for c in current[0].columns if c not in (wrapper.ERRORS_COL, wrapper.TIMINGS_COL)]
        with tr.span("wrapper.compile_chain"):
            fn = wrapper.compile_chain(steps, payload, out_cols, em)
        # the chain replay sees the same rows, built into Items untimed
        items = [
            [Item({c: v for c, v in zip(payload, row)}) for row in b[payload].itertuples(index=False, name=None)]
            for b in current
        ]
        clock.total = 0.0
        t0 = time.perf_counter()
        with tr.span("wrapper.run_chain_on_items", count=sum(map(len, items))):
            for batch_items in items:
                wrapper.run_chain_on_items(steps, batch_items, em)
        chain_s += time.perf_counter() - t0
        user_s = clock.total
        t0 = time.perf_counter()
        with tr.span("wrapper.kernel", count=sum(map(len, current))):
            out = list(fn(iter(current)))
        kernel_s += time.perf_counter() - t0
        run.layer["stage.user_s"] = run.layer.get("stage.user_s", 0.0) + user_s
        current = [between(b) if between else b for b in out]
    for steps, _out, _between in segments:
        for stage, _p, _i in steps:
            stage.clock = None
    run.layer["wrapper.kernel_s"] = kernel_s
    run.layer["wrapper.chain_s"] = chain_s
    run.layer["wrapper.convert_s"] = kernel_s - chain_s
    run.layer["wrapper.guard_s"] = chain_s - run.layer["stage.user_s"]
    run.extra["replay_items"] = sum(len(b) for b in batches)


# ----------------------------------------------------------------------
# etl_write
# ----------------------------------------------------------------------
def etl_write(run: Run) -> None:
    from pyspark.sql import functions as F

    from smartpipeline_spark.pipeline import Pipeline

    _silence_error_manager_log()
    run.start_spark()
    spark = run.spark

    from smartpipeline_spark import sources

    def round_fn(d):
        table = gen.narrow_items(ETL_WRITE_ITEMS, run.seed)
        pq.write_table(table, os.path.join(d, "items.parquet"))
        return table, os.path.join(d, "items.parquet")

    table, src = run.setup(round_fn)
    out_items = os.path.join(run.workdir, "out", "items")
    out_errors = os.path.join(run.workdir, "out", "errors")

    def pipeline(source):
        p = Pipeline(spark).set_source(source)
        chain = _narrow_chain("bucket")
        for name, stage, kw in chain[:2]:
            p.append(name, stage, **kw)
        p.transform("keep", lambda df: df.filter(F.col("grp") < gen.KEEP_BELOW))
        name, stage, kw = chain[2]
        return p.append(name, stage, **kw)

    def iteration(tr, source, items_dir, errors_dir):
        p = pipeline(source)
        with tr.span("pipeline.build"):
            p.build()
        with tr.span("pipeline.write"):
            p.write(items_dir)
        with tr.span("pipeline.write_errors"):
            p.write_errors(errors_dir)
        with tr.span("pipeline.error_summary"):
            summary = p.error_summary().collect()
        return p, summary

    # one full, unchecked iteration: JIT, every Python worker and the
    # sink's first files are warm before timing starts
    warm = os.path.join(run.workdir, "warm")
    run.warmup(lambda: iteration(Tracer(False), sources.parquet(spark, src),
                                 os.path.join(warm, "items"), os.path.join(warm, "errors")))
    exp = gen.expected_narrow(table, filtered=True, final_stage="bucket")

    def body(tr):
        p, summary = iteration(tr, sources.parquet(spark, src), out_items, out_errors)
        return ETL_WRITE_ITEMS, lambda: _check_etl_write(
            run, exp, p, summary, out_items, out_errors)

    run.loop(body)
    if run.trace:
        _etl_write_layers(run, table)


def _check_etl_write(run: Run, exp: dict, p, summary, out_items: str, out_errors: str) -> None:
    out = pq.read_table(out_items, columns=["id", "x", "y", "z", "tries", "_errors"])
    run.count("etl_write output rows", ETL_WRITE_ITEMS, gen.mismatched_rows(exp, out))
    got = {(r["stage"], r["kind"], r["exc_class"]): r["n_errors"] for r in summary}
    run.check(got == dict(exp["ledger"]), f"error_summary {got} != {dict(exp['ledger'])}")
    dl = pq.read_table(out_errors, columns=["id", "error_stage", "error_kind", "error_exc_class"])
    keys = pa.compute.binary_join_element_wise(
        dl["error_stage"], dl["error_kind"], dl["error_exc_class"], "/")
    codes = gen.codes_for(keys.combine_chunks() if isinstance(keys, pa.ChunkedArray) else keys)
    ids = dl["id"].to_numpy()
    sig = np.zeros(len(exp["id"]), np.int64)
    pos = np.searchsorted(exp["id"], ids)
    valid = (pos < len(exp["id"])) & (exp["id"][np.minimum(pos, len(exp["id"]) - 1)] == ids)
    np.add.at(sig, pos[valid], codes[valid])
    run.check(bool(valid.all()) and np.array_equal(sig, exp["sig"]), "write_errors dead-letter rows")
    metrics = p.last_metrics
    n_err_items = int((exp["sig"] != 0).sum())
    run.check(
        metrics.get("n_items") == len(exp["id"]) and metrics.get("error_items") == n_err_items,
        f"write() observed metrics {metrics}",
    )
    retries = int(pa.compute.sum(out["tries"]).as_py()) - out.num_rows
    run.check(retries == exp["retries"], f"retries {retries} != {exp['retries']}")
    run.extra["ledger"] = {"/".join(k): v for k, v in exp["ledger"].items()}
    return {"errors": {
        "errors.soft_n": sum(v for k, v in got.items() if k[1] == "soft"),
        "errors.critical_n": sum(v for k, v in got.items() if k[1] == "critical"),
        "errors.retry_n": retries,
    }}


def _errors_layer(run: Run) -> None:
    """The error counts the engine returned, per traced iteration (the
    checks hold them equal to the generator's)."""
    its = run.timed(True)
    for name in ("errors.soft_n", "errors.critical_n", "errors.retry_n"):
        run.layer[name] = sum(it["errors"][name] for it in its) / len(its)


def _etl_write_layers(run: Run, table: pa.Table) -> None:
    _errors_layer(run)
    run.layer.update(_prefixed(run.span_means(
        ["pipeline.build", "pipeline.write", "pipeline.write_errors", "pipeline.error_summary"])))
    files = [f for f in os.listdir(os.path.join(run.workdir, "out", "items")) if f.endswith(".parquet")]
    run.layer["sink.files_n"] = float(len(files))
    run.layer["sink.bytes"] = float(sum(
        os.path.getsize(os.path.join(run.workdir, "out", "items", f)) for f in files))
    chain = _narrow_chain("bucket")
    steps = _steps(chain)
    batches = [table.slice(i * ARROW_BATCH, ARROW_BATCH).to_pandas() for i in range(REPLAY_BATCHES)]
    seg1_out = list(table.schema.names) + ["x", "tries", "y", "_errors", "_timings"]
    seg2_out = seg1_out[:-2] + ["z", "_errors", "_timings"]
    _replay(run, [
        (steps[:2], seg1_out, lambda b: b[b["grp"] < gen.KEEP_BELOW].reset_index(drop=True)),
        (steps[2:], seg2_out, None),
    ], batches)


def _prefixed(spans: dict[str, float]) -> dict[str, float]:
    return {f"{k}_s": v for k, v in spans.items()}


# ----------------------------------------------------------------------
# etl_iterate
# ----------------------------------------------------------------------
def etl_iterate(run: Run) -> None:
    from smartpipeline_spark import sources
    from smartpipeline_spark.pipeline import Pipeline

    run.start_spark()
    spark = run.spark

    def round_fn(d):
        table, expected = gen.wide_items(ETL_ITERATE_ITEMS, run.seed)
        pq.write_table(table, os.path.join(d, "wide.parquet"))
        return table, expected, os.path.join(d, "wide.parquet")

    table, expected, src = run.setup(round_fn)
    text_len = dict(zip(table["id"].to_pylist(), pa.compute.utf8_length(table["text"]).to_pylist()))
    gaps: list[np.ndarray] = []
    first_item: list[float] = []

    def iteration(tr, source, sink):
        p = Pipeline(spark).set_source(source)
        p.append("tokenize", st.Tokenize()).append("tagger", st.Tagger())
        t0 = time.perf_counter()
        with tr.span("pipeline.build"):
            p.build()
        stamps = []
        with tr.span("pipeline.run"):
            for item in p.run():
                stamps.append(time.perf_counter())
                d = item.data
                d.pop("text")
                sink.append(d)
        if stamps:
            first_item.append(stamps[0] - t0)
            gaps.append(np.diff(np.array(stamps)))
        return len(stamps)

    run.warmup(lambda: iteration(Tracer(False), sources.parquet(spark, src).limit(5_000), []))
    first_item.clear()
    gaps.clear()

    def body(tr):
        got: list[dict] = []
        n = iteration(tr, sources.parquet(spark, src), got)
        return n, lambda: _check_etl_iterate(run, got, expected, text_len)

    run.loop(body)
    run.extra["first_item_s"] = _median_or_zero(first_item)
    if run.trace:
        traced = [i for i, it in enumerate(run.iterations) if it["traced"]]
        g = np.concatenate([gaps[i] for i in traced]) * 1e6 if traced else np.array([])
        run.layer["pipeline.run_gap_p50_us"] = _pct(g, 50)
        run.layer["pipeline.run_gap_p99_us"] = _pct(g, 99)
        run.extra["run_gap_samples"] = int(len(g))
        run.layer.update(_prefixed(run.span_means(["pipeline.build", "pipeline.run"])))
        chain = [("tokenize", st.Tokenize(), {}), ("tagger", st.Tagger(), {})]
        batches = [table.slice(i * ARROW_BATCH, ARROW_BATCH).to_pandas() for i in range(2)]
        out_cols = ["id", "text", "n_words", "first", "_data", "_errors", "_timings"]
        _replay(run, [(_steps(chain), out_cols, None)], batches)


def _check_etl_iterate(run: Run, got: list[dict], expected: dict, text_len: dict) -> None:
    bad = 0
    seen = set()
    for d in got:
        i = d.pop("id")
        seen.add(i)
        n_words, first = expected.get(i, (None, None))
        if n_words is None or d != gen.expected_wide_payload(n_words, first, text_len[i]):
            bad += 1
    missing = len(expected) - len(seen)
    duplicated = len(got) - len(seen)
    run.count(f"etl_iterate items ({bad} wrong, {missing} missing, {duplicated} repeated)",
              len(expected), bad + missing + duplicated)


# ----------------------------------------------------------------------
# item_latency
# ----------------------------------------------------------------------
def item_latency(run: Run) -> None:
    from smartpipeline_spark.item import Item
    from smartpipeline_spark.pipeline import Pipeline

    _silence_error_manager_log()

    def round_fn(d):
        table = gen.narrow_items(LATENCY_POOL, run.seed)
        rows = table.to_pylist()
        p = Pipeline()
        for name, stage, kw in _narrow_chain("finish"):
            p.append(name, stage, **kw)
        return table, rows, p

    table, rows, p = run.setup(round_fn)
    exp = gen.expected_narrow(table, filtered=False, final_stage="finish")
    lat: list[np.ndarray] = []
    first_call: list[float] = []
    cursor = [0]

    def calls(tr, n, sample=None):
        start = cursor[0]
        items = [Item(rows[(start + k) % len(rows)]) for k in range(n)]
        cursor[0] = (start + n) % len(rows)
        ns = np.empty(n, np.int64)
        clock = time.perf_counter_ns
        with tr.span("pipeline.process", count=n):
            for k, item in enumerate(items):
                if sample is not None and k % LATENCY_SAMPLE_EVERY == 0:
                    sample()
                t0 = clock()
                p.process(item)
                ns[k] = clock() - t0
        return items, ns

    run.warmup(lambda: calls(Tracer(False), 2_000))

    def body(tr):
        # traced iterations leave the samples out of their spans
        items, ns = calls(tr, LATENCY_BATCH, None if tr.enabled else run.inline_sample)
        lat.append(ns)
        first_call.append(ns[0] / 1e3)
        return LATENCY_BATCH, lambda: _check_items(run, items, exp)

    run.loop(body, inline=True)
    untraced = np.concatenate(
        [lat[i] for i, it in enumerate(run.iterations) if not it["traced"]]) / 1e3
    run.extra["item_p50_us"] = _pct(untraced, 50)
    run.extra["item_p99_us"] = _pct(untraced, 99)
    run.extra["item_samples"] = int(len(untraced))
    run.extra["first_item_s"] = _median_or_zero(first_call) / 1e6
    if run.trace:
        run.layer.update(_prefixed(run.span_means(["pipeline.process"])))
        _errors_layer(run)
        steps = _steps(_narrow_chain("finish"))
        clock = st.UserClock()
        for stage, _p, _i in steps:
            stage.clock = clock
        from smartpipeline_spark import wrapper
        from smartpipeline_spark.errors import ErrorManager

        em = ErrorManager()
        items = [Item(r) for r in rows[:LATENCY_BATCH]]
        t0 = time.perf_counter()
        with run.tracer.span("wrapper.run_chain_on_items", count=len(items)):
            for item in items:
                wrapper.run_chain_on_items(steps, [item], em)
        chain_s = time.perf_counter() - t0
        run.layer["wrapper.chain_s"] = chain_s
        run.layer["stage.user_s"] = clock.total
        run.layer["wrapper.guard_s"] = chain_s - clock.total
        run.extra["replay_items"] = len(items)


def _check_items(run: Run, items, exp: dict) -> None:
    """Compare every returned item with the oracle (vectorized by id)."""
    n = len(items)
    ids = np.fromiter((it.data["id"] for it in items), np.int64, n)
    pos = np.searchsorted(exp["id"], ids)
    bad = np.zeros(n, bool)
    for name in ("x", "y", "z"):
        vals = [it.data.get(name) for it in items]
        valid = np.fromiter((v is not None for v in vals), bool, n)
        filled = np.array([0 if v is None else v for v in vals], dtype=exp[name].dtype)
        bad |= valid != exp[f"{name}_ok"][pos]
        bad |= valid & (filled != exp[name][pos])
    tries = np.fromiter((it.data.get("tries") or 0 for it in items), np.int64, n)
    bad |= tries != exp["tries"][pos]
    sig = np.fromiter(
        (sum(gen.ERROR_CODES.get((e["stage"], e["kind"], e["exc_class"]), 2**40)
             for e in it.error_entries) for it in items), np.int64, n)
    bad |= sig != exp["sig"][pos]
    run.count("item_latency items", n, int(bad.sum()))
    kinds = [e["kind"] for it in items for e in it.error_entries]
    return {"errors": {
        "errors.soft_n": kinds.count("soft"),
        "errors.critical_n": kinds.count("critical"),
        "errors.retry_n": int(tries.sum()) - n,
    }}


# ----------------------------------------------------------------------
# query_inventory
# ----------------------------------------------------------------------
def query_inventory(run: Run) -> None:
    from perfbench import tables

    import __spark_entry__ as entry

    run.start_spark()
    spark = run.spark
    registry = entry.queries()
    oracles = entry.oracle_sql()
    run.check(all(k in registry for k in QUERY_KEYS), "query keys registered")

    def round_fn(d):
        tables.write(tables.generate(QUERY_SF, run.seed), d)
        return d

    sf_dir = run.setup(round_fn)
    per_key: dict[str, list[float]] = {k: [] for k in QUERY_KEYS}
    last_df: dict = {}
    raised: dict[str, int] = dict.fromkeys(QUERY_KEYS, 0)

    def one_pass(tr, times):
        for key in QUERY_KEYS:
            with tr.span(f"query.{key}"):
                t0 = time.perf_counter()
                try:
                    with tr.span("query.construct"):
                        df = registry[key](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    last_df[key] = df
                except Exception as exc:  # a key that raises is a failed operation
                    raised[key] += 1
                    run.failures.append(f"{key}: {type(exc).__name__}: {exc}")
                if times is not None:
                    times[key].append(time.perf_counter() - t0)

    def warm():
        for key in INDEXED_KEYS:  # builds its per-corpus index caches
            registry[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        _warm_engine(spark, sf_dir)

    run.warmup(warm)

    def body(tr):
        one_pass(tr, per_key)
        return len(QUERY_KEYS), lambda: None

    try:
        run.loop(body)
        checked = {k: _check_key(run, k, last_df.get(k), oracles.get(k), sf_dir) for k in QUERY_KEYS}
    finally:
        _remove_stream_staging(sf_dir)
    passes = len(run.iterations)
    for key in QUERY_KEYS:
        # a key whose result misses its oracle fails every execution
        run.count(f"{key} executions", passes, passes if not checked[key] else raised[key])
    run.extra["query_checks"] = {k: ("oracle" if k in oracles and k not in FIXTURE_PINNED_ORACLES
                                     else "rows") for k in QUERY_KEYS}
    plain = [i for i, it in enumerate(run.iterations) if not it["traced"]]
    medians = {k: statistics.median(per_key[k][i] for i in plain) for k in QUERY_KEYS}
    run.extra["query_geomean_ms"] = 1e3 * math.exp(
        sum(math.log(v) for v in medians.values()) / len(medians))
    run.extra["query_ms"] = {k: round(v * 1e3, 3) for k, v in medians.items()}
    if run.trace:
        _query_layers(run, per_key)


def _warm_engine(spark, sf_dir: str) -> None:
    """JIT and worker warm-up that runs none of the timed keys: a scan of
    every table, a join, an aggregate, a window and a pandas map."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from smartpipeline_spark import sources

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    for name in sources.TABLE_NAMES:
        run(sources.table(spark, name, sf_dir))
    li = sources.table(spark, "lineitem", sf_dir)
    od = sources.table(spark, "orders", sf_dir)
    run(li.join(od, li.l_orderkey == od.o_orderkey).groupBy("o_orderpriority").agg(
        F.sum("l_extendedprice"), F.percentile_approx("l_quantity", 0.5)))
    top = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    run(od.withColumn("r", F.row_number().over(top)).filter("r <= 3"))
    run(sources.table(spark, "documents", sf_dir).select("doc_id", "text").mapInPandas(
        lambda it: it, schema="doc_id long, text string"))


def _check_key(run: Run, key: str, df, oracle: str | None, sf_dir: str) -> bool:
    """Compare the key's last timed result with its DuckDB oracle, or
    check it has rows when it has no usable oracle."""
    from smartpipeline_spark.testing import compare

    if df is None:
        return False
    try:
        if oracle is not None and key not in FIXTURE_PINNED_ORACLES:
            res = compare(df, oracle, sf_dir)
            ok = bool(res["hash_match"])
        else:
            res = {"rows": df.count()}
            ok = res["rows"] > 0
    except Exception as exc:  # the check itself raised: the key failed
        run.failures.append(f"{key} check: {type(exc).__name__}: {exc}")
        return False
    if not ok:
        run.failures.append(f"{key}: result check failed {res}")
    return ok


def _remove_stream_staging(sf_dir: str) -> None:
    """The streaming keys stage under fixed /tmp paths derived from the
    table directory (streaming_queries.py); remove this run's."""
    tag = sf_dir.strip("/").replace("/", "_")
    shutil.rmtree(os.path.join("/tmp", "spark_graft_stream", tag), ignore_errors=True)
    shutil.rmtree(os.path.join("/tmp", "spark_graft_stream_upsert", f"{tag}_{os.getpid()}"),
                  ignore_errors=True)


def _query_layers(run: Run, per_key: dict[str, list[float]]) -> None:
    traced = [i for i, it in enumerate(run.iterations) if it["traced"]]
    for key in QUERY_KEYS:
        run.layer[f"query.{key}_s"] = statistics.mean(per_key[key][i] for i in traced)
    run.layer["query.construct_s"] = run.span_means(["query.construct"])["query.construct"]
    spans = {s["id"]: s for s in run.tracer.spans}
    cpu = dict.fromkeys(QUERY_KEYS, 0.0)
    for it in run.timed(True):
        for tag, counters in it.get("status", {}).items():
            s = spans[int(tag.rsplit("-", 1)[1])]
            # a job started while constructing belongs to its key
            while s["name"] == "query.construct" and s["parent"] is not None:
                s = spans[s["parent"]]
            key = s["name"][len("query."):]
            if key in cpu:
                cpu[key] += counters["spark.executor_cpu_s"] / len(traced)
    for key in QUERY_KEYS:
        run.layer[f"query.{key}.cpu_s"] = cpu[key]


def layer_metrics(run: Run) -> dict[str, float]:
    """The traced run's per-layer numbers (absent layers read 0)."""
    out = dict(run.layer)
    out.update(run.status_totals())
    out["session.get_spark_s"] = run.session_s
    out["setup.warmup_s"] = run.warmup_s
    # the first iteration may be the first execution in the session, so
    # it is compared only when it is the only untraced one
    plain, traced = run.timed(False), run.timed(True)
    plain = plain[1:] or plain
    if plain and traced:
        out["trace.overhead_s"] = (statistics.median(it["wall_s"] for it in traced)
                                   - statistics.median(it["wall_s"] for it in plain))
    for key in ("first_item_s", "item_p50_us", "item_p99_us", "query_geomean_ms"):
        if key in run.extra:
            out[key] = run.extra[key]
    out["failed_frac"] = run.failed / max(1, run.attempted)
    return out


WORKLOADS = {
    "etl_write": etl_write,
    "etl_iterate": etl_iterate,
    "item_latency": item_latency,
    "query_inventory": query_inventory,
}


def execute(name: str, seed: int, seconds: float, trace: bool, workdir: str) -> Run:
    run = Run(name, seed, seconds, trace, workdir)
    env = environment()
    env["loadavg_start"] = [round(x, 2) for x in os.getloadavg()]
    steal0, total0 = cpu_ticks()
    run.start_sampling()
    try:
        WORKLOADS[name](run)
        if run.spark is not None:
            env.update(environment(run.spark))
            check_engine_conf(run.spark)
    finally:
        run.stop_sampling()
        env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        steal1, total1 = cpu_ticks()
        env["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
        run.env = env
        if run.spark is not None:
            run.spark.stop()
            _stop_jvm()
    return run


def _stop_jvm() -> None:
    """End the JVM this process launched for Spark, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF on its stdin
        proc.wait(timeout=60)

