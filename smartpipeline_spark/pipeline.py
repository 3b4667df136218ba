"""Pipeline — the engine object and plan builder.

The reference's ``Pipeline`` (``smartpipeline/pipeline.py:57-89``,
SURVEY.md §2.5) owns an ordered dict of queue-linked stage containers
and drives them with threads. Here the "plan" is a lazily-composed
DataFrame lineage: ``set_source`` yields the initial DataFrame and every
``append``/``transform`` extends it. Catalyst owns optimization;
consecutive user stages are fused into a single ``mapInPandas`` so
items cross the Arrow boundary once.

The sink actions pass each item through the Python stages once per
build: after ``write()`` commits a parquet or orc output (mode
overwrite or error), ``write_errors()`` and ``error_summary()`` read
that output instead of re-running the chain; ``run()`` always runs it.

API familiarity is preserved where it costs nothing (``set_source``,
``append(name, stage, concurrency=, parallel=, retryable_errors=,
max_retries=, backoff=)``, ``build``, ``run``, ``process``,
``process_async``/``get_item``, ``stop``, ``count``, ``get_stage``) —
but concurrency knobs become partitioning hints: Spark tasks are the
unit of parallelism, and thread-vs-process distinctions disappear
(executors are separate processes already, SURVEY.md §2.6).
"""

from __future__ import annotations

import queue as _queue
import threading
import uuid
from typing import Any, Callable, Iterator, Optional, Union

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartpipeline_spark.errors import ErrorManager, RetryManager, StagePolicy
from smartpipeline_spark.item import Item
from smartpipeline_spark.stage import BatchStage, Source, Stage
from smartpipeline_spark.wrapper import (
    DATA_COL,
    DATA_DDL,
    ERRORS_COL,
    ERRORS_DDL,
    TIMINGS_COL,
    TIMINGS_DDL,
    compile_chain,
    run_chain_on_items,
)

SourceLike = Union[DataFrame, Source, Callable[[SparkSession], DataFrame]]

# write() outputs that later actions on the same build read back: files
# in a format that stores the schema, holding exactly this build's rows
# (append adds to older rows, ignore may have written nothing)
_READ_BACK_FORMATS = ("parquet", "orc")
_READ_BACK_MODES = ("overwrite", "error", "errorifexists")


def _paths_overlap(spark: SparkSession, a: str, b: str) -> bool:
    """Whether ``a`` and ``b`` name the same directory or one lies
    inside the other, compared as Hadoop-qualified paths (so a trailing
    slash, a relative path or a ``file:`` scheme make no difference)."""
    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()

    def lineage(path: str) -> list[str]:
        p = sc._jvm.org.apache.hadoop.fs.Path(path)
        p = p.getFileSystem(conf).makeQualified(p)
        out = []
        while p is not None:
            out.append(p.toString())
            p = p.getParent()
        return out

    la, lb = lineage(a), lineage(b)
    return la[0] in lb or lb[0] in la


class _LogListParam(AccumulatorParam):
    """AccumulatorParam for the log-shipping channel: a list of
    (logger_name, level, message) tuples merged by concatenation."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class _PlanStep:
    """One plan node: either a python stage or a relational transform."""

    __slots__ = ("kind", "name", "stage", "policy", "isolate", "fn", "cache")

    def __init__(self, kind, name, stage=None, policy=None, isolate=False, fn=None,
                 cache=False):
        self.kind = kind  # "stage" | "transform"
        self.name = name
        self.stage = stage
        self.policy = policy
        self.isolate = isolate
        self.fn = fn
        self.cache = cache


class Pipeline:
    def __init__(
        self,
        spark: SparkSession | None = None,
        error_manager: ErrorManager | None = None,
        # accepted for reference-API familiarity; meaningless on Spark
        # (queues/threads are Spark's problem now):
        max_init_workers: int | None = None,
        max_queues_size: int | None = None,
        ship_logs: bool | int = True,
    ):
        self._spark = spark
        self._error_manager = error_manager or ErrorManager()
        # cross-process log shipping (reference LogsReceiver twin):
        # stage log records captured in the Python workers travel back
        # on a list-accumulator and re-emit through the driver-process
        # loggers when run()/write() drains them. ``ship_logs`` is the
        # capture gate: True ships INFO and above (third-party DEBUG
        # chatter stays worker-side), a logging level (e.g.
        # ``logging.DEBUG``) ships from that level, False disables.
        # Each task additionally hard-caps shipped records
        # (_LogCapture.MAX_RECORDS) and reports any overflow.
        import logging as _logging

        self._ship_logs = ship_logs is not False
        self._ship_level = (
            _logging.INFO if ship_logs is True else int(ship_logs or 0)
        )
        self._log_acc = None
        self._source: SourceLike | None = None
        self._source_schema = None
        self._steps: list[_PlanStep] = []
        self._names: set[str] = set()
        self._built_df: DataFrame | None = None
        # (fmt, path) of the output write() committed for the current
        # build, which write_errors()/error_summary() read back
        self._committed: tuple[str, str] | None = None
        # disambiguates the executor-side initialized-stage cache: two
        # pipelines reusing a stage name + class within one long-lived
        # Python worker must not share (stale) stage instances
        self._chain_uid = uuid.uuid4().hex
        self._count = 0
        self._count_lock = threading.Lock()
        #: metrics from the most recent write() (df.observe-backed)
        self.last_metrics: dict[str, Any] = {}
        # process_async machinery
        self._async_pool: "_AsyncRunner | None" = None

    @property
    def name(self) -> str:
        """Pipeline unique name (the reference's logger-name contract,
        pipeline.py:112-116): stable per instance, distinct across
        instances — also the disambiguator for the executor-side
        stage cache."""
        return f"pipeline-{self._chain_uid[:12]}"

    # ------------------------------------------------------------------
    # plan building
    # ------------------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from smartpipeline_spark.session import get_spark

            self._spark = get_spark()
        return self._spark

    def set_error_manager(self, error_manager: ErrorManager) -> "Pipeline":
        self._error_manager = error_manager
        return self

    def set_source(self, source: SourceLike, schema=None) -> "Pipeline":
        """Attach the source: a DataFrame, a reader callable
        ``spark -> DataFrame``, or a pull-based :class:`Source`
        (driver-drained, for genuinely driver-local feeds)."""
        self._source = source
        self._source_schema = schema
        self._discard_build()
        return self

    def append(
        self,
        name: str,
        stage: Union[Stage, BatchStage],
        concurrency: int = 0,
        parallel: bool = False,
        retryable_errors: tuple = (),
        max_retries: int = 0,
        backoff: float = 0.0,
        isolate_failures: bool = False,
        cache: bool = False,
        profile_memory: bool = False,
    ) -> "Pipeline":
        """Append a named user stage (validation mirrors the reference:
        unique names, non-negative retry params).

        ``cache=True`` persists this stage's output (the reference
        roadmap's "processed items cached at stage level" — here it is
        a real cluster cache: downstream re-use and repeated ``run()``
        calls skip recomputing everything up to this stage).
        ``profile_memory=True`` records the Python worker's RSS after
        each item/chunk into the timings map under ``<name>#rss_kb``
        (the roadmap's "stages can be memory profiled")."""
        if name in self._names:
            raise ValueError(f"stage name already used: {name!r}")
        if not isinstance(stage, (Stage, BatchStage)):
            raise TypeError("stage must be a Stage or BatchStage")
        policy = StagePolicy(
            name=name,
            retry=RetryManager(tuple(retryable_errors), max_retries, backoff),
            concurrency=concurrency,
            parallel=parallel,
            profile_memory=profile_memory,
        )
        stage.set_name(name)
        self._names.add(name)
        self._steps.append(
            _PlanStep(
                "stage", name, stage=stage, policy=policy, isolate=isolate_failures,
                cache=cache,
            )
        )
        self._discard_build()
        return self

    def append_concurrently(self, name, stage_class, args=(), kwargs=None, **append_kw):
        """Reference API shim: Spark plans are lazy, heavyweight stage
        __init__ already runs executor-side on first use, so this just
        constructs and appends (reference ``pipeline.py:592-665``)."""
        return self.append(name, stage_class(*args, **(kwargs or {})), **append_kw)

    def transform(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        """Append a relational step (DataFrame -> DataFrame). These stay
        fully Catalyst-native — filters/joins/aggs declared here get
        pushdown, pruning, and codegen for free."""
        if name in self._names:
            raise ValueError(f"stage name already used: {name!r}")
        self._names.add(name)
        self._steps.append(_PlanStep("transform", name, fn=fn))
        self._discard_build()
        return self

    def _discard_build(self) -> None:
        self._built_df = None
        self._committed = None

    def get_stage(self, name: str):
        for s in self._steps:
            if s.name == name:
                return s.stage if s.kind == "stage" else s.fn
        raise KeyError(name)

    # ------------------------------------------------------------------
    # compilation
    # ------------------------------------------------------------------
    def _source_df(self) -> DataFrame:
        src = self._source
        if src is None:
            raise ValueError("no source set")
        if isinstance(src, DataFrame):
            return src
        if isinstance(src, Source):
            rows = [dict(it.data) for it in src.items()]
            if self._source_schema is not None:
                return self.spark.createDataFrame(rows, schema=self._source_schema)
            if not rows:
                raise ValueError("Source produced no items and no schema was given")
            return self.spark.createDataFrame(rows)
        return src(self.spark)

    @staticmethod
    def _ensure_companions(df: DataFrame) -> DataFrame:
        if ERRORS_COL not in df.columns:
            df = df.withColumn(
                ERRORS_COL, F.lit(None).cast(ERRORS_DDL)
            ).withColumn(ERRORS_COL, F.coalesce(F.col(ERRORS_COL), F.array()))
        if TIMINGS_COL not in df.columns:
            df = df.withColumn(TIMINGS_COL, F.lit(None).cast(TIMINGS_DDL))
        return df

    def _compile(self) -> DataFrame:
        df = self._source_df()
        i, n = 0, len(self._steps)
        has_stages = any(s.kind == "stage" for s in self._steps)
        if has_stages:
            df = self._ensure_companions(df)
        while i < n:
            step = self._steps[i]
            if step.kind == "transform":
                df = step.fn(df)
                i += 1
                continue
            # fuse the maximal run of consecutive python stages; a
            # cache=True stage ends its segment (its output must
            # materialize there to be reusable)
            seg = []
            cache_after = False
            while i < n and self._steps[i].kind == "stage":
                s = self._steps[i]
                seg.append((s.stage, s.policy, s.isolate))
                i += 1
                if s.cache:
                    cache_after = True
                    break
            df = self._apply_segment(df, seg)
            if cache_after:
                df = df.persist()
        return df

    def _apply_segment(self, df: DataFrame, seg) -> DataFrame:
        from pyspark.sql.types import StructType

        payload_cols = [c for c in df.columns if c not in (ERRORS_COL, TIMINGS_COL)]
        in_schema = df.schema
        # output schema: existing payload fields (retyped if redeclared)
        # + new declared fields, + companions
        out_fields: dict[str, str] = {}
        for f_ in in_schema.fields:
            if f_.name in (ERRORS_COL, TIMINGS_COL):
                continue
            out_fields[f_.name] = f_.dataType.simpleString()
        for stage, _pol, _iso in seg:
            for col, ddl in (stage.output_fields or {}).items():
                out_fields[col] = ddl
        # dynamic-payload tier (SURVEY.md §1.3): stages that invent keys
        # at runtime (dynamic=True) spill them into a _data map column
        if any(getattr(stage, "dynamic", False) for stage, _p, _i in seg):
            out_fields[DATA_COL] = DATA_DDL
        ddl = ", ".join(
            [f"`{c}` {t}" for c, t in out_fields.items()]
            + [f"`{ERRORS_COL}` {ERRORS_DDL}", f"`{TIMINGS_COL}` {TIMINGS_DDL}"]
        )
        out_cols = list(out_fields) + [ERRORS_COL, TIMINGS_COL]
        # advisory concurrency hint: max over the segment, if any stage
        # asked for explicit horizontal scaling wider than the current
        # partitioning (reference concurrency=N -> partition count)
        # Parallelism for the Python segment: the reference scaled each
        # stage with concurrency=N threads/processes; here partitions
        # are the unit. Small-file scans often arrive with fewer
        # partitions than cores, which would serialize the (CPU-bound)
        # stage chain — widen to the explicit concurrency hint or the
        # cluster default, whichever is larger. Segments containing a
        # BatchStage keep the caller's partitioning untouched (batch
        # chunk membership is partitioning-sensitive, and callers pin
        # it deliberately — only an explicit concurrency= overrides).
        if not df.isStreaming:
            explicit = max((p.concurrency for _s, p, _i in seg), default=0)
            has_batch = any(isinstance(s, BatchStage) for s, _p, _i in seg)
            want = explicit if has_batch else max(
                explicit, df.sparkSession.sparkContext.defaultParallelism
            )
            # probe only when widening is possible: on a plan with an
            # exchange, .rdd runs the upstream shuffle-map stage
            if want and want > df.rdd.getNumPartitions():
                df = df.repartition(want)
        if self._ship_logs and self._log_acc is None:
            self._log_acc = df.sparkSession.sparkContext.accumulator(
                [], _LogListParam()
            )
        fn = compile_chain(
            seg,
            payload_cols,
            out_cols,
            self._error_manager,
            chain_uid=self._chain_uid,
            log_acc=self._log_acc,
            log_level=self._ship_level,
        )
        return df.mapInPandas(fn, schema=ddl)

    def build(self) -> "Pipeline":
        self._committed = None
        self._built_df = self._compile()
        return self

    def dataframe(self) -> DataFrame:
        if self._built_df is None:
            self.build()
        return self._built_df

    # ------------------------------------------------------------------
    # execution
    # ------------------------------------------------------------------
    def _output_df(self) -> DataFrame:
        """The build's output for the actions that follow ``write()``:
        the files it committed, read with the build's schema, or the
        compiled plan when there are none."""
        df = self.dataframe()
        if self._committed is None:
            return df
        fmt, path = self._committed
        return df.sparkSession.read.schema(df.schema).format(fmt).load(path)

    def run(self) -> Iterator[Item]:
        """Execute and yield finished Items (reference ``run()``
        generator → ``toLocalIterator`` over the compiled plan). It
        always runs the plan, also after ``write()``, so the items keep
        the plan's order.

        Teardown on consumer break: the reference stops its containers
        when the caller closes/breaks out of the generator
        (``/root/reference/smartpipeline/pipeline.py:283-286``). Here
        every job the iterator triggers carries a per-run job tag; if
        the generator is abandoned before exhaustion, the tagged jobs
        are cancelled so prefetched partition jobs don't keep executing
        behind the caller's back. The caller's job group and other
        local properties are left as they were."""
        df = self.dataframe()
        payload_cols = [c for c in df.columns if c not in (ERRORS_COL, TIMINGS_COL)]
        sc = df.sparkSession.sparkContext
        tag = f"smartpipeline-run-{uuid.uuid4().hex}"
        interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(True)
        try:
            # the JVM thread that runs the iterator's jobs copies this
            # thread's local properties when it starts, so they can be
            # restored before the first item is handed out
            rows = df.toLocalIterator(prefetchPartitions=True)
        finally:
            sc.removeJobTag(tag)
            sc.setLocalProperty("spark.job.interruptOnCancel", interrupt)
        completed = False
        try:
            for row in rows:
                d = row.asDict(recursive=True)
                item = Item({k: d.get(k) for k in payload_cols if k != DATA_COL})
                for k, v in (d.get(DATA_COL) or {}).items():
                    item.data.setdefault(k, v)
                item._error_entries = [dict(e) for e in (d.get(ERRORS_COL) or [])]
                item._timings = dict(d.get(TIMINGS_COL) or {})
                with self._count_lock:
                    self._count += 1
                yield item
            completed = True
        finally:
            if not completed:  # break / close() / thrown exception
                sc.cancelJobsWithTag(tag)
            self._drain_shipped_logs()

    def _drain_shipped_logs(self) -> None:
        """Re-emit stage log records shipped from the Python workers
        through the driver-process loggers (the reference's
        ``LogsReceiver`` contract: stage logs appear in the driver
        logger). Accumulator delivery is at-task-completion, so records
        arrive batched after each action rather than live — and a
        retried task may deliver its records twice (Spark accumulator
        semantics for non-result-stage updates); log shipping is a
        diagnostic channel, not an exactly-once ledger."""
        import logging as _logging

        if self._log_acc is None:
            return
        records = self._log_acc.value
        if not records:
            return
        self._log_acc.value = []
        for name, level, msg in records:
            _logging.getLogger(name).log(level, "[stage] %s", msg)

    def start_stream(
        self,
        checkpoint: str,
        sink: Union[str, Callable[[DataFrame, int], None]] = None,
        queryName: str | None = None,
        available_now: bool = False,
        processing_time: str | None = None,
        output_mode: str = "append",
        fmt: str = "parquet",
        partition_by: tuple[str, ...] = (),
    ):
        """Execute the pipeline over an unbounded source: the SAME
        compiled plan (stage wrapper included) runs per micro-batch.
        ``sink`` is a path (file sink), a callable (foreachBatch), or
        None with ``queryName`` (memory sink, tests).
        ``partition_by`` partitions a file sink's layout (hive-style
        directories — the exactly-once sink commit log covers
        partitioned writes the same as flat ones). Returns the
        StreamingQuery — stop() for graceful shutdown, or use
        ``available_now`` to drain-and-terminate."""
        df = self.dataframe()
        if not df.isStreaming:
            raise ValueError("source is not a streaming DataFrame")
        if callable(sink):
            writer = df.writeStream.foreachBatch(sink)
        elif isinstance(sink, str):
            writer = df.writeStream.format(fmt).option("path", sink)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
        elif queryName:
            writer = df.writeStream.format("memory").queryName(queryName)
        else:
            raise ValueError("need a sink path, a foreachBatch callable, or queryName")
        writer = writer.outputMode(output_mode).option("checkpointLocation", checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def write(self, path: str, fmt: str = "parquet", mode: str = "overwrite", **options):
        """Sink the pipeline output without driver round-trip.

        Item/error counters ride on ``df.observe`` — collected during
        the write itself, no second scan (the reference's pipeline
        counter, SURVEY §2.5, rebuilt as an accumulator-style metric).
        Metrics land in ``self.last_metrics``.

        ``write()`` always runs the compiled plan. When it commits a
        parquet or orc output in mode ``overwrite``, ``error`` or
        ``errorifexists``, the pipeline records it for the current
        build, and :meth:`write_errors` and :meth:`error_summary` then
        read those files instead of running every item through the
        stages again: their results come from the same pass as the
        written rows. Those reads see the files at ``path`` as
        they are when each action runs. Any other format or mode, a
        failed write, or ``build()``/``set_source()``/``append()``/
        ``transform()`` drops the record, and the actions recompute.
        """
        from pyspark.sql import Observation

        df = self.dataframe()
        self._committed = None
        obs = None
        if not df.isStreaming:
            obs = Observation()
            err_rows = (
                F.sum((F.size(F.col(ERRORS_COL)) > 0).cast("long")).alias("error_items")
                if ERRORS_COL in df.columns
                else F.lit(0).alias("error_items")
            )
            df = df.observe(obs, F.count(F.lit(1)).alias("n_items"), err_rows)
        df.write.format(fmt).mode(mode).options(**options).save(path)
        if obs is not None:
            self.last_metrics = dict(obs.get)
            with self._count_lock:
                self._count += int(self.last_metrics.get("n_items") or 0)
            if fmt.lower() in _READ_BACK_FORMATS and mode.lower() in _READ_BACK_MODES:
                self._committed = (fmt, path)
        self._drain_shipped_logs()
        return self

    def write_errors(self, path: str, fmt: str = "parquet", mode: str = "overwrite"):
        """Dead-letter sink: one row per error entry (item payload plus
        exploded stage/kind/message/exc_class), written distributed.
        The engine-side analog of the reference docs' custom
        ErrorManager that ships errors to Elasticsearch — point this
        at any Spark-writable target instead.

        After a recorded ``write()`` (see :meth:`write`) this reads the
        committed output as it is now, so the dead-letter rows are the
        written rows' errors; otherwise it runs the compiled plan.
        Writing to the committed output's path, to a directory above it
        or to one inside it drops the record."""
        if self._committed is not None and _paths_overlap(
            self.dataframe().sparkSession, self._committed[1], path
        ):
            self._committed = None
        df = self._output_df()
        errs = df.filter(F.size(F.col(ERRORS_COL)) > 0).withColumn(
            "_err", F.explode(F.col(ERRORS_COL))
        )
        errs = errs.select(
            *[c for c in df.columns if c not in (ERRORS_COL, TIMINGS_COL)],
            F.col("_err.stage").alias("error_stage"),
            F.col("_err.kind").alias("error_kind"),
            F.col("_err.message").alias("error_message"),
            F.col("_err.exc_class").alias("error_exc_class"),
        )
        errs.write.format(fmt).mode(mode).save(path)
        return self

    def error_summary(self) -> DataFrame:
        """Aggregate view of the error channel: one row per
        (stage, kind, exc_class) with counts — the triage query every
        dead-letter consumer writes first, here as a partial-agg'd
        groupBy over the exploded ``_errors`` column (the explode is
        map-side; only the tiny (stage, kind, class) triples
        shuffle). Use :meth:`write_errors` for the full row-level
        dead-letter feed.

        After a recorded ``write()`` (see :meth:`write`) the returned
        DataFrame scans the committed output, and sees the files at
        that path as they are when an action runs on it; otherwise it
        runs the compiled plan."""
        df = self._output_df()
        return (
            df.select(F.explode(F.col(ERRORS_COL)).alias("_err"))
            .groupBy(
                F.col("_err.stage").alias("stage"),
                F.col("_err.kind").alias("kind"),
                F.col("_err.exc_class").alias("exc_class"),
            )
            .agg(F.count("*").alias("n_errors"))
        )

    @property
    def count(self) -> int:
        """Items processed across runs, including failed ones."""
        return self._count

    def stop(self) -> None:
        if isinstance(self._source, Source):
            self._source.stop()
        if self._async_pool is not None:
            self._async_pool.stop()

    def shutdown(self) -> None:
        self.stop()
        if self._async_pool is not None:
            self._async_pool.join()
        for s in self._steps:
            if s.kind == "stage":
                try:
                    s.stage.on_end()
                except Exception:
                    pass

    # ------------------------------------------------------------------
    # single-item paths (reference §3.2 / §3.3): pure-local execution of
    # the same kernel code the distributed path runs — parity by
    # construction, no JVM round-trip per item.
    # ------------------------------------------------------------------
    def _local_steps(self):
        steps = []
        for s in self._steps:
            if s.kind != "stage":
                raise ValueError(
                    "process()/process_async() support stage-only pipelines "
                    f"(relational step {s.name!r} present) — use run()"
                )
            steps.append((s.stage, s.policy, s.isolate))
        return steps

    def process(self, item: Item) -> Item:
        out = run_chain_on_items(self._local_steps(), [item], self._error_manager)[0]
        with self._count_lock:
            self._count += 1
        return out

    def process_async(self, item: Item, callback: Optional[Callable] = None) -> None:
        if callback is not None:
            item.set_callback(callback)
        if self._async_pool is None:
            self._async_pool = _AsyncRunner(self)
        self._async_pool.submit(item)

    def get_item(self, block: bool = True, timeout: float | None = None) -> Item:
        if self._async_pool is None:
            raise RuntimeError("process_async was never called")
        return self._async_pool.get(block=block, timeout=timeout)


class _AsyncRunner:
    """Thread-pool executor for process_async: items run through the
    local kernel path concurrently and land in an output queue, with
    per-item completion callbacks (reference ``pipeline.py:385-424``;
    callback/completion ordering is unordered, as in the reference's
    concurrent mode)."""

    def __init__(self, pipeline: Pipeline, workers: int = 8):
        self._pipeline = pipeline
        self._in: _queue.Queue = _queue.Queue()
        self._out: _queue.Queue = _queue.Queue()
        self._stop = threading.Event()
        self._threads = [
            threading.Thread(target=self._loop, daemon=True) for _ in range(workers)
        ]
        for t in self._threads:
            t.start()

    def _loop(self):
        while not self._stop.is_set():
            try:
                item = self._in.get(timeout=0.1)
            except _queue.Empty:
                continue
            try:
                out = self._pipeline.process(item)
            except Exception as exc:
                # raise_on_critical mode: deliver the failure to the
                # consumer instead of silently killing this worker
                self._out.put(exc)
                self._in.task_done()
                continue
            try:
                out.callback()
            finally:
                self._out.put(out)
                self._in.task_done()

    def submit(self, item: Item) -> None:
        self._in.put(item)

    def get(self, block=True, timeout=None) -> Item:
        got = self._out.get(block=block, timeout=timeout)
        if isinstance(got, BaseException):
            raise got
        return got

    def stop(self) -> None:
        self._stop.set()

    def join(self) -> None:
        self._stop.set()
        for t in self._threads:
            t.join(timeout=1.0)
