"""Pipeline contract tests — the reference's dominant invariants
(SURVEY.md §5): set-completeness, per-stage timings, error channel
contents and stage attribution, retry counts/timing envelopes, batch
semantics, count, and local/distributed parity.
"""

import contextlib
import time

import pytest

from smartpipeline_spark import (
    BatchStage,
    ErrorManager,
    Item,
    Pipeline,
    SoftError,
    Stage,
)


class TextReverser(Stage):
    output_fields = {"text": "string"}

    def process(self, item):
        item.data["text"] = item.data["text"][::-1]
        return item


class TextDuplicator(Stage):
    output_fields = {"text_copy": "string"}

    def process(self, item):
        item.data["text_copy"] = item.data["text"]
        return item


class SoftFailEven(Stage):
    def process(self, item):
        if item.data["count"] % 2 == 0:
            raise SoftError("even item")
        return item


class CriticalOnFive(Stage):
    def process(self, item):
        if item.data["count"] % 5 == 0:
            raise ValueError("multiple of five")
        return item


class CustomException(Exception):
    pass


class AlwaysRaise(Stage):
    def __init__(self, exc_class=CustomException):
        self._exc_class = exc_class

    def process(self, item):
        raise self._exc_class("boom")


class BatchReverser(BatchStage):
    output_fields = {"text": "string"}

    def __init__(self, size=10, check_batch_max=None):
        super().__init__(size=size)
        self._check_max = check_batch_max

    def process_batch(self, items):
        if self._check_max is not None:
            assert len(items) <= self._check_max
        for it in items:
            it.data["text"] = it.data["text"][::-1]
        return items


class BatchBoom(BatchStage):
    def __init__(self, size=10):
        super().__init__(size=size)

    def process_batch(self, items):
        if any(it.data["count"] == 42 for it in items):
            raise ValueError("poison")
        return items


def _run(pipe):
    return sorted(pipe.run(), key=lambda it: it.data["count"])


# ---------------------------------------------------------------------------
# set-completeness + enrichment + timings
# ---------------------------------------------------------------------------

def test_set_completeness_and_timings(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("reverser", TextReverser())
        .append("duplicator", TextDuplicator())
    )
    items = _run(pipe)
    # every source item comes out exactly once
    assert sorted(it.data["count"] for it in items) == list(range(1, 101))
    assert pipe.count == 100
    for it in items:
        assert it.data["text_copy"] == it.data["text"]
        # timing present for every traversed stage
        assert sorted(it.timed_stages()) == ["duplicator", "reverser"]
        assert it.get_timing("reverser") >= 0


def test_double_reverse_is_identity(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("r1", TextReverser())
        .append("r2", TextReverser())
    )
    originals = {r["count"]: r["text"] for r in items_df.collect()}
    for it in pipe.run():
        assert it.data["text"] == originals[it.data["count"]]


# ---------------------------------------------------------------------------
# error semantics
# ---------------------------------------------------------------------------

def test_soft_error_skips_stage_only(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("softfail", SoftFailEven())
        .append("duplicator", TextDuplicator())
    )
    items = _run(pipe)
    assert len(items) == 100
    for it in items:
        if it.data["count"] % 2 == 0:
            (err,) = it.soft_errors()
            assert err["stage"] == "softfail"
            assert err["exc_class"] == "SoftError"
        else:
            assert not it.error_entries
        # later stage ran for everyone (soft = skip failing stage only)
        assert it.data["text_copy"] == it.data["text"]


def test_critical_error_skips_rest_but_item_survives(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("critfail", CriticalOnFive())
        .append("duplicator", TextDuplicator())
    )
    items = _run(pipe)
    assert len(items) == 100  # failed items still reach the sink
    for it in items:
        if it.data["count"] % 5 == 0:
            (err,) = it.critical_errors()
            assert err["stage"] == "critfail"
            assert err["exc_class"] == "ValueError"
            assert it.data["text_copy"] is None  # later stage skipped
            assert "duplicator" not in list(it.timed_stages())
        else:
            assert it.data["text_copy"] == it.data["text"]


def test_no_skip_on_critical_mode(spark, items_df):
    em = ErrorManager().no_skip_on_critical_error()
    pipe = (
        Pipeline(spark, error_manager=em)
        .set_source(items_df)
        .append("critfail", CriticalOnFive())
        .append("duplicator", TextDuplicator())
    )
    for it in pipe.run():
        # critical recorded but stages keep running
        assert it.data["text_copy"] == it.data["text"]


def test_raise_on_critical_mode(spark, items_df):
    em = ErrorManager().raise_on_critical_error()
    pipe = (
        Pipeline(spark, error_manager=em)
        .set_source(items_df)
        .append("critfail", CriticalOnFive())
    )
    with pytest.raises(Exception):
        list(pipe.run())


# ---------------------------------------------------------------------------
# retry semantics (reference tests/pipeline/test_pipeline.py:227-436)
# ---------------------------------------------------------------------------

def test_retry_exhaustion_attaches_one_error_per_attempt(spark):
    pipe = Pipeline(spark).append(
        "flaky",
        AlwaysRaise(),
        retryable_errors=(CustomException,),
        max_retries=3,
        backoff=0.0,
    )
    it = pipe.process(Item({"count": 1, "text": "x"}))
    # 4 attempts (1 + 3 retries) -> 4 soft RetryErrors, no critical
    assert len(it.soft_errors()) == 4
    assert not it.has_critical_errors()
    assert all(e["exc_class"] == "CustomException" for e in it.soft_errors())


def test_retry_zero_means_single_attempt(spark):
    pipe = Pipeline(spark).append(
        "flaky", AlwaysRaise(), retryable_errors=(CustomException,), max_retries=0,
        backoff=1.0,
    )
    t0 = time.monotonic()
    it = pipe.process(Item({"count": 1}))
    assert time.monotonic() - t0 < 1.0  # fast fail: no backoff sleep
    assert len(it.soft_errors()) == 1
    assert it.get_timing("flaky") < 1.0


def test_retry_backoff_timing_envelope(spark):
    # 2 retries at backoff=0.2 -> sleeps 0.2 + 0.4 = 0.6s inside timing
    pipe = Pipeline(spark).append(
        "flaky", AlwaysRaise(), retryable_errors=(CustomException,), max_retries=2,
        backoff=0.2,
    )
    it = pipe.process(Item({"count": 1}))
    assert 0.6 <= it.get_timing("flaky") <= 1.2
    assert len(it.soft_errors()) == 3


def test_non_retryable_exception_is_critical_despite_retry_policy(spark):
    pipe = Pipeline(spark).append(
        "flaky", AlwaysRaise(ValueError), retryable_errors=(CustomException,),
        max_retries=3, backoff=0.0,
    )
    it = pipe.process(Item({"count": 1}))
    assert len(it.critical_errors()) == 1
    assert not it.soft_errors()


def test_retry_param_validation(spark):
    pipe = Pipeline(spark)
    with pytest.raises(ValueError):
        pipe.append("a", TextReverser(), max_retries=-1)
    with pytest.raises(ValueError):
        pipe.append("b", TextReverser(), backoff=-0.5)
    with pytest.raises(ValueError):
        pipe.append("c", TextReverser(), retryable_errors=("notaclass",))


def test_unique_stage_names(spark, items_df):
    pipe = Pipeline(spark).set_source(items_df).append("x", TextReverser())
    with pytest.raises(ValueError):
        pipe.append("x", TextDuplicator())


# ---------------------------------------------------------------------------
# batch stages
# ---------------------------------------------------------------------------

def test_batch_stage_results_match_row_stage(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("batchrev", BatchReverser(size=7, check_batch_max=7))
    )
    items = _run(pipe)
    assert len(items) == 100
    originals = {r["count"]: r["text"] for r in items_df.collect()}
    for it in items:
        assert it.data["text"] == originals[it.data["count"]][::-1]
        assert it.get_timing("batchrev") is not None


def test_batch_error_poisons_whole_chunk(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("boom", BatchBoom(size=10))
    )
    items = _run(pipe)
    poisoned = [it for it in items if it.has_critical_errors()]
    # item 42 sits in a chunk of 10; reference semantics poison all of it
    assert len(poisoned) == 10
    assert all(e["stage"] == "boom" for it in poisoned for e in it.critical_errors())


def test_batch_isolate_failures_poisons_only_culprit(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("boom", BatchBoom(size=10), isolate_failures=True)
    )
    items = _run(pipe)
    poisoned = [it for it in items if it.has_critical_errors()]
    assert [it.data["count"] for it in poisoned] == [42]


def test_batch_critical_items_skip_batch_stage(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("critfail", CriticalOnFive())
        .append("batchrev", BatchReverser(size=10))
    )
    originals = {r["count"]: r["text"] for r in items_df.collect()}
    for it in pipe.run():
        if it.data["count"] % 5 == 0:
            assert it.data["text"] == originals[it.data["count"]]  # untouched
        else:
            assert it.data["text"] == originals[it.data["count"]][::-1]


def test_batch_stage_size_validation():
    with pytest.raises(ValueError):
        BatchReverser(size=0)


# ---------------------------------------------------------------------------
# single-item paths + parity
# ---------------------------------------------------------------------------

def test_process_parity_with_distributed_run(spark, items_df):
    def build():
        return (
            Pipeline(spark)
            .set_source(items_df)
            .append("softfail", SoftFailEven())
            .append("critfail", CriticalOnFive())
            .append("duplicator", TextDuplicator())
        )

    dist = {it.data["count"]: it for it in build().run()}
    local_pipe = build()
    for row in items_df.collect():
        local = local_pipe.process(Item(row.asDict()))
        d = dist[row["count"]]
        assert local.data.get("text_copy") == d.data.get("text_copy")
        assert [e["kind"] for e in local.error_entries] == [
            e["kind"] for e in d.error_entries
        ]
        assert sorted(local.timed_stages()) == sorted(d.timed_stages())


def test_process_async_callbacks_and_results(spark):
    pipe = Pipeline(spark).append("reverser", TextReverser())
    seen = []
    for i in range(10):
        pipe.process_async(Item({"count": i, "text": f"t{i}"}), callback=seen.append)
    got = sorted(pipe.get_item(timeout=10).data["count"] for _ in range(10))
    assert got == list(range(10))
    assert len(seen) == 10
    assert pipe.count == 10
    pipe.shutdown()


def test_process_async_surfaces_raise_on_critical(spark):
    em = ErrorManager().raise_on_critical_error()
    pipe = Pipeline(spark, error_manager=em).append("boom", AlwaysRaise(ValueError))
    pipe.process_async(Item({"count": 1}))
    with pytest.raises(ValueError):
        pipe.get_item(timeout=10)
    pipe.shutdown()


def test_count_accumulates_across_runs(spark, items_df):
    pipe = Pipeline(spark).set_source(items_df).append("r", TextReverser())
    list(pipe.run())
    list(pipe.run())
    assert pipe.count == 200


def test_dynamic_payload_tier(spark, items_df):
    """Stages that invent keys at runtime (reference TextDuplicator
    invents random key names) spill them into the _data map tier and
    later stages + the driver see them."""

    class InventKeys(Stage):
        dynamic = True

        def process(self, item):
            item.data[f"dyn_{item.data['count'] % 3}"] = item.data["text"]
            return item

    class ReadDynamic(Stage):
        dynamic = True

        def process(self, item):
            key = f"dyn_{item.data['count'] % 3}"
            item.data["roundtrip_ok"] = str(item.data.get(key) == item.data["text"])
            return item

    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("invent", InventKeys())
        .append("readback", ReadDynamic())
    )
    items = _run(pipe)
    assert len(items) == 100
    for it in items:
        assert it.data["roundtrip_ok"] == "True"
        assert it.data[f"dyn_{it.data['count'] % 3}"] == it.data["text"]


def test_custom_error_manager_subclass(spark):
    """Pluggable ErrorManager: subclasses can classify/route errors
    (the reference docs ship them to Elasticsearch; here we downgrade
    ValueErrors to soft)."""
    from smartpipeline_spark.errors import KIND_SOFT, error_entry

    class Downgrading(ErrorManager):
        def handle(self, error, stage, item):
            if isinstance(error, ValueError):
                return error_entry(stage, KIND_SOFT, error)
            return super().handle(error, stage, item)

    pipe = (
        Pipeline(spark, error_manager=Downgrading())
        .append("boom", AlwaysRaise(ValueError))
        .append("dup", TextDuplicator())
    )
    it = pipe.process(Item({"count": 1, "text": "x"}))
    assert len(it.soft_errors()) == 1 and not it.has_critical_errors()
    assert it.data["text_copy"] == "x"  # later stage still ran


def test_transform_step_relational(spark, items_df):
    from pyspark.sql import functions as F

    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("reverser", TextReverser())
        .transform("only_even", lambda df: df.filter(F.col("count") % 2 == 0))
    )
    items = list(pipe.run())
    assert len(items) == 50
    # relational steps cannot be used with the local single-item path
    with pytest.raises(ValueError):
        pipe.process(Item({"count": 2, "text": "x"}))


def test_run_generator_break_cancels_jobs(spark):
    """Reference behavior: breaking/closing the run() generator tears
    the pipeline down (/root/reference/smartpipeline/pipeline.py:283-286,
    tests/pipeline/test_concurrent.py:784-808). Spark mapping: jobs the
    iterator triggered run in a dedicated job group that is cancelled
    on generator close, so no orphan jobs keep burning the cluster."""
    import time

    from smartpipeline_spark import Pipeline, Stage

    class Slow(Stage):
        def process(self, item):
            time.sleep(0.25)
            return item

    df = spark.createDataFrame([{"id": i} for i in range(64)]).repartition(16)
    pipe = Pipeline(spark).set_source(df).append("slow", Slow())
    gen = pipe.run()
    next(gen)  # at least one partition computed
    gen.close()  # consumer breaks out -> job group cancelled

    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 15
    while time.time() < deadline and tracker.getActiveJobsIds():
        time.sleep(0.2)
    assert not tracker.getActiveJobsIds()


def test_worker_stage_cache_is_per_pipeline(spark):
    """Two pipelines reusing a stage name+class with different ctor
    args must not share executor-side initialized instances."""
    from smartpipeline_spark import Pipeline, Stage

    class Tagger(Stage):
        output_fields = {"tag": "string"}

        def __init__(self, tag):
            self._tag = tag

        def process(self, item):
            item.data["tag"] = self._tag
            return item

    df = spark.createDataFrame([{"id": 1}])
    first = [it.data["tag"] for it in Pipeline(spark).set_source(df).append("t", Tagger("a")).run()]
    second = [it.data["tag"] for it in Pipeline(spark).set_source(df).append("t", Tagger("b")).run()]
    assert first == ["a"] and second == ["b"]


def test_retry_recovery_leaves_item_clean(spark):
    """Reference kernel (runners.py:33-67): a stage that fails then
    succeeds within its retry budget attaches NO RetryErrors — only
    exhaustion does. Recovered items must not land in write_errors."""
    from smartpipeline_spark import Pipeline, Stage

    class FlakyOnce(Stage):
        output_fields = {"ok": "boolean"}

        def __init__(self):
            self._failed = set()

        def process(self, item):
            key = item.data["id"]
            if key not in self._failed:
                self._failed.add(key)
                raise ValueError("transient")
            item.data["ok"] = True
            return item

    df = spark.createDataFrame([{"id": i} for i in range(4)]).coalesce(1)
    out = list(
        Pipeline(spark)
        .set_source(df)
        .append("flaky", FlakyOnce(), retryable_errors=(ValueError,), max_retries=2, backoff=0.0)
        .run()
    )
    assert len(out) == 4
    assert all(it.data["ok"] for it in out)
    assert not any(it.has_soft_errors() for it in out)


def test_append_concurrently_parity_with_append(spark):
    """Reference shape (tests/pipeline/test_concurrent.py): the same
    chain built with append vs append_concurrently (+ concurrency
    knobs) must produce identical items."""
    from smartpipeline_spark import Pipeline, Stage

    class Mark(Stage):
        output_fields = {"mark": "string"}

        def __init__(self, tag="x"):
            self._tag = tag

        def process(self, item):
            item.data["mark"] = f"{self._tag}{item.data['id']}"
            return item

    df = spark.createDataFrame([{"id": i} for i in range(20)])
    plain = sorted(
        it.data["mark"]
        for it in Pipeline(spark).set_source(df).append("m", Mark("a")).run()
    )
    conc = sorted(
        it.data["mark"]
        for it in Pipeline(spark)
        .set_source(df)
        .append_concurrently("m", Mark, kwargs={"tag": "a"}, concurrency=4)
        .run()
    )
    assert plain == conc


def test_source_error_propagates_to_driver(spark):
    """Reference behavior (tests/test_error.py::test_source_errors): an
    exception raised inside the source's pop() surfaces to the caller
    driving the pipeline, not swallowed."""
    import pytest

    from smartpipeline_spark import Item, Pipeline, Source, Stage

    class Exploding(Source):
        def __init__(self):
            super().__init__()
            self._n = 0

        def pop(self):
            self._n += 1
            if self._n > 3:
                raise RuntimeError("source blew up")
            return Item({"id": self._n})

    class Noop(Stage):
        def process(self, item):
            return item

    pipe = Pipeline(spark).set_source(Exploding()).append("noop", Noop())
    with pytest.raises(RuntimeError, match="source blew up"):
        list(pipe.run())


def test_stage_cache_and_memory_profiling(spark):
    """Reference roadmap features, real here: cache=True persists the
    stage's output (repeat consumption skips recompute), and
    profile_memory=True records worker RSS under <name>#rss_kb."""
    from pyspark import StorageLevel

    from smartpipeline_spark import Pipeline, Stage

    class Tag(Stage):
        output_fields = {"tag": "string"}

        def process(self, item):
            item.data["tag"] = f"t{item.data['id']}"
            return item

    df = spark.createDataFrame([{"id": i} for i in range(8)])
    pipe = (
        Pipeline(spark)
        .set_source(df)
        .append("tag", Tag(), cache=True, profile_memory=True)
    )
    out = pipe.dataframe()
    assert out.storageLevel != StorageLevel.NONE

    items = list(pipe.run())
    assert len(items) == 8
    for it in items:
        assert it.get_timing("tag") is not None
        assert it.get_timing("tag#rss_kb") and it.get_timing("tag#rss_kb") > 1000
    out.unpersist()


def test_pipeline_name_unique_and_stable(spark):
    from smartpipeline_spark import Pipeline

    p1, p2 = Pipeline(spark), Pipeline(spark)
    assert p1.name != p2.name
    assert p1.name == p1.name and p1.name.startswith("pipeline-")


def test_map_in_arrow_matches_map_in_pandas(spark):
    """mapInArrow — the zero-copy RecordBatch variant of mapInPandas
    (no pandas conversion per batch; the right surface when the
    kernel is numpy/pyarrow-native). Same transform both ways must
    agree exactly."""
    import pyarrow as pa

    df = spark.range(1000).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")

    def arrow_fn(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            yield pa.RecordBatch.from_arrays(
                [t.column("id").combine_chunks(),
                 pa.compute.add(t.column("v").combine_chunks(), 1.0)],
                names=["id", "v"],
            )

    def pandas_fn(pdfs):
        for pdf in pdfs:
            pdf["v"] = pdf["v"] + 1.0
            yield pdf

    a = {(r.id, r.v) for r in df.mapInArrow(arrow_fn, "id long, v double").collect()}
    b = {(r.id, r.v) for r in df.mapInPandas(pandas_fn, "id long, v double").collect()}
    assert a == b and len(a) == 1000


class LoggingStage(Stage):
    """Stage that logs through ordinary Python logging — the records
    must surface in the DRIVER process logger (reference LogsReceiver
    contract, smartpipeline/utils.py:73-105)."""

    def process(self, item):
        import logging

        logging.getLogger("my.test.stage").warning(
            "processed item %s", item.data["count"]
        )
        return item


def test_stage_logs_ship_to_driver_logger(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark)
        .set_source(items_df.limit(5))
        .append("logger", LoggingStage())
        .build()
    )
    with caplog.at_level(logging.WARNING, logger="my.test.stage"):
        items = list(p.run())
    assert len(items) == 5
    shipped = [r for r in caplog.records if r.name == "my.test.stage"]
    assert len(shipped) == 5, caplog.records
    assert all("processed item" in r.getMessage() for r in shipped)
    # drain is idempotent: a second drain must not re-emit
    n = len(caplog.records)
    p._drain_shipped_logs()
    assert len(caplog.records) == n


def test_log_shipping_disabled_opt_out(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark, ship_logs=False)
        .set_source(items_df.limit(3))
        .append("logger", LoggingStage())
        .build()
    )
    with caplog.at_level(logging.WARNING, logger="my.test.stage"):
        list(p.run())
    assert not [r for r in caplog.records if r.name == "my.test.stage"]


class DebugChattyStage(Stage):
    """Stage whose dependency logs DEBUG chatter — must stay
    worker-side under the default INFO shipping gate."""

    def process(self, item):
        import logging

        logging.getLogger("chatty.dep").debug("noise %s", item.data["count"])
        return item


def test_log_shipping_gates_debug_by_default(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark)
        .set_source(items_df.limit(3))
        .append("chatty", DebugChattyStage())
        .build()
    )
    with caplog.at_level(logging.DEBUG, logger="chatty.dep"):
        list(p.run())
    assert not [r for r in caplog.records if r.name == "chatty.dep"]


def test_log_shipping_debug_opt_in(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark, ship_logs=logging.DEBUG)
        .set_source(items_df.limit(3))
        .append("chatty", DebugChattyStage())
        .build()
    )
    with caplog.at_level(logging.DEBUG, logger="chatty.dep"):
        list(p.run())
    shipped = [r for r in caplog.records if r.name == "chatty.dep"]
    assert len(shipped) == 3, caplog.records


def test_log_capture_per_task_cap():
    import logging

    from smartpipeline_spark.wrapper import _LogCapture

    cap = _LogCapture()
    cap.MAX_RECORDS = 5  # instance shadow of the class cap
    for i in range(8):
        cap.emit(
            logging.LogRecord(
                "user.stage", logging.INFO, __file__, 1, "m%d", (i,), None
            )
        )
    out = cap.drain()
    assert len(out) == 6  # 5 kept + 1 truncation marker
    assert "3 records over" in out[-1][2]
    # post-drain the counter stays exhausted (per-task, not per-batch):
    # a further record is dropped and reported, never re-admitted
    cap.emit(
        logging.LogRecord("user.stage", logging.INFO, __file__, 1, "x", (), None)
    )
    tail = cap.drain()
    assert len(tail) == 1 and "1 records over" in tail[0][2]


def test_error_summary_aggregates_the_error_channel(spark, items_df):
    p = (
        Pipeline(spark)
        .set_source(items_df)
        .append("soft", SoftFailEven())
        .append("crit", CriticalOnFive())
        .build()
    )
    rows = {(r.stage, r.kind, r.exc_class): r.n_errors for r in p.error_summary().collect()}
    # 100 items: 50 even -> SoftError at "soft"; criticals at "crit"
    # for count % 5 == 0 AND odd (evens skip later stages? no — soft
    # errors only skip the failing stage), so count%5==0 -> 20 items
    assert rows[("soft", "soft", "SoftError")] == 50
    assert rows[("crit", "critical", "ValueError")] == 20
    assert sum(rows.values()) == 70


# ---------------------------------------------------------------------------
# write_errors()/error_summary() after write() read its committed output;
# build() and run() leave the caller's Spark state alone
# ---------------------------------------------------------------------------

class CoinFlipSoft(Stage):
    """Non-deterministic: a second pass over the same item disagrees
    with the first about half of the time."""

    def process(self, item):
        import random

        if random.random() < 0.5:
            raise SoftError("coin flip")
        return item


class CountCalls(Stage):
    """Leaves one file in ``calls_dir`` per process() call. (An
    accumulator held by the stage would miss updates: each Python
    worker keeps the instance of its first task.)"""

    def __init__(self, calls_dir):
        self._dir = calls_dir

    def process(self, item):
        import os
        import uuid

        open(os.path.join(self._dir, uuid.uuid4().hex), "w").close()
        return item


def _calls(calls_dir):
    import os

    return len(os.listdir(calls_dir))


def _summary_total(pipe):
    return sum(r.n_errors for r in pipe.error_summary().collect())


@pytest.mark.parametrize("mode", ["overwrite", "error"])
def test_actions_after_write_agree_with_the_written_rows(spark, tmp_path, mode):
    df = spark.createDataFrame([{"id": i} for i in range(200)])
    pipe = Pipeline(spark).set_source(df).append("flip", CoinFlipSoft()).build()
    pipe.write(str(tmp_path / "out"), mode=mode)
    pipe.write_errors(str(tmp_path / "dead"))
    written = spark.read.parquet(str(tmp_path / "out"))
    failed = {r.id for r in written.filter("size(_errors) > 0").collect()}
    dead = {r.id for r in spark.read.parquet(str(tmp_path / "dead")).collect()}
    assert 0 < len(failed) < 200
    assert dead == failed
    assert _summary_total(pipe) == pipe.last_metrics["error_items"] == len(failed)


def test_write_runs_each_item_through_the_stages_once(spark, items_df, tmp_path):
    calls = tmp_path / "calls"
    calls.mkdir()
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("count", CountCalls(str(calls)))
        .append("soft", SoftFailEven())
        .build()
    )
    pipe.write(str(tmp_path / "out"))
    pipe.write_errors(str(tmp_path / "dead"))
    assert _summary_total(pipe) == 50
    assert _calls(calls) == 100
    assert len(list(pipe.run())) == 100  # run() always runs the plan
    assert _calls(calls) == 200


@pytest.mark.parametrize(
    "fmt, mode", [("json", "overwrite"), ("noop", "overwrite"), ("parquet", "append"),
                  ("parquet", "ignore")],
)
def test_other_formats_and_modes_recompute(spark, items_df, tmp_path, fmt, mode):
    calls = tmp_path / "calls"
    calls.mkdir()
    out = str(tmp_path / "out")
    if mode != "overwrite":
        # a prior output at the path: append adds to it, ignore keeps it
        Pipeline(spark).set_source(items_df).append("crit", CriticalOnFive()).write(out)
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("count", CountCalls(str(calls)))
        .append("soft", SoftFailEven())
        .build()
    )
    pipe.write(out, fmt=fmt, mode=mode)
    written = 0 if mode == "ignore" else 100  # ignore leaves `out` alone
    assert _calls(calls) == written
    pipe.write_errors(str(tmp_path / "dead"))
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert sorted(r["count"] for r in dead.collect()) == list(range(2, 101, 2))
    assert {r.error_stage for r in dead.collect()} == {"soft"}
    rows = {(r.stage, r.kind): r.n_errors for r in pipe.error_summary().collect()}
    assert rows == {("soft", "soft"): 50}
    assert len(list(pipe.run())) == 100
    assert _calls(calls) == written + 300


def test_rebuild_after_write_drops_the_committed_output(spark, items_df, tmp_path):
    calls = tmp_path / "calls"
    calls.mkdir()
    out = str(tmp_path / "out")
    pipe = Pipeline(spark).set_source(items_df).append("count", CountCalls(str(calls)))
    pipe.write(out)
    pipe.write(out)  # overwrites from the compiled plan, not from `out`
    assert spark.read.parquet(out).count() == 100
    assert _calls(calls) == 200
    pipe.build()
    assert len(list(pipe.run())) == 100
    assert _calls(calls) == 300
    pipe.write(out)
    pipe.append("dup", TextDuplicator())
    items = list(pipe.run())
    assert all(it.data["text_copy"] == it.data["text"] for it in items)
    pipe.write(out)
    pipe.transform("odd", lambda d: d.filter(d["count"] % 2 == 1))
    assert len(list(pipe.run())) == 50
    pipe.write(out)
    pipe.set_source(items_df.limit(10))
    assert len(list(pipe.run())) == 5


@pytest.mark.parametrize(
    "dead_of", [lambda out: out, lambda out: out + "/", lambda out: "file:" + out,
                lambda out: out.rsplit("/", 1)[0], lambda out: out + "/dead"],
    ids=["same", "trailing-slash", "file-scheme", "parent", "child"],
)
def test_write_errors_over_the_committed_output(spark, items_df, tmp_path, dead_of):
    out = str(tmp_path / "base" / "out")
    dead = dead_of(out)
    pipe = Pipeline(spark).set_source(items_df).append("soft", SoftFailEven())
    pipe.write(out)
    pipe.write_errors(dead)  # recomputes: it overwrites what it would read
    assert spark.read.parquet(dead).count() == 50
    assert _summary_total(pipe) == 50


def test_failed_error_mode_write_leaves_no_record(spark, items_df, tmp_path):
    from pyspark.errors import AnalysisException

    calls = tmp_path / "calls"
    calls.mkdir()
    out = str(tmp_path / "out")
    Pipeline(spark).set_source(items_df).append("crit", CriticalOnFive()).write(out)
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("count", CountCalls(str(calls)))
        .append("soft", SoftFailEven())
        .build()
    )
    with pytest.raises(AnalysisException):
        pipe.write(out, mode="error")
    before = _calls(calls)
    pipe.write_errors(str(tmp_path / "dead"))
    assert _calls(calls) == before + 100  # recomputed, `out` is not this build's
    dead = spark.read.parquet(str(tmp_path / "dead")).collect()
    assert {(r.error_stage, r.error_kind) for r in dead} == {("soft", "soft")}
    assert len(dead) == 50


def test_run_after_write_keeps_the_plans_order(spark, tmp_path):
    # later counts carry longer texts, so the sorted output's four files
    # grow with the sort key; Spark reads files back largest first
    df = spark.createDataFrame([{"count": i, "text": "x" * i} for i in range(1, 401)])
    pipe = (
        Pipeline(spark)
        .set_source(df.repartition(4))
        .append("r", TextReverser())
        .transform(
            "sort",
            lambda d: d.repartitionByRange(4, "count").sortWithinPartitions("count"),
        )
        .build()
    )
    pipe.write(str(tmp_path / "out"))
    pipe.write_errors(str(tmp_path / "dead"))
    assert [it.data["count"] for it in pipe.run()] == list(range(1, 401))


class RichDynamic(Stage):
    dynamic = True
    output_fields = {"label": "string"}

    def process(self, item):
        item.data["label"] = f"n{item.data['id']}"
        item.data[f"dyn_{item.data['id'] % 3}"] = str(item.data["id"])
        if item.data["id"] % 2:
            raise SoftError(f"odd {item.data['id']}")
        return item


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_read_back_round_trips_the_compiled_items(spark, tmp_path, fmt):
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import Row

    rows = [
        Row(
            id=i,
            ts=dt.datetime(2024, 1, 1, 12, 0, 0, 123456) + dt.timedelta(seconds=i),
            amount=Decimal(f"{i}.25"),
            tags=[f"t{i}", None],
            attrs={"k": i * 1.5},
            point=Row(x=i, y=f"p{i}"),
        )
        for i in range(20)
    ]
    schema = ("id long, ts timestamp, amount decimal(12,2), tags array<string>, "
              "attrs map<string,double>, point struct<x:int,y:string>")
    df = spark.createDataFrame(rows, schema)
    pipe = Pipeline(spark).set_source(df).append("rich", RichDynamic()).build()

    def dead_letters(name):
        pipe.write_errors(str(tmp_path / name))
        return sorted(spark.read.parquet(str(tmp_path / name)).collect(), key=lambda r: r.id)

    def summary():
        return sorted(tuple(r) for r in pipe.error_summary().collect())

    compiled, compiled_summary = dead_letters("dead_compiled"), summary()
    pipe.write(str(tmp_path / "out"), fmt=fmt)
    assert dead_letters("dead_read_back") == compiled
    assert summary() == compiled_summary == [("rich", "soft", "SoftError", 10)]
    assert compiled[1]["_data"] == {"dyn_0": "3"} and compiled[1]["point"] == Row(x=3, y="p3")


@contextlib.contextmanager
def _job_group(sc, group, description):
    """The caller's job group for the block; cleared afterwards so it
    does not leak into later tests on the shared session."""
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

def test_build_probes_no_partitions_when_it_cannot_widen(spark, items_df):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("r", TextReverser())
        .transform("keep", lambda d: d.filter(F.col("count") > 3))
        .append("b", BatchReverser(size=10))
    )
    with _job_group(sc, "build-probe", "build()"):
        pipe.build()
    assert sc.statusTracker().getJobIdsForGroup("build-probe") == []


def test_run_keeps_the_callers_job_group(spark, items_df):
    sc = spark.sparkContext
    pipe = Pipeline(spark).set_source(items_df).append("r", TextReverser()).build()
    with _job_group(sc, "caller", "caller's jobs"):
        assert len(list(pipe.run())) == 100
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        gen = pipe.run()
        next(gen)
        gen.close()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's jobs"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "false"
        assert not set(sc.getJobTags())
        # run()'s jobs ran inside the caller's group
        assert sc.statusTracker().getJobIdsForGroup("caller")
