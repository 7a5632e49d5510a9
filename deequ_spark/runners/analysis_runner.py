"""AnalysisRunner — fuses many analyzers into minimal Spark work.

Reference parity:
/root/reference/src/main/scala/com/amazon/deequ/analyzers/runners/
AnalysisRunner.scala:101-247 (orchestration), :342-387 (scan fusion with
offsets), :582-605 (grouping fusion), :122-134 (metric reuse from
repository), :389-416 (column pruning before agg).

Execution contract (the engine's scale story):
  * N scan-shareable analyzers  → exactly ONE ``df.agg(...)`` job = one
    pass over the data, regardless of N.
  * One planner for every grouping consumer: grouping analyzers and plain
    Histograms are grouped by the frequency table they read, so each
    (columns, where) table costs ONE corpus GROUP BY however many
    consumers read it. The grouping analyzers' second stages fuse into a
    single action (num_rows is recovered as SUM(absolute) in the same
    aggregation, vs two jobs in the reference); each Histogram reads a
    view of the same table. A table is persisted only when more than one
    job reads it, and released afterwards.
  * One fallback: if the shared work on a table fails, each of its
    consumers recomputes on its own (``compute_state_from`` +
    ``compute_metric_from_state``).
  * Column pruning: the fused scan selects only referenced columns so
    parquet/DSv2 scans read a narrow projection.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..analyzers.base import Analyzer, ScanShareableAnalyzer, State
from ..analyzers.grouping import (COUNT_COL, NULL_FIELD_REPLACEMENT,
                                  FrequenciesAndNumRows,
                                  FrequencyBasedAnalyzer, Histogram,
                                  ScanShareableFrequencyBasedAnalyzer,
                                  exclude_all_null_groups, frequencies_plan,
                                  frequencies_plan_all)
from ..compat import CamelCaseMixin, PyDeequCompatMeta
from ..metrics import DoubleMetric, Metric


@dataclass
class AnalyzerContext:
    """Computed metrics per analyzer (parity: AnalyzerContext.scala)."""

    metric_map: Dict[Analyzer, Metric] = field(default_factory=dict)

    def all_metrics(self) -> List[Metric]:
        return list(self.metric_map.values())

    def metric(self, analyzer: Analyzer) -> Optional[Metric]:
        return self.metric_map.get(analyzer)

    def __add__(self, other: "AnalyzerContext") -> "AnalyzerContext":
        merged = dict(self.metric_map)
        merged.update(other.metric_map)
        return AnalyzerContext(merged)

    def _simplified_rows(self, for_analyzers=None):
        """Flattened (entity, instance, name, value) rows with the metric
        name decorated by the analyzer's filter, exactly as the reference
        renders them (AnalyzerContext.scala:78-127: FilterableAnalyzer →
        'Name (where: cond)')."""
        rows = []
        for analyzer, metric in self.metric_map.items():
            if for_analyzers and analyzer not in for_analyzers:
                continue
            where = getattr(analyzer, "where", None)
            flattened = getattr(metric, "flattened", None)
            for m in (flattened if flattened is not None else [metric]):
                # flattened metrics are DoubleMetrics by contract; a
                # custom Metric subclass without a `flattened` property
                # and a non-numeric payload is skipped, not crashed on
                if m.is_success and isinstance(m.value, (int, float)) \
                        and not isinstance(m.value, bool):
                    name = (f"{m.name} (where: {where})" if where is not None
                            else m.name)
                    rows.append((m.entity.value, m.instance, name,
                                 float(m.value)))
        return rows

    def success_metrics_as_json(self, for_analyzers=None) -> str:
        return json.dumps([
            {"entity": e, "instance": i, "name": n, "value": v}
            for e, i, n, v in self._simplified_rows(for_analyzers)])

    def success_metrics_as_dataframe(self, spark: SparkSession,
                                     for_analyzers: Optional[Sequence[Analyzer]] = None
                                     ) -> DataFrame:
        return spark.createDataFrame(
            self._simplified_rows(for_analyzers),
            "entity string, instance string, name string, value double")


def _dedup(analyzers: Sequence[Analyzer]) -> List[Analyzer]:
    seen, out = set(), []
    for a in analyzers:
        if a not in seen:
            seen.add(a)
            out.append(a)
    return out


class _LockingStateProvider:
    """Serializes persist/load against a wrapped StateProvider: the
    runner's execution groups save DISJOINT analyzer keys, but provider
    internals (one backing dict, one filesystem directory) are shared
    and make no thread-safety promise of their own."""

    def __init__(self, inner):
        import threading
        self._inner = inner
        self._lock = threading.Lock()

    def persist(self, analyzer, state) -> None:
        with self._lock:
            self._inner.persist(analyzer, state)

    def load(self, analyzer):
        with self._lock:
            return self._inner.load(analyzer)


def _run_task_groups(data: DataFrame, tasks: List[Any]) -> AnalyzerContext:
    """Execute the runner's independent per-group actions, overlapped.

    Each task is one self-contained Spark action chain over a disjoint
    analyzer set (fused scan / KLL pass / one frequency table / one
    standalone analyzer). With ≥2 tasks they are submitted from a small
    thread pool so one group's tasks back-fill executors idled by
    another group's straggler tail (guide §2.6 — actions are only
    sequential because the driver calls them sequentially); results
    merge in SUBMISSION order, so the metric map is identical to a
    sequential run, value for value and key-order included.
    ``spark.deequ.runner.maxConcurrentGroups`` (default 3, guide §2.6:
    "2-3 jobs in flight is plenty") bounds in-flight actions; ≤1 runs
    sequentially in the calling thread. Pool threads run under
    ``inheritable_thread_target`` so the caller's job group / job
    description / other thread-local properties propagate to the jobs
    the tasks submit (and cancellation via job group still reaches
    them)."""
    results = AnalyzerContext()
    max_conc = 3
    try:
        max_conc = int(data.sparkSession.conf.get(
            "spark.deequ.runner.maxConcurrentGroups", "3"))
    except Exception:  # noqa: BLE001 — conf unreadable → default
        pass
    if len(tasks) <= 1 or max_conc <= 1:
        for t in tasks:
            results += t()
        return results
    from concurrent.futures import ThreadPoolExecutor

    try:
        from pyspark import inheritable_thread_target
        # session form (Spark 3.5+/4.x): inherits job group, job
        # description AND session tags into the pool threads
        deco = inheritable_thread_target(data.sparkSession)
        wrapped = [deco(t) for t in tasks]
    except Exception:  # noqa: BLE001 — utility unavailable → plain tasks
        wrapped = tasks
    with ThreadPoolExecutor(max_workers=min(max_conc, len(tasks))) as pool:
        futures = [pool.submit(t) for t in wrapped]
        try:
            for fut in futures:
                results += fut.result()
        except BaseException:
            # first failure cancels every not-yet-started task so later
            # groups cannot persist states after the run has raised —
            # the closest a pool gets to sequential mode's
            # stop-at-first-failure (in-flight tasks still drain)
            for f in futures:
                f.cancel()
            raise
    return results


def do_analysis_run(data: DataFrame,
                    analyzers: Sequence[Analyzer],
                    metrics_repository=None,
                    reuse_existing_results_for_key=None,
                    save_or_append_results_with_key=None,
                    save_states_with=None,
                    aggregate_with=None,
                    fail_if_results_missing: bool = False,
                    keep_state_cache: bool = False) -> AnalyzerContext:
    """Compute all metrics with minimal passes (parity:
    AnalysisRunner.scala:101-247). Reuse and save are SEPARATE keys (as in
    the reference): passing a reuse key never writes back — otherwise a
    transient failure metric would poison the repository for that key.

    ``aggregate_with`` (parity: AnalysisRunner aggregateWith) is a state
    loader holding PRIOR states: the data (typically a delta partition) is
    scanned once with the usual fusion, its states are merged with the
    prior ones, and metrics come from the merged states — the incremental
    pattern (IncrementalAnalysisTest.scala:30-105). ``save_states_with``
    then persists the MERGED states, so consecutive deltas chain. Both
    may be ONE FileSystemStateProvider constructed with
    ``allow_overwrite=True`` (the default, HdfsStateProvider parity,
    refuses overwrites): each metric is computed while the prior state
    is still readable, and the merged state is written beside it and
    swapped in only once complete.

    ``keep_state_cache=True`` (r12 perf) leaves DataFrame-valued states
    (grouping frequency tables) CACHED when they are saved into
    ``save_states_with`` — the caller owns the cache and must unpersist
    via the state's ``frequencies`` once merged/consumed. Without it a
    saved frequency state is a lazy plan whose every later merge
    re-runs the batch groupBy (measured: the streaming path paid the
    shuffle twice per micro-batch). Default False keeps the no-leak
    contract for everyone else."""
    analyzers = _dedup(analyzers)
    if not analyzers:
        return AnalyzerContext()

    if aggregate_with is not None:
        from ..states import InMemoryStateProvider
        delta_states = InMemoryStateProvider()
        do_analysis_run(data, analyzers, save_states_with=delta_states)
        ctx = run_on_aggregated_states(
            data, analyzers, [aggregate_with, delta_states],
            save_states_with=save_states_with)
        if metrics_repository is not None and save_or_append_results_with_key is not None:
            metrics_repository.save(save_or_append_results_with_key, ctx)
        return ctx

    # 1. reuse SUCCESSFUL metrics already in the repository (:122-134)
    results = AnalyzerContext()
    to_run: List[Analyzer] = []
    if metrics_repository is not None and reuse_existing_results_for_key is not None:
        existing = metrics_repository.load_by_key(reuse_existing_results_for_key)
        existing_map = existing.metric_map if existing else {}
        for a in analyzers:
            if a in existing_map and existing_map[a].is_success:
                results.metric_map[a] = existing_map[a]
            else:
                to_run.append(a)
    else:
        to_run = list(analyzers)

    # 1b. strict-reuse mode: the caller asserted every metric is already in
    # the repository (parity: VerificationRunBuilder.scala:195-205,
    # ReusingNotPossibleResultsMissingException)
    if fail_if_results_missing and to_run:
        missing = ", ".join(str(a) for a in to_run)
        raise ValueError(
            "fail_if_results_missing is set but these analyzers have no "
            f"stored metrics for the reuse key: {missing}")

    # 2. preconditions → failure metrics without running (:143-152)
    passed: List[Analyzer] = []
    schema = data.schema
    for a in to_run:
        try:
            for check in a.preconditions():
                check(schema)
            passed.append(a)
        except Exception as exc:  # noqa: BLE001
            results.metric_map[a] = a.to_failure_metric(exc)

    # 3. partition by execution strategy (:154-160)
    from ..analyzers.kll import KLLSketch, compute_kll_states
    scanning = [a for a in passed if isinstance(a, ScanShareableAnalyzer)]
    grouping = [a for a in passed
                if isinstance(a, FrequencyBasedAnalyzer)
                and not isinstance(a, Histogram)]
    klls = [a for a in passed if isinstance(a, KLLSketch)]
    others = [a for a in passed
              if a not in scanning and a not in grouping and a not in klls]

    # 4. plan the frequency tables: grouping analyzers by (columns,
    # where) — first, so tables keep the reference's bucket order — then
    # every plain Histogram onto the table of its (column, where). A
    # float/double (or unresolved) column gets a table of its own:
    # groupBy normalizes -0.0→0.0 and NaN bit patterns BEFORE any cast,
    # the Histogram's string-cast groupBy does not. A Histogram with a
    # binning UDF or sum_column groups another expression and runs
    # standalone; so does every Histogram under a state provider, which
    # keeps a bucket's saved state the very frame it cached (the frame
    # keep_state_cache hands to the caller).
    dtypes = {f.name: f.dataType.typeName() for f in schema.fields}
    tables: Dict[Tuple, List[Analyzer]] = {}
    for a in grouping:
        key = (tuple(sorted(a.grouping_columns)),
               getattr(a, "where", None), False)
        tables.setdefault(key, []).append(a)
    standalone: List[Analyzer] = []
    for a in others:
        if (type(a) is Histogram and a.binning_udf is None
                and a.sum_column is None and save_states_with is None):
            own_table = dtypes.get(a.column) in (None, "float", "double")
            tables.setdefault(((a.column,), a.where, own_table),
                              []).append(a)
        else:
            standalone.append(a)

    def run_klls() -> AnalyzerContext:
        # ONE extra Arrow pass for ALL KLL columns combined
        # (parity: KLLRunner.computeKLLSketchesInExtraPass, :162-167)
        ctx = AnalyzerContext()
        try:
            kll_states = compute_kll_states(data, klls)
            for a in klls:
                state = kll_states.get(a)
                if save_states_with is not None and state is not None:
                    save_states_with.persist(a, state)
                ctx.metric_map[a] = a.compute_metric_from_state(state)
        except Exception as exc:  # noqa: BLE001
            for a in klls:
                ctx.metric_map[a] = a.to_failure_metric(exc)
        return ctx

    # 5. the fused scan, the shared KLL Arrow pass, each frequency table
    # and each standalone analyzer are INDEPENDENT Spark actions over the
    # same immutable input; they run from a small thread pool
    # (_run_task_groups), each task over a DISJOINT set of analyzers.
    # State providers make no thread-safety promise, so concurrent tasks
    # persist through one lock.
    if save_states_with is not None:
        save_states_with = _LockingStateProvider(save_states_with)

    tasks: List[Any] = []
    if scanning:
        tasks.append(lambda: _run_scanning_analyzers(
            data, scanning, save_states_with))
    if klls:
        tasks.append(run_klls)
    for consumers in tables.values():
        tasks.append(lambda c=consumers: _run_frequency_table(
            data, c, save_states_with, keep_state_cache))
    for a in standalone:
        tasks.append(lambda a=a: AnalyzerContext(
            {a: _standalone_metric(data, a, save_states_with)}))
    task_results = _run_task_groups(data, tasks)

    # 6. emit in the canonical order — scan, KLL, each bucket's
    # shareable then non-shareable analyzers, then every other analyzer
    # as given — whichever task computed a metric
    order = scanning + klls
    for consumers in tables.values():
        order += sorted([a for a in consumers
                         if not isinstance(a, Histogram)],
                        key=lambda a: not isinstance(
                            a, ScanShareableFrequencyBasedAnalyzer))
    for a in order + others:
        results.metric_map[a] = task_results.metric_map[a]

    # 7. store newly computed metrics ONLY under an explicit save key
    if metrics_repository is not None and save_or_append_results_with_key is not None:
        metrics_repository.save(save_or_append_results_with_key, results)

    return results


def _run_scanning_analyzers(data: DataFrame,
                            analyzers: List[ScanShareableAnalyzer],
                            save_states_with=None) -> AnalyzerContext:
    """ONE ``df.agg(...)`` for all analyzers (AnalysisRunner.scala:342-387)."""
    ctx = AnalyzerContext()

    # column pruning before agg (:389-416) — helps DSv2 scan planning and
    # keeps the parquet ReadSchema narrow
    referenced: Optional[set] = set()
    for a in analyzers:
        cols = a.columns_referenced()
        if cols is None:
            referenced = None
            break
        referenced.update(cols)
    pruned = data
    if referenced is not None and referenced and len(referenced) < len(data.columns):
        # backtick names so a literal dot/space in a column name is not
        # parsed as nested-field access
        pruned = data.select(
            *[F.col(f"`{c}`") for c in sorted(referenced)])

    aggregations = []
    offsets: List[int] = []
    current = 0
    runnable: List[ScanShareableAnalyzer] = []
    for a in analyzers:
        try:
            aggs = a.aggregation_functions()
        except Exception as exc:  # noqa: BLE001
            # Parity AnalysisTest.scala:342-365: a failure while BUILDING
            # the fused aggregation fails every analyzer in the scan group
            # (the expressions were to be computed in one shared pass)
            for other in analyzers:
                ctx.metric_map[other] = other.to_failure_metric(exc)
            return ctx
        aggregations.extend(aggs)
        offsets.append(current)
        current += len(aggs)
        runnable.append(a)

    if not runnable:
        return ctx

    try:
        result = pruned.agg(*aggregations).collect()[0]
    except Exception:  # noqa: BLE001
        # one analyzer's invalid expression (e.g. bad `where` SQL, parsed
        # lazily at agg time) must not poison the whole fused pass —
        # isolate by running each analyzer alone
        for a in runnable:
            ctx.metric_map[a] = _standalone_metric(pruned, a,
                                                   save_states_with)
        return ctx
    for a, offset in zip(runnable, offsets):
        try:
            state = a.from_aggregation_result(result, offset)
            if save_states_with is not None and state is not None:
                save_states_with.persist(a, state)
            ctx.metric_map[a] = a.compute_metric_from_state(state)
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[a] = a.to_failure_metric(exc)
    return ctx


def _standalone_metric(data: DataFrame, a: Analyzer,
                       save_states_with=None) -> Metric:
    """One analyzer on its own: its state, saved if asked, then its
    metric. Any error becomes its Failure metric. This is the runner's
    one fallback as well as the standalone path."""
    try:
        state = a.compute_state_from(data)
        if save_states_with is not None and state is not None:
            save_states_with.persist(a, state)
        return a.compute_metric_from_state(state)
    except Exception as exc:  # noqa: BLE001
        return a.to_failure_metric(exc)


def _frequency_table(data: DataFrame, bucket: List[FrequencyBasedAnalyzer],
                     hists: List[Histogram]) -> DataFrame:
    """The one corpus GROUP BY a table's consumers share.

    Grouping analyzers alone read :func:`frequencies_plan`. With
    Histograms beside them the table is the null-INCLUSIVE raw GROUP BY:
    the grouping analyzers read it minus the all-null-key group, each
    Histogram its string-cast re-aggregation (:func:`_histogram_view`).
    Histograms alone read their own string-cast table."""
    if not bucket:
        return hists[0].compute_state_from(data).frequencies
    plan = frequencies_plan_all if hists else frequencies_plan
    return plan(data, bucket[0].grouping_columns,
                getattr(bucket[0], "where", None))


def _histogram_view(raw: DataFrame, h: Histogram) -> DataFrame:
    """``h``'s table from a raw frequency table on its column:
    coalesce(cast(key AS string), NullValue), regrouped, counts summed —
    a post-shuffle exchange over distinct values, not a corpus pass. The
    cast is per-value deterministic, so the sums equal the counts of a
    corpus-level string-cast GROUP BY."""
    plain = h._plain_column
    return (raw.select(F.coalesce(F.col(f"`{plain}`").cast("string"),
                                  F.lit(NULL_FIELD_REPLACEMENT)).alias(plain),
                       F.col(COUNT_COL))
            .groupBy(F.col(f"`{plain}`"))
            .agg(F.sum(COUNT_COL).cast("long").alias(COUNT_COL)))


def _run_frequency_table(data: DataFrame, consumers: List[Analyzer],
                         save_states_with=None,
                         keep_state_cache: bool = False) -> AnalyzerContext:
    """Every consumer of one frequency table: one corpus GROUP BY, the
    grouping analyzers' fused second stage (AnalysisRunner.scala:560-628)
    and each Histogram's two jobs all read it."""
    ctx = AnalyzerContext()
    hists = [a for a in consumers if isinstance(a, Histogram)]
    bucket = [a for a in consumers if not isinstance(a, Histogram)]
    # fused second stage: SUM(absolute) at offset 0 recovers num_rows in
    # the SAME action as every analyzer's aggregates
    aggregations = [F.sum(F.col(COUNT_COL)).cast("long")]
    offsets: Dict[Analyzer, int] = {}
    try:
        for a in bucket:
            if isinstance(a, ScanShareableFrequencyBasedAnalyzer):
                offsets[a] = len(aggregations)
                aggregations.extend(a.aggregation_functions())
    except Exception as exc:  # noqa: BLE001
        # Parity AnalysisTest.scala:398-427: failure while building the
        # fused second stage fails every analyzer sharing the GROUP BY;
        # the Histograms do not share it and keep their table
        for a in bucket:
            ctx.metric_map[a] = a.to_failure_metric(exc)
        bucket = []
    if not bucket and not hists:
        return ctx
    # persist the (small, post-shuffle) table only when more than one job
    # reads it: the fused pass, each other grouping analyzer, each
    # Histogram, a saved state (parity :576-578, 626)
    readers = (bool(bucket) + sum(a not in offsets for a in bucket)
               + len(hists) + (save_states_with is not None))
    cached = None
    try:
        table = _frequency_table(data, bucket, hists)
        if readers > 1:
            table = cached = table.persist(StorageLevel.MEMORY_AND_DISK)
        if bucket:
            view = (exclude_all_null_groups(table, bucket[0].grouping_columns)
                    if hists else table)
            result = view.agg(*aggregations).collect()[0]
    except Exception:  # noqa: BLE001
        # the one fallback (e.g. bad `where`/column, parsed lazily)
        if cached is not None:
            cached.unpersist()
        for a in bucket + hists:
            ctx.metric_map[a] = _standalone_metric(data, a, save_states_with)
        return ctx

    if bucket:
        num_rows = int(result[0] or 0)
        state = FrequenciesAndNumRows(view, num_rows)
        for a in bucket:
            try:
                if save_states_with is not None:
                    save_states_with.persist(a, state)
                ctx.metric_map[a] = (
                    a.metric_from_aggregation_result(result, offsets[a],
                                                     num_rows)
                    if a in offsets else a.compute_metric_from_state(state))
            except Exception as exc:  # noqa: BLE001
                ctx.metric_map[a] = a.to_failure_metric(exc)
    for h in hists:
        try:
            freqs = _histogram_view(table, h) if bucket else table
            ctx.metric_map[h] = h.compute_metric_from_state(
                FrequenciesAndNumRows(freqs))
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[h] = h.to_failure_metric(exc)

    # keep_state_cache: the SAVED state keeps its materialized
    # frequency table — the caller (streaming merge) reads it once more
    # and unpersists; dropping it here would make every later state
    # merge re-run the groupBy shuffle
    if cached is not None and not (keep_state_cache
                                   and save_states_with is not None):
        cached.unpersist()
    return ctx


def run_on_aggregated_states(schema_source: DataFrame,
                             analyzers: Sequence[Analyzer],
                             state_loaders: Sequence[Any],
                             save_states_with=None) -> AnalyzerContext:
    """Compute metrics purely from merged persisted states — no data scan
    (parity: AnalysisRunner.scala:466-541, runOnAggregatedStates).
    ``save_states_with`` persists the merged states (saveStatesWith)."""
    ctx = AnalyzerContext()
    for a in _dedup(analyzers):
        merged: Optional[State] = None
        try:
            for loader in state_loaders:
                state = loader.load(a)
                if state is not None:
                    merged = state if merged is None else merged.merge(state)
            # the metric first: a provider that is also a loader may
            # replace the very files the merged state still reads lazily
            metric = a.compute_metric_from_state(merged)
            if save_states_with is not None and merged is not None:
                save_states_with.persist(a, merged)
            ctx.metric_map[a] = metric
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[a] = a.to_failure_metric(exc)
    return ctx


class AnalysisRunBuilder(CamelCaseMixin):
    """Fluent analysis entry point (parity: runners/AnalysisRunBuilder.scala
    + AnalysisRunner.scala onData). Adding the SAME analyzer twice is an
    error, matching the reference builder's require (AnalysisRunnerTests
    "should give error for duplicate analyzers"); distinct where-filtered
    variants of one analyzer coexist fine."""

    def __init__(self, data: DataFrame):
        self._data = data
        self._analyzers: List[Analyzer] = []
        self._repository = None
        self._reuse_key = None
        self._save_key = None
        self._fail_if_results_missing = False
        self._state_provider = None

    def add_analyzer(self, analyzer: Analyzer) -> "AnalysisRunBuilder":
        if analyzer in self._analyzers:
            raise ValueError(f"Analyzer {analyzer} can only be added once")
        self._analyzers.append(analyzer)
        return self

    def add_analyzers(self, analyzers: Sequence[Analyzer]) -> "AnalysisRunBuilder":
        for a in analyzers:
            self.add_analyzer(a)
        return self

    def use_repository(self, repository) -> "AnalysisRunBuilder":
        self._repository = repository
        return self

    def reuse_existing_results_for_key(
            self, key, fail_if_results_missing: bool = False
    ) -> "AnalysisRunBuilder":
        self._reuse_key = key
        self._fail_if_results_missing = fail_if_results_missing
        return self

    def save_or_append_result(self, key) -> "AnalysisRunBuilder":
        self._save_key = key
        return self

    def save_states_with(self, provider) -> "AnalysisRunBuilder":
        self._state_provider = provider
        return self

    def aggregate_with(self, loader) -> "AnalysisRunBuilder":
        """Merge this run's states with PRIOR states from ``loader``
        before computing metrics — the incremental pattern
        (AnalysisRunner.scala aggregateWith)."""
        self._aggregate_with = loader
        return self

    def run(self) -> AnalyzerContext:
        return do_analysis_run(
            self._data, self._analyzers,
            metrics_repository=self._repository,
            reuse_existing_results_for_key=self._reuse_key,
            save_or_append_results_with_key=self._save_key,
            save_states_with=self._state_provider,
            aggregate_with=getattr(self, "_aggregate_with", None),
            fail_if_results_missing=self._fail_if_results_missing)


class AnalysisRunner(metaclass=PyDeequCompatMeta):
    """Parity: AnalysisRunner.scala onData/run entry points.
    PyDeequ-compatible static camelCase: ``AnalysisRunner.onData(df)``."""

    @staticmethod
    def on_data(data: DataFrame) -> AnalysisRunBuilder:
        return AnalysisRunBuilder(data)

    @staticmethod
    def run(data: DataFrame, analyzers: Sequence[Analyzer],
            aggregate_with=None, save_states_with=None) -> AnalyzerContext:
        return do_analysis_run(data, analyzers,
                               aggregate_with=aggregate_with,
                               save_states_with=save_states_with)
