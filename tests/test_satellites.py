"""Tests for repository, states, anomaly, comparison, profiler,
suggestions, schema validation, distance."""

import math

import pytest

from deequ_spark import (AbsoluteChangeStrategy, BatchNormalStrategy, Check,
                         CheckLevel, CheckStatus, Completeness,
                         DataSynchronization, FileSystemMetricsRepository,
                         FileSystemStateProvider, HoltWinters,
                         InMemoryMetricsRepository, InMemoryStateProvider,
                         Mean, OnlineNormalStrategy, ReferentialIntegrity,
                         RelativeRateOfChangeStrategy, ResultKey,
                         RowCountMatch, RowLevelSchema, SchemaMatch,
                         SimpleThresholdStrategy, Size, Uniqueness,
                         VerificationSuite, chi_square_statistic,
                         do_analysis_run, ks_distance, l_infinity_distance,
                         profile_columns, psi, run_on_aggregated_states,
                         validate_schema)
from deequ_spark.analyzers.scan import DataTypeInstances


class TestRepository:
    def test_in_memory_roundtrip(self, df_missing):
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(1000, {"env": "test"})
        ctx = do_analysis_run(df_missing, [Size(), Completeness("att1")])
        repo.save(key, ctx)
        loaded = repo.load_by_key(key)
        assert loaded.metric_map[Size()].value == 12.0
        assert loaded.metric_map[Completeness("att1")].value == 0.5

    def test_reuse_skips_recompute(self, df_missing):
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(1000)
        do_analysis_run(df_missing, [Size()], metrics_repository=repo,
                        save_or_append_results_with_key=key)
        # second run on DIFFERENT data reuses stored metric for same key
        # (reuse and save are separate keys, as in the reference)
        ctx = do_analysis_run(df_missing.limit(3), [Size()],
                              metrics_repository=repo,
                              reuse_existing_results_for_key=key)
        assert ctx.metric_map[Size()].value == 12.0

    def test_filesystem_roundtrip(self, tmp_path, df_missing):
        repo = FileSystemMetricsRepository(str(tmp_path / "metrics.json"))
        key1 = ResultKey.make(1000, {"env": "a"})
        key2 = ResultKey.make(2000, {"env": "b"})
        repo.save(key1, do_analysis_run(df_missing, [Size()]))
        repo.save(key2, do_analysis_run(df_missing, [Completeness("att1")]))
        assert repo.load_by_key(key1).metric_map[Size()].value == 12.0
        entries = repo.load().after(1500).get()
        assert len(entries) == 1 and entries[0][0] == key2
        entries = repo.load().with_tag_values({"env": "a"}).get()
        assert len(entries) == 1 and entries[0][0] == key1


class TestStateProviders:
    def test_in_memory(self, df_numeric):
        provider = InMemoryStateProvider()
        ctx = do_analysis_run(df_numeric, [Mean("att1")],
                              save_states_with=provider)
        state = provider.load(Mean("att1"))
        assert state.total == 21.0 and state.count == 6

    def test_filesystem_scalar(self, tmp_path, df_numeric):
        provider = FileSystemStateProvider(str(tmp_path / "states"))
        do_analysis_run(df_numeric, [Mean("att1"), Size()],
                        save_states_with=provider)
        assert provider.load(Mean("att1")).total == 21.0
        assert provider.load(Size()).num_matches == 6

    def test_run_on_aggregated_states(self, df_numeric):
        pa = df_numeric.filter("item <= 3")
        pb = df_numeric.filter("item > 3")
        prov_a, prov_b = InMemoryStateProvider(), InMemoryStateProvider()
        analyzers = [Size(), Mean("att1")]
        do_analysis_run(pa, analyzers, save_states_with=prov_a)
        do_analysis_run(pb, analyzers, save_states_with=prov_b)
        ctx = run_on_aggregated_states(df_numeric, analyzers, [prov_a, prov_b])
        assert ctx.metric_map[Size()].value == 6.0
        assert ctx.metric_map[Mean("att1")].value == 3.5

    def test_filesystem_kll_state(self, tmp_path, df_numeric):
        from deequ_spark import KLLSketch
        provider = FileSystemStateProvider(str(tmp_path / "kll"))
        analyzer = KLLSketch("att1")
        do_analysis_run(df_numeric, [analyzer], save_states_with=provider)
        state = provider.load(analyzer)
        assert state.sketch.count == 6
        metric = analyzer.compute_metric_from_state(state)
        assert metric.value.min_value == 1.0
        assert metric.value.max_value == 6.0

    def test_spark_table_repository(self, tmp_path, spark, df_numeric):
        from deequ_spark import ResultKey, SparkTableMetricsRepository
        repo = SparkTableMetricsRepository(
            spark, "dq_metrics_test", path=str(tmp_path / "dq_metrics"))
        ctx = do_analysis_run(df_numeric, [Size(), Mean("att1")])
        repo.save(ResultKey(1000, {"env": "t"}), ctx)
        repo.save(ResultKey(2000, {"env": "t"}), ctx)
        loaded = repo.load_by_key(ResultKey(1000, {"env": "t"}))
        assert loaded.metric_map[Size()].value == 6.0
        entries = repo.load().with_tag_values({"env": "t"}).get()
        assert [k.dataset_date for k, _ in entries] == [1000, 2000]
        spark.sql("DROP TABLE IF EXISTS dq_metrics_test")

    def test_filesystem_frequencies(self, tmp_path, spark, df_unique):
        provider = FileSystemStateProvider(str(tmp_path / "fstates"), spark)
        analyzer = Uniqueness(("nonUnique",))
        do_analysis_run(df_unique, [analyzer], save_states_with=provider)
        state = provider.load(analyzer)
        assert state.num_rows == 6
        metric = analyzer.compute_metric_from_state(state)
        assert metric.value == 0.5


class TestAnomalyStrategies:
    def test_simple_threshold(self):
        s = SimpleThresholdStrategy(upper_bound=1.0)
        found = s.detect([0.5, 0.9, 1.5, 0.8])
        assert [a.index for a in found] == [2]

    def test_absolute_change(self):
        s = AbsoluteChangeStrategy(max_rate_decrease=-2.0, max_rate_increase=2.0)
        found = s.detect([1.0, 2.0, 10.0, 11.0])
        assert [a.index for a in found] == [2]

    def test_relative_rate(self):
        s = RelativeRateOfChangeStrategy(max_rate_decrease=0.5,
                                         max_rate_increase=2.0)
        found = s.detect([10.0, 11.0, 50.0, 40.0, 4.0])
        assert [a.index for a in found] == [2, 4]

    def test_batch_normal(self):
        values = [1.0] * 20 + [100.0]
        s = BatchNormalStrategy()
        found = s.detect(values, (20, 21))
        assert [a.index for a in found] == [20]

    def test_online_normal(self):
        values = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.0, 12.0]
        # reference semantics (OnlineNormalStrategy.scala:66-118): the
        # running stats INCLUDE the tested value, so a lone spike inflates
        # its own sigma — the reference's own fixtures use 1.5sigma factors
        s = OnlineNormalStrategy(1.5, 1.5)
        found = s.detect(values)
        assert 8 in [a.index for a in found]

    def test_holt_winters_detects_break(self):
        base = [10, 20, 30, 40, 50, 60, 70] * 4
        series = [float(v) for v in base] + [500.0]
        found = HoltWinters(period=7).detect(series,
                                             (len(series) - 1, len(series)))
        assert [a.index for a in found] == [len(series) - 1]

    def test_anomaly_check_e2e(self, df_missing):
        repo = InMemoryMetricsRepository()
        for i, n in enumerate([12, 12, 12]):
            repo.save(ResultKey.make(i),
                      do_analysis_run(df_missing, [Size()]))
        builder = (VerificationSuite().on_data(df_missing.limit(2))
                   .use_repository(repo)
                   .add_anomaly_check(
                       AbsoluteChangeStrategy(max_rate_decrease=-1.0,
                                              max_rate_increase=1.0),
                       Size()))
        result = builder.run()
        assert result.status == CheckStatus.WARNING  # 12 → 2 is anomalous


class TestComparison:
    def test_referential_integrity_full(self, spark):
        primary = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        reference = spark.createDataFrame([(1,), (2,), (3,), (4,)], "r int")
        res = ReferentialIntegrity.subset_check(primary, ["k"], reference, ["r"])
        assert res.passed and res.ratio == 1.0

    def test_referential_integrity_partial(self, spark):
        primary = spark.createDataFrame([(1,), (2,), (5,), (6,)], "k int")
        reference = spark.createDataFrame([(1,), (2,)], "r int")
        res = ReferentialIntegrity.subset_check(
            primary, ["k"], reference, ["r"], assertion=lambda v: v >= 0.5)
        assert res.passed and res.ratio == 0.5

    def test_data_synchronization(self, spark):
        ds1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
        ds2 = spark.createDataFrame([(1, "a"), (2, "X"), (3, "c")], "id int, v string")
        res = DataSynchronization.column_match(
            ds1, ds2, {"id": "id"}, assertion=lambda v: v > 0.5)
        assert res.passed and res.ratio == pytest.approx(2 / 3)

    def test_data_synchronization_row_level(self, spark):
        ds1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        ds2 = spark.createDataFrame([(1, "a"), (2, "X")], "id int, v string")
        out = DataSynchronization.column_match_row_level(ds1, ds2, {"id": "id"})
        flags = {r["id"]: r["data_sync_outcome"] for r in out.collect()}
        assert flags == {1: True, 2: False}

    def test_row_count_match(self, spark):
        a = spark.createDataFrame([(i,) for i in range(10)], "x int")
        b = spark.createDataFrame([(i,) for i in range(20)], "x int")
        res = RowCountMatch.match_row_counts(a, b, assertion=lambda v: v == 0.5)
        assert res.passed and res.ratio == 0.5

    def test_schema_match(self, spark):
        a = spark.createDataFrame([(1, "x")], "id int, v string")
        b = spark.createDataFrame([(1, 2)], "id int, v int")
        res = SchemaMatch.match_schema(a, b, assertion=lambda v: v == 0.5)
        assert res.passed and res.ratio == 0.5


class TestProfiler:
    def test_profile_basic(self, spark):
        df = spark.createDataFrame(
            [(1, "a", "10"), (2, "b", "20"), (3, "a", "30"), (4, None, "40")],
            "id int, cat string, num_str string")
        profiles = profile_columns(df)
        assert profiles["id"].completeness == 1.0
        assert profiles["id"].data_type == DataTypeInstances.INTEGRAL
        assert profiles["id"].minimum == 1.0 and profiles["id"].maximum == 4.0
        assert profiles["cat"].completeness == 0.75
        assert profiles["cat"].histogram is not None
        assert profiles["num_str"].data_type == DataTypeInstances.INTEGRAL
        # inferred-numeric string got numeric stats via cast
        assert profiles["num_str"].mean == 25.0

    def test_suggestions(self, spark):
        from deequ_spark import ConstraintSuggestionRunner
        df = spark.createDataFrame(
            [(i, "x" if i % 2 else "y", float(i)) for i in range(1, 21)],
            "id int, cat string, val double")
        out = (ConstraintSuggestionRunner().on_data(df).run())
        suggestions = out["suggestions"]
        all_rules = {s.rule_name for col in suggestions.values() for s in col}
        assert "CompleteIfCompleteRule" in all_rules
        assert "UniqueIfApproximatelyUniqueRule" in all_rules
        assert "NonNegativeNumbersRule" in all_rules
        id_codes = [s.code_for_constraint for s in suggestions["id"]]
        assert any("is_unique" in c for c in id_codes)

    def test_suggestions_with_split(self, spark):
        from deequ_spark import ConstraintSuggestionRunner
        df = spark.createDataFrame(
            [(i, float(i % 5)) for i in range(100)], "id int, v double")
        out = (ConstraintSuggestionRunner().on_data(df)
               .use_train_test_split_with_test_set_ratio(0.3).run())
        assert out["verification_result"] is not None


class TestProfilerReferenceParity:
    """Expected-profile fixtures transcribed from
    /root/reference/src/test/scala/com/amazon/deequ/profiles/
    ColumnProfilerTest.scala (line refs per test). The fixture data is
    FixtureSupport.getDfCompleteAndInCompleteColumns:149-160 —
    item=("1".."6"), att1=(a,b,a,a,b,a), att2=(f,d,null,f,null,f)."""

    @pytest.fixture(scope="class")
    def df_cic(self, spark):
        rows = [("1", "a", "f"), ("2", "b", "d"), ("3", "a", None),
                ("4", "a", "f"), ("5", "b", None), ("6", "a", "f")]
        return spark.createDataFrame(rows, "item string, att1 string, att2 string")

    def test_string_profile_att2(self, df_cic):
        """ColumnProfilerTest.scala:53-79 — StringColumnProfile fixture."""
        p = profile_columns(df_cic, ["att2"], with_histograms=False)["att2"]
        assert p.completeness == 2.0 / 3.0
        assert abs(p.approx_num_distinct - 2) <= 1
        assert p.data_type == DataTypeInstances.STRING
        assert p.is_data_type_inferred
        assert p.type_counts == {"Boolean": 0, "Fractional": 0,
                                 "Integral": 0, "Unknown": 2, "String": 4}
        # NullBehavior.EmptyString: nulls count as length 0 (:74-75)
        assert p.min_length == 0.0
        assert p.max_length == 1.0

    def test_string_profiles_with_spaces_in_names(self, spark):
        """ColumnProfilerTest.scala:81-100 — length bounds on escaped
        column names (FixtureSupport:175-186)."""
        rows = [("1", "ab", "abc1"), ("2", "bc", None),
                ("3", "ab", "def2ghi"), ("4", "ab", None),
                ("5", "bcd", "ab"), ("6", "a", "pqrs")]
        df = spark.createDataFrame(
            rows, ["some item", "att 1", "att 2"])
        profiles = profile_columns(df, ["att 1", "att 2"],
                                   with_histograms=False)
        assert (profiles["att 1"].min_length,
                profiles["att 1"].max_length) == (1.0, 3.0)
        assert (profiles["att 2"].min_length,
                profiles["att 2"].max_length) == (0.0, 7.0)

    def test_numeric_string_profile_item(self, df_cic):
        """ColumnProfilerTest.scala:155-199 — item infers Integral and
        gets the full numeric profile via cast."""
        p = profile_columns(df_cic, ["item"], with_histograms=False)["item"]
        assert p.completeness == 1.0
        assert abs(p.approx_num_distinct - 6) <= 1
        assert p.data_type == DataTypeInstances.INTEGRAL
        assert p.is_data_type_inferred
        assert p.type_counts == {"Boolean": 0, "Fractional": 0,
                                 "Integral": 6, "Unknown": 0, "String": 0}
        assert p.mean == 3.5
        assert p.maximum == 6.0 and p.minimum == 1.0
        assert p.sum == 21.0
        assert p.std_dev == 1.707825127659933
        assert p.variance == 2.9166666666666665
        assert p.skewness == 0.0
        assert p.kurtosis == -1.2685714285714285
        assert p.zeros_count == 0
        assert p.range == 5.0
        assert p.interquartile_range == 2.5

    def test_numeric_profile_native_fractional(self, spark):
        """ColumnProfilerTest.scala:330-368 — att1 of
        getDfWithNumericFractionalValues (FixtureSupport:278-288):
        native DoubleType, dataType Fractional NOT inferred."""
        rows = [("1", 1.0, 0.0), ("2", 2.0, 0.0), ("3", 3.0, 0.0),
                ("4", 4.0, 5.0), ("5", 5.0, 6.0), ("6", 6.0, 7.0)]
        df = spark.createDataFrame(rows, "item string, att1 double, att2 double")
        p = profile_columns(df, ["att1"], with_histograms=False)["att1"]
        assert p.completeness == 1.0
        assert p.data_type == DataTypeInstances.FRACTIONAL
        assert not p.is_data_type_inferred
        assert p.mean == 3.5 and p.sum == 21.0
        assert p.std_dev == 1.707825127659933
        assert p.variance == 2.9166666666666665
        assert p.kurtosis == -1.2685714285714285
        assert p.zeros_count == 0
        assert p.range == 5.0 and p.interquartile_range == 2.5

    def test_histogram_string_column(self, df_cic):
        """ColumnProfilerTest.scala:370-399 — att2 histogram with
        lowCardinalityThreshold 10: {d:1, f:3, NullValue:2}, 3 bins."""
        p = profile_columns(df_cic, ["att2"],
                            low_cardinality_threshold=10)["att2"]
        assert p.histogram is not None
        h = p.histogram.values
        assert (h["f"].absolute, h["f"].ratio) == (3, 0.5)
        assert (h["d"].absolute, h["d"].ratio) == (1, 1 / 6)
        assert (h["NullValue"].absolute, h["NullValue"].ratio) == (2, 1 / 3)
        assert len(h) == 3

    def test_histogram_boolean_column(self, spark):
        """ColumnProfilerTest.scala:401-428."""
        df = spark.createDataFrame(
            [(True,), (True,), (True,), (False,), (False,), (None,)],
            "attribute boolean")
        p = profile_columns(df)["attribute"]
        h = p.histogram.values
        assert (h["true"].absolute, h["true"].ratio) == (3, 0.5)
        assert (h["false"].absolute, h["false"].ratio) == (2, 2 / 6)
        assert (h["NullValue"].absolute, h["NullValue"].ratio) == (1, 1 / 6)

    @pytest.mark.parametrize("sql_type,values,keys", [
        ("int", [2147483647, 2147483647, 2147483647, 2, 2, None],
         ("2147483647", "2")),                        # :430-457
        ("long", [1, 1, 1, 2, 2, None], ("1", "2")),  # :459-486
        ("double", [1.0, 1.0, 1.0, 2.0, 2.0, None],
         ("1.0", "2.0")),                             # :488-515
        ("float", [1.0, 1.0, 1.0, 2.0, 2.0, None],
         ("1.0", "2.0")),                             # :517-544
        ("short", [1, 1, 1, 2, 2, None], ("1", "2")),  # :546-573
    ])
    def test_histogram_numeric_types(self, spark, sql_type, values, keys):
        """ColumnProfilerTest.scala:430-573 — per-type histogram grid:
        3/6, 2/6, 1-null across Integer/Long/Double/Float/Short."""
        df = spark.createDataFrame([(v,) for v in values],
                                   f"attribute {sql_type}")
        p = profile_columns(df)["attribute"]
        h = p.histogram.values
        k3, k2 = keys
        assert (h[k3].absolute, h[k3].ratio) == (3, 0.5)
        assert (h[k2].absolute, h[k2].ratio) == (2, 2 / 6)
        assert (h["NullValue"].absolute, h["NullValue"].ratio) == (1, 1 / 6)

    def test_profile_escaped_column_name(self, spark):
        """ColumnProfilerTest.scala:575-603 — numeric column whose name
        needs escaping (leading space); keyed by the original name."""
        rows = [("setosa", 5), ("setosa", 4), ("versicolor", 6),
                ("versicolor", 7), ("virginica", 6)]
        df = spark.createDataFrame(rows, ["flower_type", " length"])
        p = profile_columns(df)[" length"]
        assert p.data_type == DataTypeInstances.INTEGRAL
        assert p.completeness == 1.0
        assert p.maximum == 7.0 and p.minimum == 4.0


class TestSchemaValidation:
    def test_split_valid_invalid(self, spark):
        df = spark.createDataFrame(
            [("1", "abc"), ("x", "de"), ("3", None), (None, "fg")],
            "num string, txt string")
        schema = (RowLevelSchema()
                  .with_int_column("num", is_nullable=False, min_value=0)
                  .with_string_column("txt", min_length=2))
        result = validate_schema(df, schema)
        assert result.num_valid_rows == 2   # ("1","abc") and ("3",None)
        assert result.num_invalid_rows == 2
        valid = result.valid_rows.collect()
        assert {r["num"] for r in valid} == {1, 3}
        assert dict(result.valid_rows.dtypes)["num"] == "int"


class TestDistance:
    def test_l_infinity(self):
        a = {"x": 50, "y": 50}
        b = {"x": 80, "y": 20}
        assert l_infinity_distance(a, b) == pytest.approx(0.3)

    def test_psi_zero_for_identical(self):
        a = {"x": 10, "y": 20}
        assert psi(a, dict(a)) == pytest.approx(0.0)

    def test_chi_square(self):
        a = {"x": 100, "y": 100}
        b = {"x": 110, "y": 90}
        stat = chi_square_statistic(a, b)
        assert stat == pytest.approx((10 ** 2) / 100 * 2)

    def test_ks(self):
        q1 = [1, 2, 3, 4, 5]
        q2 = [1, 2, 3, 4, 5]
        assert ks_distance(q1, q2) == 0.0
        assert ks_distance(q1, [6, 7, 8, 9, 10]) == 1.0


class TestFailIfResultsMissing:
    def test_strict_reuse_raises_on_missing(self, df_missing):
        from deequ_spark.repository import InMemoryMetricsRepository, ResultKey
        from deequ_spark.runners.analysis_runner import do_analysis_run
        from deequ_spark.analyzers.scan import Size, Completeness
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(1000)
        do_analysis_run(df_missing, [Size()], metrics_repository=repo,
                        save_or_append_results_with_key=key)
        # Size is stored; Completeness is not -> strict reuse must raise
        with pytest.raises(ValueError, match="Completeness"):
            do_analysis_run(df_missing, [Size(), Completeness("att1")],
                            metrics_repository=repo,
                            reuse_existing_results_for_key=key,
                            fail_if_results_missing=True)
        # all stored -> no scan needed, succeeds
        ctx = do_analysis_run(df_missing.limit(1), [Size()],
                              metrics_repository=repo,
                              reuse_existing_results_for_key=key,
                              fail_if_results_missing=True)
        assert ctx.metric_map[Size()].value == 12.0


class TestKLLProfiling:
    def test_profiler_attaches_kll(self, df_numeric):
        from deequ_spark.profiles import ColumnProfilerRunner
        profiles = (ColumnProfilerRunner().on_data(df_numeric)
                    .with_kll_profiling().run())
        p = profiles["att1"]
        assert p.kll is not None
        assert p.kll.min_value == 1.0 and p.kll.max_value == 6.0
        # item holds numeric STRINGS -> inferred INTEGRAL, cast, and
        # KLL-profiled too (reference casts inferred-numeric strings)
        assert profiles["item"].kll is not None
        assert p.mean == 3.5

    def test_non_numeric_column_gets_no_kll(self, df_full):
        from deequ_spark.profiles import ColumnProfilerRunner
        profiles = (ColumnProfilerRunner().on_data(df_full)
                    .with_kll_profiling().run())
        assert profiles["att1"].kll is None    # values 'a'/'b'

    def test_no_kll_by_default(self, df_numeric):
        from deequ_spark.profiles import profile_columns
        profiles = profile_columns(df_numeric)
        assert profiles["att1"].kll is None


class TestConfidenceIntervals:
    """Parity: interval/{Wald,WilsonScore}IntervalStrategy.scala — values
    hand-derived from the reference formulas (z = Φ⁻¹(0.975) =
    1.959963984540054, 2-decimal DOWN/UP rounding)."""

    def test_wald_values(self):
        from deequ_spark import WaldIntervalStrategy
        iv = WaldIntervalStrategy().calculate_target_confidence_interval(
            0.9, 100)
        # margin = 1.959964·√(0.09/100) = 0.0587989
        assert iv.lower_bound == 0.84
        assert iv.upper_bound == 0.96
        iv2 = WaldIntervalStrategy().calculate_target_confidence_interval(
            0.5, 100)
        assert iv2.lower_bound == 0.40
        assert iv2.upper_bound == 0.60

    def test_wilson_values(self):
        from deequ_spark import WilsonScoreIntervalStrategy
        iv = WilsonScoreIntervalStrategy().calculate_target_confidence_interval(
            0.9, 100)
        assert iv.lower_bound == 0.82
        assert iv.upper_bound == 0.95

    def test_default_strategy_is_wald(self):
        # parity: ConfidenceIntervalStrategy.scala defaultIntervalStrategy
        from deequ_spark.suggestions import (DEFAULT_INTERVAL_STRATEGY,
                                             WaldIntervalStrategy)
        assert isinstance(DEFAULT_INTERVAL_STRATEGY, WaldIntervalStrategy)

    def test_retain_completeness_strategy_selectable(self, df_missing):
        from deequ_spark.suggestions import (RetainCompletenessRule,
                                             WilsonScoreIntervalStrategy)
        from deequ_spark.profiles import profile_columns
        profiles = profile_columns(df_missing, ["att2"])
        wald = RetainCompletenessRule()
        wilson = RetainCompletenessRule(
            interval_strategy=WilsonScoreIntervalStrategy())
        assert wald.should_be_applied(profiles["att2"], 12)
        c_wald = wald.candidate(profiles["att2"], 12)
        c_wilson = wilson.candidate(profiles["att2"], 12)
        # p = 0.75, n = 12: Wald lower = 0.50, Wilson lower = 0.46
        assert 'v >= 0.5' in c_wald.code_for_constraint
        assert 'v >= 0.46' in c_wilson.code_for_constraint

    def test_validation(self):
        from deequ_spark import WaldIntervalStrategy
        with pytest.raises(ValueError):
            WaldIntervalStrategy().calculate_target_confidence_interval(
                1.5, 100)

    @pytest.mark.parametrize("strategy,p_hat,n,lower,upper", [
        # IntervalStrategyTest.scala:36-51 — the full reference table
        ("wald", 1.0, 20, 1.0, 1.0),
        ("wald", 0.5, 100, 0.4, 0.6),
        ("wald", 0.4, 100, 0.3, 0.5),
        ("wald", 0.6, 100, 0.5, 0.7),
        ("wald", 0.9, 100, 0.84, 0.96),
        ("wald", 1.0, 100, 1.0, 1.0),
        ("wilson", 0.01, 20, 0.00, 0.18),
        ("wilson", 1.0, 20, 0.83, 1.0),
        ("wilson", 0.5, 100, 0.4, 0.6),
        ("wilson", 0.4, 100, 0.3, 0.5),
        ("wilson", 0.6, 100, 0.5, 0.7),
        ("wilson", 0.9, 100, 0.82, 0.95),
        ("wilson", 1.0, 100, 0.96, 1.0),
    ])
    def test_reference_interval_table(self, strategy, p_hat, n, lower,
                                      upper):
        """IntervalStrategyTest.scala:30-57 'be calculated correctly'."""
        from deequ_spark import (WaldIntervalStrategy,
                                 WilsonScoreIntervalStrategy)
        impl = (WaldIntervalStrategy() if strategy == "wald"
                else WilsonScoreIntervalStrategy())
        iv = impl.calculate_target_confidence_interval(p_hat, n)
        assert (iv.lower_bound, iv.upper_bound) == (lower, upper)


class TestRateOfChangeAlias:
    def test_alias_is_absolute(self):
        """The reference's deprecated RateOfChangeStrategy 'actually
        detects absolute changes' (RateOfChangeStrategy.scala:19-26)."""
        from deequ_spark import RateOfChangeStrategy
        assert RateOfChangeStrategy is AbsoluteChangeStrategy
        anomalies = RateOfChangeStrategy(
            max_rate_increase=5.0).detect([1.0, 2.0, 20.0, 21.0])
        assert [a.index for a in anomalies] == [2]


class TestStateFilenameDeterminism:
    def test_same_params_same_file(self, tmp_path):
        provider = FileSystemStateProvider(str(tmp_path))
        assert (provider._file_for(Completeness("att1"))
                == provider._file_for(Completeness("att1")))
        assert (provider._file_for(Completeness("att1"))
                != provider._file_for(Completeness("att2")))

    def test_filename_not_process_hash_dependent(self, tmp_path):
        """The name must derive from serialized params (sha1), never from
        builtin hash() which is randomized per process."""
        import hashlib
        import json as _json
        from deequ_spark.repository import serialize_analyzer
        provider = FileSystemStateProvider(str(tmp_path))
        a = Mean("att1")
        payload = _json.dumps(serialize_analyzer(a), sort_keys=True,
                              default=str)
        digest = hashlib.sha1(payload.encode()).hexdigest()[:16]
        assert provider._file_for(a).endswith(f"Mean-{digest}")


class TestJsonFileOutputs:
    def test_check_results_json_roundtrip(self, tmp_path, df_missing):
        import json as _json
        check = (Check(CheckLevel.ERROR, "output check")
                 .has_size(lambda n: n == 12)
                 .is_complete("att1"))
        chk_path = str(tmp_path / "check_results.json")
        met_path = str(tmp_path / "success_metrics.json")
        result = (VerificationSuite().on_data(df_missing)
                  .add_check(check)
                  .use_spark_session(df_missing.sparkSession)
                  .save_check_results_json_to_path(chk_path)
                  .save_success_metrics_json_to_path(met_path)
                  .run())
        with open(chk_path) as f:
            rows = _json.load(f)
        assert {r["constraint_status"] for r in rows} == {"Success", "Failure"}
        assert all(r["check"] == "output check" for r in rows)
        assert _json.loads(result.check_results_as_json()) == rows
        with open(met_path) as f:
            metrics = _json.load(f)
        by_name = {(m["name"], m["instance"]): m["value"] for m in metrics}
        assert by_name[("Size", "*")] == 12.0
        assert by_name[("Completeness", "att1")] == 0.5

    def test_overwrite_false_raises_on_existing(self, tmp_path, df_missing):
        chk_path = str(tmp_path / "existing.json")
        with open(chk_path, "w") as f:
            f.write("[]")
        builder = (VerificationSuite().on_data(df_missing)
                   .add_check(Check(CheckLevel.ERROR, "c").has_size(
                       lambda n: n > 0))
                   .save_check_results_json_to_path(chk_path)
                   .overwrite_previous_files(False))
        with pytest.raises(Exception):
            builder.run()


class TestComparisonKeyUniqueness:
    def test_match_counts_raises_on_dup_compare_keys(self, spark):
        ds1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        ds2 = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")],
                                    "id int, v string")
        with pytest.raises(ValueError, match="not unique"):
            DataSynchronization.match_counts(ds1, ds2, {"id": "id"})

    def test_match_counts_raises_on_dup_primary_keys(self, spark):
        ds1 = spark.createDataFrame([(1, "a"), (1, "a")], "id int, v string")
        ds2 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        with pytest.raises(ValueError, match="not unique"):
            DataSynchronization.match_counts(ds1, ds2, {"id": "id"})

    def test_column_match_errors_on_dup_ds2_keys(self, spark):
        ds1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        ds2 = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")],
                                    "id int, v string")
        res = DataSynchronization.column_match(ds1, ds2, {"id": "id"})
        assert res.passed is None
        assert "ds2" in res.error

    def test_dataset_match_analyzer_failure_metric_on_dups(self, spark):
        from deequ_spark import DatasetMatchAnalyzer
        ds1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        ds2 = spark.createDataFrame([(1, "a"), (1, "a")], "id int, v string")
        metric = DatasetMatchAnalyzer(ds2, {"id": "id"}).calculate(ds1)
        assert not metric.is_success


class TestRowLevelColumnCollision:
    def test_duplicate_descriptions_get_distinct_columns(self, df_missing):
        c1 = Check(CheckLevel.ERROR, "same name").is_complete("att1")
        c2 = Check(CheckLevel.ERROR, "same name").is_complete("att2")
        result = (VerificationSuite().on_data(df_missing)
                  .add_check(c1).add_check(c2).run())
        annotated = result.row_level_results_as_dataframe(df_missing)
        new_cols = [c for c in annotated.columns
                    if c not in df_missing.columns]
        assert len(new_cols) == 2  # not silently overwritten
        rows = annotated.collect()
        # att1 has 6 nulls, att2 has 3 → the two columns must differ
        flags = [(r[new_cols[0]], r[new_cols[1]]) for r in rows]
        assert sum(1 for a, _ in flags if a) != sum(1 for _, b in flags if b)


def test_profile_nested_column_completeness(spark):
    """Vector/struct columns get a real completeness in the profile (via
    an IS NOT NULL Compliance — the Completeness analyzer itself keeps
    reference parity and rejects nested types)."""
    from deequ_spark import profile_columns
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0]), (4, [5.0, 6.0])],
        "id long, vec array<double>")
    profs = profile_columns(df, with_histograms=False)
    assert profs["vec"].completeness == 0.75
    assert profs["id"].completeness == 1.0


def test_suggest_embedding_quality_for_vector_columns(spark):
    """Profiling a vector table suggests the embedding-dimension contract;
    the suggested constraint must verify green on the same data."""
    from deequ_spark import (Check, CheckLevel, CheckStatus, DEFAULT_RULES,
                             ConstraintSuggestionRunner, VerificationSuite)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    result = (ConstraintSuggestionRunner().on_data(emb)
              .add_constraint_rules(list(DEFAULT_RULES)).run())
    sugg = [s for ss in result["suggestions"].values() for s in ss
            if s.rule_name == "EmbeddingQualityIfVectorRule"]
    assert len(sugg) == 1
    assert 'has_embedding_quality("embedding", 64' in sugg[0].code_for_constraint
    check = sugg[0].apply(Check(CheckLevel.ERROR, "suggested"))
    vr = VerificationSuite().on_data(emb).add_check(check).run()
    assert vr.check_results[check].status == CheckStatus.SUCCESS


class TestReferenceRepositoryInterop:
    """Wire-format interop with the reference engine's repository JSON
    (repository/AnalysisResultSerde.scala): its files load here unchanged,
    and format='deequ' writes files it can read."""

    REFERENCE_JSON = """[{
      "resultKey": {"dataSetDate": 1630,
                    "tags": {"Region": "EU"}},
      "analyzerContext": {"metricMap": [
        {"analyzer": {"analyzerName": "Size", "where": null},
         "metric": {"metricName": "DoubleMetric", "entity": "Dataset",
                    "instance": "*", "name": "Size", "value": 4.0}},
        {"analyzer": {"analyzerName": "Completeness", "column": "att1",
                      "where": null},
         "metric": {"metricName": "DoubleMetric", "entity": "Column",
                    "instance": "att1", "name": "Completeness",
                    "value": 1.0}},
        {"analyzer": {"analyzerName": "Compliance", "instance": "rule1",
                      "predicate": "att1 > 3", "where": null,
                      "columns": ["att1"]},
         "metric": {"metricName": "DoubleMetric", "entity": "Column",
                    "instance": "rule1", "name": "Compliance",
                    "value": 0.5}},
        {"analyzer": {"analyzerName": "Uniqueness",
                      "columns": ["a", "b"], "where": null},
         "metric": {"metricName": "DoubleMetric", "entity": "Multicolumn",
                    "instance": "a,b", "name": "Uniqueness", "value": 0.9}},
        {"analyzer": {"analyzerName": "Minimum", "column": "v",
                      "where": "v > 0",
                      "analyzerOptions": {"nullBehavior": "Fail",
                                          "filteredRow": "NULL"}},
         "metric": {"metricName": "DoubleMetric", "entity": "Column",
                    "instance": "v", "name": "Minimum", "value": 1.5}},
        {"analyzer": {"analyzerName": "Histogram", "column": "cat",
                      "maxDetailBins": 1000, "where": null},
         "metric": {"metricName": "HistogramMetric", "column": "cat",
                    "numberOfBins": 2,
                    "value": {"numberOfBins": 2, "values": {
                        "x": {"absolute": 3, "ratio": 0.75},
                        "y": {"absolute": 1, "ratio": 0.25}}}}}
      ]}}]"""

    def test_load_reference_file(self, tmp_path):
        from deequ_spark import (Completeness, Compliance,
                                 FileSystemMetricsRepository, Minimum,
                                 ResultKey, Size, Uniqueness)
        from deequ_spark.analyzers.scan import (AnalyzerOptions,
                                                FilteredRowOutcome,
                                                NullBehavior)
        path = tmp_path / "deequ_metrics.json"
        path.write_text(self.REFERENCE_JSON)
        repo = FileSystemMetricsRepository(str(path))
        key = ResultKey(1630, (("Region", "EU"),))
        ctx = repo.load_by_key(key)
        assert ctx is not None
        assert ctx.metric_map[Size()].value == 4.0
        assert ctx.metric_map[Completeness("att1")].value == 1.0
        assert ctx.metric_map[Compliance(
            "rule1", "att1 > 3", columns=("att1",))].value == 0.5
        assert ctx.metric_map[Uniqueness(("a", "b"))].value == 0.9
        m = ctx.metric_map[Minimum("v", "v > 0", AnalyzerOptions(
            NullBehavior.FAIL, FilteredRowOutcome.NULL))]
        assert m.value == 1.5
        hist = ctx.metric_map[
            [a for a in ctx.metric_map if type(a).__name__ == "Histogram"][0]]
        assert hist.value["x"].absolute == 3

    def test_round_trip_reference_format(self, spark, tmp_path, df_numeric):
        from deequ_spark import (FileSystemMetricsRepository, Mean, ResultKey,
                                 Size, do_analysis_run)
        path = str(tmp_path / "out.json")
        repo = FileSystemMetricsRepository(path, format="deequ")
        key = ResultKey.make(1000, {"env": "x"})
        repo.save(key, do_analysis_run(df_numeric, [Size(), Mean("att1")]))
        # file parses as reference shape
        import json
        rec = json.load(open(path))[0]
        assert "metricMap" in rec["analyzerContext"]
        names = {e["analyzer"]["analyzerName"]
                 for e in rec["analyzerContext"]["metricMap"]}
        assert names == {"Size", "Mean"}
        # and reads back through the auto-detecting loader
        back = FileSystemMetricsRepository(path).load_by_key(key)
        assert back.metric_map[Size()].value == 6.0
        assert back.metric_map[Mean("att1")].value == 3.5

    def test_round_trip_many_analyzer_types(self, spark, df_numeric):
        from deequ_spark import (ApproxQuantile, ColumnRange, Correlation,
                                 CountDistinct, Distinctness, Entropy,
                                 Kurtosis, Maximum, Mean, Minimum, Size,
                                 StandardDeviation, Sum, Uniqueness,
                                 do_analysis_run)
        from deequ_spark.repository import from_deequ_json, to_deequ_json
        from deequ_spark.repository import ResultKey
        analyzers = [Size(), Mean("att1"), Sum("att1"), Minimum("att1"),
                     Maximum("att1"), StandardDeviation("att1"),
                     Kurtosis("att1"), ColumnRange("att1"),
                     ApproxQuantile("att1", 0.5),
                     Correlation("att1", "att2"), Entropy("item"),
                     Uniqueness(("item",)), Distinctness(("att1",)),
                     CountDistinct(("att1",))]
        ctx = do_analysis_run(df_numeric, analyzers)
        key = ResultKey(42, ())
        entries = from_deequ_json(to_deequ_json([(key, ctx)]))
        (k2, ctx2), = entries
        assert k2 == key
        for a in analyzers:
            assert a in ctx2.metric_map, type(a).__name__
            assert ctx2.metric_map[a].value == pytest.approx(
                ctx.metric_map[a].value)


class TestAddAnomalyCheckParity:
    """VerificationSuiteTest.scala:1014-1110 addAnomalyCheck with a
    repository holding Size history [1,2] (Region=EU) + [3,4] (Region=NA)."""

    def _repo_with_history(self):
        from deequ_spark import DoubleMetric
        from deequ_spark.metrics import Entity
        repo = InMemoryMetricsRepository()
        from deequ_spark.runners.analysis_runner import AnalyzerContext
        for ts, region in ((1, "EU"), (2, "EU"), (3, "NA"), (4, "NA")):
            ac = AnalyzerContext({Size(): DoubleMetric(
                Entity.COLUMN, "", "", float(ts))})
            repo.save(ResultKey(ts, (("Region", region),)), ac)
        return repo

    def test_add_anomaly_check(self, spark):
        from deequ_spark import AnomalyCheckConfig
        df = spark.range(11).toDF("item")
        repo = self._repo_with_history()
        key = ResultKey(5, ())

        r1 = (VerificationSuite().on_data(df).use_repository(repo)
              .add_required_analyzers([Completeness("item")])
              .save_or_append_result(key)
              .add_anomaly_check(
                  AbsoluteChangeStrategy(-2.0, 2.0), Size(),
                  AnomalyCheckConfig(CheckLevel.WARNING,
                                     "Anomaly check to fail"))
              .run())
        r2 = (VerificationSuite().on_data(df).use_repository(repo)
              .add_required_analyzers([Completeness("item")])
              .save_or_append_result(key)
              .add_anomaly_check(
                  AbsoluteChangeStrategy(-7.0, 7.0), Size(),
                  AnomalyCheckConfig(CheckLevel.ERROR,
                                     "Anomaly check to succeed",
                                     {}, 0, 11))
              .run())
        r3 = (VerificationSuite().on_data(df).use_repository(repo)
              .add_required_analyzers([Completeness("item")])
              .save_or_append_result(key)
              .add_anomaly_check(AbsoluteChangeStrategy(-7.0, 7.0), Size())
              .run())
        assert list(r1.check_results.values())[0].status == CheckStatus.WARNING
        assert list(r2.check_results.values())[0].status == CheckStatus.SUCCESS
        assert list(r3.check_results.values())[0].status == CheckStatus.SUCCESS


class TestProfilerNumericStringParity:
    """ColumnProfilerTest.scala:155-205: a STRING column of numeric strings
    is profiled as a NUMERIC column with exact stats."""

    def test_numeric_string_column_profile(self, spark):
        from deequ_spark import profile_columns
        df = spark.createDataFrame(
            [("1", "a", "f"), ("2", "b", "d"), ("3", "a", None),
             ("4", "a", "f"), ("5", "b", None), ("6", "a", "f")],
            "item string, att1 string, att2 string")
        p = profile_columns(df, ["item"])["item"]
        assert p.data_type == DataTypeInstances.INTEGRAL
        assert p.is_data_type_inferred
        assert p.type_counts["Integral"] == 6
        assert p.completeness == 1.0
        assert p.approx_num_distinct == 6
        assert p.mean == 3.5
        assert p.minimum == 1.0 and p.maximum == 6.0
        assert p.sum == 21.0
        assert p.std_dev == pytest.approx(1.707825127659933, rel=1e-12)
        assert p.kurtosis == pytest.approx(-1.2685714285714285, rel=1e-12)


class TestProfilerRunnerReferenceParity:
    """Transcribed from /root/reference/src/test/scala/com/amazon/deequ/
    profiles/ColumnProfilerRunnerTest.scala (line refs per test). Fixture:
    FixtureSupport.getDfWithNumericValues — item 1..6, att1 numeric."""

    @pytest.fixture(scope="class")
    def df_numeric_vals(self, spark):
        rows = [("1", 1, 0, 0), ("2", 2, 0, 0), ("3", 3, 0, 0),
                ("4", 4, 5, 4), ("5", 5, 6, 6), ("6", 6, 7, 7)]
        return spark.createDataFrame(rows,
                                     "item string, att1 int, att2 int, att3 int")

    def test_save_and_reuse_profile_runs_zero_jobs(self, spark,
                                                   df_numeric_vals):
        """:35-66 — a profile run saved to a repository replays from the
        repository with ZERO Spark jobs and identical profiles."""
        import uuid
        from deequ_spark import (ColumnProfilerRunner,
                                 InMemoryMetricsRepository, ResultKey)
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(0, {})
        first = (ColumnProfilerRunner().on_data(df_numeric_vals)
                 .use_repository(repo).save_or_append_result(key).run())

        group = f"profile-reuse-{uuid.uuid4().hex[:8]}"
        tracker = spark.sparkContext.statusTracker()
        spark.sparkContext.setJobGroup(group, group)
        try:
            reused = (ColumnProfilerRunner().on_data(df_numeric_vals)
                      .use_repository(repo)
                      .reuse_existing_results_for_key(key).run())
        finally:
            spark.sparkContext.setJobGroup(None, None)
        assert len(tracker.getJobIdsForGroup(group) or []) == 0
        for c in first:
            assert reused[c].completeness == first[c].completeness
            assert reused[c].mean == first[c].mean
            assert reused[c].data_type == first[c].data_type
            if first[c].histogram is not None:
                assert {k: v.absolute
                        for k, v in reused[c].histogram.values.items()} == \
                       {k: v.absolute
                        for k, v in first[c].histogram.values.items()}

    def test_saved_profile_metrics_reusable_by_analysis_runner(
            self, df_numeric_vals):
        """:68-86 — Size/Completeness computed by a later AnalysisRunner
        are a subset of what the profile run stored."""
        from deequ_spark import (ColumnProfilerRunner, Completeness,
                                 InMemoryMetricsRepository, ResultKey, Size,
                                 do_analysis_run)
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(0, {})
        (ColumnProfilerRunner().on_data(df_numeric_vals)
         .use_repository(repo).save_or_append_result(key).run())
        ctx = do_analysis_run(df_numeric_vals, [Size(), Completeness("item")])
        stored = repo.load_by_key(key).metric_map
        for a, m in ctx.metric_map.items():
            assert a in stored and stored[a].value == m.value

    def test_new_results_preferred_on_conflict(self, df_numeric_vals):
        """:116-143 — a stale Size=100 in the repository is overwritten by
        the profile run's fresh value."""
        from deequ_spark import (ColumnProfilerRunner,
                                 InMemoryMetricsRepository, ResultKey, Size)
        from deequ_spark.metrics import DoubleMetric, Entity
        from deequ_spark.runners.analysis_runner import AnalyzerContext
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(0, {})
        stale = AnalyzerContext({Size(): DoubleMetric(
            Entity.DATASET, "Size", "*", 100.0)})
        repo.save(key, stale)
        (ColumnProfilerRunner().on_data(df_numeric_vals)
         .use_repository(repo).save_or_append_result(key).run())
        assert repo.load_by_key(key).metric_map[Size()].value == 6.0

    def test_fail_if_results_missing(self, df_numeric_vals):
        """:162-174 — strict reuse over an EMPTY repository raises."""
        from deequ_spark import (ColumnProfilerRunner,
                                 InMemoryMetricsRepository, ResultKey)
        with pytest.raises(ValueError, match="no stored metrics"):
            (ColumnProfilerRunner().on_data(df_numeric_vals)
             .use_repository(InMemoryMetricsRepository())
             .reuse_existing_results_for_key(ResultKey.make(0, {}),
                                             fail_if_results_missing=True)
             .run())

    def test_save_profiles_json_to_path(self, df_numeric_vals, tmp_path):
        """:145-160 — profiles serialize to the reference JSON shape
        (ColumnProfile.scala:86-214) at the given path."""
        import json
        from deequ_spark import ColumnProfilerRunner
        path = str(tmp_path / "column-profiles.json")
        (ColumnProfilerRunner().on_data(df_numeric_vals)
         .save_column_profiles_json_to_path(path).run())
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        cols = {c["column"]: c for c in doc["columns"]}
        assert set(cols) == {"item", "att1", "att2", "att3"}
        assert cols["att1"]["mean"] == 3.5
        assert cols["att1"]["completeness"] == 1.0
        assert cols["att1"]["dataType"] == "Integral"
        assert {h["value"]: h["count"]
                for h in cols["att1"]["histogram"]} == {
                    "1": 1, "2": 1, "3": 1, "4": 1, "5": 1, "6": 1}

    def test_kll_disabled_by_default_enabled_on_request(self, df_numeric_vals):
        """:176-199 — no KLL by default; withKLLProfiling attaches one to
        every numeric profile."""
        from deequ_spark import ColumnProfilerRunner
        plain = ColumnProfilerRunner().on_data(df_numeric_vals).run()
        assert all(plain[c].kll is None for c in ("att1", "att2", "att3"))
        with_kll = (ColumnProfilerRunner().on_data(df_numeric_vals)
                    .with_kll_profiling().run())
        assert all(with_kll[c].kll is not None
                   for c in ("att1", "att2", "att3"))


class TestMultipleResultsLoaderReferenceParity:
    """Transcribed from /root/reference/src/test/scala/com/amazon/deequ/
    repository/MetricsRepositoryMultipleResultsLoaderTest.scala (line refs
    per test) over the getDfFull fixture."""

    DATE_ONE = 123
    DATE_TWO = 987

    @pytest.fixture(scope="class")
    def repo_and_results(self, spark):
        from deequ_spark import (Completeness, Distinctness,
                                 InMemoryMetricsRepository, Size,
                                 Uniqueness, do_analysis_run)
        df = spark.createDataFrame(
            [("1", "a", "c"), ("2", "a", "c"), ("3", "a", "c"),
             ("4", "b", "d")], "item string, att1 string, att2 string")
        results = do_analysis_run(df, [
            Size(), Distinctness(("item",)), Completeness("att1"),
            Uniqueness(("att1", "att2"))])
        return InMemoryMetricsRepository(), results

    def test_dataframe_with_tag_columns(self, spark, repo_and_results):
        """:42-71 — rows carry dataset_date + a column per tag."""
        from deequ_spark import ResultKey
        repo, results = repo_and_results
        repo.save(ResultKey(self.DATE_ONE, {"region": "EU"}), results)
        repo.save(ResultKey(self.DATE_TWO, {"region": "NA"}), results)
        got = {tuple(r) for r in
               repo.load().get_success_metrics_as_dataframe(spark).collect()}
        expected = set()
        for date, region in ((self.DATE_ONE, "EU"), (self.DATE_TWO, "NA")):
            expected |= {
                ("Dataset", "*", "Size", 4.0, date, region),
                ("Column", "item", "Distinctness", 1.0, date, region),
                ("Column", "att1", "Completeness", 1.0, date, region),
                ("Multicolumn", "att1,att2", "Uniqueness", 0.25, date,
                 region)}
        assert got == expected

    def test_json_rows(self, repo_and_results):
        """:74-107."""
        import json
        from deequ_spark import ResultKey
        repo, results = repo_and_results
        repo.save(ResultKey(self.DATE_ONE, {"region": "EU"}), results)
        rows = json.loads(repo.load().get_success_metrics_as_json())
        assert {(r["entity"], r["name"], r["value"], r["region"],
                 r["dataset_date"]) for r in rows} >= {
            ("Dataset", "Size", 4.0, "EU", self.DATE_ONE),
            ("Multicolumn", "Uniqueness", 0.25, "EU", self.DATE_ONE)}

    def test_after_before_conjunction_empty(self, spark, repo_and_results):
        """:110-145 — after(DATE_TWO).before(DATE_ONE) is an empty set."""
        from deequ_spark import ResultKey
        repo, results = repo_and_results
        repo.save(ResultKey(self.DATE_ONE, {"region": "EU"}), results)
        repo.save(ResultKey(self.DATE_TWO, {"region": "NA"}), results)
        df = (repo.load().after(self.DATE_TWO).before(self.DATE_ONE)
              .get_success_metrics_as_dataframe(spark))
        assert df.count() == 0

    def test_disjoint_tag_sets_null_fill(self, spark, repo_and_results):
        """:150-196 — keys with DIFFERENT tags union their tag columns,
        null where a key lacks the tag."""
        from deequ_spark import ResultKey
        repo, results = repo_and_results
        repo.save(ResultKey(self.DATE_ONE,
                            {"region": "EU", "dataset_name": "Some"}),
                  results)
        repo.save(ResultKey(self.DATE_TWO,
                            {"region": "NA", "dataset_version": "2.0"}),
                  results)
        df = repo.load().get_success_metrics_as_dataframe(spark)
        assert set(df.columns) == {"entity", "instance", "name", "value",
                                   "dataset_date", "region",
                                   "dataset_name", "dataset_version"}
        by_date = {r["dataset_date"]: r for r in df.collect()
                   if r["name"] == "Size"}
        eu = by_date[self.DATE_ONE]
        assert (eu["region"], eu["dataset_name"],
                eu["dataset_version"]) == ("EU", "Some", None)
        na = by_date[self.DATE_TWO]
        assert (na["region"], na["dataset_name"],
                na["dataset_version"]) == ("NA", None, "2.0")


class TestSuggestionRunnerReferenceParity:
    """Transcribed from /root/reference/src/test/scala/com/amazon/deequ/
    suggestions/ConstraintSuggestionRunnerTest.scala (line refs per
    test)."""

    @pytest.fixture(scope="class")
    def df_numeric_vals(self, spark):
        rows = [("1", 1, 0, 0), ("2", 2, 0, 0), ("3", 3, 0, 0),
                ("4", 4, 5, 4), ("5", 5, 6, 6), ("6", 6, 7, 7)]
        return spark.createDataFrame(rows,
                                     "item string, att1 int, att2 int, att3 int")

    def test_save_and_reuse_suggestion_run(self, spark, df_numeric_vals):
        """:41-84 — repository-saved metrics replay a suggestion run with
        zero Spark jobs and identical suggestions."""
        import uuid
        from deequ_spark import (ConstraintSuggestionRunner,
                                 InMemoryMetricsRepository, ResultKey)
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(0, {})
        first = (ConstraintSuggestionRunner().on_data(df_numeric_vals)
                 .use_repository(repo).save_or_append_result(key).run())
        group = f"sugg-reuse-{uuid.uuid4().hex[:8]}"
        tracker = spark.sparkContext.statusTracker()
        spark.sparkContext.setJobGroup(group, group)
        try:
            reused = (ConstraintSuggestionRunner().on_data(df_numeric_vals)
                      .use_repository(repo)
                      .reuse_existing_results_for_key(key).run())
        finally:
            spark.sparkContext.setJobGroup(None, None)
        # numRecords replays from the stored Size metric — zero jobs
        # (ConstraintSuggestionRunnerTest.scala:63 jobNumberReusing == 0)
        assert len(tracker.getJobIdsForGroup(group) or []) == 0
        names = lambda out: {(c, s.rule_name)  # noqa: E731
                             for c, ss in out["suggestions"].items()
                             for s in ss}
        assert names(reused) == names(first)

    def test_saved_metrics_reusable_by_analysis_runner(self, df_numeric_vals):
        """:86-113."""
        from deequ_spark import (Completeness, ConstraintSuggestionRunner,
                                 InMemoryMetricsRepository, ResultKey, Size,
                                 do_analysis_run)
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(0, {})
        (ConstraintSuggestionRunner().on_data(df_numeric_vals)
         .use_repository(repo).save_or_append_result(key).run())
        ctx = do_analysis_run(df_numeric_vals, [Size(), Completeness("item")])
        stored = repo.load_by_key(key).metric_map
        for a, m in ctx.metric_map.items():
            assert a in stored and stored[a].value == m.value

    def test_suggestions_json_wire_shape(self, df_numeric_vals, tmp_path):
        """ConstraintSuggestion.scala:57-79 + addSharedProperties:120-134:
        the constraint_suggestions JSON document."""
        import json
        from deequ_spark import ConstraintSuggestionRunner
        path = str(tmp_path / "suggestions.json")
        (ConstraintSuggestionRunner().on_data(df_numeric_vals)
         .save_constraint_suggestions_json_to_path(path).run())
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        rows = doc["constraint_suggestions"]
        assert rows, "no suggestions emitted"
        required = {"constraint_name", "column_name", "current_value",
                    "description", "suggesting_rule", "rule_description",
                    "code_for_constraint"}
        assert all(required <= set(r) for r in rows)
        complete = [r for r in rows
                    if r["suggesting_rule"] == "CompleteIfCompleteRule"]
        assert complete
        assert complete[0]["rule_description"] == (
            "If a column is complete in the sample, we suggest a NOT NULL "
            "constraint")

    def test_evaluation_results_json(self, df_numeric_vals, tmp_path):
        """ConstraintSuggestion.scala:81-118 — every suggestion carries a
        constraint_result_on_test_set."""
        import json
        from deequ_spark import ConstraintSuggestionRunner
        path = str(tmp_path / "evaluation.json")
        (ConstraintSuggestionRunner().on_data(df_numeric_vals)
         .use_train_test_split_with_test_set_ratio(0.3)
         .save_evaluation_results_json_to_path(path).run())
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        rows = doc["constraint_suggestions"]
        assert rows
        assert all(r["constraint_result_on_test_set"]
                   in ("Success", "Failure", "Unknown") for r in rows)


class TestDatatypeSuggestion:
    """Transcribed from DatatypeSuggestionTest.scala:29-41 — profiling an
    all-empty-string column infers String (not Integral/Unknown), fixture
    FixtureSupport.getEmptyColumnDataDf:31-42."""

    def test_empty_string_column_infers_string(self, spark):
        rows = [(i, "", "a" if i % 3 else "b",
                 "f" if i % 2 == 0 else None) for i in range(6)]
        df = spark.createDataFrame(rows,
                                   "id int, att1 string, att2 string, att3 string")
        p = profile_columns(df, ["att1"])["att1"]
        assert p.is_data_type_inferred
        assert p.data_type == DataTypeInstances.STRING


class TestRepositorySaveSemantics:
    """FileSystemMetricsRepositoryTest.scala:67-92 and :216-235 — failed
    metrics are dropped on save; for_analyzers([]) yields nothing."""

    def _mixed_context(self):
        from deequ_spark.metrics import DoubleMetric, Entity
        from deequ_spark.runners.analysis_runner import AnalyzerContext
        return AnalyzerContext({
            Size(): DoubleMetric(Entity.DATASET, "Size", "*", 5.0),
            Completeness("ColumnA"): DoubleMetric(
                Entity.COLUMN, "Completeness", "ColumnA", None,
                RuntimeError("error")),
        })

    def test_save_drops_failed_metrics_in_memory(self):
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(123, {"region": "EU"})
        repo.save(key, self._mixed_context())
        loaded = repo.load_by_key(key).metric_map
        assert Size() in loaded and loaded[Size()].value == 5.0
        assert Completeness("ColumnA") not in loaded

    def test_save_drops_failed_metrics_filesystem(self, tmp_path):
        repo = FileSystemMetricsRepository(str(tmp_path / "m.json"))
        key = ResultKey.make(123, {"region": "EU"})
        repo.save(key, self._mixed_context())
        loaded = repo.load_by_key(key).metric_map
        assert Size() in loaded
        assert Completeness("ColumnA") not in loaded

    def test_for_analyzers_empty_yields_nothing(self, spark, df_numeric):
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(123, {"region": "EU"})
        repo.save(key, do_analysis_run(df_numeric,
                                       [Size(), Completeness("att1")]))
        df = (repo.load().for_analyzers([])
              .get_success_metrics_as_dataframe(spark))
        assert df.count() == 0


class TestAdviceR6Fixes:
    """Round-6 advisor findings, each reproduced then fixed."""

    def test_kll_metric_flattens_in_simplified_outputs(self, spark):
        """ADVICE r6 #1: a successful KLLMetric in the context made
        success_metrics_as_json raise TypeError(float() on
        BucketDistribution). KLLMetric.flattened now mirrors
        KLLMetric.scala:103-120: KLL.buckets + per-bucket
        KLL.low/high/count DoubleMetrics."""
        import json as _json
        from deequ_spark import KLLParameters, KLLSketch
        df = spark.createDataFrame([(float(i),) for i in range(1, 11)],
                                   "v double")
        ctx = do_analysis_run(df, [
            KLLSketch("v", KLLParameters(number_of_buckets=2)), Size()])
        rows = _json.loads(ctx.success_metrics_as_json())
        names = [r["name"] for r in rows]
        assert names.count("KLL.buckets") == 1
        assert names.count("KLL.low") == 2 and names.count("KLL.count") == 2
        buckets = next(r for r in rows if r["name"] == "KLL.buckets")
        assert buckets == {"entity": "Column", "instance": "v",
                           "name": "KLL.buckets", "value": 2.0}
        counts = sum(r["value"] for r in rows if r["name"] == "KLL.count")
        assert counts == 10.0
        # and the DataFrame + repository loader paths take the same route
        sdf = ctx.success_metrics_as_dataframe(spark)
        assert sdf.where(sdf.name == "KLL.buckets").count() == 1
        repo = InMemoryMetricsRepository()
        repo.save(ResultKey(1, {}), ctx)
        loaded = _json.loads(repo.load().get_success_metrics_as_json())
        assert "KLL.buckets" in {r["name"] for r in loaded}

    def test_reserved_tag_names_do_not_clobber_metric_columns(self, spark):
        """ADVICE r6 #2: a ResultKey tag named 'value'/'name' overwrote
        metric data in the simplified rows. Parity fix mirrors
        AnalysisResult.scala formatTagColumnName*: sanitize + '_2'
        suffix on collision."""
        import json as _json
        df = spark.createDataFrame([("a",), ("b",)], "x string")
        ctx = do_analysis_run(df, [Size()])
        repo = InMemoryMetricsRepository()
        repo.save(ResultKey(5, {"value": "t1", "name": "t2",
                                "My Tag!": "t3"}), ctx)
        rows = _json.loads(repo.load().get_success_metrics_as_json())
        (row,) = rows
        assert row["value"] == 2.0 and row["name"] == "Size"
        assert row["value_2"] == "t1" and row["name_2"] == "t2"
        assert row["mytag"] == "t3"
        sdf = repo.load().get_success_metrics_as_dataframe(spark)
        assert {"value", "value_2", "name_2", "mytag"} <= set(sdf.columns)

    def test_same_provider_aggregate_chain_with_overwrite(self, tmp_path,
                                                          spark):
        """ADVICE r6 #3: chaining aggregate_with + save_states_with on
        ONE FileSystemStateProvider needs allow_overwrite=True; the
        default refuses the second persist (HdfsStateProvider parity).
        With it, chained metrics equal one run over the union."""
        d1 = spark.createDataFrame([(1,), (2,)], "v int")
        d2 = spark.createDataFrame([(3,), (4,), (5,)], "v int")
        strict = FileSystemStateProvider(str(tmp_path / "strict"),
                                         spark=spark)
        do_analysis_run(d1, [Size()], save_states_with=strict)
        ctx = do_analysis_run(d2, [Size()], aggregate_with=strict,
                              save_states_with=strict)
        (metric,) = ctx.metric_map.values()
        assert not metric.is_success
        assert isinstance(metric.error, FileExistsError)
        # frequency states too: a merged state still reads the prior
        # state's files lazily while the provider replaces them
        from deequ_spark import Histogram
        analyzers = [Size(), Histogram("v"), Uniqueness(("v",))]
        prov = FileSystemStateProvider(str(tmp_path / "chain"), spark=spark,
                                       allow_overwrite=True)
        do_analysis_run(d1, analyzers, save_states_with=prov)
        seen = d1
        # chained twice: from the second delta on, the states on disk
        # are the merged ones
        for delta in (d2, d2.selectExpr("v + 3 AS v"),
                      spark.createDataFrame([(1,)], "v int")):
            ctx = do_analysis_run(delta, analyzers, aggregate_with=prov,
                                  save_states_with=prov)
            seen = seen.unionByName(delta)
            union = do_analysis_run(seen, analyzers)
            for a in analyzers:
                m, want = ctx.metric_map[a], union.metric_map[a]
                assert m.is_success, (a, m.error)
                assert m.value == want.value, (a, m.value, want.value)
        assert ctx.metric_map[Size()].value == 9.0

    def test_anomaly_history_non_numeric_becomes_missing(self, spark):
        """ADVICE r6 #4: a successful non-numeric historic metric (e.g. a
        Distribution) must surface as a MISSING observation at its date —
        not silently drop the date — and bools are not numeric history."""
        from deequ_spark.anomaly import extract_metric_values
        from deequ_spark.metrics import (Distribution, DistributionValue,
                                         DoubleMetric, Entity, Metric)
        dist = Distribution({"a": DistributionValue(1, 1.0)}, 1)
        series = [
            (1, DoubleMetric(Entity.DATASET, "Size", "*", 4.0)),
            (2, Metric(Entity.COLUMN, "Histogram", "x", dist)),
            (3, DoubleMetric(Entity.DATASET, "Size", "*", True)),
            (4, DoubleMetric(Entity.DATASET, "Size", "*", 5.0)),
        ]
        check = Check(CheckLevel.ERROR, "anomaly")
        repo = InMemoryMetricsRepository()
        # build history through the public path: save contexts, then run
        # the anomaly assertion over the loaded series
        from deequ_spark.anomaly import DataPoint
        points = extract_metric_values(series)
        filtered = [p if (isinstance(p.metric_value, (int, float))
                          and not isinstance(p.metric_value, bool))
                    else DataPoint(p.time, None) for p in points]
        times = [(p.time, p.metric_value) for p in filtered]
        assert times == [(1, 4.0), (2, None), (3, None), (4, 5.0)]


class TestSparkTableRepositoryReferenceParity:
    """Transcribed from /root/reference/src/test/scala/com/amazon/deequ/
    repository/sparktable/SparkTableMetricsRepositoryTest.scala (line refs
    per test). The iceberg variant (:104-123) is catalog-bound — the
    same save/load contract runs here against the default parquet
    catalog, which is what that test asserts once the catalog resolves."""

    @staticmethod
    def _metric(name, value):
        from deequ_spark.metrics import DoubleMetric, Entity
        return DoubleMetric(Entity.COLUMN, name, "", float(value))

    @staticmethod
    def _ctx(analyzer, metric):
        from deequ_spark.runners.analysis_runner import AnalyzerContext
        ctx = AnalyzerContext()
        ctx.metric_map[analyzer] = metric
        return ctx

    def test_save_and_load_single_metric(self, spark, tmp_path):
        """:38-53 'save and load a single metric'."""
        from deequ_spark import ResultKey, Size, SparkTableMetricsRepository
        repo = SparkTableMetricsRepository(
            spark, "stm_single", path=str(tmp_path / "t1"))
        key = ResultKey(1_700_000_000_000, {"tag": "value"})
        metric = self._metric("m1", 100)
        repo.save(key, self._ctx(Size(), metric))
        loaded = repo.load_by_key(key)
        assert loaded is not None
        got = loaded.metric_map[Size()]
        assert (got.name, got.value) == ("m1", 100.0)
        spark.sql("DROP TABLE IF EXISTS stm_single")

    def test_save_multiple_metrics_and_load(self, spark, tmp_path):
        """:55-75 'save multiple metrics and load them'."""
        from deequ_spark import ResultKey, Size, SparkTableMetricsRepository
        repo = SparkTableMetricsRepository(
            spark, "stm_multi", path=str(tmp_path / "t2"))
        repo.save(ResultKey(1, {"tag": "tagValue1"}),
                  self._ctx(Size(), self._metric("m1", 100)))
        repo.save(ResultKey(2, {"tag": "tagValue2"}),
                  self._ctx(Size(), self._metric("m2", 101)))
        loaded = repo.load().get()
        assert len(loaded) == 2
        tags = {t for key, _ in loaded for t in key.tag_dict.values()}
        assert tags == {"tagValue1", "tagValue2"}
        spark.sql("DROP TABLE IF EXISTS stm_multi")

    def test_with_tag_values_and_for_analyzers(self, spark, tmp_path):
        """:77-102 'save and load metrics with tag' — withTagValues
        filters to the matching key; forAnalyzers keeps both entries."""
        from deequ_spark import ResultKey, Size, SparkTableMetricsRepository
        repo = SparkTableMetricsRepository(
            spark, "stm_tags", path=str(tmp_path / "t3"))
        repo.save(ResultKey(1, {"tag": "A"}),
                  self._ctx(Size(), self._metric("m1", 100)))
        repo.save(ResultKey(2, {"tag": "B"}),
                  self._ctx(Size(), self._metric("m2", 101)))
        for_a = repo.load().with_tag_values({"tag": "A"}).get()
        assert len(for_a) == 1
        tags_a = {t: v for key, _ in for_a for t, v in key.tag_dict.items()}
        assert tags_a == {"tag": "A"}
        both = repo.load().for_analyzers([Size()]).get()
        assert len(both) == 2
        spark.sql("DROP TABLE IF EXISTS stm_tags")


class TestAnomalyDetectionRepositoryIntegration:
    """Transcribed from repository/
    MetricsRepositoryAnomalyDetectionIntegrationTest.scala:41-215 — the
    full addAnomalyCheck flow against BOTH repository kinds: 30 days of
    July-2018 history per marketplace, EU-filtered + date-windowed
    configs, AbsoluteChange Size check (new size 8 < last 10 → ERROR)
    and OnlineNormal Mean check (206.625 within 2σ of (1..30)·7 →
    SUCCESS), plus saveOrAppendResult of the current run."""

    @staticmethod
    def _date(y, m, d):
        import datetime
        return int(datetime.datetime(y, m, d,
                                     tzinfo=datetime.timezone.utc)
                   .timestamp() * 1000)

    def _test_data(self, spark):
        return spark.createDataFrame(
            [("item1", "US", 100, "EU"), ("item1", "US", 1000, "EU"),
             ("item1", "US", 20, "EU"), ("item2", "DE", 20, "EU"),
             ("item2", "DE", 333, "EU"), ("item3", None, 12, "EU"),
             ("item4", None, 45, "EU"), ("item5", None, 123, "EU")],
            "item string, origin string, sales int, marketplace string")

    def _fill_history(self, repo):
        import math
        from deequ_spark import Mean, ResultKey, Size
        from deequ_spark.metrics import DoubleMetric, Entity
        from deequ_spark.runners.analysis_runner import AnalyzerContext
        for past_day in range(1, 31):
            eu, na = AnalyzerContext(), AnalyzerContext()
            eu.metric_map[Size()] = DoubleMetric(
                Entity.DATASET, "Size", "*", math.floor(past_day / 3))
            eu.metric_map[Mean("sales")] = DoubleMetric(
                Entity.COLUMN, "Mean", "sales", past_day * 7.0)
            na.metric_map[Size()] = DoubleMetric(
                Entity.DATASET, "Size", "*", float(past_day))
            na.metric_map[Mean("sales")] = DoubleMetric(
                Entity.COLUMN, "Mean", "sales", past_day * 9.0)
            dt = self._date(2018, 7, past_day)
            repo.save(ResultKey(dt, {"marketplace": "EU"}), eu)
            repo.save(ResultKey(dt, {"marketplace": "NA"}), na)

    def _run(self, spark, repo):
        from deequ_spark import (AbsoluteChangeStrategy, Check, CheckLevel,
                                 Maximum, Mean, Minimum,
                                 OnlineNormalStrategy, ResultKey, Size,
                                 VerificationSuite)
        from deequ_spark.anomaly import AnomalyCheckConfig
        data = self._test_data(spark)
        self._fill_history(repo)
        other = (Check(CheckLevel.ERROR, "check")
                 .is_complete("item").is_complete("origin")
                 .is_contained_in("marketplace", ["EU"])
                 .is_non_negative("sales"))
        filter_eu = {"marketplace": "EU"}
        after, before = self._date(2018, 1, 1), self._date(2018, 8, 1)
        size_cfg = AnomalyCheckConfig(
            CheckLevel.ERROR, "Size only increases", filter_eu, after,
            before)
        mean_cfg = AnomalyCheckConfig(
            CheckLevel.WARNING, "Sales mean within 2 standard deviations",
            filter_eu, after, before)
        return (VerificationSuite().on_data(data)
                .add_check(other)
                .add_required_analyzers([Maximum("sales"),
                                         Minimum("sales")])
                .use_repository(repo)
                .add_anomaly_check(AbsoluteChangeStrategy(max_rate_decrease=0),
                                   Size(), size_cfg)
                .add_anomaly_check(
                    OnlineNormalStrategy(upper_deviation_factor=2,
                                         ignore_anomalies=False),
                    Mean("sales"), mean_cfg)
                .save_or_append_result(
                    ResultKey(self._date(2018, 8, 1),
                              {"marketplace": "EU"}))
                .run())

    def _assert_result(self, result):
        from deequ_spark import CheckStatus
        by_desc = {c.description: r for c, r in result.check_results.items()}
        # new Size 8 < last value 10 → anomaly → ERROR
        assert by_desc["Size only increases"].status == CheckStatus.ERROR
        # new Mean 206.625 within 2σ of the EU history → SUCCESS
        assert by_desc["Sales mean within 2 standard deviations"].status \
            == CheckStatus.SUCCESS

    def test_in_memory_repository(self, spark):
        """:43-49."""
        from deequ_spark import InMemoryMetricsRepository
        self._assert_result(self._run(spark, InMemoryMetricsRepository()))

    def test_filesystem_repository(self, spark, tmp_path):
        """:51-57."""
        from deequ_spark import FileSystemMetricsRepository
        repo = FileSystemMetricsRepository(
            str(tmp_path / "repository-test.json"))
        self._assert_result(self._run(spark, repo))


class TestStateProviderHistogramParity:
    """StateProviderTest.scala:177-210 — Histogram and HistogramBinned
    states are storable and loadable; loaded states recompute the
    original metrics (memory AND filesystem)."""

    def test_histogram_states_both_providers(self, spark, tmp_path,
                                             df_numeric):
        from deequ_spark.analyzers.grouping import Histogram, HistogramBinned
        for provider in (InMemoryStateProvider(),
                         FileSystemStateProvider(str(tmp_path / "h"),
                                                 spark)):
            hist = Histogram("att1")
            binned = HistogramBinned("att1", bin_count=3)
            do_analysis_run(df_numeric, [hist, binned],
                            save_states_with=provider)
            hs = provider.load(hist)
            assert hs is not None
            m = hist.compute_metric_from_state(hs)
            assert m.is_success and m.value.number_of_bins == 6
            bs = provider.load(binned)
            assert bs is not None
            bm = binned.compute_metric_from_state(bs)
            assert bm.is_success and bm.value.number_of_bins == 3
            assert sum(v.absolute for v in bm.value.values.values()) == 6

    def test_binned_state_merges_after_filesystem_roundtrip(self, spark,
                                                            tmp_path,
                                                            df_numeric):
        """Loaded binned states merge with fresh ones (tuple fields
        survive the JSON round trip) — the incremental-binned path."""
        from deequ_spark.analyzers.grouping import HistogramBinned
        analyzer = HistogramBinned("att1", custom_edges=(0.5, 3.5, 6.5))
        prov = FileSystemStateProvider(str(tmp_path / "inc"), spark)
        do_analysis_run(df_numeric, [analyzer], save_states_with=prov)
        loaded = prov.load(analyzer)
        mem = InMemoryStateProvider()
        do_analysis_run(df_numeric, [analyzer], save_states_with=mem)
        fresh = mem.load(analyzer)
        merged = loaded.merge(fresh)   # JSON-round-tripped × in-memory
        m = analyzer.compute_metric_from_state(merged)
        assert sum(v.absolute for v in m.value.values.values()) == 12


class TestApproxQuantileStatePersistence:
    """The mergeable KLL-backed ApproxQuantileState round-trips through
    FileSystemStateProvider and still answers quantile queries."""

    def test_filesystem_roundtrip(self, spark, tmp_path):
        from deequ_spark import ApproxQuantile
        df = spark.createDataFrame([(float(i),) for i in range(1, 101)],
                                   "v double")
        a = ApproxQuantile("v", 0.5)
        prov = FileSystemStateProvider(str(tmp_path / "aq"), spark)
        state = a.compute_state_from(df)
        prov.persist(a, state)
        loaded = prov.load(a)
        m = a.compute_metric_from_state(loaded)
        assert m.is_success and abs(m.value - 50.0) <= 2.0
        merged = loaded.merge(state)
        m2 = a.compute_metric_from_state(merged)
        assert abs(m2.value - 50.0) <= 2.0


class TestInMemoryRepositoryReferenceParity:
    """InMemoryMetricsRepositoryTest.scala (line refs per test): the
    evaluate() helper runs Size + Distinctness(item) + Completeness(att1)
    + Uniqueness(att1,att2) over getDfFull; dates are epoch-seconds and
    the tag map is {'Region': 'EU'/'NA'} (capital R — the simplified
    DataFrame lowercases it to a 'region' column)."""

    import datetime as _dt
    DATE_ONE = int(_dt.datetime(2017, 10, 14, 10, 10, 10,
                                tzinfo=_dt.timezone.utc).timestamp())
    DATE_TWO = int(_dt.datetime(2017, 10, 15, 10, 10, 10,
                                tzinfo=_dt.timezone.utc).timestamp())
    DATE_THREE = int(_dt.datetime(2017, 10, 16, 10, 10, 10,
                                  tzinfo=_dt.timezone.utc).timestamp())
    REGION_EU = {"Region": "EU"}
    REGION_NA = {"Region": "NA"}

    def _evaluate(self, spark):
        from deequ_spark import (Completeness, Distinctness,
                                 InMemoryMetricsRepository, Size,
                                 Uniqueness, do_analysis_run)
        df = spark.createDataFrame(
            [("1", "a", "c"), ("2", "a", "c"), ("3", "a", "c"),
             ("4", "b", "d")], "item string, att1 string, att2 string")
        results = do_analysis_run(df, [
            Size(), Distinctness(("item",)), Completeness("att1"),
            Uniqueness(("att1", "att2"))])
        return results, InMemoryMetricsRepository()

    def _expected(self, *date_regions):
        rows = set()
        for date, region in date_regions:
            rows |= {("Dataset", "*", "Size", 4.0, date, region),
                     ("Column", "item", "Distinctness", 1.0, date, region),
                     ("Column", "att1", "Completeness", 1.0, date, region),
                     ("Multicolumn", "att1,att2", "Uniqueness", 0.25,
                      date, region)}
        return rows

    def test_save_and_retrieve_analyzer_contexts(self, spark):
        """:44-59 — loadByKey round-trips the exact AnalyzerContext."""
        from deequ_spark import ResultKey
        results, repo = self._evaluate(spark)
        key = ResultKey(self.DATE_ONE, self.REGION_EU)
        repo.save(key, results)
        loaded = repo.load_by_key(key)
        assert loaded.metric_map == results.metric_map

    def test_save_ignores_failed_metrics(self, spark):
        """:61-85 — only successful metrics survive the save."""
        from deequ_spark import (AnalyzerContext, Completeness,
                                 InMemoryMetricsRepository, ResultKey, Size)
        from deequ_spark.metrics import DoubleMetric, Entity
        size_m = DoubleMetric(Entity.DATASET, "Size", "*", 5.0)
        fail_m = Completeness("ColumnA").to_failure_metric(
            RuntimeError("error"))
        ctx = AnalyzerContext({Size(): size_m,
                               Completeness("ColumnA"): fail_m})
        repo = InMemoryMetricsRepository()
        key = ResultKey(self.DATE_ONE, self.REGION_EU)
        repo.save(key, ctx)
        loaded = repo.load_by_key(key)
        assert loaded.metric_map == {Size(): size_m}

    def test_save_and_retrieve_analysis_results(self, spark):
        """:87-115 — after(DATE_ONE) inclusive: both keys, 'Region' tag
        lowercased into the 'region' column."""
        from deequ_spark import ResultKey
        results, repo = self._evaluate(spark)
        repo.save(ResultKey(self.DATE_ONE, self.REGION_EU), results)
        repo.save(ResultKey(self.DATE_TWO, self.REGION_NA), results)
        df = (repo.load().after(self.DATE_ONE)
              .get_success_metrics_as_dataframe(spark))
        assert set(df.columns) == {"entity", "instance", "name", "value",
                                   "dataset_date", "region"}
        assert {tuple(r) for r in df.collect()} == self._expected(
            (self.DATE_ONE, "EU"), (self.DATE_TWO, "NA"))

    def test_time_frame_restriction(self, spark):
        """:117-143 — after(TWO).before(TWO) pins exactly DATE_TWO."""
        from deequ_spark import ResultKey
        results, repo = self._evaluate(spark)
        repo.save(ResultKey(self.DATE_ONE, self.REGION_EU), results)
        repo.save(ResultKey(self.DATE_TWO, self.REGION_NA), results)
        repo.save(ResultKey(self.DATE_THREE, self.REGION_NA), results)
        df = (repo.load().after(self.DATE_TWO).before(self.DATE_TWO)
              .get_success_metrics_as_dataframe(spark))
        assert {tuple(r) for r in df.collect()} == self._expected(
            (self.DATE_TWO, "NA"))

    def test_tag_value_restriction(self, spark):
        """:145-169 — withTagValues({'Region': 'EU'})."""
        from deequ_spark import ResultKey
        results, repo = self._evaluate(spark)
        repo.save(ResultKey(self.DATE_ONE, self.REGION_EU), results)
        repo.save(ResultKey(self.DATE_TWO, self.REGION_NA), results)
        df = (repo.load().after(self.DATE_ONE)
              .with_tag_values(self.REGION_EU)
              .get_success_metrics_as_dataframe(spark))
        assert {tuple(r) for r in df.collect()} == self._expected(
            (self.DATE_ONE, "EU"))

    def test_for_analyzers_restriction(self, spark):
        """:171-199 — forAnalyzers keeps only the named analyzers."""
        from deequ_spark import Completeness, ResultKey, Uniqueness
        results, repo = self._evaluate(spark)
        repo.save(ResultKey(self.DATE_ONE, self.REGION_EU), results)
        repo.save(ResultKey(self.DATE_TWO, self.REGION_NA), results)
        df = (repo.load().after(self.DATE_ONE)
              .for_analyzers([Completeness("att1"),
                              Uniqueness(("att1", "att2"))])
              .get_success_metrics_as_dataframe(spark))
        expected = {r for r in self._expected((self.DATE_ONE, "EU"),
                                              (self.DATE_TWO, "NA"))
                    if r[2] in ("Completeness", "Uniqueness")}
        assert {tuple(r) for r in df.collect()} == expected

    def test_too_restrictive_returns_empty(self, spark):
        """:201-228 — after(TWO).before(ONE) yields no results."""
        from deequ_spark import ResultKey
        results, repo = self._evaluate(spark)
        repo.save(ResultKey(self.DATE_ONE, self.REGION_EU), results)
        repo.save(ResultKey(self.DATE_TWO, self.REGION_NA), results)
        assert (repo.load().after(self.DATE_TWO).before(self.DATE_ONE)
                .get()) == []
