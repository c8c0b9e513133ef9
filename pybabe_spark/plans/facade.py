"""Fluent facade mirroring PyBabe's chain API.

Reference lifecycle (SURVEY §3): ``Babe().pull(...).op(...).push(...)`` —
the chain of BabeBase objects is the IR (pybabe/base.py:255-269). Here the
IR is the DataFrame's Catalyst logical plan: each method returns a new
``Babe`` wrapping a transformed DataFrame; terminals (`push`, `to_list`)
trigger actions. No custom machinery — the facade is sugar over
:mod:`pybabe_spark.operators`.

Most chain methods only forward, and none of those is written out:
``babe.name(*args, **kwargs)`` is ``babe._wrap(op(babe.df, *args,
**kwargs))`` with every ``Babe`` argument unwrapped to its DataFrame.
They are bound from the ``_FORWARDS`` table when this module is imported
— the reference's ``BabeBase.register(name, fn)`` (pybabe/base.py:
263-269) — and carry the operator's docstring and signature. To add
one, put its name into the operator module's ``_FORWARDS`` entry, as
``name=op`` when the chain name differs from the operator's.

Write a method in the class body only when it does more than forward:
its public parameter names or defaults differ from the operator's
(keyword callers rely on them), it adds a column through
``withColumn``, it combines several operators, or it returns something
other than a new stream.
"""

from __future__ import annotations

import importlib
import inspect

from pyspark.sql import DataFrame, SparkSession

from pybabe_spark import operators as ops
from pybabe_spark.sources import io as _io


class Babe:
    """Immutable fluent wrapper around a DataFrame.

    >>> Babe.pull(spark, "data.csv").filter_values(kind="a").push("out.parquet")
    """

    def __init__(self, df: DataFrame, partition_fields: tuple[str, ...] = ()):
        self.df = df
        self._partition_fields = partition_fields

    # -- sources ------------------------------------------------------------
    class _HybridPull:
        """``Babe.pull(...)`` starts a chain; ``babe.pull(...)`` appends a
        second source as a further substream — the reference's chained
        pull concatenation (pybabe/base.py:365-368, tests/test_base.py
        TestMultiPull)."""

        def __get__(self, obj, objtype=None):
            def _pull(spark: SparkSession, filename=None, **kwargs) -> "Babe":
                df = _io.pull(spark, filename, **kwargs)
                if obj is None:
                    return objtype(df)
                # union_streams, not raw unionByName: ingest-tagged
                # sources must CONCATENATE (ids re-derived over the
                # union), not interleave their overlapping id ranges
                return obj._wrap(ops.union_streams(obj.df, df))

            return _pull

    pull = _HybridPull()

    @classmethod
    def from_df(cls, df: DataFrame) -> "Babe":
        return cls(df)

    def _wrap(self, df: DataFrame) -> "Babe":
        return Babe(df, self._partition_fields)

    def partition(self, field: str, *more: str) -> "Babe":
        """pybabe/partition.py:30-56 — tag the stream with partition
        fields; a later ``push`` lays data out one directory per value
        (the reference's per-substream output files)."""
        return Babe(self.df, (field, *more))

    def merge_substreams(self) -> "Babe":
        """pybabe/partition.py:8-27 — drop the partition tagging (the
        DataFrame itself was never physically split)."""
        return Babe(self.df, ())

    # -- public parameter names that differ from the operator's --------------
    def near_dedup_against(
        self, seen: "Babe | DataFrame", id_col, text_col, **kwargs
    ) -> "Babe":
        from pybabe_spark.operators.dedup_scale import near_dedup_against

        return self._wrap(
            near_dedup_against(self.df, _df(seen), id_col, text_col, **kwargs)
        )

    def stratified_fixed_n(self, strata, key, n, seed=0) -> "Babe":
        from pybabe_spark.operators.sampling import stratified_fixed_n

        return self._wrap(stratified_fixed_n(self.df, strata, key, n, seed))

    def quantile_bins(self, column, k, out_col=None) -> "Babe":
        from pybabe_spark.operators.sampling import quantile_bins

        return self._wrap(quantile_bins(self.df, column, k, out_col))

    def rank_normalize(self, column, by=None, tie_col=None, out_col=None) -> "Babe":
        from pybabe_spark.operators.sampling import rank_normalize

        return self._wrap(
            rank_normalize(self.df, column, by=by, tie_col=tie_col,
                           out_col=out_col)
        )

    def winsorize(self, column, lower_p=0.01, upper_p=0.99, by=None) -> "Babe":
        from pybabe_spark.operators.sampling import winsorize

        return self._wrap(winsorize(self.df, column, lower_p, upper_p, by))

    def rbo_overlap(self, other: "Babe | DataFrame", query_col, doc_col,
                    rank_col, k=10, p=0.9) -> "Babe":
        from pybabe_spark.operators.ranking import rbo_overlap

        return self._wrap(
            rbo_overlap(self.df, _df(other), query_col, doc_col, rank_col, k, p)
        )

    def histogram(self, column, bins=10) -> "Babe":
        from pybabe_spark.operators.sketch import histogram

        return self._wrap(histogram(self.df, column, bins))

    def heavy_hitters(self, column, support=0.01) -> "Babe":
        from pybabe_spark.operators.sketch import heavy_hitters

        return self._wrap(heavy_hitters(self.df, column, support))

    def group_heavy_hitters(self, group_col, column, support=0.01) -> "Babe":
        from pybabe_spark.operators.sketch import group_heavy_hitters

        return self._wrap(
            group_heavy_hitters(self.df, group_col, column, support)
        )

    def unpivot(self, common_fields, name_field="name", value_field="value") -> "Babe":
        return self._wrap(ops.unpivot(self.df, common_fields, name_field, value_field))

    def benford_audit(self, column, **kwargs) -> "Babe":
        from pybabe_spark.operators.validate import benford_audit

        return self._wrap(benford_audit(self.df, column, **kwargs))

    def schema_drift(self, other: "Babe | DataFrame") -> "Babe":
        from pybabe_spark.operators.validate import schema_drift

        return self._wrap(schema_drift(self.df, _df(other)))

    def js_divergence(self, other: "Babe | DataFrame", col) -> "Babe":
        from pybabe_spark.operators.validate import js_divergence

        return self._wrap(js_divergence(self.df, _df(other), col))

    def table_diff(self, other, keys, compare_cols=None) -> "Babe":
        from pybabe_spark.operators.merge import table_diff

        return self._wrap(table_diff(self.df, _df(other), keys, compare_cols))

    # -- joins ----------------------------------------------------------------
    def join(self, other: "Babe | DataFrame", key, join_key=None, **kwargs) -> "Babe":
        return self._wrap(ops.join(self.df, _df(other), key, join_key, **kwargs))

    def asof_join(
        self, other: "Babe | DataFrame", on, left_ts="ts", right_ts="ts", **kwargs
    ) -> "Babe":
        return self._wrap(
            ops.asof_join(self.df, _df(other), on, left_ts, right_ts, **kwargs)
        )

    def range_join(
        self, other: "Babe | DataFrame", point, start, end, key=None, **kwargs
    ) -> "Babe":
        return self._wrap(
            ops.range_join(self.df, _df(other), point, start, end, key, **kwargs)
        )

    def radius_join(self, other, radius, **kwargs) -> "Babe":
        from pybabe_spark.operators.spatial import radius_join

        return self._wrap(radius_join(self.df, _df(other), radius, **kwargs))

    def nearest_join(self, other, radius, right_id, **kwargs) -> "Babe":
        from pybabe_spark.operators.spatial import nearest_join

        return self._wrap(
            nearest_join(self.df, _df(other), radius, right_id, **kwargs)
        )

    def overlap_join(self, other, left_range, right_range, **kwargs) -> "Babe":
        from pybabe_spark.operators.join import overlap_join

        return self._wrap(
            overlap_join(self.df, _df(other), left_range, right_range, **kwargs)
        )

    def fuzzy_join(
        self, other: "Babe | DataFrame", left_on, right_on, max_dist=1, **kwargs
    ) -> "Babe":
        from pybabe_spark.operators.fuzzy import fuzzy_join

        return self._wrap(
            fuzzy_join(self.df, _df(other), left_on, right_on, max_dist, **kwargs)
        )

    # -- column functions applied through withColumn ---------------------------
    def normalize_url(self, field) -> "Babe":
        from pybabe_spark.functions.url import normalize_url

        return self._wrap(self.df.withColumn(field, normalize_url(field)))

    def registered_domain(self, field, out_col="domain") -> "Babe":
        from pybabe_spark.functions.url import registered_domain

        return self._wrap(
            self.df.withColumn(out_col, registered_domain(field))
        )

    def url_parse(self, field, out_field="url_parts") -> "Babe":
        from pybabe_spark.functions.enrich import url_parse

        return self._wrap(self.df.withColumn(out_field, url_parse(field)))

    def html_to_text(self, field) -> "Babe":
        from pybabe_spark.functions.html import html_to_text

        return self._wrap(self.df.withColumn(field, html_to_text(field)))

    def normalize_text(self, field, **kwargs) -> "Babe":
        from pybabe_spark.functions.text import normalize_text

        return self._wrap(
            self.df.withColumn(field, normalize_text(field, **kwargs))
        )

    def pii_scrub(self, field) -> "Babe":
        from pybabe_spark.functions.text import pii_scrub

        return self._wrap(self.df.withColumn(field, pii_scrub(field)))

    def word_entropy(self, field, out_field="entropy") -> "Babe":
        from pybabe_spark.functions.text import word_entropy

        return self._wrap(self.df.withColumn(out_field, word_entropy(field)))

    def readability(self, field, out_field="readability") -> "Babe":
        from pybabe_spark.functions.text import readability

        return self._wrap(self.df.withColumn(out_field, readability(field)))

    def compression_ratio(self, field, out_field="compression_ratio",
                          level=6) -> "Babe":
        from pybabe_spark.functions.text import compression_ratio

        return self._wrap(
            self.df.withColumn(out_field, compression_ratio(field, level))
        )

    def text_stats(self, field="text", tokenizer=None) -> "Babe":
        """Append n_words / n_tokens / lang_pred / quality columns.

        ``tokenizer`` switches n_tokens from the codegen heuristic to
        real tokenizer counts (Arrow-batched seam — see
        functions.text.resolve_tokenizer)."""
        from pybabe_spark.functions import text as T

        return self._wrap(
            self.df.withColumns(
                {
                    "n_words": T.word_count(field),
                    "n_tokens": T.token_count(field, tokenizer=tokenizer),
                    "lang_pred": T.lang_id(field),
                    "quality": T.quality_score(field),
                }
            )
        )

    def tokenize(self, field="text", tokenizer=None, output="tokens") -> "Babe":
        """Append the token array (heuristic regex, or a real tokenizer
        through the Arrow-batched seam)."""
        from pybabe_spark.functions import text as T

        return self._wrap(
            self.df.withColumn(output, T.tokens(field, tokenizer=tokenizer))
        )

    # -- several operators or streams in one step -----------------------------
    def union(self, *others: "Babe | DataFrame") -> "Babe":
        return self._wrap(ops.union_streams(self.df, *map(_df, others)))

    def rank_fuse(self, *others: "Babe | DataFrame", k=10, **kwargs) -> "Babe":
        from pybabe_spark.operators.fusion import rank_fuse

        return self._wrap(
            rank_fuse([self.df, *map(_df, others)], k=k, **kwargs)
        )

    def train_test_split(self, key, test_fraction=0.1) -> tuple["Babe", "Babe"]:
        from pybabe_spark.operators.sampling import train_test_split

        train, test = train_test_split(self.df, key, test_fraction)
        return self._wrap(train), self._wrap(test)

    def quantiles(self, column, probs, by=None, approx=False, **kw) -> "Babe":
        from pybabe_spark.operators.sketch import quantiles, quantiles_approx

        fn = quantiles_approx if approx else quantiles
        return self._wrap(fn(self.df, column, probs, by, **kw))

    def ann_topk(self, queries: "Babe | DataFrame", k=10,
                 method="brute", **kwargs) -> "Babe":
        """Cosine top-k neighbors of ``queries`` against this corpus:
        method='brute' (exact), 'lsh' (bucketed), or 'ivf' (k-means
        cells)."""
        from pybabe_spark.operators import similarity as S

        fn = {"brute": S.ann_brute_force, "lsh": S.ann_lsh, "ivf": S.ann_ivf}[method]
        return self._wrap(fn(self.df, _df(queries), k=k, **kwargs))

    def perplexity_filter(
        self, max_ppl, lm=None, id_col="doc_id", text_col="text", **kwargs
    ) -> "Babe":
        """CCNet-style LM quality cut: score against ``lm`` (default: a
        bigram LM trained on this corpus itself) and keep docs at or
        below ``max_ppl``."""
        from pybabe_spark.operators.lm import perplexity_filter, train_bigram_lm

        model = lm or train_bigram_lm(self.df, text_col, id_col)
        return self._wrap(
            perplexity_filter(self.df, model, max_ppl, id_col, text_col, **kwargs)
        )

    def quality_filter(
        self, labeled: "Babe | DataFrame", label_col, min_prob=0.5,
        id_col="doc_id", text_col="text", **kwargs
    ) -> "Babe":
        """fastText-style quality cut: train a logistic classifier on
        the ``labeled`` corpus's hashed-bigram features, keep docs this
        corpus scores at or above ``min_prob``."""
        from pybabe_spark.operators.classifier import (
            quality_classifier_filter,
            train_quality_classifier,
        )

        w = train_quality_classifier(
            _df(labeled), label_col, id_col, text_col, **kwargs
        )
        buckets = kwargs.get("buckets", 4096)
        return self._wrap(
            quality_classifier_filter(
                self.df, w, min_prob, id_col, text_col, buckets
            )
        )

    def dsir_select(
        self, target: "Babe | DataFrame", k, id_col="doc_id",
        text_col="text", seed=0, **kwargs
    ) -> "Babe":
        """DSIR: importance-weight this corpus against ``target`` and
        Gumbel-top-k resample the k most target-like documents."""
        from pybabe_spark.operators.dsir import dsir_log_weights, dsir_resample

        w = dsir_log_weights(self.df, _df(target), id_col, text_col, **kwargs)
        picked = dsir_resample(w, k, id_col, seed=seed).select(id_col)
        return self._wrap(self.df.join(picked, id_col, "semi"))

    # -- results that are not a new stream ------------------------------------
    def stream_activity_grain(self, key_col, ts_col, store_path,
                              checkpoint, **kwargs):
        from pybabe_spark.streaming.ops import stream_activity_grain

        return stream_activity_grain(
            self.df, key_col, ts_col, store_path, checkpoint, **kwargs
        )

    def build_bm25_index(self, path, **kwargs) -> None:
        from pybabe_spark.operators.tfidf import build_bm25_index

        build_bm25_index(self.df, path, **kwargs)

    def build_lsh_index(self, path, **kwargs) -> None:
        from pybabe_spark.operators.similarity import build_lsh_index

        build_lsh_index(self.df, path, **kwargs)

    def append_lsh_index(self, path, **kwargs) -> None:
        from pybabe_spark.operators.similarity import append_lsh_index

        append_lsh_index(self.df, path, **kwargs)

    def build_ivf_index(self, path, **kwargs) -> None:
        from pybabe_spark.operators.similarity import build_ivf_index

        build_ivf_index(self.df, path, **kwargs)

    def append_ivf_index(self, path, **kwargs) -> None:
        from pybabe_spark.operators.similarity import append_ivf_index

        append_ivf_index(self.df, path, **kwargs)

    def kmeans_fit(self, k=8, iters=5, **kwargs):
        """Returns the k × dim centroid matrix (driver-side value)."""
        from pybabe_spark.operators.kmeans import kmeans_fit

        return kmeans_fit(self.df, k, iters, **kwargs)

    def primary_key_detect(self, **kwargs):
        """Returns the detected key column name (metadata, not a new
        stream — pybabe/types.py:52-87 sets header.primary_key)."""
        from pybabe_spark.operators.infra import primary_key_detect

        return primary_key_detect(self.df, **kwargs)

    def train_bpe(self, field="text", **kwargs):
        """Train a corpus BPE tokenizer (operators/bpe.py); returns the
        TrainedBPETokenizer — pass it back into text_stats / tokenize /
        pack_tokens / clip as ``tokenizer=``. Training is an action
        (one word-frequency agg + a bounded TakeOrdered head)."""
        from pybabe_spark.operators.bpe import train_bpe

        return train_bpe(self.df, text_col=field, **kwargs)

    def lint(self) -> list:
        """Scale-smell findings for the current plan (plans/lint.py)."""
        from pybabe_spark.plans.lint import plan_lint

        return plan_lint(self.df)

    def assert_scales(self, allow: set = frozenset()) -> "Babe":
        """Raise unless the plan lints clean (guard for pipeline code)."""
        from pybabe_spark.plans.lint import assert_scales

        assert_scales(self.df, allow)
        return self

    # -- caching (tee / memoize analogue) ---------------------------------------
    def tee(self, n: int = 2) -> list["Babe"]:
        """pybabe/base.py:196-202 — fan one stream out to n consumers.
        Spark form: cache once, hand out n wrappers over the same
        DataFrame (``[b, c] = a.tee(2)``, tests/test_transform.py:184)."""
        cached = self.df.cache()
        return [self._wrap(cached) for _ in range(n)]

    # -- terminals ---------------------------------------------------------------
    def push(self, filename, **kwargs) -> None:
        if self._partition_fields and "partition_by" not in kwargs:
            kwargs["partition_by"] = list(self._partition_fields)
        _io.push(self.df, filename, **kwargs)

    def push_bucketed(self, table, keys, num_buckets=32, **kwargs) -> "Babe":
        from pybabe_spark.sources.io import write_bucketed

        write_bucketed(self.df, table, keys, num_buckets, **kwargs)
        return self

    def to_list(self) -> list:
        """pybabe/base.py:459-460 — materialize rows, in ingest order
        when the ingest id is present (the reference's stream order)."""
        df = _io.in_ingest_order(self.df)
        return [tuple(r) for r in df.collect()]

    def to_string(self, **kwargs) -> str:
        return _io.to_string(_io.in_ingest_order(self.df), **kwargs)

    def count(self) -> int:
        return self.df.count()


#: The chain methods that only forward, one entry per operator module:
#: ``name`` binds ``Babe.name`` to the module's ``name``, ``name=op`` to
#: its ``op``.
_FORWARDS = {
    "pybabe_spark.functions.enrich": """
        geoip geoip_country_code k_anonymity l_diversity pseudonymize
        user_agent""",
    "pybabe_spark.functions.json_ops": """
        json_flatten""",
    "pybabe_spark.functions.phonetic": """
        phonetic_pairs""",
    "pybabe_spark.functions.time": """
        parse_time typedetect""",
    "pybabe_spark.operators": """
        dedup filter=filter_rows filter_by_regexp filter_columns
        filter_out_null_values filter_values group_all groupBy=group head
        insert_rows maxN=max_n minN=min_n pivot rename replace=replace_cell
        replace_in_string skip sort split=split_rows transpose
        windowMap=window_map""",
    "pybabe_spark.operators.anomaly": """
        cusum_alarms mad_anomalies seasonal_zscore zscore_anomalies""",
    "pybabe_spark.operators.attribution": """
        attribute_conversions""",
    "pybabe_spark.operators.cdc": """
        apply_cdc""",
    "pybabe_spark.operators.classifier": """
        brier_score calibration_bins classification_report
        disparate_impact ece equalized_odds gains_table hosmer_lemeshow
        mcc pairwise_winrate pr_auc roc_auc youden_threshold""",
    "pybabe_spark.operators.collocations": """
        association_rules frequent_pairs llr_collocations pmi_collocations""",
    "pybabe_spark.operators.cuped": """
        cuped_adjust did_estimate""",
    "pybabe_spark.operators.decontam": """
        coverage_dedup decontaminate novelty_score strip_boilerplate_lines
        strip_duplicated_spans""",
    "pybabe_spark.operators.dedup_scale": """
        containment_pairs hamming_neardup=hamming_neardup_pairs
        lsh_candidate_calibration minhash_lsh_pairs near_dedup=near_dedup_keep
        near_dedup_against_stored segment_dedup
        simhash_neardup=simhash_neardup_pairs source_overlap
        winnow_fingerprints""",
    "pybabe_spark.operators.dsir": """
        feature_hash_encode""",
    "pybabe_spark.operators.fuzzy": """
        fellegi_sunter fuzzy_pairs""",
    "pybabe_spark.operators.graph": """
        adamic_adar assortativity best_of_clusters bfs_distances
        clustering_coefficient dup_clusters jaccard_link_prediction k_core
        pagerank propagate_labels sssp triangle_count""",
    "pybabe_spark.operators.group": """
        cube=cube_agg funnel path_counts sequence_count transition_matrix""",
    "pybabe_spark.operators.infra": """
        foreign_key_check profile""",
    "pybabe_spark.operators.kmeans": """
        kmeans_assign""",
    "pybabe_spark.operators.layout": """
        zorder_key zorder_layout""",
    "pybabe_spark.operators.merge": """
        dedup_against golden_record upsert""",
    "pybabe_spark.operators.packing": """
        chunk_documents clip=clip_documents pack_contiguous pack_tokens""",
    "pybabe_spark.operators.pca": """
        embedding_covariance pca_fit""",
    "pybabe_spark.operators.ranking": """
        ranking_metrics""",
    "pybabe_spark.operators.recommend": """
        item_neighbors""",
    "pybabe_spark.operators.regression": """
        breusch_pagan chow_test ols""",
    "pybabe_spark.operators.relational": """
        throttle""",
    "pybabe_spark.operators.rfm": """
        rfm_segments""",
    "pybabe_spark.operators.sampling": """
        curriculum_order global_shuffle sample=hash_sample
        stratified_sample target_encode temperature_resample
        token_budget_sample weighted_sample""",
    "pybabe_spark.operators.scd": """
        scd2=scd2_from_changelog scd2_upsert""",
    "pybabe_spark.operators.similarity": """
        centroid_drift embedding_stats hard_negatives=ann_hard_negatives
        pq_encode quantize_embeddings semantic_dedup""",
    "pybabe_spark.operators.sketch": """
        ab_test ab_test_by anova_f bartlett_test bootstrap_mean_ci
        brown_forsythe category_diversity chi2_independence cliffs_delta
        cmh_test cochran_armitage_trend cochran_q cohens_kappa
        conformal_threshold corr_matrix cramers_v cronbach_alpha
        dunn_test eb_shrink_rates effect_size fleiss_kappa friedman_test
        g_test gesd_outliers grubbs_test herfindahl_index jarque_bera
        jonckheere_terpstra kendall_tau_b kruskal_wallis ks_test
        mann_whitney_u mcnemar mean_test mood_median_test
        mutual_information nemenyi_test odds_ratio overdispersion
        page_trend_test partial_corr price_index proportion_ci
        ratio_metric_ci required_sample_size spearman_corr srm_check
        trend_test trimmed_mean tukey_hsd wasserstein_1d
        weighted_quantiles""",
    "pybabe_spark.operators.skew": """
        gini lorenz_curve pareto_report theil_index""",
    "pybabe_spark.operators.skyline": """
        skyline2d""",
    "pybabe_spark.operators.tfidf": """
        bm25_search tfidf_top_terms vocab_overlap zipf_fit""",
    "pybabe_spark.operators.timeseries": """
        acf acf_bucketed active_intervals bollinger_bands ccf
        cohort_values dickey_fuller durbin_watson ewma=ewma_smooth
        forecast_backtest gap_fill granger_causality growth_accounting
        gumbel_maxima holt_linear interarrival_stats km_quantiles
        km_survival ljung_box logrank_test mann_kendall max_drawdown
        nelson_aalen ohlc_bars period_over_period pettitt_test
        retention_cohorts rmst runs_test seasonal_backtest
        seasonal_decompose seasonal_decompose_mult session_stats
        sessionize_batch=sessionize snaive_forecast stickiness streaks
        theilsen_slope time_weighted_avg turning_points_test""",
    "pybabe_spark.operators.udf_ops": """
        bulkMapTo=bulk_map_to flatMap=flat_map iterate=map_to map_filter
        mapTo=map_to""",
    "pybabe_spark.operators.validate": """
        impute population_stability quarantine validate""",
    "pybabe_spark.streaming.ops": """
        running_totals sessionize stream_group_heavy_hitters""",
}


def _df(x):
    """``x``'s DataFrame if ``x`` is a :class:`Babe`, else ``x``."""
    return x.df if isinstance(x, Babe) else x


def _forwarder(name, op):
    """The chain method ``name``: ``op`` over this stream's DataFrame
    and the call's arguments (each ``Babe`` one unwrapped), re-wrapped
    with this stream's partition fields."""

    def method(self, *args, **kwargs):
        args = [_df(a) for a in args]
        kwargs = {k: _df(v) for k, v in kwargs.items()}
        return self._wrap(op(self.df, *args, **kwargs))

    sig = inspect.signature(op)
    this = inspect.Parameter("self", inspect.Parameter.POSITIONAL_OR_KEYWORD)
    method.__signature__ = sig.replace(
        parameters=[this, *list(sig.parameters.values())[1:]],
        return_annotation="Babe",
    )
    method.__name__, method.__qualname__ = name, f"Babe.{name}"
    method.__doc__, method.__wrapped__ = op.__doc__, op
    return method


def _install(cls, table):
    """Bind every ``table`` entry on ``cls`` as a :func:`_forwarder`."""
    for module, names in table.items():
        mod = importlib.import_module(module)
        for entry in names.split():
            name, _, op = entry.partition("=")
            setattr(cls, name, _forwarder(name, getattr(mod, op or name)))


_install(Babe, _FORWARDS)
