"""ContractStore — the session-scoped catalog and query facade.

Reference: ``ContractStore`` (``aligned/feature_store.py:148``) with
``features_for`` (§3.1 — the point-in-time pipeline), ``execute_sql``
(§3.3), ``freshness_for``, write paths, and ``dummy_store``.

``features_for`` plan shape (one Catalyst plan end-to-end):

    facts → per-view [scan(needed) → cast → pre-agg derived
          → PIT join / PIT-window agg] → entity-join combine
          → post-agg derived

The PIT machinery is the sorted-merge union formulation
(``operators/joins.py``) — one shuffle per view keyed on entities, no
join explosion at 100 TB.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aligned_spark import expr as E
from aligned_spark.contracts import (
    CompiledFeatureView,
    CompiledModel,
    FeatureViewWrapper,
    ModelContractWrapper,
)
from aligned_spark.operators import core as ops
from aligned_spark.operators.aggregate import (
    STREAM_KINDS,
    group_aggregate,
    pit_window_aggregate,
)
from aligned_spark.operators.joins import equi_join, pit_join, pit_union_pass
from aligned_spark.plans.view_query import FeatureViewQuery, compute_view
from aligned_spark.requests import RetrievalRequest
from aligned_spark.types import FeatureReference


class ContractStore:
    def __init__(self, spark: SparkSession | None = None):
        if spark is None:
            from aligned_spark.session import get_spark

            spark = SparkSession.getActiveSession() or get_spark()
        self.spark = spark
        self.views: dict[str, CompiledFeatureView] = {}
        self.models: dict[str, CompiledModel] = {}

    # -- registration ------------------------------------------------------
    def add_view(self, view: FeatureViewWrapper) -> None:
        self.views[view.name] = view.compiled

    def add_compiled_view(self, view: CompiledFeatureView) -> None:
        self.views[view.name] = view

    # -- registry persistence (reference: JSON contract store) -----------
    def to_json(self) -> str:
        """Serialize every registered view to the JSON catalog format
        (``aligned_spark.serde``) — check it into git, diff it in CI,
        ship it between processes like the reference's contract repo."""
        import json

        from aligned_spark.serde import view_to_dict

        return json.dumps(
            {"views": [view_to_dict(v) for v in self.views.values()]},
            indent=2,
            sort_keys=True,
        )

    @classmethod
    def from_json(
        cls, blob: str, spark: SparkSession | None = None
    ) -> "ContractStore":
        import json

        from aligned_spark.serde import view_from_dict

        store = cls(spark)
        for data in json.loads(blob)["views"]:
            store.add_compiled_view(view_from_dict(data))
        return store

    def add_model(self, model: ModelContractWrapper) -> None:
        self.models[model.name] = model.compiled
        if model.compiled.output_view is not None:
            self.views[model.compiled.output_view.name] = model.compiled.output_view

    def feature_view(self, name: str) -> FeatureViewQuery:
        return FeatureViewQuery(self.views[name], self.spark, store=self)

    # -- entity frames -------------------------------------------------------
    def _entities_df(self, entities: Any) -> DataFrame:
        if isinstance(entities, DataFrame):
            return entities
        if isinstance(entities, Mapping):
            rows = [
                dict(zip(entities.keys(), vals)) for vals in zip(*entities.values())
            ]
            return self.spark.createDataFrame(rows)
        if isinstance(entities, list):
            return self.spark.createDataFrame(entities)
        try:
            import pandas as pd

            if isinstance(entities, pd.DataFrame):
                return self.spark.createDataFrame(entities)
        except ImportError:
            pass
        raise TypeError(f"cannot build an entity frame from {type(entities)}")

    # -- the flagship: point-in-time feature retrieval ------------------------
    def features_for(
        self,
        entities: Any,
        features: Iterable[str],
        event_timestamp_column: str | None = None,
    ) -> DataFrame:
        """Entry point A (§3.1): point-in-time-correct features for a
        fact frame.

        ``features``: ``"view:feature"`` refs or ``"view:*"`` for all.
        ``event_timestamp_column``: fact-timestamp column in the entity
        frame; defaults to ``"event_timestamp"`` when present.
        """
        facts = self._entities_df(entities)
        if event_timestamp_column is None and "event_timestamp" in facts.columns:
            event_timestamp_column = "event_timestamp"

        # parse + group refs per view, in request order ("view:*" in
        # all_feature_names() order); a dict keeps the first mention
        per_view: dict[str, dict[str, None]] = {}
        for ref_str in features:
            ref = FeatureReference.parse(ref_str)
            view = self.views.get(ref.location.name)
            if view is None:
                raise KeyError(f"unknown view {ref.location.name!r}")
            names = (
                view.all_feature_names() if ref.name == "*" else [ref.name]
            )
            per_view.setdefault(view.name, {}).update(
                dict.fromkeys(names)
            )

        out = facts
        for view_name, wanted in per_view.items():
            view = self.views[view_name]
            # prune: requested columns already present on the fact frame
            # (`feature_store.py:703-728`)
            missing = [n for n in wanted if n not in out.columns]
            if not missing:
                continue
            out = self._join_view_features(out, view, missing, event_timestamp_column)
        return out

    def _join_view_features(
        self,
        facts: DataFrame,
        view: CompiledFeatureView,
        wanted: list[str],
        fact_ts: str | None,
    ) -> DataFrame:
        request = RetrievalRequest.from_view(view).with_features(set(wanted))
        entities = view.entities
        feature_ts = view.event_timestamp.name if view.event_timestamp else None
        ttl = view.event_timestamp.ttl_seconds if view.event_timestamp else None

        agg_names = {a.name for a in view.aggregations}
        aggs_wanted = request.needed_aggregations()

        # split derived: post-agg features reference aggregated outputs
        derived = request.needed_derived()
        derived_post = {
            n: e for n, e in derived.items() if e.references() & agg_names
        }
        derived_pre = {n: e for n, e in derived.items() if n not in derived_post}

        # request order: the as-of columns come out in this order
        plain_wanted = [
            n
            for n in wanted
            if n not in agg_names and n not in derived_post
        ]

        # the scanned + pre-derived feature frame (no aggregation yet)
        feature_frame = compute_view(
            view,
            self.spark,
            features=(
                set(plain_wanted)
                | set(derived_pre)
                | {
                    r
                    for a in aggs_wanted
                    if isinstance(a.spec.column, E.Expr)
                    for r in a.spec.column.references()
                }
            )
            or None,
            skip_aggregations=True,
            store=self,
        )

        windowed = [a for a in aggs_wanted if a.window.window_seconds is not None]
        unwindowed = [a for a in aggs_wanted if a.window.window_seconds is None]
        if windowed and (feature_ts is None or fact_ts is None):
            raise ValueError(
                f"windowed aggregations on {view.name!r} need event "
                "timestamps on both the view and the fact frame"
            )
        cols = [c for c in plain_wanted if c in feature_frame.columns]
        streamed = [a for a in windowed if a.spec.kind in STREAM_KINDS]

        out = facts
        if streamed:
            # one union + entity shuffle + sort for the as-of columns
            # and every streamable windowed aggregate, whatever its window
            out = pit_union_pass(
                out,
                feature_frame,
                entities,
                fact_ts,
                feature_ts,
                payload_cols=cols,
                ttl_seconds=ttl,
                windowed=[(a.spec, a.window.window_seconds) for a in streamed],
            ).withColumnsRenamed({f"__p_{c}": c for c in cols})
        elif cols:
            out = pit_join(
                out,
                feature_frame,
                entities=entities,
                feature_ts=feature_ts,
                fact_ts=fact_ts,
                ttl_seconds=ttl,
                feature_columns=cols,
            )

        if unwindowed:
            agged = group_aggregate(
                feature_frame, entities, [a.spec for a in unwindowed]
            )
            out = equi_join(out, agged, entities, how="left")
        if windowed:
            by_window: dict[float, list] = {}
            for a in windowed:
                by_window.setdefault(a.window.window_seconds, []).append(a.spec)
            for window_seconds, group in by_window.items():
                joined = [a for a in group if a.kind not in STREAM_KINDS]
                if joined:
                    out = pit_window_aggregate(
                        out,
                        feature_frame,
                        entities=entities,
                        fact_ts=fact_ts,
                        feature_ts=feature_ts,
                        window_seconds=window_seconds,
                        aggs=joined,
                    )
            # windowed columns last, grouped by window in request order
            names = [a.name for group in by_window.values() for a in group]
            out = out.select(*[c for c in out.columns if c not in names], *names)

        if derived_post:
            out = ops.derive(out, derived_post)
        return out

    # -- cross-contract lookup (`LoadFeature`, transformation.py:3028-3081) --
    def load_feature(
        self,
        df: DataFrame,
        view_name: str,
        feature_name: str,
        entity_mapping: Mapping[str, str] | None = None,
        output_col: str | None = None,
    ) -> DataFrame:
        """Append ``view_name:feature_name`` to ``df`` using
        ``entity_mapping`` (df column → view entity) as the join keys.

        List-typed keys follow the reference's explode→join→ordered
        re-aggregation (``transformation.py:3063-3070``): the output
        is an array aligned with the input key array. Views with an
        event timestamp contribute their latest row per entity."""
        from pyspark.sql.types import ArrayType

        view = self.views[view_name]
        out_name = output_col or feature_name
        feat = compute_view(
            view, self.spark, features={feature_name}, store=self
        )
        if view.event_timestamp is not None:
            feat = ops.unique_rows(
                feat, view.entities, view.event_timestamp.name
            )
        feat = feat.select(
            *view.entities, F.col(feature_name).alias(out_name)
        )
        mapping = dict(entity_mapping or {e: e for e in view.entities})

        if len(mapping) == 1:
            (fact_col, ent), = mapping.items()
            if isinstance(df.schema[fact_col].dataType, ArrayType):
                return self._load_feature_exploded(
                    df, feat, fact_col, ent, out_name
                )

        joined = equi_join(
            df,
            feat,
            left_on=list(mapping.keys()),
            right_on=list(mapping.values()),
            how="left",
        )
        extra = [
            ent
            for fact_col, ent in mapping.items()
            if ent != fact_col and ent in joined.columns
        ]
        return joined.drop(*extra) if extra else joined

    def _load_feature_exploded(
        self,
        df: DataFrame,
        feat: DataFrame,
        key_col: str,
        ent: str,
        out_name: str,
    ) -> DataFrame:
        """List-key path: posexplode the key array, join each element,
        re-collect in the original element order."""
        fact_cols = df.columns
        exploded = df.withColumn(
            "__rid", F.monotonically_increasing_id()
        ).select(
            "*", F.posexplode_outer(F.col(key_col)).alias("__pos", "__key")
        )
        joined = equi_join(
            exploded, feat, left_on=["__key"], right_on=[ent], how="left"
        )
        ordered_vals = F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col(out_name)))
            ),
            lambda s: s.getField(out_name),
        )
        agged = joined.groupBy("__rid").agg(
            *[F.first(F.col(c)).alias(c) for c in fact_cols],
            ordered_vals.alias(out_name),
        )
        return agged.drop("__rid")

    # -- SQL entry point (§3.3) ---------------------------------------------
    def execute_sql(self, query: str) -> DataFrame:
        """Register every contract as a temp view and run Spark SQL —
        Catalyst replaces the reference's sqlglot analysis + Polars SQL
        engine; full SQL (joins, windows, subqueries) comes free."""
        self.register_views()
        return self.spark.sql(query)

    def register_views(self) -> None:
        for name, view in self.views.items():
            compute_view(view, self.spark, store=self).createOrReplaceTempView(name)

    # -- ops / metadata -------------------------------------------------------
    def views_with_source(self, source: Any) -> list[str]:
        """View names whose batch source shares ``source``'s job group
        key (reference ``views_with_batch_source``; group key =
        ``job_group_key``, ``data_source/batch_data_source.py``)."""
        key = source.job_group_key() if hasattr(source, "job_group_key") else repr(source)
        out = []
        for name, view in self.views.items():
            s = view.source
            skey = s.job_group_key() if hasattr(s, "job_group_key") else repr(s)
            if skey == key:
                out.append(name)
        return out

    def validate_sources(
        self, view_names: Iterable[str] | None = None
    ) -> dict[str, bool]:
        """Can each view's source fulfil the view's CORE schema?
        (reference ``validate_sources_in``, ``source_validation.py:4-33``:
        read one row of the core features per view; exception → False.)

        Core = entities + declared features + the event timestamp —
        derived/aggregated columns are computed, not served, so they
        don't gate the source. A present-but-empty source validates
        True (schema check via ``limit(1)`` job, same as the
        reference's ``limit=1`` collect)."""
        names = list(view_names) if view_names is not None else list(self.views)
        results: dict[str, bool] = {}
        for name in names:
            view = self.views[name]
            core = list(view.entities) + [f.name for f in view.features]
            if view.event_timestamp is not None:
                core.append(view.event_timestamp.name)
            core = list(dict.fromkeys(core))  # entities repeat in features
            try:
                df = view.source.read(self.spark)
                missing = [c for c in core if c not in df.columns]
                if missing:
                    raise ValueError(f"missing core columns {missing}")
                df.select(*core).limit(1).collect()
                results[name] = True
            except Exception:
                results[name] = False
        return results

    def freshness_for(self, view_name: str) -> dt.datetime | None:
        view = self.views[view_name]
        if view.event_timestamp is None:
            return None
        return view.source.freshness(self.spark, view.event_timestamp.name)

    def insert_into(
        self, view_name: str, data: Any, triggers: Any = None
    ) -> None:
        """Write a batch into a view's source; any
        :class:`~aligned_spark.checks.EventTrigger` in ``triggers``
        then publishes its matching rows (reference: writes flow
        through ``FeatureViewStore`` which checks the view's event
        triggers, ``feature_store.py:1018`` + ``event_trigger.py``)."""
        view = self.views[view_name]
        df = self._entities_df(data)
        view.source.insert(df)
        for t in triggers or []:
            t.check(df)

    def upsert_into(self, view_name: str, data: Any) -> None:
        view = self.views[view_name]
        view.source.upsert(self._entities_df(data), view.entities)

    def overwrite(self, view_name: str, data: Any, predicate: Any = None) -> None:
        view = self.views[view_name]
        view.source.overwrite(self._entities_df(data), predicate)

    def materialize(self, view_name: str) -> None:
        """Compute the full view and write it to its materialized
        source (``FeatureViewWrapper.materialize_all``,
        ``feature_view.py:497-506``)."""
        view = self.views[view_name]
        if view.materialized_source is None:
            raise ValueError(f"view {view_name!r} has no materialized source")
        import copy as _copy

        # compute from the BASE source — serving the stale
        # materialization here would make refresh a no-op
        base_view = _copy.copy(view)
        base_view.materialized_source = None
        df = compute_view(base_view, self.spark, store=self)
        view.materialized_source.overwrite(df)

    def materialize_incremental(
        self,
        view_name: str,
        since: dt.datetime | None = None,
        auto_compact: bool = True,
    ) -> None:
        """Refresh only what changed since the last materialization.

        ``since`` defaults to the materialized table's own freshness
        (max event timestamp). Rows newer than the boundary are
        recomputed from the base source; the write path is chosen by
        capability:

        - partitioned sources take **dynamic partition overwrite** —
          affected partitions are located with a broadcast semi-join
          (no driver-side loop) and replaced wholesale, so a daily
          refresh of a 100 TB table rewrites one day's files;
        - anything else upserts on (entities, event timestamp).

        Windowed/aggregated views should pass an explicit ``since``
        with the window length subtracted — the boundary filter is
        applied to the *computed* frame, and an aggregate over a
        window straddling the boundary needs that lookback to be
        recomputed correctly."""
        view = self.views[view_name]
        ms = view.materialized_source
        if ms is None:
            raise ValueError(f"view {view_name!r} has no materialized source")
        if view.event_timestamp is None:
            raise ValueError(
                "incremental materialization needs an event timestamp"
            )
        ts_col = view.event_timestamp.name
        if since is None:
            try:
                since = ms.freshness(self.spark, ts_col)
            except Exception:
                since = None
        if since is None:
            # nothing materialized yet — fall back to a full build
            return self.materialize(view_name)
        import copy as _copy

        base_view = _copy.copy(view)
        base_view.materialized_source = None
        df = compute_view(base_view, self.spark, store=self)
        new_rows = df.filter(F.col(ts_col) > F.lit(since))
        pkeys = getattr(ms, "partition_keys", None)
        if pkeys and hasattr(ms, "overwrite_partitions"):
            affected = new_rows.select(*pkeys).distinct()
            full = df.join(F.broadcast(affected), on=pkeys, how="left_semi")
            ms.overwrite_partitions(full)
        else:
            ms.upsert(new_rows, view.entities + [ts_col])
        if auto_compact and hasattr(ms, "maybe_optimize"):
            # refresh churn (upsert rewrites, small refresh parts)
            # crosses the metadata-only policy eventually — compact
            # as part of the pipeline, not a separate cron
            ms.maybe_optimize(self.spark)

    def materialized_version(self, view_name: str) -> int:
        """Cursor for :meth:`changes_since`: the materialized table's
        current version/snapshot id. Record it BEFORE a refresh; pass
        it after to get exactly the refresh's row-level changes."""
        ms = self.views[view_name].materialized_source
        if ms is None or not hasattr(ms, "version"):
            raise ValueError(
                f"view {view_name!r} has no versioned materialized "
                "source (Delta/Iceberg)"
            )
        return ms.version(self.spark)

    def changes_since(
        self,
        view_name: str,
        version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Exactly-once change feed of a view's MATERIALIZED table
        since ``version`` — what a downstream incremental consumer
        (a serving store loader, a cache invalidator, a mirror) reads
        after :meth:`materialize_incremental` instead of rescanning
        the table. Rows carry ``_change_type`` (insert /
        update_preimage / update_postimage / delete): the upsert a
        refresh performs emits only truly-changed rows, never the
        surviving co-residents of rewritten parts — at 100 TB a
        1-row refresh yields a 1-pair feed, not a part-sized one."""
        ms = self.views[view_name].materialized_source
        if ms is None or not hasattr(ms, "read_changes"):
            raise ValueError(
                f"view {view_name!r} has no change-feed-capable "
                "materialized source (Delta/Iceberg)"
            )
        return ms.read_changes(self.spark, version, to_version)

    def stream_changes(self, view_name: str) -> DataFrame:
        """STREAMING twin of :meth:`changes_since` — the view's
        materialized table tailed as a live row-level change feed
        (``readChangeFeed`` on the native table stream source,
        :mod:`aligned_spark.streaming.cdf_stream`): downstream
        consumers get every refresh's true changes pushed through
        Structured Streaming (checkpointed, exactly-once) instead of
        polling :meth:`materialized_version` + :meth:`changes_since`
        — the reference worker's poll loop (aligned/worker.py:172-209)
        with the polling deleted. Default start = the current
        snapshot as inserts, then live changes."""
        from aligned_spark.streaming.sources import TableStreamSource

        ms = self.views[view_name].materialized_source
        if ms is None or not hasattr(ms, "read_changes"):
            raise ValueError(
                f"view {view_name!r} has no change-feed-capable "
                "materialized source (Delta/Iceberg)"
            )
        fmt = (
            "iceberg"
            if type(ms).__name__.lower().startswith("iceberg")
            else "delta"
        )
        return TableStreamSource(
            path=ms.path, table_format=fmt, read_change_feed=True
        ).read_stream(self.spark)

    def drop_invalid(self, view_name: str, df: DataFrame | None = None) -> DataFrame:
        from aligned_spark.constraints import drop_invalid as _drop

        view = self.views[view_name]
        frame = df if df is not None else compute_view(view, self.spark, store=self)
        return _drop(frame, view.constraints)

    def return_invalid(self, view_name: str, df: DataFrame | None = None) -> DataFrame:
        from aligned_spark.constraints import return_invalid as _ret

        view = self.views[view_name]
        frame = df if df is not None else compute_view(view, self.spark, store=self)
        return _ret(frame, view.constraints)

    def dummy_store(self, rows: int = 1000, seed: int = 42) -> "ContractStore":
        """Swap every source for constraint-driven random data
        (``feature_store.py:300-330``) — the test-fixture generator."""
        import copy as _copy

        from aligned_spark.sources.random_source import RandomSource

        out = ContractStore(self.spark)
        for name, view in self.views.items():
            clone = _copy.copy(view)
            clone.source = RandomSource(view=view, rows=rows, seed=seed)
            clone.materialized_source = None
            out.views[name] = clone
        out.models = dict(self.models)
        return out

    # -- model inference (§3.4) ---------------------------------------------
    def predict_over(self, model_name: str, entities: Any) -> DataFrame:
        """Batch inference: input features via ``features_for``, then
        the model's exposed predictor (code / mlflow / partitioned /
        shadow — all Arrow-batched, see :mod:`aligned_spark.models`)."""
        from aligned_spark.models import as_exposed_model

        model = self.models[model_name]
        refs = [r.identifier() for r in model.input_references]
        inputs = self.features_for(entities, refs)
        if model.predictor is None:
            return inputs
        exposed = as_exposed_model(model.predictor)
        feature_cols = [r.name for r in model.input_references]
        return exposed.predict(
            inputs, feature_cols, output_col=f"{model_name}_prediction"
        )

    # -- registry ergonomics (reference feature_store.py:331-1238) ------

    def combined_with(self, other: "ContractStore") -> "ContractStore":
        """Union of two stores (reference ``combined_with``); name
        collisions resolve to ``other`` (latest wins, like the
        reference's dict update)."""
        out = ContractStore(self.spark)
        out.views = {**self.views, **other.views}
        out.models = {**self.models, **other.models}
        return out

    def source_for(self, name: str) -> Any:
        """The batch source backing a view or a model's output view
        (None if unregistered)."""
        if name in self.views:
            return self.views[name].source
        m = self.models.get(name)
        if m is not None and m.output_view is not None:
            return m.output_view.source
        return None

    def remove(self, name: str) -> None:
        if self.views.pop(name, None) is None and (
            self.models.pop(name, None) is None
        ):
            raise KeyError(f"no view or model named {name!r}")

    def update_source_for(self, name: str, source: Any) -> None:
        """Swap a view's batch source in place (reference
        ``update_source_for`` — the porting/testing hook: point a
        contract at a new location without recompiling it)."""
        import dataclasses

        view = self.views.get(name)
        if view is None:
            raise KeyError(f"no view named {name!r}")
        self.views[name] = dataclasses.replace(view, source=source)

    def predict_when_missing(self) -> "ContractStore":
        """A store copy where every model WITH a predictor serves its
        output view by COMPUTING predictions at read time (reference
        ``predict_when_missing``, ``feature_store.py:335-352``, via
        ``PredictModelSource``): reading the output view loads the
        input view's rows, runs the exposed model, and returns fresh
        predictions — nothing materialized, nothing stale. Models
        without a predictor or output view pass through unchanged;
        the original store keeps its materialized sources (swap back
        with :meth:`update_source_for` for caching)."""
        import dataclasses

        out = ContractStore(self.spark)
        out.views = dict(self.views)
        out.models = dict(self.models)
        for name, model in self.models.items():
            if model.predictor is None or model.output_view is None:
                continue
            ov = dataclasses.replace(
                model.output_view,
                source=PredictModelSource(out, name),
            )
            out.models[name] = dataclasses.replace(
                model, output_view=ov
            )
            if ov.name in out.views:
                out.views[ov.name] = ov
        return out

    def sources_of_type(self, source_type: type) -> "list[tuple[str, Any]]":
        """(name, source) pairs whose batch or materialized source is
        an instance of ``source_type`` — across views and model
        output views."""
        out = []
        for name, v in self.views.items():
            for s in (v.source, v.materialized_source):
                if isinstance(s, source_type):
                    out.append((name, s))
                    break
        for name, m in self.models.items():
            ov = m.output_view
            if ov is not None and isinstance(ov.source, source_type):
                out.append((name, ov.source))
        return out

    def model(self, model_name: str) -> "ModelFeatureStore":
        """Per-model accessor (reference ``store.model(name)``)."""
        return ModelFeatureStore(self, self.models[model_name])

    # -- vector search (reference VectorIndexStore, feature_store.py:1733)

    def vector_index(self, model_name: str) -> "VectorIndexStore":
        """ANN search over a model's embedding output — the
        reference's ``store.vector_index(name).nearest_n_to(...)``
        surface. The model's ``output_source`` must be index-capable
        (``VectorIndexSource`` / ``IvfIndexSource`` /
        ``PqIndexSource`` / ``IvfPqIndexSource`` — anything with
        ``nearest_n``)."""
        model = self.models[model_name]
        view = model.output_view
        if view is None:
            raise ValueError(
                f"model {model_name!r} has no output_source"
            )
        src = view.materialized_source or view.source
        if not hasattr(src, "nearest_n"):
            raise ValueError(
                f"model {model_name!r} output source "
                f"{type(src).__name__} is not a vector index "
                "(needs nearest_n)"
            )
        emb = [
            f.name
            for f in view.features
            if f.dtype.name.startswith("embedding-")
        ]
        if len(emb) != 1:
            raise ValueError(
                f"need exactly one embedding feature to search, "
                f"got {emb}"
            )
        return VectorIndexStore(self, model, src, emb[0])


class VectorIndexStore:
    """``store.vector_index(model).nearest_n_to(entities, n)``.

    Entities carrying the embedding column search directly; entities
    carrying only keys first resolve the embedding through the
    model's predictor (``predict_over``) when one is exposed, else
    through a feature lookup on the output view — the reference's
    resolution order (``feature_store.py:1754-1798``)."""

    def __init__(self, store, model, source, embedding_col: str):
        self.store = store
        self.model = model
        self.source = source
        self.embedding_col = embedding_col

    def nearest_n_to(self, entities, n: int = 5, **kw) -> DataFrame:
        df = (
            entities
            if isinstance(entities, DataFrame)
            else self.store.spark.createDataFrame(entities)
        )
        view = self.model.output_view
        if self.embedding_col not in df.columns:
            if self.model.predictor is not None:
                df = self.store.predict_over(self.model.name, df)
                pred_col = f"{self.model.name}_prediction"
                if self.embedding_col not in df.columns:
                    df = df.withColumnRenamed(
                        pred_col, self.embedding_col
                    )
            else:
                df = self.store.features_for(
                    df,
                    [f"{view.name}:{self.embedding_col}"],
                )
        id_col = getattr(self.source, "id_col", None) or view.entities[0]
        vec_col = getattr(self.source, "vector_col", self.embedding_col)
        queries = df.select(
            F.col(view.entities[0]).alias(id_col),
            F.col(self.embedding_col).alias(vec_col),
        )
        return self.source.nearest_n(queries, n=n, **kw)

    def as_langchain_retriver(self, number_of_docs: int = 5):
        """LangChain retriever adapter (reference
        ``feature_store.py:1800``; the reference keeps the same
        typo). Import-gated — langchain is not in this container;
        the search surface it wraps is :meth:`nearest_n_to`."""
        try:
            from langchain_core.retrievers import (  # type: ignore
                BaseRetriever,
            )
        except ImportError as exc:  # pragma: no cover - no langchain
            raise ImportError(
                "langchain-core is required for as_langchain_retriver; "
                "use nearest_n_to(entities, n) directly otherwise"
            ) from exc
        store = self

        class _Retriever(BaseRetriever):  # pragma: no cover
            def _get_relevant_documents(self, query, **kwargs):
                from langchain_core.documents import Document

                rows = store.nearest_n_to(
                    query, n=number_of_docs
                ).collect()
                return [Document(page_content=str(r.asDict())) for r in rows]

        return _Retriever()


class ModelFeatureStore:
    """Thin per-model surface (reference ``ModelFeatureStore``):
    input resolution, batch inference, output-view access."""

    def __init__(self, store: ContractStore, model):
        self.store = store
        self.model = model

    def input_features(self) -> list[str]:
        return [r.identifier() for r in self.model.input_references]

    def features_for(self, entities: Any) -> DataFrame:
        """Just the model's input features for the given entities."""
        return self.store.features_for(entities, self.input_features())

    def predict_over(self, entities: Any) -> DataFrame:
        return self.store.predict_over(self.model.name, entities)

    def output_view_name(self) -> str | None:
        ov = self.model.output_view
        return ov.name if ov is not None else None


class PredictModelSource:
    """Computed batch source: reading a model's OUTPUT VIEW runs the
    model over its input view's current rows — predictions are
    computed at read time, never stale (reference
    ``PredictModelSource``, ``aligned/data_source/model_predictor.py:
    14-58``; wired store-wide by :meth:`ContractStore.
    predict_when_missing`, ``feature_store.py:335-352``).

    EXCEEDS the reference for models whose inputs span SEVERAL
    views: the reference's ``all_data`` raises there, but this
    engine already owns the cross-view join (``features_for``), so
    serving is the distinct union of the input views' entity keys
    fed through ``predict_over`` — which assembles each view's
    features and runs the predictor. The input views must agree on
    their entity key set (there is no principled row grain
    otherwise). Single-input models keep the reference's exact
    row-per-input-row grain."""

    def __init__(self, store: ContractStore, model_name: str):
        self.store = store
        self.model_name = model_name

    def job_group_key(self) -> str:
        return f"model_pred:{self.model_name}"

    def read(self, spark: SparkSession) -> DataFrame:
        model = self.store.models[self.model_name]
        names: list[str] = []
        for r in model.input_references:
            n = r.location.name
            if n not in names:
                names.append(n)
        if len(names) == 1:
            # reference grain: one prediction per input-view row
            view = self.store.views[names[0]]
            ents = (
                self.store.feature_view(names[0])
                .all()
                .select(*view.entities)
            )
            return self.store.predict_over(self.model_name, ents)
        key_sets = {
            tuple(sorted(self.store.views[n].entities)) for n in names
        }
        if len(key_sets) != 1:
            raise NotImplementedError(
                "PredictModelSource over several input views needs "
                "them to agree on entity keys; got "
                f"{sorted(key_sets)} across {names}"
            )
        keys = list(self.store.views[names[0]].entities)
        ents = None
        for n in names:
            e = self.store.feature_view(n).all().select(*keys)
            ents = e if ents is None else ents.unionByName(e)
        # distinct union: serve every entity ANY input view knows;
        # features_for left-joins, so a key absent from one view
        # predicts over that view's NULL features (the model's
        # missing-value policy applies, same as batch predict_over)
        return self.store.predict_over(
            self.model_name, ents.dropDuplicates(keys)
        )
