"""Spans around the calls into the engine's layers, recorded from outside.

``install(recorder)`` wraps the public functions the CLI path calls
(``session.get_spark``, ``recipe.load_recipe``, ``sources.tables
.load_corpus``, ``engine.Pipeline.apply``, the ``[global]`` pre-pass
operators, ``CurationResult.quit_requested``, ``sinks.write_outputs`` and
``SparkSession.stop``). The package is not modified: each wrapper replaces
a module attribute, and the CLI imports those attributes at call time.

Each wrapper opens a span ``(id, name, parent, start, end, attrs)`` and
sets the Spark job group to the span name, so the Spark event log can
attribute task metrics to the layer that submitted them. Lazy layers are
forced inside their span, so each span's wall covers its layer's work:

- ``sources.scan`` runs a noop write of the scanned frame;
- every pre-pass operator's output is checkpointed eagerly and counted;
- after ``engine.apply`` noop writes split the rest of the plan into the
  pre-pass survivors (``engine.survivors``), the survivors plus the
  engine's Arrow pre-projection (``functions.arrow``) and the full
  decision frame (``engine.decide``). The Arrow pass runs once before it
  is timed (``functions.arrow.warmup``), so the Python workers' start is
  not charged to whichever of the two Arrow passes comes first.

``session.get_spark`` gets the event-log options through ``extra_conf``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

# the dedup quality probe's span: its work is not the operator's
QUALITY = "trace.dedup_quality"
# spans whose work the plain CLI path does not do; the event-log counts
# of the CLI path leave them out
LADDER = (
    "sources.scan",
    "engine.survivors",
    "functions.arrow.warmup",
    "functions.arrow",
    "engine.decide",
    QUALITY,
)

OPERATORS = (
    ("datacurator_jl_spark.operators.dataframe_ops", "blocklist_filter", "blocklist"),
    ("datacurator_jl_spark.operators.boilerplate", "remove_boilerplate_lines", "boilerplate"),
    ("datacurator_jl_spark.operators.paragraph_dedup", "dedup_paragraphs", "paragraph_dedup"),
    ("datacurator_jl_spark.operators.dedup", "drop_near_dupes", "dedup"),
    ("datacurator_jl_spark.operators.sampling", "group_cap_sample", "domain_cap"),
)


class Recorder:
    """In-memory spans; ``dump`` writes them as JSON at the end."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.attrs: dict = {}

    @staticmethod
    def _set_group(name: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", name)
            sc.setLocalProperty("spark.job.description", name)

    @contextlib.contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.time() - self.t0,
            "end": None,
            "attrs": {},
        }
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s["end"] = time.time() - self.t0
            self.stack.pop()
            self._set_group(self.stack[-1]["name"] if self.stack else None)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"t0": self.t0, "spans": self.spans, "attrs": self.attrs, **extra}, fh)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _arrow_projection(df, pipeline):
    """The Arrow columns ``Pipeline.apply`` pre-projects for this recipe,
    chosen by the pipeline's own condition test."""
    from pyspark.sql import functions as F

    from datacurator_jl_spark import registry

    t = F.col(pipeline.spec.text_col)
    uses = pipeline._uses_condition_from
    if pipeline.arrow_stats:
        from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow

        df = df.withColumn("_pb_stats", token_stats_arrow(t))
    if uses(registry.REPSTATS_CONDITIONS):
        from datacurator_jl_spark.functions.rep_stats import rep_stats_arrow

        df = df.withColumn("_pb_rep", rep_stats_arrow(t))
    if uses(registry.CLASSIFIER_CONDITIONS):
        from datacurator_jl_spark.functions.classifier import linear_score

        df = df.withColumn("_pb_cls", F.struct(linear_score(t).alias("score")))
    if uses(registry.COMPRESSION_CONDITIONS):
        from datacurator_jl_spark.functions.compress import compression_ratio_arrow

        df = df.withColumn("_pb_comp", F.struct(compression_ratio_arrow(t).alias("ratio")))
    return df


def _components_quality(comps, near_dups: list[list[str]]) -> dict:
    """Largest near-dup component and the share of planted copies that
    share a component with their original."""
    from pyspark.sql import functions as F

    largest = comps.groupBy("comp").count().agg(F.max("count")).collect()[0][0] or 0
    if not near_dups:
        return {"largest_component": int(largest), "planted_recall": 0.0}
    comp = dict(comps.select("doc", "comp").toPandas().itertuples(index=False))
    hit = sum(
        1 for copy, orig in near_dups
        if copy in comp and comp[copy] is not None and comp[copy] == comp.get(orig)
    )
    return {"largest_component": int(largest), "planted_recall": hit / len(near_dups)}


def install(rec: Recorder, eventlog_dir: str, near_dups: list[list[str]]) -> None:
    import importlib

    from pyspark.sql import SparkSession

    from datacurator_jl_spark import engine, recipe, session, sinks
    from datacurator_jl_spark.operators import dedup
    from datacurator_jl_spark.sources import tables

    get_spark = session.get_spark

    @functools.wraps(get_spark)
    def traced_get_spark(*a, extra_conf=None, **kw):
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(eventlog_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            **(extra_conf or {}),
        }
        with rec.span("session.start"):
            return get_spark(*a, extra_conf=conf, **kw)

    session.get_spark = traced_get_spark

    load_corpus = tables.load_corpus

    @functools.wraps(load_corpus)
    def traced_load_corpus(*a, **kw):
        with rec.span("sources.scan"):
            df = load_corpus(*a, **kw)
            _noop(df)
            return df

    tables.load_corpus = traced_load_corpus

    for mod_name, fn_name, label in OPERATORS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)

        def traced_op(*a, _fn=fn, _label=label, **kw):
            with rec.span(f"operators.{_label}") as s:
                out = _fn(*a, **kw).localCheckpoint(eager=True)
                s["attrs"]["rows_out"] = out.count()
            return out

        setattr(mod, fn_name, functools.wraps(fn)(traced_op))

    near_dup_components = dedup.near_dup_components

    @functools.wraps(near_dup_components)
    def traced_components(*a, **kw):
        comps = near_dup_components(*a, **kw).localCheckpoint(eager=True)
        with rec.span(QUALITY):
            rec.attrs["dedup"] = _components_quality(comps, near_dups)
        return comps

    dedup.near_dup_components = traced_components

    apply = engine.Pipeline.apply

    @functools.wraps(apply)
    def traced_apply(self, df):
        with rec.span("engine.apply"):
            result = apply(self, df)
        with rec.span("engine.survivors"):
            survivors = result.df.select(*result.input_cols)
            _noop(survivors)
        arrow = _arrow_projection(survivors, self)
        with rec.span("functions.arrow.warmup"):
            _noop(arrow)
        with rec.span("functions.arrow"):
            _noop(arrow)
        with rec.span("engine.decide"):
            _noop(result.df)
        return result

    engine.Pipeline.apply = traced_apply

    for owner, attr, name in (
        (recipe, "load_recipe", "recipe.load"),
        (engine.CurationResult, "quit_requested", "engine.quit_gate"),
        (sinks, "write_outputs", "sinks.write"),
        (SparkSession, "stop", "session.stop"),
    ):
        _time_calls(rec, owner, attr, name)


def _time_calls(rec: Recorder, owner, attr: str, name: str) -> None:
    """Replace ``owner.attr`` with a wrapper that runs it in span ``name``."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*a, **kw):
        with rec.span(name):
            return fn(*a, **kw)

    setattr(owner, attr, traced)
