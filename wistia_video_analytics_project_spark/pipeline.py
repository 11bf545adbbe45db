"""The orchestrated pipeline DAG (SURVEY.md §3.1).

The reference's ``pl_wistia_main_pipeline`` is a declarative ADF DAG of 6
activities with success-edges (`wistia-Azure-Data-Factory-ETL-Pipeline.
json:5-509`): ingest-00 -> ingest-01 -> transform -> 3 parallel SQL
copies. Ours is the same topology as plain Python: named stages with
dependencies, run in declared order (a stage may depend only on stages
declared before it, so the declared order is a topological order).

Engine-level corrections over the reference (SURVEY.md §4.2):

- **One action per stage.** The reference interleaves ≥20 ``count()``/
  ``display()`` calls, each re-executing lineage. Here a stage's output
  is cached exactly when two or more stages depend on it, so shared
  lineage runs once.
- Failures stop dependents, independent branches still run —
  ADF's success-edge semantics.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .cache import track


@dataclass
class Stage:
    """One pipeline activity: reads upstream outputs from ``ctx``,
    returns its own output (a DataFrame or None for pure sinks)."""

    name: str
    fn: Callable[["PipelineContext"], DataFrame | None]
    depends_on: Sequence[str] = ()


@dataclass
class PipelineContext:
    spark: SparkSession
    run_ts: dt.datetime
    outputs: dict[str, DataFrame | None] = field(default_factory=dict)

    def __getitem__(self, stage_name: str) -> DataFrame:
        out = self.outputs[stage_name]
        assert out is not None, f"stage {stage_name} produced no DataFrame"
        return out


@dataclass
class StageResult:
    name: str
    status: str  # succeeded | failed | skipped
    error: str | None = None


class Pipeline:
    """Success-edge DAG runner (declared order, fail-fast per branch)."""

    def __init__(self, stages: Sequence[Stage]):
        names = {s.name for s in stages}
        declared: set[str] = set()
        for s in stages:
            if s.name in declared:
                raise ValueError(f"duplicate stage name {s.name!r}")
            for dep in s.depends_on:
                if dep not in names:
                    raise ValueError(f"stage {s.name} depends on unknown {dep!r}")
                if dep not in declared:
                    raise ValueError(
                        f"stage {s.name} depends on {dep!r}, which is not declared earlier"
                    )
            declared.add(s.name)
        self.stages = list(stages)
        consumers = Counter(dep for s in stages for dep in set(s.depends_on))
        self._shared = {name for name, n in consumers.items() if n >= 2}

    def run(
        self, spark: SparkSession, run_ts: dt.datetime | None = None
    ) -> tuple[PipelineContext, list[StageResult]]:
        ctx = PipelineContext(
            spark=spark,
            run_ts=run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
        )
        results: list[StageResult] = []
        failed: set[str] = set()
        for s in self.stages:
            if failed.intersection(s.depends_on):
                results.append(StageResult(s.name, "skipped"))
                failed.add(s.name)  # propagate downstream
                continue
            try:
                out = s.fn(ctx)
            except Exception as e:  # noqa: BLE001 — stage isolation by design
                results.append(StageResult(s.name, "failed", error=str(e)))
                failed.add(s.name)
                continue
            if out is not None and s.name in self._shared:
                out = track(out.cache())
            ctx.outputs[s.name] = out
            results.append(StageResult(s.name, "succeeded"))
        return ctx, results


def wistia_pipeline(
    raw_media: Callable[[PipelineContext], DataFrame],
    raw_visitors: Callable[[PipelineContext], DataFrame],
    sink: Callable[[str, DataFrame, PipelineContext], None],
) -> Pipeline:
    """The reference DAG shape: ingest -> transform -> 3 parallel loads.

    ``sink(table_name, df, ctx)`` is called for each star-schema table —
    wire it to ``sinks.write_parquet`` / ``sinks.jdbc_truncate_load``.
    """
    from .operators import model

    def t_dim_media(ctx: PipelineContext) -> DataFrame:
        return model.build_dim_media(ctx["ingest_media"], ctx.run_ts)

    def t_dim_visitor(ctx: PipelineContext) -> DataFrame:
        return model.build_dim_visitor(ctx["ingest_visitors"], ctx.run_ts)

    def t_fact(ctx: PipelineContext) -> DataFrame:
        return model.build_fact_engagement(ctx["ingest_visitors"], ctx.run_ts)

    def load(table: str, dep: str) -> Stage:
        return Stage(
            name=f"load_{table}",
            fn=lambda ctx, _t=table, _d=dep: sink(_t, ctx[_d], ctx),
            depends_on=(dep,),
        )

    return Pipeline(
        [
            Stage("ingest_media", raw_media),
            Stage("ingest_visitors", raw_visitors),  # feeds dim + fact: cached
            Stage("dim_media", t_dim_media, depends_on=("ingest_media",)),
            Stage("dim_visitor", t_dim_visitor, depends_on=("ingest_visitors",)),
            Stage("fact_engagement", t_fact, depends_on=("ingest_visitors",)),
            load("dim_media", "dim_media"),
            load("dim_visitor", "dim_visitor"),
            load("fact_engagement", "fact_engagement"),
        ]
    )
