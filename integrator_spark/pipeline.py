"""The integration pipeline — the reference's end-to-end flow as one
composable API (SURVEY.md §3.1):

    ingest (typed source) → harmonize (rule tables, provenance)
    → validate (integrity assertions) → publish (partitioned parquet)

Each stage is a thin composition of the operators in ``operators/``;
the pipeline object only sequences them and carries the batch
metadata. A batch is published in one pass: ``validate`` builds the
integrity checks as count expressions, and ``publish`` counts them
with ``DataFrame.observe`` while the write runs, so neither the
validation report nor the published row count re-scans the batch or
re-reads the sink. Strict mode (``allow_unmapped=False``) must refuse
before anything is written, so it evaluates the same expressions in
one aggregate pre-pass. Nothing collects to the driver except the
(small) count row, so the same code runs unchanged at cluster scale —
publish writes are partitioned by the harmonized dimension, which is
what downstream partition-pruned readers slice on.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.harmonize import apply_rules, rules_frame, with_lineage

#: Observed name of the published-row count, beside the validation keys.
_N_ROWS = "n"


@dataclass
class PipelineResult:
    published_path: str
    n_published: int
    validation: dict[str, int]

    @property
    def is_valid(self) -> bool:
        return all(v == 0 for v in self.validation.values())


@dataclass
class IntegrationPipeline:
    """Rule-driven harmonization pipeline for one source column."""

    spark: SparkSession
    rules: list[tuple[str, str, str]]
    src_col: str
    batch_id: str
    key_cols: list[str] = field(default_factory=list)

    def harmonize(self, df: DataFrame) -> DataFrame:
        """Stage 2: lineage + broadcast rule application."""
        rules_df = rules_frame(self.spark, self.rules)
        return apply_rules(with_lineage(df, self.batch_id),
                           rules_df, self.src_col)

    def validate(self, harmonized: DataFrame) -> list[Column]:
        """Stage 3: integrity assertions on the harmonized output —
        unmapped source values and null keys are integration failures,
        not data to silently publish.

        Returns the checks as aggregate expressions, not a report: the
        row count (aliased ``n``) plus one ``count_if`` per check,
        aliased by check name. ``publish`` observes them during the
        write; strict mode evaluates them in one ``agg`` beforehand."""
        checks = {
            "unmapped_values": F.col("canonical") == "__unmapped__",
            "null_canonical": F.col("canonical").isNull(),
        }
        for kc in self.key_cols:
            checks[f"null_key_{kc}"] = F.col(kc).isNull()
        return [F.count(F.lit(1)).alias(_N_ROWS),
                *(F.count_if(cond).alias(name)
                  for name, cond in checks.items())]

    def publish(self, harmonized: DataFrame, path: str,
                counts: list[Column]) -> dict[str, int]:
        """Stage 4: partitioned parquet, sliceable by the harmonized
        dimension (the engine's analog of the cube publish). Returns
        ``counts`` as observed over the rows written.

        The batch is hash-repartitioned on ``canonical`` across every
        core first. All rows of one code land in one task, so the
        layout stays one file per code per batch, and the files are
        written by every core instead of by the one task a small input
        split gives. Files dominate the cost: without the native-hadoop
        library, the local file system forks ``chmod`` several times
        for each file and directory it creates. The trade-off on a
        cluster is that a very hot code is one task's work per batch.

        The observation sits after the repartition, in the write's
        result stage, so a retried upstream stage does not count its
        rows twice."""
        obs = Observation()
        n_tasks = self.spark.sparkContext.defaultParallelism
        (harmonized.repartition(n_tasks, "canonical")
         .observe(obs, *counts)
         .write.mode("overwrite")
         .partitionBy("canonical").parquet(path))
        return obs.get

    def run(self, df: DataFrame, sink_path: str,
            allow_unmapped: bool = True) -> PipelineResult:
        """Harmonize, validate and publish one batch in one pass over
        it: the validation report and ``n_published`` are the counts
        ``publish`` observed. With ``allow_unmapped=False`` a batch
        with unmapped rows raises ``ValueError`` before anything is
        written."""
        harmonized = self.harmonize(df)
        counts = self.validate(harmonized)
        if not allow_unmapped:
            unmapped = harmonized.agg(*counts).first()["unmapped_values"]
            if unmapped > 0:
                raise ValueError(
                    f"harmonization left {unmapped} rows "
                    f"unmapped in batch {self.batch_id}")
        observed = self.publish(harmonized, sink_path, counts)
        n = observed.pop(_N_ROWS)
        return PipelineResult(published_path=sink_path, n_published=n,
                              validation=observed)
